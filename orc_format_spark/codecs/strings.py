"""String codecs: DirectV2 (blob + lengths) and sorted DictionaryV2.

Parity targets (/root/reference):
  - direct: Data = concatenated UTF-8 bytes of non-null values, Length =
    unsigned RLE v2 of per-value byte lengths (tests/it/deserialize.rs:187-201)
  - dictionary: DictionaryData = concatenated SORTED dictionary blob,
    Length = dict-entry byte lengths (unsigned RLE v2), Data = unsigned
    RLE v2 codes into the dict (tests/it/deserialize.rs:142-185); pyorc
    writes sorted dictionaries, and dictionary_size lives in the column
    encoding (src/read/column.rs:63-67)

Vectorization: pyarrow large_utf8 arrays expose (offsets, data) buffers
directly, so blob/lengths extraction and reconstruction are zero-per-row.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def _to_arrow(values, binary: bool = False) -> pa.Array:
    target = pa.large_binary() if binary else pa.large_utf8()
    if isinstance(values, pa.Array):
        arr = values
    elif isinstance(values, pa.ChunkedArray):
        arr = values.combine_chunks()
    else:
        arr = pa.array(values, type=target)
    if arr.type != target:
        arr = arr.cast(target)
    return arr


def encode_direct(values, binary: bool = False) -> tuple[bytes, np.ndarray]:
    """Non-null strings/bytes -> (blob, uint64 byte lengths). ``binary``
    selects large_binary (no utf8 validation) — the ORC BINARY column's
    stream layout is identical to string DirectV2."""
    arr = _to_arrow(values, binary)
    if arr.null_count:
        arr = arr.drop_null()
    if len(arr) == 0:
        return b"", np.zeros(0, dtype=np.uint64)
    buffers = arr.buffers()  # [validity, offsets(int64), data]
    offsets = np.frombuffer(buffers[1], dtype=np.int64, count=len(arr) + 1,
                            offset=arr.offset * 8)
    data = buffers[2]
    blob = bytes(data)[offsets[0]:offsets[-1]] if data is not None else b""
    lengths = np.diff(offsets).astype(np.uint64)
    return blob, lengths


def decode_direct(blob: bytes, lengths: np.ndarray,
                  binary: bool = False) -> pa.Array:
    """(blob, lengths) -> large_utf8/large_binary Array (zero-per-row)."""
    n = len(lengths)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths.astype(np.int64), out=offsets[1:])
    return pa.Array.from_buffers(
        pa.large_binary() if binary else pa.large_utf8(), n,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(blob)],
    )


def encode_dict(values, max_ndv: float | None = None
                ) -> tuple[bytes, np.ndarray, np.ndarray, int]:
    """Non-null strings -> (sorted dict blob, dict lengths, codes, ndv).
    Values of more than ``max_ndv`` distinct strings skip the sort and the
    code remap: (None, None, None, ndv)."""
    arr = _to_arrow(values)
    if arr.null_count:
        arr = arr.drop_null()
    if len(arr) == 0:
        return b"", np.zeros(0, dtype=np.uint64), np.zeros(0, dtype=np.uint64), 0
    denc = arr.dictionary_encode()
    dictionary = denc.dictionary
    if max_ndv is not None and len(dictionary) > max_ndv:
        return None, None, None, len(dictionary)
    codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    # sort the dictionary (UTF-8 byte order == codepoint order)
    perm = pc.sort_indices(dictionary).to_numpy().astype(np.int64)
    sorted_dict = dictionary.take(pa.array(perm))
    inv = np.empty(len(perm), dtype=np.uint64)
    inv[perm] = np.arange(len(perm), dtype=np.uint64)
    sorted_codes = inv[codes]
    blob, dict_lengths = encode_direct(sorted_dict)
    return blob, dict_lengths, sorted_codes, len(perm)


def decode_dict(blob: bytes, dict_lengths: np.ndarray, codes: np.ndarray) -> pa.Array:
    """Gather dict entries by code (Arrow take — vectorized)."""
    dictionary = decode_direct(blob, dict_lengths)
    return dictionary.take(pa.array(codes.astype(np.int64)))
