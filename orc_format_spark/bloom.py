"""Per-stripe bloom filters for point-lookup pruning on high-cardinality
keys — the BloomFilter-stream analog (reference src/proto.rs:100-111, an
unused model there; load-bearing here).

A stripe's key column gets a small bloom over its distinct values; the
stripe's lineage row carries it, and a point lookup prunes every stripe
whose bloom misses — min/max stats only help sorted keys, blooms prune on
ANY key (conv_id is hash-bucketed, so every stripe spans the full
lexicographic range and min/max never prunes it).

Layout: version byte 0xB1, varint k, varint n_bits, bitset bytes
(little-endian bit order). The version byte pins the HASH SCHEME: blobs
from other versions (including pre-versioned blobs, whose first byte is a
small varint k < 0x80) are never probed — ``might_contain`` returns True
(no pruning) instead of risking false negatives from mismatched hashes.
Bump ``VERSION_BYTE`` whenever the hash family changes.
Hashing (vectorized — build is ONE C-side pass over all distinct values,
no per-value Python): h1 = pandas.util.hash_array (siphash-128/64 in C for
str/bytes, fixed key; xor-shift mix for int64), h2 = splitmix64(h1) in
numpy, probes ``(h1 + i*h2) & (n_bits-1)`` — Kirsch-Mitzenmacher double
hashing with wraparound uint64 arithmetic so a 1-element probe array on
the lookup side reproduces build-side indices exactly.
"""

from __future__ import annotations

import numpy as np

from .codecs import varint

DEFAULT_K = 6
BITS_PER_KEY = 12  # ~0.3% false-positive rate at k=6
# Hash-scheme version. 0xB1 has the varint continuation bit set, so it can
# never collide with a legacy blob's leading varint k (always < 0x80).
VERSION_BYTE = 0xB1


def _splitmix64(h: np.ndarray) -> np.ndarray:
    """Standard splitmix64 finalizer; derives h2 from h1 for double hashing."""
    h = h.astype(np.uint64, copy=True)
    h ^= h >> np.uint64(30)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(27)
    h *= np.uint64(0x94D049BB133111EB)
    h ^= h >> np.uint64(31)
    return h | np.uint64(1)  # odd step => full-cycle over pow2 table


def _canon_obj(value):
    """Canonical object for the siphash path (str/bytes pass through)."""
    if isinstance(value, (bytes, str)):
        return value
    return str(value).encode("utf-8")


def _hash_pairs(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) uint64 arrays for a numpy array of values — one C pass.

    Integer arrays take pandas' int64 path; everything else goes through
    the object path (siphash over utf-8/bytes). Build and probe both call
    this, so the split is self-consistent.
    """
    from pandas.util import hash_array
    if values.dtype.kind in "iu":
        h1 = hash_array(values.astype(np.int64, copy=False), categorize=False)
    else:
        if values.dtype != object:
            values = values.astype(object)
        h1 = hash_array(values, categorize=False)
    with np.errstate(over="ignore"):
        return h1.astype(np.uint64, copy=False), _splitmix64(h1)


def build(values, k: int = DEFAULT_K) -> bytes:
    """Bloom over the DISTINCT values of a stripe column. ``values`` is a
    numpy array, pyarrow array, or iterable; nulls are skipped.

    Duplicates are fine: everything is hashed in one C pass and the bitset
    is sized from the count of distinct *hashes* (cheap uint64 unique) —
    no object-array unique, no per-value Python in the common str/int case.
    """
    import pyarrow as pa
    if isinstance(values, (pa.Array, pa.ChunkedArray)):
        arr = values.drop_null()
        if pa.types.is_integer(arr.type):
            values = arr.to_numpy(zero_copy_only=False).astype(np.int64)
        else:
            values = arr.to_numpy(zero_copy_only=False)  # object of str/bytes
    elif not isinstance(values, np.ndarray):
        vals = [v for v in values if v is not None]
        if vals and all(isinstance(v, (int, np.integer))
                        and not isinstance(v, bool) for v in vals):
            # MUST take the same int64 hash path the probes dispatch ints
            # to — an object-array canon here would hash b"42" while the
            # probe hashes int64 42: a guaranteed FALSE NEGATIVE (silent
            # row loss under pruning)
            values = np.array(vals, dtype=np.int64)
        else:
            values = np.array(vals, dtype=object)
    if values.dtype.kind not in "iu":
        if values.dtype != object:
            values = values.astype(object)
        if len(values) and not all(
                isinstance(v, (str, bytes)) for v in values):
            values = np.array([_canon_obj(v) for v in values
                               if v is not None], dtype=object)
    if not len(values):
        n_bits = 256
        bits = np.zeros(n_bits, dtype=bool)
    else:
        h1, h2 = _hash_pairs(values)
        h1 = np.unique(h1)            # uint64 sort — sizes AND dedupes probes
        h2 = _splitmix64(h1)
        n_bits = 1 << max(int(np.ceil(np.log2(len(h1) * BITS_PER_KEY))), 8)
        bits = np.zeros(n_bits, dtype=bool)
        mask_bits = np.uint64(n_bits - 1)
        steps = np.arange(k, dtype=np.uint64)
        with np.errstate(over="ignore"):
            idx = (h1[:, None] + steps[None, :] * h2[:, None]) & mask_bits
        bits[idx.ravel()] = True
    return (bytes([VERSION_BYTE])
            + varint.encode_unsigned(k) + varint.encode_unsigned(n_bits)
            + np.packbits(bits, bitorder="little").tobytes())


def _hash_value(value) -> tuple[np.uint64, np.uint64]:
    """(h1, h2) for ONE probe value — shared by scalar and batch probes."""
    if isinstance(value, (int, np.integer)) and not isinstance(value, bool):
        arr = np.array([value], dtype=np.int64)
    else:
        arr = np.empty(1, dtype=object)
        arr[0] = _canon_obj(value)
    h1, h2 = _hash_pairs(arr)
    return h1[0], h2[0]


def might_contain_many(blobs, value) -> np.ndarray:
    """Vectorized :func:`might_contain` over a batch of blobs — a point
    lookup probes one bloom PER ACTIVE STRIPE on the driver (millions of
    stripes at 100 TB), so per-row Python header parses and whole-bitset
    unpacks don't fly. This hashes the target once, groups blobs by
    (k, n_bits, header_len) — in practice one group, since stripes share
    build parameters — and per group does ONE buffer concat + ONE 2-D
    fancy gather of just the k probe bytes per blob. Never unpacks a
    bitset; work per blob is O(k) bytes, not O(n_bits).

    Returns a boolean array aligned with ``blobs``; empty/legacy blobs
    keep the never-prune True, exactly like the scalar probe."""
    out = np.ones(len(blobs), dtype=bool)
    h1, h2 = _hash_value(value)
    groups: dict = {}
    for i, b in enumerate(blobs):
        if not b or b[0] != VERSION_BYTE:
            continue  # unknown scheme / missing: never prune
        k, pos = varint.decode_unsigned(b, 1)
        n_bits, pos = varint.decode_unsigned(b, pos)
        if len(b) < pos + (n_bits + 7) // 8:
            continue  # truncated/corrupt bitset: a gather would read the
            #           NEXT blob's bytes and could FALSELY prune (the
            #           scalar path raises here) — never prune instead
        g = groups.setdefault((k, n_bits, pos), ([], []))
        g[0].append(i)
        g[1].append(b)
    for (k, n_bits, pos), (idxs, bs) in groups.items():
        steps = np.arange(k, dtype=np.uint64)
        with np.errstate(over="ignore"):
            bit_idx = (h1 + steps * h2) & np.uint64(n_bits - 1)
        byte_off = (bit_idx >> np.uint64(3)).astype(np.int64) + pos
        bit_mask = np.uint8(1) << (bit_idx & np.uint64(7)).astype(np.uint8)
        buf = np.frombuffer(b"".join(bs), np.uint8)
        lens = np.fromiter((len(b) for b in bs), np.int64, count=len(bs))
        offs = np.concatenate(([0], np.cumsum(lens[:-1])))
        probe_bytes = buf[offs[:, None] + byte_off[None, :]]   # (rows, k)
        out[np.asarray(idxs)] = ((probe_bytes & bit_mask[None, :]) != 0) \
            .all(axis=1)
    return out


def might_contain(blob: bytes, value) -> bool:
    """False -> the value is DEFINITELY absent from the stripe's column."""
    if not blob:
        return True  # no bloom recorded: cannot prune
    if blob[0] != VERSION_BYTE:
        # Unknown/legacy hash scheme (e.g. old stripes in a resumed table):
        # probing with today's hashes would yield false NEGATIVES and drop
        # rows. Decline to prune instead.
        return True
    k, pos = varint.decode_unsigned(blob, 1)
    n_bits, pos = varint.decode_unsigned(blob, pos)
    if len(blob) < pos + (n_bits + 7) // 8:
        return True  # truncated/corrupt bitset: missing bits would read
        #              as 0 (numpy zero-pads) and could FALSELY prune
    bits = np.unpackbits(np.frombuffer(blob, np.uint8, offset=pos),
                         bitorder="little", count=n_bits)
    h1, h2 = _hash_value(value)
    mask_bits = np.uint64(n_bits - 1)
    steps = np.arange(k, dtype=np.uint64)
    with np.errstate(over="ignore"):
        idx = (h1 + steps * h2) & mask_bits
    return bool(bits[idx].all())
