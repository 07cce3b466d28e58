"""Per-stripe codec auto-selection.

Generalizes the reference writer's single knob — pyorc's
``dict_key_size_threshold`` (NDV/N ≤ threshold ⇒ dictionary,
/root/reference/write.py:55,61-65) — into a sampled, deterministic
min-encoded-bytes chooser (BASELINE.json north_star): per column we look at
NDV, the run-length/monotonicity structure (captured implicitly by actually
encoding with the adaptive RLE v2 frame encoder), and byte entropy (captured
by a sampled FSST/zlib trial), then pick the candidate with the fewest
encoded bytes. Selection is logged in the stripe row (``codec`` +
``compression`` columns) which is what decode dispatches on — the analog of
the reference's ``ColumnEncoding.kind`` dispatch
(tests/it/deserialize.rs:203-222).
"""

from __future__ import annotations

import numpy as np

from .codecs import deflate, fsst, rle_v2, strings, varint

# streams larger than this get a zlib trial; tiny streams aren't worth a header
ZLIB_MIN = 128
# strings: dictionary candidate is tried when NDV/N ≤ this (write.py:61 analog;
# the final choice is still by encoded bytes)
DICT_THRESHOLD = 0.5
# FSST trial sample size per stripe
FSST_SAMPLE = 1 << 15


def encode_ints(vals: np.ndarray) -> tuple[str, bytes, bytes]:
    """Pick 'rle_v2' (signed, incl. patched-base) vs 'for' (frame-of-reference:
    min subtracted, unsigned RLE v2, min as signed varint in extra).

    The FOR trial only runs when it can actually narrow the bit width:
    zigzag width of the raw values vs width of (max-min). Returns
    (codec, data, extra).
    """
    v = vals.astype(np.int64, copy=False)
    if len(v) == 0:
        return "rle_v2", rle_v2.encode(v, signed=True), b""
    lo, hi = int(v.min()), int(v.max())
    candidates: list[tuple[str, bytes, bytes]] = []
    if 0 < (hi - lo) < (1 << 62):
        reduced = (v - lo).astype(np.uint64)
        # scale extraction: µs timestamps are usually whole ms/s — dividing
        # by the GCD of the offsets shrinks every delta/direct width
        g = int(np.gcd.reduce(reduced)) if len(reduced) > 1 else 1
        if g > 1:
            enc = rle_v2.encode(reduced // np.uint64(g), signed=False)
            extra = varint.encode_signed(lo) + varint.encode_unsigned(g)
            candidates.append(("for_scale", enc, extra))
        zig_bits = max(abs(lo), abs(hi), 1).bit_length() + 1
        red_bits = max(hi - lo, 1).bit_length()
        if lo != 0 and zig_bits > red_bits + 1:
            candidates.append(("for", rle_v2.encode(reduced, signed=False),
                               varint.encode_signed(lo)))
    candidates.append(("rle_v2", rle_v2.encode(v, signed=True), b""))
    return min(candidates, key=lambda c: len(c[1]) + len(c[2]))


def decode_ints(codec: str, data: bytes, extra: bytes, n: int) -> np.ndarray:
    if codec == "for":
        lo, _ = varint.decode_signed(extra, 0)
        return (rle_v2.decode(data, n, signed=False).view(np.int64) + np.int64(lo))
    if codec == "for_scale":
        lo, pos = varint.decode_signed(extra, 0)
        g, _ = varint.decode_unsigned(extra, pos)
        scaled = rle_v2.decode(data, n, signed=False)
        return (scaled * np.uint64(g)).view(np.int64) + np.int64(lo)
    return rle_v2.decode(data, n, signed=True)


_POW10 = 10.0 ** np.arange(15)
_ALP_SAMPLE = 4096


def encode_floats(vals: np.ndarray) -> dict | None:
    """ALP-style float64 compression (from the public idea in Afroozeh &
    Boncz, "ALP: Adaptive Lossless floating-Point compression", VLDB 2023
    — independently implemented): decimal-like doubles are exactly
    round(v * 10^k) / 10^k, so store int64 mantissas through the int codec
    selector plus BIT-PATTERN exceptions for the values that aren't
    (NaN payloads, ±inf, -0.0, non-decimal doubles). One k per stripe,
    chosen on a sample; kept only when smaller than raw IEEE. Returns
    None when raw wins (caller falls back to float_raw)."""
    n = len(vals)
    if n == 0:
        return None
    v = np.ascontiguousarray(vals, dtype=np.float64)
    s = v[:_ALP_SAMPLE]
    with np.errstate(all="ignore"):
        scaled = s[:, None] * _POW10[None, :]
        ok = np.isfinite(scaled) & (np.abs(scaled) < 2.0**62)
        m = np.where(ok, np.round(scaled), 0.0)
        back = m / _POW10[None, :]
    exact = (ok & (back.view(np.uint64) == s.view(np.uint64)[:, None])
             & ~((s == 0) & np.signbit(s))[:, None])
    cov = exact.mean(axis=0)
    k = int(np.argmax(cov > 0.999999) if (cov > 0.999999).any()
            else np.argmax(cov))
    if cov[k] < 0.9:
        return None
    with np.errstate(all="ignore"):
        scaled = v * _POW10[k]
        ok = np.isfinite(scaled) & (np.abs(scaled) < 2.0**62)
        m = np.where(ok, np.round(scaled), 0.0)
        back = m / _POW10[k]
    # -0.0 passes the float round-trip check but an int64 mantissa of 0
    # decodes to +0.0 — keep negative zeros in the exception stream
    exact = (ok & (back.view(np.uint64) == v.view(np.uint64))
             & ~((v == 0) & np.signbit(v)))
    exc_idx = np.flatnonzero(~exact)
    if len(exc_idx) > n * 0.1:
        return None
    mant = m.astype(np.int64)
    mant[~exact] = 0
    codec, data, int_extra = encode_ints(mant)
    dict_data = (varint.encode_unsigned(len(exc_idx))
                 + rle_v2.encode(exc_idx.astype(np.uint64), signed=False)
                 + v[exc_idx].tobytes())
    extra = (varint.encode_unsigned(k)
             + varint.encode_unsigned(len(int_extra)) + int_extra)
    if len(data) + len(dict_data) + len(extra) >= 8 * n:
        return None
    return {"codec": f"alp:{codec}", "data": data, "dict_data": dict_data,
            "extra": extra}


def try_float_shuffle(vals: np.ndarray, kind: str) -> bytes | None:
    """Byte-plane shuffle (the public Blosc/BtrBlocks trick): transpose an
    f32/f64 array into per-byte planes so the generic zlib layer sees runs
    of exponent/top-mantissa bytes. Chosen only when the zlib'd shuffled
    layout beats the zlib'd raw layout by >2% (both beat nothing on truly
    random mantissas — the caller then keeps float_raw)."""
    n = len(vals)
    if n < 512:
        return None
    width = 4 if kind == "float32" else 8
    raw = np.ascontiguousarray(vals).view(np.uint8).reshape(n, width)
    shuf = raw.T.tobytes()
    c_shuf = deflate.compress(shuf)
    c_raw = deflate.compress(raw.tobytes())
    if len(c_shuf) < len(c_raw) * 0.98 and len(c_shuf) < n * width:
        return shuf
    return None


def decode_float_shuffle(data: bytes, n: int, kind: str) -> np.ndarray:
    width = 4 if kind == "float32" else 8
    planes = np.frombuffer(data, dtype=np.uint8,
                           count=n * width).reshape(width, n)
    out = np.ascontiguousarray(planes.T).view(
        np.float32 if kind == "float32" else np.float64).ravel()
    return out


def decode_floats_alp(codec: str, data: bytes, dict_data: bytes,
                      extra: bytes, n: int) -> np.ndarray:
    """Inverse of :func:`encode_floats` for ``alp:*`` codecs."""
    extra = bytes(extra)
    k, pos = varint.decode_unsigned(extra, 0)
    int_extra_len, pos = varint.decode_unsigned(extra, pos)
    int_extra = extra[pos:pos + int_extra_len]
    mant = decode_ints(codec.split(":", 1)[1], data, int_extra, n)
    out = mant / _POW10[k]
    dd = bytes(dict_data)
    n_exc, pos = varint.decode_unsigned(dd, 0)
    if n_exc:
        exc_idx = rle_v2.decode(dd[pos:], n_exc, signed=False)
        raw = np.frombuffer(dd, dtype="<f8", count=n_exc,
                            offset=len(dd) - 8 * n_exc)
        out[exc_idx.astype(np.int64)] = raw
    return out


def _fsst_trial(blob: bytes):
    """One symbol-table build on the full blob's sample + a sample-encode
    size estimate. The table is REUSED for the full encode when FSST wins
    (half the table-build cost per stripe)."""
    data = np.frombuffer(blob, dtype=np.uint8)
    table = fsst.build_table(data)
    sample = data[:FSST_SAMPLE]
    enc = fsst._greedy_encode(sample, table)
    header = len(table.serialize())
    ratio = len(enc) / max(len(sample), 1)
    return table, ratio * len(blob) + header


def encode_strings(values, force_codec: str | None = None) -> dict:
    """Pick str_direct / str_dict / str_fsst by (estimated) encoded bytes.

    ``force_codec`` pins the choice (test/ablation hook). Returns
    dict(codec, data, length, dict_data, extra, ndv).
    """
    blob, lengths = strings.encode_direct(values)
    len_stream = rle_v2.encode(lengths, signed=False)
    direct_size = len(blob) + len(len_stream)

    n = len(lengths)
    out = {"length": len_stream, "dict_data": b"", "extra": b"", "ndv": None}

    dict_parts = None
    dict_size = float("inf")
    if n and force_codec != "str_direct" and force_codec != "str_fsst":
        # the NDV decides first: a column past DICT_THRESHOLD is not sorted
        dblob, dlens, codes, ndv = strings.encode_dict(
            values, None if force_codec == "str_dict"
            else max(n * DICT_THRESHOLD, 1))
        out["ndv"] = ndv
        if dblob is not None:
            dlen_stream = rle_v2.encode(dlens, signed=False)
            code_stream = rle_v2.encode(codes, signed=False)
            dict_parts = (dblob, dlen_stream, code_stream)
            dict_size = len(dblob) + len(dlen_stream) + len(code_stream)

    if force_codec == "str_fsst":
        table, _ = _fsst_trial(blob)
        data = table.serialize() + fsst._greedy_encode(
            np.frombuffer(blob, dtype=np.uint8), table).tobytes()
        out.update(codec="str_fsst", data=data,
                   extra=varint.encode_unsigned(len(blob)))
        return out
    if force_codec == "str_dict" and dict_parts is not None:
        dblob, dlen_stream, code_stream = dict_parts
        out.update(codec="str_dict", data=code_stream, dict_data=dblob,
                   length=dlen_stream)
        return out
    if force_codec == "str_direct":
        out.update(codec="str_direct", data=blob)
        return out

    # FSST trial gate: only worth paying the symbol-table build when the
    # column is text-like — big blob AND dictionary is not already winning
    # big (dict on low-NDV columns reaches sizes FSST cannot touch)
    fsst_worthwhile = (len(blob) >= 4096
                       and dict_size > max(len(blob) * 0.30, 512))
    fsst_table = None
    fsst_size = float("inf")
    if fsst_worthwhile:
        fsst_table, fsst_size = _fsst_trial(blob)

    best = min(direct_size, dict_size, fsst_size)
    if best == fsst_size:
        data = fsst_table.serialize() + fsst._greedy_encode(
            np.frombuffer(blob, dtype=np.uint8), fsst_table).tobytes()
        # estimate can be off — fall back if the full encode didn't win
        if len(data) + len(len_stream) < min(direct_size, dict_size):
            out.update(codec="str_fsst", data=data,
                       extra=varint.encode_unsigned(len(blob)))
            return out
        best = min(direct_size, dict_size)
    if best == dict_size:
        dblob, dlen_stream, code_stream = dict_parts
        # dict layout: data=codes, dict_data=blob, length=dict-entry lengths
        out.update(codec="str_dict", data=code_stream, dict_data=dblob,
                   length=dlen_stream)
        return out
    out.update(codec="str_direct", data=blob)
    return out


def decode_strings(codec: str, data: bytes, length: bytes, dict_data: bytes,
                   extra: bytes, n: int, ndv):
    """Inverse of :func:`encode_strings`; returns a pyarrow Array."""
    if codec == "str_dict":
        dlens = rle_v2.decode(length, int(ndv), signed=False)
        codes = rle_v2.decode(data, n, signed=False)
        return strings.decode_dict(dict_data, dlens, codes)
    lengths = rle_v2.decode(length, n, signed=False)
    if codec == "str_fsst":
        blob_len, _ = varint.decode_unsigned(extra, 0)
        blob = fsst.decode(data, blob_len)
    else:
        blob = data
    return strings.decode_direct(blob, lengths)


def maybe_zlib(stream: bytes) -> tuple[str, bytes]:
    """Try the framed-zlib layer; keep it only if it shrinks the stream."""
    if len(stream) < ZLIB_MIN:
        return "none", stream
    comp = deflate.compress(stream)
    if len(comp) < len(stream):
        return "zlib", comp
    return "none", stream
