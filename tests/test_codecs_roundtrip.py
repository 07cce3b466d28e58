"""Codec round-trip properties over seeded adversarial inputs (no Spark).

Mirrors the reference's cross-checked per-type deserializer contracts
(tests/it/deserialize.rs:27-222) plus the run/value cross-check property
(deserialize.rs:48-82) translated to encode→decode identity.
"""

import numpy as np
import pytest

from orc_format_spark.codecs import (boolean_rle, deflate, floats, fsst,
                                     rle_v2, strings)

rng = np.random.default_rng(42)

INT_CASES = [
    np.array([], dtype=np.int64),
    np.array([7], dtype=np.int64),
    np.array([0, 0], dtype=np.int64),
    np.array([5, 5, 5, 5, 5], dtype=np.int64),          # short repeat
    np.array([-5, -5, -5, -5, -5], dtype=np.int64),     # signed short repeat
    np.array([1, 2, 4, 5], dtype=np.int64),             # delta asc (write.py:14)
    np.array([5, 4, 2, 1], dtype=np.int64),             # delta desc (write.py:15)
    np.array([1, 6, 3, 2], dtype=np.int64),             # direct (write.py:16)
    np.array([-1, -6, -3, -2], dtype=np.int64),         # signed direct (write.py:17)
    np.array([5, -5, 1, 5, 5], dtype=np.int64),         # mixed sign (write.py:20)
    np.arange(100_000, dtype=np.int64),                 # delta width 0 across frames
    np.arange(100_000, 0, -1, dtype=np.int64),
    np.full(100_000, 123456789, dtype=np.int64),
    rng.integers(-1000, 1000, 10_000).astype(np.int64),
    rng.integers(0, 2**62, 4096).astype(np.int64),
    np.repeat(rng.integers(0, 50, 200), rng.integers(1, 40, 200)).astype(np.int64),
    np.cumsum(rng.integers(1, 300, 5000)).astype(np.int64) * 1_000_000,  # ts-like
    np.array([np.iinfo(np.int64).min, np.iinfo(np.int64).max, 0, -1, 1], dtype=np.int64),
    # patched-base bait: small values with sparse huge outliers
    np.where(rng.random(512) < 0.02, 2**45, rng.integers(0, 64, 512)).astype(np.int64),
    np.concatenate([np.zeros(500, np.int64), [2**40], np.zeros(20, np.int64)]),
]


@pytest.mark.parametrize("case", range(len(INT_CASES)))
def test_rle_v2_signed_roundtrip(case):
    v = INT_CASES[case]
    enc = rle_v2.encode(v, signed=True)
    assert (rle_v2.decode(enc, len(v), signed=True) == v).all()


@pytest.mark.parametrize("case", range(len(INT_CASES)))
def test_rle_v2_unsigned_roundtrip(case):
    v = INT_CASES[case]
    if len(v) and (v < 0).any():
        pytest.skip("negative values")
    u = v.astype(np.uint64)
    enc = rle_v2.encode(u, signed=False)
    assert (rle_v2.decode(enc, len(u), signed=False) == u).all()


def test_rle_v2_patched_base_is_emitted_and_smaller():
    v = np.where(rng.random(512) < 0.02, 2**45, rng.integers(0, 64, 512)).astype(np.int64)
    enc = rle_v2.encode(v, signed=True)
    assert enc[0] >> 6 == 0b10, "expected a PatchedBase run header"
    direct_floor = 2 + 512 * 48 // 8
    assert len(enc) < direct_floor / 4


def test_rle_v2_rejects_truncated():
    v = np.arange(100, dtype=np.int64)
    enc = rle_v2.encode(v)
    with pytest.raises(ValueError):
        rle_v2.decode(enc[:3], 100)
    # clean error, not a panic (reference decompress/mod.rs:122 would panic)


BOOL_CASES = [
    np.zeros(0, dtype=bool),
    np.ones(32, dtype=bool),                     # long_bool (write.py:83-89)
    np.zeros(1000, dtype=bool),
    rng.random(10_000) < 0.5,
    rng.random(997) < 0.03,
    np.array([True, False, True, False]),
]


@pytest.mark.parametrize("case", range(len(BOOL_CASES)))
def test_boolean_roundtrip(case):
    b = BOOL_CASES[case]
    enc = boolean_rle.encode_bools(b)
    assert (boolean_rle.decode_bools(enc, len(b)) == b).all()


def test_byte_rle_roundtrip():
    for data in [b"", b"a", b"aaab" * 100, b"x" * 1000,
                 bytes(rng.integers(0, 256, 5000).astype(np.uint8))]:
        out = boolean_rle.decode_bytes(boolean_rle.encode_bytes(data), len(data))
        assert out.tobytes() == data


STR_CASES = [
    [],
    [""],
    ["a", "cccccc", "ddd", "ee"],                 # str_direct family (write.py:8)
    ["a", "bb", "ccc", "ddd"],                    # delta+ lengths (write.py:9)
    ["ddd", "cc", "bb", "a"],                     # delta- lengths (write.py:10)
    ["aaaaa", "bbbbb", "ccccc", "ddddd"],         # short-repeat lengths (write.py:11)
    ["abcd", "efgh"] * 32,                        # dict candidate (write.py:97-103)
    ["abcd", "efgh"] * 5000,                      # 10^4 rows (write.py:105-110)
    ["héllo", "wörld", "→", "数据", ""] * 10,
    [f"s{i}" for i in range(1000)],               # all-distinct
]


@pytest.mark.parametrize("case", range(len(STR_CASES)))
def test_string_direct_roundtrip(case):
    vals = STR_CASES[case]
    blob, lens = strings.encode_direct(vals)
    assert strings.decode_direct(blob, lens).to_pylist() == vals


@pytest.mark.parametrize("case", range(len(STR_CASES)))
def test_string_dict_roundtrip(case):
    vals = STR_CASES[case]
    blob, dlens, codes, ndv = strings.encode_dict(vals)
    assert strings.decode_dict(blob, dlens, codes).to_pylist() == vals
    assert ndv == len(set(vals))


def test_dict_is_sorted():
    # pyorc writes sorted dictionaries (SURVEY.md §2.6/C6); ours must match
    blob, dlens, codes, _ = strings.encode_dict(["zebra", "apple", "mango", "apple"])
    entries = strings.decode_direct(blob, dlens).to_pylist()
    assert entries == sorted(entries) == ["apple", "mango", "zebra"]


def test_fsst_roundtrip():
    text = ("the quick brown fox jumps over the lazy dog. " * 200
            + "héllo wörld→ " * 50).encode()
    enc = fsst.encode(text)
    assert fsst.decode(enc, len(text)) == text
    assert len(enc) < len(text) // 2


def test_fsst_handles_255_bytes():
    t = bytes([255, 255, 255, 65, 255]) * 20 + b"normal text" * 5
    assert fsst.decode(fsst.encode(t), len(t)) == t


def test_fsst_empty_and_incompressible():
    assert fsst.decode(fsst.encode(b""), 0) == b""
    noise = bytes(rng.integers(0, 256, 4096).astype(np.uint8))
    assert fsst.decode(fsst.encode(noise), len(noise)) == noise


def test_deflate_tiny_blocks_cross_value_boundaries():
    # compression_block_size=32 stressor (reference write.py:62-64)
    raw = b"abcd" * 10_000
    assert deflate.decompress(deflate.compress(raw, block_size=32)) == raw


def test_deflate_incompressible_uses_original_escape():
    noise = bytes(rng.integers(0, 256, 1024).astype(np.uint8))
    framed = deflate.compress(noise, block_size=256)
    assert deflate.decompress(framed) == noise
    header = int.from_bytes(framed[:3], "little")
    assert header & 1 == 1, "incompressible chunk must be stored original"


def test_floats_bit_identity_including_nan_payloads():
    import struct
    vals = np.frombuffer(
        struct.pack("<5d", 1.0, -0.0, float("inf"), float("nan"), 2.5)
        + struct.pack("<Q", 0x7FF8DEADBEEF0001), dtype=np.float64)
    enc = floats.encode(vals)
    dec = floats.decode(enc, len(vals))
    assert dec.tobytes() == vals.tobytes()  # bit-identical incl. NaN payload


def test_alp_float_codec_bit_identity_and_fallback():
    """ALP-style float64 path (public ALP idea, VLDB 2023): decimal-like
    doubles ride int64 mantissas through the int selector with BIT-PATTERN
    exceptions (NaN payloads, ±inf, -0.0, non-decimal values); random
    doubles fall back to float_raw by size. Always bit-identical."""
    import numpy as np
    import pyarrow as pa
    from orc_format_spark import stripe

    rng = np.random.default_rng(11)
    nan_payload = np.frombuffer(np.uint64(0x7FF8DEAD00000001).tobytes(),
                                dtype=np.float64)[0]
    decimal2 = np.round(rng.uniform(-1000, 1000, 20000), 2)
    mixed = decimal2.copy()
    mixed[::97] = np.nan
    mixed[5::321] = np.float64(1) / 3
    mixed[7] = -0.0
    mixed[8] = nan_payload
    cases = {
        "decimal2": (decimal2, "alp:"),
        "mixed": (mixed, "alp:"),
        "integral": (rng.integers(-10**6, 10**6, 20000)
                     .astype(np.float64), "alp:"),
        # uniform [-1,1) has correlated sign/exponent bytes: the byte-plane
        # shuffle fallback wins over raw, but ALP must NOT trigger
        "random": (rng.uniform(-1, 1, 20000), "float_"),
    }
    for name, (v, want) in cases.items():
        row = stripe.encode_column(pa.array(v), "float64")
        assert row["codec"].startswith(want), (name, row["codec"])
        dec = np.asarray(stripe.decode_column(row), dtype=np.float64)
        assert (dec.view(np.uint64) == v.view(np.uint64)).all(), name
        if want == "alp:":
            assert row["enc_bytes"] < 8 * len(v) // 2, name
    # strided layout
    row = stripe.encode_column_strided(pa.array(decimal2), "float64",
                                       index_rows=4096)
    dec = np.asarray(stripe.decode_column(row), dtype=np.float64)
    assert (dec.view(np.uint64) == decimal2.view(np.uint64)).all()
    # nullable column through the full present-stream path
    withnulls = pa.array([1.25, None, -2.5, None, 3.75])
    row = stripe.encode_column(withnulls, "float64")
    got = stripe.decode_column(row)
    import pandas as pd
    got = pd.Series(got).tolist()
    assert got[0] == 1.25 and got[2] == -2.5 and got[4] == 3.75
    assert pd.isna(got[1]) and pd.isna(got[3])


def test_alp_list_float64_children():
    """ALP for array<double> children: a ``list:float64`` column's child is
    an ordinary float64 column, so decimal-like list doubles ride the
    child's ``alp:`` scaled-int mantissas with the child's own Present
    stream; null lists, null elements, -0.0 and NaN all survive; random
    children fall back off ALP; float32 children stay raw."""
    import math

    import numpy as np
    import pyarrow as pa
    from orc_format_spark import stripe

    def child(row):
        comp = row["compression"].split("|")[0]
        data = bytes(row["data"])
        return stripe._unpack_child_row(
            deflate.decompress(data) if comp == "zlib" else data,
            row["col_kind"][5:])

    rng = np.random.default_rng(5)
    vals = [list(np.round(rng.uniform(-100, 100, rng.integers(0, 6)), 2))
            for _ in range(3000)]
    vals[3] = None
    vals[7] = [1.25, None, -0.0]
    vals[11] = [float("nan")]
    arr = pa.array(vals, type=pa.list_(pa.float64()))

    def canon(x):
        if x is None:
            return None
        return [None if v is None
                else "nan" if math.isnan(v)
                else (v, math.copysign(1, v)) for v in x]

    exp = [canon(x) for x in arr.to_pylist()]
    row = stripe.encode_column(arr, "list:float64")
    assert row["codec"] == "list"
    crow = child(row)
    assert crow["codec"] == "alp:rle_v2"
    assert crow["n_nulls"] == 1 and crow["present"]
    dec = stripe._to_arrow_array(stripe._decode_column_parts(row),
                                 "list:float64", arr.type)
    assert [canon(x) for x in dec.to_pylist()] == exp
    srow = stripe.encode_column_strided(arr, "list:float64", index_rows=512)
    sdec = stripe._decode_arrow(srow, arr.type)
    assert [canon(x) for x in sdec.to_pylist()] == exp

    rnd = pa.array([list(rng.uniform(0, 1, 4)) for _ in range(500)],
                   type=pa.list_(pa.float64()))
    assert not child(stripe.encode_column(rnd, "list:float64"))[
        "codec"].startswith("alp:")
    f32 = pa.array([[1.5]], type=pa.list_(pa.float32()))
    assert child(stripe.encode_column(f32, "list:float32"))[
        "codec"] == "float_raw"


def test_float_shuffle_fallback():
    """Byte-plane shuffle (public Blosc/BtrBlocks trick) for floats that
    fail ALP: smooth/structured mantissas compress under the zlib layer;
    bit-identical both widths; truly incompressible bit patterns keep
    float_raw."""
    import numpy as np
    import pyarrow as pa
    from orc_format_spark import stripe

    t = np.linspace(0, 50, 40000)
    smooth = np.sin(t) * 3.7 + t * 0.001
    row = stripe.encode_column(pa.array(smooth), "float64")
    assert row["codec"] == "float_shuf" and row["compression"].startswith("zlib")
    dec = np.asarray(stripe.decode_column(row), dtype=np.float64)
    assert (dec.view(np.uint64) == smooth.view(np.uint64)).all()
    assert row["enc_bytes"] < 8 * len(smooth) * 0.8

    s32 = (np.sin(t) * 3.7).astype(np.float32)
    row32 = stripe.encode_column(pa.array(s32), "float32")
    assert row32["codec"] == "float_shuf"
    dec32 = np.asarray(stripe.decode_column(row32), dtype=np.float32)
    assert (dec32.view(np.uint32) == s32.view(np.uint32)).all()

    # full-entropy bit patterns: neither shuffle nor zlib help -> raw
    bits = np.random.default_rng(3).integers(0, 2**63, 4096, dtype=np.int64)
    noise = bits.view(np.float64)
    noise = np.where(np.isnan(noise), 1.0, noise)  # keep ALP ineligible only by entropy
    rown = stripe.encode_column(pa.array(noise), "float64")
    decn = np.asarray(stripe.decode_column(rown), dtype=np.float64)
    assert (decn.view(np.uint64) == noise.view(np.uint64)).all()


def test_rle_v1_unsigned_run_base_above_2_63():
    """RLE v1 unsigned RUN groups with a base >= 2^63: the arange fill must
    stay in 64-bit integer space (a Python-int base promotes int64 math to
    float64 and silently loses low bits)."""
    from orc_format_spark.codecs import rle_v1, varint
    base = 2**63 + 1
    buf = bytes([0]) + bytes([1]) + varint.encode_unsigned(base)  # 3 vals, delta +1
    got = rle_v1.decode(buf, 3, signed=False)
    assert got.dtype == np.uint64
    assert got.tolist() == [base, base + 1, base + 2]
    # and a descending run that wraps through the 2^63 boundary
    buf2 = bytes([0]) + bytes([0xFF]) + varint.encode_unsigned(2**63)  # delta -1
    got2 = rle_v1.decode(buf2, 3, signed=False)
    assert got2.tolist() == [2**63, 2**63 - 1, 2**63 - 2]


def test_rle_v1_literal_scan_is_bounded():
    """Many LITERALS groups in one stream: decode must not rescan the whole
    remaining buffer per group (O(n^2) byte scans on multi-MB v1 columns)."""
    import time
    from orc_format_spark.codecs import rle_v1, varint
    rng2 = np.random.default_rng(7)
    vals = rng2.integers(0, 2**40, 100_000).astype(np.uint64)
    parts = []
    for i in range(0, len(vals), 128):
        grp = vals[i:i + 128]
        parts.append(bytes([256 - len(grp)]))
        parts.append(varint.encode_unsigned_array(grp))
    buf = b"".join(parts)
    t0 = time.perf_counter()
    got = rle_v1.decode(buf, len(vals), signed=False)
    dt = time.perf_counter() - t0
    assert (got == vals).all()
    assert dt < 2.0, f"v1 literal decode too slow ({dt:.2f}s) — unbounded rescans?"


def test_varint_overflow_is_loud():
    """A varint encoding a value that needs >64 bits must raise, not wrap:
    an Apache-written decimal mantissa 2^63+5 (zigzag 2^64+10) used to
    silently decode as 5."""
    from orc_format_spark.codecs import varint
    v = (2**63 + 5) << 1  # zigzag of +(2^63+5); needs 65 bits
    parts = []
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            parts.append(b | 0x80)
        else:
            parts.append(b)
            break
    buf = bytes(parts)
    with pytest.raises(ValueError, match="overflows uint64"):
        varint.decode_unsigned_array(buf, 1)


def test_orc_reader_unknown_kind_message():
    """The _decode_column fallthrough names only genuinely unknown kinds
    (struct/list/map/union are all handled above it)."""
    from orc_format_spark import orc_reader
    orc_reader._KINDS.append("hyperloglog")
    try:
        typ = {"kind": len(orc_reader._KINDS) - 1, "scale": None,
               "precision": None}
        sf = {"encodings": {typ["kind"]: {"kind": 0}}, "streams": []}
        with pytest.raises(NotImplementedError, match="unknown ORC type kind"):
            orc_reader._decode_column(b"", sf, typ["kind"], typ, 5, 0, None)
    finally:
        orc_reader._KINDS.pop()
