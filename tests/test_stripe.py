"""Arrow-level stripe encode/decode over the reference's golden column
families (FIXTURES.md §B mirrors /root/reference/write.py:5-23,83-116 and
tests/it/main.rs:26-316). Nulls exercise the Present stream exactly like the
reference's validity model (tests/it/deserialize.rs:13-25).
"""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from orc_format_spark import stripe

rng = np.random.default_rng(42)


def arrow(values, kind: str, mask=None) -> pa.Array:
    return pa.array(values, type=stripe._default_arrow_type(kind), mask=mask)


def roundtrip(arr: pa.Array, kind: str):
    row = stripe.encode_column(arr, kind)
    return row, stripe.decode_column(row)


def assert_same(expected: pa.Array, got: pa.Array):
    assert len(expected) == len(got)
    assert got.is_null().equals(expected.is_null()), "null positions differ"
    assert got.equals(expected)


# --- reference write.py golden families (exact literals) --------------------

FAMILIES = [
    # (name, values, kind, expected codec predicate)
    ("float_nullable", [1.0, 2.0, None, 4.0, 5.0], "float32", {"float_raw"}),
    ("bool_nullable", [True, False, None, True, False], "bool", {"bool_rle"}),
    ("str_direct", ["a", "cccccc", None, "ddd", "ee"], "string", None),
    ("str_delta_plus", ["a", "bb", None, "ccc", "ddd"], "string", None),
    ("str_delta_minus", ["ddd", "cc", None, "bb", "a"], "string", None),
    ("str_short_repeat", ["aaaaa", "bbbbb", None, "ccccc", "ddddd"], "string", None),
    ("int_short_repeated", [5, 5, None, 5, 5], "int32", {"rle_v2", "for", "for_scale"}),
    ("int_neg_short_repeated", [-5, -5, None, -5, -5], "int32", {"rle_v2", "for", "for_scale"}),
    ("int_delta", [1, 2, None, 4, 5], "int32", {"rle_v2", "for", "for_scale"}),
    ("int_neg_delta", [5, 4, None, 2, 1], "int32", {"rle_v2", "for", "for_scale"}),
    ("int_direct", [1, 6, None, 3, 2], "int32", {"rle_v2", "for", "for_scale"}),
    ("int_neg_direct", [-1, -6, None, -3, -2], "int32", {"rle_v2", "for", "for_scale"}),
    ("bigint_direct", [1, 6, None, 3, 2], "int64", {"rle_v2", "for", "for_scale"}),
    ("bigint_neg_direct", [-1, -6, None, -3, -2], "int64", {"rle_v2", "for", "for_scale"}),
    ("bigint_other", [5, -5, 1, 5, 5], "int64", {"rle_v2"}),
    ("utf8_increase", ["a", "bb", "ccc", "dddd", "eeeee"], "string", None),
    ("utf8_decrease", ["eeeee", "dddd", "ccc", "bb", "a"], "string", None),
    ("long_bool", [True] * 32, "bool", {"bool_rle"}),
    ("string_long", ["abcd", "efgh"] * 32, "string", {"str_dict", "str_direct"}),
    ("string_dict", ["abc", "efgh"] * 32, "string", {"str_dict"}),
    ("string_long_long", ["abcd", "efgh"] * 5000, "string", {"str_dict"}),
]


@pytest.mark.parametrize("name,values,kind,codecs", FAMILIES,
                         ids=[f[0] for f in FAMILIES])
def test_reference_golden_family(name, values, kind, codecs):
    arr = arrow(values, kind)
    row, got = roundtrip(arr, kind)
    assert_same(arr, got)
    if codecs:
        assert row["codec"] in codecs, f"{name}: {row['codec']} not in {codecs}"
    if None in values:
        assert row["n_nulls"] == sum(v is None for v in values)
        assert len(row["present"]) > 0, "Present stream required with nulls"


def test_encode_column_rejects_non_arrow_input():
    with pytest.raises(TypeError, match="pyarrow"):
        stripe.encode_column(pd.Series([1, 2, 3]), "int64")
    with pytest.raises(TypeError, match="pyarrow"):
        stripe.encode_column(np.arange(3), "int64")


def test_f32_long_long():
    # write.py:112-116 — 10^6 random f32 values
    vals = rng.random(1_000_000).astype(np.float32)
    row, got = roundtrip(arrow(vals, "float32"), "float32")
    assert (got.to_numpy() == vals).all()


def test_timestamp_roundtrip_microsecond_precision():
    us = 1_735_689_600_000_000 + np.cumsum(rng.integers(1, 300, 5000)) * 1_000_000
    us[::577] += 7  # sub-second offsets must survive exactly
    ts = us.astype("datetime64[us]")
    row, got = roundtrip(arrow(ts, "timestamp"), "timestamp")
    assert (got.to_numpy() == ts).all()
    assert row["codec"] in ("rle_v2", "for", "for_scale")


def test_timestamp_with_nulls():
    us = (1_735_689_600_000_000 + np.arange(100) * 1_000_000).astype("datetime64[us]")
    arr = arrow(us, "timestamp", mask=np.arange(100) % 7 == 0)
    row, got = roundtrip(arr, "timestamp")
    assert got.is_null().equals(arr.is_null())
    assert got.drop_null().equals(arr.drop_null())


def test_all_null_column():
    row, got = roundtrip(arrow([None] * 100, "string"), "string")
    assert row["n_nulls"] == 100
    assert got.null_count == 100


def test_empty_stripe():
    tbl = pa.table({"a": arrow([], "int64"), "b": arrow([], "string")})
    rows = stripe.encode_stripe_arrow(tbl, {"a": "int64", "b": "string"}, "s", 0)
    dec = stripe.decode_stripe_arrow(rows, ["a", "b"], tbl.schema)
    assert dec.num_rows == 0 and dec.schema.names == ["a", "b"]


def test_checksum_changes_with_data():
    r1 = stripe.encode_column(arrow([1, 2, 3], "int64"), "int64")
    r2 = stripe.encode_column(arrow([1, 2, 4], "int64"), "int64")
    assert r1["checksum"] != r2["checksum"]


def test_deterministic_encode():
    vals = rng.integers(0, 100, 10_000)
    a = stripe.encode_column(arrow(vals, "int64"), "int64")
    b = stripe.encode_column(arrow(vals.copy(), "int64"), "int64")
    assert a["data"] == b["data"] and a["checksum"] == b["checksum"]


def test_compression_beats_zlib_of_raw_baseline():
    """Compressed-size bar (BASELINE.md): encoded bytes ≤ zlib(raw columns)."""
    import zlib
    n = 50_000
    turn_idx = np.arange(n, dtype=np.int32)
    role = rng.choice(["user", "assistant", "system", "tool"], n)
    ts = (1_735_689_600_000_000 + np.cumsum(rng.integers(1, 300, n))
          * 1_000_000).astype("datetime64[us]")
    kinds = {"turn_idx": "int32", "role": "string", "ts": "timestamp"}
    tbl = pa.table({c: arrow(v, kinds[c]) for c, v in
                    (("turn_idx", turn_idx), ("role", role), ("ts", ts))})
    rows = stripe.encode_stripe_arrow(tbl, kinds, "s", 0)
    ours = sum(r["enc_bytes"] for r in rows)
    baseline = (len(zlib.compress(turn_idx.tobytes(), 6))
                + len(zlib.compress("\x00".join(role).encode(), 6))
                + len(zlib.compress(ts.tobytes(), 6)))
    assert ours <= baseline, f"ours {ours} > zlib baseline {baseline}"
    dec = stripe.decode_stripe_arrow(rows, list(kinds), tbl.schema)
    assert pa.Table.from_batches([dec]).equals(tbl)
