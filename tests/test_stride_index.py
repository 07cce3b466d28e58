"""Row-group (stride) index: sub-stripe skipping — encode with per-stride
stats, decode only matching strides (the RowIndexEntry analog,
reference src/proto.rs:88-99)."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

from orc_format_spark import pipeline, stripe


def _col(values, dtype=None):
    return pa.array(values, type=dtype)


def test_strided_roundtrip_matches_plain_all_kinds():
    n = 1000
    rng = np.random.default_rng(5)
    cases = [
        ("int64", _col(rng.integers(-1e9, 1e9, n))),
        ("int64", _col(np.arange(n) * 3 + 7)),
        ("float64", _col(rng.standard_normal(n))),
        ("bool", _col(rng.integers(0, 2, n).astype(bool))),
        ("string", _col([f"doc-{i % 37}-{'x' * (i % 11)}" for i in range(n)])),
        ("timestamp", _col(pd.to_datetime("2024-01-01")
                           + pd.to_timedelta(rng.integers(0, 1e6, n), unit="s"),
                           pa.timestamp("us"))),
    ]
    for kind, arr in cases:
        plain = stripe.encode_column(arr, kind)
        strided = stripe.encode_column_strided(arr, kind, index_rows=128)
        assert stripe.decode_column(strided).equals(
            stripe.decode_column(plain)), kind


def test_strided_roundtrip_with_nulls_and_dict_fsst():
    n = 800
    texts = [None if i % 7 == 0 else f"value-{i % 5}" for i in range(n)]
    arr = pa.array(texts, type=pa.string())
    for force in ("str_dict", "str_direct", "str_fsst"):
        strided = stripe.encode_column_strided(arr, "string", 100, force_codec=force)
        got = stripe.decode_column(strided)
        assert got.to_pylist() == texts, force


def test_strided_array_float_roundtrip():
    n = 300
    rng = np.random.default_rng(2)
    vecs = [rng.standard_normal(8).astype(np.float32).tolist() for _ in range(n)]
    arr = pa.array(vecs, type=pa.list_(pa.float32()))
    strided = stripe.encode_column_strided(arr, "list:float32", 64)
    got = stripe.decode_column(strided)
    assert got.to_pylist() == arr.to_pylist()


def test_codec_ids_keep_their_persisted_positions():
    """Stride indexes persist each codec as its position in _CODEC_IDS:
    every id the encoder can still write keeps the slot it had when the
    per-type list codecs were retired, so tables on disk keep decoding."""
    pinned = {"rle_v2": 0, "for": 1, "for_scale": 2, "float_raw": 3,
              "bool_rle": 4, "str_direct": 5, "str_dict": 6, "str_fsst": 7,
              "bin_direct": 9, "alp:rle_v2": 30, "alp:for": 31,
              "alp:for_scale": 32, "float_shuf": 33, "list": 40}
    ints = ("rle_v2", "for", "for_scale")
    pinned.update({f"dec128:{a}:{b}": 19 + 3 * i + j
                   for i, a in enumerate(ints) for j, b in enumerate(ints)})
    assert {c: stripe._CODEC_IDS.index(c) for c in pinned} == pinned
    assert len(stripe._CODEC_IDS) == 41


def test_stride_skip_decodes_under_10_percent():
    """A narrow predicate on a sorted key decodes <10% of the stripe's
    values — the row-group skip contract."""
    n = 8192
    key = pa.array(np.arange(n, dtype=np.int64))
    text = pa.array([f"row-{i}" for i in range(n)])
    krow = stripe.encode_column_strided(key, "int64", 256)
    trow = stripe.encode_column_strided(text, "string", 256)
    lo, hi = 1000, 1100  # spans at most 2 strides of 256
    keep = stripe._strides_overlapping(krow, lo, hi)
    assert 1 <= len(keep) <= 2
    kv = stripe._decode_arrow(krow, pa.int64(), keep)
    tv = stripe._decode_arrow(trow, pa.string(), keep)
    assert len(kv) <= 512 < n * 0.10
    got = np.asarray(kv)
    assert got.min() <= lo and got.max() >= hi  # superset of the range
    mask = (got >= lo) & (got <= hi)
    assert mask.sum() == hi - lo + 1
    assert tv.to_pylist()[int(np.flatnonzero(mask)[0])] == f"row-{lo}"


def test_stride_skip_prunes_list_columns_too():
    """A ``list:`` column (array<tinyint>) is strided like every other
    kind: a stride_range decode returns the same kept strides of it as of
    the int key beside it, a superset of the input's matching rows."""
    n = 1000
    tbl = pa.table({
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "l": pa.array([[i % 100, None][: i % 3] if i % 5 else None
                       for i in range(n)], type=pa.list_(pa.int8())),
    })
    kinds = {"k": "int64", "l": stripe.spark_kind("array<tinyint>")}
    assert kinds["l"].startswith("list:")
    rows = stripe.encode_stripe_arrow(tbl, kinds, "s0", 0, index_rows=100)
    assert {r["codec"] for r in rows} == {"strided"}
    lo, hi = 250, 420
    got = pa.Table.from_batches([stripe.decode_stripe_arrow(
        rows, ["k", "l"], tbl.schema, stride_range=("k", lo, hi))])
    assert got.equals(tbl.slice(200, 300))  # strides 2, 3 and 4
    between = (pc.greater_equal(got["k"], lo), pc.less_equal(got["k"], hi))
    assert got.filter(pc.and_(*between)).equals(tbl.slice(lo, hi - lo + 1))


def test_stride_pruned_roundtrip_of_a_nested_table(spark):
    """roundtrip with a stride_range over a table with list columns (the
    map keys of rich tool_calls are array<array<string>>) returns every
    row of the input inside the range."""
    from orc_format_spark import transcripts
    rich = transcripts.enrich(transcripts.generate(spark, 40, seed=5))
    lo, hi = "conv-0000000003", "conv-0000000006"
    got = pipeline.roundtrip(rich, "conv_id", "turn_idx", stripe_rows=300,
                             n_buckets=4, index_rows=50,
                             stride_range=("conv_id", lo, hi))
    between = F.col("conv_id").between(lo, hi)

    def keyed(frame):
        return {(r["conv_id"], r["turn_idx"]): r.asDict(recursive=True)
                for r in frame.filter(between).collect()}

    exp = keyed(rich)
    assert exp and keyed(got) == exp


def test_stride_stats_roundtrip():
    arr = pa.array(np.arange(1000, dtype=np.int64) * 2)
    row = stripe.encode_column_strided(arr, "int64", 250)
    stats = stripe.stride_stats(row)
    assert len(stats) == 4
    assert [s["min_val"] for s in stats] == ["0", "500", "1000", "1500"]
    assert [int(s["max_val"]) for s in stats] == [498, 998, 1498, 1998]
    assert all(s["n_rows"] == 250 for s in stats)


def test_pipeline_stride_pruned_decode(spark, tmp_path):
    """End-to-end: encode_job with index_rows, decode_job with stripe AND
    stride pruning, exact residual filter — equals the plain filter."""
    # an event-style table keyed by a sortable int
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = str(tmp_path / "events")
    pipeline.encode_job(spark, events, out, key_col="event_id",
                        order_col=None, sort_keys=["event_id"],
                        stripe_rows=2048, index_rows=256)
    lo, hi = 3000, 3050
    got = (pipeline.decode_job(
        spark, out, columns=["event_id", "event_type", "value"],
        stripe_predicate=((F.col("key_max").cast("long") >= lo)
                          & (F.col("key_min").cast("long") <= hi)),
        stride_range=("event_id", lo, hi))
        .filter(F.col("event_id").between(lo, hi))
        .orderBy("event_id").toPandas())
    exp = (events.select("event_id", "event_type", "value")
           .filter(F.col("event_id").between(lo, hi))
           .orderBy("event_id").toPandas())
    pd.testing.assert_frame_equal(exp.reset_index(drop=True),
                                  got[exp.columns.tolist()].reset_index(drop=True),
                                  check_dtype=False)


# ---------------------------------------------------------------------------
# ORC-file row-group skipping (spark_read_orc stride pruning)
# ---------------------------------------------------------------------------


def _orc_stride_table(n=8000, seed=11):
    """Sorted key + every stream family that needs positional slicing:
    nullable values (PRESENT bits), booleans (bit DATA), strings (direct
    slab + LENGTH), floats (raw), timestamps (DATA+SECONDARY), and a
    nested list (child LENGTH/DATA + per-level PRESENT)."""
    rng = np.random.default_rng(seed)
    return pa.table({
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "v": pa.array([None if i % 7 == 0 else float(i) * 0.5
                       for i in range(n)]),
        "b": pa.array([None if i % 11 == 0 else bool(i % 3)
                       for i in range(n)]),
        "s": pa.array([f"row-{i}-{'x' * (i % 5)}" for i in range(n)]),
        "ts": pa.array(np.int64(1.7e15) + rng.integers(0, 10**10, n),
                       type=pa.timestamp("us")),
        "ls": pa.array([[i, i + 1][: i % 3] if i % 6 else None
                        for i in range(n)], type=pa.list_(pa.int64())),
    })


def test_spark_read_orc_row_group_skipping(spark, tmp_path):
    """A point/range predicate decodes ONLY the covering row-group range of
    surviving stripes — not the whole stripe — with exact values. Stride
    900 is deliberately not a multiple of 8, so sliced bit streams start
    mid-byte (RowIndexEntry bit offsets are load-bearing)."""
    from orc_format_spark import orc_reader, orc_writer
    t = _orc_stride_table()
    p = str(tmp_path / "strided.orc")
    # one stripe of 8000 rows, 9 groups of 900 (last 800)
    orc_writer.write_orc(t, p, stripe_rows=8000, row_index_stride=900)

    # range predicate inside groups 2..3: only 2 of 9 groups decoded
    got = orc_reader.spark_read_orc(
        spark, [p], predicate=("k", "between", (2000, 3000))).toPandas()
    assert len(got) == 1800, f"expected 2 groups x 900 rows, got {len(got)}"
    lo = 1800  # g0 = 2
    exp = t.slice(lo, 1800).to_pandas()
    got = got.sort_values("k", ignore_index=True)
    for c in t.column_names:
        e = exp[c].astype("datetime64[ns]") if c == "ts" else exp[c]
        pd.testing.assert_series_equal(got[c], e, check_names=False)

    # point lookup: a single group survives
    got1 = orc_reader.spark_read_orc(
        spark, [p], predicate=("k", "=", 4000)).toPandas()
    assert len(got1) == 900
    assert got1["k"].min() == 3600 and got1["k"].max() == 4499
    # exact residual-filter semantics on top
    row = got1[got1["k"] == 4000]
    assert len(row) == 1 and row["s"].iloc[0] == f"row-4000-{'x' * (4000 % 5)}"

    # no group can match: the stripe yields nothing at all
    got0 = orc_reader.spark_read_orc(
        spark, [p], predicate=("k", "=", 10**9)).toPandas()
    assert len(got0) == 0

    # projection composes with stride pruning
    got2 = orc_reader.spark_read_orc(
        spark, [p], columns=["s", "b"],
        predicate=("k", "between", (7300, 7400))).toPandas()
    # group 8 is the ragged last group: rows 7200..7999 = 800 rows
    assert list(got2.columns) == ["s", "b"] and len(got2) == 800


def test_spark_read_orc_stride_skip_last_group_and_multistripe(spark, tmp_path):
    """Range covering the ragged LAST group (800 rows), and a predicate
    spanning a stripe boundary across two stripes with different surviving
    group ranges."""
    from orc_format_spark import orc_reader, orc_writer
    t = _orc_stride_table()
    p = str(tmp_path / "strided2.orc")
    orc_writer.write_orc(t, p, stripe_rows=4000, row_index_stride=900)
    # stripes: [0..3999] (5 groups: 900x4+400), [4000..7999]
    got = orc_reader.spark_read_orc(
        spark, [p], predicate=("k", "between", (3900, 4100))).toPandas()
    got = got.sort_values("k", ignore_index=True)
    # stripe 1: last group only (rows 3600..3999); stripe 2: group 0
    assert got["k"].min() == 3600 and got["k"].max() == 4899
    assert len(got) == 400 + 900
    exp = t.slice(3600, 1300).to_pandas()
    for c in t.column_names:
        e = exp[c].astype("datetime64[ns]") if c == "ts" else exp[c]
        pd.testing.assert_series_equal(got[c], e, check_names=False)


def test_spark_read_orc_noncontiguous_group_runs(spark, tmp_path):
    """Two matching groups FAR apart decode as two independent runs — the
    span between them is never decoded (the r5 covering-range fallback
    would have returned 6300 rows here, not 1800)."""
    from orc_format_spark import orc_reader, orc_writer
    n = 8000
    t = _orc_stride_table(n)
    # marker column: hits only in group 1 (rows 900..1799) and group 7
    # (rows 6300..7199); everywhere else bounded < 100
    marker = np.where(
        ((np.arange(n) // 900) == 1) | ((np.arange(n) // 900) == 7),
        np.int64(5000), np.arange(n, dtype=np.int64) % 100)
    t = t.append_column("m", pa.array(marker))
    p = str(tmp_path / "gaps.orc")
    orc_writer.write_orc(t, p, stripe_rows=n, row_index_stride=900)

    got = orc_reader.spark_read_orc(
        spark, [p], predicate=("m", "=", 5000)).toPandas()
    assert len(got) == 1800, f"expected groups 1 and 7 only, got {len(got)}"
    got = got.sort_values("k", ignore_index=True)
    exp = pa.concat_tables([t.slice(900, 900), t.slice(6300, 900)]) \
        .to_pandas()
    for c in t.column_names:
        e = exp[c].astype("datetime64[ns]") if c == "ts" else exp[c]
        pd.testing.assert_series_equal(got[c], e, check_names=False)
    # exact residual filter on top still composes
    assert (got[got["m"] == 5000]["k"].tolist()
            == list(range(900, 1800)) + list(range(6300, 7200)))


@pytest.mark.parametrize("compression", ["zlib", "uncompressed"])
def test_spark_read_orc_foreign_row_index_falls_back(spark, tmp_path,
                                                     compression):
    """Apache-written files (pyarrow.orc == ORC C++) seek INTO runs via the
    auxiliary row-index positions (in-chunk offset, RLE pending counts);
    byte-slicing those files at the chunk offset decoded shifted values or
    overshot the run budget. A nonzero auxiliary position now disables
    group slicing (whole-stripe decode), so predicates over foreign files
    with multi-group stripes return exact rows instead of crashing."""
    import pyarrow.orc as po
    from orc_format_spark import orc_reader
    n = 50000
    t = pa.table({
        "v": pa.array(np.arange(n, dtype=np.int64)),
        "s": pa.array([f"row{i % 7}" for i in range(n)]),
    })
    p = str(tmp_path / f"foreign_{compression}.orc")
    po.write_table(t, p, stripe_size=64 * 1024 * 1024,
                   compression=compression, row_index_stride=10000)
    pred = orc_reader.spark_read_orc(
        spark, [p], predicate=("v", ">=", 25000)) \
        .where("v >= 25000 and v < 25010").orderBy("v").toPandas()
    assert pred["v"].tolist() == list(range(25000, 25010))
    assert pred["s"].tolist() == [f"row{i % 7}" for i in range(25000, 25010)]


def test_row_index_dictionary_strings_slice_and_interop(spark, tmp_path):
    """Low-NDV string columns keep DictionaryV2 under a row index (stripe-
    global dictionary post-pass): Apache C++ (pyarrow.orc) reads the file
    bit-identically, our predicate path slices ONLY the matching stride
    groups (dictionary streams stay whole), and the dictionary win beats
    the index overhead on low-NDV data."""
    import os

    import pyarrow.orc as po
    from orc_format_spark import orc_reader, orc_writer
    n = 9000
    t = pa.table({
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "s": pa.array([f"cat-{i % 7}" for i in range(n)]),
        "sn": pa.array([None if i % 5 == 0 else f"t{i % 3}"
                        for i in range(n)]),
        "u": pa.array([f"uniq-{i}" for i in range(n)]),   # stays direct
        "m": pa.array(np.where((np.arange(n) // 900) == 4, 5000,
                               np.arange(n) % 100).astype(np.int64)),
    })
    p = str(tmp_path / "dict_idx.orc")
    orc_writer.write_orc(t, p, stripe_rows=n, row_index_stride=900)

    # encoding assertions straight from the stripe footer
    ps, footer = orc_reader.read_tail(p)
    raw = open(p, "rb").read()
    si = footer["stripes"][0]
    off = si["offset"] + si["indexLength"] + si["dataLength"]
    sf = orc_reader._parse_stripe_footer(orc_reader._decompress(
        raw[off:off + si["footerLength"]], ps["compression"]))
    enc_by_name = {name: sf["encodings"][cid]["kind"]
                   for cid, name in zip(footer["types"][0]["subtypes"],
                                        footer["types"][0]["fieldNames"])}
    assert enc_by_name["s"] == 3 and enc_by_name["sn"] == 3  # DICTIONARY_V2
    assert enc_by_name["u"] == 2                             # DIRECT_V2

    got = po.read_table(p)                 # Apache C++ oracle
    assert got.cast(t.schema).equals(t)

    pred = orc_reader.spark_read_orc(
        spark, [p], predicate=("m", "=", 5000)).orderBy("k").toPandas()
    assert len(pred) == 900, "must decode only the matching stride group"
    assert pred["k"].tolist() == list(range(3600, 4500))
    assert pred["s"].tolist() == [f"cat-{i % 7}" for i in range(3600, 4500)]
    assert pred["sn"].tolist() == [None if i % 5 == 0 else f"t{i % 3}"
                                   for i in range(3600, 4500)]

    # structural win: the dict column ships ONE dictionary blob + rle
    # codes — its DATA stream is code-sized, not slab-sized
    from orc_format_spark.orc_reader import DATA, DICTIONARY_DATA
    s_cid = footer["types"][0]["subtypes"][
        footer["types"][0]["fieldNames"].index("s")]
    by_kind = {st["kind"]: st["length"] for st in sf["streams"]
               if st["column"] == s_cid}
    assert DICTIONARY_DATA in by_kind
    assert by_kind[DATA] < n, "rle codes must undercut the raw slab"
    assert os.path.getsize(p) > 0


def test_plan_stride_groups_missing_column_index_falls_back(tmp_path):
    """A foreign file can carry a ROW_INDEX for the predicate column but
    not for some OTHER data column (or with a different entry count); the
    planner must fall back to whole-stripe decode (return None) instead of
    crashing in the slicer with KeyError/IndexError (round-5 advice)."""
    import numpy as np
    import pyarrow as pa
    from orc_format_spark import orc_reader, orc_writer

    n = 4000
    t = pa.table({
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "v": pa.array(np.arange(n, dtype=np.int64) % 100),
    })
    p = str(tmp_path / "own.orc")
    orc_writer.write_orc(t, p, stripe_rows=n, row_index_stride=500,
                         compression="uncompressed")
    ps, footer = orc_reader.read_tail(p)
    raw = open(p, "rb").read()
    si = footer["stripes"][0]
    off = si["offset"] + si["indexLength"] + si["dataLength"]
    sf = orc_reader._parse_stripe_footer(orc_reader._decompress(
        raw[off:off + si["footerLength"]], ps["compression"]))
    stripe_buf = raw[si["offset"]:si["offset"] + si["indexLength"]
                     + si["dataLength"]]
    types = footer["types"]
    kcid = footer["types"][0]["subtypes"][footer["types"][0]["fieldNames"]
                                          .index("k")]
    vcid = footer["types"][0]["subtypes"][footer["types"][0]["fieldNames"]
                                          .index("v")]

    # sanity: the intact file plans a real slice for a selective predicate
    plan = orc_reader._plan_stride_groups(
        sf, stripe_buf, ps["compression"], types, kcid,
        ("k", "between", (600, 700)), 500, n)
    assert plan not in (None, "empty")

    # drop v's ROW_INDEX stream (simulating a foreign layout): rebuild the
    # stripe buffer and footer without it
    new_streams, new_parts, pos = [], [], 0
    for st in sf["streams"]:
        seg = stripe_buf[pos:pos + st["length"]]
        pos += st["length"]
        if st["kind"] == orc_reader.ROW_INDEX and st["column"] == vcid:
            continue
        new_streams.append(st)
        new_parts.append(seg)
    sf2 = {**sf, "streams": new_streams}
    buf2 = b"".join(new_parts)
    plan2 = orc_reader._plan_stride_groups(
        sf2, buf2, ps["compression"], types, kcid,
        ("k", "between", (600, 700)), 500, n)
    assert plan2 is None  # falls back, never crashes
