"""Nested column kinds: struct flattening (hidden Present leaf preserves
struct nullability), array<bigint>, array<string> — the reference's
Kind::Struct/List subtype model (src/proto.rs:184-203)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from orc_format_spark import pipeline


def _roundtrip(spark, df, key="id", stripe_rows=64):
    return pipeline.roundtrip(df, key, None, sort_keys=[key],
                              stripe_rows=stripe_rows)


def _persisted(spark, df, tmp_path):
    """decode_job of ``df`` encoded to a table: no caller schema, the
    nested columns re-nest to the schema the lineage recorded."""
    out = str(tmp_path / "t")
    pipeline.encode_job(spark, df, out, key_col="id", order_col=None,
                        sort_keys=["id"], stripe_rows=10)
    return pipeline.decode_job(spark, out)


def test_struct_roundtrip_with_null_structs(spark):
    df = spark.createDataFrame([
        (1, {"a": 10, "b": "x"}),
        (2, {"a": None, "b": "y"}),
        (3, None),
        (4, {"a": -7, "b": None}),
    ], schema="id long, s struct<a:long,b:string>")
    got = _roundtrip(spark, df).orderBy("id").collect()
    assert got == df.orderBy("id").collect()


def test_array_int_and_string_roundtrip(spark):
    df = spark.createDataFrame([
        (1, [1, 2, 3], ["p", "qq", ""]),
        (2, [], None),
        (3, None, ["z"]),
        (4, [-(10**12), 0, 10**12], ["unicode-é中", "ok"]),
    ], schema="id long, li array<bigint>, ls array<string>")
    got = _roundtrip(spark, df).orderBy("id").collect()
    assert got == df.orderBy("id").collect()


def test_two_structs_and_mixed(spark):
    df = spark.createDataFrame([
        (1, {"x": 1.5}, {"k": "a", "n": 3}, "plain"),
        (2, None, {"k": "b", "n": None}, "text"),
    ], schema=("id long, p struct<x:double>, "
               "q struct<k:string,n:long>, t string"))
    got = _roundtrip(spark, df).orderBy("id").collect()
    assert got == df.orderBy("id").collect()


def test_strided_lists(spark):
    rows = [(i, list(range(i % 5)), [f"w{j}" for j in range(i % 3)])
            for i in range(500)]
    df = spark.createDataFrame(rows, schema="id long, li array<bigint>, ls array<string>")
    got = (pipeline.roundtrip(df, "id", None, sort_keys=["id"],
                              stripe_rows=500, index_rows=100)
           .orderBy("id").collect())
    assert got == df.orderBy("id").collect()


def test_map_roundtrip(spark):
    df = spark.createDataFrame([
        (1, {"k1": "v1", "k2": "v2"}),
        (2, {}),
        (3, None),
    ], schema="id long, props map<string,string>")
    got = _roundtrip(spark, df).orderBy("id").collect()
    assert got == df.orderBy("id").collect()  # {} and None stay distinct


def test_null_array_elements_roundtrip_spark(spark):
    """Nulls inside array elements through the full Spark pipeline (was a
    loud error pre-r3; now a child Present stream)."""
    df = spark.createDataFrame([(1, ["a", None, "b"]), (2, None), (3, [])],
                               schema="id long, ls array<string>")
    got = {r["id"]: r["ls"] for r in _roundtrip(spark, df).collect()}
    assert got == {1: ["a", None, "b"], 2: None, 3: []}


def _child_row(row):
    """The list row's child column row, unpacked from its Data stream."""
    from orc_format_spark import stripe
    from orc_format_spark.codecs import deflate
    data = bytes(row["data"])
    if row["compression"].split("|")[0] == "zlib":
        data = deflate.decompress(data)
    return stripe._unpack_child_row(data, row["col_kind"][5:])


def test_null_elements_inside_arrays_roundtrip():
    """Child Present stream: nulls INSIDE list columns (list-level nulls,
    empty lists, and all-null lists mixed) survive encode->decode; the
    child row counts them."""
    import pyarrow as pa
    from orc_format_spark import stripe
    cases = [
        (pa.array([[1, 2, None], [4], None, [None, None], []],
                  type=pa.list_(pa.int64())), "array<bigint>", 3),
        (pa.array([["a", None, "b"], None, ["c"], [], [None]],
                  type=pa.list_(pa.string())), "array<string>", 2),
        (pa.array([[1.5, None], [2.25], None], type=pa.list_(pa.float64())),
         "array<double>", 1),
        (pa.array([[None, 1.0], [3.0]], type=pa.list_(pa.float32())),
         "array<float>", 1),
    ]
    for arr, spark_type, child_nulls in cases:
        kind = stripe.spark_kind(spark_type)
        assert kind == "list:" + stripe.spark_kind(spark_type[6:-1])
        row = stripe.encode_column(arr, kind)
        assert _child_row(row)["n_nulls"] == child_nulls, kind
        dec = stripe._to_arrow_array(stripe._decode_column_parts(row),
                                     kind, arr.type)
        assert dec.equals(arr), (kind, dec.to_pylist(), arr.to_pylist())
    # strided variant
    arr = pa.array([[i, None] if i % 3 == 0 else [i] for i in range(100)],
                   type=pa.list_(pa.int64()))
    row = stripe.encode_column_strided(arr, "list:int64", index_rows=16)
    assert stripe._decode_arrow(row, arr.type).equals(arr)


def test_no_null_elements_keeps_plain_codec():
    """Lists without element nulls must NOT pay the child Present stream."""
    import pyarrow as pa
    from orc_format_spark import stripe
    arr = pa.array([[1, 2], [3]], type=pa.list_(pa.int64()))
    crow = _child_row(stripe.encode_column(arr, "list:int64"))
    assert crow["n_nulls"] == 0 and crow["present"] == b""


def test_retired_array_kinds_raise_a_reencode_error():
    """A stripe row of a per-type array kind (written before every array
    became ``list:``), or a ``list:`` row whose child is one, names its
    kind and stripe and asks for a re-encode."""
    import pyarrow as pa
    from orc_format_spark import stripe
    row = stripe.encode_column(pa.array([[1.5], None]),
                               "list:float64")
    for kind in ("array_float64", "list:array_string"):
        old = dict(row, col_kind=kind, stripe_id="b3-s0", bucket=3,
                   col_name="c")
        with pytest.raises(ValueError, match=(
                rf"stripe b3-s0: column kind '{kind}' was written by an "
                r"older engine — re-encode the table")):
            stripe.decode_stripe_arrow(
                [old], ["c"], pa.schema([("c", pa.list_(pa.float64()))]))
        with pytest.raises(ValueError, match="re-encode the table"):
            stripe.decode_column(old)


def test_decimal38_roundtrip_spark(spark):
    """decimal(38,10) through the full Spark encode->decode pipeline: every
    mantissa > int64 max (dec128 word-stream codec)."""
    from pyspark.sql import functions as F
    from orc_format_spark import pipeline
    df = (spark.range(1, 2001)
          .select(F.col("id"),
                  (F.col("id") * F.lit(1_000_000_000))
                  .cast("decimal(38,10)").alias("big"),
                  F.when(F.col("id") % 7 == 0, None)
                  .otherwise((-F.col("id")).cast("decimal(38,10)"))
                  .alias("neg")))
    dec = pipeline.roundtrip(df, "id", None, sort_keys=["id"],
                             stripe_rows=500)
    a = df.exceptAll(dec.select(df.columns)).count()
    b = dec.select(df.columns).exceptAll(df).count()
    assert a == 0 and b == 0


def test_deep_struct_nesting_roundtrip(spark):
    """Structs nested 3 levels deep (with nulls at every level) through the
    flatten path — was a loud error pre-r3."""
    schema = ("id long, a struct<x: bigint, b: struct<y: string, "
              "c: struct<z: double>>, m: map<string, bigint>>")
    rows = [
        (1, {"x": 10, "b": {"y": "hi", "c": {"z": 1.5}}, "m": {"k": 7}}),
        (2, {"x": None, "b": {"y": None, "c": None}, "m": {}}),
        (3, {"x": 30, "b": None, "m": None}),
        (4, None),
    ]
    df = spark.createDataFrame(rows, schema=schema)
    got = {r["id"]: r["a"] for r in _roundtrip(spark, df).collect()}
    exp = {r["id"]: r["a"] for r in df.collect()}
    assert got == exp


def test_deep_struct_schema_free_decode(spark, tmp_path):
    """Persisted deep-struct table decodes WITHOUT a caller schema: the
    `a·b·c` leaves re-nest to the schema the lineage recorded."""
    schema = "id long, a struct<x: bigint, b: struct<y: string>>"
    rows = [(1, {"x": 1, "b": {"y": "q"}}), (2, {"x": 2, "b": None})]
    df = spark.createDataFrame(rows, schema=schema)
    dec = _persisted(spark, df, tmp_path)  # no schema, no columns
    got = {r["id"]: r.asDict(recursive=True)["a"] for r in dec.collect()}
    assert got == {1: {"x": 1, "b": {"y": "q"}}, 2: {"x": 2, "b": None}}


def test_array_of_struct_roundtrip(spark, tmp_path):
    """array<struct<...>> — the transcripts/tool-calls shape — flattened to
    parallel leaf arrays + an element-present array<boolean> leaf; nulls at
    the list level, element level, and field level all survive."""
    schema = ("id long, msgs array<struct<role: string, n_tok: bigint, "
              "score: double, flag: boolean>>")
    rows = [
        (1, [{"role": "user", "n_tok": 5, "score": 0.5, "flag": True},
             {"role": None, "n_tok": None, "score": 1.5, "flag": False}]),
        (2, []),
        (3, None),
        (4, [None, {"role": "tool", "n_tok": 9, "score": None,
                    "flag": None}]),
    ]
    df = spark.createDataFrame(rows, schema=schema)
    exp = {r["id"]: r.asDict(recursive=True)["msgs"] for r in df.collect()}
    dec = _roundtrip(spark, df, stripe_rows=10)
    got = {r["id"]: r.asDict(recursive=True)["msgs"] for r in dec.collect()}
    assert got == exp
    # persisted: re-nested to the recorded schema
    dec2 = _persisted(spark, df, tmp_path)
    got2 = {r["id"]: r.asDict(recursive=True)["msgs"] for r in dec2.collect()}
    assert got2 == exp


def test_array_of_struct_with_nested_struct_roundtrip(spark, tmp_path):
    """The OpenAI-style tool_calls shape: array<struct<id, fn:struct<name,
    args>>>. The nested struct field rides per-element present leaves at
    every level; nulls at list / element / inner-struct / field level all
    survive."""
    schema = ("id long, tc array<struct<cid: string, "
              "fn: struct<name: string, args: string, n: bigint>>>")
    rows = [
        (1, [{"cid": "a", "fn": {"name": "srch", "args": "{}", "n": 3}},
             {"cid": "b", "fn": None}]),
        (2, [{"cid": None, "fn": {"name": None, "args": "x", "n": None}},
             None]),
        (3, []),
        (4, None),
    ]
    df = spark.createDataFrame(rows, schema=schema)
    exp = {r["id"]: r.asDict(recursive=True)["tc"] for r in df.collect()}
    dec = _roundtrip(spark, df, stripe_rows=10)
    got = {r["id"]: r.asDict(recursive=True)["tc"] for r in dec.collect()}
    assert got == exp
    dec2 = _persisted(spark, df, tmp_path)  # recorded-schema re-nest
    got2 = {r["id"]: r.asDict(recursive=True)["tc"] for r in dec2.collect()}
    assert got2 == exp


def test_map_of_struct_roundtrip(spark, tmp_path):
    """map<string, struct<...>>: the values leaf is array<struct> and rides
    that machinery (keys list + per-field parallel leaves + value-present)."""
    schema = "id long, m map<string, struct<x: bigint, s: string>>"
    rows = [
        (1, {"k1": {"x": 1, "s": "a"}, "k2": {"x": None, "s": None}}),
        (2, {"k3": None}),
        (3, {}),
        (4, None),
    ]
    df = spark.createDataFrame(rows, schema=schema)
    exp = {r["id"]: r.asDict(recursive=True)["m"] for r in df.collect()}
    dec = _roundtrip(spark, df, stripe_rows=10)
    got = {r["id"]: r.asDict(recursive=True)["m"] for r in dec.collect()}
    assert got == exp
    dec2 = _persisted(spark, df, tmp_path)
    got2 = {r["id"]: r.asDict(recursive=True)["m"] for r in dec2.collect()}
    assert got2 == exp


def test_nested_list_columns_roundtrip(spark, tmp_path):
    """Recursive list: kinds — array<array<T>> at any depth, plain or as a
    field inside array<struct> elements; nulls at every level survive."""
    schema = ("id long, aa array<array<bigint>>, "
              "aas array<array<string>>, "
              "tc array<struct<name: string, grams: array<double>>>")
    rows = [
        (1, [[1, 2], [], None, [None, 3]], [["a", None], []],
            [{"name": "n1", "grams": [0.5, None]}, {"name": None,
                                                    "grams": None}]),
        (2, [], [None], []),
        (3, None, None, None),
    ]
    df = spark.createDataFrame(rows, schema=schema)
    exp = {r["id"]: r.asDict(recursive=True) for r in df.collect()}
    for dec in (_roundtrip(spark, df, stripe_rows=10),
                _persisted(spark, df, tmp_path)):  # persisted too
        got = {r["id"]: r.asDict(recursive=True) for r in dec.collect()}
        assert got == exp


def test_map_inside_array_element_roundtrip(spark, tmp_path):
    """The REAL tool-call args shape: array<struct<name, args:
    map<string,string>>> — the per-element map flattens to keys/values
    array<array<string>> leaves (recursive list: kinds)."""
    schema = ("id long, tc array<struct<name: string, "
              "args: map<string, string>>>")
    rows = [
        (1, [{"name": "srch", "args": {"q": "x", "k": "5"}},
             {"name": "run", "args": {}},
             {"name": "noargs", "args": None}, None]),
        (2, []),
        (3, None),
    ]
    df = spark.createDataFrame(rows, schema=schema)
    exp = {r["id"]: r.asDict(recursive=True)["tc"] for r in df.collect()}
    for dec in (_roundtrip(spark, df, stripe_rows=10),
                _persisted(spark, df, tmp_path)):
        got = {r["id"]: r.asDict(recursive=True)["tc"] for r in dec.collect()}
        assert got == exp


def test_array_of_struct_inside_array_element_roundtrip(spark, tmp_path):
    """array<struct<v: array<struct<...>>>> — nested tool-RESULT lists —
    flattens by transform composition (leaves are array<array<...>>
    recursive list: kinds); nulls at every level survive."""
    schema = ("id long, a array<struct<tag: string, "
              "v: array<struct<x: bigint, s: string>>>>")
    rows = [
        (1, [{"tag": "t1", "v": [{"x": 1, "s": "a"},
                                 {"x": None, "s": None}]},
             {"tag": None, "v": []},
             {"tag": "t3", "v": None},
             None]),
        (2, []),
        (3, None),
        (4, [{"tag": "t4", "v": [None, {"x": 9, "s": "z"}]}]),
    ]
    df = spark.createDataFrame(rows, schema=schema)
    exp = {r["id"]: r.asDict(recursive=True)["a"] for r in df.collect()}
    for dec in (_roundtrip(spark, df, stripe_rows=10),
                _persisted(spark, df, tmp_path)):  # persisted too
        got = {r["id"]: r.asDict(recursive=True)["a"] for r in dec.collect()}
        assert got == exp


def test_array_of_map_roundtrip(spark, tmp_path):
    """array<map<string,bigint>> — per-element keys/values leaves plus the
    __elems__ element-present leaf (a null map element stays distinct
    from an empty one); also nested INSIDE an array<struct> element."""
    schema = ("id long, am array<map<string, bigint>>, "
              "tc array<struct<name: string, ms: array<map<string, "
              "string>>>>")
    rows = [
        (1, [{"k": 1}, {}, None], [{"name": "n", "ms": [{"a": "b"}, {}]}]),
        (2, [], [{"name": None, "ms": None}, None]),
        (3, None, None),
    ]
    df = spark.createDataFrame(rows, schema=schema)
    exp = {r["id"]: r.asDict(recursive=True) for r in df.collect()}
    for dec in (_roundtrip(spark, df, stripe_rows=10),
                _persisted(spark, df, tmp_path)):
        got = {r["id"]: r.asDict(recursive=True) for r in dec.collect()}
        assert got == exp


def test_struct_below_consecutive_arrays_roundtrip(spark, tmp_path):
    """array<array<struct>> / array<array<map>>: the anonymous __item__
    segment names each inner array level — structs/maps under ANY number
    of consecutive array levels now encode; nulls at every level."""
    schema = ("id long, a array<array<struct<x: bigint, s: string>>>, "
              "m array<array<map<string, bigint>>>")
    rows = [
        (1, [[{"x": 1, "s": "a"}, None], [], None],
            [[{"k": 1}, None], None, []]),
        (2, [], []),
        (3, None, None),
        (4, [[{"x": None, "s": None}]], [[{}]]),
    ]
    df = spark.createDataFrame(rows, schema=schema)
    exp = {r["id"]: r.asDict(recursive=True) for r in df.collect()}
    for dec in (_roundtrip(spark, df, stripe_rows=10),
                _persisted(spark, df, tmp_path)):  # persisted too
        got = {r["id"]: r.asDict(recursive=True) for r in dec.collect()}
        assert got == exp


def test_array_of_timestamp_and_date_roundtrip(spark, tmp_path):
    """array<timestamp> / array<date> leaves: children ride the int codecs
    as epoch µs / days — including as fields INSIDE array<struct> (the
    tool-call started_at shape)."""
    import datetime as dt
    t0 = dt.datetime(2026, 1, 2, 3, 4, 5, 123456)
    d0 = dt.date(2026, 1, 2)
    schema = ("id long, ts array<timestamp>, ds array<date>, "
              "tc array<struct<name: string, at: timestamp>>")
    rows = [
        (1, [t0, t0 + dt.timedelta(seconds=7), None],
            [d0, None, d0 + dt.timedelta(days=3)],
            [{"name": "srch", "at": t0}, {"name": "run", "at": None}]),
        (2, [], [], []),
        (3, None, None, None),
    ]
    df = spark.createDataFrame(rows, schema=schema)
    exp = {r["id"]: r.asDict(recursive=True) for r in df.collect()}
    for dec in (_roundtrip(spark, df, stripe_rows=10),
                _persisted(spark, df, tmp_path)):  # persisted too
        got = {r["id"]: r.asDict(recursive=True) for r in dec.collect()}
        assert got == exp


def test_rich_transcripts_roundtrip(spark):
    """transcripts.enrich — the OpenAI-style tool_calls shape over the real
    generator (skew, null tools, non-ASCII text) — through the full
    encode/decode pipeline."""
    from orc_format_spark import transcripts
    df = transcripts.enrich(transcripts.generate(spark, 40, seed=7))
    dec = pipeline.roundtrip(df, "conv_id", "turn_idx", stripe_rows=256)
    assert dec.schema == df.schema

    def keyed(frame):
        return {(r["conv_id"], r["turn_idx"]): r.asDict(recursive=True)
                for r in frame.collect()}

    exp, got = keyed(df), keyed(dec)
    assert len(got) == len(exp) and got == exp
    # sanity: the shape was actually exercised (tool rows produced calls)
    n_calls = sum(len(v["tool_calls"] or []) for v in exp.values())
    assert n_calls > 0


def test_reserved_field_name_collision_raises(spark):
    """A user field literally named __present__ (or containing the leaf
    separator) would silently corrupt the flatten mapping — must raise."""
    df = spark.createDataFrame([(1, {"__present__": 2})],
                               schema="id long, s struct<__present__: bigint>")
    with pytest.raises(Exception, match="reserved flatten segment"):
        pipeline.encode_dataframe(df, "id", None, sort_keys=["id"],
                                  stripe_rows=10).collect()
    df2 = spark.createDataFrame(
        [(1, [{"a·b": 2}])],
        schema="id long, s array<struct<`a·b`: bigint>>")
    with pytest.raises(Exception, match="reserved flatten segment"):
        pipeline.encode_dataframe(df2, "id", None, sort_keys=["id"],
                                  stripe_rows=10).collect()
