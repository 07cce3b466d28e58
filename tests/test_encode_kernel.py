"""The encode kernel: one mapInArrow per encode task sorts its partition in
Arrow, drops the stripes the log holds before encoding them, then encodes
(and, for a commit, writes) the rest. Its sort must match Spark's
ascending order for every sort-key kind."""

import datetime
import math
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orc_format_spark import pipeline, transcripts
from orc_format_spark import stripe as stripe_mod
from test_pipeline_commit import _jobs_run


@pytest.fixture(scope="module")
def df(spark):
    d = transcripts.generate(spark, n_convs=60, seed=7)
    d.cache().count()
    return d


def _rank_key(row) -> tuple:
    """A sort-key tuple as Spark compares it: NaN equals NaN (and sorts
    after every number), -0.0 equals 0.0."""
    return tuple(("nan",) if isinstance(x, float) and math.isnan(x)
                 else x + 0.0 if isinstance(x, float) else x for x in row)


def _exact(row) -> tuple:
    """A row with every float as its exact bits (NaN, -0.0 kept)."""
    return tuple(x.hex() if isinstance(x, float) else x for x in row)


_T0 = datetime.datetime(2025, 1, 1)
_WORDS = ["é", "e", "z", "Z", "日本", "日", "😀", "á", "ä", "ß", "",
          "Ω", "naïve", "ascii"]


def _case(spark, name):
    """(frame, key_col, order_col, sort_keys) of one sort-key kind."""
    n = 400
    if name == "null_keys":
        rows = [(None if i % 9 == 0 else f"k{i % 17:02d}", (i * 7) % 50, i)
                for i in range(n)]
        return (spark.createDataFrame(rows, "k string, v int, p long"),
                "k", "v", None)
    if name in ("nan_double", "nan_float"):
        special = [float("nan"), float("inf"), -float("inf"), 0.5, -2.25,
                   1e300, -1e-300, 3.0]
        rows = [(f"k{i % 5}", None if i % 13 == 0 else
                 special[i % len(special)] if i % 3 else
                 float(i % 11) - 4.5, i) for i in range(n)]
        typ = "double" if name == "nan_double" else "float"
        # a sort key, not the order column: the salt of an infinite order
        # value overflows
        return (spark.createDataFrame(rows, f"k string, v {typ}, p long"),
                "k", None, ["k", "v"])
    if name == "signed_zero":
        vals = [-0.0, 0.0, 1e-310, -1e-310, 2.0, -0.0]
        rows = [(f"k{i % 4}", vals[i % len(vals)], i) for i in range(n)]
        return (spark.createDataFrame(rows, "k string, v double, p long"),
                "k", "v", None)
    if name == "utf8":
        rows = [(_WORDS[i % len(_WORDS)] + _WORDS[(i * 5) % len(_WORDS)],
                 i % 13, i) for i in range(n)]
        return (spark.createDataFrame(rows, "k string, v int, p long"),
                "k", "v", None)
    if name == "timestamps":
        rows = [(f"k{i % 6}",
                 None if i % 10 == 0 else
                 _T0 + datetime.timedelta(days=(i * 37) % 900 - 20000,
                                          microseconds=i), i)
                for i in range(n)]
        return (spark.createDataFrame(rows, "k string, ts timestamp, p long"),
                "k", None, ["k", "ts"])
    assert name == "ties"
    rows = [(f"k{i % 5}", i) for i in range(n)]
    return (spark.createDataFrame(rows, "k string, p long"), "k", None, None)


@pytest.mark.parametrize("name", ["null_keys", "nan_double", "nan_float",
                                  "signed_zero", "utf8", "timestamps",
                                  "ties"])
def test_arrow_sort_matches_spark_order(spark, name):
    """Within each stripe, decoded rows follow df.orderBy(sort keys) —
    nulls first, NaN after every number, -0.0 next to 0.0, UTF-8 by bytes,
    ties in any order — and the decoded rows are the input multiset."""
    frame, key, order, sort_keys = _case(spark, name)
    keys = sort_keys or [c for c in (key, order) if c]
    n_buckets, stripe_rows = 3, 64
    dec = pipeline.roundtrip(frame, key, order, sort_keys=sort_keys,
                             stripe_rows=stripe_rows, n_buckets=n_buckets)
    salt = (F.floor(F.col(order) / F.lit(stripe_rows)).cast("long") if order
            else F.lit(0))
    got = dec.select(*frame.columns, F.spark_partition_id().alias("_p"),
                     F.pmod(F.xxhash64(key), F.lit(n_buckets)).alias("_b"),
                     salt.alias("_s")).collect()

    rank: dict[tuple, int] = {}
    for r in frame.orderBy(*keys).select(*keys).collect():
        rank.setdefault(_rank_key(r), len(rank))
    stripes: dict[tuple, list[int]] = {}
    for r in got:
        stripes.setdefault((r["_p"], r["_b"], r["_s"]), []).append(
            rank[_rank_key([r[k] for k in keys])])
    assert len(stripes) > 1
    for sid, ranks in stripes.items():
        assert ranks == sorted(ranks), (name, sid)
    assert (Counter(_exact(r[:len(frame.columns)]) for r in got)
            == Counter(_exact(r) for r in frame.collect()))


def test_unorderable_sort_key_raises(spark, tmp_path):
    """A list or struct sort key raises ValueError naming the column on the
    driver, before any job runs and before anything is written."""
    frame = spark.createDataFrame(
        [("a", [1, 2], (1, "x")), ("b", [3], (2, "y"))],
        "k string, l array<int>, s struct<a:int, b:string>")
    out = tmp_path / "t"
    for col in ("l", "s"):
        calls = {
            "encode_dataframe": lambda: pipeline.encode_dataframe(
                frame, "k", None, sort_keys=["k", col], n_buckets=1),
            "default sort key": lambda: pipeline.encode_dataframe(
                frame, col, None, n_buckets=1),
            "encode_job": lambda: pipeline.encode_job(
                spark, frame, str(out), key_col="k", order_col=None,
                sort_keys=[col], n_buckets=1),
        }
        for what, call in calls.items():
            def raises():
                with pytest.raises(ValueError, match=f"sort key '{col}'"):
                    call()
            assert _jobs_run(spark, raises) == 0, (col, what)
    with pytest.raises(ValueError, match="sort key 'nope'"):
        pipeline.encode_dataframe(frame, "k", None, sort_keys=["nope"],
                                  n_buckets=1)
    assert not out.exists()


@pytest.mark.parametrize("kind,bad", [("bigint", None),
                                      ("double", float("inf")),
                                      ("double", float("-inf"))])
def test_order_value_without_a_salt_raises(spark, kind, bad):
    """A null or infinite order value has no salt, so no stripe: the
    encode projection fails with an error naming the order column, before
    anything is encoded."""
    num = float if kind == "double" else int
    frame = spark.createDataFrame(
        [(f"k{i}", num(i)) for i in range(20)] + [("k3", bad)],
        f"k string, o {kind}")
    with pytest.raises(Exception, match="order column 'o' holds a null or "
                                        "infinite value"):
        pipeline.roundtrip(frame, "k", "o", stripe_rows=4,
                           n_buckets=8).collect()


def _column_api_keys(df, key, order, stripe_rows, n_buckets, p):
    """The key columns as _keyed built them with Column calls, over
    backtick-quoted names: the reference its SQL text must reproduce."""
    k, o = (F.col("`" + c.replace("`", "``") + "`") for c in (key, order))
    bucket = F.pmod(F.xxhash64(k), F.lit(n_buckets))
    salt = F.floor(o / F.lit(stripe_rows)).cast("long")
    probes = pipeline._partition_probes(p)
    probe = F.element_at(F.array(*[F.lit(m) for m in probes]),
                         (F.pmod(bucket + salt, F.lit(p)) + 1).cast("int"))
    return df.select(bucket.alias("__bucket"), salt.alias("__salt"),
                     probe.cast("long").alias("__probe"))


@pytest.mark.parametrize("kind", ["bigint", "double"])
def test_keyed_quotes_odd_column_names(spark, kind):
    """Key and order names holding a space, a dot and a backtick: _keyed's
    SQL text gives the key columns the Column-call values, and a null or
    infinite order value still fails naming the column."""
    key, order = "conv id.`k`", "turn. idx`"
    num = float if kind == "double" else int
    rows = [(f"c{i % 7}", num(i * 3 - 20)) for i in range(60)]
    schema = T.StructType([
        T.StructField(key, T.StringType()),
        T.StructField(order, T.DoubleType() if kind == "double"
                      else T.LongType())])
    frame = spark.createDataFrame(rows, schema)
    keyed, _, _ = pipeline._keyed(frame, key, order, None, 8, 16)
    p = pipeline._work_partitions(spark, 16)
    got = keyed.select("__bucket", "__salt", "__probe")
    want = _column_api_keys(frame, key, order, 8, 16, p)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    bads = [None] + ([float("inf"), float("-inf")] if kind == "double" else [])
    for bad in bads:
        bad_frame = spark.createDataFrame(rows + [("c1", bad)], schema)
        with pytest.raises(Exception, match=(
                "order column 'turn. idx`' holds a null or infinite value")):
            pipeline._keyed(bad_frame, key, order, None, 8, 16)[0].collect()


def test_resume_encodes_only_missing_groups(spark, df, tmp_path,
                                            monkeypatch):
    """The per-group generator, called in-process with a spy on
    encode_stripe_arrow, encodes every group of a fresh table, only the
    missing groups of a half-committed one, and none of a complete one."""
    out = str(tmp_path / "t")
    n_buckets, stripe_rows = 8, 200
    keyed, schema, sort_keys = pipeline._keyed(
        df, "conv_id", "turn_idx", None, stripe_rows, n_buckets)
    batches = keyed.toArrow().to_batches()
    encoded = []
    real = stripe_mod.encode_stripe_arrow

    def spy(tbl, kinds, stripe_id, *args, **kwargs):
        encoded.append(stripe_id)
        return real(tbl, kinds, stripe_id, *args, **kwargs)

    monkeypatch.setattr(stripe_mod, "encode_stripe_arrow", spy)

    def run(skip):
        encoded.clear()
        ids = [b.column("stripe_id")[0].as_py()
               for b in pipeline._stripe_groups(batches, schema, sort_keys,
                                                skip=skip)]
        assert ids == encoded
        return ids

    every = run(set())
    assert len(every) == len(set(every)) > 2

    params = {"n_buckets": n_buckets, "stripe_rows": stripe_rows,
              "key_col": "conv_id", "order_col": "turn_idx",
              "index_rows": None, "bloom_cols": ["conv_id"],
              "sort_keys": None}
    even = F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)) % 2 == 0
    pipeline.commit(df.filter(even), out, "half", params)
    held = pipeline._held(pipeline._log(out)[0])
    missing = [s for s in every if s not in held]
    assert held and missing
    assert run(held) == missing

    stats = pipeline.encode_job(spark, df, out, stripe_rows=stripe_rows,
                                n_buckets=n_buckets)
    added = {r["stripe_id"] for r in pipeline._log(out)[0]
             if r["run_id"] == stats["run_id"]}
    assert added == set(missing)
    held = pipeline._held(pipeline._log(out)[0])
    assert held == set(every)
    assert run(held) == []


def test_encode_plans_have_one_kernel_and_no_sort(spark, df, tmp_path):
    """encode_dataframe and encode_job's write frame are one Exchange then
    ONE MapInArrow: no Sort, no second Python runner."""
    import re
    df.write.parquet(str(tmp_path / "in"))
    src = spark.read.parquet(str(tmp_path / "in"))
    params = {"n_buckets": 6, "stripe_rows": 300, "key_col": "conv_id",
              "order_col": "turn_idx", "bloom_cols": ["conv_id"]}
    frames = {
        "encode_dataframe": pipeline.encode_dataframe(
            src, "conv_id", "turn_idx", stripe_rows=300, n_buckets=6),
        "encode_job": pipeline._encoded_facts(
            src, str(tmp_path / "t"), "r0", params, set()),
    }
    for name, frame in frames.items():
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"\bSort\b", plan), name
        assert plan.count("MapInArrow") == 1, name
        assert plan.count("Exchange") == 1, name


def test_encode_job_reads_the_log_once(spark, df, tmp_path, monkeypatch):
    """A fresh encode_job and a rerun each read the lineage log once: the
    commit publishes against the log the job already read (a concurrent
    writer's stripes are dropped by _publish's rebase)."""
    out = str(tmp_path / "t")
    reads = []
    log = pipeline._log

    def counting(out_dir):
        reads.append(out_dir)
        return log(out_dir)

    monkeypatch.setattr(pipeline, "_log", counting)
    for resumed in (False, True):
        reads.clear()
        stats = pipeline.encode_job(spark, df, out, stripe_rows=300,
                                    n_buckets=6)
        assert stats["resumed"] is resumed
        assert reads == [out]
