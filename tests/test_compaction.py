"""Snapshots, time travel, compaction: the streaming small-file problem and
its Iceberg-style fix. Everything is append-only — compaction only moves
stripe VISIBILITY (lineage tombstones), so every earlier snapshot stays
readable via decode_job(as_of=...)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from orc_format_spark import pipeline, streaming, transcripts


@pytest.fixture(scope="module")
def fragmented(spark, tmp_path_factory):
    """A table written by a multi-micro-batch stream: every batch appends
    its own b<batch>- stripes, so (bucket, salt) slots hold several
    under-filled stripes each."""
    base = tmp_path_factory.mktemp("compact")
    src, out, ckpt = str(base / "src"), str(base / "enc"), str(base / "ckpt")
    df = transcripts.generate(spark, n_convs=80, seed=21)
    df.cache().count()
    df.repartition(6).write.parquet(src)
    stream = streaming.read_transcripts_stream(spark, src,
                                               max_files_per_trigger=2)
    q = streaming.encode_stream(stream, out, ckpt, stripe_rows=500,
                                n_buckets=6)
    q.awaitTermination(300)
    return df, out


def _sorted_pdf(sdf, cols):
    return (sdf.orderBy("conv_id", "turn_idx", "ts").toPandas()[cols]
            .reset_index(drop=True))


def test_compact_job_merges_and_roundtrips(spark, fragmented):
    df, out = fragmented
    cols = df.columns
    before_active = pipeline.active_stripe_ids(spark, out).count()
    exp = _sorted_pdf(df, cols)

    res = pipeline.compact_job(spark, out)
    assert res["compacted_stripes"] >= 2
    assert 0 < res["new_stripes"] < res["compacted_stripes"]

    after_active = pipeline.active_stripe_ids(spark, out).count()
    assert after_active < before_active

    # decode_job and its alias: exact same rows, one copy each
    got = _sorted_pdf(pipeline.decode_job(spark, out), cols)
    pd.testing.assert_frame_equal(exp, got, check_dtype=False)
    gotc = _sorted_pdf(pipeline.decode_job_clustered(spark, out), cols)
    pd.testing.assert_frame_equal(exp, gotc, check_dtype=False)

    # lineage: tombstones exist, original 'ok' rows remain (resume safety)
    lineage = spark.read.parquet(f"{out}/lineage")
    dead = (lineage.filter(F.col("status") == "compacted")
            .select("stripe_id").distinct())
    assert dead.count() == res["compacted_stripes"]
    still_ok = (lineage.filter(F.col("status") == "ok")
                .join(dead, "stripe_id", "left_semi"))
    assert still_ok.count() >= res["compacted_stripes"]

    # a second compaction is a no-op (every slot holds one active stripe)
    res2 = pipeline.compact_job(spark, out)
    assert res2 == {"run_id": None, "compacted_stripes": 0,
                    "new_stripes": 0}
    pd.testing.assert_frame_equal(
        exp, _sorted_pdf(pipeline.decode_job(spark, out), cols),
        check_dtype=False)


def test_time_travel_reads_pre_compaction_snapshot(spark, fragmented):
    df, out = fragmented
    cols = df.columns
    # (runs after the compaction test — module-scoped fixture, so the
    # table is compacted by now; compact again defensively for ordering)
    pipeline.compact_job(spark, out)
    snaps = pipeline.snapshots(spark, out).collect()
    assert [s for s in snaps if s["status"] == "compacted"]
    # every pre-compaction publish run is still exactly readable
    stream_runs = [s["run_id"] for s in snaps
                   if s["status"] == "ok" and not s["run_id"].startswith("c")]
    assert stream_runs
    exp = _sorted_pdf(df, cols)
    got = _sorted_pdf(
        pipeline.decode_job(spark, out, as_of=stream_runs[-1]), cols)
    pd.testing.assert_frame_equal(exp, got, check_dtype=False)
    # as of the FIRST run only a subset of rows existed
    first = pipeline.decode_job(spark, out, as_of=stream_runs[0])
    assert 0 < first.count() <= df.count()
    # the compaction run itself is also a readable snapshot
    crun = [s["run_id"] for s in snaps if s["run_id"].startswith("c")][0]
    gotc = _sorted_pdf(pipeline.decode_job(spark, out, as_of=crun), cols)
    pd.testing.assert_frame_equal(exp, gotc, check_dtype=False)
    with pytest.raises(ValueError, match="not in lineage"):
        pipeline.decode_job(spark, out, as_of="no-such-run").count()


def test_crashed_compaction_orphans_stay_invisible(spark, fragmented):
    """A compaction that died after writing stripes but before the lineage
    append leaves only invisible bytes: the marker forces every decode
    through the lineage active set, which has no rows for the orphan run."""
    df, out = fragmented
    cols = df.columns
    pipeline.compact_job(spark, out)
    exp = _sorted_pdf(pipeline.decode_job(spark, out), cols)
    # simulate the crash: stripes land under a c-run dir, no lineage rows
    orphan_run = "cdeadbeef000"
    act = pipeline.active_stripe_ids(spark, out)
    some = (pipeline.read_stripes(spark, out)
            .join(act, "stripe_id", "left_semi").limit(50)
            .withColumn("stripe_id", F.concat(F.lit("x-"),
                                              F.col("stripe_id"))))
    some.write.mode("append").parquet(f"{out}/stripes/run={orphan_run}")
    pipeline._write_compaction_marker(out, orphan_run)
    got = _sorted_pdf(pipeline.decode_job(spark, out), cols)
    pd.testing.assert_frame_equal(exp, got, check_dtype=False)
    gotc = _sorted_pdf(pipeline.decode_job_clustered(spark, out), cols)
    pd.testing.assert_frame_equal(exp, gotc, check_dtype=False)


def test_stream_replay_after_compaction_is_noop(spark, fragmented):
    """Replaying the SAME source through a fresh stream checkpoint derives
    the same b<batch>- stripe ids; the lineage anti-join (original 'ok'
    rows survive compaction) keeps every replayed batch's DATA out of the
    table. Replay may re-append metadata rows for already-known ids (the
    documented crash-window behavior, collapsed by per-id dedupe) — the
    invariants are the distinct active/ok id sets and the decoded rows."""
    df, out = fragmented
    cols = df.columns
    pipeline.compact_job(spark, out)
    exp = _sorted_pdf(pipeline.decode_job(spark, out), cols)
    ok_ids_before = set(
        r["stripe_id"] for r in spark.read.parquet(f"{out}/lineage")
        .filter(F.col("status") == "ok").select("stripe_id")
        .distinct().collect())
    active_before = pipeline.active_stripe_ids(spark, out).count()
    import os
    src = os.path.join(os.path.dirname(out), "src")
    ckpt2 = os.path.join(os.path.dirname(out), "ckpt_replay")
    stream = streaming.read_transcripts_stream(spark, src,
                                               max_files_per_trigger=2)
    q = streaming.encode_stream(stream, out, ckpt2, stripe_rows=500,
                                n_buckets=6)
    q.awaitTermination(300)
    ok_ids_after = set(
        r["stripe_id"] for r in spark.read.parquet(f"{out}/lineage")
        .filter(F.col("status") == "ok").select("stripe_id")
        .distinct().collect())
    assert ok_ids_after == ok_ids_before, "replay must mint no new ids"
    assert pipeline.active_stripe_ids(spark, out).count() == active_before
    got = _sorted_pdf(pipeline.decode_job(spark, out), cols)
    pd.testing.assert_frame_equal(exp, got, check_dtype=False)


def test_stream_auto_compaction(spark, tmp_path):
    """compact_every folds maintenance into the stream: the finished table
    holds ~one active stripe per (bucket, salt) slot and decodes exactly."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "enc", "ckpt"))
    df = transcripts.generate(spark, n_convs=60, seed=31)
    df.cache().count()
    df.repartition(6).write.parquet(src)
    stream = streaming.read_transcripts_stream(spark, src,
                                               max_files_per_trigger=2)
    q = streaming.encode_stream(stream, out, ckpt, stripe_rows=500,
                                n_buckets=5, compact_every=2)
    q.awaitTermination(300)
    assert pipeline.has_compactions(out)
    # post-stream state: at most one leftover uncompacted batch run, so
    # every slot holds <= 2 active stripes; a final compact settles to 1
    pipeline.compact_job(spark, out)
    act = pipeline.active_stripe_ids(spark, out)
    man = pipeline.read_manifest(spark, out).join(act, "stripe_id",
                                                  "left_semi")
    slots = (man.select(F.regexp_extract("stripe_id", r"-(\d{6,})$", 1)
                        .alias("salt"), "bucket")
             .groupBy("bucket", "salt").count())
    assert slots.agg(F.max("count")).collect()[0][0] == 1
    got = _sorted_pdf(pipeline.decode_job(spark, out), df.columns)
    pd.testing.assert_frame_equal(_sorted_pdf(df.selectExpr("*"), df.columns),
                                  got, check_dtype=False)


def test_expire_snapshots_frees_superseded_runs(spark, tmp_path):
    """expire_snapshots deletes the run dirs whose every stripe was
    tombstoned: current decode is unchanged, disk shrinks, and time travel
    into the expired window raises loudly instead of returning partial
    rows."""
    import os
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "enc", "ckpt"))
    df = transcripts.generate(spark, n_convs=60, seed=41)
    df.cache().count()
    df.repartition(6).write.parquet(src)
    stream = streaming.read_transcripts_stream(spark, src,
                                               max_files_per_trigger=2)
    streaming.encode_stream(stream, out, ckpt, stripe_rows=500,
                            n_buckets=5).awaitTermination(300)
    pipeline.compact_job(spark, out)
    exp = _sorted_pdf(pipeline.decode_job(spark, out), df.columns)
    snaps = pipeline.snapshots(spark, out).collect()
    stream_runs = [s["run_id"] for s in snaps
                   if s["status"] == "ok" and not s["run_id"].startswith("c")]

    def du(p):
        return sum(os.path.getsize(os.path.join(r, f))
                   for r, _, fs in os.walk(p) for f in fs)

    before = du(f"{out}/stripes")
    res = pipeline.expire_snapshots(spark, out)
    # fully-superseded stream runs freed; the compact run stays live
    assert res["expired_runs"], res
    assert all(not r.startswith("c") for r in res["expired_runs"])
    assert res["bytes_freed_approx"] > 0
    assert du(f"{out}/stripes") < before
    for rid in res["expired_runs"]:
        assert not os.path.exists(f"{out}/stripes/run={rid}")

    got = _sorted_pdf(pipeline.decode_job(spark, out), df.columns)
    pd.testing.assert_frame_equal(exp, got, check_dtype=False)
    gotc = _sorted_pdf(pipeline.decode_job_clustered(spark, out),
                       df.columns)
    pd.testing.assert_frame_equal(exp, gotc, check_dtype=False)

    # time travel into the expired window refuses loudly
    with pytest.raises(ValueError, match="expired"):
        pipeline.decode_job(spark, out, as_of=stream_runs[0]).count()
    # a second expire is a no-op
    assert pipeline.expire_snapshots(spark, out) == {
        "expired_runs": [], "bytes_freed_approx": 0}


def test_post_compaction_snapshot_survives_expiry(spark, tmp_path):
    """Expiring a fully-tombstoned run must NOT poison time travel to
    snapshots that never needed its bytes: as_of the compaction run (and
    the current snapshot) stay readable; only the pre-compaction window
    raises."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "enc", "ckpt"))
    df = transcripts.generate(spark, n_convs=40, seed=51)
    df.cache().count()
    df.repartition(4).write.parquet(src)
    stream = streaming.read_transcripts_stream(spark, src,
                                               max_files_per_trigger=2)
    streaming.encode_stream(stream, out, ckpt, stripe_rows=500,
                            n_buckets=4).awaitTermination(300)
    res = pipeline.compact_job(spark, out)
    pipeline.expire_snapshots(spark, out)
    exp = _sorted_pdf(df.selectExpr("*"), df.columns)
    # the compact run's snapshot needs no expired bytes: must succeed
    got = _sorted_pdf(pipeline.decode_job(spark, out, as_of=res["run_id"]),
                      df.columns)
    pd.testing.assert_frame_equal(exp, got, check_dtype=False)
    # pre-compaction snapshots DID need them: must raise
    snaps = pipeline.snapshots(spark, out).collect()
    pre = [s["run_id"] for s in snaps
           if s["status"] == "ok" and not s["run_id"].startswith("c")][0]
    with pytest.raises(ValueError, match="expired"):
        pipeline.decode_job(spark, out, as_of=pre).count()


def test_unresolvable_uri_scheme_raises():
    """s3a:// / abfss:// (schemes pyarrow can't resolve) must raise, not
    silently write markers/meta to a local dir named after the URI —
    another driver would then see the table as never-compacted and decode
    tombstoned stripes."""
    with pytest.raises(ValueError, match="scheme"):
        pipeline._table_fs("s3a://bucket/table")
    with pytest.raises(ValueError, match="scheme"):
        pipeline._table_fs("dbfs://some/path")
    # scheme-less strings remain local paths
    fs, base = pipeline._table_fs("/tmp/whatever")
    assert base == "/tmp/whatever"


def test_compaction_records_and_replays_sort_keys(spark, tmp_path):
    """Layout params carry sort_keys so a compaction rewrite reproduces
    the original within-stripe physical order (stride stats stay tight)."""
    out = str(tmp_path / "enc")
    df = transcripts.generate(spark, n_convs=30, seed=61)
    pipeline.encode_job(spark, df, out, key_col="conv_id",
                        order_col="turn_idx", sort_keys=["ts"],
                        stripe_rows=500, n_buckets=3)
    lineage = spark.read.parquet(f"{out}/lineage")
    assert pipeline._layout_params(lineage)["sort_keys"] == ["ts"]
    # resuming with different sort keys is refused (stripe bytes depend
    # on physical order — a silent change breaks re-encode idempotency)
    with pytest.raises(ValueError, match="sort_keys"):
        pipeline.encode_job(spark, df, out, key_col="conv_id",
                            order_col="turn_idx", sort_keys=["role"],
                            stripe_rows=500, n_buckets=3)


def test_concurrent_compaction_conflict_raises(spark, tmp_path):
    """Two compactions racing on the same victims: the loser must abort
    before publishing instead of silently duplicating every compacted row
    (round-5 advice). The guard is exercised directly: after one
    compaction has tombstoned a set of stripes, a second writer holding
    those same stripes as victims must raise; victims that are still
    active pass."""
    import pandas as pd
    from pyspark.sql import functions as F

    out = str(tmp_path / "tbl")
    df = spark.createDataFrame(pd.DataFrame({
        "conv_id": [f"c{i % 7}" for i in range(400)],
        "turn_idx": list(range(400)),
        "v": [i * 2 for i in range(400)],
    }))
    params = {"n_buckets": 2, "stripe_rows": 100, "key_col": "conv_id",
              "order_col": None, "index_rows": None, "bloom_cols": [],
              "sort_keys": ["turn_idx"]}
    for k, half in enumerate((df.where(F.col("turn_idx") % 2 == 0),
                              df.where(F.col("turn_idx") % 2 == 1))):
        s = pipeline.encode_dataframe(
            half, key_col="conv_id", order_col=None,
            sort_keys=["turn_idx"], stripe_rows=100, n_buckets=2,
            stripe_prefix=f"b{k:08d}-")
        pipeline.commit(spark, s, out, "conv_id", None,
                        run_id=f"batch-{k}", params=params)
    # compactor A wins: selects and tombstones the fragmented slots
    lineage = spark.read.parquet(f"{out}/lineage")
    pre_victims = (spark.read.parquet(f"{out}/lineage")
                   .filter(F.col("status") == "ok")
                   .select("stripe_id").distinct())
    res = pipeline.compact_job(spark, out)
    assert res["compacted_stripes"] > 0

    # compactor B held the SAME victims (selected before A published):
    # the guard must refuse to publish
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="concurrent compaction"):
        pipeline._assert_no_compaction_conflict(spark, out, pre_victims)

    # victims still active (the post-compaction stripes) pass the guard
    act = pipeline.active_stripe_ids(spark, out)
    pipeline._assert_no_compaction_conflict(spark, out, act)

    # and the table still decodes exactly one copy of every row
    dec = pipeline.decode_job(spark, out).toPandas()
    assert len(dec) == 400
    assert sorted(dec["v"].tolist()) == sorted(df.toPandas()["v"].tolist())


def test_relocated_table_reads_the_same(spark, tmp_path):
    """Manifest paths are relative to the table root: a committed and
    compacted table copied elsewhere (the original then deleted) decodes
    to the same rows, now and as of each earlier run."""
    import shutil
    out, copy = str(tmp_path / "tbl"), str(tmp_path / "copy")
    df = transcripts.generate(spark, n_convs=30, seed=71)
    params = {"n_buckets": 3, "stripe_rows": 500, "key_col": "conv_id",
              "order_col": None, "index_rows": None, "bloom_cols": [],
              "sort_keys": ["turn_idx"]}
    for k in (0, 1):
        half = df.where(F.col("turn_idx") % 2 == k)
        stripes = pipeline.encode_dataframe(
            half, key_col="conv_id", order_col=None, sort_keys=["turn_idx"],
            stripe_rows=500, n_buckets=3, stripe_prefix=f"b{k:08d}-")
        pipeline.commit(spark, stripes, out, "conv_id", None,
                        run_id=f"batch-{k}", params=params)
    res = pipeline.compact_job(spark, out)
    assert res["compacted_stripes"] > 0
    cols = df.columns
    snaps = (None, "batch-0", "batch-1", res["run_id"])
    exp = {s: _sorted_pdf(pipeline.decode_job(spark, out, as_of=s), cols)
           for s in snaps}
    pd.testing.assert_frame_equal(exp[None], _sorted_pdf(df, cols),
                                  check_dtype=False)
    assert 0 < len(exp["batch-0"]) < len(exp[None])
    shutil.copytree(out, copy)
    shutil.rmtree(out)
    for s in snaps:
        got = _sorted_pdf(pipeline.decode_job(spark, copy, as_of=s), cols)
        pd.testing.assert_frame_equal(exp[s], got)
