"""Snapshots, time travel, compaction: the streaming small-file problem and
its Iceberg-style fix. Everything is append-only — compaction only moves
stripe VISIBILITY (lineage tombstones), so every earlier snapshot stays
readable via decode_job(as_of=...)."""

import collections
import os
import re

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


def _streamed_table(spark, tmp_path, n_convs, seed, n_files, n_buckets):
    """(input, table dir) of a stream that encoded ``n_files`` input files
    two per micro-batch: several runs, fragmented slots."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "enc", "ckpt"))
    df = transcripts.generate(spark, n_convs=n_convs, seed=seed)
    df.cache().count()
    df.repartition(n_files).write.parquet(src)
    stream = streaming.read_transcripts_stream(spark, src,
                                               max_files_per_trigger=2)
    streaming.encode_stream(stream, out, ckpt, stripe_rows=500,
                            n_buckets=n_buckets).awaitTermination(300)
    return df, out


def test_compact_job_merges_and_roundtrips(spark, fragmented):
    df, out = fragmented
    cols = df.columns
    before_active = len(pipeline.active_stripe_ids(spark, out))
    exp = _sorted_pdf(df, cols)

    res = pipeline.compact_job(spark, out)
    assert res["compacted_stripes"] >= 2
    assert 0 < res["new_stripes"] < res["compacted_stripes"]

    after_active = len(pipeline.active_stripe_ids(spark, out))
    assert after_active < before_active

    # two reads of the compacted table: the exact same rows, one copy each
    got = _sorted_pdf(pipeline.decode_job(spark, out), cols)
    pd.testing.assert_frame_equal(exp, got, check_dtype=False)
    gotc = _sorted_pdf(pipeline.decode_job(spark, out), cols)
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


def test_crashed_compaction_orphans_stay_invisible(spark, tmp_path,
                                                  monkeypatch):
    """A compaction that died after writing its stripes and manifest rows
    but before its lineage version leaves only invisible bytes: decode
    resolves visibility through the lineage, which has no rows for the
    orphan run. Rerunning compact_job completes the work."""
    df, out = _streamed_table(spark, tmp_path, 40, 23, 4, 4)
    cols = df.columns
    exp = _sorted_pdf(pipeline.decode_job(spark, out), cols)
    snaps = pipeline.snapshots(spark, out).collect()

    def crash(*args):
        raise OSError("driver died before the lineage version")

    monkeypatch.setattr(pipeline, "_create_version", crash)
    with pytest.raises(OSError, match="driver died"):
        pipeline.compact_job(spark, out)
    monkeypatch.undo()
    orphans = [d for d in os.listdir(f"{out}/stripes")
               if d.startswith("run=c")]
    assert len(orphans) == 1  # the crashed run's bytes are on disk
    assert pipeline.snapshots(spark, out).collect() == snaps
    for _ in range(2):  # every read sees the rows from before the crash
        dec = pipeline.decode_job(spark, out)
        pd.testing.assert_frame_equal(exp, _sorted_pdf(dec, cols),
                                      check_dtype=False)
    res = pipeline.compact_job(spark, out)
    assert res["compacted_stripes"] > 0
    pd.testing.assert_frame_equal(
        exp, _sorted_pdf(pipeline.decode_job(spark, out), cols),
        check_dtype=False)


def test_stream_replay_after_compaction_is_noop(spark, fragmented):
    """Replaying the SAME source through a fresh stream checkpoint derives
    the same b<batch>- stripe ids; commit skips the ids the lineage holds
    (original 'ok' rows survive compaction), so every replayed batch
    publishes nothing — the invariants are the distinct active/ok id sets
    and the decoded rows."""
    df, out = fragmented
    cols = df.columns
    pipeline.compact_job(spark, out)
    exp = _sorted_pdf(pipeline.decode_job(spark, out), cols)
    ok_ids_before = set(
        r["stripe_id"] for r in spark.read.parquet(f"{out}/lineage")
        .filter(F.col("status") == "ok").select("stripe_id")
        .distinct().collect())
    active_before = len(pipeline.active_stripe_ids(spark, out))
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
    assert len(pipeline.active_stripe_ids(spark, out)) == active_before
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
    assert [s for s in pipeline.snapshots(spark, out).collect()
            if s["status"] == "compacted"]
    # post-stream state: at most one leftover uncompacted batch run, so
    # every slot holds <= 2 active stripes; a final compact settles to 1
    pipeline.compact_job(spark, out)
    active = pipeline._active(pipeline._log(out)[0], out).values()
    slots = collections.Counter(
        (r["bucket"], re.search(r"-(-?\d+)$", r["stripe_id"]).group(1))
        for r in active)
    assert max(slots.values()) == 1
    got = _sorted_pdf(pipeline.decode_job(spark, out), df.columns)
    pd.testing.assert_frame_equal(_sorted_pdf(df.selectExpr("*"), df.columns),
                                  got, check_dtype=False)


def test_negative_order_values_compact_to_a_fixed_point(spark, tmp_path):
    """compact_job reads a stripe's salt from its id, sign included
    ("...-00000001--00001"): a freshly encoded table of negative order
    values holds one stripe per slot, so compact_job compacts nothing and
    decode_job returns the same rows."""
    out = str(tmp_path / "neg")
    df = spark.createDataFrame([("a", o) for o in range(-20, 0)],
                               "k string, o long")
    pipeline.encode_job(spark, df, out, key_col="k", order_col="o",
                        stripe_rows=4, n_buckets=2)
    assert len(pipeline.active_stripe_ids(spark, out)) == 5
    assert pipeline.compact_job(spark, out)["compacted_stripes"] == 0
    assert (sorted(pipeline.decode_job(spark, out).select("k", "o").collect())
            == sorted(df.collect()))


def test_expire_snapshots_frees_superseded_runs(spark, tmp_path):
    """expire_snapshots deletes the run dirs whose every stripe was
    tombstoned: current decode is unchanged, disk shrinks, and time travel
    into the expired window raises loudly instead of returning partial
    rows."""
    df, out = _streamed_table(spark, tmp_path, 60, 41, 6, 5)
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
    gotc = _sorted_pdf(pipeline.decode_job(spark, out), df.columns)
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
    df, out = _streamed_table(spark, tmp_path, 40, 51, 4, 4)
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


def test_as_of_into_a_window_expired_by_a_marker(spark, tmp_path):
    """Runs expired before expiry was recorded in the lineage left an
    ``_expired/<run>`` marker, now ignored, and no 'expired' rows. as_of
    into such a window plans the deleted files and the decode fails on
    the first missing one; the current snapshot reads as before. One
    expire_snapshots call records the expiry, and as_of then refuses on
    the driver as for any expired run."""
    import shutil
    df, out = _streamed_table(spark, tmp_path, 40, 53, 4, 4)
    pipeline.compact_job(spark, out)
    exp = _sorted_pdf(pipeline.decode_job(spark, out), df.columns)
    first = [s["run_id"] for s in pipeline.snapshots(spark, out).collect()
             if s["run_id"].startswith("stream-")][0]
    # what expire_snapshots did to a run before it wrote lineage rows
    shutil.rmtree(f"{out}/stripes/run={first}")
    os.makedirs(f"{out}/_expired")
    with open(f"{out}/_expired/{first}", "w") as f:
        f.write(first)
    pd.testing.assert_frame_equal(
        exp, _sorted_pdf(pipeline.decode_job(spark, out), df.columns),
        check_dtype=False)
    missing = f"FileNotFoundError: .*run={first}/"
    with pytest.raises(Exception, match=missing):
        pipeline.decode_job(spark, out, as_of=first).count()
    assert first in pipeline.expire_snapshots(spark, out)["expired_runs"]
    with pytest.raises(ValueError, match="expired"):
        pipeline.decode_job(spark, out, as_of=first)


def test_unresolvable_uri_scheme_raises():
    """s3a:// / abfss:// (schemes pyarrow can't resolve) must raise, not
    silently read or write a local dir named after the URI — the table
    would then read as fresh (an empty lineage) or an index's meta would
    go missing."""
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
    lineage = pipeline._log(out)[0]
    assert pipeline._layout_params(lineage, out)["sort_keys"] == ["ts"]
    # resuming with different sort keys is refused (stripe bytes depend
    # on physical order — a silent change breaks re-encode idempotency)
    with pytest.raises(ValueError, match="sort_keys"):
        pipeline.encode_job(spark, df, out, key_col="conv_id",
                            order_col="turn_idx", sort_keys=["role"],
                            stripe_rows=500, n_buckets=3)


def test_concurrent_compaction_conflict_raises(spark, tmp_path,
                                              monkeypatch):
    """Two compactions racing on the same victims: compactor A runs to the
    end inside compactor B's write window (after B wrote its stripes,
    before B creates its lineage version). B loses the version, sees A's
    tombstones on its victims and must abort instead of silently
    duplicating every compacted row."""
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
        pipeline.commit(half, out, f"batch-{k}", params,
                        stripe_prefix=f"b{k:08d}-")
    create = pipeline._create_version
    won = []

    def race(*args):
        monkeypatch.setattr(pipeline, "_create_version", create)
        won.append(pipeline.compact_job(spark, out))  # compactor A
        return create(*args)                          # compactor B

    monkeypatch.setattr(pipeline, "_create_version", race)
    with pytest.raises(RuntimeError, match="concurrent compaction"):
        pipeline.compact_job(spark, out)
    assert won[0]["compacted_stripes"] > 0
    snaps = pipeline.snapshots(spark, out).collect()
    assert [s["run_id"] for s in snaps if s["status"] == "compacted"] == [
        won[0]["run_id"]]

    # the table still decodes exactly one copy of every row
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
        pipeline.commit(half, out, f"batch-{k}", params,
                        stripe_prefix=f"b{k:08d}-")
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
