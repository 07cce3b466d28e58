"""Lineage / checkpoint / idempotent-resume tests (north_rule: failed
partitions resume idempotently; lineage records stripe id, codec, bytes
in/out, checksum)."""

import pytest
from pyspark.sql import functions as F

from orc_format_spark import pipeline, transcripts


def _params(n_buckets: int) -> dict:
    """The layout encode_job(stripe_rows=200, n_buckets=n_buckets)
    commits at."""
    return {"n_buckets": n_buckets, "stripe_rows": 200, "key_col": "conv_id",
            "order_col": "turn_idx", "index_rows": None,
            "bloom_cols": ["conv_id"], "sort_keys": None}


def _even_buckets(frame, n_buckets: int):
    """The rows of ``frame`` in the even hash buckets of the encode."""
    return frame.filter(
        F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)) % 2 == 0)


@pytest.fixture(scope="module")
def df(spark):
    d = transcripts.generate(spark, n_convs=120, seed=11)
    d.cache().count()
    return d


def test_resume_after_partial_failure(spark, df, tmp_path):
    out = str(tmp_path / "enc")
    n_rows = df.count()
    n_buckets = 12
    # simulate a run that died after committing only the even buckets
    pipeline.commit(_even_buckets(df, n_buckets), out, "run-partial",
                    _params(n_buckets))
    n_partial = spark.read.parquet(f"{out}/lineage").count()
    assert 0 < n_partial

    # resume: full job encodes ONLY the missing stripes
    stats = pipeline.encode_job(spark, df, out, stripe_rows=200,
                                n_buckets=n_buckets)
    assert stats["resumed"] is True
    lineage = spark.read.parquet(f"{out}/lineage")
    per_stripe = lineage.groupBy("stripe_id").count().collect()
    assert all(r["count"] == 1 for r in per_stripe), "stripe encoded twice"
    run2 = lineage.filter(F.col("run_id") == stats["run_id"])
    assert run2.filter(F.col("bucket") % 2 == 0).count() == 0, \
        "resume re-encoded already-committed buckets"
    assert lineage.agg(F.sum("n_rows")).collect()[0][0] == n_rows

    got = pipeline.decode_job(spark, out).orderBy("conv_id", "turn_idx").toPandas()
    exp = df.orderBy("conv_id", "turn_idx").toPandas()
    import pandas as pd
    pd.testing.assert_frame_equal(exp.reset_index(drop=True),
                                  got[exp.columns.tolist()].reset_index(drop=True),
                                  check_dtype=False)


def test_rerun_after_complete_job_is_noop(spark, df, tmp_path):
    out = str(tmp_path / "enc2")
    s1 = pipeline.encode_job(spark, df, out, stripe_rows=200, n_buckets=12)
    s2 = pipeline.encode_job(spark, df, out, stripe_rows=200, n_buckets=12)
    assert s2["resumed"] is True
    lineage = spark.read.parquet(f"{out}/lineage")
    assert lineage.filter(F.col("run_id") == s2["run_id"]).count() == 0
    assert s1["n_stripes"] == s2["n_stripes"]


def test_lineage_records_required_fields(spark, df, tmp_path):
    out = str(tmp_path / "enc3")
    pipeline.encode_job(spark, df, out, stripe_rows=200, n_buckets=8)
    row = spark.read.parquet(f"{out}/lineage").first()
    # north_star: stripe id, codec chosen, input/output bytes, checksum
    assert row["stripe_id"] and row["checksum"]
    assert row["raw_bytes"] > row["enc_bytes"] > 0
    assert "turn_idx:" in row["codecs"] and "text:" in row["codecs"]
    assert row["status"] == "ok" and row["run_id"]


def test_deterministic_stripe_bytes_across_reruns(spark, df, tmp_path):
    """Re-encoding produces byte-identical stripes (the property that makes
    resume idempotent and duplicate appends harmless)."""
    s1 = pipeline.encode_dataframe(df, "conv_id", "turn_idx", stripe_rows=200,
                                   n_buckets=6)
    s2 = pipeline.encode_dataframe(df, "conv_id", "turn_idx", stripe_rows=200,
                                   n_buckets=6)
    h1 = s1.select(F.sha1(F.col("data")).alias("h"), "stripe_id", "col_name")
    h2 = s2.select(F.sha1(F.col("data")).alias("h2"), "stripe_id", "col_name")
    joined = h1.join(h2, ["stripe_id", "col_name"])
    assert joined.filter(F.col("h") != F.col("h2")).count() == 0
    assert joined.count() == s1.count()


def test_resume_nested_table_idempotent(spark, df, tmp_path):
    """Partial-failure resume over a NESTED table (rich tool_calls): the
    lineage skip and deterministic stripe bytes are schema-agnostic —
    resume encodes only the missing stripes and decode re-nests."""
    out = str(tmp_path / "rich")
    rich = transcripts.enrich(df)
    n_buckets = 8
    pipeline.commit(_even_buckets(rich, n_buckets), out, "run-partial",
                    _params(n_buckets))

    stats = pipeline.encode_job(spark, rich, out, stripe_rows=200,
                                n_buckets=n_buckets)
    assert stats["resumed"] is True
    lineage = spark.read.parquet(f"{out}/lineage")
    per_stripe = lineage.groupBy("stripe_id").count().collect()
    assert all(r["count"] == 1 for r in per_stripe)

    dec = pipeline.decode_job(spark, out)
    keyed_exp = {(r["conv_id"], r["turn_idx"]): r.asDict(recursive=True)
                 for r in rich.collect()}
    keyed_got = {(r["conv_id"], r["turn_idx"]): r.asDict(recursive=True)
                 for r in dec.select(rich.columns).collect()}
    assert keyed_got == keyed_exp


def test_fresh_encode_job_never_reads_lineage(spark, df, tmp_path,
                                              monkeypatch):
    """The lineage is read on the driver with pyarrow: encode_job (fresh
    and resumed), commit, decode_job and compact_job call no Spark read on
    ``lineage/``. Hidden ``_``/``.`` entries, such as a crashed append's
    ``_temporary``, do not make a table non-fresh."""
    from pyspark.sql.readwriter import DataFrameReader

    out = tmp_path / "enc_fresh"
    debris = out / "lineage" / "_temporary" / "0" / "_temporary" / "attempt_0"
    debris.mkdir(parents=True)
    (debris / "part-00000.parquet").write_bytes(b"torn write")
    (out / "lineage" / ".part-00000.parquet.crc").write_bytes(b"crc")
    reads = []
    parquet = DataFrameReader.parquet

    def counting(self, *paths, **options):
        reads.extend(p for p in paths if "/lineage" in str(p))
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    stats = pipeline.encode_job(spark, df, str(out), stripe_rows=200,
                                n_buckets=8)
    assert stats["resumed"] is False
    again = pipeline.encode_job(spark, df, str(out), stripe_rows=200,
                                n_buckets=8)
    assert again["resumed"] is True
    more = transcripts.generate(spark, n_convs=20, seed=12).withColumn(
        "conv_id", F.concat(F.lit("more-"), F.col("conv_id")))
    pipeline.commit(more, str(out), "more", _params(8), stripe_prefix="m-")
    assert pipeline.decode_job(spark, str(out)).count() == (
        df.count() + more.count())
    assert pipeline.compact_job(spark, str(out))["compacted_stripes"] > 0
    assert reads == []
    monkeypatch.undo()
    assert (spark.read.parquet(f"{out}/lineage")
            .filter(F.col("run_id") == stats["run_id"]).count()
            == stats["n_stripes"])
