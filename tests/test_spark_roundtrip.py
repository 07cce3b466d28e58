"""Spark end-to-end: transcripts round-trip bit-identity under stable
(conv_id, turn_idx) ordering (the north_rule invariant), skew handling, and
column-pruned decode. Mirrors the reference's end-to-end golden-file tests
(tests/it/main.rs:26-316) with the engine's own Spark lifecycle.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from orc_format_spark import pipeline, transcripts


@pytest.fixture(scope="module")
def small_transcripts(spark):
    df = transcripts.generate(spark, n_convs=150, seed=42)
    df.cache().count()
    return df


def assert_frames_equal(exp: pd.DataFrame, got: pd.DataFrame):
    got = got[exp.columns.tolist()]
    pd.testing.assert_frame_equal(exp.reset_index(drop=True),
                                  got.reset_index(drop=True), check_dtype=False)


def test_roundtrip_matches_driver_side_oracle(spark):
    """The distributed pipeline must agree with a single-threaded encode-free
    oracle of the same seeded generator (partitioning independence)."""
    df = transcripts.generate(spark, n_convs=40, seed=7)
    got = (pipeline.roundtrip(df, "conv_id", "turn_idx", stripe_rows=300)
           .orderBy("conv_id", "turn_idx").toPandas())
    exp = transcripts.expected_pandas(40, seed=7)
    got["ts"] = got["ts"].astype("datetime64[us]")
    exp["ts"] = exp["ts"].astype("datetime64[us]")
    assert_frames_equal(exp, got)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_roundtrip_decodes_without_a_stripe_exchange(spark, small_transcripts):
    """roundtrip decodes the encode output in the encode's own stage — no
    re-clustering exchange on stripe_id — and is bit-identical."""
    df = small_transcripts
    dec = pipeline.roundtrip(df, "conv_id", "turn_idx", stripe_rows=500)
    got = dec.orderBy("conv_id", "turn_idx").toPandas()
    assert "hashpartitioning(stripe_id" not in _executed_plan(dec)
    assert_frames_equal(df.orderBy("conv_id", "turn_idx").toPandas(), got)


def test_column_pruned_decode(spark, small_transcripts):
    df = small_transcripts
    dec = pipeline.roundtrip(df, "conv_id", "turn_idx", stripe_rows=500,
                             columns=["conv_id", "turn_idx", "role"])
    assert dec.columns == ["conv_id", "turn_idx", "role"]
    exp = df.select("conv_id", "turn_idx", "role").orderBy("conv_id", "turn_idx").toPandas()
    got = dec.orderBy("conv_id", "turn_idx").toPandas()
    assert_frames_equal(exp, got)


def test_long_conversation_skew_is_salted_into_substripes(spark):
    """One conversation far larger than stripe_rows must split into several
    stripes (salting defuses long-conversation skew) and still reassemble
    bit-identically under (conv_id, turn_idx) order."""
    pdf = pd.DataFrame({
        "conv_id": ["conv-giant"] * 5000 + ["conv-small"] * 10,
        "turn_idx": np.r_[np.arange(5000), np.arange(10)].astype(np.int32),
        "text": [f"turn {i}" for i in range(5000)] + ["x"] * 10,
    })
    df = spark.createDataFrame(pdf).repartition(8, F.xxhash64("turn_idx"))
    stripes = pipeline.encode_dataframe(df, "conv_id", "turn_idx", stripe_rows=1000)
    per_stripe = (stripes.filter(F.col("col_name") == "turn_idx")
                  .select("stripe_id", "n_rows").collect())
    giant_stripes = [r for r in per_stripe if r["n_rows"] >= 900]
    assert len(giant_stripes) >= 5, f"expected ≥5 sub-stripes, got {per_stripe}"
    assert max(r["n_rows"] for r in per_stripe) <= 1010 + 1000, "stripe cap blown"
    got = (pipeline.roundtrip(df, "conv_id", "turn_idx", stripe_rows=1000)
           .orderBy("conv_id", "turn_idx").toPandas())
    exp = pdf.sort_values(["conv_id", "turn_idx"], ignore_index=True)
    assert_frames_equal(exp, got)


def test_stripe_pruning_via_manifest(spark, small_transcripts, tmp_path):
    out = str(tmp_path / "enc")
    pipeline.encode_job(spark, small_transcripts, out, stripe_rows=500)
    facts = [r for r in pipeline._log(out)[0] if r["status"] == "ok"]
    assert all(r["key_min"] is not None for r in facts)
    # prune to stripes that can contain one conversation
    target = "conv-0000000003"
    pred = (F.col("key_min") <= target) & (F.col("key_max") >= target)
    dec = pipeline.decode_job(spark, out, stripe_predicate=pred)
    got = dec.filter(F.col("conv_id") == target).orderBy("turn_idx").toPandas()
    exp = (small_transcripts.filter(F.col("conv_id") == target)
           .orderBy("turn_idx").toPandas())
    assert len(got) == len(exp) > 0
    assert_frames_equal(exp, got)
    n_kept = sum(r["key_min"] <= target <= r["key_max"] for r in facts)
    assert n_kept < len(facts), "pruning should skip some stripes"


def test_events_table_roundtrip(spark):
    """Real driver testdata (sf0.001 events: int64/ts/string/double)."""
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    dec = pipeline.roundtrip(df, "event_id", None, stripe_rows=400,
                             sort_keys=["event_id"])
    exp = df.orderBy("event_id").toPandas()
    got = dec.orderBy("event_id").toPandas()
    assert_frames_equal(exp, got)


def test_explain_has_pushed_filter_on_col_name(spark, small_transcripts):
    """Column pruning must reach the stripe rows before the decode kernel:
    roundtrip filters ``col_name`` IN the pruned columns between the
    encode and decode kernels, the in-memory analog of
    read_stripe_column's projection pushdown (decode_job pushes the same
    filter into its pyarrow read of each stripe file)."""
    dec = pipeline.roundtrip(small_transcripts, "conv_id", "turn_idx",
                             stripe_rows=500, columns=["conv_id", "role"])
    plan = _executed_plan(dec)
    assert "Filter" in plan and "col_name" in plan
    assert "IN (conv_id,role)" in plan


def test_streaming_decode_stripe_straddles_arrow_batches(spark):
    """The streaming decode yields each stripe as soon as its rows are
    complete instead of materializing the whole partition. Force
    stripe-column rows to straddle Arrow batch boundaries (2-row batches,
    3-row stripes) and check the roundtrip stays exact — the straddling
    stripe must be carried over, never decoded twice or split."""
    import pandas as pd
    from pyspark.sql import functions as F

    from orc_format_spark import pipeline

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        pdf = pd.DataFrame({
            "k": list(range(1000)),
            "s": [f"v{i % 13}" for i in range(1000)],
            "x": [float(i) * 0.5 for i in range(1000)],
        })
        df = spark.createDataFrame(pdf)
        # 10 stripes x 3 columns = 30 stripe rows; a 3-row stripe never
        # fits one 2-row batch, so every stripe straddles a boundary
        dec = pipeline.roundtrip(df, key_col="k", order_col=None,
                                 sort_keys=["k"], stripe_rows=50,
                                 n_buckets=10)
        got = dec.orderBy("k").toPandas()
        pd.testing.assert_frame_equal(
            got.reset_index(drop=True),
            pdf.sort_values("k", ignore_index=True))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
