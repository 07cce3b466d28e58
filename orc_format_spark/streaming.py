"""Structured Streaming encode path.

Transcripts arrive as a stream (file drops / Kafka at real scale); each
micro-batch is encoded through the SAME deterministic stripe pipeline and
committed with lineage, so streaming output is indistinguishable from a
batch encode of the union of batches.

Exactly-once: Spark's checkpoint gives at-least-once foreachBatch
invocations; stripe ids are prefixed with the batch id and commit skips the
ids the lineage already holds, so a replayed batch re-derives identical
stripe ids and publishes nothing (idempotent) — the streaming analog of the
batch resume path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import pipeline


def encode_stream(stream_df: DataFrame, out_dir: str, checkpoint_dir: str,
                  key_col: str = "conv_id", order_col: str | None = "turn_idx",
                  stripe_rows: int = pipeline.DEFAULT_STRIPE_ROWS,
                  n_buckets: int = 64, trigger_available_now: bool = True,
                  compact_every: int | None = None):
    """Start a streaming query that encodes each micro-batch into
    ``out_dir``/{stripes,lineage}. Returns the StreamingQuery. Each batch
    is one encode-and-write job plus one log version, as encode_job.

    ``compact_every=N`` folds table maintenance into the stream: after
    every Nth batch commit, pipeline.compact_job merges the fragmented
    (bucket, salt) slots the micro-batches leave behind, bounding the
    table's stripe count at O(batches-since-compaction), not O(batches
    ever). Runs on the foreachBatch thread, so a slow compaction back-
    pressures the stream instead of racing it."""
    spark = stream_df.sparkSession

    params = {"n_buckets": n_buckets, "stripe_rows": stripe_rows,
              "key_col": key_col, "order_col": order_col,
              "index_rows": None, "bloom_cols": []}  # stream batches carry
    # neither stride indexes nor blooms today; recording that in lineage
    # makes a later batch-mode resume with a different layout fail fast

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # one encode kernel per task drops the stripe ids the lineage
        # already holds before encoding them, then writes the rest; the
        # cost stays O(batch) as the table grows (not O(total stripes ever))
        pipeline.commit(batch_df, out_dir, f"stream-b{batch_id}", params,
                        stripe_prefix=f"b{batch_id:08d}-")
        if compact_every and (batch_id + 1) % compact_every == 0:
            pipeline.compact_job(spark, out_dir)

    writer = (stream_df.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_transcripts_stream(spark: SparkSession, input_dir: str,
                            max_files_per_trigger: int = 8) -> DataFrame:
    """File-source transcripts stream (schema per BASELINE.json input_hint)."""
    from .transcripts import SCHEMA
    return (spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))


ROLLUP_SCHEMA = ("conv_id string, n_turns long, n_chars long, "
                 "first_ts timestamp, last_ts timestamp, n_tool_calls long")
_STATE_SCHEMA = "n_turns long, n_chars long, first_us long, last_us long, n_tool long"


def conversation_rollup(stream_df: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): a
    per-conversation running rollup — turn count, char count, first/last
    timestamp, tool-call count — maintained across micro-batches and emitted
    on every update. The hypertable-rollup analog for transcripts; state is
    O(1) per conversation regardless of turn count."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd
        if state.exists:
            n_turns, n_chars, first_us, last_us, n_tool = state.get
        else:
            n_turns = n_chars = n_tool = 0
            first_us, last_us = None, None
        for pdf in pdf_iter:
            n_turns += len(pdf)
            n_chars += int(pdf["text"].str.len().fillna(0).sum())
            n_tool += int(pdf["tool"].notna().sum())
            us = pdf["ts"].astype("datetime64[us]").astype("int64")
            lo, hi = int(us.min()), int(us.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
        state.update((n_turns, n_chars, first_us, last_us, n_tool))
        yield pd.DataFrame({
            "conv_id": [key[0]], "n_turns": [n_turns], "n_chars": [n_chars],
            "first_ts": pd.to_datetime([first_us], unit="us"),
            "last_ts": pd.to_datetime([last_us], unit="us"),
            "n_tool_calls": [n_tool],
        })

    return stream_df.groupBy("conv_id").applyInPandasWithState(
        update, ROLLUP_SCHEMA, _STATE_SCHEMA, "update",
        GroupStateTimeout.NoTimeout)
