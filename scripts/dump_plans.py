"""Dump the physical plans of the encode and (column-pruned) decode jobs to
EXPLAIN.md — evidence that the plans are the ones we want: one pinned-width
Exchange to encode, a col_name filter before the roundtrip's decode
kernel, no Exchange at all to decode a persisted table."""

from __future__ import annotations

import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from orc_format_spark import pipeline, transcripts  # noqa: E402
from orc_format_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    import contextlib
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    out = io.StringIO()
    out.write("# EXPLAIN — physical plans of the engine's jobs\n\n")
    out.write("Generated by scripts/dump_plans.py. What to look for:\n"
              "- encode: ONE `Exchange hashpartitioning(__probe, p)` (pinned\n"
              "  width; `__probe` places stripe group (bucket+salt) mod p on\n"
              "  exactly that partition — deterministic round-robin balance,\n"
              "  see pipeline._partition_probes), then the Arrow UDF — no\n"
              "  Sort (the kernel sorts each partition in Arrow) and no\n"
              "  other shuffles.\n"
              "- encode_job: the same Exchange, then ONE `MapInArrow` that\n"
              "  sorts, skips the stripes the log holds, encodes and writes\n"
              "  each task's stripes to one file and yields their facts rows\n"
              "  — the one job the driver collects before it creates the\n"
              "  next lineage version holding them as 'ok' rows.\n"
              "- roundtrip of an IN-MEMORY frame (column-pruned): the\n"
              "  encode's one Exchange, then `Filter col_name IN (...)` and\n"
              "  the decode `MapInArrow` in the same stage — no second\n"
              "  Exchange (the encode output is already stripe-clustered).\n"
              "- decode_job of a persisted table: pruning already ran on the\n"
              "  driver's read of the lineage, so the plan is only a\n"
              "  `LocalTableScan` of (file, keep-list) rows under `MapInArrow`\n"
              "  — no Exchange, plain or pruned. A nested column is decoded\n"
              "  as its leaves and rebuilt to the schema the table recorded\n"
              "  inside that `MapInArrow`: no `Project` above it.\n\n")

    import tempfile
    with tempfile.TemporaryDirectory() as d:
        transcripts.generate(spark, n_convs=200, seed=42).write.parquet(f"{d}/in")
        df = spark.read.parquet(f"{d}/in")

        stripes = pipeline.encode_dataframe(df, "conv_id", "turn_idx", stripe_rows=2000)
        out.write("## encode_dataframe\n\n```\n" + plan_of(stripes) + "\n```\n\n")

        rich = pipeline.encode_dataframe(transcripts.enrich(df),
                                         "conv_id", "turn_idx",
                                         stripe_rows=2000)
        out.write("## encode_dataframe (rich nested tool_calls)\n\n"
                  "What to look for: the same plan as the flat encode — the\n"
                  "nested `tool_calls` column crosses the one Exchange whole\n"
                  "and the encode `MapInArrow` flattens it to its leaves in\n"
                  "Arrow (pipeline._leaves): no flatten `Project`, and nesting\n"
                  "adds zero shuffles.\n\n```\n" + plan_of(rich) + "\n```\n\n")

        # the frame commit (so encode_job) collects: nothing committed
        # yet, so nothing skipped
        written = pipeline._encoded_facts(
            df, f"{d}/plan_only", "r0",
            {"n_buckets": None, "stripe_rows": 2000, "key_col": "conv_id",
             "order_col": "turn_idx", "bloom_cols": ["conv_id"]}, set())
        out.write("## encode_job (one kernel: sort, skip, encode, write)\n\n"
                  "What to look for: `Exchange` -> `MapInArrow`, with no\n"
                  "`Sort`: one kernel per task sorts its partition in Arrow,\n"
                  "drops the groups the log already holds, encodes the\n"
                  "others and writes them to the task's one stripe file;\n"
                  "only the small facts rows reach the driver.\n\n```\n"
                  + plan_of(written) + "\n```\n\n")

        rt = pipeline.roundtrip(df, "conv_id", "turn_idx", stripe_rows=2000,
                                columns=["conv_id", "turn_idx", "role"])
        out.write("## roundtrip (column-pruned)\n\n"
                  "What to look for: the encode plan, then `Filter` on\n"
                  "`col_name` and the decode `MapInArrow` with no second\n"
                  "Exchange: the decode kernel groups the stripe-contiguous\n"
                  "encode output by stripe (pipeline._decode_runs).\n\n```\n"
                  + plan_of(rt) + "\n```\n\n")

        pipeline.encode_job(spark, df, d, stripe_rows=2000)
        plain = pipeline.decode_job(spark, d)
        pruned = pipeline.decode_job(
            spark, d, stripe_predicate=(F.col("key_min") <= "conv-0000000001"))
        lookup = pipeline.decode_job(spark, d, key_equals="conv-0000000001")
        out.write("## decode_job (plain, stripe_predicate, key_equals)\n\n"
                  "What to look for: the same plan three times, a\n"
                  "`LocalTableScan` of (path, keep) rows feeding `MapInArrow`\n"
                  "with no Exchange. Stripe pruning (the stripe predicate,\n"
                  "the key bloom probe) already ran on the driver's read of\n"
                  "the log, so it only shrinks the scanned rows; the stripe\n"
                  "bytes are read by the decode tasks themselves, one file\n"
                  "per task.\n\n"
                  "### plain\n\n```\n" + plan_of(plain) + "\n```\n\n"
                  "### stripe_predicate\n\n```\n" + plan_of(pruned)
                  + "\n```\n\n"
                  "### key_equals\n\n```\n" + plan_of(lookup)
                  + "\n```\n\n")

        pipeline.encode_job(spark, transcripts.enrich(df), f"{d}/rich",
                            stripe_rows=2000)
        nested = pipeline.decode_job(spark, f"{d}/rich")
        out.write("## decode_job (nested tool_calls, re-nested to the recorded "
                  "schema)\n\n"
                  "What to look for: the same `LocalTableScan` ->\n"
                  "`MapInArrow` as a flat table, and nothing above it: the\n"
                  "kernel decodes the leaves (`tool_calls·...`) and rebuilds\n"
                  "`tool_calls` from them in Arrow (pipeline._renest), emitting\n"
                  "the schema the lineage recorded at encode exactly, as\n"
                  "roundtrip emits df.schema: no Exchange, no `Project`.\n\n```\n"
                  + plan_of(nested) + "\n```\n\n")

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        from orc_format_spark.ops import dedup
        pairs = dedup.embedding_cosine_dups(emb, threshold=0.9)
        out.write("## embedding_cosine_dups (vectors stay OUT of the LSH shuffle)\n\n"
                  "What to look for: the explode/bucket self-join side exchanges\n"
                  "only (vec_id, table, bucket) — no `unit`/embedding column in\n"
                  "those Exchanges; the unit vectors are computed JVM-side\n"
                  "(whole-stage codegen `transform`/`aggregate`) and join back\n"
                  "by id AFTER the pair dedup.\n\n```\n"
                  + plan_of(pairs) + "\n```\n")

        from orc_format_spark.ops import similarity
        similarity.build_ann_index(emb, f"{d}/ann_index", n_planes=6,
                                   seed=42)
        q = [float(x) for x in
             emb.orderBy("vec_id").first()["embedding"]]
        probe = similarity.probe_ann_index(spark, f"{d}/ann_index", q,
                                           k=10, n_probes=3)
        out.write("## probe_ann_index (persisted LSH index, one file per bucket)\n\n"
                  "What to look for: the scan's `Location` lists only the\n"
                  "files the index's lineage names for the probed buckets\n"
                  "(~(n_probes+1)/2^planes of the corpus; no PartitionFilters,\n"
                  "no partition discovery); nothing is re-bucketized per\n"
                  "query, and the top-k is a TakeOrderedAndProject over\n"
                  "those files.\n\n```\n"
                  + plan_of(probe) + "\n```\n")

        queries = (emb.orderBy("vec_id").limit(50)
                   .select(F.col("vec_id").alias("query_id"),
                           F.col("embedding").alias("query_vec")))
        batch = similarity.probe_ann_index_many(
            spark, f"{d}/ann_index", queries, k=5, n_probes=3)
        out.write("## probe_ann_index_many (batch probe — the production shape)\n\n"
                  "What to look for: the query set bucketizes in ONE\n"
                  "`MapInArrow` (vectorized matmul, no per-row Python) and\n"
                  "joins the index on `bucket` only; with a small query set the\n"
                  "index scan lists only the probed buckets' files and the\n"
                  "exploded query side is BROADCAST (no index shuffle); the\n"
                  "per-query top-k is a window over (query_id)\n"
                  "— at millions of queries the same plan degrades gracefully\n"
                  "to one shuffle join on bucket, never all-pairs.\n\n```\n"
                  + plan_of(batch) + "\n```\n")

        similarity.build_ivf_index(emb, f"{d}/ivf_index", n_lists=8,
                                   seed=42, train_rows=2048)
        ivf = similarity.probe_ivf_index(spark, f"{d}/ivf_index", q,
                                         k=10, n_probes=2)
        out.write("## probe_ivf_index (persisted IVF index, one file per cell)\n\n"
                  "What to look for: same pruning shape as the LSH probe but\n"
                  "with data-adaptive k-means cells — the scan's `Location`\n"
                  "lists only the n_probes nearest cells' files, centroid\n"
                  "ranking is driver-side (n_lists dot products), and the\n"
                  "top-k is a TakeOrderedAndProject over those files.\n\n```\n"
                  + plan_of(ivf) + "\n```\n")

        ivf_batch = similarity.probe_ivf_index_many(
            spark, f"{d}/ivf_index", queries, k=5, n_probes=2)
        out.write("## probe_ivf_index_many (batch IVF probe)\n\n"
                  "What to look for: one `MapInArrow` assigns each query its\n"
                  "n_probes nearest cells (one matmul per Arrow batch against\n"
                  "the broadcast centroid matrix), ONE join on `list_id`\n"
                  "against the index (only the probed cells' files +\n"
                  "broadcast query side when few distinct cells are probed),\n"
                  "window top-k per query.\n\n```\n"
                  + plan_of(ivf_batch) + "\n```\n")

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        npairs = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.8)
        out.write("## ngram_jaccard_pairs (exact prefix-filtered "
                  "set-similarity join)\n\n"
                  "What to look for: shuffles carry only skinny\n"
                  "(g, doc_id, setsz) prefix rows — the candidate self-join\n"
                  "keys on the per-doc RAREST n-grams (global df order), so\n"
                  "bucket sizes are small by construction and boilerplate\n"
                  "n-grams never enter a join key; full n-gram sets appear\n"
                  "only in the final candidates-only verify joins\n"
                  "(array_intersect, whole-stage codegen), never in the\n"
                  "pair-generation exchange.\n\n```\n"
                  + plan_of(npairs) + "\n```\n")

    with open(os.path.join(ROOT, "EXPLAIN.md"), "w") as f:
        f.write(out.getvalue())
    print("wrote EXPLAIN.md")
    spark.stop()


if __name__ == "__main__":
    main()
