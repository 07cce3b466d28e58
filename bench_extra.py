"""Round-6 optimization measurement harness (bench.py stays FROZEN).

Times every driver-bench query with the same best-of-2 hot methodology as
bench.py, optionally dumps .explain("formatted") per query, and can isolate
a single query for iteration. Prints one JSON line.

Usage:
    python bench_extra.py                        # all bench queries
    python bench_extra.py --plans plans/r06 --suffix before
    python bench_extra.py --only ann_batch_probe stride_pruned_lookup
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench_extra.py
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

BENCH_QUERIES = [
    "roundtrip_events", "roundtrip_lineitem", "fsst_doc_text",
    "dedup_exact", "text_quality", "ann_topk", "dedup_minhash",
    "stride_pruned_lookup", "embedding_dups", "ann_lsh_topk",
    "ann_batch_probe", "orc_pruned_read", "ngram_jaccard",
    "token_count", "ann_ivf_topk",
]


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    args = sys.argv[1:]
    only = None
    plans_dir = None
    suffix = "before"
    repeats = 2
    if "--only" in args:
        i = args.index("--only")
        only = []
        for a in args[i + 1:]:
            if a.startswith("--"):
                break
            only.append(a)
    if "--plans" in args:
        plans_dir = args[args.index("--plans") + 1]
    if "--suffix" in args:
        suffix = args[args.index("--suffix") + 1]
    if "--repeats" in args:
        repeats = int(args[args.index("--repeats") + 1])

    from orc_format_spark.session import get_spark
    from orc_format_spark import pipeline, transcripts
    import __spark_entry__ as entrymod

    spark = get_spark(app="bench-extra")
    spark.sparkContext.setLogLevel("ERROR")

    names = only or BENCH_QUERIES
    queries: dict[str, float] = {}
    samples: dict[str, list] = {}

    # encode legs (same shapes as bench.py), only when not --only-filtered out
    encode_legs = (only is None or any(n.startswith("encode") for n in (only or [])))
    if encode_legs:
        from bench import _encode_once, N_CONVS, STRIPE_ROWS
        df = transcripts.generate(spark, N_CONVS, seed=42)
        df.cache()
        df.count()
        _encode_once(spark, df)  # warm every worker
        runs = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            _encode_once(spark, df)
            runs.append(time.perf_counter() - t0)
        queries["encode_transcripts"] = min(runs)
        samples["encode_transcripts"] = [round(r, 2) for r in runs]

        runs = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            dec = pipeline.roundtrip(df, "conv_id", "turn_idx",
                                     stripe_rows=STRIPE_ROWS)
            dec.count()
            runs.append(time.perf_counter() - t0)
        queries["encode_decode_transcripts"] = min(runs)
        samples["encode_decode_transcripts"] = [round(r, 2) for r in runs]

        rich = transcripts.enrich(df)
        runs = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            _encode_once(spark, rich)
            runs.append(time.perf_counter() - t0)
        queries["encode_rich_transcripts"] = min(runs)
        samples["encode_rich_transcripts"] = [round(r, 2) for r in runs]
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            stripes = pipeline.encode_dataframe(df, "conv_id", "turn_idx",
                                                stripe_rows=STRIPE_ROWS)
            with open(f"{plans_dir}/encode_transcripts_{suffix}.txt", "w") as f:
                f.write(plan_of(stripes))
            dec = pipeline.roundtrip(df, "conv_id", "turn_idx",
                                     stripe_rows=STRIPE_ROWS)
            with open(f"{plans_dir}/encode_decode_transcripts_{suffix}.txt",
                      "w") as f:
                f.write(plan_of(dec))
            richs = pipeline.encode_dataframe(rich, "conv_id", "turn_idx",
                                              stripe_rows=STRIPE_ROWS)
            with open(f"{plans_dir}/encode_rich_transcripts_{suffix}.txt",
                      "w") as f:
                f.write(plan_of(richs))
        df.unpersist()

    for name in names:
        if name.startswith("encode"):
            continue
        fn = entrymod.queries()[name]
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        runs = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).count()
            runs.append(time.perf_counter() - t0)
        queries[name] = min(runs)
        samples[name] = [round(r, 2) for r in runs]
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            with open(f"{plans_dir}/{name}_{suffix}.txt", "w") as f:
                f.write(plan_of(fn(spark, SF_DIR)))
        spark.sparkContext.setJobDescription(None)

    total = sum(queries.values())
    print(json.dumps({
        "metric": "bench_extra_total_sec", "value": round(total, 2),
        "unit": "sec", "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "queries": {k: round(v, 2) for k, v in queries.items()},
        "samples": samples,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
