"""spark-submit entry point for the encode job (north_rule submission mode).

Usage:
    spark-submit --master local[32] --py-files orc_format_spark.zip \
        scripts/submit_encode.py <input_parquet> <out_dir> \
        [--key conv_id] [--order turn_idx] [--stripe-rows 65536]

Resumable: rerunning with the same out_dir commits only the stripes the
table's lineage does not hold yet.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("input")
    ap.add_argument("out_dir")
    ap.add_argument("--key", default="conv_id")
    ap.add_argument("--order", default="turn_idx")
    ap.add_argument("--stripe-rows", type=int, default=65_536)
    args = ap.parse_args()

    spark = (SparkSession.builder.appName("orc-format-spark-encode")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.adaptive.enabled", "true")
             .getOrCreate())

    from orc_format_spark import pipeline  # shipped via --py-files

    df = spark.read.parquet(args.input)
    order = args.order if args.order in df.columns else None
    stats = pipeline.encode_job(spark, df, args.out_dir, key_col=args.key,
                                order_col=order, stripe_rows=args.stripe_rows)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
