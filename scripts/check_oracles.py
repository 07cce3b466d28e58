"""Local stand-in for the driver's correctness gate: run every
__spark_entry__ query at a given sf and diff it against its DuckDB oracle
(row count + column names + order-insensitive value multiset)."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from orc_format_spark.session import get_spark  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canon(df: pd.DataFrame) -> pd.Series:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if str(col.dtype).startswith("datetime"):
            df[c] = col.astype("datetime64[us]").astype("int64").astype(str)
        elif col.dtype == object:
            df[c] = col.map(lambda v: repr(v))
        else:
            df[c] = col.astype(str)
    joined = df.apply(lambda r: "|".join(r.values.astype(str)), axis=1)
    return joined.sort_values(ignore_index=True)


def main(sf_dir: str, only: list[str]) -> int:
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"FAIL {name}: query raised {type(exc).__name__}: {exc}")
            failures += 1
            continue
        if name not in oracles:
            # structural self-verification: a rows-only query that carries a
            # beats_zlib column asserts its own invariant — any false row is
            # a hard failure (codec_selection: chosen codec must be <= the
            # framed-zlib trial on every stripe)
            if "beats_zlib" in got.columns:
                if not bool(got["beats_zlib"].all()):
                    bad = got[~got["beats_zlib"]]
                    print(f"FAIL {name}: beats_zlib false for "
                          f"{len(bad)} group(s):\n{bad.to_string()}")
                    failures += 1
                    continue
                print(f"ok   {name}: rows-only ({len(got)} rows), "
                      f"beats_zlib all-true")
                continue
            print(f"ok   {name}: rows-only ({len(got)} rows)")
            continue
        exp = con.execute(oracles[name]).fetchdf()
        if sorted(got.columns) != sorted(exp.columns):
            print(f"FAIL {name}: columns {sorted(got.columns)} vs {sorted(exp.columns)}")
            failures += 1
            continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows {len(got)} vs {len(exp)}")
            failures += 1
            continue
        cg, ce = canon(got), canon(exp)
        if not cg.equals(ce):
            bad = (cg != ce)
            print(f"FAIL {name}: {int(bad.sum())}/{len(cg)} rows differ; first:")
            idx = bad.idxmax()
            print("  spark:", cg[idx][:200])
            print("  duck :", ce[idx][:200])
            failures += 1
        else:
            print(f"ok   {name}: {len(got)} rows match oracle")
    return failures


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.exit(main(sf, sys.argv[2:]))
