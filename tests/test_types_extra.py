"""binary / decimal / varchar-char column kinds through the full Spark
encode->decode pipeline (the reference's Kind::Binary/Decimal/Varchar/Char,
src/proto.rs:184-203)."""

import decimal

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orc_format_spark import pipeline


def _roundtrip(spark, df):
    return pipeline.roundtrip(df, df.columns[0], None,
                              sort_keys=[df.columns[0]], stripe_rows=64)


def test_binary_roundtrip_with_nulls(spark):
    rows = [(i, bytes([i % 256]) * (i % 5) if i % 7 else None)
            for i in range(300)]
    df = spark.createDataFrame(rows, schema="id long, blob binary")
    got = _roundtrip(spark, df).orderBy("id").toPandas()
    exp = df.orderBy("id").toPandas()
    assert [bytes(x) if x is not None else None for x in got["blob"]] == \
           [bytes(x) if x is not None else None for x in exp["blob"]]


def test_decimal_roundtrip_with_nulls(spark):
    vals = [decimal.Decimal("12.34"), None, decimal.Decimal("-99999.99"),
            decimal.Decimal("0.01"), decimal.Decimal("8888777.66")] * 50
    pdf = pd.DataFrame({"id": range(len(vals)), "d": vals})
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("d", T.DecimalType(12, 2))])
    df = spark.createDataFrame(pdf, schema=schema)
    got = _roundtrip(spark, df).orderBy("id").toPandas()
    assert got["d"].tolist() == vals


def test_decimal_precision_22_roundtrip(spark):
    """p>18 decimals ride the dec128 (lo64,hi64) word streams (was a loud
    error pre-r3)."""
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("d", T.DecimalType(22, 2))])
    rows = [(1, decimal.Decimal("12345678901234567890.12")),
            (2, decimal.Decimal("-9999999999999999999.99")),
            (3, None)]
    df = spark.createDataFrame(rows, schema=schema)
    got = {r["id"]: r["d"] for r in _roundtrip(spark, df).collect()}
    assert got == dict((i, d) for i, d in rows)


def test_varchar_char_roundtrip(spark):
    spark.sql("DROP TABLE IF EXISTS vc_tmp")
    df = spark.createDataFrame([(1, "ab", "xy"), (2, "cde", "zz")],
                               schema="id long, v string, c string")
    df = (df.withColumn("v", F.col("v").cast(T.VarcharType(10)))
          .withColumn("c", F.col("c").cast(T.CharType(2))))
    got = _roundtrip(spark, df).orderBy("id").toPandas()
    assert got["v"].tolist() == ["ab", "cde"]
    assert got["c"].tolist() == ["xy", "zz"]


def test_decimal_stride_skipping(spark):
    vals = [decimal.Decimal(f"{i}.25") for i in range(2000)]
    pdf = pd.DataFrame({"id": range(2000), "d": vals})
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("d", T.DecimalType(12, 2))])
    df = spark.createDataFrame(pdf, schema=schema)
    # predicate on the decimal column itself (mantissa-scaled bounds)
    lo, hi = 50025, 50125  # 500.25 .. 501.25 as scale-2 mantissa
    out = pipeline.roundtrip(df, "id", None, sort_keys=["id"],
                             stripe_rows=2000, index_rows=200,
                             columns=["id", "d"], stride_range=("d", lo, hi))
    got = out.toPandas()
    assert len(got) <= 400  # at most two strides decoded
    assert decimal.Decimal("500.25") in set(got["d"])
