"""Type-coverage tests for the Arrow pipeline path: date columns, float32,
booleans with nulls, and all-null columns through the full Spark
encode/decode round-trip (the testdata tables don't exercise these)."""

import datetime

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orc_format_spark import pipeline

rng = np.random.default_rng(5)


@pytest.fixture(scope="module")
def mixed_df(spark):
    n = 3000
    base = datetime.date(2024, 1, 1)
    pdf = pd.DataFrame({
        "k": np.arange(n, dtype=np.int64),
        "d": [base + datetime.timedelta(days=int(x)) if x % 7 else None
              for x in rng.integers(0, 3650, n)],
        "f32": rng.random(n).astype(np.float32),
        "f64_null": [None if i % 5 == 0 else float(i) * 0.5 for i in range(n)],
        "b": [None if i % 11 == 0 else bool(i % 3) for i in range(n)],
        "small": rng.integers(-128, 127, n).astype(np.int8),
    })
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("d", T.DateType()),
        T.StructField("f32", T.FloatType()),
        T.StructField("f64_null", T.DoubleType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("small", T.ByteType()),
    ])
    df = spark.createDataFrame(pdf, schema=schema)
    df.cache().count()
    return df


def test_mixed_types_roundtrip(spark, mixed_df):
    got = (pipeline.roundtrip(mixed_df, "k", None, sort_keys=["k"],
                              stripe_rows=500)
           .orderBy("k").toPandas())
    exp = mixed_df.orderBy("k").toPandas()
    pd.testing.assert_frame_equal(exp.reset_index(drop=True),
                                  got[exp.columns.tolist()].reset_index(drop=True),
                                  check_dtype=False)


def test_codecs_recorded_for_each_type(spark, mixed_df):
    stripes = pipeline.encode_dataframe(mixed_df, "k", None, sort_keys=["k"],
                                        stripe_rows=500)
    tags = {r["col_name"]: r["codec"]
            for r in stripes.select("col_name", "codec").distinct().collect()}
    assert tags["k"] in ("rle_v2", "for", "for_scale")
    assert tags["d"] in ("rle_v2", "for", "for_scale")
    assert tags["f32"] in ("float_raw", "float_shuf")
    assert tags["b"] == "bool_rle"


def test_single_exchange_in_encode_plan(spark, mixed_df):
    """Shuffle economy: exactly ONE Exchange on the encode path."""
    stripes = pipeline.encode_dataframe(mixed_df, "k", None, sort_keys=["k"],
                                        stripe_rows=500)
    plan = stripes._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 2, f"too many shuffles in encode plan:\n{plan[:2000]}"


def test_embeddings_array_roundtrip(spark):
    """array<float> columns (embeddings) through the full Spark pipeline."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = (pipeline.roundtrip(emb, "vec_id", None, sort_keys=["vec_id"],
                              stripe_rows=200)
           .orderBy("vec_id").toPandas())
    exp = emb.orderBy("vec_id").toPandas()
    assert got["vec_id"].tolist() == exp["vec_id"].tolist()
    assert got["label"].tolist() == exp["label"].tolist()
    for a, b in zip(exp["embedding"], got["embedding"]):
        assert np.array_equal(np.asarray(a, dtype=np.float32),
                              np.asarray(b, dtype=np.float32))
