"""UDF surface: vectorized median aggregate + batch inference UDF."""

from __future__ import annotations

from pyspark.sql import functions as F

from ecommerce_event_pipeline_spark.functions import udx


def test_pandas_median_udaf_matches_exact_median(spark):
    rows = [("a", float(v)) for v in [1, 3, 2, 10]] + [
        ("b", float(v)) for v in [5, 1, 9]
    ]
    df = spark.createDataFrame(rows, "event_type string, value double")
    out = {r["event_type"]: r for r in udx.value_median_by_type(df).collect()}
    assert out["a"]["median_value"] == 2.5  # interpolated even-n median
    assert out["b"]["median_value"] == 5.0
    assert out["a"]["n_values"] == 4


def test_embedding_inference_plan_is_arrow_and_shuffle_free(spark):
    """The inference pass must be a pure Arrow-batched projection: scalar
    pandas UDF (ArrowEvalPython), no exchange anywhere — it composes with
    downstream filters at scan speed."""
    from pyspark.sql import functions as F

    from ecommerce_event_pipeline_spark.functions import udx

    emb = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.lit("x").alias("label"),
        F.array(*[(F.col("id") * (i + 1) % 7).cast("float") / 7.0
                  for i in range(udx.INFERENCE_DIM)]).alias("embedding"),
    )
    out = udx.embedding_inference(emb)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan, plan[:1500]
    assert "Exchange hashpartitioning" not in plan, plan[:1500]
    rows = out.collect()
    assert len(rows) == 50
    # deterministic: second run bit-identical
    assert [tuple(r) for r in out.collect()] == [tuple(r) for r in rows]


def test_embedding_inference_survives_empty_partitions(spark):
    """Empty Arrow batches (empty partitions, or an empty frame) must not
    crash the scorer — np.stack on zero arrays raises without the guard."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ecommerce_event_pipeline_spark.functions import udx

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("label", StringType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    empty = spark.createDataFrame([], schema)
    assert udx.embedding_inference(empty).count() == 0
    # one row spread over many partitions -> most batches empty
    one = spark.createDataFrame(
        [(1, "x", [0.1] * udx.INFERENCE_DIM)], schema
    ).repartition(8)
    assert udx.embedding_inference(one).count() == 1
