"""Writer semantics: idempotent per-date overwrite, observed writes."""

from __future__ import annotations

from ecommerce_event_pipeline_spark.sources.writers import (
    write_partitioned_parquet,
)

from .conftest import events_df, make_event


def test_dynamic_partition_overwrite_is_per_date(spark, tmp_path):
    path = str(tmp_path / "mart")
    day1 = [make_event("page_view", timestamp="2026-01-15T10:00:00")]
    day2 = [make_event("page_view", timestamp="2026-01-16T10:00:00")]
    write_partitioned_parquet(events_df(spark, day1 + day2), path)
    assert spark.read.parquet(path).count() == 2

    # re-run day2 only with 2 rows: day1 partition must survive untouched
    day2_rerun = [
        make_event("page_view", timestamp="2026-01-16T11:00:00"),
        make_event("click", timestamp="2026-01-16T12:00:00"),
    ]
    write_partitioned_parquet(events_df(spark, day2_rerun), path)
    out = spark.read.parquet(path)
    assert out.count() == 3
    assert out.where("event_date = '2026-01-15'").count() == 1
    assert out.where("event_date = '2026-01-16'").count() == 2


def test_write_observed_parquet_metrics_without_second_scan(spark, tmp_path):
    """observe() metrics must come back from the write action itself:
    correct row count, caller-supplied aggregates, and the written data
    readable and partitioned as usual."""
    from pyspark.sql import functions as F

    from ecommerce_event_pipeline_spark.sources.writers import (
        write_observed_parquet,
    )

    df = spark.range(100).select(
        (F.col("id") % 3).cast("string").alias("event_date"),
        F.col("id").alias("v"),
    )
    out = str(tmp_path / "observed")
    m = write_observed_parquet(
        df,
        out,
        partition_col="event_date",
        metrics={"v_sum": F.sum("v"), "v_nulls": F.count(F.when(F.col("v").isNull(), 1))},
    )
    assert m["rows_written"] == 100
    assert m["v_sum"] == sum(range(100))
    assert m["v_nulls"] == 0
    back = spark.read.parquet(out)
    assert back.count() == 100
    assert set(back.columns) == {"event_date", "v"}
