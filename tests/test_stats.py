"""Statistical operators: EWMA fold parity with pandas' recursive form."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ecommerce_event_pipeline_spark.functions import stats


def test_ewma_matches_pandas_recursive(spark):
    """The explicit left fold must equal pandas ewm(adjust=False) — the
    canonical s_t = a*x_t + (1-a)*s_(t-1) — at every prefix point."""
    import pandas as pd

    base = dt.datetime(2024, 1, 1, 12)
    counts = [5, 9, 2, 7, 7, 1, 4]
    rows = []
    eid = 0
    for day, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, base + dt.timedelta(days=day), 1, "view", 0.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).withColumn("event_date", F.to_date("ts"))
    got = [
        (r["event_date"], r["event_count"], r["ewma"])
        for r in stats.ewma_daily_counts(ev, alpha=0.2).collect()
    ]
    expect = pd.Series([float(c) for c in counts]).ewm(alpha=0.2, adjust=False).mean()
    for i, (d, c, e) in enumerate(got):
        assert d == (base + dt.timedelta(days=i)).date()
        assert c == counts[i]
        assert abs(e - round(expect.iloc[i], 4)) < 1e-9, (i, e, expect.iloc[i])


def test_ewma_single_day_is_identity(spark):
    ev = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1, "view", 0.0, "{}")] * 3,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).withColumn("event_date", F.to_date("ts"))
    out = stats.ewma_daily_counts(ev).collect()
    assert len(out) == 1 and out[0]["ewma"] == 3.0


def test_daily_volume_anomaly_rule_integer_boundaries(spark):
    """2c > 3m / 2c < m boundaries: exactly 1.5x median is NOT anomalous
    (strict >), just above is; the trailing frame excludes today."""
    import datetime as dt

    from ecommerce_event_pipeline_spark import registry

    base = dt.datetime(2024, 3, 1, 10)
    counts = [10, 10, 10, 10, 10, 10, 10, 15, 16, 4]
    rows = []
    eid = 0
    for day, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, base + dt.timedelta(days=day), 1, "view", 0.0, "{}"))
            eid += 1
    import glob
    import os
    import shutil

    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    # route through the registry entry via a fixture-shaped dir
    src = os.path.join(str(spark.conf.get("spark.sql.warehouse.dir")).replace("file:", ""), "anom_stage")
    df.coalesce(1).write.parquet(src, mode="overwrite")
    part = glob.glob(os.path.join(src, "part-*.parquet"))[0]
    fixture = src + "_dir"
    os.makedirs(fixture, exist_ok=True)
    shutil.copy(part, os.path.join(fixture, "events.parquet"))

    out = registry.queries()["daily_volume_anomalies"](spark, fixture).collect()
    flags = {r["event_date"].day: (r["event_count"], r["trail_median"], r["is_anomaly"]) for r in out}
    # day 8 (count 15, median 10): 30 > 30 is false -> NOT anomalous
    assert flags[8] == (15, 10, False)
    # day 9 (count 16, median 10): 32 > 30 -> anomalous
    assert flags[9] == (16, 10, True)
    # day 10 (count 4, median 10): 8 < 10 -> anomalous
    assert flags[10] == (4, 10, True)


def test_grouped_exact_percentiles_matches_builtin(spark):
    """Distributed rank-selection must be BIT-identical to Spark's exact
    `percentile` aggregate (which is itself oracle-matched to DuckDB's
    quantile_cont) — including interpolated positions, a group smaller
    than the partition count, and a skewed big group."""
    from pyspark.sql import functions as F

    from ecommerce_event_pipeline_spark.functions.stats import (
        grouped_exact_percentiles,
    )

    rows = []
    for i in range(2000):
        rows.append(("big", (i * 7919 % 4001) / 7.0))
    for i in range(3):
        rows.append(("tiny", float(i)))
    for i in range(137):
        rows.append(("mid", (i * 31 % 97) * 1.5))
    df = spark.createDataFrame(rows, "g string, v double")
    ps = {"p50": 0.5, "p90": 0.9, "p99": 0.99}
    got = {
        r["g"]: (r["p50"], r["p90"], r["p99"])
        for r in grouped_exact_percentiles(df, "v", ps, ["g"]).collect()
    }
    exp = {
        r["g"]: (r["p50"], r["p90"], r["p99"])
        for r in df.groupBy("g")
        .agg(
            F.percentile("v", F.lit(0.5)).alias("p50"),
            F.percentile("v", F.lit(0.9)).alias("p90"),
            F.percentile("v", F.lit(0.99)).alias("p99"),
        )
        .collect()
    }
    assert got == exp  # exact equality, not approx — bit parity is the point


def test_grouped_exact_percentiles_rejects_empty_dict(spark):
    from ecommerce_event_pipeline_spark.functions.stats import (
        grouped_exact_percentiles,
    )

    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    with pytest.raises(ValueError, match="percentiles"):
        grouped_exact_percentiles(df, "v", {}, ["g"])


def test_lineitem_stats_keep_sign_of_negative_values_rounded_to_zero(
    spark, tmp_path
):
    """A correlation in (-0.00005, 0) rounds to -0.0 in DuckDB's ROUND
    and to 0.0 in Spark's; the query must give the oracle's -0.0 (and
    likewise for a covariance in (-0.005, 0))."""
    import duckdb

    from ecommerce_event_pipeline_spark import registry

    rows = [("A", 1.0, 1000.0), ("A", 2.0, 0.0), ("A", 3.0, 999.99)]
    spark.createDataFrame(
        rows, "l_returnflag string, l_quantity double, l_extendedprice double"
    ).coalesce(1).write.parquet(f"{tmp_path}/lineitem.parquet")
    got = registry.queries()["lineitem_stats_by_flag"](
        spark, str(tmp_path)
    ).collect()[0]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{tmp_path}/lineitem.parquet/*.parquet'"
    )
    exp = con.execute(registry.oracle_sql()["lineitem_stats_by_flag"]).fetchone()
    assert -0.00005 < con.execute(
        "SELECT corr(l_quantity, l_extendedprice) FROM lineitem"
    ).fetchone()[0] < 0
    assert repr(got["qty_price_corr"]) == repr(exp[2]) == "-0.0"
    assert repr(got["qty_price_covar"]) == repr(exp[3]) == "-0.0"


def test_value_percentiles_null_and_all_null_groups(spark):
    """Percentiles rank only non-null values; event_count counts all
    rows; an all-null group keeps NULL percentiles."""
    from pyspark.sql import functions as F

    from ecommerce_event_pipeline_spark.functions.stats import (
        value_percentiles,
    )

    rows = [("a", float(v)) for v in range(10)] + [
        ("a", None),
        ("nulls", None),
        ("nulls", None),
    ]
    df = spark.createDataFrame(rows, "event_type string, value double")
    out = {r["event_type"]: r for r in value_percentiles(df).collect()}
    assert out["a"]["event_count"] == 11
    assert out["a"]["p50"] == 4.5  # median of 0..9, nulls excluded
    assert out["nulls"]["event_count"] == 2
    assert out["nulls"]["p50"] is None


def test_grouped_ntile_histogram_matches_per_row_ntile(spark):
    """The value-support histogram (r13 opt) must be bit-identical to
    aggregating the exact per-row grouped_ntile: heavy exact-value ties
    straddling bucket boundaries, group sizes not divisible by the
    bucket count, and a group smaller than the bucket count."""
    import random

    from ecommerce_event_pipeline_spark.functions.stats import (
        grouped_ntile_histogram,
    )
    from ecommerce_event_pipeline_spark.operators.windows import grouped_ntile

    rnd = random.Random(13)
    rows = []
    rid = 0
    for g, (n, vals) in {
        "a": (37, [1.0, 2.5, 2.5, 7.0]),   # ties straddle boundaries
        "b": (10, [0.0]),                   # one giant tie run
        "c": (3, [5.0, 6.0]),               # n < buckets
        "d": (101, [float(v) for v in range(9)]),
    }.items():
        for _ in range(n):
            rows.append((g, rnd.choice(vals), rid))
            rid += 1
    df = spark.createDataFrame(rows, "g string, v double, rid long")

    hist = {
        (r["g"], r["bucket"]): (r["n"], r["min_v"], r["max_v"])
        for r in grouped_ntile_histogram(
            df.select("g", "v"), 4, ["g"], "v", num_partitions=5
        ).collect()
    }
    per_row = grouped_ntile(df, 4, ["g"], ["v", "rid"], out_col="q",
                            num_partitions=5)
    expect = {
        (r["g"], r["q"]): (r["n"], r["mn"], r["mx"])
        for r in per_row.groupBy("g", "q")
        .agg(F.count("*").alias("n"), F.min("v").alias("mn"),
             F.max("v").alias("mx"))
        .collect()
    }
    assert hist == expect
