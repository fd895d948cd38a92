"""Warehouse-ops queries: CDC merge, SCD2, reconciliation,
interval joins, layout stats, integrity screens (T85+ region).

Mechanically split out of registry.py (round-10 trim, VERDICT r9 item
8; zero behavior change — the full oracle mirror is the regression
gate). Imported by registry.py after its own definitions, so pre-split
shared helpers resolve against the already-bound prefix of the
partially-initialized registry module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..operators import marts, relational
from ..operators.windows import sort_result
from ..sources.readers import read_events, read_table
from ..registry_core import register


_GAPFILL_ORACLE = """
WITH daily AS (
  SELECT o_orderdate::DATE AS day,
         round(sum(o_totalprice), 2) AS revenue,
         count(*) AS n_orders
  FROM orders WHERE o_totalprice > 450000 GROUP BY 1
),
bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
calendar AS (
  SELECT unnest(generate_series(lo::TIMESTAMP, hi::TIMESTAMP,
                                INTERVAL 1 DAY))::DATE AS day
  FROM bounds
),
f AS (
  SELECT c.day, d.revenue, d.n_orders
  FROM calendar c LEFT JOIN daily d USING (day)
),
w AS (
  SELECT day, revenue, n_orders,
    last_value(revenue IGNORE NULLS) OVER
      (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS prev_rev,
    last_value(CASE WHEN revenue IS NOT NULL THEN day END IGNORE NULLS) OVER
      (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS prev_day,
    first_value(revenue IGNORE NULLS) OVER
      (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      AS next_rev,
    first_value(CASE WHEN revenue IS NOT NULL THEN day END IGNORE NULLS) OVER
      (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      AS next_day
  FROM f
)
SELECT day, revenue,
       CAST(COALESCE(n_orders, 0) AS BIGINT) AS n_orders,
       revenue IS NULL AS is_gap,
       CASE WHEN revenue IS NOT NULL THEN revenue
            WHEN prev_rev IS NOT NULL AND next_rev IS NOT NULL THEN
              ((CAST(floor(prev_rev * 100 + 0.5) AS BIGINT)
                  * (date_diff('day', prev_day, next_day)
                     - date_diff('day', prev_day, day))
                + CAST(floor(next_rev * 100 + 0.5) AS BIGINT)
                  * date_diff('day', prev_day, day))
               // date_diff('day', prev_day, next_day)) / 100.0
            ELSE COALESCE(prev_rev, next_rev) END AS revenue_filled
FROM w
ORDER BY day
"""


@register("daily_revenue_gapfill", _GAPFILL_ORACLE)
def daily_revenue_gapfill_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification + linear interpolation of a sparse daily
    revenue series (high-value orders only, so the fixture actually has
    gaps). The unpartitioned fill window is bounded by calendar length,
    not data size."""
    from ..operators import olap

    return olap.daily_revenue_gapfill(read_table(spark, sf_dir, "orders"))


_INTERVAL_JOIN_ORACLE = """
SELECT p.event_id AS anchor_id,
       CAST(count(*) AS BIGINT) AS prior_events,
       round(sum(e.value), 2) AS prior_value
FROM events p
JOIN events e
  ON e.user_id = p.user_id
 AND e.ts >= p.ts - INTERVAL 24 HOURS
 AND e.ts < p.ts
WHERE p.event_type = 'purchase'
GROUP BY 1
ORDER BY 1
"""


@register("purchase_context_interval_join", _INTERVAL_JOIN_ORACLE)
def purchase_context_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch interval join: per purchase event, the same user's activity
    in the prior 24 h. Day-bucket equi-join + exact refine — never a
    nested-loop theta join; the oracle states the same semantics as a
    plain inequality join."""
    events = read_events(spark, sf_dir)
    anchors = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("anchor_id"),
        "user_id",
        F.col("ts").alias("anchor_ts"),
    )
    return relational.interval_activity_join(events, anchors, hours_before=24)


_CDC_MERGE_ORACLE = """
WITH changes AS (
  SELECT o_orderkey, 'P' AS o_orderstatus,
         ((CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 105) // 100)
           / 100.0 AS o_totalprice, 'U' AS op, 1 AS _seq
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice, 'D', 2
  FROM orders WHERE o_orderkey % 97 = 0
),
u AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, 'B' AS op, -1 AS _seq
  FROM orders
  UNION ALL SELECT * FROM changes
),
r AS (
  SELECT *, row_number() OVER
    (PARTITION BY o_orderkey ORDER BY _seq DESC, op DESC) AS _rn
  FROM u
)
SELECT o_orderkey, o_orderstatus,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) / 100.0 AS o_totalprice
FROM r WHERE _rn = 1 AND op <> 'D'
ORDER BY o_orderkey
"""


@register("orders_cdc_merge", _CDC_MERGE_ORACLE)
def orders_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-INTO semantics with DataFrame ops: a deterministic CDC batch
    (price-bump updates on keys ≡0 mod 7, deletes on ≡0 mod 97) applied
    to the orders base — latest-seq-wins per key, single shuffle."""
    orders = read_table(spark, sf_dir, "orders")
    updates = orders.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit("P").alias("o_orderstatus"),
        # 5% bump in exact integer cents — engine-portable, unlike
        # round(x*1.05, 2) which half-rounds differently per engine
        (
            F.expr(
                "(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 105)"
                " div 100"
            )
            / 100.0
        ).alias("o_totalprice"),
        F.lit("U").alias("op"),
        F.lit(1).cast("long").alias("_seq"),
    )
    deletes = orders.where(F.col("o_orderkey") % 97 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit("D").alias("op"),
        F.lit(2).cast("long").alias("_seq"),
    )
    return relational.cdc_merge(orders, updates.unionByName(deletes))


_SCD2_ORACLE = """
WITH base AS (
  SELECT o_custkey, o_orderdate::DATE AS order_date,
         CASE WHEN o_totalprice < 50000 THEN 'small'
              WHEN o_totalprice < 200000 THEN 'medium'
              ELSE 'large' END AS value_band,
         o_orderdate AS ots, o_orderkey
  FROM orders
),
flag AS (
  SELECT *, CASE WHEN lag(value_band) OVER w IS NULL
                   OR lag(value_band) OVER w <> value_band
                 THEN 1 ELSE 0 END AS chg
  FROM base WINDOW w AS (PARTITION BY o_custkey ORDER BY ots, o_orderkey)
),
ver AS (
  SELECT o_custkey, order_date, value_band,
         sum(chg) OVER
           (PARTITION BY o_custkey ORDER BY ots, o_orderkey) AS version
  FROM flag
),
g AS (
  SELECT o_custkey, version, value_band, min(order_date) AS valid_from
  FROM ver GROUP BY 1, 2, 3
)
SELECT o_custkey, CAST(version AS INT) AS version, value_band, valid_from,
       lead(valid_from) OVER wv AS valid_to,
       lead(valid_from) OVER wv IS NULL AS is_current
FROM g WINDOW wv AS (PARTITION BY o_custkey ORDER BY version)
ORDER BY o_custkey, version
"""


@register("customer_value_scd2", _SCD2_ORACLE)
def customer_value_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension-history rebuild: per-customer contiguous
    [valid_from, valid_to) periods of order value band via
    gaps-and-islands (lag + running change count, one sort per key)."""
    return relational.scd2_value_band_history(read_table(spark, sf_dir, "orders"))


_USER_LIFETIME_ORACLE = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS total_events,
       CAST(sum(CAST(floor(COALESCE(value, 0) * 100 + 0.5) AS BIGINT))
            AS BIGINT) / 100.0 AS total_spend,
       CAST(count(DISTINCT ts::DATE) AS BIGINT) AS active_days,
       min(ts) AS first_seen,
       max(ts) AS last_seen
FROM events
GROUP BY 1
ORDER BY 1
"""


@register("user_lifetime_incremental", _USER_LIFETIME_ORACLE)
def user_lifetime_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the user-lifetime mart
    computed from (history partials ∪ new-day partials) — the daily
    pipeline path that never rescans history — while the oracle computes
    the SAME mart with a direct full scan. Green = the re-aggregable
    state design (counts, exact cents, min/max, day-keyed rows) loses
    nothing across the incremental boundary."""
    events = read_events(spark, sf_dir)
    cutoff = F.lit("2024-01-25").cast("date")
    base = marts.user_lifetime_partials(events.where(F.to_date("ts") < cutoff))
    delta = marts.user_lifetime_partials(events.where(F.to_date("ts") >= cutoff))
    return marts.user_lifetime_rollup(base.unionByName(delta))


def _zorder_oracle() -> str:
    from ..functions.layout import z_value_sql

    z = z_value_sql("user_bucket", "minute_of_day", 11)
    return f"""
WITH keyed AS (
  SELECT event_id,
         user_id % 1024 AS user_bucket,
         (hour(ts) * 60 + minute(ts)) AS minute_of_day
  FROM events
),
z AS (SELECT *, CAST(({z}) AS BIGINT) AS z_key FROM keyed)
SELECT CAST(z_key >> 14 AS BIGINT) AS z_prefix,
       CAST(count(*) AS BIGINT) AS n_events,
       min(user_bucket) AS user_lo,
       max(user_bucket) AS user_hi,
       min(minute_of_day) AS minute_lo,
       max(minute_of_day) AS minute_hi
FROM z
GROUP BY 1
ORDER BY 1
"""


@register("zorder_box_stats", _zorder_oracle())
def zorder_box_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout evidence: per z-prefix group (≈ one written
    file), the (user_bucket, minute_of_day) bounding box — tight on BOTH
    dimensions, which is what makes parquet min/max row-group pruning
    serve two-column predicates after a z-ordered write. Pure integer
    shift/AND/OR interleave, identical in both engines."""
    from ..functions.layout import zorder_box_stats

    return zorder_box_stats(read_events(spark, sf_dir))


_VALUE_MEDIAN_UDAF_ORACLE = """
SELECT event_type,
       median(value) AS median_value,
       CAST(count(*) AS BIGINT) AS n_values
FROM events
WHERE value IS NOT NULL
GROUP BY 1
ORDER BY 1
"""


@register("value_median_udaf", _VALUE_MEDIAN_UDAF_ORACLE)
def value_median_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDAF surface (SURVEY §2.11): per-type interpolated median via an
    Arrow-vectorized GROUPED_AGG pandas UDF — the extension point for
    aggregates Catalyst lacks — checked against DuckDB's native
    median()/quantile_cont(0.5). pandas' interpolated median has the
    identical semantics, and halving a two-double sum is exact, so the
    cross-engine comparison is sound without rounding."""
    from ..functions import udx

    return udx.value_median_by_type(read_events(spark, sf_dir))


_RECONCILE_ORACLE = """
WITH premium AS (
  SELECT o_orderdate::DATE AS day, count(*) AS n_premium,
         round(sum(o_totalprice), 2) AS premium_revenue
  FROM orders WHERE o_totalprice > 450000 GROUP BY 1
),
urgent AS (
  SELECT o_orderdate::DATE AS day, count(*) AS n_urgent
  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1
)
SELECT COALESCE(p.day, u.day) AS day,
       CAST(COALESCE(p.n_premium, 0) AS BIGINT) AS n_premium,
       COALESCE(p.premium_revenue, 0.0) AS premium_revenue,
       CAST(COALESCE(u.n_urgent, 0) AS BIGINT) AS n_urgent,
       (p.day IS NOT NULL AND u.day IS NOT NULL) AS in_both
FROM premium p FULL OUTER JOIN urgent u ON p.day = u.day
ORDER BY 1
"""


@register("daily_reconciliation_full_outer", _RECONCILE_ORACLE)
def daily_reconciliation_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join surface: reconcile two independently-produced daily
    series (premium-order revenue vs urgent-order counts) keeping days
    present in EITHER — the mismatch-hunting report shape that inner/left
    joins silently corrupt. One sort-merge full-outer on the day key after
    two map-side-combinable aggregates."""
    orders = read_table(spark, sf_dir, "orders")
    premium = (
        orders.where(F.col("o_totalprice") > 450000)
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.count("*").alias("n_premium"),
            F.round(F.sum("o_totalprice"), 2).alias("premium_revenue"),
        )
    )
    urgent = (
        orders.where(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count("*").alias("n_urgent"))
    )
    p, u = premium.alias("p"), urgent.alias("u")
    return (
        p.join(u, F.col("p.day") == F.col("u.day"), "full_outer")
        .select(
            F.coalesce("p.day", "u.day").alias("day"),
            F.coalesce("n_premium", F.lit(0)).cast("long").alias("n_premium"),
            F.coalesce("premium_revenue", F.lit(0.0)).alias("premium_revenue"),
            F.coalesce("n_urgent", F.lit(0)).cast("long").alias("n_urgent"),
            (F.col("p.day").isNotNull() & F.col("u.day").isNotNull()).alias(
                "in_both"
            ),
        )
        .transform(sort_result, "day")
    )


_ROLLUP_ORACLE = """
SELECT CAST(ts AS DATE) AS event_date, event_type,
       CAST(GROUPING(CAST(ts AS DATE), event_type) AS BIGINT) AS gid,
       COUNT(*) AS event_count
FROM events
GROUP BY ROLLUP(1, 2)
ORDER BY gid, event_date ASC NULLS FIRST, event_type ASC NULLS FIRST
"""


@register("traffic_rollup", _ROLLUP_ORACLE)
def traffic_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(date, type) + grouping_id — the hierarchy subset of CUBE
    (Expand factor levels+1, not 2^levels) with the bitmask that tells a
    subtotal row from a NULL key; both engines encode it identically."""
    from ..operators import olap

    return olap.traffic_rollup(read_events(spark, sf_dir))


_BLOOM_JOIN_ORACLE = """
SELECT p_partkey, p_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS line_count
FROM part
JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand = 'Brand#19'
GROUP BY 1, 2
ORDER BY 1
"""


@register("bloom_pruned_brand_revenue", _BLOOM_JOIN_ORACLE)
def bloom_pruned_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-filtered fact join with an EXPLICIT Bloom runtime filter:
    the selected parts build a portable md5 Bloom filter; lineitem is
    pruned scan-side before the broadcast join. The oracle is the PLAIN
    join — false positives are removed by the join, and a false negative
    (the bug class Bloom pruning can introduce) would drop rows and
    hash-mismatch."""
    from ..functions import sketch

    dim = (
        read_table(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#19")
        .select("p_partkey", "p_name")
    )
    bloom = sketch.bloom_build(dim.select("p_partkey"), "p_partkey")
    fact = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    pruned = sketch.bloom_prune(fact, "l_partkey", bloom)
    return (
        pruned.join(F.broadcast(dim), pruned["l_partkey"] == dim["p_partkey"])
        .groupBy("p_partkey", "p_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("line_count"),
        )
        .transform(sort_result, "p_partkey")
    )


_VARIANT_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       ROUND(SUM(value), 2) AS v_sum,
       CAST(MAX(user_id) AS BIGINT) AS id_max
FROM events
GROUP BY 1
ORDER BY 1
"""


@register("variant_props_stats", _VARIANT_ORACLE)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path: ``parse_json`` the props payload AND a
    constructed nested document, extract typed values with
    ``variant_get`` ($.k, $.u.v, $.u.id), aggregate. The oracle computes
    the same values from the base columns — green means the
    parse→variant→path-extract round trip loses nothing."""
    ev = read_events(spark, sf_dir)
    doc = F.to_json(
        F.struct(
            F.struct(
                F.col("user_id").alias("id"), F.col("value").alias("v")
            ).alias("u"),
            F.col("event_type").alias("t"),
        )
    )
    extracted = ev.withColumn("_doc", doc).select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'long')").alias("_k"),
        F.expr("variant_get(parse_json(_doc), '$.u.v', 'double')").alias("_v"),
        F.expr("variant_get(parse_json(_doc), '$.u.id', 'long')").alias("_id"),
    )
    return (
        extracted.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("_k").alias("k_sum"),
            F.round(F.sum("_v"), 2).alias("v_sum"),
            F.max("_id").alias("id_max"),
        )
        .transform(sort_result, "event_type")
    )


_SQL_UDF_ORACLE = """
SELECT CAST(ts AS DATE) AS event_date,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
       ROUND(CASE WHEN SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) = 0
                  THEN NULL
                  ELSE CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE)
                       / CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE)
             END, 4) AS view_to_purchase_rate
FROM events
GROUP BY 1
ORDER BY 1
"""


@register("sql_udf_funnel_rate", _SQL_UDF_ORACLE)
def sql_udf_funnel_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL UDF (CREATE FUNCTION … RETURN <expr>): the guard-
    against-zero rate lives in an engine-registered SQL function, not a
    copy-pasted CASE — Catalyst inlines the body, so the plan (and the
    oracle, which inlines it manually) is identical to the raw
    expression."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION safe_rate(num DOUBLE, den DOUBLE)
        RETURNS DOUBLE
        RETURN CASE WHEN den = 0 THEN NULL ELSE num / den END
        """
    )
    read_events(spark, sf_dir).createOrReplaceTempView("ev_sqludf")
    # ROUND sits in an OUTER projection: inlining the UDF body inside the
    # aggregate rewrites round's scale literal into a non-foldable
    # aggregate output reference (DATATYPE_MISMATCH.NON_FOLDABLE_INPUT)
    return spark.sql(
        """
        SELECT event_date, views, purchases,
               ROUND(rate_raw, 4) AS view_to_purchase_rate
        FROM (
          SELECT event_date,
                 SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS views,
                 SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchases,
                 safe_rate(
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE),
                   CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE)
                 ) AS rate_raw
          FROM ev_sqludf
          GROUP BY event_date
        )
        """
    ).transform(sort_result, "event_date")


_TRY_ARITH_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                     IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS k_uncastable,
       CAST(SUM(CASE WHEN (CASE WHEN CAST(EXTRACT(hour FROM ts) AS BIGINT) = 0
                                THEN NULL
                                ELSE user_id / CAST(EXTRACT(hour FROM ts) AS BIGINT)
                           END) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS div_by_zero_rows
FROM events
WHERE ts IS NOT NULL
GROUP BY 1
ORDER BY 1
"""


@register("try_arithmetic_stats", _TRY_ARITH_ORACLE)
def try_arithmetic_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant expression surface: ``try_cast`` on a JSON-extracted
    string and ``try_divide`` by a sometimes-zero denominator count their
    NULL outcomes instead of failing the job — the ANSI-safe pattern for
    dirty data. The oracle spells out the same semantics with
    TRY_CAST + an explicit zero guard."""
    ev = read_events(spark, sf_dir).where(F.col("ts").isNotNull())
    return (
        ev.select(
            "event_type",
            F.expr(
                "try_cast(get_json_object(props, '$.k') AS BIGINT)"
            ).alias("_k"),
            F.expr("try_divide(user_id, event_hour)").alias("_d"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("_k").isNull(), 1).otherwise(0)).alias(
                "k_uncastable"
            ),
            F.sum(F.when(F.col("_d").isNull(), 1).otherwise(0)).alias(
                "div_by_zero_rows"
            ),
        )
        .transform(sort_result, "event_type")
    )


_SKEW_REPORT_ORACLE = """
WITH k AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem GROUP BY 1
),
hist AS (
  SELECT CAST(length(bin(cnt)) AS BIGINT) AS log2_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(cnt) AS BIGINT) AS rows_covered
  FROM k GROUP BY 1
)
SELECT log2_bucket, n_keys, rows_covered
FROM hist
ORDER BY log2_bucket
"""


@register("join_key_skew_report", _SKEW_REPORT_ORACLE)
def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostic for a join key: per-key counts bucketed by bit
    length (⌊log2⌋+1 — integer-exact in both engines via binary-string
    length, like the HLL rho). The histogram is what decides salting /
    AQE-skew-join settings BEFORE a 100 TB join is launched."""
    k = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        k.select(F.length(F.conv(F.col("cnt"), 10, 2)).cast("long").alias("log2_bucket"), "cnt")
        .groupBy("log2_bucket")
        .agg(
            F.count("*").alias("n_keys"),
            F.sum("cnt").alias("rows_covered"),
        )
        .transform(sort_result, "log2_bucket")
    )


_SALTED_HOT_JOIN_ORACLE = """
WITH e AS (
  SELECT CASE WHEN event_type IN ('view', 'click') THEN 0
              ELSE CAST(user_id % 25 AS INTEGER) END AS hot_key,
         value
  FROM events
)
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS event_count,
       SUM(CAST(ROUND(e.value * 100) AS BIGINT)) / 100.0 AS total_value
FROM e JOIN nation n ON n.n_nationkey = e.hot_key
GROUP BY 1
ORDER BY 1
"""


@register("skew_salted_hot_join", _SALTED_HOT_JOIN_ORACLE)
def skew_salted_hot_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join over a DELIBERATELY skewed key (VERDICT r12 item 6,
    the explicit-salting half of the skew demonstration; the AQE
    skew-join split itself is plan-pinned in tests/test_skew_and_io.py).

    Fixture skew by construction: the two highest-volume event types
    (view + click, ~40 % of all events) collapse onto hot_key 0 while
    the rest spread over ``user_id % 25`` — exactly the shape
    ``join_key_skew_report`` (T63) exists to detect. The join goes
    through :func:`operators.skew.salted_join`: the dimension side is
    replicated once per salt bucket and the fact side salted by a
    deterministic ``xxhash64(event_id)``, so the shuffle key
    ``(hot_key, _salt)`` fans the hot key across 8 reducers instead of
    serializing one. The salt never reaches the output, so the result is
    bit-identical to the plain join (the oracle IS the plain join), and
    the money column is summed as exact integer cents (house rule —
    float-sum accumulation order is not a contract).

    At 100 TB: explicit salting covers the cases AQE's skew-join split
    cannot — broadcast-ineligible dimension joins where one fact key
    exceeds an executor, and first-shuffle aggregation skew — while AQE
    (``spark.sql.adaptive.skewJoin.enabled``, pinned in session.py)
    handles sort-merge join stragglers automatically; T63's log2
    histogram is the decision input for which tier a key needs."""
    from ..operators.skew import salted_join

    ev = read_events(spark, sf_dir).select(
        "event_id",
        F.when(F.col("event_type").isin("view", "click"), F.lit(0))
        .otherwise(F.pmod(F.col("user_id"), F.lit(25)))
        .cast("int")
        .alias("hot_key"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    dim = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("int").alias("hot_key"), "n_name"
    )
    return (
        salted_join(ev, dim, "hot_key", salt_buckets=8, salt_source="event_id")
        .groupBy("n_name")
        .agg(
            F.count("*").alias("event_count"),
            (F.sum("cents") / F.lit(100.0)).alias("total_value"),
        )
        .transform(sort_result, "n_name")
    )


_SCD2_ASOF_ORACLE = """
WITH base AS (
  SELECT o_custkey, o_orderdate::DATE AS order_date,
         CASE WHEN o_totalprice < 50000 THEN 'small'
              WHEN o_totalprice < 200000 THEN 'medium'
              ELSE 'large' END AS value_band,
         o_orderdate AS ots, o_orderkey
  FROM orders
),
flag AS (
  SELECT *, CASE WHEN lag(value_band) OVER w IS NULL
                   OR lag(value_band) OVER w <> value_band
                 THEN 1 ELSE 0 END AS chg
  FROM base WINDOW w AS (PARTITION BY o_custkey ORDER BY ots, o_orderkey)
),
ver AS (
  SELECT o_custkey, order_date, value_band,
         sum(chg) OVER
           (PARTITION BY o_custkey ORDER BY ots, o_orderkey) AS version
  FROM flag
),
g AS (
  SELECT o_custkey, version, value_band, min(order_date) AS valid_from
  FROM ver GROUP BY 1, 2, 3
),
hist AS (
  SELECT o_custkey, value_band, valid_from,
         lead(valid_from) OVER wv AS valid_to
  FROM g WINDOW wv AS (PARTITION BY o_custkey ORDER BY version)
),
snap AS (
  SELECT o_custkey, value_band FROM hist
  WHERE valid_from <= DATE '1999-01-01'
    AND (valid_to IS NULL OR DATE '1999-01-01' < valid_to)
)
SELECT value_band,
       CAST(COUNT(*) AS BIGINT) AS customers,
       CAST(MIN(o_custkey) AS BIGINT) AS min_custkey,
       CAST(MAX(o_custkey) AS BIGINT) AS max_custkey
FROM snap GROUP BY 1 ORDER BY 1
"""


@register("scd2_asof_snapshot", _SCD2_ASOF_ORACLE)
def scd2_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (time-travel) query against the SCD2 dimension: the
    customer value-band distribution AS OF 1999-01-01, read from
    customer_value_scd2's validity ranges (valid_from ≤ d < valid_to,
    open-ended current rows) — the lookup every backfilled feature join
    or "what did the world look like then" audit performs. The range
    filter is row-local on the history table; no new shuffle beyond the
    SCD2 build it snapshots."""
    from ..operators.relational import scd2_value_band_history

    hist = scd2_value_band_history(read_table(spark, sf_dir, "orders"))
    d = F.lit("1999-01-01").cast("date")
    snap = hist.where(
        (F.col("valid_from") <= d)
        & (F.col("valid_to").isNull() | (d < F.col("valid_to")))
    )
    return (
        snap.groupBy("value_band")
        .agg(
            F.count("*").alias("customers"),
            F.min("o_custkey").alias("min_custkey"),
            F.max("o_custkey").alias("max_custkey"),
        )
        .transform(sort_result, "value_band")
    )


_FK_INTEGRITY_ORACLE = """
SELECT rel, n_child_rows, orphans,
       orphans * 1000000 // NULLIF(n_child_rows, 0) AS orphan_ppm
FROM (
  SELECT 'lineitem.l_orderkey->orders' AS rel,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_child_rows,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey)) AS orphans
  UNION ALL
  SELECT 'orders.o_custkey->customer',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey))
  UNION ALL
  SELECT 'lineitem.l_partkey->part',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM part p
                            WHERE p.p_partkey = l.l_partkey))
  UNION ALL
  SELECT 'lineitem.l_suppkey->supplier',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM supplier s
                            WHERE s.s_suppkey = l.l_suppkey))
  UNION ALL
  SELECT 'customer.c_nationkey->nation',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM customer),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
          WHERE NOT EXISTS (SELECT 1 FROM nation n
                            WHERE n.n_nationkey = c.c_nationkey))
) ORDER BY rel
"""


@register("fk_integrity_report", _FK_INTEGRITY_ORACLE)
def fk_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: orphan counts
    (child keys with no parent) for the five core relationships, in
    exact integer ppm — the constraint checking a lakehouse must run
    itself because parquet enforces nothing. Each relationship is one
    LEFT ANTI join (hash-shuffle on the key, broadcast when the parent
    is a dimension); the five audits share no state and pipeline
    independently."""

    def audit(rel, child, key, parent, pkey):
        c = read_table(spark, sf_dir, child)
        p = read_table(spark, sf_dir, parent).select(pkey)
        n = c.agg(F.count("*").alias("n_child_rows"))
        orphans = (
            c.join(p, c[key] == p[pkey], "left_anti")
            .agg(F.count("*").alias("orphans"))
        )
        return (
            n.crossJoin(orphans)
            .select(
                F.lit(rel).alias("rel"),
                "n_child_rows",
                "orphans",
                F.expr(
                    "orphans * 1000000 div NULLIF(n_child_rows, 0)"
                ).alias("orphan_ppm"),
            )
        )

    rels = [
        audit("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
              "orders", "o_orderkey"),
        audit("orders.o_custkey->customer", "orders", "o_custkey",
              "customer", "c_custkey"),
        audit("lineitem.l_partkey->part", "lineitem", "l_partkey",
              "part", "p_partkey"),
        audit("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
              "supplier", "s_suppkey"),
        audit("customer.c_nationkey->nation", "customer", "c_nationkey",
              "nation", "n_nationkey"),
    ]
    out = rels[0]
    for r in rels[1:]:
        out = out.unionByName(r)
    return out.orderBy("rel")


_DUP_PAYMENT_ORACLE = """
WITH p AS (
  SELECT user_id, event_id, ts,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
)
SELECT a.user_id,
       a.event_id AS event_id_1, b.event_id AS event_id_2,
       a.cents AS cents_1, b.cents AS cents_2,
       CAST(date_diff('second', a.ts, b.ts) AS BIGINT) AS gap_seconds
FROM p a JOIN p b
  ON a.user_id = b.user_id AND a.cents // 100 = b.cents // 100
 AND a.event_id < b.event_id
 AND b.ts >= a.ts AND date_diff('second', a.ts, b.ts) <= 86400
ORDER BY a.user_id, event_id_1, event_id_2
"""


@register("duplicate_payment_screen", _DUP_PAYMENT_ORACLE)
def duplicate_payment_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-charge screen: purchase pairs by the SAME user for the same
    whole-dollar amount within 24 hours — the accidental-resubmit /
    replay detector (dollar-bucket blocking catches near-identical
    retries whose cents differ by fees). The self-join keys on
    (user, dollar bucket), so candidate volume is bounded by
    per-user-per-amount repetition (never purchases²); the proximity
    and ordering predicates are row-local afterward. All output
    integers."""
    p = (
        read_events(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.unix_timestamp("ts").alias("_sec"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    p = p.withColumn("_dollar", F.expr("cents div 100"))
    a = p.select(
        "user_id",
        "_dollar",
        F.col("event_id").alias("event_id_1"),
        F.col("_sec").alias("_sec1"),
        F.col("cents").alias("cents_1"),
    )
    b = p.select(
        "user_id",
        "_dollar",
        F.col("event_id").alias("event_id_2"),
        F.col("_sec").alias("_sec2"),
        F.col("cents").alias("cents_2"),
    )
    return (
        a.join(b, ["user_id", "_dollar"])
        .where(
            (F.col("event_id_1") < F.col("event_id_2"))
            & (F.col("_sec2") >= F.col("_sec1"))
            & (F.col("_sec2") - F.col("_sec1") <= 86400)
        )
        .select(
            "user_id",
            "event_id_1",
            "event_id_2",
            "cents_1",
            "cents_2",
            (F.col("_sec2") - F.col("_sec1")).alias("gap_seconds"),
        )
        .transform(sort_result, "user_id", "event_id_1", "event_id_2")
    )


# ---------------------------------------------------------------------------
# T157 — matched-basket monthly price index (Laspeyres / Paasche / Fisher)
# ---------------------------------------------------------------------------

_PRICE_INDEX_ORACLE = """
WITH li AS (
  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS m, l_partkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM lineitem GROUP BY 1, 2
),
b AS (SELECT MIN(m) AS bm FROM li),
base AS (
  SELECT l.l_partkey, l.qty AS qb, l.cents AS cb,
         row_number() OVER (ORDER BY l.qty DESC, l.l_partkey) AS rk
  FROM li l, b WHERE l.m = b.bm
),
basket AS (SELECT l_partkey, qb, cb FROM base WHERE rk <= 25),
j AS (
  SELECT li.m, li.l_partkey, li.qty AS qt, li.cents AS ct, k.qb, k.cb
  FROM li JOIN basket k USING (l_partkey)
),
arr AS (
  SELECT m, CAST(COUNT(*) AS BIGINT) AS n_parts,
         CAST(SUM(cb) AS BIGINT) AS sum_cb,
         CAST(SUM(ct) AS BIGINT) AS sum_ct,
         list((CAST(ct AS DOUBLE) / qt) * qb ORDER BY l_partkey) AS lt,
         list((CAST(cb AS DOUBLE) / qb) * qt ORDER BY l_partkey) AS pt
  FROM j GROUP BY m
),
idx AS (
  SELECT m, n_parts,
         list_reduce(list_prepend(0.0::DOUBLE, lt), (a, x) -> a + x)
           / sum_cb AS laspeyres,
         sum_ct / list_reduce(list_prepend(0.0::DOUBLE, pt),
                              (a, x) -> a + x) AS paasche
  FROM arr
)
SELECT m AS month, n_parts,
       ROUND(laspeyres, 6) AS laspeyres,
       ROUND(paasche, 6) AS paasche,
       ROUND(sqrt(laspeyres * paasche), 6) AS fisher
FROM idx ORDER BY month
"""


@register("monthly_price_index", _PRICE_INDEX_ORACLE)
def monthly_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T157: matched-basket monthly price index — Laspeyres (base-month
    quantity weights), Paasche (current weights), and their geometric
    mean, the Fisher ideal index. The basket is the base month's top-25
    parts by quantity (a TakeOrderedAndProject, no global window);
    index months use only basket parts they actually sold (matched
    comparison). Float discipline: both denominators collapse to exact
    BIGINT cent sums (Σpb·qb = Σcb, Σpt·qt = Σct), leaving exactly two
    float folds per month, each an ordered part-sorted fold of ≤25
    single-division terms — so a month's index is one fixed expression
    tree. One (month, part) aggregate over lineitem (map-side
    combinable) is the only full-data pass; everything after is
    basket × months grain."""
    li = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy(
            F.trunc("l_shipdate", "month").alias("m"),
            "l_partkey",
        )
        .agg(
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
        .localCheckpoint()  # consumed by the base-month rank AND the join
    )
    b = li.agg(F.min("m").alias("bm"))
    basket = (
        li.crossJoin(F.broadcast(b))
        .where(F.col("m") == F.col("bm"))
        .select(
            "l_partkey",
            F.col("qty").alias("qb"),
            F.col("cents").alias("cb"),
        )
        .orderBy(F.desc("qb"), "l_partkey")
        .limit(25)
    )
    j = li.join(F.broadcast(basket), "l_partkey")
    lt = (F.col("ct").cast("double") / F.col("qt")) * F.col("qb")
    pt = (F.col("cb").cast("double") / F.col("qb")) * F.col("qt")
    arr = (
        j.select(
            "m",
            "l_partkey",
            F.col("qty").alias("qt"),
            F.col("cents").alias("ct"),
            "qb",
            "cb",
        )
        .groupBy("m")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("cb").cast("long").alias("sum_cb"),
            F.sum("ct").cast("long").alias("sum_ct"),
            F.sort_array(
                F.collect_list(F.struct("l_partkey", lt.alias("v")))
            ).alias("lt"),
            F.sort_array(
                F.collect_list(F.struct("l_partkey", pt.alias("v")))
            ).alias("pt"),
        )
    )
    zero = F.lit(0.0)
    lasp = (
        F.aggregate("lt", zero, lambda a, e: a + e["v"]) / F.col("sum_cb")
    )
    paas = F.col("sum_ct") / F.aggregate(
        "pt", zero, lambda a, e: a + e["v"]
    )
    idx = arr.select(
        F.col("m").alias("month"),
        "n_parts",
        lasp.alias("laspeyres"),
        paas.alias("paasche"),
    )
    return idx.select(
        "month",
        "n_parts",
        F.round("laspeyres", 6).alias("laspeyres"),
        F.round("paasche", 6).alias("paasche"),
        F.round(F.sqrt(F.col("laspeyres") * F.col("paasche")), 6).alias(
            "fisher"
        ),
    ).transform(sort_result, "month")
