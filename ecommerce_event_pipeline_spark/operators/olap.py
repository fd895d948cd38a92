"""OLAP surface beyond the reference: cube/rollup, pivot, global stats.

The reference has no grouping sets, pivot or approximate aggregates
(SURVEY §2.4 "Not present"); a complete engine needs them. All are native
Catalyst operators (Expand for cube/rollup, a single aggregate for pivot
with pinned values) — map-side combinable, one shuffle each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .windows import sort_result


def traffic_cube(events: DataFrame) -> DataFrame:
    """CUBE(event_date, event_type): counts + distinct users for every
    combination including margins. Catalyst's Expand duplicates each input
    row once per grouping set BEFORE partial aggregation — at 100 TB prefer
    rollup (fewer sets) or explicit grouping sets if only some margins are
    needed."""
    return (
        events.cube("event_date", "event_type")
        .agg(
            F.count("*").alias("event_count"),
            F.count_distinct("user_id").alias("unique_users"),
        )
        .transform(
            sort_result,
            F.col("event_date").asc_nulls_first(),
            F.col("event_type").asc_nulls_first(),
        )
    )


def traffic_rollup(events: DataFrame) -> DataFrame:
    """ROLLUP(event_date, event_type) with an explicit ``grouping_id``
    disambiguator: the hierarchy-only subset of CUBE (detail → per-date
    subtotal → grand total). At scale ROLLUP's Expand factor is
    levels+1 (3 here) vs CUBE's 2^levels — the right default for
    report hierarchies. ``grouping_id`` (bitmask, left col = MSB) lets
    consumers separate a genuine NULL key from a subtotal row — both
    engines agree on the encoding (DuckDB ``GROUPING(a, b)``)."""
    return (
        events.rollup("event_date", "event_type")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("event_count"),
        )
        .transform(
            sort_result,
            "gid",
            F.col("event_date").asc_nulls_first(),
            F.col("event_type").asc_nulls_first(),
        )
    )


def type_hour_pivot(events: DataFrame, event_types: list[str]) -> DataFrame:
    """Hour × event-type count matrix via pivot with PINNED values — an
    unpinned pivot triggers an extra distinct-scan to discover columns."""
    out = (
        events.groupBy("event_hour")
        .pivot("event_type", event_types)
        .count()
        .na.fill(0, event_types)
    )
    # stable column order + bigint type for every pivoted column
    return out.select(
        "event_hour", *[F.col(t).cast("bigint").alias(t) for t in event_types]
    )


def overall_stats(events: DataFrame) -> DataFrame:
    """Whole-table summary (SURVEY §2.4 A10): exact distincts + extrema in
    one pass. The exact count_distincts expand the aggregate; at extreme
    scale swap to approx_count_distinct."""
    return events.agg(
        F.count("*").alias("total_events"),
        F.count_distinct("user_id").alias("unique_users"),
        F.count_distinct("event_type").alias("event_types"),
        F.count_distinct(F.to_date("ts")).alias("active_days"),
        F.min("ts").alias("first_event"),
        F.max("ts").alias("last_event"),
        F.sum("value").alias("total_value"),
        F.avg("value").alias("avg_value"),
    )


def orders_projection(orders: DataFrame) -> DataFrame:
    """Filter + projection + conditional projection (SURVEY §2.2 P1–P6) on
    the orders fixture: open orders classified by value band, with derived
    date parts. All predicates push to the parquet scan."""
    band = (
        F.when(F.col("o_totalprice") < 50000, F.lit("small"))
        .when(F.col("o_totalprice") < 200000, F.lit("medium"))
        .otherwise(F.lit("large"))
    )
    return (
        orders.where(F.col("o_orderstatus") == "O")
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").alias("total_price"),
            band.alias("value_band"),
            F.to_date("o_orderdate").alias("order_date"),
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.month("o_orderdate").cast("int").alias("order_month"),
            F.col("o_orderpriority").alias("priority"),
        )
        .transform(sort_result, "o_orderkey")
    )


def union_activity(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """UNION ALL of heterogeneous sources aligned by name (SURVEY §2.7 U1,
    the reference's direct-refs ∪ unnested-items shape) then one rollup."""
    o = orders.select(
        F.col("o_orderkey").alias("entity_key"),
        F.lit("order").alias("kind"),
        F.col("o_totalprice").alias("amount"),
    )
    l = lineitem.select(
        F.col("l_orderkey").alias("entity_key"),
        F.lit("line").alias("kind"),
        F.col("l_extendedprice").alias("amount"),
    )
    return (
        o.unionByName(l)
        .groupBy("kind")
        .agg(
            F.count("*").alias("row_count"),
            F.count_distinct("entity_key").alias("unique_keys"),
            # rounded to cents: double accumulation order is partition-
            # dependent, the rounded sum is deterministic
            F.round(F.sum("amount"), 2).alias("total_amount"),
        )
        .transform(sort_result, "kind")
    )


def daily_revenue_gapfill(orders: DataFrame, min_price: float = 450000.0) -> DataFrame:
    """Calendar gap-fill + linear interpolation over a daily revenue
    series — the time-series densification step reporting and
    feature-engineering pipelines run before windowed models.

    Shape: one hash aggregate (day grain), then the calendar is generated
    from the 1-row min/max aggregate with ``sequence`` + ``explode`` and
    left-joins the dailies. The fill windows are UNPARTITIONED, which is
    fine by construction: after the day-grain aggregate the frame has one
    row per calendar day (~365/year — thousands of rows at ANY corpus
    scale), so the single-partition sort is bounded by the calendar, not
    the data. Interpolation = prev + (next − prev) · elapsed/span on the
    nearest non-gap neighbours, edges fall back to the nearest value.
    """
    daily = (
        orders.where(F.col("o_totalprice") > min_price)
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    calendar = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    filled = calendar.join(daily, "day", "left")
    w_prev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_next = Window.orderBy("day").rowsBetween(0, Window.unboundedFollowing)
    prev_rev = F.last("revenue", ignorenulls=True).over(w_prev)
    prev_day = F.last(F.when(F.col("revenue").isNotNull(), F.col("day")), True).over(
        w_prev
    )
    next_rev = F.first("revenue", ignorenulls=True).over(w_next)
    next_day = F.first(F.when(F.col("revenue").isNotNull(), F.col("day")), True).over(
        w_next
    )
    span = F.datediff(next_day, prev_day)
    elapsed = F.datediff(F.col("day"), prev_day)
    # interpolate in exact integer cents: the neighbours are 2-dp doubles,
    # so floor(x*100+0.5) recovers cents exactly; the weighted mean + its
    # truncating integer division are bit-identical across engines, where
    # round(float_interp, 2) at a half-cent boundary is not
    prev_c = F.floor(prev_rev * 100 + F.lit(0.5)).cast("long")
    next_c = F.floor(next_rev * 100 + F.lit(0.5)).cast("long")
    interp_cents = F.expr(
        "(_prev_c * (_span - _elapsed) + _next_c * _elapsed) div _span"
    )
    return (
        filled.select(
            "day",
            "revenue",
            "n_orders",
            prev_rev.alias("_prev_rev"),
            next_rev.alias("_next_rev"),
            prev_c.alias("_prev_c"),
            next_c.alias("_next_c"),
            span.alias("_span"),
            elapsed.alias("_elapsed"),
        )
        .select(
            "day",
            "revenue",
            F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
            F.col("revenue").isNull().alias("is_gap"),
            F.when(F.col("revenue").isNotNull(), F.col("revenue"))
            .otherwise(
                F.when(
                    F.col("_prev_rev").isNotNull()
                    & F.col("_next_rev").isNotNull(),
                    interp_cents / 100.0,
                ).otherwise(F.coalesce("_prev_rev", "_next_rev"))
            )
            .alias("revenue_filled"),
        )
        .orderBy("day")
    )
