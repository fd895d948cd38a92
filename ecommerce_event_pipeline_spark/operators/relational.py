"""Relational operators over the star schema — joins, multi-agg, top-k.

The reference computes funnels with conditional aggregation and has no
equi-join; these operators exercise the join surface a real warehouse needs
on the driver's TPC-H-ish fixture tables, with the physical strategy chosen
for a 1000-executor / 100 TB design point:

- tiny dims (region: 5 rows, nation: 25) are ``broadcast()`` explicitly —
  no shuffle for the fact side;
- fact-to-fact joins (orders ⋈ lineitem) stay shuffle/sort-merge on the
  join key and benefit from AQE skew splitting;
- top-k is aggregate-then-limit (``TakeOrderedAndProject``), and dimension
  attributes are attached AFTER the limit so the join input is k rows, not
  the whole fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .windows import sort_result


def pricing_summary(lineitem: DataFrame, ship_cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1-shaped pricing summary: 2-key groupBy, 8 aggregates.

    One map-side-combinable hash aggregate; the shuffle carries ≤ |flags| ×
    |statuses| rows per task regardless of input size.
    """
    li = lineitem.where(F.col("l_shipdate") <= F.lit(ship_cutoff).cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).alias("sum_disc_price"),
            F.sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .transform(sort_result, "l_returnflag", "l_linestatus")
    )


def shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    cutoff: str = "1998-03-15",
    top_n: int = 10,
) -> DataFrame:
    """TPC-H Q3-shaped: segment filter → 3-way join → revenue top-N.

    The customer filter runs before the join (Catalyst pushes it to the
    scan); orders⋈lineitem is the only large shuffle. Top-N is
    TakeOrderedAndProject.
    """
    cut = F.lit(cutoff).cast("timestamp")
    c = customer.where(F.col("c_mktsegment") == segment).select("c_custkey")
    o = orders.where(F.col("o_orderdate") < cut).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    l = lineitem.where(F.col("l_shipdate") > cut).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(top_n)
    )


def local_supplier_volume(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    region_name: str = "ASIA",
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q5-shaped: revenue by nation where customer and supplier share
    the nation. region/nation are broadcast (5 / 25 rows at any scale);
    customer and supplier join on their keys; orders⋈lineitem is the large
    sort-merge join.
    """
    r = F.broadcast(region.where(F.col("r_name") == region_name).select("r_regionkey"))
    n = F.broadcast(
        nation.join(r, nation.n_regionkey == r.r_regionkey).select(
            "n_nationkey", "n_name"
        )
    )
    c = customer.join(n, customer.c_nationkey == n.n_nationkey).select(
        "c_custkey", "c_nationkey"
    )
    o = orders.where(
        (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    s = supplier.select("s_suppkey", "s_nationkey")
    l = lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == F.col("n_nationkey"))
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .transform(sort_result, F.desc("revenue"), "n_name")
    )


def top_parts_by_revenue(lineitem: DataFrame, part: DataFrame, top_n: int = 20) -> DataFrame:
    """Aggregate → top-N → broadcast-join the N-row result to the dimension.

    The scale-critical ordering: revenue is aggregated per l_partkey first
    (shuffle on partkey), the limit reduces to N rows, and only then is the
    part table joined — with the N-row side broadcast, so the dimension is
    never shuffled.
    """
    top = (
        lineitem.groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.sum("l_quantity").alias("units"),
            F.count("*").alias("line_count"),
        )
        .orderBy(F.desc("revenue"), "l_partkey")
        .limit(top_n)
    )
    return (
        part.join(F.broadcast(top), part.p_partkey == top.l_partkey)
        .select(
            "l_partkey", "p_name", "p_brand", "revenue", "units", "line_count"
        )
        .transform(sort_result, F.desc("revenue"), "l_partkey")
    )


def market_segment_summary(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Customer-dimension enrichment join + rollup by market segment."""
    c = customer.select("c_custkey", "c_mktsegment")
    return (
        orders.join(c, orders.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("order_count"),
            F.count_distinct("o_custkey").alias("unique_customers"),
            # money sums/avgs round to cents: accumulation order differs
            # across partitions (and engines), so the raw double is not
            # deterministic — the rounded value is.
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_order_value"),
            F.max("o_totalprice").alias("max_order_value"),
        )
        .transform(sort_result, "c_mktsegment")
    )


def order_priority_counts(
    orders: DataFrame,
    lineitem: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q4-shaped EXISTS: semi-join orders against lineitem.

    ``left_semi`` ships only the join key of the probe side and never
    duplicates order rows — the correct physical form of EXISTS at scale.
    """
    o = orders.where(
        (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
    )
    has_line = o.join(
        lineitem.select("l_orderkey"),
        o.o_orderkey == F.col("l_orderkey"),
        "left_semi",
    )
    return (
        has_line.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .transform(sort_result, "o_orderpriority")
    )


def customer_nation_rollup(
    customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Two broadcast dim joins + rollup: customers and balance by region/nation."""
    n = F.broadcast(nation)
    r = F.broadcast(region)
    return (
        customer.join(n, customer.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("customer_count"),
            F.sum("c_acctbal").alias("total_acctbal"),
            F.avg("c_acctbal").alias("avg_acctbal"),
        )
        .transform(sort_result, "r_name", "n_name")
    )


def cheapest_part_per_brand(part: DataFrame) -> DataFrame:
    """TPC-H Q2-shaped min-per-group + join-back: the cheapest part of each
    brand (with its attributes). The min is aggregated first (one small
    shuffle), then joined back on (brand, price) — the group-wise-minimum
    pattern that avoids a window over the whole dimension."""
    # distinct alias for the aggregated side — the join-back is a self-join
    # and needs unambiguous lineage
    mins = part.groupBy(F.col("p_brand").alias("_mb")).agg(
        F.min("p_retailprice").alias("min_price")
    )
    return (
        part.join(
            F.broadcast(mins),
            (part.p_brand == mins._mb)
            & (part.p_retailprice == mins.min_price),
        )
        .select(
            part.p_brand.alias("brand"),
            "p_partkey",
            "p_name",
            F.col("p_retailprice").alias("price"),
        )
        .groupBy("brand")
        .agg(
            F.min("p_partkey").alias("cheapest_partkey"),  # tie-break: lowest key
            F.min("price").alias("price"),
        )
        .transform(sort_result, "brand")
    )


def volume_shipping(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
) -> DataFrame:
    """TPC-H Q7-shaped: revenue between two nations by (supp_nation,
    cust_nation, year) — two dimension joins against the same broadcast
    nation table under different aliases."""
    n1 = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
        )
    )
    joined = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(n1, F.col("s_nationkey") == F.col("s_nkey"))
        .join(n2, F.col("c_nationkey") == F.col("c_nkey"))
        .where(
            (
                (F.col("supp_nation") == nation_a) & (F.col("cust_nation") == nation_b)
            )
            | ((F.col("supp_nation") == nation_b) & (F.col("cust_nation") == nation_a))
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("ship_year")
        )
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .transform(sort_result, "supp_nation", "cust_nation", "ship_year")
    )


def promo_revenue_share(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q14-shaped: PROMO revenue share per ship-year — conditional
    share of a joined aggregate."""
    joined = lineitem.join(part, lineitem.l_partkey == part.p_partkey)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.groupBy(F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(
            F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))).alias(
                "promo_revenue"
            ),
            F.sum(rev).alias("total_revenue"),
        )
        .withColumn(
            "promo_share_pct",
            F.round(F.col("promo_revenue") * 100.0 / F.col("total_revenue"), 4),
        )
        .transform(sort_result, "ship_year")
    )


def rich_idle_customers(
    customer: DataFrame, orders: DataFrame, before: str = "1996-01-01"
) -> DataFrame:
    """TPC-H Q22-shaped: customers with above-average balance and no early
    orders (none before ``before``) — scalar subquery (global avg, computed
    once and broadcast as a 1-row side) + anti join against the filtered
    fact."""
    avg_bal = customer.agg(F.avg("c_acctbal").alias("avg_bal"))
    rich = (
        customer.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", "c_mktsegment", "c_acctbal")
    )
    early_orders = orders.where(
        F.col("o_orderdate") < F.lit(before).cast("timestamp")
    ).select("o_custkey")
    idle = rich.join(
        early_orders,
        rich.c_custkey == F.col("o_custkey"),
        "left_anti",
    )
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("customer_count"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
        )
        .transform(sort_result, "c_mktsegment")
    )


def shipping_lag_buckets(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Q12-shaped CASE bucketing: lineitems by order→ship lag class per
    order priority (the fixture has no shipmode; the lag buckets exercise
    the same conditional-aggregation-over-join shape)."""
    lag = F.datediff("l_shipdate", "o_orderdate")
    bucket = (
        F.when(lag < 0, F.lit("before_order"))
        .when(lag <= 30, F.lit("fast"))
        .when(lag <= 90, F.lit("normal"))
        .otherwise(F.lit("slow"))
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority", bucket.alias("ship_lag_bucket"))
        .agg(
            F.count("*").alias("line_count"),
            F.sum("l_extendedprice").alias("total_price"),
        )
        .transform(sort_result, "o_orderpriority", "ship_lag_bucket")
    )


def interval_activity_join(
    events: DataFrame, anchors: DataFrame, hours_before: int = 24
) -> DataFrame:
    """Batch interval (range) join: per anchor row (anchor_id, user_id,
    anchor_ts), the user's event activity in the ``hours_before`` hours
    strictly before the anchor — the "pre-purchase context" query an
    attribution pipeline runs in batch.

    Spark has no native range join, and the naive formulation
    (``e.user_id = a.user_id AND e.ts BETWEEN lo AND hi``) degrades to a
    broadcast-nested-loop on the inequality. Instead each anchor explodes
    into its covered DAY BUCKETS (bounded: ``ceil(hours/24) + 1`` rows per
    anchor), the join is a plain equi-join on (user, day-bucket) — shuffle
    hash/sort-merge, AQE-splittable — and the exact interval predicate
    refines after. At 100 TB the expansion factor is a constant, not a
    data-dependent blowup.
    """
    lo = F.col("anchor_ts") - F.expr(f"INTERVAL {int(hours_before)} HOURS")
    a = anchors.select(
        "anchor_id",
        "user_id",
        "anchor_ts",
        lo.alias("lo"),
        F.explode(
            F.sequence(F.to_date(lo), F.to_date(F.col("anchor_ts")))
        ).alias("day_bucket"),
    )
    e = events.select(
        "user_id", "ts", "value", F.to_date("ts").alias("day_bucket")
    )
    joined = a.join(e, ["user_id", "day_bucket"]).where(
        (F.col("ts") >= F.col("lo")) & (F.col("ts") < F.col("anchor_ts"))
    )
    return (
        joined.groupBy("anchor_id")
        .agg(
            F.count("*").alias("prior_events"),
            F.round(F.sum("value"), 2).alias("prior_value"),
        )
        .transform(sort_result, "anchor_id")
    )


def cdc_merge(base: DataFrame, changes: DataFrame) -> DataFrame:
    """Upsert/delete (CDC MERGE) applied with pure DataFrame ops — the
    engine-level equivalent of ``MERGE INTO`` for stores without one:
    latest change per key wins, deletes drop the key, unmatched inserts
    append.

    ``changes`` carries (o_orderkey, op 'U'|'D', o_orderstatus,
    o_totalprice, _seq). Base rows enter the union at seq −1, so ANY
    change outranks base; one window per key picks the winner — a single
    hash shuffle on the merge key, no join needed. At scale this is the
    standard compaction shape: partition by key-hash, pick max-seq per
    key, write back partition-aligned.

    Ties: _seq SHOULD be unique per key (log offset / LSN); when a feed
    reuses one (e.g. commit-timestamp seqs), the tiebreak is op
    descending — 'U' beats 'D' beats the 'B' base sentinel — so the merge
    is deterministic (and engine-portable) rather than partition-order
    dependent.
    """
    b = base.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit("B").alias("op"),
        F.lit(-1).cast("long").alias("_seq"),
    )
    c = changes.select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "op", "_seq"
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("_seq"), F.desc("op"))
    return (
        b.unionByName(c)
        .withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col("op") != "D"))
        .select(
            "o_orderkey",
            "o_orderstatus",
            # cents-exact: inputs are 2-dp doubles (or cents-derived
            # bumps); floor(x*100+0.5)/100.0 canonicalizes identically in
            # both engines, unlike round() at half boundaries
            (
                F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
                / 100.0
            ).alias("o_totalprice"),
        )
        .transform(sort_result, "o_orderkey")
    )


def scd2_value_band_history(orders: DataFrame) -> DataFrame:
    """SCD2 (slowly-changing-dimension type 2) history built from an event
    stream: per customer, the contiguous [valid_from, valid_to) periods of
    their order value band (small/medium/large by o_totalprice), collapsing
    consecutive same-band orders — gaps-and-islands with lag + a running
    change counter, the standard warehouse dimension-versioning rebuild.

    Two window passes over the same (o_custkey, o_orderdate, o_orderkey)
    sort — Catalyst reuses the single sort+shuffle; per-customer state
    never leaves its partition.
    """
    band = (
        F.when(F.col("o_totalprice") < 50000, F.lit("small"))
        .when(F.col("o_totalprice") < 200000, F.lit("medium"))
        .otherwise(F.lit("large"))
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changed = (
        F.lag(band).over(w).isNull() | (F.lag(band).over(w) != band)
    ).cast("int")
    versioned = orders.select(
        "o_custkey",
        F.to_date("o_orderdate").alias("order_date"),
        band.alias("value_band"),
        F.sum(changed).over(w).alias("version"),
    )
    g = (
        versioned.groupBy("o_custkey", "version", "value_band")
        .agg(F.min("order_date").alias("valid_from"))
    )
    wv = Window.partitionBy("o_custkey").orderBy("version")
    return g.select(
        "o_custkey",
        F.col("version").cast("int").alias("version"),
        "value_band",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        F.lead("valid_from").over(wv).isNull().alias("is_current"),
    ).orderBy("o_custkey", "version")
