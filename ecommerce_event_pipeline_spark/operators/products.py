"""Product/order marts — the JSON-payload path (lateral unnest + union).

The reference unnests the purchase payload two ways: Postgres
``jsonb_array_elements`` (reference: sql/marts/mart_product_daily.sql:21-24,
an implicit CROSS JOIN LATERAL) and Spark ``from_json`` + ``explode``
(reference: scripts/spark_batch_processor.py:216-230). We use the Spark
form: ``from_json`` against the explicit payload schema, ``explode`` for
the lateral join, ``unionByName`` to merge direct product references with
unnested purchase items, then one hash aggregation.

Scale notes:
- ``explode`` multiplies rows before the shuffle; the projection right
  before it keeps only (ids, item struct) so the widened rows are narrow.
- Top-N by revenue is ``orderBy(desc).limit(n)`` — Catalyst plans
  ``TakeOrderedAndProject`` (per-partition heap + driver merge of N rows),
  never a full sort.
- NULL/absent payload handling mirrors the reference: missing ``products``
  → empty array for item_count (reference: sql/marts/mart_orders.sql:24),
  unparseable JSON → NULL struct → row contributes nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import EXTRA_DATA_SCHEMA


def parse_extra_data(events: DataFrame, json_col: str = "extra_data") -> DataFrame:
    """Add a typed ``payload`` struct parsed from the JSON payload column."""
    return events.withColumn("payload", F.from_json(F.col(json_col), EXTRA_DATA_SCHEMA))


def product_interactions(
    events: DataFrame,
    direct_types: tuple[str, ...] = ("click", "add_to_cart"),
    purchase_type: str = "purchase",
) -> DataFrame:
    """Direct product refs ∪ unnested purchase items (reference:
    sql/marts/mart_product_daily.sql:26-39; scripts/spark_batch_processor.py:192-233).

    Output grain: one row per product interaction with
    (event_date, event_type, user_id, product_id, quantity, unit_price).
    """
    direct = events.where(
        F.col("event_type").isin(*direct_types) & F.col("product_id").isNotNull()
    ).select(
        "event_date",
        "event_type",
        "user_id",
        "product_id",
        F.col("quantity").cast("int").alias("quantity"),
        F.col("unit_price").cast("double").alias("unit_price"),
    )

    purchased = (
        parse_extra_data(
            events.where(
                (F.col("event_type") == purchase_type)
                & F.col("extra_data").isNotNull()
            )
        )
        .select(
            "event_date",
            "event_type",
            "user_id",
            # explode_OUTER on purpose (r14 opt, guide §1.2 per-task
            # work): plain explode lets InferFiltersFromGenerate push a
            # `size(..) > 0 AND isnotnull(..)` filter below the
            # Generate, and both predicates re-evaluate the from_json
            # parse — 2 JSON parses per purchase row instead of 1 (plan-
            # verified). The outer variant infers no filter; empty/null
            # payloads yield a NULL item that the existing
            # product_id-not-null filter below drops, so the output rows
            # are identical.
            F.explode_outer(F.col("payload.products")).alias("item"),
        )
        .select(
            "event_date",
            "event_type",
            "user_id",
            F.col("item.product_id").alias("product_id"),
            F.col("item.quantity").cast("int").alias("quantity"),
            F.col("item.unit_price").cast("double").alias("unit_price"),
        )
        .where(F.col("product_id").isNotNull())
    )
    return direct.unionByName(purchased)


def product_daily(
    events: DataFrame,
    purchase_type: str = "purchase",
    top_n: int | None = None,
) -> DataFrame:
    """Product × date mart (reference: sql/marts/mart_product_daily.sql:40-55;
    top-N variant: scripts/spark_batch_processor.py:192-263).

    Expand-free two-phase aggregation (same pattern as the funnel mart):
    two distinct-user counts in one pass would make Catalyst Expand every
    row ×3 before the shuffle; instead phase 1 collapses to one row per
    (product, date, user) and phase 2 counts users with activity — the
    full interaction set shuffles once, never tripled."""
    interactions = product_interactions(events, purchase_type=purchase_type)
    is_purchase = F.col("event_type") == purchase_type
    per_user = interactions.groupBy("product_id", "event_date", "user_id").agg(
        F.count(F.when(F.col("event_type") == "click", F.lit(1))).alias("u_clicks"),
        F.count(F.when(F.col("event_type") == "add_to_cart", F.lit(1))).alias(
            "u_carts"
        ),
        F.count(F.when(is_purchase, F.lit(1))).alias("u_purchases"),
        F.sum(F.when(is_purchase, F.col("quantity") * F.col("unit_price"))).alias(
            "u_revenue"
        ),
        F.sum(F.when(is_purchase, F.col("quantity"))).alias("u_units"),
    )
    out = per_user.groupBy("product_id", "event_date").agg(
        F.sum("u_clicks").alias("click_count"),
        F.sum("u_carts").alias("cart_add_count"),
        F.sum("u_purchases").alias("purchase_count"),
        F.coalesce(F.sum("u_revenue"), F.lit(0.0)).alias("revenue"),
        F.coalesce(F.sum("u_units"), F.lit(0)).alias("units_sold"),
        # viewers = CLICK users only — both reference definitions agree
        # (reference: sql/marts/mart_product_daily.sql:48,
        # scripts/spark_batch_processor.py:248-250); cart-adders are NOT
        # viewers for conversion purposes
        F.count(F.when(F.col("u_clicks") > 0, F.lit(1))).alias("unique_viewers"),
        F.count(F.when(F.col("u_purchases") > 0, F.lit(1))).alias("unique_buyers"),
    )
    out = out.withColumn(
        "conversion_rate",
        F.round(
            F.col("unique_buyers")
            * 100.0
            / F.nullif(F.col("unique_viewers").cast("double"), F.lit(0.0)),
            2,
        ),
    )
    if top_n is not None:
        return out.orderBy(F.desc("revenue"), "product_id").limit(top_n)
    return out  # unsorted, like the daily marts (operators/marts.py)


def orders_mart(events: DataFrame, purchase_type: str = "purchase") -> DataFrame:
    """One row per order — row-level transform, no aggregation (reference:
    sql/marts/mart_orders.sql:13-28).

    The repartition is a parse-once barrier: the projection reads four
    payload fields, and Catalyst's JSON schema pruning rewrites each field
    access into its own (schema-narrowed) ``from_json`` — four textually
    distinct parses that codegen subexpression elimination cannot merge.
    Materializing the parsed struct across one exchange makes the JSON
    parse happen exactly once per row (measured ~2.5× on this mart)."""
    return (
        parse_extra_data(events.where(F.col("event_type") == purchase_type))
        .where(F.col("order_id").isNotNull())
        .repartition("order_id")
        .select(
            "order_id",
            "user_id",
            F.col("event_date").alias("order_date"),
            F.col("ts").alias("order_timestamp"),
            F.col("total_amount").cast("double").alias("total_amount"),
            "payment_method",
            "platform",
            F.coalesce(F.col("payload.discount_amount"), F.lit(0.0)).alias(
                "discount_amount"
            ),
            F.coalesce(F.col("payload.shipping_fee"), F.lit(0.0)).alias("shipping_fee"),
            F.col("payload.coupon_code").alias("coupon_code"),
            F.size(F.coalesce(F.col("payload.products"), F.array())).alias("item_count"),
        )
    )
