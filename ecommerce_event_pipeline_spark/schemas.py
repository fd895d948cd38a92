"""Explicit schemas — schema inference is never used on the hot path.

The wide event schema mirrors the reference's 24-column ``EVENT_SCHEMA``
(reference: scripts/spark_batch_processor.py:46-71) and the ``raw_events``
table (reference: sql/create_tables.sql:10-36). The purchase payload schema
mirrors the DDL string handed to ``from_json``
(reference: scripts/spark_batch_processor.py:217-221).

Money stays ``DoubleType`` to match the reference Spark job; switch to
``DecimalType(12, 2)`` only if cent-exact parity with a NUMERIC store is
required.
"""

from __future__ import annotations

from pyspark.sql import types as T

#: The five event types of the reference log
#: (reference: schemas/event_schema.json:123-129).
EVENT_TYPES = ("page_view", "click", "add_to_cart", "purchase", "search")

#: Ordered funnel steps for the reference log
#: (reference: schemas/event_schema.json:138-144).
FUNNEL_STEPS = ("page_view", "click", "add_to_cart", "purchase")

#: Platform → allowed device types
#: (reference: scripts/validate_quality.py:71-75).
PLATFORM_DEVICE_RULES = {
    "web": ("desktop", "mobile", "tablet"),
    "ios": ("mobile",),
    "android": ("mobile",),
}

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.StringType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("user_id", T.StringType(), False),
        T.StructField("session_id", T.StringType(), False),
        T.StructField("timestamp", T.StringType(), False),
        T.StructField("platform", T.StringType(), True),
        T.StructField("device_type", T.StringType(), True),
        T.StructField("os", T.StringType(), True),
        T.StructField("browser", T.StringType(), True),
        T.StructField("page_url", T.StringType(), True),
        T.StructField("page_type", T.StringType(), True),
        T.StructField("element_id", T.StringType(), True),
        T.StructField("element_type", T.StringType(), True),
        T.StructField("product_id", T.StringType(), True),
        T.StructField("category_id", T.StringType(), True),
        T.StructField("quantity", T.IntegerType(), True),
        T.StructField("unit_price", T.DoubleType(), True),
        T.StructField("order_id", T.StringType(), True),
        T.StructField("total_amount", T.DoubleType(), True),
        T.StructField("payment_method", T.StringType(), True),
        T.StructField("search_query", T.StringType(), True),
        T.StructField("result_count", T.IntegerType(), True),
        T.StructField("referrer", T.StringType(), True),
        T.StructField("extra_data", T.StringType(), True),
    ]
)

EXTRA_DATA_SCHEMA = T.StructType(
    [
        T.StructField(
            "products",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("product_id", T.StringType()),
                        T.StructField("quantity", T.IntegerType()),
                        T.StructField("unit_price", T.DoubleType()),
                    ]
                )
            ),
        ),
        T.StructField("discount_amount", T.DoubleType()),
        T.StructField("shipping_fee", T.DoubleType()),
        T.StructField("coupon_code", T.StringType()),
    ]
)

#: Event types of the driver fixture ``events`` table (distinct from the
#: reference log's five types; funnel mapping view → click → purchase).
FIXTURE_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
