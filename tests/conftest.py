"""Shared fixtures: one local SparkSession + reference-shaped event factories.

The factory mirrors the reference's ``make_sample_event`` contract
(reference: tests/conftest.py:43-76): per-type required fields filled with
valid defaults, overridable per test to inject violations.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import SparkSession

from ecommerce_event_pipeline_spark.schemas import EVENT_SCHEMA
from ecommerce_event_pipeline_spark.session import get_spark
from ecommerce_event_pipeline_spark.sources.readers import with_time_columns


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = get_spark("pytest", shuffle_partitions=4)
    yield s


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)``: the Spark jobs ``fn`` runs, read from the status
    store under a fresh job group per call (the tracker keeps every
    earlier job of a reused group)."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"count-jobs-{uuid.uuid4()}"
        sc.setJobGroup(group, "count the jobs of one call")
        try:
            fn()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup(None, None)

    return count


_TYPE_DEFAULTS = {
    "page_view": {"page_url": "https://shop.example/p/1", "page_type": "product"},
    "click": {
        "page_url": "https://shop.example/p/1",
        "element_id": "btn-1",
        "element_type": "button",
    },
    "add_to_cart": {"product_id": "P1001", "quantity": 1, "unit_price": 10000.0},
    "purchase": {
        "order_id": "ORD1234567890123",
        "total_amount": 13000.0,
        "payment_method": "credit_card",
        "extra_data": (
            '{"products": [{"product_id": "P1001", "quantity": 1, '
            '"unit_price": 10000.0}], "discount_amount": 0.0, '
            '"shipping_fee": 3000.0, "coupon_code": null}'
        ),
    },
    "search": {"search_query": "shoes", "result_count": 10},
}


def make_event(event_type: str = "page_view", **overrides) -> dict:
    base = {
        "event_id": str(uuid.uuid4()),
        "event_type": event_type,
        "user_id": "U000001",
        "session_id": "11111111-1111-1111-1111-111111111111",
        "timestamp": "2026-01-15T10:00:00",
        "platform": "web",
        "device_type": "desktop",
        "os": "Windows",
        "browser": "Chrome",
    }
    base.update(_TYPE_DEFAULTS.get(event_type, {}))
    base.update(overrides)
    return base


def events_df(spark: SparkSession, rows: list[dict]):
    """Rows (dicts) → wide-schema DataFrame with derived time columns."""
    full = [{f.name: r.get(f.name) for f in EVENT_SCHEMA.fields} for r in rows]
    df = spark.createDataFrame(full, schema=EVENT_SCHEMA)
    return with_time_columns(df, "timestamp", is_string=True)


@pytest.fixture()
def valid_session_rows() -> list[dict]:
    """Canonical funnel session page_view → click → add_to_cart → purchase
    (+ stray search), ts-ordered (reference: tests/conftest.py:79-89)."""
    sid = str(uuid.uuid4())
    times = [f"2026-01-15T10:0{i}:00" for i in range(5)]
    return [
        make_event("page_view", session_id=sid, timestamp=times[0]),
        make_event("click", session_id=sid, timestamp=times[1]),
        make_event("add_to_cart", session_id=sid, timestamp=times[2]),
        make_event("purchase", session_id=sid, timestamp=times[3]),
        make_event("search", session_id=sid, timestamp=times[4]),
    ]
