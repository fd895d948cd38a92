"""The events ``ts`` layouts: a TIMESTAMP(NANOS) file and a
TIMESTAMP(MICROS) file read identically through the one memoized schema.

Every driver fixture stores ``ts`` as micros, so without these files the
nanos branch (inference retry, ``_repair_ns_ts``) runs in no test."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from ecommerce_event_pipeline_spark.sources.readers import (
    clear_memo,
    read_events,
    read_table,
)
from ecommerce_event_pipeline_spark.streaming.jobs import streaming_events

SF_DIR = "/root/testdata/sf0.001"
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _write_events(fixture_dir, unit: str) -> None:
    tbl = pq.read_table(f"{SF_DIR}/events.parquet")
    i = tbl.schema.get_field_index("ts")
    tbl = tbl.set_column(i, "ts", tbl.column("ts").cast(pa.timestamp(unit)))
    fixture_dir.mkdir(exist_ok=True)
    path = str(fixture_dir / "events.parquet")
    pq.write_table(tbl, path)
    stored = pq.ParquetFile(path).schema.column(i).logical_type.to_json()
    assert {"ns": "nanoseconds", "us": "microseconds"}[unit] in stored


def _ts(df) -> list:
    """``ts`` as wall-clock strings (UTC session), in event order."""
    rows = df.orderBy("event_id").select(F.col("ts").cast("string")).collect()
    return [r[0] for r in rows]


def test_nanos_and_micros_layouts_read_identically(spark, tmp_path, count_jobs):
    prev = spark.conf.get(NANOS_AS_LONG, "false")
    nanos, micros = tmp_path / "nanos", tmp_path / "micros"
    _write_events(nanos, "ns")
    _write_events(micros, "us")
    try:
        clear_memo()
        spark.conf.set(NANOS_AS_LONG, "false")
        expected = _ts(read_table(spark, str(micros), "events"))
        assert len(expected) > 0
        for d in (nanos, micros):
            assert _ts(read_table(spark, str(d), "events")) == expected
            # the nanos retry leaves the caller's flag as it found it
            assert spark.conf.get(NANOS_AS_LONG) == "false"
            assert _ts(read_events(spark, str(d))) == expected
            ts = streaming_events(spark, str(d)).schema["ts"].dataType
            assert isinstance(ts, TimestampType)
            # the schema is memoized: a repeat read infers nothing
            assert count_jobs(lambda: read_table(spark, str(d), "events")) == 0

        # a fixture rewritten in the other layout re-resolves after clear_memo
        _write_events(nanos, "us")
        _write_events(micros, "ns")
        clear_memo()
        spark.conf.set(NANOS_AS_LONG, "false")
        for d in (nanos, micros):
            assert _ts(read_table(spark, str(d), "events")) == expected
            ts = streaming_events(spark, str(d)).schema["ts"].dataType
            assert isinstance(ts, TimestampType)
    finally:
        clear_memo()
        spark.conf.set(NANOS_AS_LONG, prev)
