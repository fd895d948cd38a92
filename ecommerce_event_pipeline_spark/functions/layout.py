"""Data-layout utilities for scan pruning at scale.

Z-ordering (Morton interleave) clusters rows so that BOTH dimensions of a
two-column predicate map to contiguous key ranges: files written in
z-value order get tight parquet row-group min/max bounds on BOTH columns,
so a `user BETWEEN … AND day BETWEEN …` scan skips most row groups —
single-column sort only prunes its leading column. This is the layout
step a 100 TB table maintenance job runs at write time; the z-value is
pure integer bit arithmetic (shift/AND/OR), whole-stage-codegen'd and
engine-portable for the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.windows import sort_result


def z_value(x: F.Column, y: F.Column, bits: int = 16) -> F.Column:
    """Morton/Z interleave of the low ``bits`` of two non-negative ints:
    bit i of x lands at position 2i, bit i of y at 2i+1. Built as a
    balanced OR-tree of shift/AND terms — one codegen'd expression, no
    UDF, and the same `(v >> i) & 1 << p` arithmetic runs in any SQL
    engine."""
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out.cast("long")


def z_value_sql(x: str, y: str, bits: int = 16) -> str:
    """The identical interleave as portable SQL text (oracle twin)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


def zorder_events_layout(events: DataFrame, buckets: int = 1024) -> DataFrame:
    """The write-time layout pass at event grain: key each event by
    (user bucket, minute-of-day) and compute its z-value — a row-local
    projection (no shuffle, no UDF). A maintenance job would follow with
    ``repartitionByRange("z_key").sortWithinPartitions("z_key")`` and
    write; every produced file then holds a tight (user, minute) box and
    parquet min/max row-group stats prune on BOTH predicates."""
    return events.select(
        "event_id",
        (F.col("user_id") % buckets).alias("user_bucket"),
        (F.hour("ts") * 60 + F.minute("ts")).alias("minute_of_day"),
    ).select(
        "event_id",
        "user_bucket",
        "minute_of_day",
        z_value(F.col("user_bucket"), F.col("minute_of_day"), 11).alias("z_key"),
    )


def zorder_box_stats(events: DataFrame, prefix_shift: int = 14) -> DataFrame:
    """Locality evidence for the z-layout: group events by the top bits of
    their z-value (one group ≈ one written file) and report each group's
    (user_bucket, minute_of_day) bounding box. Tight boxes on BOTH
    dimensions are exactly what makes min/max row-group pruning work for
    two-column predicates — a single-column sort gives tight bounds on one
    dimension and full-range bounds on the other."""
    keyed = zorder_events_layout(events)
    return (
        keyed.groupBy(
            F.shiftright("z_key", prefix_shift).cast("long").alias("z_prefix")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min("user_bucket").alias("user_lo"),
            F.max("user_bucket").alias("user_hi"),
            F.min("minute_of_day").alias("minute_lo"),
            F.max("minute_of_day").alias("minute_hi"),
        )
        .transform(sort_result, "z_prefix")
    )
