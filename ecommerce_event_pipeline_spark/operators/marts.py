"""Mart queries — pure ``DataFrame → DataFrame`` conditional-aggregation ops.

Spark-first re-expressions of the reference's four marts and four Spark
outputs (SURVEY §2.4). Every function is generic over the funnel step list
and grouping keys so the same operator serves both the reference's
5-type clickstream log (page_view → click → add_to_cart → purchase) and the
driver fixture ``events`` table (view → click → purchase).

Scale notes (100 TB design point):
- Each query is a single ``groupBy().agg(...)`` — Catalyst plans a partial
  (map-side) + final hash aggregate, so the shuffle carries pre-aggregated
  rows, not events.
- ``countDistinct(when(cond, col))`` is exact conditional-distinct — the
  NULLs produced by unmatched rows are ignored by COUNT DISTINCT. Multiple
  count-distincts on one grouping expand via Spark's `expand` operator
  (one pass, k× rows into the shuffle); at extreme scale swap to
  ``approx_count_distinct`` behind ``approximate=True``.
- Rates divide with an explicit ``nullif(denom, 0)`` mirroring the SQL
  marts (reference: sql/marts/mart_funnel_daily.sql:24-37); non-ANSI Spark
  would yield NULL anyway, but the intent stays visible and ANSI-safe.
- The daily marts (funnel, hourly traffic, user daily) return unsorted
  rows: the pipeline writes them to partitioned Parquet, which keeps no
  order, and a sort costs about 2 jobs and 7 stages per mart. A caller that
  presents rows sorts them itself.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .windows import sort_result


def _cdist(event_type: str, col: str, approximate: bool = False) -> F.Column:
    """COUNT(DISTINCT CASE WHEN event_type = step THEN col END)."""
    picked = F.when(F.col("event_type") == event_type, F.col(col))
    return F.approx_count_distinct(picked) if approximate else F.count_distinct(picked)


def _rate(num: F.Column | str, denom: F.Column | str, decimals: int = 2) -> F.Column:
    num_c = F.col(num) if isinstance(num, str) else num
    denom_c = F.col(denom) if isinstance(denom, str) else denom
    return F.round(num_c * 100.0 / F.nullif(denom_c.cast("double"), F.lit(0.0)), decimals)


def funnel_conversion(
    events: DataFrame,
    steps: Sequence[str],
    group_cols: Sequence[str] = ("event_date", "platform"),
    user_col: str = "user_id",
    step_names: Sequence[str] | None = None,
    approximate: bool = False,
) -> DataFrame:
    """Daily funnel conversion (reference:
    scripts/spark_batch_processor.py:128-170; sql/marts/mart_funnel_daily.sql).

    One distinct-user count per funnel step plus step-to-step and overall
    conversion rates. ``step_names`` overrides output column names
    (default ``step{i}_{type}_users``).
    """
    names = list(step_names) if step_names else [f"step{i+1}_{s}_users" for i, s in enumerate(steps)]
    if approximate:
        aggs = [_cdist(s, user_col, True).alias(n) for s, n in zip(steps, names)]
        out = events.groupBy(*group_cols).agg(*aggs)
    else:
        # Exact distinct-users-per-step WITHOUT count_distinct: multiple
        # distinct aggregates make Catalyst Expand the input k× before the
        # shuffle. Because every step counts the SAME column (user), a
        # two-phase form is equivalent and expand-free: pre-aggregate a
        # 0/1 flag per (group, user) — map-side combinable, shuffle carries
        # ≤ |groups × users| rows — then sum the flags per group. NULL
        # users flag 0 (COUNT DISTINCT ignores NULLs) while their group
        # row survives, exactly like the count_distinct form.
        flags = events.groupBy(*group_cols, user_col).agg(
            *[
                F.max(
                    F.when(
                        (F.col("event_type") == s) & F.col(user_col).isNotNull(),
                        F.lit(1),
                    ).otherwise(F.lit(0))
                ).alias(f"_f{i}")
                for i, s in enumerate(steps)
            ]
        )
        out = flags.groupBy(*group_cols).agg(
            *[F.sum(f"_f{i}").cast("bigint").alias(n) for i, n in enumerate(names)]
        )
    for i in range(1, len(steps)):
        out = out.withColumn(
            f"{steps[i-1]}_to_{steps[i]}_rate", _rate(names[i], names[i - 1])
        )
    return out.withColumn("overall_conversion_rate", _rate(names[-1], names[0]))


def hourly_traffic(
    events: DataFrame,
    group_cols: Sequence[str] = ("event_date", "event_hour", "platform"),
    user_col: str = "user_id",
    session_col: str | None = "session_id",
) -> DataFrame:
    """Hourly traffic rollup (reference:
    scripts/spark_batch_processor.py:172-190)."""
    aggs = [
        F.count("event_id").alias("event_count"),
        F.count_distinct(F.col(user_col)).alias("unique_users"),
    ]
    if session_col is not None:
        aggs.append(F.count_distinct(F.col(session_col)).alias("unique_sessions"))
    return events.groupBy(*group_cols).agg(*aggs)


def user_daily(
    events: DataFrame,
    event_types: Sequence[str],
    user_col: str = "user_id",
    date_col: str = "event_date",
    amount_type: str = "purchase",
    amount_col: str = "total_amount",
    session_col: str | None = "session_id",
) -> DataFrame:
    """Per user × date activity summary (reference:
    sql/marts/mart_user_daily.sql:15-30).

    ``session_duration_seconds`` models the reference's INTERVAL column as
    whole seconds (max − min event time), exactly as its own Spark job does
    (reference: scripts/spark_batch_processor.py:301-303).
    """
    aggs = []
    if session_col is not None:
        aggs.append(F.count_distinct(F.col(session_col)).alias("session_count"))
    aggs += [
        F.count(F.when(F.col("event_type") == t, F.lit(1))).alias(f"{t}_count")
        for t in event_types
    ]
    aggs += [
        F.coalesce(
            F.sum(F.when(F.col("event_type") == amount_type, F.col(amount_col))),
            F.lit(0.0),
        ).alias("total_purchase_amount"),
        F.min("ts").alias("first_event_at"),
        F.max("ts").alias("last_event_at"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias(
            "session_duration_seconds"
        ),
    ]
    return events.groupBy(user_col, date_col).agg(*aggs)


def session_sequences(
    events: DataFrame,
    session_cols: Sequence[str] = ("session_id", "user_id", "platform"),
    purchase_type: str = "purchase",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-session ordered event-type sequence rollup (reference:
    scripts/spark_batch_processor.py:265-310).

    ``row_number`` over (ts, tiebreak) makes the order total even with tied
    timestamps; ``sort_array(collect_list(struct(order, type)))`` makes the
    collected order deterministic (collect_list alone is not), then a
    higher-order ``transform`` + ``concat_ws`` renders "a -> b -> c".
    All JVM-side Catalyst expressions — no Python in the loop.
    """
    w = Window.partitionBy(*session_cols).orderBy(F.col("ts"), F.col(tiebreak_col))
    ordered = events.withColumn("event_order", F.row_number().over(w))
    return (
        ordered.groupBy(*session_cols)
        .agg(
            F.concat_ws(
                " -> ",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("event_order", "event_type"))
                    ),
                    lambda x: x["event_type"],
                ),
            ).alias("event_sequence"),
            F.count("*").alias("event_count"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.max(
                F.when(F.col("event_type") == purchase_type, F.lit(True)).otherwise(
                    F.lit(False)
                )
            ).alias("has_purchase"),
        )
        .withColumn(
            "duration_seconds",
            F.unix_timestamp("session_end") - F.unix_timestamp("session_start"),
        )
    )


def pattern_frequency(sessions: DataFrame, min_count: int = 1) -> DataFrame:
    """Frequency of event sequences across sessions (reference:
    scripts/spark_batch_processor.py:313-321)."""
    out = (
        sessions.groupBy("event_sequence")
        .agg(
            F.count("*").alias("session_count"),
            F.round(F.avg("duration_seconds"), 1).alias("avg_duration_seconds"),
            F.round(F.avg(F.col("has_purchase").cast("int")) * 100.0, 2).alias(
                "purchase_rate"
            ),
        )
        .where(F.col("session_count") >= min_count)
    )
    return out.transform(sort_result, F.desc("session_count"), "event_sequence")


def user_lifetime_partials(events: DataFrame) -> DataFrame:
    """The incremental-maintenance STATE for the user-lifetime mart: one
    row per (user_id, event_date) holding only re-aggregable components
    (counts, sums in exact cents, min/max). A daily pipeline appends just
    the new day's partials instead of rescanning history — the standard
    two-level incremental materialized-view design.
    """
    return events.groupBy("user_id", F.to_date("ts").alias("event_date")).agg(
        F.count("*").alias("n_events"),
        F.sum(
            F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 100 + F.lit(0.5)).cast(
                "long"
            )
        ).alias("spend_cents"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def user_lifetime_rollup(partials: DataFrame) -> DataFrame:
    """Final user-lifetime mart from the partial state: every aggregate is
    a pure re-aggregation (sum of counts/cents, min/max of extrema,
    count of state rows = exact distinct active days since the state is
    keyed by day). Incremental-by-construction: rolling up
    (history-partials ∪ new-day-partials) is IDENTICAL to a full rescan —
    the registry oracle asserts exactly that equivalence."""
    return (
        partials.groupBy("user_id")
        .agg(
            F.sum("n_events").cast("long").alias("total_events"),
            (F.sum("spend_cents") / 100.0).alias("total_spend"),
            F.count("*").cast("long").alias("active_days"),
            F.min("first_ts").alias("first_seen"),
            F.max("last_ts").alias("last_seen"),
        )
        .transform(sort_result, "user_id")
    )
