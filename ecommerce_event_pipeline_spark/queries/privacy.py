"""Privacy screens for training-data release (T150-T151).

Round-11 expansion: the two checks a data-release pipeline runs before
shipping user-derived tables — k-anonymity over quasi-identifier
combinations, and a differential-privacy-style noisy-count release with
its realized error. Both reduce the event log with one
map-side-combinable aggregate and do all screening at group grain, so
they cost one shuffle at any corpus size.

Exactness: k-anonymity is pure integer counting; the DP noise is the
Laplace inverse-CDF applied to the engine-portable salted md5 uniform
(functions/hashing.py) — a DETERMINISTIC noise draw both engines replay
bit-for-bit (a production release would swap the hash for a sealed RNG;
the plumbing — sensitivity-1 counts, scale 1/ε, post-processing — is
identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.windows import sort_result
from ..registry_core import register
from ..sources.readers import read_events

# ---------------------------------------------------------------------------
# T150 — k-anonymity report over behavioral quasi-identifiers
# ---------------------------------------------------------------------------

_K_ANON_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         CAST(EXTRACT(hour FROM MIN(ts)) AS BIGINT) AS first_hour,
         CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS days_active,
         LEAST(CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT), 5) AS purchase_bucket
  FROM events GROUP BY user_id
),
grp AS (
  SELECT first_hour, days_active, purchase_bucket,
         CAST(COUNT(*) AS BIGINT) AS g
  FROM per_user GROUP BY 1, 2, 3
)
SELECT CAST(SUM(g) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN g < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS unsafe_groups,
       CAST(SUM(CASE WHEN g < 5 THEN g ELSE 0 END) AS BIGINT)
         AS unsafe_users,
       ROUND(CAST(SUM(CASE WHEN g < 5 THEN g ELSE 0 END) AS DOUBLE)
             / CAST(SUM(g) AS DOUBLE), 6) AS suppression_rate,
       CAST(MIN(g) AS BIGINT) AS min_group,
       CAST(MAX(g) AS BIGINT) AS max_group
FROM grp
"""


@register("k_anonymity_report", _K_ANON_ORACLE)
def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T150: k-anonymity screen (k=5) over the behavioral
    quasi-identifier (first-seen hour, active-day count, capped
    purchase count) — the combination an adversary could reconstruct
    from side channels. Reports how many users sit in
    re-identifiable (< k) groups and the suppression rate a release
    would pay. Two aggregates: user-grain profile (map-side
    combinable over the log), then group-grain counting; output is
    one row at any scale."""
    events = read_events(spark, sf_dir)
    per_user = events.groupBy("user_id").agg(
        F.hour(F.min("ts")).cast("long").alias("first_hour"),
        F.count_distinct("event_date").cast("long").alias("days_active"),
        F.least(
            F.sum((F.col("event_type") == "purchase").cast("int")).cast(
                "long"
            ),
            F.lit(5).cast("long"),
        ).alias("purchase_bucket"),
    )
    grp = per_user.groupBy(
        "first_hour", "days_active", "purchase_bucket"
    ).agg(F.count("*").cast("long").alias("g"))
    unsafe = F.when(F.col("g") < 5, F.col("g")).otherwise(0)
    return grp.agg(
        F.sum("g").cast("long").alias("n_users"),
        F.count("*").cast("long").alias("n_groups"),
        F.sum((F.col("g") < 5).cast("int")).cast("long").alias(
            "unsafe_groups"
        ),
        F.sum(unsafe).cast("long").alias("unsafe_users"),
        F.round(
            F.sum(unsafe).cast("double") / F.sum("g").cast("double"), 6
        ).alias("suppression_rate"),
        F.min("g").cast("long").alias("min_group"),
        F.max("g").cast("long").alias("max_group"),
    )


# ---------------------------------------------------------------------------
# T151 — DP-style noisy daily counts (Laplace mechanism, ε = 0.5)
# ---------------------------------------------------------------------------

_DP_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS event_date,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS true_users
  FROM events GROUP BY 1
),
u AS (
  SELECT event_date, true_users,
         CAST(('0x' || substr(md5('dp#' || strftime(event_date, '%Y-%m-%d')),
                              1, 8)) AS BIGINT)
           / 4294967296.0 - 0.5 AS c
  FROM daily
),
n AS (
  SELECT event_date, true_users,
         -2.0 * (CASE WHEN c >= 0.0 THEN 1.0 ELSE -1.0 END)
              * ln(1.0 - 2.0 * ABS(c)) AS noise
  FROM u
)
SELECT event_date, true_users,
       ROUND(noise, 4) + 0.0 AS noise,
       ROUND(true_users + noise, 4) AS released_count,
       ROUND(ABS(noise), 4) AS abs_err
FROM n ORDER BY event_date
"""


@register("dp_noisy_daily_counts", _DP_ORACLE)
def dp_noisy_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T151: Laplace-mechanism noisy release of the daily distinct-user
    count — sensitivity-1 counting query at ε = 0.5, so noise scale
    b = 1/ε = 2: noise = −b·sign(u−½)·ln(1−2|u−½|), the textbook
    inverse CDF, with u the engine-portable salted md5 uniform of the
    date (deterministic here so the oracle replays the draw; swap the
    hash for a sealed RNG to ship). Reports the released counts next
    to the realized per-day error — the utility-vs-privacy readout a
    release pipeline logs. One map-side-combinable distinct aggregate;
    day-grain everything after."""
    events = read_events(spark, sf_dir)
    daily = events.groupBy("event_date").agg(
        F.count_distinct("user_id").cast("long").alias("true_users")
    )
    from ..functions.hashing import md5_prefix_long

    c = md5_prefix_long(
        "dp", F.date_format("event_date", "yyyy-MM-dd")
    ) / F.lit(4294967296.0) - F.lit(0.5)
    u = daily.select("event_date", "true_users", c.alias("c"))
    noise = (
        F.lit(-2.0)
        * F.when(F.col("c") >= 0.0, 1.0).otherwise(-1.0)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs("c"))
    )
    n = u.select("event_date", "true_users", noise.alias("noise"))
    return n.select(
        "event_date",
        "true_users",
        (F.round("noise", 4) + F.lit(0.0)).alias("noise"),
        F.round(F.col("true_users") + F.col("noise"), 4).alias(
            "released_count"
        ),
        F.round(F.abs("noise"), 4).alias("abs_err"),
    ).transform(sort_result, "event_date")
