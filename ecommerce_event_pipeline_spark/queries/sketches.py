"""Sketch & streaming-twin queries: HLL rollups and overlap,
mergeable histograms, micro-batch session/sliding twins (T85+ region).

Mechanically split out of registry.py (round-10 trim, VERDICT r9 item
8; zero behavior change — the full oracle mirror is the regression
gate). Imported by registry.py after its own definitions, so pre-split
shared helpers resolve against the already-bound prefix of the
partially-initialized registry module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.windows import sort_result
from ..sources.readers import read_events
from ..registry_core import register


_SESSION_EXPIRY_ORACLE = """
WITH g AS (
  SELECT user_id, ts,
         date_diff('microsecond', LAG(ts) OVER w, ts) AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
m AS (
  SELECT user_id, ts,
         SUM(CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS seq
  FROM g
),
s AS (
  SELECT user_id, seq, MIN(ts) AS session_start, MAX(ts) AS last_ts,
         CAST(COUNT(*) AS BIGINT) AS event_count,
         MAX(seq) OVER (PARTITION BY user_id) AS max_seq
  FROM m GROUP BY user_id, seq
),
wm AS (
  SELECT (epoch_us(MAX(ts)) // 1000) - 3600000 AS wm_ms FROM events
)
SELECT user_id, session_start,
       last_ts + INTERVAL 30 MINUTE AS session_end,
       event_count
FROM s, wm
WHERE seq < max_seq
   OR (epoch_us(last_ts) // 1000) + 1800000 < wm_ms
ORDER BY user_id, session_start
"""


@register("streaming_session_expiry", _SESSION_EXPIRY_ORACLE)
def streaming_session_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization as a custom stateful operator with
    EventTimeTimeout (applyInPandasWithState): a session closed by a
    LATER event of the same user emits immediately (in-batch, watermark-
    independent); each user's final session emits only when the watermark
    fires its timeout in the post-drain no-data batch. The oracle encodes
    both paths at Spark's ms watermark granularity: non-final sessions
    unconditionally, final ones iff expiry < max ts − 1 h — the rest are
    withheld on BOTH sides."""
    from ..streaming import jobs

    return jobs.run_streaming_session_expiry(spark, sf_dir, gap_minutes=30)


_STREAM_SLIDING_ORACLE = """
WITH k AS (SELECT unnest(range(0, 4)) AS i),
w AS (
  SELECT make_timestamp(
           ((epoch_us(ts) // 900000000) * 900000000) - i * 900000000
         ) AS window_start
  FROM events, k
)
SELECT window_start,
       window_start + INTERVAL 1 HOUR AS window_end,
       CAST(COUNT(*) AS BIGINT) AS event_count
FROM w
GROUP BY window_start
ORDER BY window_start
"""


@register("streaming_sliding_traffic", _STREAM_SLIDING_ORACLE)
def streaming_sliding_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h duration / 15 min slide): each event counted
    in 4 overlapping windows. The oracle replays Spark's epoch-aligned
    window assignment arithmetically — start = slide-bucket(ts) − i·slide
    for i in 0..3, every one valid because duration = 4 slides."""
    from ..streaming import jobs

    return jobs.run_streaming_sliding_traffic(spark, sf_dir)


def _hll_oracle() -> str:
    """Full HLL replay in SQL: 60-bit md5 hash, integer bucket/rho split,
    exact scaled register sum — see ``functions/sketch.py`` (hll_sketch /
    hll_estimate) for the design. Hash-compared columns are INTEGER-ONLY
    (exact_users, v_zero, sum_scaled): the ln()-derived estimate was the
    only transcendental in any hashed column repo-wide and a last-ulp
    libm difference between the JVM's log and DuckDB's flipped ROUND(x,2)
    on a boundary row in the driver environment (CORRECTNESS_r05's sole
    reds). The estimate itself is tolerance-checked in pytest
    (tests/test_analytics_marts.py::TestHllEstimates) from this same
    integer state."""
    from ..functions.sketch import _HLL_W_MOD, HLL_M

    scale = _HLL_W_MOD * 2  # 2^53
    return f"""
WITH h AS (
  SELECT CAST(ts AS DATE) AS event_date,
         CAST(('0x' || substr(md5('hll#' || CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM events
),
b AS (
  SELECT event_date, hv // {_HLL_W_MOD} AS bucket, hv % {_HLL_W_MOD} AS w FROM h
),
r AS (
  SELECT event_date, bucket,
         MAX(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS m_rho
  FROM b GROUP BY 1, 2
),
d AS (
  SELECT event_date,
         {HLL_M} - COUNT(*) AS v_zero,
         CAST(SUM(CAST(1 AS BIGINT) << (53 - m_rho))
           + ({HLL_M} - COUNT(*)) * CAST({scale} AS BIGINT) AS BIGINT) AS sum_scaled
  FROM r GROUP BY 1
),
ex AS (
  SELECT CAST(ts AS DATE) AS event_date,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events GROUP BY 1
)
SELECT d.event_date, exact_users, v_zero, sum_scaled
FROM d JOIN ex ON d.event_date = ex.event_date
ORDER BY 1
"""


@register("hll_distinct_daily", _hll_oracle())
def hll_distinct_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable HyperLogLog distinct-users-per-day, value-hash-
    checked on the full INTEGER register state (v_zero, scaled register
    sum) — the fully oracled analog of the rows-only
    ``approx_distinct_daily`` (Spark's built-in HLL sketch hashes
    differently than any other engine's; this one is a pure function of
    md5, so DuckDB replays it bit-for-bit). Exact count_distinct rides
    along for the error comparison. The ln()-derived estimate is
    deliberately NOT in the output: it is a pure function of the hashed
    integers but the one libm call makes ROUND(x,2) engine-dependent at
    the last ulp (the only r05 driver reds); pytest tolerance-checks it
    from this state instead (only sqrt is IEEE-754 correctly rounded
    across libms — see ab_conversion_ztest)."""
    from ..functions import sketch

    ev = read_events(spark, sf_dir).select("event_date", "user_id")
    # Each HLL query builds its own registers from the scan. Do NOT share
    # a cached finest-grain register base across the HLL trio without new
    # measurements: the r8 A/B (docs/SCALING.md "Cross-query base
    # sharing") measured the shared variant at 12–16 s vs ~10 s direct —
    # the cache materialization barrier breaks partial-agg fusion and
    # only amortizes at ≈5+ consumers at this scale.
    regs = sketch.hll_sketch(ev, ["event_date"], "user_id")
    est = sketch.hll_estimate(regs, ["event_date"])
    exact = ev.groupBy("event_date").agg(
        F.count_distinct("user_id").cast("long").alias("exact_users")
    )
    return (
        exact.join(est, "event_date")
        .select("event_date", "exact_users", "v_zero", "sum_scaled")
        .transform(sort_result, "event_date")
    )


def _hll_weekly_oracle() -> str:
    """Weekly HLL by MERGING the daily register tables (max per bucket)
    — never re-hashing the events — vs the exact weekly distinct.
    Hash-compared columns are integer-only (see _hll_oracle)."""
    from ..functions.sketch import _HLL_W_MOD, HLL_M

    scale = _HLL_W_MOD * 2
    return f"""
WITH h AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week_start,
         CAST(ts AS DATE) AS event_date,
         user_id,
         CAST(('0x' || substr(md5('hll#' || CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM events
),
daily_regs AS (
  SELECT week_start, event_date,
         hv // {_HLL_W_MOD} AS bucket,
         MAX(CASE WHEN hv % {_HLL_W_MOD} = 0 THEN 53
                  ELSE 53 - length(bin(hv % {_HLL_W_MOD})) END) AS m_rho
  FROM h GROUP BY 1, 2, 3
),
weekly_regs AS (
  SELECT week_start, bucket, MAX(m_rho) AS m_rho
  FROM daily_regs GROUP BY 1, 2
),
d AS (
  SELECT week_start,
         {HLL_M} - COUNT(*) AS v_zero,
         CAST(SUM(CAST(1 AS BIGINT) << (53 - m_rho))
           + ({HLL_M} - COUNT(*)) * CAST({scale} AS BIGINT) AS BIGINT) AS sum_scaled
  FROM weekly_regs GROUP BY 1
),
ex AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week_start,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events GROUP BY 1
)
SELECT d.week_start, exact_users, v_zero, sum_scaled
FROM d JOIN ex ON d.week_start = ex.week_start
ORDER BY 1
"""


@register("hll_weekly_rollup", _hll_weekly_oracle())
def hll_weekly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The re-aggregation property that justifies carrying sketches at
    all: weekly distinct-user estimates computed by MERGING the daily HLL
    register tables (max per bucket) — the events are hashed once at
    daily grain, and any coarser rollup (week, month, all-time) is a
    256-row-per-group aggregate, never a re-scan. Exact weekly distinct
    rides along; the merge is value-hash-checked on its integer register
    state, the ln()-derived estimate is pytest-tolerance-checked (libm
    portability — see hll_distinct_daily)."""
    from ..functions import sketch

    ev = read_events(spark, sf_dir).select(
        F.date_trunc("week", "ts").cast("date").alias("week_start"),
        "event_date",
        "user_id",
    )
    daily = sketch.hll_sketch(ev, ["week_start", "event_date"], "user_id")
    weekly = daily.groupBy("week_start", "bucket").agg(
        F.max("m_rho").alias("m_rho")
    )
    est = sketch.hll_estimate(weekly, ["week_start"])
    exact = ev.groupBy("week_start").agg(
        F.count_distinct("user_id").cast("long").alias("exact_users")
    )
    return (
        exact.join(est, "week_start")
        .select("week_start", "exact_users", "v_zero", "sum_scaled")
        .transform(sort_result, "week_start")
    )


_HIST_QUANTILE_ORACLE = """
WITH c AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(date_trunc('week', ts) AS DATE) AS week_start,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
),
daily AS (
  SELECT day, week_start,
         LEAST(cents // 1000, 63) AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM c GROUP BY 1, 2, 3
),
weekly AS (
  SELECT week_start, bin, SUM(cnt) AS cnt
  FROM daily GROUP BY 1, 2
),
cum AS (
  SELECT week_start, bin, cnt,
         SUM(cnt) OVER (PARTITION BY week_start ORDER BY bin) AS cum,
         SUM(cnt) OVER (PARTITION BY week_start) AS total
  FROM weekly
),
est AS (
  SELECT week_start, CAST(MAX(total) AS BIGINT) AS n_events,
         CAST(MIN(CASE WHEN cum * 100 >= total * 50
                       THEN (bin + 1) * 1000 END) AS BIGINT) AS est_p50_cents,
         CAST(MIN(CASE WHEN cum * 100 >= total * 95
                       THEN (bin + 1) * 1000 END) AS BIGINT) AS est_p95_cents,
         CAST(MIN(CASE WHEN cum * 100 >= total * 99
                       THEN (bin + 1) * 1000 END) AS BIGINT) AS est_p99_cents
  FROM cum GROUP BY 1
),
exact AS (
  SELECT week_start,
         quantile_cont(cents, 0.5) AS exact_p50_cents,
         quantile_cont(cents, 0.95) AS exact_p95_cents,
         quantile_cont(cents, 0.99) AS exact_p99_cents
  FROM c GROUP BY 1
)
SELECT e.week_start, e.n_events,
       e.est_p50_cents, e.est_p95_cents, e.est_p99_cents,
       x.exact_p50_cents, x.exact_p95_cents, x.exact_p99_cents
FROM est e JOIN exact x ON x.week_start = e.week_start
ORDER BY e.week_start
"""


@register("histogram_quantile_rollup", _HIST_QUANTILE_ORACLE)
def histogram_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram-sketch quantiles: daily 64-bin fixed-edge
    histograms of event value (exact cents, $10 bins) are rolled up into
    weekly sketches by plain register addition — the same
    merge-by-addition property hll_weekly_rollup demonstrates for
    distinct counts, here for quantiles (the production shape of
    approx-quantile serving: sketch once at ingest grain, re-aggregate
    to any coarser grain without rescanning raw data). The weekly p50 /
    p95 / p99 are read off the merged histogram's cumulative counts with
    exact integer cross-multiplication (cum·100 ≥ q·total), reported as
    the bin's inclusive upper edge; exact per-week percentiles ride
    along for the error audit (Spark `percentile` ↔ DuckDB
    `quantile_cont` interpolate identically).

    Scale shape: the sketch state is ≤ 64 rows per day regardless of
    event volume; the rollup and the bin cumsum shuffle only
    (weeks × 64) rows, and the only windows are partitioned by week.
    The exact-percentile audit column is the one full-data pass — at
    true 100 TB scale it would be sampled or dropped, while the sketch
    path's cost is unchanged."""
    ev = read_events(spark, sf_dir).where(F.col("value").isNotNull())
    c = ev.select(
        F.to_date("ts").alias("day"),
        F.date_trunc("week", "ts").cast("date").alias("week_start"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = (
        c.select(
            "day",
            "week_start",
            F.least(F.expr("cents div 1000"), F.lit(63)).alias("bin"),
        )
        .groupBy("day", "week_start", "bin")
        .agg(F.count("*").alias("cnt"))
    )
    weekly = daily.groupBy("week_start", "bin").agg(F.sum("cnt").alias("cnt"))
    from pyspark.sql import Window

    wcum = (
        Window.partitionBy("week_start")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("week_start")
    cum = weekly.select(
        "week_start",
        "bin",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wtot).alias("total"),
    )

    def _est(q: int) -> F.Column:
        return F.min(
            F.when(
                F.col("cum") * 100 >= F.col("total") * q,
                (F.col("bin") + 1) * 1000,
            )
        ).alias(f"est_p{q}_cents")

    est = cum.groupBy("week_start").agg(
        F.max("total").alias("n_events"), _est(50), _est(95), _est(99)
    )
    exact = c.groupBy("week_start").agg(
        F.expr("percentile(cents, 0.5D)").alias("exact_p50_cents"),
        F.expr("percentile(cents, 0.95D)").alias("exact_p95_cents"),
        F.expr("percentile(cents, 0.99D)").alias("exact_p99_cents"),
    )
    return (
        est.join(exact, "week_start")
        .select(
            "week_start",
            "n_events",
            "est_p50_cents",
            "est_p95_cents",
            "est_p99_cents",
            "exact_p50_cents",
            "exact_p95_cents",
            "exact_p99_cents",
        )
        .transform(sort_result, "week_start")
    )


def _hll_overlap_oracle() -> str:
    """Pairwise segment-overlap state from the SAME portable HLL
    registers the daily/weekly queries use: union = max-merge of the two
    segments' registers. Hash-compared columns are INTEGER-ONLY (per-
    segment and union v_zero / scaled register sums plus the exact
    overlap); the ln()-derived estimates and the inclusion-exclusion
    intersection are pytest-tolerance-checked from this state
    (tests/test_analytics_marts.py::TestHllSegmentOverlap) — same libm
    rationale as _hll_oracle."""
    from ..functions.sketch import _HLL_W_MOD, HLL_M

    scale = _HLL_W_MOD * 2
    return f"""
WITH h AS (
  SELECT event_type,
         CAST(('0x' || substr(md5('hll#' || CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM events
),
regs AS (
  SELECT event_type,
         hv // {_HLL_W_MOD} AS bucket,
         MAX(CASE WHEN hv % {_HLL_W_MOD} = 0 THEN 53
                  ELSE 53 - length(bin(hv % {_HLL_W_MOD})) END) AS m_rho
  FROM h GROUP BY 1, 2
),
seg_d AS (
  SELECT event_type,
         {HLL_M} - COUNT(*) AS v_zero,
         CAST(SUM(CAST(1 AS BIGINT) << (53 - m_rho))
           + ({HLL_M} - COUNT(*)) * CAST({scale} AS BIGINT) AS BIGINT) AS sum_scaled
  FROM regs GROUP BY 1
),
pairs AS (
  SELECT a.event_type AS seg_a, b.event_type AS seg_b
  FROM (SELECT DISTINCT event_type FROM regs) a
  JOIN (SELECT DISTINCT event_type FROM regs) b
    ON a.event_type < b.event_type
),
uni AS (
  SELECT seg_a, seg_b, bucket, MAX(m_rho) AS m_rho FROM (
    SELECT p.seg_a, p.seg_b, r.bucket, r.m_rho
    FROM pairs p JOIN regs r ON r.event_type = p.seg_a
    UNION ALL
    SELECT p.seg_a, p.seg_b, r.bucket, r.m_rho
    FROM pairs p JOIN regs r ON r.event_type = p.seg_b
  ) GROUP BY 1, 2, 3
),
uni_d AS (
  SELECT seg_a, seg_b,
         {HLL_M} - COUNT(*) AS v_zero,
         CAST(SUM(CAST(1 AS BIGINT) << (53 - m_rho))
           + ({HLL_M} - COUNT(*)) * CAST({scale} AS BIGINT) AS BIGINT) AS sum_scaled
  FROM uni GROUP BY 1, 2
),
du AS (SELECT DISTINCT event_type, user_id FROM events),
exact AS (
  SELECT a.event_type AS seg_a, b.event_type AS seg_b,
         CAST(COUNT(*) AS BIGINT) AS exact_intersect
  FROM du a JOIN du b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.seg_a, p.seg_b,
       da.v_zero AS v_zero_a, da.sum_scaled AS sum_scaled_a,
       db.v_zero AS v_zero_b, db.sum_scaled AS sum_scaled_b,
       u.v_zero AS v_zero_union, u.sum_scaled AS sum_scaled_union,
       COALESCE(x.exact_intersect, 0) AS exact_intersect
FROM pairs p
JOIN seg_d da ON da.event_type = p.seg_a
JOIN seg_d db ON db.event_type = p.seg_b
JOIN uni_d u ON u.seg_a = p.seg_a AND u.seg_b = p.seg_b
LEFT JOIN exact x ON x.seg_a = p.seg_a AND x.seg_b = p.seg_b
ORDER BY p.seg_a, p.seg_b
"""


@register("hll_segment_overlap", _hll_overlap_oracle())
def hll_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation from HLL sketches — set OPERATIONS on
    the portable registers: for every event-type pair, the union
    audience is the max-merge of the two segments' register tables
    (the same 256-row-per-group fan-in hll_weekly_rollup uses for time
    rollup, here across segments); intersection falls out by
    inclusion-exclusion on the three estimates. Exact pairwise overlap
    rides along for the error audit. Hash-compared columns are the
    integer register state only (v_zero/sum_scaled per segment + union);
    the ln()-derived estimates and the inclusion-exclusion intersection
    are pytest-tolerance-checked from this state — libm portability,
    see hll_distinct_daily.

    This is the query shape behind "how many users did both X and Y"
    dashboards at 100 TB: segments are sketched ONCE (one scan), then
    any of the 2^k segment-combination cardinalities is answered from
    k×256 integers without touching the raw data. The exact audit join
    is user-keyed with fan-out bounded by the segment count per user."""
    from ..functions import sketch

    ev = read_events(spark, sf_dir).select("event_type", "user_id")
    regs = sketch.hll_sketch(ev, ["event_type"], "user_id")
    seg_state = sketch.hll_estimate(regs, ["event_type"])
    types = regs.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("seg_a"))
        .join(
            types.select(F.col("event_type").alias("seg_b")),
            F.col("seg_a") < F.col("seg_b"),
        )
    )
    regs_a = regs.select(
        F.col("event_type").alias("seg_a"), "bucket", "m_rho"
    )
    regs_b = regs.select(
        F.col("event_type").alias("seg_b"), "bucket", "m_rho"
    )
    uni = (
        pairs.join(regs_a, "seg_a")
        .unionByName(pairs.join(regs_b, "seg_b").select(pairs.columns + ["bucket", "m_rho"]))
        .groupBy("seg_a", "seg_b", "bucket")
        .agg(F.max("m_rho").alias("m_rho"))
    )
    uni_state = sketch.hll_estimate(uni, ["seg_a", "seg_b"]).select(
        "seg_a",
        "seg_b",
        F.col("v_zero").alias("v_zero_union"),
        F.col("sum_scaled").alias("sum_scaled_union"),
    )
    du = ev.distinct()
    exact = (
        du.select(F.col("event_type").alias("seg_a"), "user_id")
        .join(du.select(F.col("event_type").alias("seg_b"), "user_id"), "user_id")
        .where(F.col("seg_a") < F.col("seg_b"))
        .groupBy("seg_a", "seg_b")
        .agg(F.count("*").alias("exact_intersect"))
    )
    sa = seg_state.select(
        F.col("event_type").alias("seg_a"),
        F.col("v_zero").alias("v_zero_a"),
        F.col("sum_scaled").alias("sum_scaled_a"),
    )
    sb = seg_state.select(
        F.col("event_type").alias("seg_b"),
        F.col("v_zero").alias("v_zero_b"),
        F.col("sum_scaled").alias("sum_scaled_b"),
    )
    return (
        pairs.join(sa, "seg_a")
        .join(sb, "seg_b")
        .join(uni_state, ["seg_a", "seg_b"])
        .join(exact, ["seg_a", "seg_b"], "left")
        .select(
            "seg_a",
            "seg_b",
            "v_zero_a",
            "sum_scaled_a",
            "v_zero_b",
            "sum_scaled_b",
            "v_zero_union",
            "sum_scaled_union",
            F.coalesce("exact_intersect", F.lit(0)).alias("exact_intersect"),
        )
        .orderBy("seg_a", "seg_b")
    )


_STREAM_HIST_ORACLE = """
WITH c AS (
  SELECT CAST(ts AS DATE) AS day,
         LEAST(CAST(ROUND(value * 100) AS BIGINT) // 1000, 63) AS bin
  FROM events WHERE value IS NOT NULL
),
regs AS (
  SELECT day, bin, CAST(COUNT(*) AS BIGINT) AS cnt FROM c GROUP BY 1, 2
),
cum AS (
  SELECT day, bin,
         SUM(cnt) OVER (PARTITION BY day ORDER BY bin) AS cum,
         SUM(cnt) OVER (PARTITION BY day) AS total
  FROM regs
)
SELECT day, CAST(MAX(total) AS BIGINT) AS n_events,
       CAST(MIN(CASE WHEN cum * 100 >= total * 50
                     THEN (bin + 1) * 1000 END) AS BIGINT) AS est_p50_cents,
       CAST(MIN(CASE WHEN cum * 100 >= total * 95
                     THEN (bin + 1) * 1000 END) AS BIGINT) AS est_p95_cents,
       CAST(MIN(CASE WHEN cum * 100 >= total * 99
                     THEN (bin + 1) * 1000 END) AS BIGINT) AS est_p99_cents
FROM cum GROUP BY 1 ORDER BY 1
"""


@register("streaming_histogram_quantiles", _STREAM_HIST_ORACLE)
def streaming_histogram_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming quantile monitoring: daily tumbling-window 64-bin value
    histograms maintained by Structured Streaming (state ≤ 64 counters
    per open window, watermark-evicted), read off as p50/p95/p99 upper
    bin edges — the live-SLO-dashboard twin of the batch
    histogram_quantile_rollup. Counts merge exactly under any arrival
    order, so the complete-mode result equals the batch replay the
    oracle computes (window('1 day') aligns to UTC calendar days under
    the pinned session timezone)."""
    from ..streaming import jobs

    return jobs.run_streaming_histogram_quantiles(spark, sf_dir)


# ---------------------------------------------------------------------------
# T131 — KMV (bottom-k) distinct-count sketch per day
# ---------------------------------------------------------------------------

_KMV_ORACLE = """
WITH h AS (
  SELECT DISTINCT CAST(ts AS DATE) AS event_date,
         CAST(('0x' || substr(md5('kmv#' || user_id), 1, 8)) AS BIGINT) AS hv
  FROM events
),
rn AS (
  SELECT event_date, hv,
         row_number() OVER (PARTITION BY event_date ORDER BY hv) AS r
  FROM h
),
st AS (
  SELECT event_date,
         CAST(COUNT(*) AS BIGINT) AS n_hashes,
         MAX(CASE WHEN r = 64 THEN hv END) AS kth
  FROM rn GROUP BY 1
),
ex AS (
  SELECT CAST(ts AS DATE) AS event_date,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events GROUP BY 1
)
SELECT st.event_date,
       ex.exact_users,
       CASE WHEN st.n_hashes < 64 THEN st.n_hashes ELSE 64 END AS sketch_size,
       ROUND(CASE WHEN st.kth IS NULL THEN CAST(st.n_hashes AS DOUBLE)
             ELSE 63.0 * 4294967296.0 / CAST(st.kth AS DOUBLE) END, 4)
         AS kmv_estimate,
       CAST(ROUND((CASE WHEN st.kth IS NULL THEN CAST(st.n_hashes AS DOUBLE)
                   ELSE 63.0 * 4294967296.0 / CAST(st.kth AS DOUBLE) END
                   - CAST(ex.exact_users AS DOUBLE))
                  * 1000000.0 / CAST(ex.exact_users AS DOUBLE)) AS BIGINT)
         AS err_ppm
FROM st JOIN ex USING (event_date)
ORDER BY st.event_date
"""


@register("kmv_daily_users", _KMV_ORACLE)
def kmv_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T131: KMV / bottom-k distinct-user sketch per day (k=64) next to
    the exact count and the signed error in ppm — the order-statistics
    alternative to the HLL family (T47/T69/T96): the sketch state is
    the k smallest hash values, EXACTLY mergeable (bottom-k of a union
    = bottom-k of the two bottom-k sets, pinned in pytest), and the
    estimator is (k−1)·2³²/h₍ₖ₎, exact-exhaustive below k. The hash is
    the engine-portable salted md5 prefix (functions/hashing.py), so
    the oracle replays every hash bit. This formulation ranks the full
    per-day hash set (one shuffle + per-day sort); the production
    bounded-state path keeps a k-slot accumulator per partition and
    merges (the exact mergeability above is what licenses that), which
    the window form here is the oracle-checkable twin of."""
    from pyspark.sql import Window

    from ..functions.hashing import md5_prefix_long

    events = read_events(spark, sf_dir)
    h = events.select(
        "event_date", md5_prefix_long("kmv", F.col("user_id")).alias("hv")
    ).distinct()
    w = Window.partitionBy("event_date").orderBy("hv")
    rn = h.withColumn("r", F.row_number().over(w))
    st = rn.groupBy("event_date").agg(
        F.count("*").cast("long").alias("n_hashes"),
        F.max(F.when(F.col("r") == 64, F.col("hv"))).alias("kth"),
    )
    ex = events.groupBy("event_date").agg(
        F.count_distinct("user_id").cast("long").alias("exact_users")
    )
    est = F.when(
        F.col("kth").isNull(), F.col("n_hashes").cast("double")
    ).otherwise(F.lit(63.0) * F.lit(4294967296.0) / F.col("kth").cast("double"))
    return (
        st.join(ex, "event_date")
        .select(
            "event_date",
            "exact_users",
            F.when(F.col("n_hashes") < 64, F.col("n_hashes"))
            .otherwise(F.lit(64).cast("long"))
            .alias("sketch_size"),
            F.round(est, 4).alias("kmv_estimate"),
            F.round(
                (est - F.col("exact_users").cast("double"))
                * 1000000.0
                / F.col("exact_users").cast("double")
            )
            .cast("long")
            .alias("err_ppm"),
        )
        .transform(sort_result, "event_date")
    )


# ---------------------------------------------------------------------------
# T146 — KMV sketch set algebra: union / intersection / Jaccard estimates
# ---------------------------------------------------------------------------

_KMV_SETOPS_ORACLE = """
WITH b AS (
  SELECT MIN(CAST(ts AS DATE)) AS mn, MAX(CAST(ts AS DATE)) AS mx FROM events
),
hu AS (
  SELECT DISTINCT
         CASE WHEN CAST(ts AS DATE) <=
              CAST(b.mn + (date_diff('day', b.mn, b.mx) // 2)
                   * INTERVAL 1 DAY AS DATE)
              THEN 0 ELSE 1 END AS half,
         user_id
  FROM events, b
),
hh AS (
  SELECT DISTINCT half,
         CAST(('0x' || substr(md5('kmv#' || user_id), 1, 8)) AS BIGINT) AS hv
  FROM hu
),
rk AS (
  SELECT half, hv,
         row_number() OVER (PARTITION BY half ORDER BY hv) AS r
  FROM hh
),
sk AS (SELECT half, hv FROM rk WHERE r <= 64),
hs AS (
  SELECT half, CAST(COUNT(*) AS BIGINT) AS k, MAX(hv) AS kth
  FROM sk GROUP BY half
),
urk AS (
  SELECT hv, row_number() OVER (ORDER BY hv) AS r
  FROM (SELECT DISTINCT hv FROM sk)
),
usk AS (SELECT hv FROM urk WHERE r <= 64),
us AS (SELECT CAST(COUNT(*) AS BIGINT) AS ku, MAX(hv) AS kthu FROM usk),
rho AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_both
  FROM usk
  WHERE hv IN (SELECT hv FROM sk WHERE half = 0)
    AND hv IN (SELECT hv FROM sk WHERE half = 1)
),
ests AS (
  SELECT
    (SELECT CASE WHEN k < 64 THEN CAST(k AS DOUBLE)
            ELSE 63.0 * 4294967296.0 / CAST(kth AS DOUBLE) END
     FROM hs WHERE half = 0) AS est_first,
    (SELECT CASE WHEN k < 64 THEN CAST(k AS DOUBLE)
            ELSE 63.0 * 4294967296.0 / CAST(kth AS DOUBLE) END
     FROM hs WHERE half = 1) AS est_second,
    (SELECT CASE WHEN ku < 64 THEN CAST(ku AS DOUBLE)
            ELSE 63.0 * 4294967296.0 / CAST(kthu AS DOUBLE) END
     FROM us) AS est_union,
    CAST((SELECT n_both FROM rho) AS DOUBLE)
      / CAST((SELECT ku FROM us) AS DOUBLE) AS jac
),
ex AS (
  SELECT
    CAST(COUNT(DISTINCT CASE WHEN half = 0 THEN user_id END) AS BIGINT)
      AS exact_first,
    CAST(COUNT(DISTINCT CASE WHEN half = 1 THEN user_id END) AS BIGINT)
      AS exact_second,
    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_union
  FROM hu
),
exi AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection
  FROM (SELECT user_id FROM hu GROUP BY user_id
        HAVING COUNT(DISTINCT half) = 2)
)
SELECT ROUND(ests.est_first, 4) AS est_first,
       ROUND(ests.est_second, 4) AS est_second,
       ROUND(ests.est_union, 4) AS est_union,
       ROUND(ests.jac, 6) AS est_jaccard,
       ROUND(ests.jac * ests.est_union, 2) AS est_intersection,
       ex.exact_first, ex.exact_second, ex.exact_union,
       exi.exact_intersection
FROM ests, ex, exi
"""


@register("kmv_set_ops", _KMV_SETOPS_ORACLE)
def kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T146: KMV sketch SET ALGEBRA — the reason bottom-k sketches earn
    their keep over raw counts: union is exact sketch merge (bottom-k
    of the two registers' union), and intersection/Jaccard come from
    Beyer et al.'s ρ estimator (SIGMOD'07): ρ = fraction of the union
    sketch's registers present in both per-set sketches, est∩ =
    ρ·est∪. Audience-overlap between the first and second half of the
    month, sketch estimates side-by-side with the exact counts — the
    KMV twin of `hll_segment_overlap` (HLL inclusion-exclusion), but
    with a bounded-error ratio estimator instead of differencing two
    noisy cardinalities. Scale shape: the one full-data pass is the
    DISTINCT (half, user) collapse (map-side combinable); everything
    after is ≤64-row register sets, broadcast everywhere."""
    from pyspark.sql import Window

    from ..functions.hashing import md5_prefix_long

    events = read_events(spark, sf_dir)
    b = events.agg(
        F.min("event_date").alias("mn"), F.max("event_date").alias("mx")
    )
    cut = F.date_add(F.col("mn"), (F.datediff("mx", "mn") / 2).cast("int"))
    # hu feeds 3 branches (hashing, exact counts, exact intersection) and
    # sk feeds 4 (per-half stats, union sketch, both membership sides);
    # without a materialization barrier each branch re-scans events and
    # redoes the distinct — 7 full passes. hu is |users|·2 rows, sk ≤128.
    hu = (
        events.crossJoin(F.broadcast(b))
        .select(
            F.when(F.col("event_date") <= cut, 0).otherwise(1).alias("half"),
            "user_id",
        )
        .distinct()
        .localCheckpoint()
    )
    hh = hu.select(
        "half", md5_prefix_long("kmv", F.col("user_id")).alias("hv")
    ).distinct()
    rk = hh.select(
        "half",
        "hv",
        F.row_number().over(Window.partitionBy("half").orderBy("hv")).alias("r"),
    )
    sk = rk.where(F.col("r") <= 64).select("half", "hv").localCheckpoint()
    hs = sk.groupBy("half").agg(
        F.count("*").cast("long").alias("k"), F.max("hv").alias("kth")
    )
    usk = (
        sk.select("hv")
        .distinct()
        .select("hv", F.row_number().over(Window.orderBy("hv")).alias("r"))
        .where(F.col("r") <= 64)
        .select("hv")
    )
    us = usk.agg(
        F.count("*").cast("long").alias("ku"), F.max("hv").alias("kthu")
    )
    s0 = sk.where(F.col("half") == 0).select("hv")
    s1 = sk.where(F.col("half") == 1).select("hv")
    rho = (
        usk.join(s0, "hv", "left_semi")
        .join(s1, "hv", "left_semi")
        .agg(F.count("*").cast("long").alias("n_both"))
    )

    def _est(k: F.Column, kth: F.Column) -> F.Column:
        return F.when(k < 64, k.cast("double")).otherwise(
            F.lit(63.0) * F.lit(4294967296.0) / kth.cast("double")
        )

    # scalar-subquery semantics, not a filtered row: when a half has no
    # users (single-day data puts everything at half=0) the oracle's
    # (SELECT ... WHERE half = 1) yields NULL while a filtered DataFrame
    # would yield ZERO ROWS and the chained crossJoins would empty the
    # whole result (review r11). One global aggregate always emits one
    # row, NULL estimate included.
    ee = hs.agg(
        F.max(
            F.when(F.col("half") == 0, _est(F.col("k"), F.col("kth")))
        ).alias("est_first"),
        F.max(
            F.when(F.col("half") == 1, _est(F.col("k"), F.col("kth")))
        ).alias("est_second"),
    )
    eu = us.select(_est(F.col("ku"), F.col("kthu")).alias("est_union"))
    ex = hu.agg(
        F.count_distinct(F.when(F.col("half") == 0, F.col("user_id")))
        .cast("long")
        .alias("exact_first"),
        F.count_distinct(F.when(F.col("half") == 1, F.col("user_id")))
        .cast("long")
        .alias("exact_second"),
        F.count_distinct("user_id").cast("long").alias("exact_union"),
    )
    exi = (
        hu.groupBy("user_id")
        .agg(F.count_distinct("half").alias("nh"))
        .where(F.col("nh") == 2)
        .agg(F.count("*").cast("long").alias("exact_intersection"))
    )
    jac = F.col("n_both").cast("double") / F.col("ku").cast("double")
    return (
        ee.crossJoin(F.broadcast(eu))
        .crossJoin(F.broadcast(rho))
        .crossJoin(F.broadcast(us.select("ku")))
        .crossJoin(F.broadcast(ex))
        .crossJoin(F.broadcast(exi))
        .select(
            F.round("est_first", 4).alias("est_first"),
            F.round("est_second", 4).alias("est_second"),
            F.round("est_union", 4).alias("est_union"),
            F.round(jac, 6).alias("est_jaccard"),
            F.round(jac * F.col("est_union"), 2).alias("est_intersection"),
            "exact_first",
            "exact_second",
            "exact_union",
            "exact_intersection",
        )
    )


# ---------------------------------------------------------------------------
# T165 — DDSketch-family log-domain quantile sketch (relative-error, mergeable)
# ---------------------------------------------------------------------------

_DDSKETCH_ORACLE = """
WITH c AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
  WHERE value IS NOT NULL AND CAST(ROUND(value * 100) AS BIGINT) >= 1
),
b AS (
  SELECT event_type, day,
         length(bin(cents)) - 1 AS p,
         ((cents - (CAST(1 AS BIGINT) << (length(bin(cents)) - 1))) * 16)
           // (CAST(1 AS BIGINT) << (length(bin(cents)) - 1)) AS s
  FROM c
),
daily AS (
  SELECT event_type, day, p, s, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM b GROUP BY 1, 2, 3, 4
),
merged AS (
  SELECT event_type, p, s, SUM(cnt) AS cnt
  FROM daily GROUP BY 1, 2, 3
),
cum AS (
  SELECT event_type, p, s, cnt,
         (CAST(1 AS BIGINT) << p) + (s * (CAST(1 AS BIGINT) << p)) // 16 AS lo,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY p, s) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS total
  FROM merged
),
est AS (
  SELECT event_type,
         CAST(MAX(total) AS BIGINT) AS n_events,
         CAST(COUNT(*) AS BIGINT) AS sketch_buckets,
         CAST(MIN(CASE WHEN cum * 100 >= total * 50 THEN lo END) AS BIGINT)
           AS est_p50_cents,
         CAST(MIN(CASE WHEN cum * 100 >= total * 90 THEN lo END) AS BIGINT)
           AS est_p90_cents,
         CAST(MIN(CASE WHEN cum * 100 >= total * 99 THEN lo END) AS BIGINT)
           AS est_p99_cents
  FROM cum GROUP BY 1
),
exact AS (
  SELECT event_type,
         quantile_cont(cents, 0.5) AS exact_p50_cents,
         quantile_cont(cents, 0.9) AS exact_p90_cents,
         quantile_cont(cents, 0.99) AS exact_p99_cents
  FROM c GROUP BY 1
)
SELECT e.event_type, e.n_events, e.sketch_buckets,
       e.est_p50_cents, e.est_p90_cents, e.est_p99_cents,
       x.exact_p50_cents, x.exact_p90_cents, x.exact_p99_cents
FROM est e JOIN exact x ON x.event_type = e.event_type
ORDER BY e.event_type
"""


@register("ddsketch_value_quantiles", _DDSKETCH_ORACLE)
def ddsketch_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T165: log-domain RELATIVE-error quantile sketch (the DDSketch
    family — Masson/Rim/Lee, VLDB 2019), completing the mergeable-sketch
    set next to CMS, HLL, KMV, Misra-Gries, and the fixed-edge histogram
    (T49 ``histogram_quantile_rollup``). Where the fixed-edge histogram's
    error is ABSOLUTE (one $10 bin, useless at the $1 end and wasteful at
    the $10k end), the log-domain sketch buckets by (octave, linear
    sub-bucket): p = floor(log2(cents)), s = ((cents − 2^p)·16) div 2^p —
    16 sub-buckets per octave ⇒ bucket width ≤ 2^p/16 at values ≥ 2^p,
    i.e. ≤ 6.25 % relative error at EVERY magnitude, with O(16·log₂ range)
    buckets total regardless of data volume. This is DDSketch's
    logarithmic mapping realized with the "fast" variant's
    exponent-extraction trick, made ENGINE-PORTABLE by computing
    floor(log2) as ``length(bin(v)) − 1`` — pure integer/string ops that
    the JVM and DuckDB replay bit-identically, instead of libm ``log()``
    whose 1-ulp divergence the repo's determinism discipline forbids in
    hash-graded columns (see geo_cell_neighbors' documented exception).

    Mergeability is the point: per-(event_type, day) sketches fold into
    per-type sketches by plain count addition (same property the HLL
    max-merge and KMV bottom-k merges pin in pytest) — sketch once at
    ingest grain, re-aggregate to any coarser grain without rescanning
    raw data. Quantile read-off walks the merged cumulative counts with
    exact integer cross-multiplication (cum·100 ≥ q·total) and reports
    the crossing bucket's integer lower edge lo = 2^p + (s·2^p) div 16 —
    a deterministic from-below estimate within one bucket width of the
    true quantile. Exact percentiles ride along for the error audit
    (Spark ``percentile`` ↔ DuckDB ``quantile_cont`` interpolate
    identically).

    Scale shape: state is ≤ 16·⌈log₂(max cents)⌉ rows per (type, day) —
    ~320 at any data volume; the merge and cumsum shuffle only
    (types × buckets) rows; no full-data sort anywhere. The exact-audit
    column is the one full-data pass, dropped or sampled at true 100 TB
    scale while the sketch path's cost is unchanged. Bucket merge
    invariance (daily-merged ≡ direct) and the per-magnitude error bound
    are pinned in tests/test_sketch.py."""
    from pyspark.sql import Window

    ev = read_events(spark, sf_dir).where(F.col("value").isNotNull())
    c = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).where(F.col("cents") >= 1)
    from ..functions.sketch import log_bucket_exprs

    pexp, sexp = log_bucket_exprs("cents", m=16)
    b = c.select(
        "event_type",
        "day",
        F.expr(pexp).alias("p"),
        F.expr(sexp).alias("s"),
    )
    daily = b.groupBy("event_type", "day", "p", "s").agg(
        F.count("*").cast("long").alias("cnt")
    )
    merged = daily.groupBy("event_type", "p", "s").agg(
        F.sum("cnt").alias("cnt")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("p", "s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("event_type")
    cum = merged.select(
        "event_type",
        "p",
        "s",
        "cnt",
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), p)"
            " + (s * shiftleft(CAST(1 AS BIGINT), p)) div 16"
        ).alias("lo"),
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wtot).alias("total"),
    )

    def _est(q: int) -> F.Column:
        return (
            F.min(
                F.when(F.col("cum") * 100 >= F.col("total") * q, F.col("lo"))
            )
            .cast("long")
            .alias(f"est_p{q}_cents")
        )

    est = cum.groupBy("event_type").agg(
        F.max("total").cast("long").alias("n_events"),
        F.count("*").cast("long").alias("sketch_buckets"),
        _est(50),
        _est(90),
        _est(99),
    )
    exact = c.groupBy("event_type").agg(
        F.expr("percentile(cents, 0.5D)").alias("exact_p50_cents"),
        F.expr("percentile(cents, 0.9D)").alias("exact_p90_cents"),
        F.expr("percentile(cents, 0.99D)").alias("exact_p99_cents"),
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "n_events",
            "sketch_buckets",
            "est_p50_cents",
            "est_p90_cents",
            "est_p99_cents",
            "exact_p50_cents",
            "exact_p90_cents",
            "exact_p99_cents",
        )
        .transform(sort_result, "event_type")
    )
