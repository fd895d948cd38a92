"""Metric-drift and robust-trend monitoring operators (T140-T143).

Round-11 expansion: the change-detection toolkit an operations or
data-quality team runs over a daily KPI series — CUSUM drift
accumulation, single change-point location, Theil-Sen robust trend, and
a Poisson-bootstrap confidence interval. All four work on the daily
purchase-revenue series (map-side-combinable day-grain aggregate of the
event log, so the pre-statistic reduction is one shuffle at any scale
and every downstream table is calendar-bounded).

Exactness discipline (same as queries/experiments.py): sufficient
statistics are exact BIGINT cent sums; every DOUBLE is a fixed
single-expression tree over those integers, mirrored verbatim in the
oracle, so the driver's value hash is partition- and engine-stable.

Reference parity: the reference pipeline has no drift monitoring; these
extend its daily-KPI reporting family (scripts/spark_batch_processor.py:
128-321 daily aggregates) with the screens a production deployment
layers on top of the same marts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.windows import pin_frame
from ..registry_core import register
from ..sources.readers import read_events

# ---------------------------------------------------------------------------
# Shared day-grain revenue CTE (oracle) / DataFrame (Spark)
# ---------------------------------------------------------------------------

_DAILY_CTE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS event_date,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1
)"""


def _daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_date, cents): exact integer daily purchase revenue."""
    return (
        read_events(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .groupBy("event_date")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )


# ---------------------------------------------------------------------------
# T140 — one-sided CUSUM drift accumulation over daily revenue
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = (
    _DAILY_CTE
    + """,
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s1,
         list_reduce(list_prepend(0.0::DOUBLE,
             list(CAST(cents AS DOUBLE) * CAST(cents AS DOUBLE)
                  ORDER BY event_date)), (a, b) -> a + b) AS s2d
  FROM daily
),
dev AS (
  SELECT d.event_date, d.cents,
         t.n * d.cents - t.s1 AS dev,
         sqrt(t.n * t.s2d
              - CAST(t.s1 AS DOUBLE) * CAST(t.s1 AS DOUBLE)) AS sigma_dev
  FROM daily d, tot t
),
pre AS (
  SELECT event_date, cents, dev, sigma_dev,
         SUM(dev) OVER (ORDER BY event_date
                        ROWS UNBOUNDED PRECEDING) AS pref
  FROM dev
),
cus AS (
  SELECT event_date, cents, sigma_dev, pref,
         pref - LEAST(MIN(pref) OVER (ORDER BY event_date
                                      ROWS UNBOUNDED PRECEDING), 0) AS cusum
  FROM pre
)
SELECT event_date, cents AS daily_cents,
       CAST(cusum AS BIGINT) AS cusum_dev,
       ROUND(CAST(cusum AS DOUBLE) / sigma_dev, 6) AS cusum_sigmas,
       CASE WHEN CAST(cusum AS DOUBLE) > 5.0 * sigma_dev
            THEN 1 ELSE 0 END AS drift_flag
FROM cus ORDER BY event_date
"""
)


@register("revenue_cusum", _CUSUM_ORACLE)
def revenue_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T140: one-sided CUSUM drift screen over daily purchase revenue.

    The textbook fold S_t = max(0, S_{t-1} + dev_t) is rewritten in its
    closed window form S_t = P_t − min(0, min_{j≤t} P_j) (P = prefix sum
    of deviations), so BOTH engines compute it with two ordinary
    running-window aggregates — no ordered fold, no recursion, and the
    whole statistic stays exact BIGINT (dev_t = n·c_t − Σc, i.e. n×the
    mean deviation, clearing the division). The alarm threshold is the
    classic h = 5σ with σ_dev = √(n·Σc² − (Σc)²), Σc² accumulated as an
    ordered day-sorted DOUBLE fold: at 100 TB daily cents reach ~10¹³,
    whose square overflows int64 (and (Σc)² does ~30× sooner) — DuckDB
    would error while Spark silently wraps to a NaN σ (review r11
    finding). Day-grain input ⇒ the fold and the windowed part are
    calendar-bounded; the only full-data pass is the map-side-combinable
    daily aggregate.
    """
    daily = _daily_revenue(spark, sf_dir)
    sq = F.col("cents").cast("double") * F.col("cents").cast("double")
    tot = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s1"),
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct("event_date", sq.alias("sq")))
            ),
            F.lit(0.0),
            lambda a, e: a + e["sq"],
        ).alias("s2d"),
    )
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "event_date",
        "cents",
        (F.col("n") * F.col("cents") - F.col("s1")).alias("dev"),
        F.sqrt(
            F.col("n") * F.col("s2d")
            - F.col("s1").cast("double") * F.col("s1").cast("double")
        ).alias("sigma_dev"),
    )
    w = Window.orderBy("event_date").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = dev.withColumn("pref", F.sum("dev").over(w))
    cus = pre.withColumn(
        "cusum",
        F.col("pref") - F.least(F.min("pref").over(w), F.lit(0).cast("long")),
    )
    return cus.select(
        "event_date",
        F.col("cents").alias("daily_cents"),
        F.col("cusum").cast("long").alias("cusum_dev"),
        F.round(F.col("cusum").cast("double") / F.col("sigma_dev"), 6).alias(
            "cusum_sigmas"
        ),
        F.when(
            F.col("cusum").cast("double") > F.lit(5.0) * F.col("sigma_dev"), 1
        )
        .otherwise(0)
        .alias("drift_flag"),
    ).orderBy("event_date")


# ---------------------------------------------------------------------------
# T141 — single change-point location (max between-segment contrast)
# ---------------------------------------------------------------------------

_CHANGEPOINT_ORACLE = (
    _DAILY_CTE
    + """,
idx AS (
  SELECT event_date, cents,
         row_number() OVER (ORDER BY event_date) AS t,
         SUM(cents) OVER (ORDER BY event_date
                          ROWS UNBOUNDED PRECEDING) AS pref,
         CAST(COUNT(*) OVER () AS BIGINT) AS n,
         SUM(cents) OVER () AS s1
  FROM daily
),
stat AS (
  SELECT event_date, t, n,
         CAST(pref AS DOUBLE) / t AS mean_left,
         CAST(s1 - pref AS DOUBLE) / (n - t) AS mean_right,
         ABS(CAST(pref AS DOUBLE) / t - CAST(s1 - pref AS DOUBLE) / (n - t))
           * sqrt(CAST(t * (n - t) AS DOUBLE) / n) AS contrast
  FROM idx WHERE t >= 5 AND t <= n - 5
)
SELECT event_date AS split_after,
       CAST(t AS BIGINT) AS days_before,
       CAST(n - t AS BIGINT) AS days_after,
       ROUND(mean_left / 100.0, 2) AS mean_before,
       ROUND(mean_right / 100.0, 2) AS mean_after,
       ROUND(contrast / 100.0, 4) AS contrast
FROM stat ORDER BY stat.contrast DESC, event_date LIMIT 1
"""
)


@register("revenue_changepoint", _CHANGEPOINT_ORACLE)
def revenue_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T141: single change-point detection on daily revenue — binary
    segmentation's first split: for every candidate boundary t (≥5 days
    each side) the CUSUM-type contrast |mean_left − mean_right| ·
    √(t(n−t)/n), maximized. Means come from one prefix-sum window over
    the exact integer cent series; argmax is an orderBy/limit 1 (a
    TakeOrderedAndProject — no second pass). Calendar-bounded compute
    after the one daily aggregate, at any corpus scale."""
    daily = _daily_revenue(spark, sf_dir)
    wo = Window.orderBy("event_date")
    wall = Window.partitionBy()
    idx = daily.select(
        "event_date",
        "cents",
        F.row_number().over(wo).alias("t"),
        F.sum("cents")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("pref"),
        F.count("*").over(wall).cast("long").alias("n"),
        F.sum("cents").over(wall).alias("s1"),
    )
    mean_left = F.col("pref").cast("double") / F.col("t")
    mean_right = (F.col("s1") - F.col("pref")).cast("double") / (
        F.col("n") - F.col("t")
    )
    contrast = F.abs(mean_left - mean_right) * F.sqrt(
        (F.col("t") * (F.col("n") - F.col("t"))).cast("double") / F.col("n")
    )
    return (
        idx.where((F.col("t") >= 5) & (F.col("t") <= F.col("n") - 5))
        .select(
            F.col("event_date").alias("split_after"),
            F.col("t").cast("long").alias("days_before"),
            (F.col("n") - F.col("t")).cast("long").alias("days_after"),
            F.round(mean_left / 100.0, 2).alias("mean_before"),
            F.round(mean_right / 100.0, 2).alias("mean_after"),
            F.round(contrast / 100.0, 4).alias("contrast"),
            contrast.alias("_c"),
        )
        .orderBy(F.desc("_c"), "split_after")
        .limit(1)
        .drop("_c")
    )


# ---------------------------------------------------------------------------
# T142 — Theil-Sen robust trend (median of pairwise slopes)
# ---------------------------------------------------------------------------

_THEIL_SEN_ORACLE = (
    _DAILY_CTE
    + """,
idx AS (
  SELECT cents, row_number() OVER (ORDER BY event_date) AS t FROM daily
),
slopes AS (
  SELECT CAST(b.cents - a.cents AS DOUBLE) / (b.t - a.t) AS slope
  FROM idx a JOIN idx b ON b.t > a.t
),
rs AS (
  SELECT slope, row_number() OVER (ORDER BY slope) AS r,
         CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM slopes
),
med AS (
  SELECT m,
         CASE WHEN m % 2 = 1
              THEN MAX(CASE WHEN r = (m + 1) // 2 THEN slope END)
              ELSE (MAX(CASE WHEN r = m // 2 THEN slope END)
                    + MAX(CASE WHEN r = m // 2 + 1 THEN slope END)) / 2.0
         END AS slope_med
  FROM rs GROUP BY m
),
res AS (
  SELECT i.cents - md.slope_med * i.t AS resid,
         row_number() OVER (ORDER BY i.cents - md.slope_med * i.t) AS r,
         CAST(COUNT(*) OVER () AS BIGINT) AS n, md.m, md.slope_med
  FROM idx i, med md
)
SELECT CAST(MAX(n) AS BIGINT) AS n_days,
       CAST(MAX(m) AS BIGINT) AS n_pairs,
       ROUND(MAX(slope_med) / 100.0, 6) + 0.0 AS slope_per_day,
       ROUND(CASE WHEN MAX(n) % 2 = 1
              THEN MAX(CASE WHEN r = (n + 1) // 2 THEN resid END)
              ELSE (MAX(CASE WHEN r = n // 2 THEN resid END)
                    + MAX(CASE WHEN r = n // 2 + 1 THEN resid END)) / 2.0
         END / 100.0, 6) + 0.0 AS intercept
FROM res
"""
)


@register("theil_sen_trend", _THEIL_SEN_ORACLE)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T142: Theil-Sen robust trend of daily revenue — the median of all
    pairwise slopes (c_j−c_i)/(j−i), with the Theil-Sen intercept
    median(c_i − slope·i). Breakdown point 29%: a few stall- or
    outage-distorted days cannot drag the slope the way OLS's squared
    loss does (the complement to price_quantity_ols). The pairwise
    table is days², i.e. calendar-bounded (≈n²/2 ~ 400 rows for a
    month) regardless of corpus size — the one full-data pass is the
    daily aggregate. Medians are explicit order statistics (row_number
    + middle pick), identical in both engines, not an interpolating
    percentile whose tie-breaking could diverge."""
    daily = _daily_revenue(spark, sf_dir)
    idx = daily.select(
        "cents", F.row_number().over(Window.orderBy("event_date")).alias("t")
    )
    a = idx.select(F.col("cents").alias("ca"), F.col("t").alias("ta"))
    b = idx.select(F.col("cents").alias("cb"), F.col("t").alias("tb"))
    slopes = (
        a.join(b, F.col("tb") > F.col("ta"))
        .select(
            (
                (F.col("cb") - F.col("ca")).cast("double")
                / (F.col("tb") - F.col("ta"))
            ).alias("slope")
        )
    )
    wall = Window.partitionBy()
    rs = slopes.select(
        "slope",
        F.row_number().over(Window.orderBy("slope")).alias("r"),
        F.count("*").over(wall).cast("long").alias("m"),
    )
    half_m = F.expr("m div 2")
    med = rs.groupBy("m").agg(
        F.when(
            F.col("m") % 2 == 1,
            F.max(F.when(F.col("r") == F.expr("(m + 1) div 2"), F.col("slope"))),
        )
        .otherwise(
            (
                F.max(F.when(F.col("r") == half_m, F.col("slope")))
                + F.max(F.when(F.col("r") == half_m + 1, F.col("slope")))
            )
            / 2.0
        )
        .alias("slope_med")
    )
    res = idx.crossJoin(F.broadcast(med)).select(
        (F.col("cents") - F.col("slope_med") * F.col("t")).alias("resid"),
        "m",
        "slope_med",
    )
    rr = res.select(
        "resid",
        "m",
        "slope_med",
        F.row_number().over(Window.orderBy("resid")).alias("r"),
        F.count("*").over(wall).cast("long").alias("n"),
    )
    half = F.expr("n div 2")
    intercept = F.when(
        F.max("n") % 2 == 1,
        F.max(F.when(F.col("r") == F.expr("(n + 1) div 2"), F.col("resid"))),
    ).otherwise(
        (
            F.max(F.when(F.col("r") == half, F.col("resid")))
            + F.max(F.when(F.col("r") == half + 1, F.col("resid")))
        )
        / 2.0
    )
    return rr.groupBy().agg(
        F.max("n").cast("long").alias("n_days"),
        F.max("m").cast("long").alias("n_pairs"),
        (F.round(F.max("slope_med") / 100.0, 6) + F.lit(0.0)).alias("slope_per_day"),
        (F.round(intercept / 100.0, 6) + F.lit(0.0)).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# T143 — Poisson-bootstrap confidence interval for mean order value
# ---------------------------------------------------------------------------

def _poisson_thresholds() -> list[int]:
    """Integer 2³²-scaled cumulative Poisson(1) thresholds, k = 0..5.

    Derived once in exact-enough Python double arithmetic and inlined
    into BOTH engines as integer literals, so the weight lookup is pure
    integer comparison — no float in the hot path, no engine drift."""
    import math

    cdf, acc = [], 0.0
    for k in range(6):
        acc += math.exp(-1.0) / math.factorial(k)
        cdf.append(int(acc * 4294967296.0))
    return cdf


_PB_T = _poisson_thresholds()

_BOOTSTRAP_ORACLE = f"""
WITH p AS (
  SELECT event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
fan AS (
  SELECT r.range AS b, p.cents,
         CAST(('0x' || substr(md5('pb' || r.range || '#' || p.event_id),
                              1, 8)) AS BIGINT) AS hv
  FROM p, range(64) r
),
wtd AS (
  SELECT b, cents,
         CASE WHEN hv < {_PB_T[0]} THEN 0
              WHEN hv < {_PB_T[1]} THEN 1
              WHEN hv < {_PB_T[2]} THEN 2
              WHEN hv < {_PB_T[3]} THEN 3
              WHEN hv < {_PB_T[4]} THEN 4
              WHEN hv < {_PB_T[5]} THEN 5
              ELSE 6 END AS w
  FROM fan
),
reps AS (
  SELECT b, CAST(SUM(w * cents) AS DOUBLE) / SUM(w) AS mean_b
  FROM wtd GROUP BY b HAVING SUM(w) > 0
),
rk AS (
  SELECT mean_b, row_number() OVER (ORDER BY mean_b, b) AS r FROM reps
),
pt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS mean_cents
  FROM p
)
SELECT pt.n AS n_purchases,
       ROUND(pt.mean_cents / 100.0, 4) AS mean_value,
       ROUND(MAX(CASE WHEN rk.r = 2 THEN rk.mean_b END) / 100.0, 4)
         AS ci_lo,
       ROUND(MAX(CASE WHEN rk.r = 63 THEN rk.mean_b END) / 100.0, 4)
         AS ci_hi,
       CAST(64 AS BIGINT) AS n_replicates
FROM rk, pt GROUP BY pt.n, pt.mean_cents
"""


@register("poisson_bootstrap_ci", _BOOTSTRAP_ORACLE)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T143: Poisson-bootstrap CI for the mean order value — the
    resampling scheme that actually works distributed (Chamandy et al.,
    "Estimating Uncertainty for Massive Data Streams", Google 2012):
    instead of drawing n samples WITH replacement (which needs global
    coordination), each row gets an independent Poisson(1) weight per
    replicate, here derived from the engine-portable salted md5 hash by
    inverse-CDF over integer 2³²-scaled thresholds. B = 64 replicates
    fan out via explode(sequence) BEFORE the aggregate, so the combine
    is map-side partial per (replicate) — one shuffle of ≤64 groups no
    matter the corpus size. The CI is the 2nd/63rd order statistic of
    the replicate means (~96.9% coverage), an explicit rank pick in
    both engines."""
    from ..functions.hashing import md5_prefix_long

    p = (
        read_events(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id", F.round(F.col("value") * 100).cast("long").alias("cents")
        )
    )
    fan = p.select(
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("b"),
        "event_id",
    ).select(
        "b",
        "cents",
        md5_prefix_long(
            F.concat(F.lit("pb"), F.col("b").cast("string")), F.col("event_id")
        ).alias("hv"),
    )
    w = (
        F.when(F.col("hv") < _PB_T[0], 0)
        .when(F.col("hv") < _PB_T[1], 1)
        .when(F.col("hv") < _PB_T[2], 2)
        .when(F.col("hv") < _PB_T[3], 3)
        .when(F.col("hv") < _PB_T[4], 4)
        .when(F.col("hv") < _PB_T[5], 5)
        .otherwise(6)
    )
    reps = (
        fan.select("b", "cents", w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("swc"),
            F.sum("w").alias("sw"),
        )
        .where(F.col("sw") > 0)
        .select("b", (F.col("swc").cast("double") / F.col("sw")).alias("mean_b"))
    )
    rk = reps.select(
        "mean_b",
        F.row_number().over(Window.orderBy("mean_b", "b")).alias("r"),
    )
    pt = p.agg(
        F.count("*").cast("long").alias("n"),
        (F.sum("cents").cast("double") / F.count("*")).alias("mean_cents"),
    )
    return (
        rk.crossJoin(F.broadcast(pt))
        .groupBy("n", "mean_cents")
        .agg(
            F.round(
                F.max(F.when(F.col("r") == 2, F.col("mean_b"))) / 100.0, 4
            ).alias("ci_lo"),
            F.round(
                F.max(F.when(F.col("r") == 63, F.col("mean_b"))) / 100.0, 4
            ).alias("ci_hi"),
        )
        .select(
            F.col("n").alias("n_purchases"),
            F.round(F.col("mean_cents") / 100.0, 4).alias("mean_value"),
            "ci_lo",
            "ci_hi",
            F.lit(64).cast("long").alias("n_replicates"),
        )
    )


# ---------------------------------------------------------------------------
# T163 — day-over-day Jensen-Shannon divergence of the behavior mix
# ---------------------------------------------------------------------------

_JSD_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, event_type AS t,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
tot AS (SELECT d, CAST(SUM(c) AS BIGINT) AS n FROM daily GROUP BY d),
days AS (SELECT d, row_number() OVER (ORDER BY d) AS i FROM tot),
pairs AS (
  SELECT a.d AS d0, b.d AS d1 FROM days a JOIN days b ON b.i = a.i + 1
),
types AS (SELECT DISTINCT t FROM daily),
cell AS (
  SELECT pr.d1 AS d, ty.t,
         COALESCE(CAST(pa.c AS DOUBLE) / ta.n, 0.0) AS p,
         COALESCE(CAST(pb.c AS DOUBLE) / tb.n, 0.0) AS q
  FROM pairs pr
  CROSS JOIN types ty
  JOIN tot ta ON ta.d = pr.d0
  JOIN tot tb ON tb.d = pr.d1
  LEFT JOIN daily pa ON pa.d = pr.d0 AND pa.t = ty.t
  LEFT JOIN daily pb ON pb.d = pr.d1 AND pb.t = ty.t
),
terms AS (
  SELECT d, t,
         CASE WHEN p > 0.0
              THEN p * ln(p / ((p + q) / 2.0)) ELSE 0.0 END
         + CASE WHEN q > 0.0
                THEN q * ln(q / ((p + q) / 2.0)) ELSE 0.0 END AS term
  FROM cell
),
arr AS (SELECT d, list(term ORDER BY t) AS tl FROM terms GROUP BY d),
jsd AS (
  SELECT d,
         0.5 * list_reduce(list_prepend(0.0::DOUBLE, tl),
                           (a, b) -> a + b) AS j
  FROM arr
)
SELECT d AS event_date,
       ROUND(j, 6) + 0.0 AS jsd_nats,
       ROUND(j / ln(2.0), 6) + 0.0 AS jsd_bits
FROM jsd ORDER BY event_date
"""


@register("daily_behavior_jsd", _JSD_ORACLE)
def daily_behavior_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T163: day-over-day Jensen-Shannon divergence of the event-type
    mix — the bounded, symmetric distribution-drift screen (0 ≤ JSD ≤
    ln 2) that complements `value_drift_psi` (PSI needs binning and
    blows up on empty bins; JSD handles zero-probability types via its
    mixture midpoint). Distributions come from exact integer (day,
    type) counts; each day-pair's divergence is an ordered fold over
    the type-sorted term list (catalog-bounded, ≤|types| terms), every
    term a fixed single-division tree. One map-side-combinable
    aggregate over events; everything after is (days × types) grain."""
    events = read_events(spark, sf_dir)
    daily = events.groupBy(
        F.col("event_date").alias("d"), F.col("event_type").alias("t")
    ).agg(F.count("*").cast("long").alias("c"))
    tot = daily.groupBy("d").agg(F.sum("c").cast("long").alias("n"))
    days = tot.select(
        "d", F.row_number().over(Window.orderBy("d")).alias("i")
    )
    a = days.select(F.col("d").alias("d0"), F.col("i").alias("ia"))
    b = days.select(F.col("d").alias("d1"), F.col("i").alias("ib"))
    pairs = a.join(b, F.col("ib") == F.col("ia") + 1).select("d0", "d1")
    types = daily.select("t").distinct()
    ta = tot.select(F.col("d").alias("d0"), F.col("n").alias("na"))
    tb = tot.select(F.col("d").alias("d1"), F.col("n").alias("nb"))
    pa = daily.select(
        F.col("d").alias("d0"), F.col("t").alias("t_a"), F.col("c").alias("ca")
    )
    pb = daily.select(
        F.col("d").alias("d1"), F.col("t").alias("t_b"), F.col("c").alias("cb")
    )
    cell = (
        pairs.crossJoin(F.broadcast(types))
        .join(F.broadcast(ta), "d0")
        .join(F.broadcast(tb), "d1")
    )
    cell = cell.join(
        F.broadcast(pa),
        (cell["d0"] == pa["d0"]) & (cell["t"] == pa["t_a"]),
        "left",
    ).drop(pa["d0"])
    cell = cell.join(
        F.broadcast(pb),
        (cell["d1"] == pb["d1"]) & (cell["t"] == pb["t_b"]),
        "left",
    ).drop(pb["d1"])
    p = F.coalesce(F.col("ca").cast("double") / F.col("na"), F.lit(0.0))
    q = F.coalesce(F.col("cb").cast("double") / F.col("nb"), F.lit(0.0))
    m = (p + q) / 2.0
    term = F.when(p > 0.0, p * F.log(p / m)).otherwise(0.0) + F.when(
        q > 0.0, q * F.log(q / m)
    ).otherwise(0.0)
    terms = cell.select(F.col("d1").alias("d"), "t", term.alias("term"))
    arr = terms.groupBy("d").agg(
        F.sort_array(F.collect_list(F.struct("t", "term"))).alias("tl")
    )
    j = F.lit(0.5) * F.aggregate(
        "tl", F.lit(0.0), lambda acc, e: acc + e["term"]
    )
    return (
        arr.select(F.col("d").alias("event_date"), j.alias("j"))
        .select(
            "event_date",
            (F.round("j", 6) + F.lit(0.0)).alias("jsd_nats"),
            (F.round(F.col("j") / F.log(F.lit(2.0)), 6) + F.lit(0.0)).alias(
                "jsd_bits"
            ),
        )
        .orderBy("event_date")
    )


# ---------------------------------------------------------------------------
# T164 — exact two-sample Kolmogorov-Smirnov drift test on order values
# ---------------------------------------------------------------------------

_KS_ORACLE = """
WITH b AS (
  SELECT min(CAST(ts AS DATE)) AS mn, max(CAST(ts AS DATE)) AS mx FROM events
),
p AS (
  SELECT CAST(ROUND(e.value * 100) AS BIGINT) AS cents,
         CASE WHEN CAST(e.ts AS DATE) >
              CAST(b.mn + (date_diff('day', b.mn, b.mx) // 2)
                   * INTERVAL 1 DAY AS DATE)
              THEN 1 ELSE 0 END AS post
  FROM events e, b WHERE e.event_type = 'purchase'
),
g AS (
  SELECT cents,
         CAST(SUM(CASE WHEN post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM p GROUP BY cents
),
cum AS (
  SELECT cents,
         SUM(c1) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS f1,
         SUM(c2) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS f2
  FROM g
),
tot AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
         CAST(COUNT(*) AS BIGINT) AS n_support
  FROM g
),
d AS (
  SELECT CAST(MAX(ABS(cum.f1 * tot.n2 - cum.f2 * tot.n1)) AS BIGINT)
           AS d_num
  FROM cum, tot
)
SELECT tot.n1 AS n_first, tot.n2 AS n_second, tot.n_support,
       ROUND(CAST(d.d_num AS DOUBLE)
             / (CAST(tot.n1 AS DOUBLE) * CAST(tot.n2 AS DOUBLE)), 6)
         AS ks_d,
       ROUND(sqrt(CAST(tot.n1 AS DOUBLE) * CAST(tot.n2 AS DOUBLE)
                  / (CAST(tot.n1 AS DOUBLE) + CAST(tot.n2 AS DOUBLE)))
             * (CAST(d.d_num AS DOUBLE)
                / (CAST(tot.n1 AS DOUBLE) * CAST(tot.n2 AS DOUBLE))), 4)
         AS ks_scaled,
       CASE WHEN sqrt(CAST(tot.n1 AS DOUBLE) * CAST(tot.n2 AS DOUBLE)
                      / (CAST(tot.n1 AS DOUBLE) + CAST(tot.n2 AS DOUBLE)))
                 * (CAST(d.d_num AS DOUBLE)
                    / (CAST(tot.n1 AS DOUBLE) * CAST(tot.n2 AS DOUBLE)))
                 > 1.358 THEN 1 ELSE 0 END AS reject_05
FROM tot, d
"""


@register("value_ks_drift", _KS_ORACLE)
def value_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T164: exact two-sample Kolmogorov-Smirnov test between the first
    and second half-month order-value distributions — the
    distribution-FREE drift screen that needs no binning (PSI) and no
    category structure (JSD): D = max |F₁−F₂| over the pooled support.
    Everything is exact integers until two final divisions: per-cent
    counts, running cumulatives via the range-partition + offset
    prefix sum (operators/windows.distributed_prefix_sum — NO
    single-partition window even though the support is a total order),
    and the max of |F₁·n₂ − F₂·n₁| as a BIGINT (common-denominator
    form, exact while n₁·n₂ cumulative products stay under 2⁶³ ≈ 9·10¹⁸
    — a billion purchases per half). The scaled statistic √(n₁n₂/n)·D
    and the α=0.05 rejection flag (critical value 1.358) come from
    sqrt, the one libm call that IS correctly rounded everywhere."""
    from ..operators.windows import distributed_prefix_sum

    events = read_events(spark, sf_dir)
    b = events.agg(
        F.min("event_date").alias("mn"), F.max("event_date").alias("mx")
    )
    cut = F.date_add(F.col("mn"), (F.datediff("mx", "mn") / 2).cast("int"))
    p = (
        events.where(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(b))
        .select(
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            (F.col("event_date") > cut).cast("int").alias("post"),
        )
    )
    # Materialized ONCE (r13 opt): g is the per-cent support table —
    # bounded by the value support, tiny at any volume — but its input
    # subtree is a full purchase scan + aggregation, and it feeds FOUR
    # branches (the pinned frame's ~3 under the stateless _pid design,
    # plus `tot`). Pinning trades one small job for three purchase scans.
    g = p.groupBy("cents").agg(
        F.sum((F.col("post") == 0).cast("int")).cast("long").alias("c1"),
        F.sum((F.col("post") == 1).cast("int")).cast("long").alias("c2"),
    ).transform(pin_frame)
    # one multi-column call, NOT two nested single-column calls: under
    # the stateless _pid design each pinned-frame consumer re-executes
    # its input subtree, so nesting multiplied the branch count (~9
    # executions of g); the flat call keeps it at ~3 for both cumulatives
    cum = distributed_prefix_sum(
        g, ["cents"], ["c1", "c2"], out_col=["f1", "f2"], exclusive=False
    )
    tot = g.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.count("*").cast("long").alias("n_support"),
    )
    d = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
            )
            .cast("long")
            .alias("d_num")
        )
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    ks = F.col("d_num").cast("double") / (n1d * n2d)
    scaled = F.sqrt(n1d * n2d / (n1d + n2d)) * ks
    return tot.crossJoin(F.broadcast(d)).select(
        F.col("n1").alias("n_first"),
        F.col("n2").alias("n_second"),
        "n_support",
        F.round(ks, 6).alias("ks_d"),
        F.round(scaled, 4).alias("ks_scaled"),
        F.when(scaled > 1.358, 1).otherwise(0).alias("reject_05"),
    )
