"""Experimentation analytics beyond the plain A/B readout: CUPED
variance-reduced uplift and UCB1 bandit arm scoring (T129/T132).

Round-10 expansion. Exactness discipline: every statistic is a closed
form over EXACT integer sufficient statistics (counts, cent sums, and
their pairwise products), cast to DOUBLE once and composed in a single
fixed expression tree mirrored verbatim in the oracle — no float
accumulation anywhere, so the driver's value hash is stable across
partitionings and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.windows import sort_result
from ..registry_core import register
from ..sources.readers import read_events

# ---------------------------------------------------------------------------
# Shared experiment design: stable user_id % 2 arms, data-midpoint cutover.
# ONE definition site for the Spark expressions and the oracle CTE so the
# DiD and CUPED readouts can never silently diverge on the design
# (review r10: the block was previously copy-pasted in both).
# ---------------------------------------------------------------------------


def experiment_cells_cte(extra_cols: str = "") -> str:
    """The oracle-side ``WITH b, tagged`` prefix: per-event arm
    (user_id % 2) and post (event_date strictly after the midpoint of
    the observed date range). ``extra_cols`` appends readout-specific
    columns to the tagged CTE (leading comma included by the caller)."""
    return f"""
WITH b AS (
  SELECT min(CAST(ts AS DATE)) AS mn, max(CAST(ts AS DATE)) AS mx FROM events
),
tagged AS (
  SELECT e.user_id,
         e.event_type,
         CASE WHEN e.user_id % 2 = 1 THEN 1 ELSE 0 END AS arm,
         CASE WHEN CAST(e.ts AS DATE) >
              CAST(b.mn + (date_diff('day', b.mn, b.mx) // 2)
                   * INTERVAL 1 DAY AS DATE)
              THEN 1 ELSE 0 END AS post{extra_cols}
  FROM events e, b
)"""


def tag_experiment_cells(events: DataFrame) -> DataFrame:
    """Spark twin of ``experiment_cells_cte``: (user_id, event_type,
    value, arm, post) per event, arms by the stable ``user_id % 2``
    hash, post = event_date strictly after the data-midpoint cutover
    (integer date arithmetic, identical in both engines)."""
    b = events.agg(
        F.min("event_date").alias("mn"), F.max("event_date").alias("mx")
    )
    cutover = F.date_add(F.col("mn"), (F.datediff("mx", "mn") / 2).cast("int"))
    return events.crossJoin(F.broadcast(b)).select(
        "user_id",
        "event_type",
        "value",
        (F.col("user_id") % 2 == 1).cast("int").alias("arm"),
        (F.col("event_date") > cutover).cast("int").alias("post"),
    )


# ---------------------------------------------------------------------------
# T129 — CUPED variance-reduced uplift
# ---------------------------------------------------------------------------

_CUPED_ORACLE = experiment_cells_cte(
    """,
         CASE WHEN e.event_type = 'purchase'
              THEN CAST(ROUND(e.value * 100) AS BIGINT) ELSE 0 END AS cents"""
) + """,
per_user AS (
  SELECT user_id, arm,
         CAST(SUM(CASE WHEN post = 0 THEN cents ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN post = 1 THEN cents ELSE 0 END) AS BIGINT) AS y
  FROM tagged GROUP BY 1, 2
),
pooled AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM per_user
),
arms AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_a,
         CAST(SUM(x) AS BIGINT) AS sx_a, CAST(SUM(y) AS BIGINT) AS sy_a
  FROM per_user GROUP BY 1
),
wide AS (
  SELECT
    (SELECT n_a FROM arms WHERE arm = 1) AS nt,
    (SELECT sx_a FROM arms WHERE arm = 1) AS sxt,
    (SELECT sy_a FROM arms WHERE arm = 1) AS syt,
    (SELECT n_a FROM arms WHERE arm = 0) AS nc,
    (SELECT sx_a FROM arms WHERE arm = 0) AS sxc,
    (SELECT sy_a FROM arms WHERE arm = 0) AS syc,
    p.n, p.sx, p.sy, p.sxx, p.sxy, p.syy
  FROM pooled p
),
calc AS (
  SELECT nt, nc,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0) AS theta,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) AS covn,
         (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS varxn,
         (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS varyn,
         CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE) AS myt,
         CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE) AS myc,
         CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE) AS mxt,
         CAST(sxc AS DOUBLE) / CAST(nc AS DOUBLE) AS mxc
  FROM wide
)
SELECT CAST(nt AS BIGINT) AS treat_users,
       CAST(nc AS BIGINT) AS ctrl_users,
       ROUND(theta, 6) AS theta,
       ROUND(covn * covn / NULLIF(varxn * varyn, 0.0), 6) AS rho_sq,
       ROUND(myt - myc, 4) AS raw_uplift_cents,
       ROUND((myt - myc) - theta * (mxt - mxc), 4) AS cuped_uplift_cents
FROM calc
"""


@register("cuped_uplift", _CUPED_ORACLE)
def cuped_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T129: CUPED (Controlled-experiment Using Pre-Experiment Data)
    variance-reduced uplift. Arms by the stable ``user_id % 2`` hash,
    pre/post at the data-midpoint cutover (same design as
    ``did_conversion_uplift``); the covariate x is each user's
    pre-period purchase cents, the outcome y the post-period cents.
    θ = Cov(x,y)/Var(x) and ρ² (the variance-reduction fraction) come
    from pooled integer sufficient statistics (n, Σx, Σy, Σx², Σxy, Σy²
    — all exact BIGINT sums), cast to DOUBLE once; the adjusted uplift
    is (ȳ_t − ȳ_c) − θ(x̄_t − x̄_c). One shuffle to user grain, then
    scalar aggregates — nothing beyond map-side-combinable sums at any
    scale (cent products stay < 2⁶³ for per-user spends below ~$30 B)."""
    cents = F.when(
        F.col("event_type") == "purchase",
        F.round(F.col("value") * 100).cast("long"),
    ).otherwise(F.lit(0))
    tagged = tag_experiment_cells(read_events(spark, sf_dir)).select(
        "user_id", "arm", "post", cents.alias("cents")
    )
    per_user = tagged.groupBy("user_id", "arm").agg(
        F.sum(F.when(F.col("post") == 0, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("post") == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    pooled = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    arm = lambda a, c: F.sum(F.when(F.col("arm") == a, F.col(c)).otherwise(0))  # noqa: E731
    arms = per_user.agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("nt"),
        arm(1, "x").alias("sxt"),
        arm(1, "y").alias("syt"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("nc"),
        arm(0, "x").alias("sxc"),
        arm(0, "y").alias("syc"),
    )
    wide = pooled.crossJoin(F.broadcast(arms))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    covn = d("n") * d("sxy") - d("sx") * d("sy")
    varxn = d("n") * d("sxx") - d("sx") * d("sx")
    varyn = d("n") * d("syy") - d("sy") * d("sy")
    theta = covn / F.nullif(varxn, F.lit(0.0))
    myt, myc = d("syt") / d("nt"), d("syc") / d("nc")
    mxt, mxc = d("sxt") / d("nt"), d("sxc") / d("nc")
    return wide.select(
        F.col("nt").cast("long").alias("treat_users"),
        F.col("nc").cast("long").alias("ctrl_users"),
        F.round(theta, 6).alias("theta"),
        F.round(covn * covn / F.nullif(varxn * varyn, F.lit(0.0)), 6).alias(
            "rho_sq"
        ),
        F.round(myt - myc, 4).alias("raw_uplift_cents"),
        F.round((myt - myc) - theta * (mxt - mxc), 4).alias(
            "cuped_uplift_cents"
        ),
    )


# ---------------------------------------------------------------------------
# T132 — UCB1 bandit arm scores
# ---------------------------------------------------------------------------

_UCB_ORACLE = """
WITH typed AS (
  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 4 AS arm,
         event_type
  FROM events WHERE event_type IN ('view', 'purchase')
),
arms AS (
  SELECT arm,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
           AS trials,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
           AS successes
  FROM typed GROUP BY 1
),
tot AS (SELECT CAST(SUM(trials) AS BIGINT) AS n FROM arms)
SELECT arm, trials, successes,
       ROUND(CAST(successes AS DOUBLE) / CAST(trials AS DOUBLE), 6)
         AS mean_reward,
       ROUND(CAST(successes AS DOUBLE) / CAST(trials AS DOUBLE)
             + sqrt(2.0 * ln(CAST(tot.n AS DOUBLE)) / CAST(trials AS DOUBLE)),
             6) AS ucb_score
FROM arms, tot
ORDER BY ucb_score DESC, arm
"""


@register("ucb_arm_scores", _UCB_ORACLE)
def ucb_arm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T132: UCB1 (Upper Confidence Bound) scores per campaign arm — the
    deterministic readout a bandit scheduler consumes: mean reward plus
    the √(2·ln N / n) exploration bonus. Arms are the stable ``k % 4``
    bucket of the event payload; trials are views, rewards purchases.
    All inputs are exact integer counts; the score is a fixed
    single-op expression tree. One map-side-combinable aggregate."""
    events = read_events(spark, sf_dir)
    typed = events.where(F.col("event_type").isin("view", "purchase")).select(
        (F.get_json_object("props", "$.k").cast("long") % 4).alias("arm"),
        "event_type",
    )
    arms = typed.groupBy("arm").agg(
        F.sum((F.col("event_type") == "view").cast("int"))
        .cast("long")
        .alias("trials"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("long")
        .alias("successes"),
    )
    tot = arms.agg(F.sum("trials").cast("long").alias("n"))
    mean = F.col("successes").cast("double") / F.col("trials").cast("double")
    bonus = F.sqrt(
        F.lit(2.0) * F.log(F.col("n").cast("double"))
        / F.col("trials").cast("double")
    )
    return (
        arms.crossJoin(F.broadcast(tot))
        .select(
            "arm",
            "trials",
            "successes",
            F.round(mean, 6).alias("mean_reward"),
            F.round(mean + bonus, 6).alias("ucb_score"),
        )
        .transform(sort_result, F.desc("ucb_score"), "arm")
    )


# ---------------------------------------------------------------------------
# T137 — p-chart SPC screen on the daily error rate
# ---------------------------------------------------------------------------

_PCHART_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS event_date,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS errors
  FROM events GROUP BY 1
),
pooled AS (
  SELECT CAST(SUM(errors) AS BIGINT) AS te, CAST(SUM(n) AS BIGINT) AS tn
  FROM daily
),
lim AS (
  SELECT d.event_date, d.n, d.errors,
         CAST(d.errors AS DOUBLE) / CAST(d.n AS DOUBLE) AS p,
         CAST(p0.te AS DOUBLE) / CAST(p0.tn AS DOUBLE) AS pbar,
         3.0 * sqrt(CAST(p0.te AS DOUBLE) / CAST(p0.tn AS DOUBLE)
                    * (1.0 - CAST(p0.te AS DOUBLE) / CAST(p0.tn AS DOUBLE))
                    / CAST(d.n AS DOUBLE)) AS width
  FROM daily d, pooled p0
)
SELECT event_date, n, errors,
       ROUND(p, 6) AS error_rate,
       ROUND(pbar + width, 6) AS ucl,
       ROUND(GREATEST(pbar - width, 0.0), 6) AS lcl,
       CASE WHEN p > pbar + width OR p < GREATEST(pbar - width, 0.0)
            THEN 1 ELSE 0 END AS out_of_control
FROM lim
ORDER BY event_date
"""


@register("error_rate_pchart", _PCHART_ORACLE)
def error_rate_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T137: Shewhart p-chart over the daily error-event share — the
    statistical-process-control screen an operations team runs on a
    telemetry stream: pooled center line p̄, per-day 3σ binomial control
    limits p̄ ± 3·√(p̄(1−p̄)/n_t), and an out-of-control flag. Every
    double is a fixed single-op tree over two exact BIGINT sums and the
    per-day counts, so the flag comparisons agree across engines. One
    day-grain aggregate + a broadcast pooled scalar; calendar-bounded
    output."""
    events = read_events(spark, sf_dir)
    daily = events.groupBy("event_date").agg(
        F.count("*").cast("long").alias("n"),
        F.sum((F.col("event_type") == "error").cast("int"))
        .cast("long")
        .alias("errors"),
    )
    pooled = daily.agg(
        F.sum("errors").cast("long").alias("te"),
        F.sum("n").cast("long").alias("tn"),
    )
    p = F.col("errors").cast("double") / F.col("n").cast("double")
    pbar = F.col("te").cast("double") / F.col("tn").cast("double")
    width = F.lit(3.0) * F.sqrt(
        pbar * (F.lit(1.0) - pbar) / F.col("n").cast("double")
    )
    lcl = F.greatest(pbar - width, F.lit(0.0))
    return (
        daily.crossJoin(F.broadcast(pooled))
        .select(
            "event_date",
            "n",
            "errors",
            F.round(p, 6).alias("error_rate"),
            F.round(pbar + width, 6).alias("ucl"),
            F.round(lcl, 6).alias("lcl"),
            F.when((p > pbar + width) | (p < lcl), 1)
            .otherwise(0)
            .alias("out_of_control"),
        )
        .transform(sort_result, "event_date")
    )


# ---------------------------------------------------------------------------
# T149 — logistic regression by Newton/IRLS on hour-of-day aggregates
# ---------------------------------------------------------------------------

_IRLS_ITERS = 4


def _irls_oracle() -> str:
    """CTE chain: hourly sufficient statistics → ``_IRLS_ITERS`` exact
    Newton steps. Each step's five sums (two gradient, three Hessian
    entries) are LEFT FOLDS over the hour-sorted lists (list_reduce ↔
    F.aggregate), and every float expression — the sigmoid, the terms,
    the 2×2 solve — is written as the identical operation tree the
    Spark side builds, so the trajectory is bit-reproducible."""
    head = """
WITH hr AS (
  SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY 1
),
arr AS (
  SELECT CAST(COUNT(*) AS INT) AS m,
         list(CAST(h AS DOUBLE) ORDER BY h) AS hx,
         list(CAST(n AS DOUBLE) ORDER BY h) AS hn,
         list(CAST(y AS DOUBLE) ORDER BY h) AS hy,
         CAST(SUM(n) AS BIGINT) AS n_events,
         CAST(SUM(y) AS BIGINT) AS n_purchases
  FROM hr
),
it0 AS (SELECT *, 0.0::DOUBLE AS b0, 0.0::DOUBLE AS b1 FROM arr)"""
    steps = []
    prev = "it0"
    fold = (
        "list_reduce(list_prepend(0.0::DOUBLE, "
        "list_transform(range(m), i -> {term})), (a, b) -> a + b)"
    )
    p = "(1.0 / (1.0 + exp(-(b0 + b1 * hx[i + 1]))))"
    for k in range(1, _IRLS_ITERS + 1):
        g0 = fold.format(term=f"hy[i + 1] - hn[i + 1] * {p}")
        g1 = fold.format(term=f"(hy[i + 1] - hn[i + 1] * {p}) * hx[i + 1]")
        h00 = fold.format(term=f"hn[i + 1] * {p} * (1.0 - {p})")
        h01 = fold.format(
            term=f"hn[i + 1] * {p} * (1.0 - {p}) * hx[i + 1]"
        )
        h11 = fold.format(
            term=f"hn[i + 1] * {p} * (1.0 - {p}) * hx[i + 1] * hx[i + 1]"
        )
        steps.append(
            f""",
s{k} AS (
  SELECT *, {g0} AS g0, {g1} AS g1,
         {h00} AS h00, {h01} AS h01, {h11} AS h11
  FROM {prev}
),
it{k} AS (
  SELECT m, hx, hn, hy, n_events, n_purchases,
         b0 + (h11 * g0 - h01 * g1) / (h00 * h11 - h01 * h01) AS b0,
         b1 + (h00 * g1 - h01 * g0) / (h00 * h11 - h01 * h01) AS b1
  FROM s{k}
)"""
        )
        prev = f"it{k}"
    tail = f"""
SELECT n_events, n_purchases,
       ROUND(b0, 6) + 0.0 AS beta0,
       ROUND(b1, 6) + 0.0 AS beta1,
       ROUND(1.0 / (1.0 + exp(-(b0 + b1 * 0.0))), 6) AS rate_h00,
       ROUND(1.0 / (1.0 + exp(-(b0 + b1 * 12.0))), 6) AS rate_h12,
       ROUND(1.0 / (1.0 + exp(-(b0 + b1 * 23.0))), 6) AS rate_h23
FROM {prev}
"""
    return head + "".join(steps) + tail


@register("logistic_conversion_irls", _irls_oracle())
def logistic_conversion_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T149: logistic regression P(purchase | hour-of-day) fitted by 4
    Newton/IRLS steps — in-engine ML training as a query. The full
    event log collapses to 24 hourly sufficient-statistic rows (one
    map-side-combinable aggregate — the ONLY full-data pass at any
    corpus size: IRLS on aggregated Bernoulli data is exactly IRLS on
    the raw rows); each Newton step evaluates the gradient and the 2×2
    Hessian as ordered folds over the hour-sorted arrays (F.aggregate ↔
    list_reduce, hour order) and applies the closed-form 2×2 solve. All
    five per-step sums and the sigmoid are single fixed expression
    trees mirrored in the oracle, so the whole 4-step trajectory
    hash-matches. The unpartitioned collect is 24 rows — catalog
    grain."""
    events = read_events(spark, sf_dir)
    hr = events.groupBy(F.hour("ts").cast("long").alias("h")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("long")
        .alias("y"),
    )
    arr = hr.agg(
        F.count("*").cast("int").alias("m"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("h").cast("double").alias("x"),
                    F.col("n").cast("double").alias("n"),
                    F.col("y").cast("double").alias("y"),
                )
            )
        ).alias("pt"),
        F.sum("n").cast("long").alias("n_events"),
        F.sum("y").cast("long").alias("n_purchases"),
    )
    it = arr.select(
        "*", F.lit(0.0).alias("b0"), F.lit(0.0).alias("b1")
    )
    zero = F.lit(0.0)
    one = F.lit(1.0)
    for _ in range(_IRLS_ITERS):

        def p_of(e):
            return one / (
                one + F.exp(-(F.col("b0") + F.col("b1") * e["x"]))
            )

        s = it.select(
            "*",
            F.aggregate(
                "pt", zero, lambda a, e: a + (e["y"] - e["n"] * p_of(e))
            ).alias("g0"),
            F.aggregate(
                "pt",
                zero,
                lambda a, e: a + (e["y"] - e["n"] * p_of(e)) * e["x"],
            ).alias("g1"),
            F.aggregate(
                "pt",
                zero,
                lambda a, e: a + e["n"] * p_of(e) * (one - p_of(e)),
            ).alias("h00"),
            F.aggregate(
                "pt",
                zero,
                lambda a, e: a
                + e["n"] * p_of(e) * (one - p_of(e)) * e["x"],
            ).alias("h01"),
            F.aggregate(
                "pt",
                zero,
                lambda a, e: a
                + e["n"] * p_of(e) * (one - p_of(e)) * e["x"] * e["x"],
            ).alias("h11"),
        )
        det = F.col("h00") * F.col("h11") - F.col("h01") * F.col("h01")
        it = s.select(
            "m",
            "pt",
            "n_events",
            "n_purchases",
            (
                F.col("b0")
                + (F.col("h11") * F.col("g0") - F.col("h01") * F.col("g1"))
                / det
            ).alias("b0"),
            (
                F.col("b1")
                + (F.col("h00") * F.col("g1") - F.col("h01") * F.col("g0"))
                / det
            ).alias("b1"),
        )

    def rate_at(hour: float):
        return F.round(
            one / (one + F.exp(-(F.col("b0") + F.col("b1") * F.lit(hour)))),
            6,
        )

    return it.select(
        "n_events",
        "n_purchases",
        (F.round("b0", 6) + F.lit(0.0)).alias("beta0"),
        (F.round("b1", 6) + F.lit(0.0)).alias("beta1"),
        rate_at(0.0).alias("rate_h00"),
        rate_at(12.0).alias("rate_h12"),
        rate_at(23.0).alias("rate_h23"),
    )


# ---------------------------------------------------------------------------
# T152 — time-split calibration curve of an hour-of-day purchase score
# ---------------------------------------------------------------------------

_CALIBRATION_ORACLE = """
WITH b AS (
  SELECT min(CAST(ts AS DATE)) AS mn, max(CAST(ts AS DATE)) AS mx FROM events
),
tagged AS (
  SELECT CAST(EXTRACT(hour FROM e.ts) AS BIGINT) AS h,
         CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         CASE WHEN CAST(e.ts AS DATE) >
              CAST(b.mn + (date_diff('day', b.mn, b.mx) // 2)
                   * INTERVAL 1 DAY AS DATE)
              THEN 1 ELSE 0 END AS post
  FROM events e, b
),
train AS (
  SELECT h, CAST(COUNT(*) AS BIGINT) AS n_train,
         CAST(SUM(y) AS BIGINT) AS y_train
  FROM tagged WHERE post = 0 GROUP BY h
),
test AS (
  SELECT h, CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(y) AS BIGINT) AS y_test
  FROM tagged WHERE post = 1 GROUP BY h
)
SELECT t.h AS event_hour,
       ROUND(CAST(tr.y_train AS DOUBLE) / CAST(tr.n_train AS DOUBLE), 6)
         AS p_train,
       t.n_test, t.y_test,
       ROUND(CAST(t.y_test AS DOUBLE) / CAST(t.n_test AS DOUBLE), 6)
         AS observed,
       ROUND(CAST(t.y_test AS DOUBLE) / CAST(t.n_test AS DOUBLE)
             - CAST(tr.y_train AS DOUBLE) / CAST(tr.n_train AS DOUBLE), 6)
         + 0.0 AS gap,
       ROUND((CAST(tr.y_train AS DOUBLE) / CAST(tr.n_train AS DOUBLE))
             * (CAST(tr.y_train AS DOUBLE) / CAST(tr.n_train AS DOUBLE))
             - 2.0 * (CAST(tr.y_train AS DOUBLE) / CAST(tr.n_train AS DOUBLE))
                   * (CAST(t.y_test AS DOUBLE) / CAST(t.n_test AS DOUBLE))
             + CAST(t.y_test AS DOUBLE) / CAST(t.n_test AS DOUBLE), 6)
         AS brier_h
FROM test t JOIN train tr ON tr.h = t.h
ORDER BY event_hour
"""


@register("score_calibration_report", _CALIBRATION_ORACLE)
def score_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T152: calibration curve of a time-split purchase-propensity score
    — train on the first half of the date range (per-hour purchase
    rate), evaluate on the second half: predicted vs observed rate,
    gap, and the per-hour Brier contribution. The Brier mean
    E[(p−y)²] over a group with constant prediction collapses to
    p² − 2p·ȳ + ȳ (y is 0/1), so the whole metric is closed-form over
    four exact BIGINT counts — no per-event float sum anywhere, hence
    hash-stable at any partitioning. The train/test cutover reuses the
    experiment-design midpoint (`experiment_cells_cte` convention). One
    map-side-combinable (hour, half) aggregate; 24-row output at any
    scale."""
    events = read_events(spark, sf_dir)
    b = events.agg(
        F.min("event_date").alias("mn"), F.max("event_date").alias("mx")
    )
    cut = F.date_add(F.col("mn"), (F.datediff("mx", "mn") / 2).cast("int"))
    tagged = events.crossJoin(F.broadcast(b)).select(
        F.hour("ts").cast("long").alias("h"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
        (F.col("event_date") > cut).cast("int").alias("post"),
    )
    train = (
        tagged.where(F.col("post") == 0)
        .groupBy("h")
        .agg(
            F.count("*").cast("long").alias("n_train"),
            F.sum("y").cast("long").alias("y_train"),
        )
    )
    test = (
        tagged.where(F.col("post") == 1)
        .groupBy("h")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum("y").cast("long").alias("y_test"),
        )
    )
    p = F.col("y_train").cast("double") / F.col("n_train").cast("double")
    o = F.col("y_test").cast("double") / F.col("n_test").cast("double")
    return (
        test.join(train, "h")
        .select(
            F.col("h").alias("event_hour"),
            F.round(p, 6).alias("p_train"),
            "n_test",
            "y_test",
            F.round(o, 6).alias("observed"),
            (F.round(o - p, 6) + F.lit(0.0)).alias("gap"),
            F.round(p * p - F.lit(2.0) * p * o + o, 6).alias("brier_h"),
        )
        .transform(sort_result, "event_hour")
    )


# ---------------------------------------------------------------------------
# T156 — information-gain feature ranking for purchase prediction
# ---------------------------------------------------------------------------

_H_SQL = """CASE WHEN {y} = 0 OR {y} = {n} THEN 0.0
         ELSE -((CAST({y} AS DOUBLE) / {n}) * ln(CAST({y} AS DOUBLE) / {n})
                + (CAST({n} - {y} AS DOUBLE) / {n})
                  * ln(CAST({n} - {y} AS DOUBLE) / {n})) END"""

_INFOGAIN_ORACLE = f"""
WITH ev AS (
  SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour_v,
         CAST(isodow(ts) AS BIGINT) AS dow_v,
         COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT) // 10,
                  -1) AS kb_v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS yt FROM ev
),
f AS (
  SELECT 'hour_of_day' AS feature, hour_v AS v,
         CAST(COUNT(*) AS BIGINT) AS nv, CAST(SUM(y) AS BIGINT) AS yv
  FROM ev GROUP BY 2
  UNION ALL
  SELECT 'day_of_week', dow_v, CAST(COUNT(*) AS BIGINT),
         CAST(SUM(y) AS BIGINT)
  FROM ev GROUP BY 2
  UNION ALL
  SELECT 'product_bucket', kb_v, CAST(COUNT(*) AS BIGINT),
         CAST(SUM(y) AS BIGINT)
  FROM ev GROUP BY 2
),
terms AS (
  SELECT feature, v,
         (CAST(nv AS DOUBLE) / t.n)
         * ({_H_SQL.format(y="yv", n="nv")}) AS term
  FROM f, tot t
),
arr AS (
  SELECT feature, list(term ORDER BY v) AS tl,
         CAST(COUNT(*) AS BIGINT) AS n_values
  FROM terms GROUP BY feature
),
ce AS (
  SELECT feature, n_values,
         list_reduce(list_prepend(0.0::DOUBLE, tl), (a, b) -> a + b) AS cond
  FROM arr
),
base AS (
  SELECT {_H_SQL.format(y="yt", n="n")} AS h0 FROM tot
)
SELECT feature, n_values,
       ROUND(base.h0, 6) AS base_entropy,
       ROUND(ce.cond, 6) AS cond_entropy,
       ROUND(base.h0 - ce.cond, 6) + 0.0 AS info_gain
FROM ce, base
ORDER BY base.h0 - ce.cond DESC, feature
"""


@register("feature_information_gain", _INFOGAIN_ORACLE)
def feature_information_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T156: decision-tree-style feature ranking — information gain
    IG(f) = H(y) − Σ_v (n_v/n)·H(y|v) of the purchase label against
    three candidate event features (hour of day, ISO day of week,
    product-id bucket). Entropies come from exact BIGINT counts
    through one fixed expression tree (0·ln 0 handled by the integer
    guard y∈{0,n}); the conditional sum is an ordered fold over the
    value-sorted term list (≤24 elements — scalar work). Three
    map-side-combinable aggregates over one scan; bounded output. The
    feature-screening step of an in-engine model-training pipeline,
    next to `logistic_conversion_irls` (training) and
    `score_calibration_report` (evaluation)."""
    events = read_events(spark, sf_dir)
    ev = events.select(
        F.hour("ts").cast("long").alias("hour_v"),
        (F.weekday("ts") + 1).cast("long").alias("dow_v"),
        # COALESCE(-1): a row with no parseable props.k must land in a
        # deterministic bucket — a NULL group sorts FIRST in Spark's
        # sort_array fold but LAST in the oracle's ORDER BY v, which
        # would break the ordered-fold summation contract (review r11)
        F.expr(
            "coalesce(cast(get_json_object(props, '$.k') as bigint)"
            " div 10, -1)"
        ).alias("kb_v"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    tot = ev.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("yt"),
    )

    def _branch(col: str, name: str) -> DataFrame:
        return (
            ev.groupBy(F.col(col).alias("v"))
            .agg(
                F.count("*").cast("long").alias("nv"),
                F.sum("y").cast("long").alias("yv"),
            )
            .select(F.lit(name).alias("feature"), "v", "nv", "yv")
        )

    f = (
        _branch("hour_v", "hour_of_day")
        .unionByName(_branch("dow_v", "day_of_week"))
        .unionByName(_branch("kb_v", "product_bucket"))
    )

    def _h(y: F.Column, n: F.Column) -> F.Column:
        p = y.cast("double") / n
        q = (n - y).cast("double") / n
        return F.when((y == 0) | (y == n), F.lit(0.0)).otherwise(
            -(p * F.log(p) + q * F.log(q))
        )

    terms = f.crossJoin(F.broadcast(tot)).select(
        "feature",
        "v",
        ((F.col("nv").cast("double") / F.col("n")) * _h(F.col("yv"), F.col("nv"))).alias(
            "term"
        ),
    )
    arr = terms.groupBy("feature").agg(
        F.sort_array(F.collect_list(F.struct("v", "term"))).alias("tl"),
        F.count("*").cast("long").alias("n_values"),
    )
    ce = arr.select(
        "feature",
        "n_values",
        F.aggregate("tl", F.lit(0.0), lambda a, e: a + e["term"]).alias(
            "cond"
        ),
    )
    base = tot.select(_h(F.col("yt"), F.col("n")).alias("h0"))
    return (
        ce.crossJoin(F.broadcast(base))
        .select(
            "feature",
            "n_values",
            F.round("h0", 6).alias("base_entropy"),
            F.round("cond", 6).alias("cond_entropy"),
            (F.round(F.col("h0") - F.col("cond"), 6) + F.lit(0.0)).alias(
                "info_gain"
            ),
            (F.col("h0") - F.col("cond")).alias("_raw"),
        )
        .transform(sort_result, F.desc("_raw"), "feature")
        .drop("_raw")
    )


# ---------------------------------------------------------------------------
# T162 — leave-one-out target encoding of the product feature
# ---------------------------------------------------------------------------

_TARGET_ENC_ORACLE = """
WITH ev AS (
  SELECT COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), -1)
           AS k,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
g AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS sy
  FROM ev GROUP BY k
)
SELECT k AS product_k, n, sy AS purchases,
       ROUND(CAST(sy AS DOUBLE) / n, 6) AS naive_rate,
       ROUND(CAST(sy - 1 AS DOUBLE) / (n - 1), 6) AS loo_rate_positive,
       ROUND(CAST(sy AS DOUBLE) / (n - 1), 6) AS loo_rate_negative,
       ROUND(CAST(sy AS DOUBLE) / (n - 1)
             - CAST(sy - 1 AS DOUBLE) / (n - 1), 6) AS loo_leakage_gap
FROM g
WHERE n >= 2
ORDER BY product_k
"""


@register("target_encoding_loo", _TARGET_ENC_ORACLE)
def target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T162: leave-one-out target encoding of the product id against
    the purchase label — the leakage-safe categorical encoder: a row's
    feature is the category's mean target EXCLUDING the row itself,
    which for a binary target collapses to two closed forms per
    category ((Σy−1)/(n−1) for positive rows, Σy/(n−1) for negative),
    so the full encoder state is one category-grain table of exact
    integer counts — no per-row pass, no float accumulation. The
    leakage gap 1/(n−1) (what naive same-row encoding would leak) is
    reported per category. One map-side-combinable aggregate; catalog-
    bounded output."""
    events = read_events(spark, sf_dir)
    ev = events.select(
        F.expr(
            "coalesce(cast(get_json_object(props, '$.k') as bigint), -1)"
        ).alias("k"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    g = ev.groupBy("k").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
    )
    n1 = F.col("n") - 1
    pos = (F.col("sy") - 1).cast("double") / n1
    neg = F.col("sy").cast("double") / n1
    return (
        g.where(F.col("n") >= 2)
        .select(
            F.col("k").alias("product_k"),
            "n",
            F.col("sy").alias("purchases"),
            F.round(F.col("sy").cast("double") / F.col("n"), 6).alias(
                "naive_rate"
            ),
            F.round(pos, 6).alias("loo_rate_positive"),
            F.round(neg, 6).alias("loo_rate_negative"),
            F.round(neg - pos, 6).alias("loo_leakage_gap"),
        )
        .transform(sort_result, "product_k")
    )
