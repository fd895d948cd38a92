"""Statistical operators: exact percentiles and closed-form trend fitting.

Everything here is JVM-side: percentiles are exact (distributed
rank-selection, see :func:`grouped_exact_percentiles`) and the per-user
trend is closed-form least squares over plain ``F.sum`` aggregates — a
1-degree polyfit has an algebraic solution, so grouped-map
``applyInPandas`` (Arrow transfer + per-group Python) would be pure
overhead. Reserve grouped-map for models without closed forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def grouped_exact_percentiles(
    df: DataFrame,
    value_col: str,
    percentiles: dict[str, float],
    group_cols: list[str],
    num_partitions: int | None = None,
    materialize_support: bool = False,
) -> DataFrame:
    """Exact PERCENTILE_CONT per group WITHOUT buffering any group's
    values in one task.

    Spark's exact ``percentile`` aggregate collects every value of a
    group into a single aggregation buffer — at 100 TB a hot group is
    billions of rows on one reducer. This is the distributed
    order-statistic form instead:

    0. COMPRESS to the value support first: ``(group, value) → weight``
       via one map-side-combinable aggregate. Rank selection only needs
       each distinct value's rank RANGE, so everything downstream —
       including the stateless pinned frame, whose every consumer branch
       re-executes its input — runs on (groups × distinct values) rows,
       not data rows. At 100× event volume the support saturates and
       this operator's cost goes FLAT (probed: 5.5× → ~1× at 100× for
       `value_percentiles` before/after the compression, round 13);
    1. range-partition the frequency table on (group, value): a big
       group SPANS partitions, each holding a contiguous value range;
    2. local cumulative WEIGHT per (partition, group) — bounded tasks;
    3. per-(group, partition) weight totals → per-group running offsets
       (P rows per group, a partitioned window) → each distinct value's
       global rank range ``[_rank_lo, _rank_hi]`` within its group;
    4. per group and percentile p, the CONT target sits at position
       1 + (N−1)·p: join out the rows whose rank range CONTAINS ⌊pos⌋
       and ⌈pos⌉ and interpolate ``v_lo·(1−frac) + v_hi·frac`` — the
       exact two-sided lerp Spark's `percentile` and DuckDB's
       `quantile_cont` share, so the result is bit-identical to both.

    Every intermediate is group-partitioned; nothing is ever globally
    sorted or single-task. ``percentiles`` maps output column name → p.
    """
    if not percentiles:
        raise ValueError(
            "percentiles must map at least one output column name to a p"
        )
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    # `part` feeds both the local cumsum window and the cnts groupBy;
    # the helper guarantees the two consumers see a CONSISTENT _pid (the
    # round-11 bug shape, found here by the round-12 fan-out sweep and
    # regression-tested in tests/test_global_rank.py) — since round 13
    # via deterministic in-plan boundaries rather than a checkpoint.
    from ..operators.windows import pin_frame, pinned_range_partition

    freq = df.groupBy(*group_cols, value_col).agg(
        F.count("*").cast("long").alias("_w")
    )
    if materialize_support:
        # r13 opt, OPT-IN (default False keeps the operator fully lazy —
        # the plan-only contract pinned by tests/test_global_rank.py):
        # the stateless pinned frame re-executes its input per consumer
        # branch (~3×) and `cnts`/`totals` add more — here that input is
        # the full-data support aggregate. The support is (groups ×
        # distinct values), bounded at any volume, so pinning it trades
        # one bounded job for three data passes (guide §5). Query-level
        # callers that execute exactly once opt in.
        freq = pin_frame(freq)
    part = pinned_range_partition(freq, num_partitions, *group_cols, value_col)
    local = part.withColumn(
        "_lcum",
        F.sum("_w").over(
            Window.partitionBy("_pid", *group_cols)
            .orderBy(value_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    cnts = part.groupBy(*group_cols, "_pid").agg(F.sum("_w").alias("_cnt"))
    # ≤ P rows per group: the running offset AND the group total come
    # from ONE window pass over cnts (same group partitioning, two
    # frames — no extra exchange). Pre-r14 the total was a separate
    # groupBy branch of cnts, which under the stateless pinned frame
    # re-executed the whole support subtree once more and fed a second
    # sort-merge join into `ranked` (guide §2.4).
    pw = (
        Window.partitionBy(*group_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    gw = Window.partitionBy(*group_cols)
    offs = cnts.select(
        *group_cols,
        "_pid",
        F.coalesce(F.sum("_cnt").over(pw), F.lit(0)).alias("_off"),
        F.sum("_cnt").over(gw).alias("_n"),
    )
    ranked = (
        local.join(offs, [*group_cols, "_pid"])
        .withColumn("_rank_hi", F.col("_off") + F.col("_lcum"))
        .withColumn("_rank_lo", F.col("_rank_hi") - F.col("_w") + 1)
    )
    # Per-percentile selection as plain expressions on `ranked` — with
    # `_n` riding on every row there is NO targets frame, NO hits join
    # and NO pivot (r14 fusion; pre-r14 this was an exploded targets
    # table joined back per group). The arithmetic is expression-for-
    # expression the old one: pos = (N−1)·p, brackets ⌊pos⌋+1/⌈pos⌉+1,
    # two-sided lerp v_lo·(1−frac) + v_hi·frac — both Spark's Percentile
    # and DuckDB's quantile_cont compute exactly this association, so
    # results stay bit-identical.
    aggs, outs = [], []
    for name, p in percentiles.items():
        pos = (F.col("_n") - 1).cast("double") * F.lit(p)
        lo = (F.floor(pos) + 1).cast("long")
        hi = (F.ceil(pos) + 1).cast("long")
        lo_in = lo.between(F.col("_rank_lo"), F.col("_rank_hi"))
        hi_in = hi.between(F.col("_rank_lo"), F.col("_rank_hi"))
        aggs.append(
            F.min(F.when(lo_in, F.col(value_col))).alias(f"_vlo_{name}")
        )
        aggs.append(
            F.min(F.when(hi_in, F.col(value_col))).alias(f"_vhi_{name}")
        )
    vals = ranked.groupBy(*group_cols, "_n").agg(*aggs)
    for name, p in percentiles.items():
        pos = (F.col("_n") - 1).cast("double") * F.lit(p)
        frac = pos - F.floor(pos)
        outs.append(
            (
                F.col(f"_vlo_{name}") * (F.lit(1.0) - frac)
                + F.col(f"_vhi_{name}") * frac
            ).alias(name)
        )
    return vals.select(*group_cols, "_n", *outs)


def grouped_ntile_histogram(
    df: DataFrame,
    n_buckets: int,
    group_cols: list[str],
    value_col: str,
    out_col: str = "bucket",
    num_partitions: int | None = None,
    materialize_support: bool = False,
) -> DataFrame:
    """Per-(group, bucket) row count + value bounds of
    ``NTILE(n) OVER (PARTITION BY group ORDER BY value, <tiebreak>)`` —
    WITHOUT ranking a single data row.

    Key observation (r13 opt, the same compression as
    :func:`grouped_exact_percentiles` step 0): the aggregated histogram
    of an NTILE binning is a pure function of each DISTINCT value's rank
    RANGE. Rows sharing a value are contiguous in the sort order — any
    tie-break only permutes rows *within* the run, which is invisible to
    per-bucket counts and min/max. So: compress to the value support
    ``(group, value) → weight`` with one map-side-combinable aggregate,
    compute each distinct value's global rank range with the pinned
    range-partition machinery over (groups × distinct values) rows, and
    intersect rank ranges with the closed-form NTILE bucket intervals
    (with N rows and B buckets the first N % B buckets hold ⌊N/B⌋+1
    rows). At 100× data volume the support saturates and the cost past
    the first aggregate goes flat, where ranking data rows stays linear.

    Returns ``group_cols + [out_col, "n", "min_<value_col>",
    "max_<value_col>"]`` — bit-identical to aggregating the exact
    per-row NTILE (pinned by tests/test_stats.py against
    :func:`operators.windows.grouped_ntile`).
    """
    from pyspark.sql import Window as W

    from ..operators.windows import pin_frame, pinned_range_partition

    b = int(n_buckets)
    if b < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    gnames = list(group_cols)
    freq = df.groupBy(*gnames, value_col).agg(
        F.count("*").cast("long").alias("_w")
    )
    if materialize_support:
        # same opt-in trade as grouped_exact_percentiles: pin the
        # bounded support once instead of re-running the data aggregate
        # per pinned-frame consumer branch (r13 opt, guide §5)
        freq = pin_frame(freq)
    part = pinned_range_partition(freq, num_partitions, *gnames, value_col)
    local = part.withColumn(
        "_lcum",
        F.sum("_w").over(
            W.partitionBy("_pid", *gnames)
            .orderBy(value_col)
            .rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    cnts = part.groupBy(*gnames, "_pid").agg(F.sum("_w").alias("_cnt"))
    # running offset AND group total in ONE window pass over cnts (same
    # fusion as grouped_exact_percentiles, r14): pre-r14 `totals` was a
    # separate groupBy branch of cnts — one more re-execution of the
    # support subtree and a second sort-merge join into `ranked`
    pw = (
        W.partitionBy(*gnames)
        .orderBy("_pid")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    gw = W.partitionBy(*gnames)
    offs = cnts.select(
        *gnames,
        "_pid",
        F.coalesce(F.sum("_cnt").over(pw), F.lit(0)).alias("_off"),
        F.sum("_cnt").over(gw).alias("_n"),
    )
    ranked = (
        local.join(offs, [*gnames, "_pid"])
        .withColumn("_rank_hi", F.col("_off") + F.col("_lcum"))
        .withColumn("_rank_lo", F.col("_rank_hi") - F.col("_w") + 1)
    )
    # closed-form NTILE bucket of a rank r (same arithmetic as
    # operators/windows.global_ntile, guarded for the base = 0 case)
    def bucket_of(r: str) -> str:
        return (
            f"CASE WHEN {r} <= (_n % {b}) * (_n div {b} + 1) "
            f"THEN ({r} - 1) div (_n div {b} + 1) + 1 "
            f"ELSE (_n % {b}) "
            f"  + ({r} - (_n % {b}) * (_n div {b} + 1) - 1) "
            f"    div greatest(_n div {b}, 1) + 1 END"
        )

    # each distinct value overlaps only buckets bucket_of(rank_lo) ..
    # bucket_of(rank_hi) — ≤ B rows generated per support row
    spanned = ranked.select(
        *gnames,
        value_col,
        "_rank_lo",
        "_rank_hi",
        "_n",
        F.explode(
            F.sequence(
                F.expr(bucket_of("_rank_lo")).cast("int"),
                F.expr(bucket_of("_rank_hi")).cast("int"),
            )
        ).alias("_q"),
    )
    # the bucket's rank interval, intersected with the value's rank range
    start = f"(_q - 1) * (_n div {b}) + least(_q - 1, _n % {b}) + 1"
    end = f"_q * (_n div {b}) + least(_q, _n % {b})"
    rows_in = F.expr(
        f"least({end}, _rank_hi) - greatest({start}, _rank_lo) + 1"
    )
    return (
        spanned.groupBy(*gnames, "_q")
        .agg(
            F.sum(rows_in).alias("n"),
            F.min(value_col).alias(f"min_{value_col}"),
            F.max(value_col).alias(f"max_{value_col}"),
        )
        .withColumnRenamed("_q", out_col)
    )


def value_percentiles(events: DataFrame) -> DataFrame:
    """Exact p50/p90/p99 of value per event type (linear interpolation —
    matches ANSI PERCENTILE_CONT / DuckDB quantile_cont), computed by
    distributed rank-selection (:func:`grouped_exact_percentiles`) so no
    group's values ever funnel through one aggregation buffer.

    NULL semantics match the SQL aggregates: percentiles rank only
    non-null values (so the selection runs on the filtered frame), while
    ``event_count`` counts every row; all-null groups keep NULL
    percentiles via the left join."""
    pct = grouped_exact_percentiles(
        events.where(F.col("value").isNotNull()),
        "value",
        {"p50": 0.5, "p90": 0.9, "p99": 0.99},
        ["event_type"],
        materialize_support=True,  # one-shot query path: pin the support
    )
    totals = events.groupBy("event_type").agg(
        F.count("*").alias("event_count")
    )
    return (
        totals.join(pct.drop("_n"), "event_type", "left")
        .select("event_type", "event_count", "p50", "p90", "p99")
        .orderBy("event_type")
    )


#: Fixed epoch offset (seconds) subtracted before the regression sums —
#: keeps t² within double's exact range so the normal equations don't
#: cancel catastrophically. Must match the oracle SQL constant.
_TREND_EPOCH_OFFSET = 1_700_000_000


def user_purchase_trend(events: DataFrame, min_purchases: int = 3) -> DataFrame:
    """Per-user linear trend of purchase values over time as a closed-form
    least-squares fit: ``slope = (nΣtv − ΣtΣv) / (nΣt² − (Σt)²)`` — five
    plain aggregates per user, entirely JVM-side (no grouped-map, no Arrow
    transfer). ``intercept`` is the value at the user's time centroid,
    i.e. the mean purchase value (the centered-fit intercept).

    t is converted to days relative to a fixed offset BEFORE summing:
    epoch-seconds squared (~3e18) exceeds double's 53-bit exact range and
    the normal equations would cancel catastrophically; day-scale values
    keep every sum well-conditioned. Outputs are rounded (slope 6dp,
    intercept 2dp) so the result is accumulation-order independent."""
    t_days = (
        (F.unix_timestamp("ts") - F.lit(_TREND_EPOCH_OFFSET)).cast("double")
        / F.lit(86400.0)
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", t_days.alias("t"), F.col("value").alias("v")
    )
    agg = (
        purchases.groupBy("user_id")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum("t").alias("st"),
            F.sum("v").alias("sv"),
            # exact integer-cents sum alongside the float sum: the float
            # mean can land on a .005 rounding boundary where last-ulp
            # summation-order noise flips the 2nd decimal between engines;
            # identical integers cannot (amounts are exact 2-decimal values)
            F.sum(F.round(F.col("v") * 100).cast("long")).alias("sv_cents"),
            F.sum(F.col("t") * F.col("v")).alias("stv"),
            F.sum(F.col("t") * F.col("t")).alias("stt"),
        )
        .where(F.col("n_purchases") >= min_purchases)
    )
    n = F.col("n_purchases").cast("double")
    slope = (n * F.col("stv") - F.col("st") * F.col("sv")) / F.nullif(
        n * F.col("stt") - F.col("st") * F.col("st"), F.lit(0.0)
    )
    # half-up cents mean via integer arithmetic (same trick as
    # curated_corpus's avg_kept_quality), then back to currency units
    # integer `div`, not float `/` + floor: past 2^53 the double quotient
    # can round across an integer boundary and diverge from the oracle's
    # integer `//`
    half_up_cents = F.expr("(2 * sv_cents + n_purchases) div (2 * n_purchases)")
    return agg.select(
        "user_id",
        "n_purchases",
        F.round(slope, 6).alias("slope_per_day"),
        (half_up_cents.cast("double") / F.lit(100.0)).alias("intercept"),
    ).orderBy("user_id")


def ewma_daily_counts(events: DataFrame, alpha: float = 0.2) -> DataFrame:
    """Per-type EWMA of the daily event-count series — recursive smoothing
    s₁ = x₁, sₜ = α·xₜ + (1−α)·sₜ₋₁ — computed as an explicit LEFT FOLD
    over the date-sorted value array (``F.aggregate``), which is the form
    a SQL oracle can replay with the IDENTICAL operation order
    (DuckDB ``list_reduce`` is the same left fold, so every intermediate
    double is bit-for-bit shared; a window-function formulation would
    leave the accumulation structure to each engine).

    Scale shape: one groupBy per (type, date) — tiny — then one array per
    type (series length = days, bounded); the O(days²) prefix folds are
    per-row array ops on that bounded array, no shuffle. For
    million-point series switch to the log-space prefix trick or a
    segment fold; for calendar marts, days/group is small by nature.
    """
    a = float(alpha)
    daily = (
        events.where(F.col("ts").isNotNull())
        .groupBy("event_type", "event_date")
        .agg(F.count("*").cast("double").alias("c"))
    )
    arrs = (
        daily.groupBy("event_type")
        .agg(
            F.sort_array(F.collect_list(F.struct("event_date", "c"))).alias("s")
        )
        .select(
            "event_type",
            F.transform("s", lambda r: r["event_date"]).alias("dates"),
            F.transform("s", lambda r: r["c"]).alias("vals"),
        )
    )
    d = F.col("d")
    ewma = F.aggregate(
        F.slice("vals", 2, d - 1),
        F.element_at("vals", 1),
        lambda acc, x: F.lit(a) * x + F.lit(1.0 - a) * acc,
    )
    return (
        arrs.select(
            "event_type",
            "dates",
            "vals",
            F.explode(F.sequence(F.lit(1), F.size("vals"))).alias("d"),
        )
        .select(
            "event_type",
            F.element_at("dates", d).alias("event_date"),
            F.element_at("vals", d).cast("long").alias("event_count"),
            F.round(ewma, 4).alias("ewma"),
        )
        .orderBy("event_type", "event_date")
    )
