"""Customer-lifecycle and graph analytics: Kaplan-Meier survival,
difference-in-differences uplift, fixed-point PageRank (T123/T124/T128).

Round-10 expansion beyond the r9-complete inventory: three operator
families a production analytics engine is routinely asked for that the
registry did not yet cover — censored time-to-event estimation, quasi-
experimental uplift, and iterative link analysis. Each follows the
repo's cross-engine exactness discipline:

- KM survival products are ordered LEFT FOLDS over period-sorted factor
  arrays (the EWMA/doc_surprisal pattern) so DuckDB ``list_reduce``
  replays the identical multiplication order bit-for-bit;
- DiD rates are single IEEE divisions of exact integer distinct-counts,
  composed in one fixed expression tree;
- PageRank runs entirely in BIGINT fixed-point (1e12 scale): per-edge
  contributions use exact integer division and the per-node sum is an
  order-independent integer sum, so its five iterations produce
  byte-identical ranks in any partitioning — no float accumulation ever.

The integer fixed points (PageRank, HITS, the Markov stationary
distribution) iterate over catalog-bounded state: each collects its
edge or transition-count table once and runs every step as an int64
numpy fold on the driver, then hands the result back as a small frame.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.windows import sort_result
from ..registry_core import register
from ..sources.readers import literal_frame, read_events, read_table

# ---------------------------------------------------------------------------
# T123 — Kaplan-Meier repeat-purchase survival per market segment
# ---------------------------------------------------------------------------

_KM_ORACLE = """
WITH ranked AS (
  SELECT o_custkey, o_orderdate, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
),
firsts AS (SELECT o_custkey, o_orderdate AS d0 FROM ranked WHERE rn = 1),
seconds AS (SELECT o_custkey, o_orderdate AS d1 FROM ranked WHERE rn = 2),
md AS (SELECT max(o_orderdate) AS md FROM orders),
dur AS (
  SELECT f.o_custkey,
         CASE WHEN s.o_custkey IS NOT NULL
              THEN date_diff('day', f.d0, s.d1)
              ELSE date_diff('day', f.d0, md.md) END AS days,
         CASE WHEN s.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM firsts f LEFT JOIN seconds s USING (o_custkey), md
),
seg AS (
  SELECT c.c_mktsegment AS segment, CAST(dur.days // 30 AS BIGINT) AS period,
         dur.ev
  FROM dur JOIN customer c ON dur.o_custkey = c.c_custkey
),
g AS (
  SELECT segment, period,
         CAST(SUM(ev) AS BIGINT) AS d,
         CAST(SUM(1 - ev) AS BIGINT) AS c
  FROM seg GROUP BY 1, 2
),
risk AS (
  SELECT segment, period, d, c,
         CAST(SUM(d + c) OVER (PARTITION BY segment ORDER BY period DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n
  FROM g
),
arr AS (
  SELECT segment,
         list(period ORDER BY period) AS periods,
         list(n ORDER BY period) AS ns,
         list(d ORDER BY period) AS ds,
         list(c ORDER BY period) AS cs,
         list(1.0::DOUBLE - CAST(d AS DOUBLE) / CAST(n AS DOUBLE)
              ORDER BY period) AS facs
  FROM risk GROUP BY segment
),
e AS (
  SELECT segment, periods, ns, ds, cs, facs,
         unnest(range(1, len(facs) + 1)) AS i
  FROM arr
)
SELECT segment,
       periods[i] AS period,
       ns[i] AS n_at_risk,
       ds[i] AS events,
       cs[i] AS censored,
       ROUND(list_reduce(list_prepend(1.0::DOUBLE, facs[1:i]),
             (acc, x) -> acc * x), 6) AS survival
FROM e
ORDER BY segment, period
"""


def kaplan_meier(durations: DataFrame, interval_days: int = 30) -> DataFrame:
    """Kaplan-Meier estimator over (group, days, event) rows.

    ``durations`` columns: ``segment`` (group), ``days`` (time observed),
    ``ev`` (1 = event occurred, 0 = right-censored). Time is bucketed to
    ``interval_days`` periods; the at-risk count n_t is a descending
    cumulative window sum (exact BIGINT), and S(t) = Π_{s≤t}(1 − d_s/n_s)
    is an ordered fold over the period-sorted factor array so an oracle
    replays the identical multiplication order.

    Scale shape: one shuffle to (segment, period) grain — calendar-
    bounded, so the per-group arrays and the O(periods²) prefix folds
    are tiny regardless of input row count.
    """
    g = (
        durations.withColumn(
            "period", F.floor(F.col("days") / interval_days).cast("long")
        )
        .groupBy("segment", "period")
        .agg(
            F.sum("ev").cast("long").alias("d"),
            F.sum(F.lit(1) - F.col("ev")).cast("long").alias("c"),
        )
    )
    wdesc = (
        Window.partitionBy("segment")
        .orderBy(F.desc("period"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = g.withColumn(
        "n", F.sum(F.col("d") + F.col("c")).over(wdesc).cast("long")
    )
    factor = F.lit(1.0) - F.col("d").cast("double") / F.col("n").cast("double")
    arr = (
        risk.select(
            "segment",
            F.struct("period", "n", "d", "c", factor.alias("fac")).alias("row"),
        )
        .groupBy("segment")
        .agg(F.sort_array(F.collect_list("row")).alias("s"))
        .select(
            "segment",
            F.transform("s", lambda r: r["period"]).alias("periods"),
            F.transform("s", lambda r: r["n"]).alias("ns"),
            F.transform("s", lambda r: r["d"]).alias("ds"),
            F.transform("s", lambda r: r["c"]).alias("cs"),
            F.transform("s", lambda r: r["fac"]).alias("facs"),
        )
    )
    i = F.col("i")
    survival = F.aggregate(
        F.slice("facs", 1, i), F.lit(1.0), lambda acc, x: acc * x
    )
    return (
        arr.select(
            "segment",
            "periods",
            "ns",
            "ds",
            "cs",
            "facs",
            F.explode(F.sequence(F.lit(1), F.size("facs"))).alias("i"),
        )
        .select(
            "segment",
            F.element_at("periods", i).alias("period"),
            F.element_at("ns", i).alias("n_at_risk"),
            F.element_at("ds", i).alias("events"),
            F.element_at("cs", i).alias("censored"),
            F.round(survival, 6).alias("survival"),
        )
        .transform(sort_result, "segment", "period")
    )


@register("km_repeat_purchase", _KM_ORACLE)
def km_repeat_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T123: Kaplan-Meier time-to-repeat-purchase curve per market
    segment. Entry into the risk set is a customer's first order; the
    event is the second order; customers with a single order are
    right-censored at the corpus max order date. Fixture timestamps are
    midnight-aligned, so Spark's date-cast datediff equals DuckDB's
    day-boundary date_diff."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = orders.withColumn("rn", F.row_number().over(w))
    firsts = ranked.where(F.col("rn") == 1).select("o_custkey", F.col("o_orderdate").alias("d0"))
    seconds = ranked.where(F.col("rn") == 2).select("o_custkey", F.col("o_orderdate").alias("d1"))
    md = orders.agg(F.max("o_orderdate").alias("md"))
    dur = (
        firsts.join(seconds, "o_custkey", "left")
        .crossJoin(F.broadcast(md))
        .select(
            "o_custkey",
            F.when(
                F.col("d1").isNotNull(), F.datediff("d1", "d0")
            ).otherwise(F.datediff("md", "d0")).alias("days"),
            F.col("d1").isNotNull().cast("int").alias("ev"),
        )
    )
    durations = dur.join(
        customer.select(
            F.col("c_custkey").alias("o_custkey"),
            F.col("c_mktsegment").alias("segment"),
        ),
        "o_custkey",
    ).select("segment", "days", "ev")
    return kaplan_meier(durations, interval_days=30)


# ---------------------------------------------------------------------------
# T128 — Difference-in-differences conversion uplift
# ---------------------------------------------------------------------------

from .experiments import experiment_cells_cte, tag_experiment_cells  # noqa: E402

_DID_ORACLE = experiment_cells_cte() + """,
cells AS (
  SELECT
    COUNT(DISTINCT CASE WHEN arm = 1 AND post = 0 THEN user_id END) AS tpre_u,
    COUNT(DISTINCT CASE WHEN arm = 1 AND post = 0 AND event_type = 'purchase' THEN user_id END) AS tpre_c,
    COUNT(DISTINCT CASE WHEN arm = 1 AND post = 1 THEN user_id END) AS tpost_u,
    COUNT(DISTINCT CASE WHEN arm = 1 AND post = 1 AND event_type = 'purchase' THEN user_id END) AS tpost_c,
    COUNT(DISTINCT CASE WHEN arm = 0 AND post = 0 THEN user_id END) AS cpre_u,
    COUNT(DISTINCT CASE WHEN arm = 0 AND post = 0 AND event_type = 'purchase' THEN user_id END) AS cpre_c,
    COUNT(DISTINCT CASE WHEN arm = 0 AND post = 1 THEN user_id END) AS cpost_u,
    COUNT(DISTINCT CASE WHEN arm = 0 AND post = 1 AND event_type = 'purchase' THEN user_id END) AS cpost_c
  FROM tagged
)
SELECT CAST(tpre_u AS BIGINT) AS treat_pre_users,
       CAST(tpost_u AS BIGINT) AS treat_post_users,
       CAST(cpre_u AS BIGINT) AS ctrl_pre_users,
       CAST(cpost_u AS BIGINT) AS ctrl_post_users,
       ROUND(CAST(tpre_c AS DOUBLE) / CAST(tpre_u AS DOUBLE), 6) AS treat_pre_rate,
       ROUND(CAST(tpost_c AS DOUBLE) / CAST(tpost_u AS DOUBLE), 6) AS treat_post_rate,
       ROUND(CAST(cpre_c AS DOUBLE) / CAST(cpre_u AS DOUBLE), 6) AS ctrl_pre_rate,
       ROUND(CAST(cpost_c AS DOUBLE) / CAST(cpost_u AS DOUBLE), 6) AS ctrl_post_rate,
       ROUND((CAST(tpost_c AS DOUBLE) / CAST(tpost_u AS DOUBLE)
              - CAST(tpre_c AS DOUBLE) / CAST(tpre_u AS DOUBLE))
             - (CAST(cpost_c AS DOUBLE) / CAST(cpost_u AS DOUBLE)
                - CAST(cpre_c AS DOUBLE) / CAST(cpre_u AS DOUBLE)), 6) AS did_estimate
FROM cells
"""


@register("did_conversion_uplift", _DID_ORACLE)
def did_conversion_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T128: difference-in-differences estimate of purchase-conversion
    uplift. Treatment assignment is the deterministic ``user_id % 2``
    hash (the standard stable bucketing for an experiment readout) and
    the pre/post cutover is the data midpoint, computed with integer
    date arithmetic on both engines. Conversion = distinct purchasers /
    distinct active users per cell; the DiD composes the four rates in
    one fixed expression tree, so every double is a single-op derivation
    from exact integer counts. Scale: one pass, one shuffle-free scalar
    aggregate (distinct counts partial-aggregate map-side). The design
    block (arms, cutover) is the shared one in queries/experiments.py,
    so DiD and CUPED can never drift apart on it."""
    tagged = tag_experiment_cells(read_events(spark, sf_dir))

    def _u(t: int, p: int, conv: bool) -> F.Column:
        cond = (F.col("arm") == t) & (F.col("post") == p)
        if conv:
            cond = cond & (F.col("event_type") == "purchase")
        return F.count_distinct(F.when(cond, F.col("user_id")))

    cells = tagged.agg(
        _u(1, 0, False).alias("tpre_u"),
        _u(1, 0, True).alias("tpre_c"),
        _u(1, 1, False).alias("tpost_u"),
        _u(1, 1, True).alias("tpost_c"),
        _u(0, 0, False).alias("cpre_u"),
        _u(0, 0, True).alias("cpre_c"),
        _u(0, 1, False).alias("cpost_u"),
        _u(0, 1, True).alias("cpost_c"),
    )
    rate = lambda c, u: F.col(c).cast("double") / F.col(u).cast("double")  # noqa: E731
    return cells.select(
        F.col("tpre_u").alias("treat_pre_users"),
        F.col("tpost_u").alias("treat_post_users"),
        F.col("cpre_u").alias("ctrl_pre_users"),
        F.col("cpost_u").alias("ctrl_post_users"),
        F.round(rate("tpre_c", "tpre_u"), 6).alias("treat_pre_rate"),
        F.round(rate("tpost_c", "tpost_u"), 6).alias("treat_post_rate"),
        F.round(rate("cpre_c", "cpre_u"), 6).alias("ctrl_pre_rate"),
        F.round(rate("cpost_c", "cpost_u"), 6).alias("ctrl_post_rate"),
        F.round(
            (rate("tpost_c", "tpost_u") - rate("tpre_c", "tpre_u"))
            - (rate("cpost_c", "cpost_u") - rate("cpre_c", "cpre_u")),
            6,
        ).alias("did_estimate"),
    )


# ---------------------------------------------------------------------------
# T124 — Fixed-point PageRank over the co-view product graph
# ---------------------------------------------------------------------------

_PR_SCALE = 10**12
_PR_ITERS = 5

_PAGERANK_ORACLE = """
WITH views AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events WHERE event_type = 'view'
),
edges AS MATERIALIZED (
  SELECT DISTINCT a.k AS src, b.k AS dst
  FROM views a JOIN views b
    ON a.user_id = b.user_id AND a.d = b.d AND a.k <> b.k
),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
e AS (SELECT edges.src, edges.dst, deg.deg FROM edges JOIN deg USING (src)),
r0 AS (SELECT deg.src AS k, 1000000000000 // nn.n AS r FROM deg, nn),
it1 AS (
  SELECT e.dst AS k,
         (SELECT 150000000000 // n FROM nn) + (85 * SUM(r.r // e.deg)) // 100 AS r
  FROM e JOIN r0 r ON r.k = e.src GROUP BY e.dst
),
it2 AS (
  SELECT e.dst AS k,
         (SELECT 150000000000 // n FROM nn) + (85 * SUM(r.r // e.deg)) // 100 AS r
  FROM e JOIN it1 r ON r.k = e.src GROUP BY e.dst
),
it3 AS (
  SELECT e.dst AS k,
         (SELECT 150000000000 // n FROM nn) + (85 * SUM(r.r // e.deg)) // 100 AS r
  FROM e JOIN it2 r ON r.k = e.src GROUP BY e.dst
),
it4 AS (
  SELECT e.dst AS k,
         (SELECT 150000000000 // n FROM nn) + (85 * SUM(r.r // e.deg)) // 100 AS r
  FROM e JOIN it3 r ON r.k = e.src GROUP BY e.dst
),
it5 AS (
  SELECT e.dst AS k,
         (SELECT 150000000000 // n FROM nn) + (85 * SUM(r.r // e.deg)) // 100 AS r
  FROM e JOIN it4 r ON r.k = e.src GROUP BY e.dst
)
SELECT k AS product_id,
       CAST(r AS BIGINT) AS pagerank_fp,
       ROUND(CAST(r AS DOUBLE) / 1000000000000.0, 6) AS pagerank
FROM it5
ORDER BY pagerank_fp DESC, product_id
"""


def _div(num, den):
    """Spark's ``div`` on int64 arrays. Spark truncates and numpy floors;
    the two agree because every operand here is non-negative."""
    assert (np.asarray(num) >= 0).all() and (np.asarray(den) > 0).all()
    return num // den


def _collect_edges(edges: DataFrame):
    """(node ids, src index, dst index) of a ``src``/``dst`` edge table,
    collected once; indices point into the sorted node ids."""
    e = edges.toPandas()
    ends = np.concatenate([e["src"], e["dst"]]).astype(np.int64)
    nodes, idx = np.unique(ends, return_inverse=True)
    return nodes, idx[: len(e)], idx[len(e) :]


def pagerank_fixed_point(
    edges: DataFrame, iters: int = _PR_ITERS, scale: int = _PR_SCALE
) -> DataFrame:
    """PageRank in BIGINT fixed-point (damping 0.85).

    ``edges`` columns: ``src``, ``dst`` (directed, pre-deduplicated).
    Per-iteration: contribution = r_src div outdeg (exact integer
    division), incoming sum is an order-independent integer sum, and
    r' = base + (85·Σ) div 100 — every arithmetic op is exact integer
    math, so results are byte-identical in any partitioning/engine
    (a float formulation would hash-drift: grouped double sums
    accumulate in partition order). The ranked nodes start as those
    with an out-edge (N of them, r = scale div N); after each step they
    are the nodes that received a contribution, as in the oracle's
    join-and-group form. An empty graph ranks nothing.

    Scale shape: the edge table is collected once; the iterations are
    int64 numpy folds over it on the driver (O(edges) each, no Spark
    job). The state is one score per node, so the edge table must fit
    in driver memory: node pairs, bounded by catalog², not by events."""
    nodes, src, dst = _collect_edges(edges)
    deg = np.bincount(src, minlength=len(nodes))
    ranked = deg > 0
    r = np.zeros(len(nodes), np.int64)
    if len(nodes):  # an empty graph has no N to divide by
        n = int(ranked.sum())
        base = _div(15 * scale // 100, n)
        r[ranked] = _div(scale, n)
        for _ in range(iters):
            live = ranked[src]
            s = np.zeros(len(nodes), np.int64)
            np.add.at(s, dst[live], _div(r[src[live]], deg[src[live]]))
            ranked = np.bincount(dst[live], minlength=len(nodes)) > 0
            r = np.where(ranked, base + _div(85 * s, 100), 0)
    pdf = pd.DataFrame({"product_id": nodes[ranked], "pagerank_fp": r[ranked]})
    return (
        edges.sparkSession.createDataFrame(pdf, "product_id long, pagerank_fp long")
        .select(
            "product_id",
            "pagerank_fp",
            F.round(F.col("pagerank_fp").cast("double") / float(scale), 6).alias(
                "pagerank"
            ),
        )
        .transform(sort_result, F.desc("pagerank_fp"), "product_id")
    )


@register("item_pagerank", _PAGERANK_ORACLE)
def item_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T124: PageRank over the product co-view graph (edges = product
    pairs viewed by the same user on the same day, both directions, so
    the graph is symmetric and dangling-node mass redistribution never
    arises). Five iterations, damping 0.85, BIGINT fixed-point — see
    ``pagerank_fixed_point`` for the exactness argument; the oracle
    unrolls the same five iterations as chained CTEs."""
    events = read_events(spark, sf_dir)
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            "user_id",
            "event_date",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .distinct()
    )
    a = views.select("user_id", "event_date", F.col("k").alias("src"))
    b = views.select("user_id", "event_date", F.col("k").alias("dst"))
    edges = (
        a.join(b, ["user_id", "event_date"])
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    return pagerank_fixed_point(edges)


# ---------------------------------------------------------------------------
# T133 — HITS hub/authority scores over the view→purchase graph
# ---------------------------------------------------------------------------

_HITS_SCALE = 10**6
_HITS_ITERS = 3

_HITS_ORACLE = """
WITH pts AS MATERIALIZED (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
         event_type
  FROM events WHERE event_type IN ('view', 'purchase')
),
edges AS MATERIALIZED (
  SELECT DISTINCT a.k AS src, b.k AS dst
  FROM pts a JOIN pts b
    ON a.user_id = b.user_id AND a.d = b.d
   AND a.event_type = 'view' AND b.event_type = 'purchase'
   AND a.k <> b.k
),
nodes AS MATERIALIZED (SELECT src AS k FROM edges UNION SELECT dst FROM edges),
h0 AS MATERIALIZED (SELECT k, CAST(1000000 AS BIGINT) AS h FROM nodes),
a1r AS MATERIALIZED (
  SELECT e.dst AS k, SUM(h.h) AS v FROM edges e JOIN h0 h ON h.k = e.src
  GROUP BY e.dst
),
a1 AS MATERIALIZED (
  SELECT n.k, COALESCE(a1r.v * 1000000 // (SELECT MAX(v) FROM a1r), 0) AS a
  FROM nodes n LEFT JOIN a1r ON a1r.k = n.k
),
h1r AS MATERIALIZED (
  SELECT e.src AS k, SUM(a.a) AS v FROM edges e JOIN a1 a ON a.k = e.dst
  GROUP BY e.src
),
h1 AS MATERIALIZED (
  SELECT n.k, COALESCE(h1r.v * 1000000 // (SELECT MAX(v) FROM h1r), 0) AS h
  FROM nodes n LEFT JOIN h1r ON h1r.k = n.k
),
a2r AS MATERIALIZED (
  SELECT e.dst AS k, SUM(h.h) AS v FROM edges e JOIN h1 h ON h.k = e.src
  GROUP BY e.dst
),
a2 AS MATERIALIZED (
  SELECT n.k, COALESCE(a2r.v * 1000000 // (SELECT MAX(v) FROM a2r), 0) AS a
  FROM nodes n LEFT JOIN a2r ON a2r.k = n.k
),
h2r AS MATERIALIZED (
  SELECT e.src AS k, SUM(a.a) AS v FROM edges e JOIN a2 a ON a.k = e.dst
  GROUP BY e.src
),
h2 AS MATERIALIZED (
  SELECT n.k, COALESCE(h2r.v * 1000000 // (SELECT MAX(v) FROM h2r), 0) AS h
  FROM nodes n LEFT JOIN h2r ON h2r.k = n.k
),
a3r AS MATERIALIZED (
  SELECT e.dst AS k, SUM(h.h) AS v FROM edges e JOIN h2 h ON h.k = e.src
  GROUP BY e.dst
),
a3 AS MATERIALIZED (
  SELECT n.k, COALESCE(a3r.v * 1000000 // (SELECT MAX(v) FROM a3r), 0) AS a
  FROM nodes n LEFT JOIN a3r ON a3r.k = n.k
),
h3r AS MATERIALIZED (
  SELECT e.src AS k, SUM(a.a) AS v FROM edges e JOIN a3 a ON a.k = e.dst
  GROUP BY e.src
),
h3 AS MATERIALIZED (
  SELECT n.k, COALESCE(h3r.v * 1000000 // (SELECT MAX(v) FROM h3r), 0) AS h
  FROM nodes n LEFT JOIN h3r ON h3r.k = n.k
)
SELECT h3.k AS product_id,
       CAST(h3.h AS BIGINT) AS hub_fp,
       CAST(a3.a AS BIGINT) AS authority_fp,
       ROUND(CAST(h3.h AS DOUBLE) / 1000000.0, 6) AS hub,
       ROUND(CAST(a3.a AS DOUBLE) / 1000000.0, 6) AS authority
FROM h3 JOIN a3 ON a3.k = h3.k
ORDER BY authority_fp DESC, hub_fp DESC, product_id
"""


def hits_fixed_point(
    edges: DataFrame, iters: int = _HITS_ITERS, scale: int = _HITS_SCALE
) -> DataFrame:
    """HITS hubs & authorities in BIGINT fixed-point over the nodes of
    ``edges`` (``src``, ``dst``; directed, pre-deduplicated). Per
    half-step the raw score is an order-independent integer sum over
    edges, then normalized to [0, scale] by an exact integer
    ``v·scale div max(v)`` (a float L2 normalization would hash-drift).
    Nodes missing a side's edges score 0. Bounds: raw ≤ scale·max_degree,
    so the rescale product stays < 2⁶³ for degrees below ~9·10⁶ at
    scale 10⁶.

    Scale shape: the edge table is collected once and the half-steps run
    as int64 numpy folds on the driver (O(edges) each, no Spark job),
    with the same catalog²-bounded edge table as ``pagerank_fixed_point``."""
    nodes, src, dst = _collect_edges(edges)
    h = np.full(len(nodes), scale, np.int64)
    for _ in range(iters):
        a = _hits_half(h, src, dst, scale)
        h = _hits_half(a, dst, src, scale)
    pdf = pd.DataFrame({"product_id": nodes, "hub_fp": h, "authority_fp": a})
    return (
        edges.sparkSession.createDataFrame(
            pdf, "product_id long, hub_fp long, authority_fp long"
        )
        .select(
            "product_id",
            "hub_fp",
            "authority_fp",
            F.round(F.col("hub_fp").cast("double") / float(scale), 6).alias("hub"),
            F.round(F.col("authority_fp").cast("double") / float(scale), 6).alias(
                "authority"
            ),
        )
        .transform(sort_result, F.desc("authority_fp"), F.desc("hub_fp"), "product_id")
    )


def _hits_half(scores, frm, to, scale):
    """One HITS half-step: push ``scores`` along ``frm`` → ``to`` edges,
    sum per target, integer-renormalize to [0, scale]. When every sum is
    0, ``v·scale div 0`` is NULL in Spark and the oracle, which they
    coalesce to 0."""
    v = np.zeros(len(scores), np.int64)
    np.add.at(v, to, scores[frm])
    mx = v.max(initial=0)
    return _div(v * scale, mx) if mx else v


@register("hits_scores", _HITS_ORACLE)
def hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T133: HITS over the DIRECTED view→purchase graph (edge A→B when a
    user viewed A and purchased B the same day): hubs are the gateway
    products whose viewers go on to buy, authorities the purchase
    targets. Three fixed-point iterations, all-integer arithmetic; the
    oracle unrolls the identical six half-steps. Complements
    ``item_pagerank`` (undirected co-view centrality)."""
    events = read_events(spark, sf_dir)
    pts = (
        events.where(F.col("event_type").isin("view", "purchase"))
        .select(
            "user_id",
            "event_date",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
            "event_type",
        )
        .distinct()
    )
    v = pts.where(F.col("event_type") == "view").select(
        "user_id", "event_date", F.col("k").alias("src")
    )
    p = pts.where(F.col("event_type") == "purchase").select(
        "user_id", "event_date", F.col("k").alias("dst")
    )
    edges = (
        v.join(p, ["user_id", "event_date"])
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    return hits_fixed_point(edges)


# ---------------------------------------------------------------------------
# T144 — stationary distribution of the session transition Markov chain
# ---------------------------------------------------------------------------

_STAT_ITERS = 6
_STAT_SCALE = 1_000_000_000  # π in parts-per-billion
_STAT_PSCALE = 1_000_000  # transition probs in parts-per-million


def _stationary_chain() -> tuple[str, str]:
    """(CTE chain, final-pi CTE name): transition counts → integer ppm
    transition matrix → ``_STAT_ITERS`` exact power-iteration steps,
    each one raw-sum CTE plus one sum-renormalization CTE (same integer
    ``div`` discipline as the HITS/PageRank oracles — every engine
    replays identical integer divisions, so the fixed point is
    hash-stable). Shared by the stationary-distribution and
    entropy-rate oracles."""
    head = f"""
WITH seq AS MATERIALIZED (
  SELECT event_type,
         LEAD(event_type) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
cnt AS MATERIALIZED (
  SELECT event_type AS a, next_type AS b, CAST(COUNT(*) AS BIGINT) AS c
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
),
rowtot AS MATERIALIZED (
  SELECT a, CAST(SUM(c) AS BIGINT) AS r FROM cnt GROUP BY a
),
p AS MATERIALIZED (
  SELECT cnt.a, cnt.b, cnt.c * {_STAT_PSCALE} // rowtot.r AS p
  FROM cnt JOIN rowtot USING (a)
  WHERE cnt.b IN (SELECT a FROM rowtot)
),
states AS MATERIALIZED (SELECT a AS s FROM rowtot),
pi0 AS MATERIALIZED (
  SELECT s, CAST({_STAT_SCALE} AS BIGINT)
            // (SELECT COUNT(*) FROM states) AS v
  FROM states
)"""
    steps = []
    prev = "pi0"
    for i in range(1, _STAT_ITERS + 1):
        steps.append(
            f""",
raw{i} AS MATERIALIZED (
  SELECT p.b AS s, CAST(SUM(pi.v * p.p // {_STAT_PSCALE}) AS BIGINT) AS v
  FROM {prev} pi JOIN p ON p.a = pi.s GROUP BY p.b
),
pi{i} AS MATERIALIZED (
  SELECT st.s,
         COALESCE(r.v, 0) * {_STAT_SCALE}
           // (SELECT SUM(v) FROM raw{i}) AS v
  FROM states st LEFT JOIN raw{i} r ON r.s = st.s
)"""
        )
        prev = f"pi{i}"
    return head + "".join(steps), prev


def _stationary_oracle() -> str:
    chain, prev = _stationary_chain()
    tail = f"""
SELECT pi.s AS event_type,
       rowtot.r AS out_transitions,
       CAST(pi.v AS BIGINT) AS stationary_ppb,
       ROUND(CAST(pi.v AS DOUBLE) / {_STAT_SCALE}.0, 6) AS stationary
FROM {prev} pi JOIN rowtot ON rowtot.a = pi.s
ORDER BY event_type
"""
    return chain + tail


def _stationary_parts(events: DataFrame) -> tuple[DataFrame, DataFrame, int]:
    """(transition counts, π, number of states) of the within-session
    event-type chain — the shared integer fixed-point machinery behind
    `transition_stationary` and `markov_entropy_rate` (see the former's
    docstring for the exactness and scale argument).

    The counts ``cnt`` (``a``, ``b``, ``c``) are collected once; π is a
    small frame with one row per non-NULL state ``s`` (a type with an
    outgoing transition): its out-transition total ``r`` and stationary mass
    ``v`` in parts-per-billion. ``v`` is NULL for every state when a
    step's raw mass sums to 0 or to nothing (no transition between two
    states), as the oracle's ``div`` by a NULL or 0 sum gives."""
    w = Window.partitionBy("user_id", "event_date").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    counts = (
        seq.where(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("a"), F.col("next_type").alias("b"))
        .agg(F.count("*").cast("long").alias("c"))
        .toPandas()
    )
    # a NULL event type counts as a state but, as in the oracle's joins,
    # is never reached, never passes mass on, and is never reported
    known = counts[counts["a"].notna()]
    states, a = np.unique(known["a"].to_numpy(object), return_inverse=True)
    n_states = len(states) + int(len(known) < len(counts))
    b = pd.Index(states).get_indexer(known["b"])  # -1: b has no out-transition
    c = known["c"].to_numpy(np.int64)
    r = np.zeros(len(states), np.int64)
    np.add.at(r, a, c)
    pa, pb = a[b >= 0], b[b >= 0]
    p = _div(c[b >= 0] * _STAT_PSCALE, r[pa])
    pi = None
    if n_states:  # no transitions: no states, and no N to divide by
        pi = np.full(len(states), _div(_STAT_SCALE, n_states))
        for _ in range(_STAT_ITERS):
            raw = np.zeros(len(states), np.int64)
            np.add.at(raw, pb, _div(pi[pa] * p, _STAT_PSCALE))
            if not raw.sum():
                pi = None
                break
            pi = _div(raw * _STAT_SCALE, raw.sum())
    spark = events.sparkSession
    cnt = spark.createDataFrame(counts, "a string, b string, c long")
    v = [None] * len(states) if pi is None else pi.tolist()
    pi = literal_frame(
        spark,
        list(zip(states.tolist(), r.tolist(), v)), "s string, r long, v long"
    )
    return cnt, pi, n_states


@register("transition_stationary", _stationary_oracle())
def transition_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T144: stationary distribution of the within-session event-type
    Markov chain — where a user's browsing settles in the long run,
    the flow-equilibrium complement to `event_transitions` (raw bigram
    counts) and `markov_absorption` (2-state closed form). Transition
    probabilities are integer parts-per-million (c·PSCALE div rowsum),
    the power iteration runs a constant 6 steps in BIGINT
    parts-per-billion with sum-renormalization each step — π·p ≤
    10⁹·10⁶ and π·SCALE ≤ 10⁹·10⁹ both stay far under 2⁶³ at ANY
    corpus size because the matrix is normalized before iterating.
    Events without a within-session transition give no rows.
    Scale shape: one lead-window pass over events (the only full-data
    stage) collects the ≤ types² transition counts; the power iteration
    is an int64 numpy fold over them on the driver."""
    _, pi, _ = _stationary_parts(read_events(spark, sf_dir))
    return pi.select(
        F.col("s").alias("event_type"),
        F.col("r").alias("out_transitions"),
        F.col("v").alias("stationary_ppb"),
        F.round(F.col("v").cast("double") / _STAT_SCALE, 6).alias("stationary"),
    ).transform(sort_result, "event_type")


# ---------------------------------------------------------------------------
# T153 — degree assortativity of the product co-view graph
# ---------------------------------------------------------------------------

_ASSORT_ORACLE = """
WITH views AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events WHERE event_type = 'view'
),
edges AS (
  SELECT DISTINCT a.k AS src, b.k AS dst
  FROM views a JOIN views b
    ON a.user_id = b.user_id AND a.d = b.d AND a.k < b.k
),
deg AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT src AS k FROM edges UNION ALL SELECT dst FROM edges
  ) GROUP BY k
),
ed AS (
  SELECT d1.deg AS x, d2.deg AS y
  FROM edges e JOIN deg d1 ON d1.k = e.src JOIN deg d2 ON d2.k = e.dst
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(x + y) AS BIGINT) AS s1,
         CAST(SUM(x * x + y * y) AS BIGINT) AS s2,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM ed
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
SELECT nn.n_nodes,
       sums.m AS n_edges,
       ROUND(CAST(sums.s1 AS DOUBLE) / (2.0 * sums.m), 4) AS mean_edge_degree,
       ROUND((4.0 * sums.m * sums.sxy - CAST(sums.s1 AS DOUBLE) * sums.s1)
             / (2.0 * sums.m * sums.s2 - CAST(sums.s1 AS DOUBLE) * sums.s1),
             6) + 0.0 AS assortativity
FROM sums, nn
"""


@register("coview_assortativity", _ASSORT_ORACLE)
def coview_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T153: degree assortativity of the undirected product co-view
    graph (Newman 2002): the Pearson correlation of endpoint degrees
    over edges — positive means popular products co-view with popular
    ones (hub-and-spoke catalogs score negative). For an undirected
    graph each edge contributes both orientations; with the symmetric
    estimator the correlation collapses to the closed form
    (4m·Σxy − (Σx+Σy)²) / (2m·Σ(x²+y²) − (Σx+Σy)²) over the canonical
    (src < dst) edge list — every sum an exact BIGINT, one double
    expression at the end. Same per-(user, day)-bounded edge
    generation as `item_pagerank` (distinct collapse before pairing);
    degrees are catalog-grain, broadcast into the edge join."""
    events = read_events(spark, sf_dir)
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            "user_id",
            "event_date",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .distinct()
    )
    a = views.select("user_id", "event_date", F.col("k").alias("src"))
    b = views.select("user_id", "event_date", F.col("k").alias("dst"))
    edges = (
        a.join(b, ["user_id", "event_date"])
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint()  # feeds degree build + the degree join below
    )
    deg = (
        edges.select(F.col("src").alias("k"))
        .unionAll(edges.select(F.col("dst").alias("k")))
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    d1 = deg.select(F.col("k").alias("src"), F.col("deg").alias("x"))
    d2 = deg.select(F.col("k").alias("dst"), F.col("deg").alias("y"))
    ed = edges.join(F.broadcast(d1), "src").join(F.broadcast(d2), "dst")
    sums = ed.agg(
        F.count("*").cast("long").alias("m"),
        F.sum(F.col("x") + F.col("y")).cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x") + F.col("y") * F.col("y"))
        .cast("long")
        .alias("s2"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    nn = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    s1d = F.col("s1").cast("double")
    return sums.crossJoin(F.broadcast(nn)).select(
        "n_nodes",
        F.col("m").alias("n_edges"),
        F.round(s1d / (F.lit(2.0) * F.col("m")), 4).alias(
            "mean_edge_degree"
        ),
        (
            F.round(
                (F.lit(4.0) * F.col("m") * F.col("sxy") - s1d * F.col("s1"))
                / (
                    F.lit(2.0) * F.col("m") * F.col("s2")
                    - s1d * F.col("s1")
                ),
                6,
            )
            + F.lit(0.0)  # canonicalize IEEE −0.0 (see heaps_law_fit)
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# T155 — entropy rate of the session transition Markov chain
# ---------------------------------------------------------------------------


def _entropy_rate_oracle() -> str:
    chain, prev = _stationary_chain()
    return (
        chain
        + f""",
terms AS (
  SELECT c.a, c.b,
         (CAST(pi.v AS DOUBLE) / {_STAT_SCALE}.0)
         * (CAST(c.c AS DOUBLE) / CAST(rt.r AS DOUBLE))
         * ln(CAST(c.c AS DOUBLE) / CAST(rt.r AS DOUBLE)) AS term
  FROM cnt c JOIN rowtot rt ON rt.a = c.a JOIN {prev} pi ON pi.s = c.a
),
arr AS (
  SELECT list(term ORDER BY a, b) AS tl,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM terms
),
h AS (
  SELECT n_pairs,
         -list_reduce(list_prepend(0.0::DOUBLE, tl), (x, y) -> x + y) AS hr,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM rowtot) AS n_states
  FROM arr
)
SELECT n_states, n_pairs,
       ROUND(hr, 6) AS entropy_rate_nats,
       ROUND(hr / ln(2.0), 6) AS entropy_rate_bits,
       ROUND(hr / ln(CAST(n_states AS DOUBLE)), 6) AS normalized
FROM h
"""
    )


@register("markov_entropy_rate", _entropy_rate_oracle())
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T155: entropy rate of the within-session event-type Markov chain
    — H = −Σᵢⱼ πᵢ·pᵢⱼ·ln pᵢⱼ, the bits-per-step unpredictability of
    user behavior (1.0 normalized = pure noise, → 0 = deterministic
    funnels; the sequence-level complement of the per-user
    `behavior_entropy`). Reuses the integer fixed-point π from
    `transition_stationary` (shared `_stationary_parts`); each term is
    a fixed tree over one π division and one count division, summed by
    an ordered fold over the (from, to)-sorted pair list (≤ catalog²
    elements — a scalar expression, not a data pass). Events without a
    within-session transition raise ``ValueError``: the chain has no
    states, so the rate is undefined (the oracle fails on ln 0)."""
    cnt, pi, n_states = _stationary_parts(read_events(spark, sf_dir))
    if not n_states:
        raise ValueError(
            "markov_entropy_rate: the events have no within-session "
            "transitions (no user-day with two or more events)"
        )
    pr = F.col("c").cast("double") / F.col("r").cast("double")
    terms = (
        cnt.join(F.broadcast(pi), F.col("s") == F.col("a"))
        .select(
            "a",
            "b",
            (
                (F.col("v").cast("double") / F.lit(float(_STAT_SCALE)))
                * pr
                * F.log(pr)
            ).alias("term"),
        )
    )
    arr = terms.agg(
        F.sort_array(F.collect_list(F.struct("a", "b", "term"))).alias("tl"),
        F.count("*").cast("long").alias("n_pairs"),
    )
    hr = -F.aggregate("tl", F.lit(0.0), lambda x, e: x + e["term"])
    return (
        arr.select(
            F.lit(n_states).cast("long").alias("n_states"), "n_pairs", hr.alias("hr")
        )
        .select(
            "n_states",
            "n_pairs",
            F.round("hr", 6).alias("entropy_rate_nats"),
            F.round(F.col("hr") / F.log(F.lit(2.0)), 6).alias(
                "entropy_rate_bits"
            ),
            F.round(
                F.col("hr") / F.log(F.col("n_states").cast("double")), 6
            ).alias("normalized"),
        )
    )
