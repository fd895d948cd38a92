"""Sampling & data-mixing queries: split assignment, stratified
and weighted sampling, mixing weights, active-learning picks (T85+ region).

Mechanically split out of registry.py (round-10 trim, VERDICT r9 item
8; zero behavior change — the full oracle mirror is the regression
gate). Imported by registry.py after its own definitions, so pre-split
shared helpers resolve against the already-bound prefix of the
partially-initialized registry module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..functions import curation, similarity
from ..operators.windows import sort_result
from ..sources.readers import read_events, read_table
from ..registry_core import register
from ..shared_bases import (  # shared dedup bases (no registry import)
    _ngram_pairs_shared,
)


_DATASET_SPLIT_ORACLE = """
WITH b AS (
  SELECT doc_id, lang,
         CAST(CAST(('0x' || substr(md5('11#' || doc_id), 1, 8)) AS BIGINT) % 100
              AS INT) AS bucket
  FROM documents
)
SELECT doc_id, lang, bucket,
       CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val'
            ELSE 'test' END AS split
FROM b
ORDER BY doc_id
"""


@register("dataset_split", _DATASET_SPLIT_ORACLE)
def dataset_split_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket train/val/test membership (90/5/5) —
    stable under repartitioning, reruns, and corpus growth within a
    bucket."""
    return curation.dataset_split(read_table(spark, sf_dir, "documents"))


_LANG_MIX_ORACLE = """
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c),
s AS (SELECT lang, n, pow(n::DOUBLE / n_total, 0.7) AS _s, n_total FROM c, t),
z AS (SELECT sum(_s) AS _z FROM s)
SELECT lang,
       CAST(n AS BIGINT) AS n_docs,
       round(_s / _z, 4) AS weight,
       CAST(floor(_s / _z * n_total + 0.5) AS BIGINT) AS expected_docs
FROM s, z
ORDER BY lang
"""


@register("language_mix_weights", _LANG_MIX_ORACLE)
def language_mix_weights_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-0.7 language mixing weights (p_l ∝ share^T) — the
    multilingual data-balancing step; |langs|-row math, ROUND(4) guards
    the only float risk (pow + tiny sum)."""
    return curation.language_mix_weights(
        read_table(spark, sf_dir, "documents"), temperature=0.7
    )


_WEIGHTED_SAMPLE_ORACLE = """
SELECT doc_id, lang, source, n_chars AS weight
FROM (
  SELECT doc_id, lang, source, n_chars,
         ln(CAST(CAST(('0x' || substr(md5('ws#' || CAST(doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) + 1 AS DOUBLE)
            / CAST(4294967297 AS DOUBLE))
           / CAST(n_chars AS DOUBLE) AS k
  FROM documents
  ORDER BY k DESC, doc_id
  LIMIT 100
)
ORDER BY doc_id
"""


@register("weighted_doc_sample", _WEIGHTED_SAMPLE_ORACLE)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 weighted sample (Efraimidis–Spirakis A-ES, weight =
    n_chars) drawn from md5-hash uniforms — a pure function of doc_id, so
    the DuckDB oracle replays the identical draw. Global top-m is a
    TakeOrderedAndProject: no corpus shuffle."""
    return curation.weighted_sample(
        read_table(spark, sf_dir, "documents"),
        m=100,
        weight_col="n_chars",
        carry_cols=("lang", "source"),
    )


_STRATIFIED_ORACLE = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5('strat#' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
WHERE rk <= 10
ORDER BY lang, doc_id
"""


@register("stratified_sample_per_lang", _STRATIFIED_ORACLE)
def stratified_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-allocation stratified sampling: exactly 10 docs per language
    ranked by a salted md5 — deterministic (re-runs and the oracle pick
    the identical rows) where TABLESAMPLE or rand() never could be.
    Per-stratum top-n is a bounded window, no global pass."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            F.md5(F.concat(F.lit("strat#"), F.col("doc_id").cast("string"))),
            "doc_id",
        )
    )
    return (
        docs.withColumn("_rk", rk)
        .where(F.col("_rk") <= 10)
        .select("doc_id", "lang")
        .transform(sort_result, "lang", "doc_id")
    )


_SPLIT_LEAKAGE_ORACLE = """
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 1) + 1),
           i -> array_to_string(toks[i:i+2], ' '))) AS shingles
  FROM t
),
ex0 AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
),
rare AS (
  SELECT shingle FROM ex0 GROUP BY 1 HAVING COUNT(*) <= 50
),
ex AS (
  SELECT doc_id, shingle,
         COUNT(*) OVER (PARTITION BY doc_id) AS cnt
  FROM ex0 JOIN rare USING (shingle)
),
pairs AS (
  SELECT doc_id_1, doc_id_2 FROM (
    SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / CAST(a.cnt + b.cnt - COUNT(*) AS DOUBLE), 6) AS jaccard
    FROM ex a
    JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id, a.cnt, b.cnt
  ) WHERE jaccard >= 0.5
),
sp AS (
  SELECT doc_id_1, doc_id_2,
         CASE WHEN b1 < 90 THEN 'train' WHEN b1 < 95 THEN 'val' ELSE 'test' END AS s1,
         CASE WHEN b2 < 90 THEN 'train' WHEN b2 < 95 THEN 'val' ELSE 'test' END AS s2
  FROM (
    SELECT doc_id_1, doc_id_2,
           CAST(CAST(('0x' || substr(md5('11#' || doc_id_1), 1, 8)) AS BIGINT) % 100 AS INT) AS b1,
           CAST(CAST(('0x' || substr(md5('11#' || doc_id_2), 1, 8)) AS BIGINT) % 100 AS INT) AS b2
    FROM pairs
  )
)
SELECT least(s1, s2) AS split_a, greatest(s1, s2) AS split_b,
       CAST(COUNT(*) AS BIGINT) AS dup_pairs,
       least(s1, s2) <> greatest(s1, s2) AS is_leakage
FROM sp
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("split_leakage_report", _SPLIT_LEAKAGE_ORACLE)
def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test LEAKAGE audit: near-dup pairs (Jaccard >= 1/2 over
    df-capped 3-shingles) whose members fall in DIFFERENT hash-bucket
    splits — the contamination mode dataset_split alone cannot see (the
    split is clean by construction, but near-duplicate CONTENT still
    crosses the boundary and inflates eval scores).

    Scale shape: split membership is a pure hash of doc_id
    (curation.split_exprs), so both pair sides compute it ROW-LOCALLY on
    the tiny pair table — the corpus-sized split table is never joined,
    never shuffled."""
    from ..functions.curation import split_exprs

    pairs = _ngram_pairs_shared(spark, sf_dir).where(
        F.col("jaccard") >= 0.5
    )
    _, s1 = split_exprs(F.col("doc_id_1"))
    _, s2 = split_exprs(F.col("doc_id_2"))
    tagged = pairs.select(s1.alias("s1"), s2.alias("s2"))
    return (
        tagged.groupBy(
            F.least("s1", "s2").alias("split_a"),
            F.greatest("s1", "s2").alias("split_b"),
        )
        .agg(F.count("*").alias("dup_pairs"))
        .select(
            "split_a",
            "split_b",
            "dup_pairs",
            (F.col("split_a") != F.col("split_b")).alias("is_leakage"),
        )
        .transform(sort_result, "split_a", "split_b")
    )


_CONTRASTIVE_ORACLE = """
WITH n AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
p AS (
  SELECT a.vec_id AS anchor_id, b.vec_id AS partner_id, a.label,
         ROUND(list_sum(list_transform(list_zip(a.e, b.e),
                                       x -> x[1] * x[2]))
               / (SQRT(list_sum(list_transform(a.e, x -> x * x)))
                  * SQRT(list_sum(list_transform(b.e, x -> x * x)))),
               6) AS c
  FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id
),
pos AS (
  SELECT anchor_id, partner_id, label, c, 1 AS rk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                 ORDER BY c DESC, partner_id) AS rn
    FROM p WHERE c >= 0.35
  ) WHERE rn = 1
),
neg AS (
  SELECT q.anchor_id, q.partner_id, q.label, q.c, q.rn AS rk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                 ORDER BY c DESC, partner_id) AS rn
    FROM p WHERE c < 0.35
  ) q JOIN (SELECT DISTINCT anchor_id FROM pos) hp
      ON hp.anchor_id = q.anchor_id
  WHERE q.rn <= 2
)
SELECT anchor_id, partner_id, label, c AS cosine_sim,
       'positive' AS role, CAST(rk AS INT) AS rk FROM pos
UNION ALL
SELECT anchor_id, partner_id, label, c AS cosine_sim,
       'hard_negative' AS role, CAST(rk AS INT) AS rk FROM neg
ORDER BY anchor_id, role DESC, rk
"""


@register("contrastive_pairs", _CONTRASTIVE_ORACLE)
def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining for retrieval/embedding models:
    every anchor with a near-dup (cosine ≥ 0.35 inside its label block)
    emits its single best positive plus its 2 hardest negatives — the
    highest-cosine same-block vectors BELOW the positive threshold
    (similar enough to be confusable, labeled different). This is the
    dataset-construction step behind contrastive fine-tuning (SimCSE/
    DPR-style), expressed as one within-block pair join + two
    WindowGroupLimit rankings.

    Ranking floats cross-engine is safe here because the final cosine is
    the module's sequential zip_with fold — bit-identical in both
    engines — rounded to 6 before ranking, with partner_id as tiebreak.
    Scale shape: candidates come from contrastive_shortlist's per-block
    GEMM (top-4 per role per anchor, ±1e-6 threshold margin), so the
    exact fold scores ≤ 8 pairs per anchor instead of the whole block —
    the oracle stays the full-pair-set SQL spec, same prefilter+rerank
    contract as embedding_near_dupes. At 100 TB blocks become IVF cells
    / shards and the shortlist an ANN probe; the ranking downstream is
    unchanged."""
    from ..functions import similarity
    from ..functions.similarity import _as_double, cosine_sim
    from pyspark.sql import Window

    emb = read_table(spark, sf_dir, "embeddings")
    cands = similarity.contrastive_shortlist(
        emb, block_col="label", threshold=0.35
    )
    n = emb.select("vec_id", "label", _as_double("embedding").alias("e"))
    a = n.select(
        F.col("vec_id").alias("anchor_id"),
        "label",
        F.col("e").alias("_ea"),
    )
    b = n.select(
        F.col("vec_id").alias("partner_id"),
        F.col("e").alias("_eb"),
    )
    p = (
        cands.join(a, "anchor_id")
        .join(b, "partner_id")
        .select(
            "anchor_id",
            "partner_id",
            "label",
            cosine_sim(F.col("_ea"), F.col("_eb"), decimals=6).alias("c"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("c"), "partner_id")
    pos = (
        p.where(F.col("c") >= 0.35)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "anchor_id",
            "partner_id",
            "label",
            "c",
            F.lit(1).alias("rk"),
        )
    )
    neg = (
        p.where(F.col("c") < 0.35)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .join(
            F.broadcast(pos.select("anchor_id").distinct()), "anchor_id"
        )
        .select(
            "anchor_id",
            "partner_id",
            "label",
            "c",
            F.col("rn").alias("rk"),
        )
    )
    out = pos.withColumn("role", F.lit("positive")).unionByName(
        neg.withColumn("role", F.lit("hard_negative"))
    )
    return out.select(
        "anchor_id",
        "partner_id",
        "label",
        F.col("c").alias("cosine_sim"),
        "role",
        F.col("rk").cast("int").alias("rk"),
    ).transform(sort_result, "anchor_id", F.desc("role"), "rk")


_TEMPERATURE_MIX_ORACLE = """
WITH c AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1
),
t AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
         list_reduce(
           list_prepend(0.0::DOUBLE,
             list_transform(list_sort(list(struct_pack(lang := lang,
                                                       n := n_docs))),
                            s -> SQRT(CAST(s.n AS DOUBLE)))),
           (a, b) -> a + b) AS z
  FROM c
)
SELECT c.lang, c.n_docs,
       ROUND(SQRT(CAST(c.n_docs AS DOUBLE)) / t.z, 6) AS weight,
       ROUND((SQRT(CAST(c.n_docs AS DOUBLE)) / t.z)
             / (CAST(c.n_docs AS DOUBLE) / t.n_total), 4) AS boost
FROM c, t
ORDER BY c.lang
"""


@register("temperature_mix_weights", _TEMPERATURE_MIX_ORACLE)
def temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language sampling weights (mT5/XLM-R corpus
    mixing): w_l ∝ p_l^α with α = 1/2, which up-samples low-resource
    languages; `boost` is each language's ratio vs proportional
    sampling. α is pinned to 1/2 PRECISELY so the power is a SQRT —
    IEEE-correctly-rounded in both engines, unlike pow/exp/ln with
    arbitrary α — and the normalizer Σ√n is a sequential fold over the
    lang-sorted count array, bit-identical cross-engine.

    Scale shape: the only data pass is the per-language count; the fold
    runs over the LANGUAGE list (bounded by the catalog, not the
    corpus), and weights broadcast back onto the tiny count table."""
    c = (
        read_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
    )
    t = c.agg(
        F.sum("n_docs").alias("n_total"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("lang", "n_docs"))),
                lambda s: F.sqrt(s["n_docs"].cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("z"),
    )
    w = F.sqrt(F.col("n_docs").cast("double")) / F.col("z")
    prop = F.col("n_docs").cast("double") / F.col("n_total")
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "lang",
            "n_docs",
            F.round(w, 6).alias("weight"),
            F.round(w / prop, 4).alias("boost"),
        )
        .transform(sort_result, "lang")
    )


def _uncertainty_oracle() -> str:
    from ..functions.udx import INFERENCE_BIAS, INFERENCE_WEIGHTS

    w = ", ".join(repr(v) for v in INFERENCE_WEIGHTS)
    return f"""
WITH w(wv) AS (SELECT [{w}]),
s AS (
  SELECT e.vec_id, e.label,
         ROUND({INFERENCE_BIAS!r} + list_sum(
           list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), w.wv),
                          x -> x[1] * x[2])), 6) AS score
  FROM embeddings e, w
)
SELECT vec_id, label, score, ABS(score) AS margin
FROM s ORDER BY ABS(score), vec_id
LIMIT 20
"""


@register("uncertainty_sample", _uncertainty_oracle())
def uncertainty_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-learning batch selection: the 20 documents whose classifier
    score sits closest to the decision boundary (smallest |margin| of
    the linear probe's raw score) — the rows a labeling budget buys the
    most from. Composes the oracle-pinned batch-inference pass
    (embedding_inference: Arrow batches, dimension-major fold parity)
    with a TakeOrderedAndProject top-k on the ROUNDED score, so
    selection is bit-stable cross-engine. At 100 TB this is
    score-at-scan-speed plus a k-row heap per partition — no shuffle of
    the corpus."""
    from ..functions import udx

    scored = udx.embedding_inference(read_table(spark, sf_dir, "embeddings"))
    return (
        scored.select(
            "vec_id", "label", "score", F.abs("score").alias("margin")
        )
        .orderBy("margin", "vec_id")
        .limit(20)
    )


_NEYMAN_ORACLE = """
WITH g AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(cents) AS HUGEINT) AS s1,
         CAST(SUM(cents * cents) AS HUGEINT) AS s2
  FROM (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL)
  GROUP BY 1
),
sg AS (
  SELECT event_type, n_rows,
         SQRT((CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                 / CAST(n_rows AS DOUBLE))
              / CAST(n_rows - 1 AS DOUBLE)) AS sigma
  FROM g
),
z AS (
  SELECT list_reduce(
           list_prepend(0.0::DOUBLE,
             list_transform(list_sort(list(struct_pack(t := event_type,
                                                       w := CAST(n_rows AS DOUBLE) * sigma))),
                            s -> s.w)),
           (a, b) -> a + b) AS z
  FROM sg
)
SELECT sg.event_type, sg.n_rows,
       ROUND(sg.sigma, 6) AS sigma,
       CAST(FLOOR(10000.0 * (CAST(sg.n_rows AS DOUBLE) * sg.sigma) / z.z)
            AS BIGINT) AS alloc_n
FROM sg, z
ORDER BY sg.event_type
"""


@register("neyman_allocation", _NEYMAN_ORACLE)
def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal sample allocation: splitting a 10,000-row labeling /
    audit budget across event-type strata proportionally to N_h·σ_h —
    the allocation that minimizes the variance of the estimated mean
    (survey sampling 101), here over exact-cents event values. The
    complement to stratified_sample_per_lang's equal-rate design.

    Exactness: per-stratum moments are exact integer sums (HUGEINT /
    DECIMAL(38) headroom noted for catalog scale); σ and the allocation
    are one sqrt + divisions in pinned operand order, and the normalizer
    Σ N_h·σ_h is a sequential fold over the type-sorted stratum list —
    bounded by the type catalog, not the data."""
    g = (
        read_events(spark, sf_dir)
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("_c"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("_c").cast("decimal(38,0)").alias("_s1"),
            F.sum(F.col("_c") * F.col("_c")).cast("decimal(38,0)").alias("_s2"),
        )
    )
    sigma = F.sqrt(
        (
            F.col("_s2").cast("double")
            - F.col("_s1").cast("double")
            * F.col("_s1").cast("double")
            / F.col("n_rows").cast("double")
        )
        / (F.col("n_rows") - 1).cast("double")
    )
    sg = g.select("event_type", "n_rows", sigma.alias("sigma"))
    z = sg.agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("event_type").alias("t"),
                            (F.col("n_rows").cast("double") * F.col("sigma")).alias(
                                "w"
                            ),
                        )
                    )
                ),
                lambda s: s["w"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("z")
    )
    return (
        sg.crossJoin(F.broadcast(z))
        .select(
            "event_type",
            "n_rows",
            F.round("sigma", 6).alias("sigma"),
            F.floor(
                10000.0
                * (F.col("n_rows").cast("double") * F.col("sigma"))
                / F.col("z")
            )
            .cast("long")
            .alias("alloc_n"),
        )
        .transform(sort_result, "event_type")
    )


# ---------------------------------------------------------------------------
# T158 — Horvitz-Thompson estimation from a size-stratified dyadic sample
# ---------------------------------------------------------------------------

_HT_ORACLE = """
WITH d AS (
  SELECT doc_id, n_chars,
         CASE WHEN n_chars >= 400 THEN 0
              WHEN n_chars >= 200 THEN 1
              WHEN n_chars >= 100 THEN 2
              ELSE 3 END AS b,
         CAST(('0x' || substr(md5('ht#' || doc_id), 1, 8)) AS BIGINT) AS hv
  FROM documents
),
s AS (
  SELECT doc_id, n_chars, b FROM d WHERE hv % (1 << b) = 0
),
est AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS sampled_docs,
         CAST(SUM(1 << b) AS BIGINT) AS est_docs,
         CAST(SUM(n_chars * (1 << b)) AS BIGINT) AS est_chars
  FROM s
),
ex AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS exact_docs,
         CAST(SUM(n_chars) AS BIGINT) AS exact_chars
  FROM documents
)
SELECT est.sampled_docs, est.est_docs, ex.exact_docs,
       CAST(ROUND((est.est_docs - ex.exact_docs) * 1000000.0
                  / ex.exact_docs) AS BIGINT) AS docs_err_ppm,
       est.est_chars, ex.exact_chars,
       CAST(ROUND((est.est_chars - ex.exact_chars) * 1000000.0
                  / ex.exact_chars) AS BIGINT) AS chars_err_ppm
FROM est, ex
"""


@register("horvitz_thompson_totals", _HT_ORACLE)
def horvitz_thompson_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T158: Horvitz-Thompson population totals from a size-stratified
    DYADIC sample — inclusion probability π = 2⁻ᵇ per size stratum
    (keep every large doc, 1/2 of mid, 1/4 and 1/8 of small; membership
    is the portable hash mod 2ᵇ), so every HT term chars·2ᵇ and 1·2ᵇ
    is an exact BIGINT and the estimator is an order-independent
    integer sum — no float accumulation, unlike the textbook Σ x/π
    with arbitrary π. The design-unbiased answer-from-a-sample readout
    every survey/subsample pipeline needs, next to the sampling family
    (`weighted_doc_sample`, `stratified_sample_per_lang`). One scan,
    two map-side-combinable aggregates, single-row output at any
    scale."""
    from ..functions.hashing import md5_prefix_long

    docs = read_table(spark, sf_dir, "documents")
    b = (
        F.when(F.col("n_chars") >= 400, 0)
        .when(F.col("n_chars") >= 200, 1)
        .when(F.col("n_chars") >= 100, 2)
        .otherwise(3)
    )
    d = docs.select(
        "doc_id",
        "n_chars",
        b.alias("b"),
        md5_prefix_long("ht", F.col("doc_id")).alias("hv"),
    )
    s = d.where(F.col("hv") % F.expr("shiftleft(1, b)") == 0)
    est = s.agg(
        F.count("*").cast("long").alias("sampled_docs"),
        F.sum(F.expr("shiftleft(1, b)")).cast("long").alias("est_docs"),
        F.sum(F.expr("n_chars * shiftleft(1, b)"))
        .cast("long")
        .alias("est_chars"),
    )
    ex = docs.agg(
        F.count("*").cast("long").alias("exact_docs"),
        F.sum("n_chars").cast("long").alias("exact_chars"),
    )
    return est.crossJoin(F.broadcast(ex)).select(
        "sampled_docs",
        "est_docs",
        "exact_docs",
        F.round(
            (F.col("est_docs") - F.col("exact_docs"))
            * 1000000.0
            / F.col("exact_docs")
        )
        .cast("long")
        .alias("docs_err_ppm"),
        "est_chars",
        "exact_chars",
        F.round(
            (F.col("est_chars") - F.col("exact_chars"))
            * 1000000.0
            / F.col("exact_chars")
        )
        .cast("long")
        .alias("chars_err_ppm"),
    )
