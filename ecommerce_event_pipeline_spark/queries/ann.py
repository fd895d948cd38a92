"""Embedding/ANN queries: static IVF + PQ quantization, semantic
dedup, embedding health and recall evaluation (T85+ region).

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
from ..sources.readers import read_table, spread_small_scan
from ..registry_core import register


def _static_assign_cte() -> str:
    """Shared oracle CTE chain ``c → e → ac → assign`` replaying the
    static-quantizer assignment (functions/ivf_centroids.py literals):
    sequential-fold cosine to every centroid, argmax with centroid-id
    tie-break. RAW cosine comparison in both engines (like the LSH
    sign-of-dot: a flip needs two centroid cosines within ~1e-15 —
    vanishing, and the driver would surface it loudly)."""
    from ..functions.ivf_centroids import CENTROIDS

    rows = ",\n    ".join(
        "({}, [{}])".format(i, ", ".join(repr(v) for v in c))
        for i, c in enumerate(CENTROIDS)
    )
    return f"""c(centroid_id, cvec) AS (
  VALUES
    {rows}
),
e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
ac AS (
  SELECT e.vec_id, c.centroid_id,
         list_sum(list_transform(list_zip(e.emb, c.cvec), x -> x[1] * x[2]))
         / (SQRT(list_sum(list_transform(e.emb, x -> x * x)))
            * SQRT(list_sum(list_transform(c.cvec, x -> x * x)))) AS cos
  FROM e CROSS JOIN c
),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, centroid_id) AS rn
    FROM ac
  ) WHERE rn = 1
)"""


def _ivf_static_oracle(k: int = 10, n_probe: int = 4) -> str:
    """IVF oracle: static assignment + probe selection + exact rerank,
    all from the committed centroid literals; output ROUND(6)."""
    return f"""
WITH {_static_assign_cte()},
probes AS (
  SELECT centroid_id FROM ac WHERE vec_id = 0
  ORDER BY cos DESC, centroid_id LIMIT {n_probe}
),
q AS (SELECT emb AS qemb FROM e WHERE vec_id = 0),
sims AS (
  SELECT e.vec_id, e.label,
         ROUND(
           list_sum(list_transform(list_zip(e.emb, q.qemb), x -> x[1] * x[2]))
           / (SQRT(list_sum(list_transform(e.emb, x -> x * x)))
              * SQRT(list_sum(list_transform(q.qemb, x -> x * x)))), 6)
           AS cosine_sim
  FROM e
  JOIN assign USING (vec_id)
  CROSS JOIN q
  WHERE assign.centroid_id IN (SELECT centroid_id FROM probes)
)
SELECT vec_id, label, cosine_sim FROM sims
ORDER BY cosine_sim DESC, vec_id
LIMIT {k}
"""


@register("ivf_topk_static", _ivf_static_oracle())
def ivf_topk_static_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search with the offline-trained static coarse quantizer — the
    production serving path (train once on a sample, pin the centroids,
    probe n_probe/16 of the corpus per query), fully oracle-checked
    end-to-end unlike the refit-per-run `ivf_topk`."""
    emb = read_table(spark, sf_dir, "embeddings")
    # corpus side spread so the row-local fold scoring parallelizes on the
    # single-row-group fixture (no-op on multi-split production scans);
    # query side stays on the raw scan — a 1-row fetch needs no shuffle
    return similarity.ivf_topk_static(
        spread_small_scan(emb), emb.where(F.col("vec_id") == 0), k=10, n_probe=4
    )


def _semantic_dedup_static_oracle(threshold: float = 0.7) -> str:
    """SemDeDup oracle over the static quantizer: per-cell pairs with
    sequential-fold cosine ≥ threshold (the same raw-float cut
    `similarity._exact_pair_cosine` applies), keep-lowest-id rule."""
    return f"""
WITH {_static_assign_cte()},
pairs AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2
  FROM assign a
  JOIN assign b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE list_sum(list_transform(list_zip(ea.emb, eb.emb), x -> x[1] * x[2]))
        / (SQRT(list_sum(list_transform(ea.emb, x -> x * x)))
           * SQRT(list_sum(list_transform(eb.emb, x -> x * x))))
        >= {threshold}
),
drops AS (SELECT v2 AS vec_id, min(v1) AS duplicate_of FROM pairs GROUP BY 1)
SELECT a.vec_id,
       a.centroid_id AS cluster_id,
       d.duplicate_of IS NULL AS keep,
       d.duplicate_of
FROM assign a LEFT JOIN drops d ON a.vec_id = d.vec_id
ORDER BY a.vec_id
"""


@register("semantic_dedup_static", _semantic_dedup_static_oracle())
def semantic_dedup_static_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup served from the offline-trained static quantizer —
    deterministic end-to-end (assignment, per-cell pairing, keep rule),
    so unlike the refit-per-run `semantic_dedup` the whole operator is
    SQL-oracle-checked."""
    return curation.semantic_dedup_static(
        spread_small_scan(read_table(spark, sf_dir, "embeddings")), threshold=0.7
    )


# The refit entry's oracle is the STATIC-quantizer SQL minus the cluster
# column: refit k-means relabels clusters arbitrarily, but the keep /
# duplicate_of DECISIONS are quantizer-robust (a cos ≥ 0.7 near-dup pair
# co-locates in any reasonable cell assignment of this corpus — observed
# stable across refit runs). Anchor-asserted like _CLUSTER_REPS_ORACLE so
# base-oracle drift fails loudly.
_SEMANTIC_REFIT_ANCHOR = """SELECT a.vec_id,
       a.centroid_id AS cluster_id,
       d.duplicate_of IS NULL AS keep,
       d.duplicate_of"""
assert _SEMANTIC_REFIT_ANCHOR in _semantic_dedup_static_oracle(), (
    "_semantic_dedup_static_oracle tail drifted; update _SEMANTIC_REFIT_ANCHOR"
)
_SEMANTIC_DEDUP_REFIT_ORACLE = _semantic_dedup_static_oracle().replace(
    _SEMANTIC_REFIT_ANCHOR,
    """SELECT a.vec_id,
       d.duplicate_of IS NULL AS keep,
       d.duplicate_of""",
)


@register("semantic_dedup", _SEMANTIC_DEDUP_REFIT_ORACLE)
def semantic_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding dedup with a refit-per-run k-means: seeded
    spherical k-means cells, per-cell GEMM cosine pairs, keep-lowest-id.

    The cluster LABELS are float-iterative (no oracle — dropped from the
    output); the keep/duplicate_of decisions are hashed against the
    independently-computed static-quantizer SQL. That is a weak-form
    check by design: it asserts the refit reproduces the same dedup
    DECISIONS as the deterministic serving-shape twin
    (`semantic_dedup_static`), not that the refit itself is
    deterministic. On the driver fixtures the corpus has NO within-cell
    pair at cos ≥ 0.7 (verified), so this hash check pins the
    no-false-positive side — a refit that hallucinates even one dup goes
    red; the drop/keep-rule side is exercised by pytest on synthetic
    near-dup corpora (tests/test_curation.py, recall floor vs
    brute-force pairs)."""
    return curation.semantic_dedup(
        read_table(spark, sf_dir, "embeddings"), n_clusters=16, threshold=0.7
    ).drop("cluster_id")


def _pq_oracle() -> str:
    """Full PQ replay: codebook VALUES, expanded-form argmax per
    (vec, subvector), code-string + reconstruction error with the same
    sequential folds (`list_reduce` with a 0.0 prepend == F.aggregate
    with 0.0 init)."""
    from ..functions.pq_codebooks import CODEBOOKS, M, SUB_DIM

    rows = []
    for m in range(M):
        for k, cvec in enumerate(CODEBOOKS[m]):
            hn = 0.0
            for v in cvec:
                hn += v * v
            rows.append(
                "({}, {}, [{}], {!r})".format(
                    m, k, ", ".join(repr(v) for v in cvec), hn / 2.0
                )
            )
    values = ",\n    ".join(rows)
    return f"""
WITH cb(m, code, cvec, hn) AS (
  VALUES
    {values}
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
s AS (
  SELECT vec_id, m, code,
         list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(list_zip(emb[m*{SUB_DIM}+1 : m*{SUB_DIM}+{SUB_DIM}], cvec),
                          x -> x[1] * x[2])),
           (a, b) -> a + b) - hn AS score,
         list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(list_zip(emb[m*{SUB_DIM}+1 : m*{SUB_DIM}+{SUB_DIM}], cvec),
                          x -> (x[1] - x[2]) * (x[1] - x[2]))),
           (a, b) -> a + b) AS se
  FROM e CROSS JOIN cb
),
best AS (
  SELECT vec_id, m, code, se,
         ROW_NUMBER() OVER (PARTITION BY vec_id, m
                            ORDER BY score DESC, code) AS rn
  FROM s
),
agg AS (
  SELECT vec_id,
         array_to_string(list(code ORDER BY m), ',') AS pq_codes,
         list(se ORDER BY m) AS ses
  FROM best WHERE rn = 1 GROUP BY 1
)
SELECT vec_id, pq_codes,
       ROUND(list_reduce(list_prepend(0.0::DOUBLE, ses), (a, b) -> a + b), 6)
         AS recon_err
FROM agg
ORDER BY vec_id
"""


@register("pq_encode_static", _pq_oracle())
def pq_encode_static_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization against the offline-trained static codebooks
    — codes AND reconstruction errors value-hash-checked end to end (the
    quantizer family's fourth member: int8 scalar, IVF coarse, SemDeDup
    cells, PQ codes)."""
    return similarity.pq_encode_static(
        spread_small_scan(read_table(spark, sf_dir, "embeddings"))
    )


def _pq_adc_oracle(k: int = 10) -> str:
    """ADC replay: LUT from the un-quantized query (vec_id 0), code
    assignment as in the encode oracle, rank on the RAW summed distance
    with vec_id tie-break, round only the emitted column."""
    from ..functions.pq_codebooks import CODEBOOKS, M, SUB_DIM

    rows = []
    for m in range(M):
        for kk, cvec in enumerate(CODEBOOKS[m]):
            hn = 0.0
            for v in cvec:
                hn += v * v
            rows.append(
                "({}, {}, [{}], {!r})".format(
                    m, kk, ", ".join(repr(v) for v in cvec), hn / 2.0
                )
            )
    values = ",\n    ".join(rows)
    return f"""
WITH cb(m, code, cvec, hn) AS (
  VALUES
    {values}
),
e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
s AS (
  SELECT vec_id, m, code,
         list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(list_zip(emb[m*{SUB_DIM}+1 : m*{SUB_DIM}+{SUB_DIM}], cvec),
                          x -> x[1] * x[2])),
           (a, b) -> a + b) - hn AS score
  FROM e CROSS JOIN cb
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m
                              ORDER BY score DESC, code) AS rn
    FROM s
  ) WHERE rn = 1
),
lut AS (
  SELECT cb.m, cb.code,
         list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(
             list_zip(q.emb[cb.m*{SUB_DIM}+1 : cb.m*{SUB_DIM}+{SUB_DIM}], cb.cvec),
             x -> (x[1] - x[2]) * (x[1] - x[2]))),
           (a, b) -> a + b) AS qse
  FROM cb CROSS JOIN (SELECT emb FROM e WHERE vec_id = 0) q
),
adc AS (
  SELECT c.vec_id,
         list_reduce(list_prepend(0.0::DOUBLE, list(l.qse ORDER BY c.m)),
                     (a, b) -> a + b) AS adc_raw
  FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.code
  GROUP BY c.vec_id
)
SELECT adc.vec_id, e.label, ROUND(adc_raw, 6) AS adc_dist
FROM adc JOIN e ON adc.vec_id = e.vec_id
ORDER BY adc_raw, adc.vec_id
LIMIT {k}
"""


@register("pq_adc_topk", _pq_adc_oracle())
def pq_adc_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search via asymmetric distance: a 64-entry query lookup table
    scores every encoded vector from its 8 code ids alone — the scan
    never re-reads the vectors. Fully oracle-checked ranking."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.pq_adc_topk(
        spread_small_scan(emb), emb.where(F.col("vec_id") == 0), k=10
    )


def _ivf_pq_oracle(k: int = 10, n_probe: int = 4, shortlist: int = 50) -> str:
    """End-to-end IVFPQ replay: coarse probe (shared assignment CTE) →
    ADC shortlist on raw distances → exact-cosine rerank; each stage
    reuses the component oracles' exact idioms."""
    from ..functions.pq_codebooks import CODEBOOKS, M, SUB_DIM

    rows = []
    for m in range(M):
        for kk, cvec in enumerate(CODEBOOKS[m]):
            hn = 0.0
            for v in cvec:
                hn += v * v
            rows.append(
                "({}, {}, [{}], {!r})".format(
                    m, kk, ", ".join(repr(v) for v in cvec), hn / 2.0
                )
            )
    values = ",\n    ".join(rows)
    return f"""
WITH {_static_assign_cte()},
probes AS (
  SELECT centroid_id FROM ac WHERE vec_id = 0
  ORDER BY cos DESC, centroid_id LIMIT {n_probe}
),
cand AS (
  SELECT e.vec_id, e.label, e.emb
  FROM e JOIN assign USING (vec_id)
  WHERE assign.centroid_id IN (SELECT centroid_id FROM probes)
),
cb(m, code, cvec, hn) AS (
  VALUES
    {values}
),
s AS (
  SELECT cand.vec_id, cb.m, cb.code,
         list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(
             list_zip(cand.emb[cb.m*{SUB_DIM}+1 : cb.m*{SUB_DIM}+{SUB_DIM}], cb.cvec),
             x -> x[1] * x[2])),
           (a, b) -> a + b) - cb.hn AS score
  FROM cand CROSS JOIN cb
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m
                              ORDER BY score DESC, code) AS rn
    FROM s
  ) WHERE rn = 1
),
lut AS (
  SELECT cb.m, cb.code,
         list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(
             list_zip(q.emb[cb.m*{SUB_DIM}+1 : cb.m*{SUB_DIM}+{SUB_DIM}], cb.cvec),
             x -> (x[1] - x[2]) * (x[1] - x[2]))),
           (a, b) -> a + b) AS qse
  FROM cb CROSS JOIN (SELECT emb FROM e WHERE vec_id = 0) q
),
adc AS (
  SELECT c.vec_id,
         list_reduce(list_prepend(0.0::DOUBLE, list(l.qse ORDER BY c.m)),
                     (a, b) -> a + b) AS adc_raw
  FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.code
  GROUP BY c.vec_id
  ORDER BY adc_raw, c.vec_id
  LIMIT {shortlist}
),
rer AS (
  SELECT cand.vec_id, cand.label,
         list_sum(list_transform(list_zip(cand.emb, q.qemb), x -> x[1] * x[2]))
         / (SQRT(list_sum(list_transform(cand.emb, x -> x * x)))
            * SQRT(list_sum(list_transform(q.qemb, x -> x * x)))) AS sim_raw
  FROM adc JOIN cand USING (vec_id)
  CROSS JOIN (SELECT emb AS qemb FROM e WHERE vec_id = 0) q
)
SELECT vec_id, label, ROUND(sim_raw, 6) AS cosine_sim
FROM rer
ORDER BY sim_raw DESC, vec_id
LIMIT {k}
"""


@register("ivf_pq_topk", _ivf_pq_oracle())
def ivf_pq_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ANN serving stack (FAISS IVFPQ shape): coarse probe →
    ADC shortlist → exact rerank, end-to-end oracle-checked — each tier
    cuts scan volume an order of magnitude and each is individually
    oracled by its component query."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.ivf_pq_topk(
        spread_small_scan(emb),
        emb.where(F.col("vec_id") == 0),
        k=10,
        n_probe=4,
        shortlist=50,
    )


def _inference_oracle() -> str:
    """Replays the linear probe with the committed weight literals and a
    sequential list_sum fold — bit-identical to the UDF's dimension-major
    accumulation (see functions/udx.py)."""
    from ..functions.udx import INFERENCE_BIAS, INFERENCE_WEIGHTS

    w = ", ".join(repr(v) for v in INFERENCE_WEIGHTS)
    return f"""
WITH w(wv) AS (SELECT [{w}]),
s AS (
  SELECT e.vec_id, e.label,
         {INFERENCE_BIAS!r} + list_sum(
           list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), w.wv),
                          x -> x[1] * x[2])) AS raw
  FROM embeddings e, w
)
SELECT vec_id, label, ROUND(raw, 6) AS score, raw > 0.0 AS positive
FROM s ORDER BY vec_id
"""


@register("embedding_inference", _inference_oracle())
def embedding_inference_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch inference over embeddings (scalar pandas UDF, Arrow batches,
    dimension-major accumulation for bit parity with the SQL fold) — the
    quality-classifier / reward-model scoring pass of a training-data
    pipeline, with the linear-probe weights committed as literals so the
    entire pass is oracle-checked end to end."""
    from ..functions import udx

    return udx.embedding_inference(read_table(spark, sf_dir, "embeddings")).transform(
        sort_result, "vec_id"
    )


_MATRYOSHKA_ORACLE = """
WITH n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e64,
         list_slice(CAST(embedding AS DOUBLE[]), 1, 16) AS e16
  FROM embeddings
),
q AS (SELECT * FROM n WHERE vec_id < 10),
c AS (
  SELECT q.vec_id AS query_id, n.vec_id AS cand_id,
         ROUND(list_sum(list_transform(list_zip(q.e64, n.e64),
                                       x -> x[1] * x[2]))
               / (SQRT(list_sum(list_transform(q.e64, x -> x * x)))
                  * SQRT(list_sum(list_transform(n.e64, x -> x * x)))),
               6) AS c64,
         ROUND(list_sum(list_transform(list_zip(q.e16, n.e16),
                                       x -> x[1] * x[2]))
               / (SQRT(list_sum(list_transform(q.e16, x -> x * x)))
                  * SQRT(list_sum(list_transform(n.e16, x -> x * x)))),
               6) AS c16
  FROM q JOIN n ON n.vec_id <> q.vec_id
),
r AS (
  SELECT query_id, cand_id, c64, c16,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY c64 DESC, cand_id) AS rk64,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY c16 DESC, cand_id) AS rk16
  FROM c
),
t64 AS (SELECT query_id, cand_id, rk64 FROM r WHERE rk64 <= 10),
t16 AS (SELECT query_id, cand_id FROM r WHERE rk16 <= 10)
SELECT a.query_id,
       CAST(COUNT(b.cand_id) AS BIGINT) AS overlap_at_10,
       CAST(MAX(CASE WHEN a.rk64 = 1 AND b.cand_id IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS top1_in_trunc10
FROM t64 a
LEFT JOIN t16 b ON b.query_id = a.query_id AND b.cand_id = a.cand_id
GROUP BY 1 ORDER BY 1
"""


@register("matryoshka_recall", _MATRYOSHKA_ORACLE)
def matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit (Kusupati et al. 2022): for each of 10
    probe queries, how much of the exact top-10 neighbor set survives
    when cosine is computed on only the first 16 of 64 dimensions —
    overlap@10 plus whether the true top-1 is retained. This is the
    measurement that decides whether a 4× cheaper truncated index is
    good enough to serve as the ANN prefilter tier.

    Both rankings use the bit-exact sequential fold (rounded to 1e-6,
    cand_id tiebreak); the truncated vector is an array slice, no
    re-embedding. Scale shape: probe-set × corpus is a broadcast of 10
    query vectors against a scan — the per-query top-10 is
    WindowGroupLimit, and the overlap join runs on 100 rows."""
    from ..functions.similarity import _as_double, cosine_sim
    from pyspark.sql import Window

    n = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        _as_double("embedding").alias("e64"),
        F.slice(_as_double("embedding"), 1, 16).alias("e16"),
    )
    q = n.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("e64").alias("_q64"),
        F.col("e16").alias("_q16"),
    )
    c = (
        F.broadcast(q)
        .join(
            n.select(
                F.col("vec_id").alias("cand_id"), "e64", "e16"
            ),
            F.col("cand_id") != F.col("query_id"),
        )
        .select(
            "query_id",
            "cand_id",
            cosine_sim(F.col("_q64"), F.col("e64"), decimals=6).alias("c64"),
            cosine_sim(F.col("_q16"), F.col("e16"), decimals=6).alias("c16"),
        )
    )
    w64 = Window.partitionBy("query_id").orderBy(F.desc("c64"), "cand_id")
    w16 = Window.partitionBy("query_id").orderBy(F.desc("c16"), "cand_id")
    r = c.withColumn("rk64", F.row_number().over(w64)).withColumn(
        "rk16", F.row_number().over(w16)
    )
    t64 = r.where(F.col("rk64") <= 10).select("query_id", "cand_id", "rk64")
    t16 = r.where(F.col("rk16") <= 10).select(
        F.col("query_id").alias("_q16id"), F.col("cand_id").alias("_c16")
    )
    return (
        t64.join(
            t16,
            (F.col("_q16id") == F.col("query_id"))
            & (F.col("_c16") == F.col("cand_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("_c16").alias("overlap_at_10"),
            F.max(
                F.when(
                    (F.col("rk64") == 1) & F.col("_c16").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("top1_in_trunc10"),
        )
        .transform(sort_result, "query_id")
    )


_EMB_HEALTH_ORACLE = """
WITH n AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
m AS (
  SELECT vec_id, label,
         len(e) AS dim,
         SQRT(list_reduce(list_prepend(0.0::DOUBLE,
                list_transform(e, x -> x * x)), (a, b) -> a + b)) AS nrm,
         len(list_filter(e, x -> x = 0.0::DOUBLE)) AS n_zero_components,
         len(list_filter(e, x -> isnan(x))) AS n_nan
  FROM n
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(MIN(dim) AS BIGINT) AS min_dim,
       CAST(MAX(dim) AS BIGINT) AS max_dim,
       CAST(SUM(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS zero_vectors,
       CAST(SUM(n_nan) AS BIGINT) AS nan_components,
       CAST(SUM(n_zero_components) AS BIGINT) AS zero_components,
       ROUND(MIN(nrm), 6) AS min_norm,
       quantile_cont(nrm, 0.5) AS p50_norm,
       ROUND(MAX(nrm), 6) AS max_norm
FROM m GROUP BY 1 ORDER BY 1
"""


@register("embedding_health_report", _EMB_HEALTH_ORACLE)
def embedding_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-corpus preflight: per label block, dimension consistency,
    zero/NaN pathology counts, and the norm distribution (min / exact
    median / max) — the data-quality gate an embedding pipeline runs
    before spending GPU-hours on indexing or training. Catches the three
    classic corruptions: truncated vectors (dim drift), dead encoder
    outputs (zero vectors), and poisoned arithmetic (NaN components).

    Norms use the module's sequential square-fold (bit-identical
    cross-engine) with IEEE-exact SQRT; the median is the interpolated
    percentile both engines share. One scan, label-grain aggregate."""
    n = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    nrm = F.sqrt(
        F.aggregate(
            F.transform(F.col("e"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    m = n.select(
        "label",
        F.size("e").alias("dim"),
        nrm.alias("nrm"),
        F.size(F.filter(F.col("e"), lambda x: x == 0.0)).alias(
            "n_zero_components"
        ),
        F.size(F.filter(F.col("e"), lambda x: F.isnan(x))).alias("n_nan"),
    )
    return (
        m.groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.min("dim").cast("long").alias("min_dim"),
            F.max("dim").cast("long").alias("max_dim"),
            F.sum(F.when(F.col("nrm") == 0.0, 1).otherwise(0)).alias(
                "zero_vectors"
            ),
            F.sum("n_nan").cast("long").alias("nan_components"),
            F.sum("n_zero_components").cast("long").alias("zero_components"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.expr("percentile(nrm, 0.5D)").alias("p50_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
        .transform(sort_result, "label")
    )
