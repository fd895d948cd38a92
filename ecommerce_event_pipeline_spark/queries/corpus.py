"""Corpus/dedup/text-analysis queries: pair generation, chain
stats, keyphrases, distinctive terms, dedup evaluation (T85+ region).

Mechanically split out of registry.py (round-10 trim, VERDICT r9 item
8; zero behavior change — the full oracle mirror is the regression
gate). Imported by registry.py after its own definitions, so pre-split
shared helpers resolve against the already-bound prefix of the
partially-initialized registry module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..functions import dedup, text
from ..sources.readers import read_table
from ..registry_core import register
from ..shared_bases import (  # shared dedup bases (no registry import)
    _DEDUP_CLUSTERS_ORACLE,
    _minhash_candidates_shared,
    _ngram_pairs_shared,
    _shingle_sets_shared,
)


_JACCARD_PREFIX_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 1) + 1),
           i -> array_to_string(toks[i:i+2], ' '))) AS shingles
  FROM t
),
ex AS (
  SELECT doc_id, unnest(shingles) AS shingle, len(shingles) AS cnt FROM sh
),
pairs AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         CAST(COUNT(*) AS BIGINT) AS common,
         a.cnt + b.cnt - COUNT(*) AS un
  FROM ex a
  JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.cnt, b.cnt
)
SELECT doc_id_1, doc_id_2, common,
       ROUND(CAST(common AS DOUBLE) / CAST(un AS DOUBLE), 6) AS jaccard
FROM pairs
WHERE common * 5 >= un * 4
ORDER BY doc_id_1, doc_id_2
"""


@register("jaccard_prefix_pairs", _JACCARD_PREFIX_ORACLE)
def jaccard_prefix_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ 4/5 via lossless AllPairs prefix + PPJoin
    positional filtering — the oracle runs the BRUTE-FORCE all-pairs
    join, so a green row proves the pruning dropped nothing (the scale
    claim, verified). 4/5 is a production near-dup threshold: the
    indexed prefix is ~n/5 of each document (vs n/2 at t=1/2, where the
    candidate self-join re-approaches all-pairs — that regime stays as a
    pytest stress case, tests/test_dedup.py)."""
    return dedup.jaccard_prefix_pairs(
        read_table(spark, sf_dir, "documents"),
        k=3,
        threshold_num=4,
        threshold_den=5,
        sets_df=_shingle_sets_shared(spark, sf_dir, 3),
    )


_HEAVY_HITTERS_ORACLE = """
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents
),
nz AS (SELECT token FROM toks WHERE token <> ''),
tot AS (SELECT COUNT(*) AS n FROM nz)
SELECT token,
       CAST(COUNT(*) AS BIGINT) AS freq,
       ROUND(COUNT(*) * 100.0 / CAST(t.n AS DOUBLE), 4) AS share_pct
FROM nz, tot t
GROUP BY token, t.n
HAVING COUNT(*) * 200 > t.n
ORDER BY freq DESC, token
"""


@register("token_heavy_hitters", _HEAVY_HITTERS_ORACLE)
def token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tokens with frequency > n/200 via Misra–Gries sketch-then-
    verify: pass 1 collapses each partition to ≤200 candidate counters
    (mapInPandas), pass 2 re-counts candidates exactly behind a broadcast
    semi-join — the long tail never shuffles. Output is exact, so the
    plain GROUP BY/HAVING oracle applies."""
    from ..functions import sketch

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    ).where(F.col("token") != "")
    return sketch.heavy_hitters(toks, k=200)


_DUP_CHAIN_ORACLE = """
WITH RECURSIVE t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
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
  ) WHERE jaccard >= 0.2
),
reach(s, n, d) AS (
  SELECT doc_id_1, doc_id_2, 1 FROM pairs
  UNION ALL
  SELECT r.s, p.doc_id_2, r.d + 1
  FROM reach r JOIN pairs p ON r.n = p.doc_id_1
)
SELECT s AS doc_id,
       CAST(COUNT(DISTINCT n) AS BIGINT) AS reachable,
       CAST(MAX(d) AS BIGINT) AS max_depth
FROM reach GROUP BY s ORDER BY s
"""


@register("dup_chain_stats", _DUP_CHAIN_ORACLE)
def dup_chain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECURSIVE CTE (Spark 4 WITH RECURSIVE) walking the near-dup pair
    graph: per chain head, how many docs it transitively reaches and the
    longest hop count. Termination is by CONSTRUCTION, not fixpoint:
    canonical pairs satisfy doc_id_1 < doc_id_2, so every recursive step
    strictly increases the frontier id and path length is bounded by the
    id chain (Spark's recursive CTE supports UNION ALL only — a cyclic
    edge set would need the fixpoint UNION form DuckDB also offers).

    Path-multiplicity hazard, HANDLED: a bare UNION ALL walk enumerates
    PATHS, so a dense diamond lattice multiplies rows combinatorially.
    The recursive step therefore emits SELECT DISTINCT — per-step
    frontier dedup. That is exact, not an approximation: every row of
    iteration i carries d = i, so no (s, n, d) tuple can recur across
    iterations, and within an iteration the duplicates are precisely the
    multiple same-length paths to the same node; the final aggregate
    (COUNT(DISTINCT n), MAX(d)) depends only on the SET of (s, n, d)
    tuples, which DISTINCT preserves bit-for-bit. Frontier size is thus
    bounded by pairs² · diameter (polynomial), not path count
    (exponential). Note cluster-pruning would NOT fix this: every edge
    of the pair graph is cluster-internal by definition (clusters ARE
    its connected components), so a semi-join against `dedup_clusters`
    labels is a no-op — the dedup has to happen inside the walk."""
    pairs = _ngram_pairs_shared(spark, sf_dir)
    # MATERIALIZE the edge list before the walk: a recursive CTE
    # re-evaluates its base view's plan on every iteration, so a lazy
    # view here re-runs the whole shingle-scan + pair join per hop
    # (measured 5×6 s at sf0.1). The edge list is tiny relative to the
    # corpus (|E| ≈ dup pairs, 256 at sf0.1); one eager localCheckpoint
    # turns O(iters × corpus-scan) into O(corpus-scan + iters × |E|).
    # On a real cluster with dynamic allocation, checkpoint to reliable
    # storage (or write the edge list to a table) instead — localCheckpoint
    # blocks live in executor memory.
    edges = pairs.select("doc_id_1", "doc_id_2").localCheckpoint(eager=True)
    edges.createOrReplaceTempView("dup_pairs_rcte")
    return spark.sql(
        """
        WITH RECURSIVE reach(s, n, d) AS (
          SELECT doc_id_1, doc_id_2, 1 FROM dup_pairs_rcte
          UNION ALL
          SELECT DISTINCT r.s, p.doc_id_2, r.d + 1
          FROM reach r JOIN dup_pairs_rcte p ON r.n = p.doc_id_1
        )
        SELECT s AS doc_id,
               COUNT(DISTINCT n) AS reachable,
               CAST(MAX(d) AS BIGINT) AS max_depth
        FROM reach GROUP BY s ORDER BY s
        """
    )


_LOG_ODDS_ORACLE = """
WITH toks AS (
  SELECT lang, unnest(string_split(lower(text), ' ')) AS token FROM documents
),
nz AS (SELECT lang, token FROM toks WHERE token <> ''),
lt AS (SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS a FROM nz GROUP BY 1, 2),
t AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM nz GROUP BY 1),
lg AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS in_total FROM nz GROUP BY 1),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS corpus_total FROM nz),
j AS (
  SELECT lt.lang, lt.token, lt.a,
         t.c - lt.a AS b, lg.in_total,
         n.corpus_total - lg.in_total AS out_total
  FROM lt JOIN t USING (token) JOIN lg USING (lang), n
  WHERE t.c >= 5
),
scored AS (
  SELECT lang, token, a,
         (ln((a + 0.5::DOUBLE) / (in_total - a + 0.5::DOUBLE))
            - ln((b + 0.5::DOUBLE) / (out_total - b + 0.5::DOUBLE)))
           / sqrt(1.0::DOUBLE / (a + 0.5::DOUBLE)
                  + 1.0::DOUBLE / (b + 0.5::DOUBLE)) AS z
  FROM j
),
rk AS (
  SELECT lang, token, a, z,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY z DESC, token) AS r
  FROM scored
)
SELECT lang, token, a, ROUND(z, 4) AS z_score
FROM rk WHERE r <= 5
ORDER BY lang, z_score DESC, token
"""


@register("lang_distinctive_terms", _LOG_ODDS_ORACLE)
def lang_distinctive_terms_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monroe et al. weighted log-odds (Haldane prior) z-scores — the
    corpus-analysis statistic for 'which tokens characterize this
    slice'; every input is an exact integer aggregate so both engines
    evaluate the identical closed form."""
    return text.lang_distinctive_terms(
        read_table(spark, sf_dir, "documents"), min_global=5, top_k=5
    )


_SURPRISAL_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
),
nz AS (SELECT doc_id, token FROM toks WHERE token <> ''),
dt AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS k FROM nz GROUP BY 1, 2),
t AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM nz GROUP BY 1),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS corpus_n FROM nz),
terms AS (
  SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_tokens,
         list(k * ln(c) ORDER BY token) AS term_list
  FROM dt JOIN t USING (token) GROUP BY doc_id
),
s AS (
  SELECT doc_id, n_tokens,
         list_reduce(list_prepend(0.0::DOUBLE, term_list),
                     (acc, x) -> acc + x) AS sum_ln
  FROM terms
)
SELECT doc_id, n_tokens,
       ROUND(ln(CAST(n.corpus_n AS DOUBLE))
             - sum_ln / CAST(n_tokens AS DOUBLE), 4) AS surprisal
FROM s, n
ORDER BY doc_id
"""


@register("doc_surprisal", _SURPRISAL_ORACLE)
def doc_surprisal_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram surprisal per document — the perplexity-proxy quality
    score, with the per-doc float sum computed as a token-ordered fold so
    the oracle replays the identical accumulation order."""
    return text.doc_surprisal(read_table(spark, sf_dir, "documents"))


_INCR_DEDUP_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 1) + 1),
           i -> array_to_string(toks[i:i+2], ' '))) AS shingles
  FROM t
),
ex0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
rare AS (SELECT shingle FROM ex0 GROUP BY 1 HAVING COUNT(*) <= 50),
ex AS (
  SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY doc_id) AS cnt
  FROM ex0 JOIN rare USING (shingle)
),
cross_pairs AS (
  SELECT doc_id_1, doc_id_2 FROM (
    SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
           CAST(COUNT(*) AS DOUBLE)
             / CAST(a.cnt + b.cnt - COUNT(*) AS DOUBLE) AS jaccard
    FROM ex a
    JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id, a.cnt, b.cnt
  )
  WHERE jaccard >= 0.6 AND doc_id_1 < 400 AND doc_id_2 >= 400
),
incoming AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 400),
existing_h AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 400),
flags AS (
  SELECT i.doc_id,
         (i.h IN (SELECT h FROM existing_h)) AS is_exact,
         (i.doc_id IN (SELECT doc_id_2 FROM cross_pairs)) AS is_near
  FROM incoming i
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_incoming,
       CAST(SUM(CASE WHEN is_exact THEN 1 ELSE 0 END) AS BIGINT) AS exact_dups,
       CAST(SUM(CASE WHEN is_near AND NOT is_exact THEN 1 ELSE 0 END) AS BIGINT)
         AS near_dups,
       CAST(SUM(CASE WHEN NOT is_near AND NOT is_exact THEN 1 ELSE 0 END) AS BIGINT)
         AS novel
FROM flags
"""


@register("incremental_dedup_report", _INCR_DEDUP_ORACLE)
def incremental_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION dedup shape: an incoming batch (doc_id ≥ 400)
    checked against the existing corpus (doc_id < 400) — exact dups via a
    content-hash semi-join against the existing hash index, near-dups via
    shingle-blocked exact Jaccard restricted to CROSS pairs (canonical
    ordering puts existing<incoming automatically). At 100 TB only the
    incoming side is new work: the hash index and shingle postings are
    incremental structures, not per-run rebuilds."""
    docs = read_table(spark, sf_dir, "documents")
    incoming = docs.where(F.col("doc_id") >= 400).select(
        "doc_id", F.md5("text").alias("_h")
    )
    existing_h = (
        docs.where(F.col("doc_id") < 400).select(F.md5("text").alias("_h")).distinct()
    )
    exact = incoming.join(existing_h, "_h", "left_semi").select("doc_id")
    pairs = _ngram_pairs_shared(spark, sf_dir).where(
        F.col("jaccard") >= 0.6
    )
    near = (
        pairs.where((F.col("doc_id_1") < 400) & (F.col("doc_id_2") >= 400))
        .select(F.col("doc_id_2").alias("doc_id"))
        .distinct()
    )
    flags = (
        incoming.select("doc_id")
        .join(exact.withColumn("_e", F.lit(True)), "doc_id", "left")
        .join(near.withColumn("_n", F.lit(True)), "doc_id", "left")
        .select(
            F.coalesce("_e", F.lit(False)).alias("is_exact"),
            F.coalesce("_n", F.lit(False)).alias("is_near"),
        )
    )
    return flags.agg(
        F.count("*").alias("n_incoming"),
        F.sum(F.when(F.col("is_exact"), 1).otherwise(0)).alias("exact_dups"),
        F.sum(
            F.when(F.col("is_near") & ~F.col("is_exact"), 1).otherwise(0)
        ).alias("near_dups"),
        F.sum(
            F.when(~F.col("is_near") & ~F.col("is_exact"), 1).otherwise(0)
        ).alias("novel"),
    )


# anchor text rewritten below; if the base oracle's tail ever drifts the
# replace would silently no-op and this oracle would degrade to the base
# cluster-label query — assert the anchor so drift fails loudly instead
_CLUSTER_REPS_ANCHOR = """SELECT doc_id, MIN(r) AS cluster_id
FROM reach
GROUP BY 1
ORDER BY 1
"""
assert _CLUSTER_REPS_ANCHOR in _DEDUP_CLUSTERS_ORACLE, (
    "_DEDUP_CLUSTERS_ORACLE tail drifted; update _CLUSTER_REPS_ANCHOR"
)
_CLUSTER_REPS_ORACLE = (
    _DEDUP_CLUSTERS_ORACLE.replace(
        _CLUSTER_REPS_ANCHOR,
        """, labels AS (
  SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY 1
),
m AS (
  SELECT l.cluster_id, d.doc_id, d.n_chars
  FROM labels l JOIN documents d USING (doc_id)
),
sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS members FROM m GROUP BY 1),
r2 AS (
  SELECT cluster_id, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM m
)
SELECT r2.cluster_id, sz.members,
       r2.doc_id AS rep_doc_id, r2.n_chars AS rep_n_chars
FROM r2 JOIN sz USING (cluster_id)
WHERE rk = 1 AND sz.members > 1
ORDER BY cluster_id
""",
    )
)


@register("cluster_representatives", _CLUSTER_REPS_ORACLE)
def cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: within each near-dup cluster
    keep the LONGEST document (tie → lowest id) instead of the arbitrary
    min-id — the rule real corpus curation uses (keep the best copy, not
    the first seen). Composition: star-contraction CC → broadcast-sized
    label join → per-cluster argmax window."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    pairs = _ngram_pairs_shared(spark, sf_dir)
    labels, _rounds = dedup.dedup_clusters_star(docs, pairs)
    m = labels.join(docs.select("doc_id", "n_chars"), "doc_id")
    sz = m.groupBy("cluster_id").agg(F.count("*").alias("members"))
    rk = F.row_number().over(
        Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), "doc_id")
    )
    return (
        m.withColumn("_rk", rk)
        .where(F.col("_rk") == 1)
        .join(sz, "cluster_id")
        .where(F.col("members") > 1)
        .select(
            "cluster_id",
            "members",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("n_chars").alias("rep_n_chars"),
        )
        .orderBy("cluster_id")
    )


_SPAN_DEDUP_ORACLE = """
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(toks) - 7, 1) + 1),
           i -> CAST(('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')),
                                     1, 15)) AS BIGINT))) AS span_h
  FROM t
),
sd AS (SELECT span_h FROM g GROUP BY span_h HAVING COUNT(DISTINCT doc_id) >= 2),
tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS total_spans FROM g GROUP BY 1),
sh AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS shared_spans
  FROM g JOIN sd USING (span_h) GROUP BY 1
)
SELECT doc_id, total_spans,
       COALESCE(sh.shared_spans, 0) AS shared_spans,
       ROUND(COALESCE(sh.shared_spans, 0) * 1.0 / total_spans, 6)
         AS shared_fraction
FROM tot LEFT JOIN sh USING (doc_id)
ORDER BY doc_id
"""


@register("span_dedup_stats", _SPAN_DEDUP_ORACLE)
def span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document span-level duplication (fixed-window exact-substring
    dedup, Lee et al. 2022): per document, the fraction of its 8-token
    sliding windows that appear verbatim in >=2 documents. The third
    dedup axis alongside whole-doc similarity (Jaccard/MinHash/SimHash)
    and intra-doc repetition (`doc_repetition`): catches boilerplate,
    quotations and syndicated passages that neither of those sees. Scan-
    side window explode + two hash aggregations + a LEFT SEMI join
    against the shared-span set - no pairwise term at any corpus size.
    Spans travel as 60-bit md5-prefix digests (8 bytes), never raw
    strings — the shuffle-width fix for the heaviest r05 bench entry;
    both engines hash identically (see cross_doc_span_stats). The scan is
    widened (`spread_small_scan`) before the O(tokens) md5 window explode:
    the single-row-group fixture otherwise runs that whole map stage on
    one core (measured 6.2 s -> 1.3 s at sf0.1; a no-op on multi-split
    production scans)."""
    from ..sources.readers import spread_small_scan

    return dedup.cross_doc_span_stats(
        spread_small_scan(read_table(spark, sf_dir, "documents")), span=8, min_docs=2
    )


_TRIANGLE_ORACLE = """
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 1) + 1),
           i -> array_to_string(toks[i:i+2], ' '))) AS shingles
  FROM t
),
ex0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
rare AS (SELECT shingle FROM ex0 GROUP BY 1 HAVING COUNT(*) <= 50),
ex AS (
  SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY doc_id) AS cnt
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
  ) WHERE jaccard >= 0.2
),
tri AS (
  SELECT p1.doc_id_1 AS a, p1.doc_id_2 AS b, p2.doc_id_2 AS c
  FROM pairs p1
  JOIN pairs p2 ON p2.doc_id_1 = p1.doc_id_2
  JOIN pairs p3 ON p3.doc_id_1 = p1.doc_id_1 AND p3.doc_id_2 = p2.doc_id_2
),
member AS (
  SELECT a AS doc_id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS triangles
FROM member GROUP BY 1 ORDER BY 1
"""


@register("dup_triangles", _TRIANGLE_ORACLE)
def dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation counts on the near-dup graph — the classic
    distributed graph-analytics join (a dense triangle neighborhood
    means template/boilerplate families rather than chance pairs).

    Canonical-ordered edges (doc_id_1 < doc_id_2) make each triangle
    a < b < c appear EXACTLY once in the 3-way join — no /6 correction,
    no direction dedup. Scale shape: two shuffle joins keyed on node ids
    over the (tiny vs corpus) edge list; the edge list is materialized
    once (same localCheckpoint rationale as `dup_chain_stats` — it feeds
    three join branches)."""
    pairs = _ngram_pairs_shared(spark, sf_dir)
    e = pairs.select("doc_id_1", "doc_id_2").localCheckpoint(eager=True)
    return dedup.triangle_counts(e)


_EDIT_DIST_ORACLE = """
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 1) + 1),
           i -> array_to_string(toks[i:i+2], ' '))) AS shingles
  FROM t
),
ex0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
rare AS (SELECT shingle FROM ex0 GROUP BY 1 HAVING COUNT(*) <= 50),
ex AS (
  SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY doc_id) AS cnt
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
)
SELECT p.doc_id_1, p.doc_id_2,
       CAST(levenshtein(d1.text, d2.text) AS BIGINT) AS edit_distance,
       CAST(length(d1.text) AS BIGINT) AS len_1,
       CAST(length(d2.text) AS BIGINT) AS len_2
FROM pairs p
JOIN documents d1 ON d1.doc_id = p.doc_id_1
JOIN documents d2 ON d2.doc_id = p.doc_id_2
ORDER BY doc_id_1, doc_id_2
"""


@register("near_dup_edit_distances", _EDIT_DIST_ORACLE)
def near_dup_edit_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level verification tier for near-dup candidates: exact
    Levenshtein distance on each Jaccard ≥ 1/2 candidate pair (both
    engines implement the same integer DP, so the distances hash-match).

    Edit distance is O(len²) per pair — NEVER a first pass. Its place in
    the stack is exactly this shape: a shingle/LSH tier prunes the
    corpus² space to candidate pairs, then the quadratic verifier runs
    on those few (with texts joined in per pair). Spark 3.5+'s
    ``levenshtein(l, r, threshold)`` bounds the DP when only a cutoff is
    needed; the unbounded form here keeps the exact distances the oracle
    recomputes."""
    pairs = (
        _ngram_pairs_shared(spark, sf_dir)
        .where(F.col("jaccard") >= 0.5)
        .select("doc_id_1", "doc_id_2")
    )
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    d1 = docs.select(
        F.col("doc_id").alias("doc_id_1"), F.col("text").alias("_t1")
    )
    d2 = docs.select(
        F.col("doc_id").alias("doc_id_2"), F.col("text").alias("_t2")
    )
    return (
        pairs.join(d1, "doc_id_1")
        .join(d2, "doc_id_2")
        .select(
            "doc_id_1",
            "doc_id_2",
            F.levenshtein("_t1", "_t2").cast("long").alias("edit_distance"),
            F.length("_t1").cast("long").alias("len_1"),
            F.length("_t2").cast("long").alias("len_2"),
        )
        .orderBy("doc_id_1", "doc_id_2")
    )


_RAKE_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")

_RAKE_ORACLE = f"""
WITH lists AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
),
raw AS (
  SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS pos FROM lists
),
toks AS (
  SELECT doc_id, pos, l[pos] AS w,
         l[pos] IN {_RAKE_STOPWORDS} AS is_stop
  FROM raw
),
marked AS (
  SELECT doc_id, pos, w, is_stop,
         SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS phr_id
  FROM toks
),
words AS (
  SELECT doc_id, pos, w, phr_id FROM marked WHERE NOT is_stop
),
phrases AS (
  SELECT doc_id, phr_id,
         string_agg(w, ' ' ORDER BY pos) AS phrase,
         CAST(COUNT(*) AS BIGINT) AS n_words
  FROM words GROUP BY 1, 2
),
deg AS (
  SELECT w.doc_id, w.w,
         CAST(SUM(p.n_words) AS BIGINT) AS degree
  FROM words w
  JOIN phrases p ON p.doc_id = w.doc_id AND p.phr_id = w.phr_id
  GROUP BY 1, 2
),
scored AS (
  SELECT w.doc_id, w.phr_id,
         CAST(SUM(d.degree) AS BIGINT) AS score
  FROM words w
  JOIN deg d ON d.doc_id = w.doc_id AND d.w = w.w
  GROUP BY 1, 2
),
uniq AS (
  SELECT p.doc_id, p.phrase,
         MAX(s.score) AS score, MAX(p.n_words) AS n_words
  FROM phrases p
  JOIN scored s ON s.doc_id = p.doc_id AND s.phr_id = p.phr_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT doc_id, phrase, score, n_words,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, phrase) AS rk
  FROM uniq
)
SELECT doc_id, phrase, score, n_words, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= 3
ORDER BY doc_id, rk
"""


@register("rake_keyphrases", _RAKE_ORACLE)
def rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE-style keyphrase extraction (Rose et al. 2010), integer-scored:
    candidate phrases are maximal stopword-free token runs; each word's
    degree is the summed length of the phrases it occurs in (its
    co-occurrence mass); a phrase scores the sum of its words' degrees;
    top-3 phrases per document. The classic deg/freq ratio is replaced
    by the pure-degree integer variant so ranking and score are exact in
    both engines — no float ever enters.

    Scale shape: every window and join is keyed by doc_id (phrase
    segmentation is a per-doc cumulative count over positions — bounded
    by document length, co-partitioned with the token explode), so the
    whole pipeline shuffles on the document key and the per-doc top-3 is
    the WindowGroupLimit idiom. Corpus growth adds partitions, never
    per-task state."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w"),
    ).withColumn("is_stop", F.col("w").isin(*_RAKE_STOPWORDS))
    wmark = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    words = (
        toks.withColumn(
            "phr_id",
            F.sum(F.when(F.col("is_stop"), 1).otherwise(0)).over(wmark),
        )
        .where(~F.col("is_stop"))
        .select("doc_id", "pos", "w", "phr_id")
    )
    phrases = words.groupBy("doc_id", "phr_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
        ).alias("phrase"),
        F.count("*").alias("n_words"),
    )
    deg = (
        words.join(
            phrases.select("doc_id", "phr_id", "n_words"),
            ["doc_id", "phr_id"],
        )
        .groupBy("doc_id", "w")
        .agg(F.sum("n_words").alias("degree"))
    )
    scored = (
        words.join(deg, ["doc_id", "w"])
        .groupBy("doc_id", "phr_id")
        .agg(F.sum("degree").alias("score"))
    )
    uniq = (
        phrases.join(scored, ["doc_id", "phr_id"])
        .groupBy("doc_id", "phrase")
        .agg(F.max("score").alias("score"), F.max("n_words").alias("n_words"))
    )
    wrank = Window.partitionBy("doc_id").orderBy(F.desc("score"), "phrase")
    return (
        uniq.withColumn("rk", F.row_number().over(wrank))
        .where(F.col("rk") <= 3)
        .select(
            "doc_id",
            "phrase",
            "score",
            "n_words",
            F.col("rk").cast("int").alias("rk"),
        )
        .orderBy("doc_id", "rk")
    )


def _lsh_eval_oracle(
    num_hashes: int = 64, bands: int = 16, threshold: float = 0.2
) -> str:
    """Replays BOTH tiers — the df≤50-capped exact-Jaccard truth set and
    the MinHash banding candidate set — and scores their agreement."""
    from ..functions.hashing import MERSENNE_31, lane_constants

    rows_per_band = num_hashes // bands
    lane_rows = ",\n    ".join(
        f"({s}, {a}, {c})"
        for s, (a, c) in enumerate(lane_constants(num_hashes))
    )
    return f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 1) + 1),
           i -> array_to_string(toks[i:i+2], ' '))) AS shingles
  FROM t
),
ex0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
rare AS (SELECT shingle FROM ex0 GROUP BY 1 HAVING COUNT(*) <= 50),
exr AS (
  SELECT doc_id, shingle,
         COUNT(*) OVER (PARTITION BY doc_id) AS cnt
  FROM ex0 JOIN rare USING (shingle)
),
truth AS (
  SELECT doc_id_1, doc_id_2 FROM (
    SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / CAST(a.cnt + b.cnt - COUNT(*) AS DOUBLE), 6) AS jaccard
    FROM exr a
    JOIN exr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id, a.cnt, b.cnt
  ) WHERE jaccard >= {threshold}
),
bs AS (
  SELECT doc_id, shingle,
         CAST(('0x' || substr(md5(shingle), 1, 7)) AS BIGINT) AS base
  FROM ex0
),
lanes(s, a, c) AS (
  VALUES
    {lane_rows}
),
h AS (
  SELECT doc_id, l.s,
         MIN((bs.base * l.a + l.c) % {MERSENNE_31}) AS lane
  FROM bs CROSS JOIN lanes l
  GROUP BY doc_id, l.s
),
sig AS (SELECT doc_id, list(lane ORDER BY s) AS signature FROM h GROUP BY doc_id),
bnd AS (
  SELECT doc_id, r.bi,
         array_to_string(signature[r.bi*{rows_per_band}+1 : r.bi*{rows_per_band}+{rows_per_band}], ',') AS band_key
  FROM sig CROSS JOIN range({bands}) AS r(bi)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
  FROM bnd a JOIN bnd b
    ON a.bi = b.bi AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
tp AS (
  SELECT COUNT(*) AS tp FROM truth
  JOIN cand ON cand.doc_id_1 = truth.doc_id_1
           AND cand.doc_id_2 = truth.doc_id_2
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
       (SELECT CAST(tp AS BIGINT) FROM tp) AS true_positives,
       (SELECT CAST(tp AS BIGINT) FROM tp) * 1000000
         // NULLIF((SELECT CAST(COUNT(*) AS BIGINT) FROM cand), 0)
         AS precision_ppm,
       (SELECT CAST(tp AS BIGINT) FROM tp) * 1000000
         // NULLIF((SELECT CAST(COUNT(*) AS BIGINT) FROM truth), 0)
         AS recall_ppm
"""


@register("lsh_eval_report", _lsh_eval_oracle())
def lsh_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-tier quality report: precision and recall of the MinHash
    LSH banding stage against the exact-Jaccard truth set (df ≤ 50
    universe, threshold 0.2) — the measurement that justifies the
    banding parameters (16 bands × 4 rows ⇒ s-curve midpoint ≈ 0.5) or
    tells you to retune them before a 100 TB run. Candidate precision is
    EXPECTED to be low (banding trades precision for recall; the exact
    verification stage restores it) — recall is the number that must
    stay high, and this query pins both as exact integer ppm.

    Both tiers reuse the shared shingle scan; the agreement join runs on
    pair keys. This evaluates the same code paths minhash_near_dupes and
    ngram_jaccard_pairs execute — no re-implementation drift."""
    sets_df = _shingle_sets_shared(spark, sf_dir, 3)
    truth = _ngram_pairs_shared(spark, sf_dir, sets_df).select(
        "doc_id_1", "doc_id_2"
    )
    cand = _minhash_candidates_shared(spark, sf_dir, sets_df).select(
        "doc_id_1", "doc_id_2"
    )
    tp = truth.join(cand, ["doc_id_1", "doc_id_2"], "left_semi")
    w = (
        truth.agg(F.count("*").alias("n_truth"))
        .crossJoin(cand.agg(F.count("*").alias("n_candidates")))
        .crossJoin(tp.agg(F.count("*").alias("true_positives")))
    )
    return w.select(
        "n_truth",
        "n_candidates",
        "true_positives",
        F.expr(
            "true_positives * 1000000 div NULLIF(n_candidates, 0)"
        ).alias("precision_ppm"),
        F.expr("true_positives * 1000000 div NULLIF(n_truth, 0)").alias(
            "recall_ppm"
        ),
    )
