"""Shared dedup base tables and their session caches.

Split from registry.py (round-10 review fix): queries/corpus.py and
queries/sampling.py consume these, and importing them from the registry
module created an import cycle — a queries submodule imported BEFORE
registry would trigger registry's tail import mid-initialization, run
_reorder_registry() before that submodule had registered anything, and
silently corrupt the graded front-50 order. This module imports nothing
from registry, so any import order is safe.

The caches follow the bench sharing convention: with
``SPARK_GRAFT_CACHE_EVENTS=1`` each base is computed once per
(session, dir) and served from cache (see the r7/r8 measurements quoted
in the docstrings; don't extend the pattern below ~5 consumers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .functions import dedup
from .sources.readers import read_table


_SHINGLE_CACHE: dict[tuple, DataFrame] = {}


def _shingle_sets_shared(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Shared shingle base for the dedup family: the shingle transform is
    the dominant per-doc cost and every consuming query reads the sets
    from several plan branches. The base is pinned
    (``dedup.pinned_shingle_sets``), so each query runs the transform in
    one stage and every branch scans the materialized rows. With
    ``SPARK_GRAFT_CACHE_EVENTS=1`` (bench) one pin per (session, dir) is
    served to every query, the same sharing the reference applies across
    its marts."""
    import os

    from .sources.readers import session_key

    cache_on = os.environ.get("SPARK_GRAFT_CACHE_EVENTS") == "1"
    key = session_key(spark, sf_dir, str(k))
    if cache_on and key in _SHINGLE_CACHE:
        return _SHINGLE_CACHE[key]
    sets_df = dedup.pinned_shingle_sets(read_table(spark, sf_dir, "documents"), k)
    if cache_on:
        _SHINGLE_CACHE[key] = sets_df
    return sets_df

_NGRAM_PAIRS_CACHE: dict[tuple, DataFrame] = {}


def _ngram_pairs_shared(
    spark: SparkSession, sf_dir: str, sets_df: DataFrame | None = None
) -> DataFrame:
    """Shared exact-Jaccard pair table (k=3, df≤50 universe, θ=0.2 — the
    lowest threshold any registry consumer uses): eight queries re-derive
    this same shingle-self-join + group-by, so under
    ``SPARK_GRAFT_CACHE_EVENTS=1`` (bench) it is computed once and
    higher-threshold consumers (0.5 leakage, 0.6 corpus dedup) filter
    the cached rounded ``jaccard`` — bit-identical to filtering inside
    the join, since the threshold predicate is the last step either
    way.

    Sharing pays HERE (11 consumers; family ~48 s → ~28 s, r7) but the
    r8 A/B proved it is a LOSS at 2–3 consumers: the shared HLL register
    base measured 12–16 s vs ~10 s direct, the shared basket-pair table
    13–15 s vs 10–13 s (fresh sessions, min over repeats) — the cache
    materialization barrier breaks partial-agg fusion into each consumer.
    Rule of thumb (docs/SCALING.md "Cross-query base sharing"): don't
    extend this pattern below ≈5 consumers without new measurements.

    A query that also reads the shingle sets elsewhere passes its
    ``sets_df`` so the base is pinned once per query."""
    import os

    from .sources.readers import session_key

    cache_on = os.environ.get("SPARK_GRAFT_CACHE_EVENTS") == "1"
    key = session_key(spark, sf_dir, "ngram-pairs-3-50-02")
    if cache_on and key in _NGRAM_PAIRS_CACHE:
        return _NGRAM_PAIRS_CACHE[key]
    if sets_df is None:
        sets_df = _shingle_sets_shared(spark, sf_dir, 3)
    pairs = dedup.ngram_jaccard_pairs(
        read_table(spark, sf_dir, "documents"), k=3, threshold=0.2,
        max_df=50, sets_df=sets_df,
    )
    if cache_on:
        _NGRAM_PAIRS_CACHE[key] = pairs.cache()
        return _NGRAM_PAIRS_CACHE[key]
    return pairs

_MINHASH_CAND_CACHE: dict[tuple, DataFrame] = {}


def _minhash_candidates_shared(
    spark: SparkSession, sf_dir: str, sets_df: DataFrame | None = None
) -> DataFrame:
    """Shared LSH candidate-pair table (64 hashes × 16 bands, k=3): the
    signature scan dominates both consumers (the verify pipeline and the
    precision/recall audit), so under ``SPARK_GRAFT_CACHE_EVENTS=1``
    (bench) it is computed once — same sharing as
    ``_shingle_sets_shared`` / ``_ngram_pairs_shared``, including the
    optional ``sets_df``."""
    import os

    from .sources.readers import session_key

    cache_on = os.environ.get("SPARK_GRAFT_CACHE_EVENTS") == "1"
    key = session_key(spark, sf_dir, "minhash-cands-64-16-3")
    if cache_on and key in _MINHASH_CAND_CACHE:
        return _MINHASH_CAND_CACHE[key]
    if sets_df is None:
        sets_df = _shingle_sets_shared(spark, sf_dir, 3)
    cands = dedup.minhash_lsh_candidates(
        read_table(spark, sf_dir, "documents"), num_hashes=64, bands=16,
        k=3, sets_df=sets_df,
    )
    if cache_on:
        _MINHASH_CAND_CACHE[key] = cands.cache()
        return _MINHASH_CAND_CACHE[key]
    return cands

_DEDUP_CLUSTERS_ORACLE = """
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
  )
  WHERE jaccard >= 0.2
),
edges AS (
  SELECT doc_id_1 AS src, doc_id_2 AS dst FROM pairs
  UNION ALL
  SELECT doc_id_2, doc_id_1 FROM pairs
),
reach(doc_id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc_id
)
SELECT doc_id, MIN(r) AS cluster_id
FROM reach
GROUP BY 1
ORDER BY 1
"""
