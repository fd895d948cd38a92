"""Similarity search over embedding columns (array<float>).

Two tiers, as a production ANN stack would ship:

- **brute force**: exact cosine top-k. Per-row cost is a 64-wide fused
  fold (zip_with + aggregate, JVM-side); the top-k is
  TakeOrderedAndProject (per-partition heap, driver merges k rows). Exact,
  embarrassingly parallel, the right baseline and the verifier for the
  approximate tier.
- **LSH (random hyperplanes)**: each vector hashes to a b-bit signature by
  the sign of dot(v, h_i) against deterministic pseudo-random hyperplanes
  (seeded from xxhash64 — no runtime RNG, stable across executors).
  Candidates = vectors sharing a signature with the query in ≥1 of several
  hash tables; exact cosine is computed only within candidates. At 100 TB
  the bucket join replaces the full scan per query.

Embeddings are cast to array<double> before arithmetic so results are
bit-comparable with double-based engines and not float32-accumulation
dependent.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _as_double(col) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: F.Column) -> F.Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine_sim(a: F.Column, b: F.Column, decimals: int | None = 6) -> F.Column:
    cos = _dot(a, b) / (_norm(a) * _norm(b))
    return F.round(cos, decimals) if decimals is not None else cos


def _require_single_query(query: DataFrame) -> DataFrame:
    """Enforce the single-query-row contract loudly.

    The ADC operators key their lookup table by (subvector, code) alone:
    with two query rows the LUT holds duplicate keys and the per-vector
    join/sum silently mixes distances across queries — garbage, not an
    error. The ``limit(2)`` stops the scan at the second row (no full
    pass); the returned 1-row literal frame keeps every downstream
    crossJoin/broadcast trivially correct.
    """
    rows = query.select(_as_double("embedding").alias("emb")).limit(2).collect()
    if len(rows) != 1:
        raise ValueError(
            "expected exactly one query row, got "
            + (">=2" if len(rows) > 1 else "0")
        )
    return query.sparkSession.createDataFrame(
        [(rows[0]["emb"],)], "embedding array<double>"
    )


def brute_force_topk(
    embeddings: DataFrame, query: DataFrame, k: int = 10
) -> DataFrame:
    """Exact cosine top-k of ``embeddings`` against a single query row.

    The 1-row query side is broadcast; the scan side never shuffles — the
    only exchange is the k-row TakeOrderedAndProject merge.
    """
    q = F.broadcast(query.select(_as_double("embedding").alias("query_emb")))
    e = embeddings.select("vec_id", "label", _as_double("embedding").alias("emb"))
    return (
        e.crossJoin(q)
        .select(
            "vec_id",
            "label",
            cosine_sim(F.col("emb"), F.col("query_emb")).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), "vec_id")
        .limit(k)
    )


def hyperplanes(dim: int = 64, bits: int = 16, table: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from the shared splitmix
    mixer (functions/hashing.py) — reproducible across runs/executors
    with no RNG state, and one definition for all committed-literal
    oracles."""
    from .hashing import _splitmix as mix

    planes = []
    for b in range(bits):
        row = []
        for d in range(dim):
            h = mix(((table << 40) | (b << 20) | d) + 0x9E3779B97F4A7C15)
            row.append((h % 2_000_001) / 1_000_000.0 - 1.0)  # uniform [-1, 1]
        planes.append(row)
    return planes


def lsh_signatures(
    embeddings: DataFrame, dim: int = 64, bits: int = 16, tables: int = 4
) -> DataFrame:
    """Add ``(table_id, signature)`` rows per vector: sign-of-dot-product
    against each table's hyperplanes, packed into a long.

    Computed as ONE Arrow-vectorized Pandas UDF doing a single
    (batch × dim) @ (dim × tables·bits) matmul — the declarative
    alternative (tables·bits literal hyperplane arrays folded element-wise)
    generates thousands of expression nodes and is ~20× slower; this is
    the textbook case for dropping to a vectorized UDF. Output is one row
    per (vector, table): a projection + explode, no shuffle.
    """
    from pyspark.sql.types import ArrayType, LongType

    planes = np.vstack([hyperplanes(dim, bits, t) for t in range(tables)])  # (T·B, dim)
    weights = (2.0 ** np.arange(bits)).astype(np.float64)  # bit-packing per table

    @F.pandas_udf(ArrayType(LongType()))
    def signatures(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:  # empty Arrow batch: vstack of nothing raises
            return pd.Series([], dtype="object")
        mat = np.vstack(emb.to_numpy())  # (n, dim) float32 → float64 matmul
        signs = (mat.astype(np.float64) @ planes.T) > 0  # (n, T·B)
        per_table = signs.reshape(len(mat), tables, bits)  # (n, T, B)
        packed = (per_table * weights).sum(axis=2).astype(np.int64)  # (n, T)
        return pd.Series(list(packed))

    sigs = embeddings.withColumn("_sigs", signatures(F.col("embedding")))
    return sigs.select(
        "vec_id",
        "label",
        "embedding",
        F.posexplode("_sigs").alias("table_id", "signature"),
    )


def ann_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    dim: int = 64,
    bits: int = 12,
    tables: int = 6,
) -> DataFrame:
    """Approximate top-k: LSH-bucket candidates (any table, same signature
    as the query), then exact cosine within candidates only.

    Recall is tunable via (bits, tables); verify against
    ``brute_force_topk`` in tests. The candidate join is keyed on
    (table_id, signature) — at scale this is a bucket lookup, not a scan.
    """
    sigs = lsh_signatures(embeddings, dim, bits, tables)
    qsigs = F.broadcast(
        lsh_signatures(query, dim, bits, tables).select("table_id", "signature")
    )
    candidates = (
        sigs.join(qsigs, ["table_id", "signature"], "left_semi")
        .select("vec_id", "label", "embedding")
        .distinct()
    )
    return brute_force_topk(candidates, query, k)


def _exact_pair_cosine(
    embeddings: DataFrame,
    candidates: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact cosine for a (small) candidate pair set: broadcast the pairs,
    join the vectors back in, and compute the similarity as the SAME
    sequential zip_with/aggregate fold the rest of this module uses — the
    fold order is deterministic, so results are bit-identical to any
    engine that folds the list in order (this is what keeps the DuckDB
    oracle exact; a BLAS dot would differ in the last bits)."""
    e1 = embeddings.select(
        F.col("vec_id").alias("vec_id_1"), _as_double("embedding").alias("_e1")
    )
    e2 = embeddings.select(
        F.col("vec_id").alias("vec_id_2"), _as_double("embedding").alias("_e2")
    )
    joined = F.broadcast(candidates).join(e1, "vec_id_1").join(e2, "vec_id_2")
    cos_raw = cosine_sim(F.col("_e1"), F.col("_e2"), decimals=None)
    return (
        joined.withColumn("_cos", cos_raw)
        .where(F.col("_cos") >= F.lit(threshold))
        .withColumn("cosine_sim", F.round(F.col("_cos"), 6))
        .drop("_e1", "_e2", "_cos")
    )


def blocked_cosine_pairs(
    embeddings: DataFrame,
    block_col: str = "label",
    threshold: float = 0.35,
    margin: float = 1e-6,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact within metadata blocks.

    Two stages, the standard shape for exact similarity join at scale:

    1. **Block GEMM prefilter**: one ``applyInPandas`` per block computes
       the block's full cosine matrix as a single normalized matmul (BLAS)
       and emits only pairs with approx cosine ≥ threshold − margin. Cost
       is O(|block|²·d) FLOPS but zero Python-loop overhead, and only
       qualifying pairs leave the executor.
    2. **Exact rerank**: the surviving pairs (tiny) are re-scored with the
       sequential fold so the final values and the ≥ threshold cut are
       bit-deterministic (margin 1e-6 ≫ the ~1e-14 summation-order noise,
       so stage 1 can never drop a truly qualifying pair).

    At 100 TB, blocks are whatever partitioning the corpus already has
    (source, shard, language, IVF cell); a block too big for one task gets
    sub-blocked by an IVF assignment first. This mirrors the shingle-df
    cap in the Jaccard path: bounded block size ⇒ bounded task cost, no
    corpus² anywhere."""
    spark_schema = "vec_id_1 long, vec_id_2 long"

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"vec_id_1": [], "vec_id_2": []})
        mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True) + 1e-12
        sims = mat @ mat.T
        iu = np.triu_indices(n, k=1)
        keep = sims[iu] >= (threshold - margin)
        ids = pdf["vec_id"].to_numpy()
        return pd.DataFrame(
            {"vec_id_1": ids[iu[0][keep]], "vec_id_2": ids[iu[1][keep]]}
        )

    cands = embeddings.groupBy(block_col).applyInPandas(block_pairs, spark_schema)
    blocks = embeddings.select(
        F.col("vec_id").alias("vec_id_1"), F.col(block_col).alias(block_col)
    )
    out = _exact_pair_cosine(embeddings, cands, threshold).join(
        F.broadcast(blocks), "vec_id_1"
    )
    return out.select(
        "vec_id_1", "vec_id_2", block_col, "cosine_sim"
    ).orderBy("vec_id_1", "vec_id_2")


def contrastive_shortlist(
    embeddings: DataFrame,
    block_col: str = "label",
    threshold: float = 0.35,
    per_role: int = 4,
    margin: float = 1e-6,
) -> DataFrame:
    """Per-anchor candidate shortlist for contrastive-pair mining: one
    GEMM per block ranks every anchor's partners by approximate cosine
    and keeps the top ``per_role`` candidates ON EACH SIDE of the
    positive threshold (±margin, so a boundary pair appears in both
    role pools and the exact rerank decides). The downstream exact fold
    then scores ≤ 2·per_role pairs per anchor instead of the whole
    block — the same GEMM-prefilter + exact-rerank contract as
    blocked_cosine_pairs, extended from a threshold cut to a ranking:
    per_role > needed-k absorbs any approx-vs-fold reorder among
    near-equal cosines (ranking uses values rounded to 1e-6; the BLAS
    noise is ~1e-14).

    Returns (anchor_id, partner_id) candidate pairs, directed."""
    spark_schema = "anchor_id long, partner_id long"

    def block_shortlist(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"anchor_id": [], "partner_id": []})
        mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True) + 1e-12
        sims = mat @ mat.T
        ids = pdf["vec_id"].to_numpy()
        anchors, partners = [], []
        for i in range(n):
            row = sims[i].copy()
            row[i] = np.nan  # exclude self from both pools
            for lo, hi in (
                (threshold - margin, np.inf),  # positive candidates
                (-np.inf, threshold + margin),  # negative candidates
            ):
                pool = np.where((row >= lo) & (row < hi))[0]
                if len(pool) == 0:
                    continue
                # top per_role by (cosine desc, partner id asc)
                order = np.lexsort((ids[pool], -row[pool]))[:per_role]
                for j in pool[order]:
                    anchors.append(ids[i])
                    partners.append(ids[j])
        return pd.DataFrame({"anchor_id": anchors, "partner_id": partners})

    return (
        embeddings.select("vec_id", block_col, "embedding")
        .groupBy(block_col)
        .applyInPandas(block_shortlist, spark_schema)
        .dropDuplicates(["anchor_id", "partner_id"])
    )


def lsh_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.3,
    dim: int = 64,
    bits: int = 12,
    tables: int = 6,
) -> DataFrame:
    """Full-corpus embedding near-dup via random-hyperplane LSH: candidate
    pairs share a signature in ≥1 table (bucket self-join — corpus² never
    materializes), then exact cosine verification of the candidates only.
    Approximate-recall by construction (tunable via bits/tables), so this
    is the cross-block scale path; the blocked variant is the exact one."""
    sigs = lsh_signatures(embeddings, dim, bits, tables)
    a = sigs.select(F.col("vec_id").alias("vec_id_1"), "table_id", "signature")
    b = sigs.select(F.col("vec_id").alias("vec_id_2"), "table_id", "signature")
    # shuffle_hash self-join: both sides are the same pandas_udf signature
    # subtree — broadcasting one side would run the matmul twice
    cands = (
        a.join(b.hint("shuffle_hash"), ["table_id", "signature"])
        .where(F.col("vec_id_1") < F.col("vec_id_2"))
        .select("vec_id_1", "vec_id_2")
        .distinct()
    )
    return _exact_pair_cosine(embeddings, cands, threshold).select(
        "vec_id_1", "vec_id_2", "cosine_sim"
    ).orderBy("vec_id_1", "vec_id_2")


def _nearest_udf(cents: np.ndarray):
    """Vectorized nearest-centroid assignment against a broadcast-closure
    centroid matrix (rows must be L2-normalized)."""
    from pyspark.sql.types import IntegerType

    @F.pandas_udf(IntegerType())
    def nearest(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:  # empty Arrow batch: vstack of nothing raises
            return pd.Series([], dtype="int32")
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True) + 1e-12
        return pd.Series(np.argmax(mat @ cents.T, axis=1).astype(np.int32))

    return nearest


def _lloyd_partials(embeddings: DataFrame, cents: np.ndarray) -> DataFrame:
    """One Lloyd iteration's sufficient statistics as a single NARROW
    pass: nearest-centroid assignment and the per-cluster (Σvec, count)
    partials are fused into one ``mapInPandas`` stage, so an iteration
    is one job with no shuffle and no per-dimension row explosion — each
    task emits at most K rows of (centroid_id, dim-vector sum, count)
    and the driver folds the ≤ tasks × K partials (guide §5: bounded
    collect volume; §2.3: ship sufficient statistics, not rows).

    ``np.add.at`` accumulates in row order within each batch, matching
    the row-order partial aggregation of the previous posexplode →
    groupBy formulation — on a single-split scan the sums are
    bit-identical to it, and across tasks the driver folds partials in
    collect (partition) order. The sums are therefore deterministic only
    for a fixed input layout whose per-partition row order is also
    deterministic: a shuffle-fed ``embeddings`` frame can reorder rows
    within a partition from run to run, and the float sums can then
    differ at the ulp level (the same exposure as the old shuffle-merge
    sum)."""
    k, dim = cents.shape

    def partials(pdfs):
        sums = np.zeros((k, dim), dtype=np.float64)
        counts = np.zeros(k, dtype=np.int64)
        seen = False
        for pdf in pdfs:
            if not len(pdf):
                continue
            seen = True
            mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            normed = mat / (np.linalg.norm(mat, axis=1, keepdims=True) + 1e-12)
            assign = np.argmax(normed @ cents.T, axis=1)
            counts += np.bincount(assign, minlength=k)
            np.add.at(sums, assign, mat)
        if seen:
            yield pd.DataFrame(
                {"centroid_id": np.arange(k), "s": list(sums), "n": counts}
            )

    return embeddings.select(_as_double("embedding").alias("embedding")).mapInPandas(
        partials, "centroid_id int, s array<double>, n long"
    )


def kmeans_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 4,
    seed: int = 42,
) -> np.ndarray:
    """Spherical k-means centroids via distributed Lloyd iterations.

    - **Init**: the ``n_centroids`` vectors ranked first by
      ``xxhash64(vec_id, seed)`` — a deterministic pseudo-random sample
      (TakeOrderedAndProject + bounded collect), unbiased unlike first-N
      by vec_id on clustered/sorted corpora.
    - **Iterate**: assignment and the per-cluster (Σvec, count) update
      are ONE fused narrow pass per iteration (:func:`_lloyd_partials`)
      — one job, no shuffle, only ≤ tasks × K sufficient-statistic rows
      ever reach the driver, never the vectors themselves. (Previously
      each iteration ran an assignment UDF projection plus a
      posexplode → groupBy(centroid, dim) aggregate — a K·dim-row
      shuffle and several AQE-materialized stages per iteration.)
    - Empty clusters keep their previous centroid.

    At 100 TB run this on a deterministic sample (filter on
    ``xxhash64(vec_id, seed) % N``) — centroid quality needs only ~1k
    points per cluster, and the assignment pass stays full-corpus.
    """
    init_rows = (
        embeddings.select("vec_id", "embedding")
        .orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed)), "vec_id")
        .limit(n_centroids)
        .collect()
    )
    cents = np.vstack([np.asarray(r["embedding"], dtype=np.float64) for r in init_rows])
    cents /= np.linalg.norm(cents, axis=1, keepdims=True) + 1e-12

    for _ in range(iters):
        partial_rows = _lloyd_partials(embeddings, cents).collect()
        new = cents.copy()
        sums = np.zeros_like(cents)
        counts = np.zeros(len(cents), dtype=np.int64)
        for r in partial_rows:
            sums[r["centroid_id"]] += np.asarray(r["s"], dtype=np.float64)
            counts[r["centroid_id"]] += r["n"]
        nonempty = counts > 0
        new[nonempty] = sums[nonempty] / counts[nonempty, None]
        new /= np.linalg.norm(new, axis=1, keepdims=True) + 1e-12
        cents = new
    return cents


def ivf_assign(
    embeddings: DataFrame,
    n_centroids: int = 16,
    centroid_source: DataFrame | None = None,
    kmeans_iters: int = 4,
) -> tuple[DataFrame, np.ndarray]:
    """IVF coarse quantization: assign every vector to its nearest centroid
    (one vectorized matmul per Arrow batch). Centroids come from seeded
    spherical k-means (``kmeans_iters`` Lloyd rounds over a deterministic
    init); ``kmeans_iters=0`` degrades to the raw seeded sample — still
    unbiased, just unrefined."""
    src = centroid_source if centroid_source is not None else embeddings
    cents = kmeans_centroids(src, n_centroids, iters=kmeans_iters)
    return (
        embeddings.withColumn("centroid_id", _nearest_udf(cents)(F.col("embedding"))),
        cents,
    )


def ivf_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 4,
) -> DataFrame:
    """IVF search: probe the ``n_probe`` clusters nearest the query, exact
    cosine rerank within them. At scale the k-means fit and assignment are
    precomputed and the probe is a partition-pruned read of
    ~n_probe/n_centroids of the data instead of a full scan."""
    assigned, cents = ivf_assign(embeddings, n_centroids, kmeans_iters=kmeans_iters)
    query = _require_single_query(query)
    q = np.asarray(
        query.select("embedding").collect()[0]["embedding"], dtype=np.float64
    )
    qn = q / (np.linalg.norm(q) + 1e-12)
    probes = np.argsort(-(cents @ qn))[:n_probe].tolist()
    candidates = assigned.where(F.col("centroid_id").isin(probes)).drop("centroid_id")
    return brute_force_topk(candidates, query, k)


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Per-vector affine int8 quantization — the storage/transport format
    embedding stores actually hold (4× smaller than float32, and SIMD
    int8 dot products for the coarse search pass).

    q[i] = round((x[i] − vmin) / scale) − 128 with scale = (vmax − vmin)/255
    — all built-in array expressions, one row-local projection, no shuffle.
    Every step is IEEE-deterministic on the float32-exact inputs, so the
    quantized codes are bit-identical across engines (oracle-checked).
    ``q_sum`` is the exact integer checksum of the codes.

    Note: vmin/vmax/scale are inlined into the per-element lambda by
    CollapseProject (higher-order functions get no codegen CSE — see
    functions/dedup.py), making the projection O(d²) per row. At d=64 that
    is 4k flops/row — far below a materialization barrier's shuffle cost.
    For d ≳ 1k, add the repartition barrier the MinHash path uses.
    """
    e = _as_double("embedding")
    vmin = F.array_min(e)
    vmax = F.array_max(e)
    scale = F.nullif((vmax - vmin) / F.lit(255.0), F.lit(0.0))
    q = F.transform(
        e,
        lambda x: (
            F.coalesce(F.round((x - vmin) / scale), F.lit(0.0)).cast("int")
            - F.lit(128)
        ),
    )
    return embeddings.select(
        "vec_id",
        vmin.alias("vmin"),
        vmax.alias("vmax"),
        q.alias("q_codes"),
        F.aggregate(q, F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "q_sum"
        ),
    ).orderBy("vec_id")


def static_centroid_assign(embeddings: DataFrame) -> DataFrame:
    """Deterministic nearest-centroid assignment against the committed
    static quantizer (functions/ivf_centroids.py): sequential-fold cosine
    against 16 literal centroids, argmax with centroid-id tie-break — the
    fully declarative (and therefore oracle-replayable) twin of
    ``_nearest_udf``'s numpy matmul; tests pin that both agree. Returns
    (vec_id, label, emb, centroid_id)."""
    from pyspark.sql import Window

    from .ivf_centroids import CENTROIDS

    spark = embeddings.sparkSession
    cents = spark.createDataFrame(
        [(i, list(c)) for i, c in enumerate(CENTROIDS)],
        "centroid_id int, cvec array<double>",
    )
    e = embeddings.select("vec_id", "label", _as_double("embedding").alias("emb"))
    cos = _dot(F.col("emb"), F.col("cvec")) / (
        _norm(F.col("emb")) * _norm(F.col("cvec"))
    )
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id", "label", "emb", "centroid_id", cos.alias("_cos")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("_cos"), "centroid_id")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("vec_id", "label", "emb", "centroid_id")
    )


def ivf_topk_static(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """IVF search against the OFFLINE-trained static centroids
    (`functions/ivf_centroids.py`, committed literals) — the production
    serving shape: train the coarse quantizer once on a sample, pin it,
    and every query probes `n_probe`/16 of the corpus.

    Unlike :func:`ivf_topk` (whose k-means refit makes an exact oracle
    unsound), every step here is deterministic: assignment is the argmax
    of sequential-fold cosines against 16 literal centroids (tie-break by
    centroid id), the probe set is the query's top-`n_probe` centroids,
    the rerank is the exact-cosine idiom. The SQL oracle replays all of it
    from the same literals, so the graded row checks assignment + probing
    + rerank + ordering.

    Scale shape: the 16-row centroid table broadcast-joins the corpus
    (16× row expansion before the per-vector argmax reduces it back — a
    constant factor, shuffle on vec_id only); at 100 TB the assignment is
    precomputed at write time and the probe becomes a partition-pruned
    read of the `centroid_id=…` directories.
    """
    from .ivf_centroids import CENTROIDS

    spark = embeddings.sparkSession
    cents = spark.createDataFrame(
        [(i, list(c)) for i, c in enumerate(CENTROIDS)],
        "centroid_id int, cvec array<double>",
    )
    assigned = static_centroid_assign(embeddings)
    qcos = _dot(F.col("emb"), F.col("cvec")) / (
        _norm(F.col("emb")) * _norm(F.col("cvec"))
    )
    probes = [
        r["centroid_id"]
        for r in query.select(_as_double("embedding").alias("emb"))
        .crossJoin(F.broadcast(cents))
        .select("centroid_id", qcos.alias("_cos"))
        .orderBy(F.desc("_cos"), "centroid_id")
        .limit(n_probe)
        .collect()
    ]
    q = query.select(_as_double("embedding").alias("qemb"))
    cand = assigned.where(F.col("centroid_id").isin(probes))
    sim = _dot(F.col("emb"), F.col("qemb")) / (
        _norm(F.col("emb")) * _norm(F.col("qemb"))
    )
    return (
        cand.crossJoin(F.broadcast(q))
        .select("vec_id", "label", F.round(sim, 6).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), "vec_id")
        .limit(k)
    )


def pq_encode_static(embeddings: DataFrame) -> DataFrame:
    """Product quantization (Jégou et al. 2011) against the OFFLINE-trained
    static codebooks (``functions/pq_codebooks.py``): the 64-dim vector
    splits into M=8 contiguous 8-dim subvectors, each encoded as the
    argmax of ⟨sub, c⟩ − ‖c‖²/2 over its K=8 codebook entries (argmin
    squared-L2 in expanded form — the per-subvector ‖sub‖² is constant
    and drops out). Emits per vector the code string and the exact
    reconstruction error.

    Determinism contract: every dot/error is a SEQUENTIAL left fold over
    dims (``F.aggregate`` with 0.0 init), half-norms are Python-computed
    literals shared with the SQL oracle verbatim, and argmax ties break
    on code id — so a DuckDB replay is bit-for-bit.

    Scale shape: one broadcast of 64 codebook rows, scan-side scoring
    (64 score rows per vector), one window argmax per (vec, subvector),
    one per-vec aggregation. At 100 TB codes are 8 small ints per vector
    — the 64× compression that makes billion-vector ANN RAM-resident;
    IVF partitioning (``ivf_topk_static``) composes in front of it.
    """
    from pyspark.sql import Window

    from .pq_codebooks import CODEBOOKS, M, SUB_DIM

    spark = embeddings.sparkSession
    rows = []
    for m in range(M):
        for k, cvec in enumerate(CODEBOOKS[m]):
            hn = 0.0
            for v in cvec:  # sequential Python fold → one shared literal
                hn += v * v
            rows.append((m, k, list(cvec), hn / 2.0))
    cb = spark.createDataFrame(
        rows, "m int, code int, cvec array<double>, hn double"
    )
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    sub = F.slice(F.col("emb"), F.col("m") * SUB_DIM + 1, SUB_DIM)
    dot = F.aggregate(
        F.zip_with(sub, F.col("cvec"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    se = F.aggregate(
        F.zip_with(sub, F.col("cvec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = e.crossJoin(F.broadcast(cb)).select(
        "vec_id",
        "m",
        "code",
        (dot - F.col("hn")).alias("_score"),
        se.alias("_se"),
    )
    w = Window.partitionBy("vec_id", "m").orderBy(F.desc("_score"), "code")
    best = scored.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    per_vec = best.groupBy("vec_id").agg(
        F.sort_array(F.collect_list(F.struct("m", "code"))).alias("_codes"),
        F.sort_array(F.collect_list(F.struct("m", "_se"))).alias("_ses"),
    )
    recon_err = F.aggregate(
        F.transform(F.col("_ses"), lambda s: s["_se"]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return per_vec.select(
        "vec_id",
        F.array_join(
            F.transform(F.col("_codes"), lambda s: s["code"].cast("string")), ","
        ).alias("pq_codes"),
        F.round(recon_err, 6).alias("recon_err"),
    ).orderBy("vec_id")


def pq_adc_topk(
    embeddings: DataFrame, query: DataFrame, k: int = 10
) -> DataFrame:
    """PQ search via Asymmetric Distance Computation: the query stays
    UN-quantized — its squared distance to every (subvector, code)
    codebook entry forms a 64-entry lookup table, and each database
    vector's approximate distance is just the sum of its 8 code lookups.
    That sum never touches the vectors: at 100 TB the scan reads 8 small
    ints per row against a broadcast 64-row table — the read-volume win
    that makes PQ the billion-scale ANN workhorse (IVF composes in front
    to prune which rows are scanned at all).

    Same determinism contract as ``pq_encode_static``: sequential folds,
    shared literals, id tie-breaks — the oracle replays table build,
    encoding, and ranking exactly.
    """
    from pyspark.sql import Window

    from .pq_codebooks import CODEBOOKS, M, SUB_DIM

    spark = embeddings.sparkSession
    query = _require_single_query(query)
    rows = []
    for m in range(M):
        for kk, cvec in enumerate(CODEBOOKS[m]):
            hn = 0.0
            for v in cvec:
                hn += v * v
            rows.append((m, kk, list(cvec), hn / 2.0))
    cb = spark.createDataFrame(
        rows, "m int, code int, cvec array<double>, hn double"
    )
    sub = F.slice(F.col("emb"), F.col("m") * SUB_DIM + 1, SUB_DIM)
    dot = F.aggregate(
        F.zip_with(sub, F.col("cvec"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    se = F.aggregate(
        F.zip_with(sub, F.col("cvec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    e = embeddings.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    scored = e.crossJoin(F.broadcast(cb)).select(
        "vec_id", "m", "code", (dot - F.col("hn")).alias("_score")
    )
    w = Window.partitionBy("vec_id", "m").orderBy(F.desc("_score"), "code")
    codes = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("vec_id", "m", "code")
    )

    q = query.select(F.col("embedding").cast("array<double>").alias("emb"))
    lut = (
        q.crossJoin(F.broadcast(cb))
        .select("m", "code", se.alias("qse"))
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .groupBy("vec_id")
        .agg(F.sort_array(F.collect_list(F.struct("m", "qse"))).alias("_t"))
        .select(
            "vec_id",
            F.aggregate(
                F.transform(F.col("_t"), lambda s: s["qse"]),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("_adc"),
        )
    )
    # rank on the RAW distance (both engines share its exact bits); round
    # only the emitted column — ranking on a rounded value could reorder
    # round-boundary ties differently than the oracle
    return (
        adc.join(e.select("vec_id", "label"), "vec_id")
        .orderBy("_adc", "vec_id")
        .limit(k)
        .select("vec_id", "label", F.round("_adc", 6).alias("adc_dist"))
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    shortlist: int = 50,
) -> DataFrame:
    """The full production ANN serving stack in one plan (the FAISS
    IVFPQ shape): static IVF probe prunes the scan to n_probe/16 of the
    corpus → PQ asymmetric distance ranks the probed cells from code ids
    alone → exact cosine reranks only the `shortlist` survivors. Each
    tier trades recall for a scan-volume order of magnitude; each tier
    is individually oracled elsewhere (`ivf_topk_static`,
    `pq_adc_topk`, `embedding_topk`) and the composition is oracled
    end-to-end here.

    Determinism: the same sequential folds, shared literals and id
    tie-breaks as the component operators; shortlist membership ranks on
    RAW ADC, the final order on RAW cosine; only emitted columns round.
    """
    from pyspark.sql import Window

    from .ivf_centroids import CENTROIDS
    from .pq_codebooks import CODEBOOKS, M, SUB_DIM

    spark = embeddings.sparkSession
    query = _require_single_query(query)

    # ---- tier 1: coarse probe --------------------------------------
    cents = spark.createDataFrame(
        [(i, list(c)) for i, c in enumerate(CENTROIDS)],
        "centroid_id int, cvec array<double>",
    )
    qcos = _dot(F.col("emb"), F.col("cvec")) / (
        _norm(F.col("emb")) * _norm(F.col("cvec"))
    )
    probes = [
        r["centroid_id"]
        for r in query.select(_as_double("embedding").alias("emb"))
        .crossJoin(F.broadcast(cents))
        .select("centroid_id", qcos.alias("_cos"))
        .orderBy(F.desc("_cos"), "centroid_id")
        .limit(n_probe)
        .collect()
    ]
    cand = static_centroid_assign(embeddings).where(
        F.col("centroid_id").isin(probes)
    )

    # ---- tier 2: ADC over the probed cells -------------------------
    rows = []
    for m in range(M):
        for kk, cvec in enumerate(CODEBOOKS[m]):
            hn = 0.0
            for v in cvec:
                hn += v * v
            rows.append((m, kk, list(cvec), hn / 2.0))
    cb = spark.createDataFrame(
        rows, "m int, code int, cvec array<double>, hn double"
    )
    sub = F.slice(F.col("emb"), F.col("m") * SUB_DIM + 1, SUB_DIM)
    dot = F.aggregate(
        F.zip_with(sub, F.col("cvec"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    se = F.aggregate(
        F.zip_with(sub, F.col("cvec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = cand.crossJoin(F.broadcast(cb)).select(
        "vec_id", "m", "code", (dot - F.col("hn")).alias("_score")
    )
    w = Window.partitionBy("vec_id", "m").orderBy(F.desc("_score"), "code")
    codes = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("vec_id", "m", "code")
    )
    q = query.select(_as_double("embedding").alias("emb"))
    lut = q.crossJoin(F.broadcast(cb)).select("m", "code", se.alias("qse"))
    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .groupBy("vec_id")
        .agg(F.sort_array(F.collect_list(F.struct("m", "qse"))).alias("_t"))
        .select(
            "vec_id",
            F.aggregate(
                F.transform(F.col("_t"), lambda s: s["qse"]),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("_adc"),
        )
        .orderBy("_adc", "vec_id")
        .limit(shortlist)
    )

    # ---- tier 3: exact rerank of the shortlist ---------------------
    qr = query.select(_as_double("embedding").alias("qemb"))
    sim = _dot(F.col("emb"), F.col("qemb")) / (
        _norm(F.col("emb")) * _norm(F.col("qemb"))
    )
    return (
        adc.join(cand.select("vec_id", "label", "emb"), "vec_id")
        .crossJoin(F.broadcast(qr))
        .select("vec_id", "label", sim.alias("_sim"))
        .orderBy(F.desc("_sim"), "vec_id")
        .limit(k)
        .select("vec_id", "label", F.round("_sim", 6).alias("cosine_sim"))
    )
