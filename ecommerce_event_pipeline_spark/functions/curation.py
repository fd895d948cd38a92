"""Corpus-curation operators for a large-scale training-data pipeline.

The reference has no training-data surface (it is an e-commerce event
batch); these operators extend the engine with the standard curation
stages a 100 TB pretraining pipeline runs between raw corpus and tokenized
shards: benchmark-contamination checks, chunking, sequence packing,
PII scrubbing, rule-based quality filtering, deterministic shard
assignment, and semantic (embedding-space) dedup.

Design rules shared with the rest of the package:
- hot paths are built-in Catalyst expressions (split / slice / regexp /
  higher-order folds) — whole-stage codegen, no Python per row;
- every aggregate is key-partitioned; nothing corpus-sized reaches the
  driver;
- anything quadratic is blocked (benchmark join on shingle with a df cap,
  per-cluster GEMM) so task cost stays bounded as the corpus grows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import shingle_sets, word_kgrams


def contamination_check(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    benchmark_mod: int = 20,
    sets_df: DataFrame | None = None,
) -> DataFrame:
    """Benchmark-contamination check: for every training document, the
    fraction of its distinct k-shingles that also appear in the held-out
    benchmark slice (``doc_id % benchmark_mod == 0`` — a deterministic
    stand-in for an external eval set).

    Containment |A ∩ B_universe| / |A| is the right asymmetry for
    contamination (a short benchmark prompt embedded in a long training doc
    must still score high on the BENCHMARK side — so we also report the
    benchmark-side max containment via the per-benchmark-doc join below
    being keyed on the union universe).

    Scale shape: benchmark shingle universes are small (eval sets are
    thousands of docs, not billions), so the distinct benchmark-shingle
    table broadcast-joins against the corpus explode; the corpus side
    streams through one explode + one per-doc count — no self-join, no
    corpus² term anywhere.
    """
    sets = sets_df if sets_df is not None else shingle_sets(docs, k)
    is_bench = (F.col("doc_id") % benchmark_mod) == 0

    bench_shingles = (
        sets.where(is_bench)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    corpus = sets.where(~is_bench).select(
        "doc_id", "shingle_count", F.explode("shingles").alias("shingle")
    )
    hits = (
        corpus.join(F.broadcast(bench_shingles), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("contaminated_shingles"))
    )
    return (
        sets.where(~is_bench)
        .select("doc_id", "shingle_count")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("shingle_count").alias("n_shingles"),
            F.coalesce("contaminated_shingles", F.lit(0)).alias(
                "contaminated_shingles"
            ),
            F.round(
                F.coalesce("contaminated_shingles", F.lit(0)).cast("double")
                / F.col("shingle_count").cast("double"),
                6,
            ).alias("containment"),
        )
        .withColumn("is_contaminated", F.col("containment") >= F.lit(threshold))
        .orderBy("doc_id")
    )


def doc_chunks(
    docs: DataFrame, chunk_tokens: int = 64, stride: int = 48
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    doc → training-example expansion step (1→N lateral, like the purchase
    payload unnest in the marts).

    Chunk c covers tokens [1 + c·stride, 1 + c·stride + chunk_tokens);
    starts run while they point at an existing token, so every document
    yields ≥1 chunk and the final chunk may be short. Entirely built-in
    (split → sequence of starts → posexplode → slice), so the expansion is
    a codegen'd projection: rows widen AFTER the scan and there is no
    shuffle at all unless a consumer adds one.
    """
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride)
    )
    chunk = F.slice(F.col("_toks"), F.col("start"), chunk_tokens)
    return (
        docs.select("doc_id", toks.alias("_toks"), F.posexplode(starts))
        .withColumnRenamed("pos", "chunk_index")
        .withColumnRenamed("col", "start")
        .select(
            "doc_id",
            "chunk_index",
            F.concat_ws(" ", chunk).alias("chunk_text"),
            F.size(chunk).alias("n_tokens"),
        )
        .orderBy("doc_id", "chunk_index")
    )


def pack_sequences(
    docs: DataFrame, budget: int = 512, shard_size: int = 1000
) -> DataFrame:
    """GPT-style sequence packing: documents are concatenated in doc_id
    order and cut into fixed ``budget``-token training sequences; a
    document may straddle a boundary (causal-mask packing). Output per
    document: the bin its first token lands in, its offset inside that
    bin, and how many bins it spans.

    The global running token count is a distributed two-phase prefix sum —
    the scale-safe replacement for ``Window.orderBy(...)`` with no
    partition key (which would funnel the whole corpus through ONE task):

    1. within-shard cumsum: window partitioned by ``doc_id div shard_size``
       (each shard is one bounded task);
    2. shard offsets: per-shard totals (one row per shard) run through
       :func:`operators.windows.distributed_prefix_sum` — itself the
       range-partition + offset pattern, so even 1e8 shards never meet a
       single-partition sort — and broadcast-join back.

    At 100 TB with sparse/unknown doc_id ranges, phase 0 is a range
    partitioner (sample quantiles) instead of the div; the two cumsum
    phases are unchanged.
    """
    counted = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        # integer div like the bin arithmetic below: float `/` + cast
        # truncates via double (wrong shard past 2^53, and trunc-vs-floor
        # breaks the prefix-sum ordering for negative ids)
        F.expr(f"doc_id div {int(shard_size)}").alias("_shard"),
    )
    in_shard = Window.partitionBy("_shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    counted = counted.withColumn(
        "_cum_in_shard", F.coalesce(F.sum("n_tokens").over(in_shard), F.lit(0))
    )
    shard_totals = counted.groupBy("_shard").agg(
        F.sum("n_tokens").alias("_shard_tokens")
    )
    # phase 2 is itself a distributed prefix sum (range-partition +
    # offset), NOT a bare Window.orderBy: the shard-totals table has one
    # row per shard, which at corpus scale (1e11 docs / 1e3 per shard =
    # 1e8 shards) is far too large for a single-partition cumsum
    from ..operators.windows import distributed_prefix_sum

    offsets = distributed_prefix_sum(
        shard_totals,
        ["_shard"],
        "_shard_tokens",
        out_col="_shard_offset",
        exclusive=True,
    ).select("_shard", "_shard_offset")

    start = F.col("_shard_offset") + F.col("_cum_in_shard")
    # integer `div`, not float `/` + floor: token offsets at corpus scale
    # overflow double's 53-bit exact range long before they overflow long
    b = budget
    return (
        counted.join(F.broadcast(offsets), "_shard")
        .select("doc_id", "n_tokens", start.alias("start_offset"))
        .select(
            "doc_id",
            "n_tokens",
            "start_offset",
            F.expr(f"start_offset div {b}").alias("bin_id"),
            F.expr(f"start_offset % {b}").alias("offset_in_bin"),
            F.expr(
                f"(start_offset + n_tokens - 1) div {b}"
                f" - start_offset div {b} + 1"
            ).alias("bins_spanned"),
        )
        .orderBy("doc_id")
    )


#: RE2-compatible PII patterns (no backrefs / lookarounds) so the Spark
#: (java.util.regex) and DuckDB (RE2) engines match identically.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._]+@[A-Za-z0-9.-]+",
    "phone": r"[0-9]{3}-[0-9]{4}",
    "url": r"https?://[^ ]+",
}


def plant_pii(docs: DataFrame) -> DataFrame:
    """Deterministically append synthetic PII to a slice of documents (the
    fixture corpus is clean, so the scrubber needs planted positives —
    same trick as the synthetic media payloads: every planted value is a
    pure function of doc_id, reproducible by any engine)."""
    did = F.col("doc_id")
    email = F.when(
        did % 5 == 0, F.concat(F.lit(" contact user"), did, F.lit("@example.com"))
    ).otherwise(F.lit(""))
    phone = F.when(
        did % 7 == 0,
        F.concat(F.lit(" call 555-"), F.lpad((did % 10000).cast("string"), 4, "0")),
    ).otherwise(F.lit(""))
    url = F.when(
        did % 11 == 0, F.concat(F.lit(" see https://example.com/doc/"), did)
    ).otherwise(F.lit(""))
    return docs.withColumn("text", F.concat(F.col("text"), email, phone, url))


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Scrub emails / phone numbers / URLs with typed placeholder tokens
    and report per-document match counts — a row-local projection (regexp
    built-ins, codegen'd; order: URLs before emails so a URL containing
    '@' can't be half-eaten by the email pass).

    Each count is taken on the text AS THE CORRESPONDING PASS SEES IT
    (urls on the original, emails on the url-scrubbed text, phones after
    both), so the counts always equal the number of replacements actually
    performed — counting every pattern on the original would over-report
    when patterns overlap (an email inside a URL is consumed by the URL
    pass and never redacted as an email)."""
    after_url = F.regexp_replace(F.col("text"), PII_PATTERNS["url"], "<URL>")
    after_email = F.regexp_replace(after_url, PII_PATTERNS["email"], "<EMAIL>")
    scrubbed = F.regexp_replace(after_email, PII_PATTERNS["phone"], "<PHONE>")

    def n_matches(col: F.Column, pat: str) -> F.Column:
        return F.size(F.regexp_extract_all(col, F.lit(pat), 0))

    return docs.select(
        "doc_id",
        n_matches(after_url, PII_PATTERNS["email"]).alias("n_emails"),
        n_matches(after_email, PII_PATTERNS["phone"]).alias("n_phones"),
        n_matches(F.col("text"), PII_PATTERNS["url"]).alias("n_urls"),
        F.length(scrubbed).alias("scrubbed_len"),
        # md5 (not xxhash64): both engines implement it identically, so the
        # scrubbed text itself stays value-hash-checkable via the oracle
        F.md5(scrubbed).alias("scrubbed_md5"),
    ).orderBy("doc_id")


#: (name, failure predicate builder) — C4/Gopher-style heuristic filters.
#: Kept as data so the rule set is inspectable and the flag layout stable.
QUALITY_RULES = (
    "too_short",
    "too_long",
    "low_diversity",
    "no_stopwords",
    "bad_token_len",
)


def quality_flags(docs: DataFrame) -> DataFrame:
    """Rule-based quality filter with per-rule verdicts (C4/Gopher-style):
    each rule is a named boolean column, plus the failed count and the
    final keep decision — the auditable form a curation pipeline wants
    (why was this document dropped?), not just a scalar score.

    Rules (all deterministic built-ins over whitespace tokens):
    - too_short / too_long: token count outside [24, 400];
    - low_diversity: distinct/total token ratio < 0.3 (boilerplate, spam);
    - no_stopwords: zero common-English stopwords (non-prose);
    - bad_token_len: mean token length outside [2.5, 8.0] (code, tables).
    """
    from .text import STOPWORDS

    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    uniq = F.size(F.array_distinct(toks))
    stop_hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS)))
    mean_len = (F.length(F.col("text")) - n + 1).cast("double") / n.cast("double")

    flagged = docs.select(
        "doc_id",
        "lang",
        n.alias("token_count"),
        (n < 24).alias("too_short"),
        (n > 400).alias("too_long"),
        ((uniq.cast("double") / n.cast("double")) < 0.3).alias("low_diversity"),
        (stop_hits == 0).alias("no_stopwords"),
        ((mean_len < 2.5) | (mean_len > 8.0)).alias("bad_token_len"),
    )
    n_failed = sum(F.col(r).cast("int") for r in QUALITY_RULES)
    return (
        flagged.withColumn("n_failed", n_failed)
        .withColumn("keep", F.col("n_failed") == 0)
        .orderBy("doc_id")
    )


def training_shards(docs: DataFrame, n_shards: int = 16, seed: int = 7) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training-data
    writes: order documents by a cryptographic hash of (seed, doc_id) —
    reproducible across engines and runs, unlike ``rand()`` — and deal
    them into ``n_shards`` shards with a per-shard position.

    The md5 prefix (not xxhash64) is deliberate: both Spark and DuckDB
    implement md5 identically, keeping the whole assignment oracle-
    checkable. The position window partitions BY SHARD, so each task sorts
    one shard — corpus-scale total order is never materialized on one node
    (writers consume shards independently, as shard files).
    """
    from .hashing import md5_prefix_long

    sort_key = md5_prefix_long(str(seed), F.col("doc_id"))
    assigned = docs.select(
        "doc_id",
        sort_key.alias("sort_key"),
        (sort_key % n_shards).cast("int").alias("shard_id"),
    )
    pos = Window.partitionBy("shard_id").orderBy("sort_key", "doc_id")
    return (
        assigned.withColumn("shard_pos", F.row_number().over(pos))
        .select("doc_id", "shard_id", "shard_pos")
        .orderBy("doc_id")
    )


def dataset_split(
    docs: DataFrame,
    fractions: tuple[int, int] = (90, 5),
    seed: int = 11,
) -> DataFrame:
    """Deterministic train/val/test assignment by hash bucket — the split
    a pretraining pipeline pins once so every downstream run sees the same
    membership regardless of partitioning, row order, or cluster size.

    bucket = md5('<seed>#doc_id') mod 100; train gets ``fractions[0]``
    buckets, val the next ``fractions[1]``, test the rest. Row-local
    projection, no shuffle; the md5 idiom keeps it oracle-checkable
    (see functions/hashing.py).
    """
    bucket, split = split_exprs(F.col("doc_id"), fractions, seed)
    return docs.select(
        "doc_id", "lang", bucket.cast("int").alias("bucket"), split.alias("split")
    ).orderBy("doc_id")


def split_exprs(
    id_col: F.Column,
    fractions: tuple[int, int] = (90, 5),
    seed: int = 11,
) -> tuple[F.Column, F.Column]:
    """The (bucket, split) COLUMN EXPRESSIONS behind :func:`dataset_split`.

    Split membership is a pure row-local function of the id, so any table
    carrying a doc id can compute it in place — no join against a
    membership table. That is the point of hash-bucket splits at scale:
    e.g. the leakage report applies this to both sides of a near-dup
    pair without ever shuffling the corpus-sized split table.
    """
    from .hashing import md5_prefix_long

    train_lt, val_lt = fractions[0], fractions[0] + fractions[1]
    if not (0 < train_lt and 0 <= fractions[1] and val_lt <= 100):
        raise ValueError(
            f"fractions {fractions} must be positive percents summing <= 100"
        )
    bucket = md5_prefix_long(str(seed), id_col) % 100
    split = (
        F.when(bucket < train_lt, F.lit("train"))
        .when(bucket < val_lt, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return bucket, split


def language_mix_weights(
    docs: DataFrame, temperature: float = 0.7
) -> DataFrame:
    """Temperature-scaled language sampling weights — the data-mixing step
    of a multilingual pretraining pipeline (sample language l with
    p_l ∝ (c_l / Σc)^T, T < 1 upweights low-resource languages).

    Two tiny aggregates: per-language counts (one shuffle, |langs| rows),
    then the normalizer as a broadcast single-row cross join — nothing
    corpus-sized moves. Weights are ROUND(…, 4): pow/sum float math is the
    only cross-engine risk and 4 decimals is far coarser than any ulp
    drift. expected_docs rounds the resampled count to a whole document.
    """
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    total = counts.agg(F.sum("n_docs").cast("long").alias("n_total"))
    scaled = counts.crossJoin(F.broadcast(total)).select(
        "lang",
        "n_docs",
        F.pow(F.col("n_docs").cast("double") / F.col("n_total"), temperature).alias(
            "_s"
        ),
        "n_total",
    )
    norm = scaled.agg(F.sum("_s").alias("_z"))
    return (
        scaled.crossJoin(F.broadcast(norm))
        .select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round(F.col("_s") / F.col("_z"), 4).alias("weight"),
            # floor(x + 0.5), not round(): Spark rounds HALF_UP, DuckDB
            # half-to-even — floor+0.5 is the same function in both
            F.floor(F.col("_s") / F.col("_z") * F.col("n_total") + 0.5)
            .cast("long")
            .alias("expected_docs"),
        )
        .orderBy("lang")
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.7,
    kmeans_iters: int = 4,
) -> DataFrame:
    """Semantic (embedding-space) dedup, SemDeDup-style: cluster the corpus
    with seeded spherical k-means, find cosine-similar pairs WITHIN each
    cluster (per-cluster GEMM — bounded task cost, no corpus² term), and
    keep the lowest vec_id of every near-dup neighborhood.

    Output: one row per vector with its cluster, whether it is kept, and
    the id it duplicates (NULL for kept rows). Iterative float k-means has
    no cross-engine oracle — correctness is pytest-verified against
    brute-force cosine pairs (recall) and the keep-rule invariants.

    At 100 TB the k-means fit runs on a hash sample and cluster cells
    become the partitioning of a bucketed write, so the pair scan is one
    co-located pass per cell.
    """
    from .similarity import blocked_cosine_pairs, ivf_assign

    assigned, _ = ivf_assign(embeddings, n_clusters, kmeans_iters=kmeans_iters)
    pairs = blocked_cosine_pairs(
        assigned, block_col="centroid_id", threshold=threshold
    )
    # a vector is dropped iff some LOWER id within its cluster is ≥ threshold
    # similar; min_by gives the closest such keeper as the dup target
    drops = (
        pairs.groupBy(F.col("vec_id_2").alias("vec_id"))
        .agg(F.min("vec_id_1").alias("duplicate_of"))
    )
    return (
        assigned.select("vec_id", F.col("centroid_id").alias("cluster_id"))
        .join(drops, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.col("duplicate_of").isNull().alias("keep"),
            "duplicate_of",
        )
        .orderBy("vec_id")
    )


def doc_repetition(docs: DataFrame, k: int = 3) -> DataFrame:
    """Intra-document repetition score (the Gopher duplicate-n-gram
    metric): fraction of k-gram occurrences that are repeats of an
    earlier k-gram in the same document. Boilerplate and degenerate
    generations score high; natural prose scores near zero.

    Pure row-local array expressions (tokens, then k-grams) — no
    shuffle.
    """
    grams = F.col("_grams")
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return word_kgrams(docs, k).select(
        "doc_id",
        total.alias("total_ngrams"),
        distinct.alias("distinct_ngrams"),
        F.round(
            (total - distinct).cast("double") / total.cast("double"), 6
        ).alias("rep_fraction"),
    ).orderBy("doc_id")


def semantic_dedup_static(
    embeddings: DataFrame, threshold: float = 0.7
) -> DataFrame:
    """:func:`semantic_dedup` served from the OFFLINE-trained static
    quantizer (functions/ivf_centroids.py) instead of a per-run k-means
    refit — the production shape, and deterministic end-to-end: the
    assignment is the declarative fold-cosine argmax, candidate pairs are
    per-cell, and the keep decision compares the SEQUENTIAL-fold pair
    cosine against the threshold (`similarity._exact_pair_cosine`), so a
    SQL oracle replays every step from the same centroid literals.
    """
    from .similarity import blocked_cosine_pairs, static_centroid_assign

    assigned = static_centroid_assign(embeddings).select(
        "vec_id", F.col("emb").alias("embedding"), "centroid_id"
    )
    pairs = blocked_cosine_pairs(
        assigned, block_col="centroid_id", threshold=threshold
    )
    drops = pairs.groupBy(F.col("vec_id_2").alias("vec_id")).agg(
        F.min("vec_id_1").alias("duplicate_of")
    )
    return (
        assigned.select("vec_id", F.col("centroid_id").alias("cluster_id"))
        .join(drops, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.col("duplicate_of").isNull().alias("keep"),
            "duplicate_of",
        )
        .orderBy("vec_id")
    )


def weighted_sample(
    docs: DataFrame,
    m: int = 100,
    weight_col: str = "n_chars",
    salt: str = "ws",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006, A-ES): each row draws a reproducible uniform
    u ∈ (0, 1) from the engine-portable md5 hash of its id, and the m
    rows with the largest key u^(1/w) form the sample — inclusion
    probability proportional to weight, no coordination beyond one
    global top-m.

    We rank on ln(u)/w, monotone-equivalent to u^(1/w) (ln is increasing
    and u^(1/w) = exp(ln(u)/w)) but one libm call instead of two, with
    doc_id as the total-order tiebreak. The hash uniform makes the draw
    a PURE FUNCTION of (salt, doc_id): re-runs, backfills, and the
    DuckDB oracle all pick the identical sample — rand()-based sampling
    can never be hash-verified.

    Scale shape: the key is computed scan-side with no shuffle; the
    global top-m is a TakeOrderedAndProject (per-partition top-m, then a
    driver merge of m·partitions candidate rows) — no full sort, no
    corpus shuffle. Weights must be strictly positive.
    """
    from .hashing import md5_prefix_long

    # u ∈ (0,1): (h+1) / (2^32+1) with h the 32-bit md5 prefix — never
    # exactly 0 or 1, so ln(u) is finite
    u = (md5_prefix_long(salt, F.col("doc_id")) + 1).cast("double") / float(
        (1 << 32) + 1
    )
    key = F.log(u) / F.col(weight_col).cast("double")
    ranked = docs.withColumn("_key", key).orderBy(
        F.desc("_key"), "doc_id"
    ).limit(m)
    # the float key stays internal: emitted columns are hash-stable
    # integers/strings only (a last-ulp libm difference could flip a
    # hash-compare on the key itself, but not the ORDER of well-spread
    # keys — and never the sample membership this returns). Carried
    # columns are caller-chosen: the sampler itself needs only
    # (doc_id, weight), so it works on any id+weight frame.
    return ranked.select(
        "doc_id",
        *carry_cols,
        F.col(weight_col).alias("weight"),
    ).orderBy("doc_id")
