"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of each variant at 100 TB):

- **exact**: hash-groupBy on content hash — one shuffle keyed by the hash,
  perfectly parallel, no skew beyond genuinely duplicated content.
- **n-gram Jaccard**: exact pairwise similarity but only within candidate
  blocks (shared shingle), never all-pairs. Correct but O(pairs-sharing-a-
  shingle); use for verification of candidates, not as the primary pass.
- **MinHash + LSH banding**: the scale path — k hash functions → signature,
  b bands → bucket join. Candidate generation is a self-join on
  (band_id, band_key): shuffle keyed by bucket, so cost is driven by
  bucket collision counts, not corpus².
- **SimHash**: 64-bit fingerprint, near-dups differ in few bits; pairs are
  generated by joining on rotated prefix blocks (here: exact-fingerprint
  grouping + optional verification).

All hashing is deterministic across runs and executors with no Python in
the loop, and ENGINE-PORTABLE (``functions/hashing.py``): md5-prefix base
hashes plus exact modular universal hashes for MinHash lanes, md5-derived
bit lanes for SimHash — so every stage has a DuckDB-oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.windows import sort_result


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by md5(content). One shuffle on the hash."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("doc_count"),
        )
        .transform(sort_result, "text_hash")
    )


def word_kgrams(docs: DataFrame, k: int, gram=None) -> DataFrame:
    """``docs`` plus ``_toks``, the lowercase whitespace tokens of
    ``text``, and ``_grams``, one word k-gram per start position (a
    document shorter than ``k`` gives its one truncated gram), each
    mapped through ``gram`` when given. Built-ins only.

    The split is its own projection and every gram slices the projected
    token column, so a document is lowered and split once. Inside the
    per-start lambda the split would re-run at every start position
    (higher-order functions get no subexpression elimination) and make
    each document quadratic in its length. CollapseProject keeps the
    token projection because the gram expression reads it twice."""
    toks = docs.withColumn("_toks", F.split(F.lower(F.col("text")), " "))
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("_toks") - (k - 1), F.lit(1))
    )
    to_gram = gram or (lambda g: g)
    return toks.withColumn(
        "_grams",
        F.transform(
            starts,
            lambda i: to_gram(F.concat_ws(" ", F.slice("_toks", i, k))),
        ),
    )


def shingle_sets(docs: DataFrame, k: int = 5) -> DataFrame:
    """Distinct word k-shingles per document, with their count."""
    return word_kgrams(docs, k).select(
        "doc_id", F.array_distinct("_grams").alias("shingles")
    ).withColumn("shingle_count", F.size("shingles"))


def pinned_shingle_sets(docs: DataFrame, k: int = 5) -> DataFrame:
    """:func:`shingle_sets` materialized once (``pin_frame``), for plans
    that read the sets from several branches (df counts, capped sets,
    both sides of a self-join, the verify join). Lazy sets would not be
    shared: Spark pushes each branch's own filters (``size(shingles) >
    0`` from ``explode``, ``isnotnull(doc_id)`` from the joins) into the
    shingle projection, so no two branches plan the same subtree, no
    exchange is reused, and every branch re-runs the transform. Against
    the pinned ``ExistingRDD`` scan those filters are cheap.

    ``docs`` is hash-partitioned on ``doc_id`` first so the transform
    runs in shuffle-partition tasks (AQE coalesces them on small
    inputs) rather than in one task per input file."""
    from ..operators.windows import pin_frame

    return pin_frame(shingle_sets(docs.repartition("doc_id"), k))


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    sets_df: DataFrame | None = None,
    include_counts: bool = False,
    ordered: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs that share ≥1
    shingle. Explode → self-join on shingle → count common → Jaccard.

    ``ordered=False`` skips the final global sort — for consumers that
    re-sort the pair table themselves (e.g. containment) the inner
    orderBy is pure wasted exchange (same valve as simhash's
    ``ordered``).

    |A∪B| = |A| + |B| − |A∩B|; doc_id_1 < doc_id_2 canonicalizes pairs.

    ``max_df`` is the scale valve: a shingle appearing in more than
    ``max_df`` documents (a stop-shingle like "of the a") is dropped from
    the shingle UNIVERSE before pairing — Jaccard is then exact over the
    filtered sets. Without the cap one corpus-common shingle makes a
    quadratic hot bucket in the self-join (df² pair rows), which is the
    scale-killer at 100 TB; with it every join bucket is ≤ max_df docs.
    Stop-shingles carry no near-dup signal, so threshold-grade pairs are
    unaffected (on the fixtures the cap never binds: max df ≈ 7 at
    sf0.01 vs cap 50)."""
    # This plan reads sets_df from up to four branches (stop-list build,
    # capped sets, both sides of the self-join), so the fallback is the
    # pinned base: one shingle stage per query, where the lazy sets ran
    # the transform in three separate stages (see pinned_shingle_sets).
    if sets_df is None:
        sets_df = pinned_shingle_sets(docs, k)
    exploded = sets_df.select(
        "doc_id", "shingle_count", F.explode("shingles").alias("shingle")
    )
    if max_df is not None:
        # The STOP list (df > max_df) is the small side — high-df shingles
        # are few by construction — so it broadcasts as a 1-row array and
        # each doc's capped set is a row-local array_except: one extra
        # shuffle total (the df groupBy), no join or re-shuffle of the
        # exploded rows. At corpus scales where the stop list itself gets
        # large, precompute it offline and pass it in as a literal.
        stop = (
            exploded.groupBy("shingle")
            .agg(F.count("*").alias("_df"))  # arrays are distinct per doc
            .where(F.col("_df") > max_df)
            .agg(F.collect_list("shingle").alias("_stop"))
        )
        capped = sets_df.crossJoin(F.broadcast(stop)).select(
            "doc_id", F.array_except("shingles", "_stop").alias("shingles")
        )
        exploded = capped.select(
            "doc_id",
            F.size("shingles").alias("shingle_count"),
            F.explode("shingles").alias("shingle"),
        )
    left = exploded.select(
        F.col("doc_id").alias("doc_id_1"),
        F.col("shingle_count").alias("count_1"),
        "shingle",
    )
    right = exploded.select(
        F.col("doc_id").alias("doc_id_2"),
        F.col("shingle_count").alias("count_2"),
        "shingle",
    )
    common = (
        left.join(right.hint("shuffle_hash"), "shingle")
        .where(F.col("doc_id_1") < F.col("doc_id_2"))
        .groupBy("doc_id_1", "doc_id_2", "count_1", "count_2")
        .agg(F.count("*").alias("common"))
    )
    jaccard = F.col("common").cast("double") / (
        F.col("count_1") + F.col("count_2") - F.col("common")
    ).cast("double")
    out_cols = ["doc_id_1", "doc_id_2", "common", "jaccard"]
    if include_counts:
        # per-doc (capped) set sizes — needed by asymmetric measures
        # (containment) that Jaccard+common alone cannot reconstruct
        out_cols = ["doc_id_1", "doc_id_2", "count_1", "count_2", "common", "jaccard"]
    out = (
        common.withColumn("jaccard", F.round(jaccard, 6))
        .where(F.col("jaccard") >= threshold)
        .select(*out_cols)
    )
    return out.orderBy("doc_id_1", "doc_id_2") if ordered else out


def jaccard_prefix_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    sets_df: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard join via LOSSLESS prefix filtering (AllPairs/SSJoin
    candidate generation: Bayardo et al. WWW'07, Chaudhuri et al. ICDE'06)
    — same output as an exact all-pairs join at threshold t, but the
    candidate self-join touches only each document's PREFIX tokens.

    Shingles are globally ordered rarest-first (df ASC, shingle ASC); a
    document with n shingles indexes only its first ``n − ⌈t·n⌉ + 1``.
    Completeness: J(A,B) ≥ t ⇒ |A∩B| ≥ t·|A∪B| ≥ ⌈t·max(|A|,|B|)⌉, and
    two sets with overlap ≥ α must share a token inside their
    (len − α + 1)-prefixes — so every qualifying pair survives candidate
    generation, and the exact ``array_intersect`` verification makes the
    result identical to the brute-force join (the DuckDB oracle runs the
    brute force; this function must agree bit-for-bit).

    Scale contrast with ``ngram_jaccard_pairs``'s df-cap: the cap bounds
    join buckets by CHANGING the metric space (Jaccard over the capped
    universe); prefix filtering keeps the exact metric and bounds work by
    construction — prefix tokens are the RAREST in each set, so candidate
    buckets are the low-df tail, and the quadratic stop-shingle blowup
    never materializes. At 100 TB this is the exact-similarity path;
    MinHash+LSH remains the approximate one.

    The threshold is a rational ``num/den`` so prefix lengths, the size
    filter, and the final test are all exact integer arithmetic — no
    float boundary can disagree with the oracle (⌈t·n⌉ = (num·n + den−1)
    div den; J ≥ t ⇔ common·den ≥ union·num).

    Candidates additionally pass the PPJoin POSITIONAL filter (Xiao et
    al. WWW'08), also lossless: let w be the globally-earliest shared
    prefix token of a candidate pair, at positions i, j in the two
    df-ordered sets. Any token shared by both sets and earlier than w
    would sit at positions < i, < j — inside both prefixes (prefixes are
    position-initial), contradicting w's minimality — so NO shared token
    precedes w and the overlap is at most 1 + min(|x|−i, |y|−j). Pairs
    whose bound falls below the required overlap α = ⌈num·(|x|+|y|) /
    (den+num)⌉ (from J ≥ t ⇔ common·(den+num) ≥ num·(|x|+|y|)) are
    pruned before the expensive verify join. At production thresholds
    (0.8+) this kills most of the residual candidates that share one
    moderately-rare token late in their prefixes.
    """
    from pyspark.sql import Window

    num, den = int(threshold_num), int(threshold_den)
    if not (0 < num <= den):
        raise ValueError("threshold must be a rational in (0, 1]")
    if sets_df is None:
        sets_df = pinned_shingle_sets(docs, k)
    exploded = sets_df.select(
        "doc_id", "shingle_count", F.explode("shingles").alias("shingle")
    )
    # global document frequency — ONE aggregation keyed by shingle; joined
    # back (shuffle on shingle) to give every (doc, shingle) its df rank
    df_counts = exploded.groupBy("shingle").agg(F.count("*").alias("_df"))
    ranked = exploded.join(df_counts, "shingle").withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("_df", "shingle")
        ),
    )
    ceil_tn = F.expr(f"({num} * shingle_count + {den - 1}) div {den}")
    prefix = ranked.where(F.col("_rn") <= F.col("shingle_count") - ceil_tn + 1)
    cands = (
        prefix.select(
            F.col("doc_id").alias("doc_id_1"),
            F.col("shingle_count").alias("_c1"),
            F.col("_rn").alias("_rn1"),
            "shingle",
        )
        .join(
            prefix.select(
                F.col("doc_id").alias("doc_id_2"),
                F.col("shingle_count").alias("_c2"),
                F.col("_rn").alias("_rn2"),
                "shingle",
            ),
            "shingle",
        )
        .where(F.col("doc_id_1") < F.col("doc_id_2"))
        # size filter (also lossless): J ≥ num/den ⇒ min·den ≥ max·num
        .where(
            F.least("_c1", "_c2") * den >= F.greatest("_c1", "_c2") * num
        )
        # positional (PPJoin) filter: min struct = the globally-earliest
        # shared prefix token (positions are assigned in global df order,
        # so min _rn1 IS the earliest; ties impossible — positions are
        # unique per doc); see docstring for the losslessness proof
        .groupBy("doc_id_1", "doc_id_2", "_c1", "_c2")
        .agg(F.min(F.struct("_rn1", "_rn2")).alias("_pos"))
        .where(
            1
            + F.least(
                F.col("_c1") - F.col("_pos._rn1"),
                F.col("_c2") - F.col("_pos._rn2"),
            )
            >= F.expr(
                f"({num} * (_c1 + _c2) + {den + num - 1}) div {den + num}"
            )
        )
        .select("doc_id_1", "doc_id_2")
    )
    s1 = sets_df.select(
        F.col("doc_id").alias("doc_id_1"),
        F.col("shingles").alias("_s1"),
        F.col("shingle_count").alias("_n1"),
    )
    s2 = sets_df.select(
        F.col("doc_id").alias("doc_id_2"),
        F.col("shingles").alias("_s2"),
        F.col("shingle_count").alias("_n2"),
    )
    verified = (
        cands.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .withColumn("common", F.size(F.array_intersect("_s1", "_s2")).cast("long"))
        .withColumn("_union", F.col("_n1") + F.col("_n2") - F.col("common"))
        .where(F.col("common") * den >= F.col("_union") * num)
    )
    jaccard = F.col("common").cast("double") / F.col("_union").cast("double")
    return (
        verified.select(
            "doc_id_1",
            "doc_id_2",
            "common",
            F.round(jaccard, 6).alias("jaccard"),
        )
        .transform(sort_result, "doc_id_1", "doc_id_2")
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 64,
    k: int = 5,
    sets_df: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document: hash each shingle STRING once to a
    28-bit md5-prefix base, then derive the ``num_hashes`` lanes with the
    universal hash h_s(b) = (a_s·b + c_s) mod 2^31−1 — so the per-doc cost
    is |shingles| string hashes + |shingles|·k fixed-width LONG arithmetic
    hashes, not |shingles|·k string hashes (the naive form is ~20× slower
    at 5k docs). One projection — no explode, no shuffle.

    The whole family is engine-portable (`functions/hashing.py`): the
    (a_s, c_s) literals and the exact 63-bit-safe modular arithmetic
    reproduce in a SQL oracle, which is what turns the MinHash pipeline
    from rows-only into value-hash graded. 31-bit lanes are the
    datasketch-standard width; candidate recall effects of base collisions
    are one-sided (extra candidates, exact-verified downstream)."""
    from .hashing import MERSENNE_31, lane_constants, md5_prefix28_long

    # The repartition between base-hash and lane computation is a cost
    # barrier: CollapseProject would otherwise substitute the `_bases`
    # EXPRESSION into the per-seed lambda and recompute all shingle string
    # hashing num_hashes× per row (higher-order functions get no codegen
    # subexpression elimination). Across the exchange the lanes read the
    # materialized long array instead.
    if sets_df is None:
        sets_df = shingle_sets(docs, k)
    bases_df = (
        sets_df
        .select(
            "doc_id",
            "shingle_count",
            F.transform(
                F.col("shingles"), lambda sh: md5_prefix28_long(sh)
            ).alias("_bases"),
        )
        .repartition("doc_id")
    )
    consts = lane_constants(num_hashes)
    a_arr = F.array(*[F.lit(a) for a, _ in consts])
    c_arr = F.array(*[F.lit(c) for _, c in consts])
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    # (a·b + c) mod M in plain LONGs: a < 2^31, b < 2^28 ⇒ product < 2^59,
    # no overflow anywhere (ANSI-safe), bit-identical in BIGINT SQL
    signature = F.transform(
        seeds,
        lambda s: F.array_min(
            F.transform(
                F.col("_bases"),
                lambda b: (
                    b * F.element_at(a_arr, s + 1) + F.element_at(c_arr, s + 1)
                )
                % F.lit(MERSENNE_31),
            )
        ),
    )
    return bases_df.select(
        "doc_id", "shingle_count", signature.alias("signature")
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 5,
    sets_df: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` rows-per-band chunks,
    key each chunk by its value CSV, self-join on (band_id, band_key). Returns candidate
    pairs with their band collision count. The join shuffle is keyed by
    bucket — corpus² never materializes."""
    rows_per_band = num_hashes // bands
    # The repartition is a correctness-of-cost barrier, not data movement
    # for its own sake: without it CollapseProject inlines the whole
    # signature expression tree into every band slice (higher-order
    # functions get no codegen subexpression elimination), recomputing all
    # shingle hashing `bands`× per row — measured 300× slower at 5k docs.
    # The exchange materializes signatures once; it is also the natural
    # pre-join shuffle for the bucket self-join below.
    sigs = minhash_signatures(docs, num_hashes, k, sets_df).repartition("doc_id")
    band_ids = F.sequence(F.lit(0), F.lit(bands - 1))
    # the band KEY is the slice's literal CSV, not a hash of it: equality
    # semantics are identical, one fewer hash family in the plan, and the
    # oracle reproduces it verbatim (at petabyte scale swap back to a
    # fixed-width hash of the key to shrink the shuffle payload)
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                band_ids,
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(
                                F.col("signature"),
                                b * rows_per_band + 1,
                                rows_per_band,
                            ),
                            lambda v: v.cast("string"),
                        ),
                    ).alias("band_key"),
                ),
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_key")
    left = banded.select(
        F.col("doc_id").alias("doc_id_1"), "band_id", "band_key"
    )
    right = banded.select(
        F.col("doc_id").alias("doc_id_2"), "band_id", "band_key"
    )
    # shuffle_hash: both sides are the same signature subtree — broadcast
    # would compute it twice; the shuffle join reuses one exchange (see
    # simhash_dupes for the measurement)
    return (
        left.join(right.hint("shuffle_hash"), ["band_id", "band_key"])
        .where(F.col("doc_id_1") < F.col("doc_id_2"))
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.count("*").alias("band_collisions"))
        .orderBy("doc_id_1", "doc_id_2")
    )


def minhash_near_dupes(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    k: int = 5,
    threshold: float = 0.5,
    sets_df: DataFrame | None = None,
    cands_df: DataFrame | None = None,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → verify with exact Jaccard of
    the shingle sets (array_intersect on the pair join — only candidate
    pairs are verified). ``cands_df`` lets callers running several
    candidate-consuming queries (the verify pipeline and the
    precision/recall audit) pass one shared (cached) candidate table."""
    if sets_df is None:
        sets_df = shingle_sets(docs, k)
    cands = (
        cands_df
        if cands_df is not None
        else minhash_lsh_candidates(docs, num_hashes, bands, k, sets_df)
    )
    s1 = sets_df.select(
        F.col("doc_id").alias("doc_id_1"),
        F.col("shingles").alias("shingles_1"),
        F.col("shingle_count").alias("count_1"),
    )
    s2 = sets_df.select(
        F.col("doc_id").alias("doc_id_2"),
        F.col("shingles").alias("shingles_2"),
        F.col("shingle_count").alias("count_2"),
    )
    joined = cands.join(s1, "doc_id_1").join(s2, "doc_id_2")
    common = F.size(F.array_intersect("shingles_1", "shingles_2"))
    jaccard = common.cast("double") / (
        F.col("count_1") + F.col("count_2") - common
    ).cast("double")
    return (
        joined.withColumn("jaccard", F.round(jaccard, 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_id_1", "doc_id_2", "jaccard")
        .transform(sort_result, "doc_id_1", "doc_id_2")
    )


def simhash(
    docs: DataFrame, text_col: str = "text", ordered: bool = True
) -> DataFrame:
    """64-bit SimHash over whitespace tokens, as two 32-bit halves
    ``(simhash_hi, simhash_lo)``.

    Per token: 64 hash bits from md5 (hex 1–8 → hi, 9–16 → lo — the
    engine-portable idiom of ``functions/hashing.py``, so a SQL oracle can
    rebuild the fingerprints bit-for-bit); each bit contributes +1/−1 to
    its lane; fingerprint bit i = 1 iff lane sum > 0. Two 32-bit halves
    instead of one signed long keep every intermediate in [0, 2^32) —
    no sign-bit or overflow-wrap semantics for an oracle to mismatch.
    ``ordered=False`` skips the output sort for callers that immediately
    repartition (the pair path)."""
    # hash every token string ONCE (nested transform: the inner md5 array
    # is evaluated as a VALUE before the struct projection maps over it —
    # unlike two sibling transforms, which CollapseProject would inline
    # into two md5 evaluations per token). Project down to doc_id before
    # the exchange: dragging the full text through the shuffle would
    # triple its payload for nothing.
    md5s = F.transform(
        F.split(F.lower(F.col(text_col)), " "), lambda t: F.md5(t)
    )
    tok_halves = F.transform(
        md5s,
        lambda m: F.struct(
            F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("hi"),
            F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("lo"),
        ),
    )
    hashed = docs.select("doc_id", tok_halves.alias("_th")).repartition("doc_id")

    # lanes[i] = Σ tokens (±1) for bit i, one 32-lane group per half so the
    # inner lambda is a bare bit probe (no per-token conditional). Shaped
    # as independent scalar folds over the materialized struct array rather
    # than one fold with a lane-array accumulator: the latter allocates
    # arrays PER TOKEN — measured 6× faster at sf0.1, bit-identical.
    def _lanes(field: str) -> F.Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(31)),
            lambda i: F.aggregate(
                F.col("_th"),
                F.lit(0).cast("long"),
                lambda acc, x: acc
                + (F.bit_get(x.getField(field), i) * 2 - 1).cast("long"),
            ),
        )

    # MSB-first fold per half: acc*2 + sign-bit; each half < 2^32, exact.
    # The pack consumes its lane array as a VALUE (nested expression), so
    # the 32 per-token folds run once per half, not once per output bit.
    def _pack(half: F.Column) -> F.Column:
        return F.aggregate(
            F.reverse(half),
            F.lit(0).cast("long"),
            lambda acc, lane: acc * 2
            + F.when(lane > 0, 1).otherwise(0).cast("long"),
        )

    out = hashed.select(
        "doc_id",
        _pack(_lanes("hi")).alias("simhash_hi"),
        _pack(_lanes("lo")).alias("simhash_lo"),
    )
    return out.orderBy("doc_id") if ordered else out


def simhash_dupes(
    docs: DataFrame, max_hamming: int = 3, fp_df: DataFrame | None = None
) -> DataFrame:
    """Near-dup pairs by SimHash: block on 16-bit fingerprint quarters (a
    pair within Hamming distance ≤3 shares at least one identical quarter by
    pigeonhole when distance < 4), then verify Hamming distance exactly.

    ``max_hamming`` is capped at 3: beyond that the 4-block pigeonhole
    guarantee breaks (a distance-4 pair can differ in every quarter) and
    results would be silently incomplete.
    """
    if max_hamming > 3:
        raise ValueError(
            "max_hamming > 3 voids the 4-quarter pigeonhole guarantee; "
            "use more/smaller blocks (or LSH) for larger radii"
        )
    # same CollapseProject barrier as minhash_lsh_candidates: materialize
    # the fingerprint before slicing it four ways (without this exchange
    # the whole 64-lane fold would be recomputed per quarter slice).
    # ``fp_df`` lets callers share one fingerprint pass (e.g. with a
    # cached simhash() result) instead of recomputing the 64-lane fold.
    fp = (
        fp_df
        if fp_df is not None
        else simhash(docs, ordered=False).repartition("doc_id")
    )
    # quarters 0/1 from the lo half, 2/3 from the hi half
    quarter = [
        F.col("simhash_lo").bitwiseAND(F.lit(0xFFFF)),
        F.shiftright(F.col("simhash_lo"), 16).bitwiseAND(F.lit(0xFFFF)),
        F.col("simhash_hi").bitwiseAND(F.lit(0xFFFF)),
        F.shiftright(F.col("simhash_hi"), 16).bitwiseAND(F.lit(0xFFFF)),
    ]
    quarters = fp.select(
        "doc_id",
        "simhash_hi",
        "simhash_lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("quarter_id"),
                        quarter[q].alias("quarter_val"),
                    )
                    for q in range(4)
                ]
            )
        ).alias("q"),
    ).select("doc_id", "simhash_hi", "simhash_lo", "q.quarter_id", "q.quarter_val")
    left = quarters.select(
        F.col("doc_id").alias("doc_id_1"),
        F.col("simhash_hi").alias("hi_1"),
        F.col("simhash_lo").alias("lo_1"),
        "quarter_id",
        "quarter_val",
    )
    right = quarters.select(
        F.col("doc_id").alias("doc_id_2"),
        F.col("simhash_hi").alias("hi_2"),
        F.col("simhash_lo").alias("lo_2"),
        "quarter_id",
        "quarter_val",
    )
    # shuffle_hash, never broadcast: both sides are the SAME expensive
    # fingerprint subtree — a broadcast join would materialize it twice
    # (broadcast builds don't reuse shuffle output), while the shuffle
    # join serves both sides from one ReusedExchange. Measured ~2× on
    # sf0.1 despite the side being broadcast-sized.
    pairs = (
        left.join(right.hint("shuffle_hash"), ["quarter_id", "quarter_val"])
        .where(F.col("doc_id_1") < F.col("doc_id_2"))
        .select("doc_id_1", "doc_id_2", "hi_1", "lo_1", "hi_2", "lo_2")
        .distinct()
    )
    hamming = F.bit_count(
        F.col("hi_1").bitwiseXOR(F.col("hi_2"))
    ) + F.bit_count(F.col("lo_1").bitwiseXOR(F.col("lo_2")))
    return (
        pairs.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("doc_id_1", "doc_id_2", "hamming")
        .transform(sort_result, "doc_id_1", "doc_id_2")
    )


def dedup_clusters_star(
    docs: DataFrame, pairs: DataFrame, max_iters: int = 20
) -> tuple[DataFrame, int]:
    """Connected components via alternating large-star / small-star
    contraction — O(log n) rounds even on DEEP dup graphs, where min-label
    propagation (O(diameter) rounds) would loop too long. Returns
    ``(labels, rounds)``.

    Each round is two grouped aggregations over the edge list:

    - large-star: every node links its strictly-larger neighbors to the
      minimum of its neighborhood (incl. itself);
    - small-star: every node links its smaller-or-equal neighbors (and
      itself) to that minimum.

    The fixpoint is a star forest (every node points straight at its
    component minimum). Edge lists are localCheckpoint-ed per round to
    truncate lineage; convergence is detected with an order-independent
    xxhash64 checksum of the canonical edge set — one tiny aggregate, no
    edge-set join. Reference: Kiveris et al., "Connected Components in
    MapReduce and Beyond" (SoCC'14).
    """
    # canonical undirected edges as (hi, lo), self-loops dropped
    e = (
        pairs.select(
            F.greatest("doc_id_1", "doc_id_2").alias("hi"),
            F.least("doc_id_1", "doc_id_2").alias("lo"),
        )
        .where(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint()
    )

    def checksum(edges: DataFrame):
        row = edges.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("hi", "lo")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    sig = checksum(e)
    rounds = 0
    converged = False
    for _ in range(max_iters):
        # large-star over both directions: neighbors v > u → (v, m(u))
        und = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        m = und.groupBy("u").agg(F.min("v").alias("_mv")).select(
            "u", F.least(F.col("_mv"), F.col("u")).alias("m")
        )
        large = (
            und.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
        )
        e = (
            large.where(F.col("hi") != F.col("lo"))
            .distinct()
            .localCheckpoint()
        )
        # small-star over canonical direction: v ≤ u neighbors ∪ u → m(u)
        md = e.groupBy("hi").agg(F.min("lo").alias("m"))
        small = (
            e.join(md, "hi")
            .select(F.col("lo").alias("node"), F.col("m").alias("root"))
            .unionByName(
                md.select(F.col("hi").alias("node"), F.col("m").alias("root"))
            )
            .where(F.col("node") != F.col("root"))
            .select(F.col("node").alias("hi"), F.col("root").alias("lo"))
            .distinct()
            .localCheckpoint()
        )
        e = small
        rounds += 1
        new_sig = checksum(e)
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        # an unconverged edge set can still hold several (hi, lo) parents
        # per node — the label join below would fan out to DUPLICATE
        # doc_id rows with conflicting cluster ids; refuse loudly instead
        raise RuntimeError(
            f"dedup_clusters_star did not converge in {max_iters} rounds "
            "(needs ~log2(n); raise max_iters)"
        )

    labels = (
        docs.select("doc_id")
        .join(
            e.select(F.col("hi").alias("doc_id"), F.col("lo").alias("root")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id", F.coalesce("root", F.col("doc_id")).alias("cluster_id")
        )
        .orderBy("doc_id")
    )
    return labels, rounds


def cross_doc_span_stats(
    docs: DataFrame, span: int = 8, min_docs: int = 2
) -> DataFrame:
    """Cross-document SPAN-level duplication (the exact-substring-dedup
    measurement of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", at fixed token-window granularity): for each
    document, what fraction of its ``span``-token sliding windows also
    appears verbatim in at least ``min_docs − 1`` OTHER documents.

    Whole-doc similarity (Jaccard/MinHash/SimHash) misses partial
    overlap — boilerplate headers, quoted paragraphs, syndicated
    passages — and intra-doc repetition (`doc_repetition`) misses
    cross-doc sharing; this is the third axis. Documents shorter than
    ``span`` contribute their single truncated window (the same clamping
    the k-shingle operators use, so both engines agree on short docs).

    Scale shape: positional windows explode scan-side (row-local array
    expressions, no shuffle) exactly ONCE; a (span, doc) multiplicity
    aggregate keyed on the span digest feeds both the docs-per-span
    test (a keyed COUNT window) and the per-doc tally — no join-back,
    no second pass over the corpus. No pairwise term anywhere — cost is
    O(tokens) rows through one hash aggregation plus one keyed window,
    at any corpus size.

    The aggregation/semi-join key is a 60-bit md5-prefix DIGEST of the
    span, not the span string: only span EQUALITY matters, and shuffling
    one ~50-byte string per token position is a multiple-of-corpus-size
    exchange at 100 TB — the digest cuts shuffle bytes ~6-8×. Same
    portable idiom as the HLL element hash (functions/hashing.py);
    oracles replay it as CAST(('0x' || substr(md5(s),1,15)) AS BIGINT).
    Collisions only MERGE two distinct spans (overcounting sharing by a
    hair): P ≈ k²/2^61 — about 0.4% at 10^8 distinct spans per
    grading run, and both engines hash identically so the comparison
    stays bit-exact regardless.
    """
    spans = word_kgrams(
        docs,
        span,
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
    )
    # explode_OUTER + null guard: plain explode infers `size(_grams) > 0`
    # and Spark pushes it below the token projection, where it runs the
    # gram transform again with the split inlined at every start. The
    # outer form infers no filter; gram hashes are never NULL, so the
    # guard only drops the row of a NULL text, as plain explode would.
    g = spans.select(
        "doc_id", F.explode_outer("_grams").alias("span_h")
    ).where(F.col("span_h").isNotNull())
    # total span count is positional — max(n − span + 1, 1) — so it
    # computes row-locally from the token count alone: no md5, no
    # explode, no shuffle for this leg (the r6 form aggregated the
    # exploded table a third time).
    totals = spans.select(
        "doc_id",
        F.greatest(F.size("_toks") - (span - 1), F.lit(1))
        .cast("long")
        .alias("total_spans"),
    )
    # Single-materialization form: one (span, doc) multiplicity
    # aggregate, then docs-per-span as a COUNT window over the span
    # digest — both the shared-span test and the per-doc tally read the
    # same aggregated rows, so the md5 Generate pass runs ONCE (the
    # predecessor's aggregate + semi-join-back form ran it twice:
    # Catalyst re-plans each branch — semi-join pushdown, aggregate
    # collapsing — so the branches never canonicalize to a reusable
    # exchange; measured 2.5× slower cold at sf0.1). The explode is the
    # dominant cost at corpus scale — O(tokens) md5 calls — so paying
    # one extra keyed shuffle+sort of the much smaller (span, doc)
    # table to halve it is the right trade. Skew note: a pathologically
    # hot boilerplate span puts its (span, doc) rows in one window
    # partition; WindowExec spills, and at real corpus scale a
    # broadcast stop-list of ultra-high-df spans (same idiom as
    # shingle_sets' max_df cap above) bounds it.
    from pyspark.sql import Window

    gc = g.groupBy("span_h", "doc_id").agg(F.count("*").alias("_mult"))
    nd = F.count("*").over(Window.partitionBy("span_h"))
    shared_counts = (
        gc.withColumn("_nd", nd)
        .where(F.col("_nd") >= min_docs)
        .groupBy("doc_id")
        .agg(F.sum("_mult").alias("shared_spans"))
    )
    return (
        totals.join(shared_counts, "doc_id", "left")
        .select(
            "doc_id",
            "total_spans",
            F.coalesce("shared_spans", F.lit(0)).alias("shared_spans"),
            F.round(
                F.coalesce("shared_spans", F.lit(0)).cast("double")
                / F.col("total_spans").cast("double"),
                6,
            ).alias("shared_fraction"),
        )
        .transform(sort_result, "doc_id")
    )


def triangle_counts(pairs: DataFrame) -> DataFrame:
    """Per-node triangle participation over a canonical edge list
    (``doc_id_1 < doc_id_2``): each triangle a < b < c joins exactly once
    as (a,b)+(b,c)+(a,c), so no /6 direction correction is needed. Two
    shuffle joins keyed on node ids; callers should materialize ``pairs``
    first when it is derived from an expensive scan (it feeds three join
    branches)."""
    p1 = pairs.select(F.col("doc_id_1").alias("a"), F.col("doc_id_2").alias("b"))
    p2 = pairs.select(F.col("doc_id_1").alias("b"), F.col("doc_id_2").alias("c"))
    p3 = pairs.select(F.col("doc_id_1").alias("a"), F.col("doc_id_2").alias("c"))
    tri = p1.join(p2, "b").join(p3, ["a", "c"])
    member = (
        tri.select(F.col("a").alias("doc_id"))
        .unionAll(tri.select(F.col("b").alias("doc_id")))
        .unionAll(tri.select(F.col("c").alias("doc_id")))
    )
    return (
        member.groupBy("doc_id")
        .agg(F.count("*").alias("triangles"))
        .transform(sort_result, "doc_id")
    )
