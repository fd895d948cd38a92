"""Mergeable frequency sketches — the approximate tier for corpus-scale
token statistics.

A count-min sketch summarizes token frequencies in a fixed d×w cell table
regardless of corpus size: each of d hash rows maps a token to one of w
buckets and accumulates its count; a point estimate is the MIN over the d
cells the token hashes to — always an over-estimate (collisions only add),
within eN of truth with probability 1−δ for w = ⌈e/ε⌉, d = ⌈ln(1/δ)⌉.

Scale shape: the cell table is built with one explode + one (d·w)-key
aggregation (map-side partial combine collapses each partition to ≤ d·w
rows before the shuffle), and sketches from different corpus shards merge
by cell-wise SUM — the property that makes the sketch work on a stream or
a 100 TB fan-in where exact per-token counts would need a corpus-wide
shuffle on a billion-key domain.

The bucket hash is an md5 prefix (``functions/hashing.py``, not xxhash64)
so the whole sketch — cells and estimates — is reproducible by the DuckDB
oracle byte-for-byte, keeping even the approximate tier
value-hash-checkable.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.windows import sort_result
from .hashing import md5_prefix_long


def _bucket(token: F.Column, row: F.Column, width: int) -> F.Column:
    """Row-salted engine-portable bucket (see functions/hashing.py)."""
    return (md5_prefix_long(row, token) % width).cast("int")


class CMS(NamedTuple):
    """A built sketch with its geometry attached: estimates computed with
    a different depth/width than the build probe the WRONG buckets and
    silently void the over-estimate guarantee, so the two travel together."""

    cells: DataFrame  # (row int, bucket int, cell long)
    depth: int
    width: int


def cms_build(
    tokens: DataFrame,
    depth: int = 4,
    width: int = 256,
    weight: str | None = None,
) -> CMS:
    """Build the d×w cell table from a ``(token[, weight])`` DataFrame.

    ``weight=None`` counts rows (a raw token stream); a weight column sums
    pre-aggregated counts — same totals, one input row per distinct token.
    Merge two sketches with equal geometry by unioning ``cells`` and
    summing ``cell`` per (row, bucket).
    """
    spark = tokens.sparkSession
    rows = spark.range(depth).select(F.col("id").cast("int").alias("row"))
    agg = F.sum(weight).alias("cell") if weight else F.count("*").alias("cell")
    cells = (
        tokens.crossJoin(F.broadcast(rows))
        .groupBy("row", _bucket(F.col("token"), F.col("row"), width).alias("bucket"))
        .agg(agg)
    )
    return CMS(cells, depth, width)


def cms_estimate(cms: CMS, queries: DataFrame) -> DataFrame:
    """Point-estimate each query token: min over its d cells.

    ``queries`` has a ``token`` column; the (tiny) query×depth probe set
    broadcasts against the (tiny) cell table — no corpus access at all,
    which is the point of carrying a sketch.
    """
    spark = cms.cells.sparkSession
    rows = spark.range(cms.depth).select(F.col("id").cast("int").alias("row"))
    probes = queries.crossJoin(F.broadcast(rows)).select(
        "token",
        "row",
        _bucket(F.col("token"), F.col("row"), cms.width).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(cms.cells), ["row", "bucket"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce("cell", F.lit(0))).alias("cms_estimate"))
    )


def misra_gries_candidates(tokens: DataFrame, k: int = 200) -> DataFrame:
    """Per-partition Misra–Gries summaries (k counters each) — a bounded
    superset of every token with global frequency > n/k.

    Guarantee (averaging argument): if a token's global count f > n/k,
    then in at least one partition f_p > n_p/k, and Misra–Gries never
    evicts a token whose partition count exceeds n_p/k — so the UNION of
    the per-partition survivor sets contains every global heavy hitter.
    The union is ≤ k·partitions rows total, independent of corpus size;
    which LIGHT tokens also survive depends on arrival order, which is
    why callers must re-count candidates exactly (``heavy_hitters``)
    before claiming frequencies.

    mapInPandas (Arrow-batched): each Arrow batch is collapsed to exact
    counts with ``value_counts`` (vectorized — no per-token Python), then
    MERGED into the running k-counter summary the mergeable-summaries
    way (Agarwal et al., PODS'12): add counts, and when more than k
    tokens are tracked subtract the (k+1)-th largest counter from all and
    drop the non-positive. Each subtraction of δ retires δ·(k+1)
    arrivals, so the total decrement within a partition is ≤ n_p/(k+1) —
    strictly under the n_p/k survival bound above, which is why the
    batch-merge variant keeps the exact same superset guarantee as
    token-at-a-time Misra–Gries (1982) while staying vectorized.
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        [
            StructField("token", StringType()),
            StructField("lower_bound", LongType()),
        ]
    )

    def _mg(batches):
        import pandas as pd

        counters = pd.Series(dtype="int64")
        for pdf in batches:
            counters = counters.add(pdf["token"].value_counts(), fill_value=0)
            if len(counters) > k:
                # mergeable-MG compaction: subtract the (k+1)-th largest
                # count from everything; ties with it go to zero, so at
                # most k strictly-larger survivors remain
                kth = int(counters.nlargest(k + 1).iloc[-1])
                counters = counters[counters > kth] - kth
        if len(counters):
            yield pd.DataFrame(
                {
                    "token": counters.index.astype(str),
                    "lower_bound": counters.astype("int64").to_numpy(),
                }
            )

    return tokens.select("token").mapInPandas(_mg, out_schema)


def heavy_hitters(tokens: DataFrame, k: int = 200) -> DataFrame:
    """Exact heavy hitters (global frequency > n/k) via the two-pass
    sketch-then-verify pattern: pass 1 collapses each partition to ≤ k
    Misra–Gries survivors (no corpus-wide shuffle — the shuffled
    candidate union is ≤ k·partitions rows); pass 2 re-scans the stream,
    keeps only candidate tokens (broadcast semi-join BEFORE the shuffle,
    so the zipfian long tail never shuffles), counts them exactly, and
    applies the threshold with integer arithmetic.

    Output is EXACT and partitioning-independent: the candidate set
    varies with arrival order but is always a superset of the true heavy
    hitters, and the exact re-count discards the extras — which is what
    makes this oracle-able by a plain GROUP BY/HAVING in DuckDB.
    """
    cands = misra_gries_candidates(tokens, k).select("token").distinct()
    total = tokens.agg(F.count("*").alias("_n"))
    exact = (
        tokens.join(F.broadcast(cands), "token")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .where(F.col("freq") * k > F.col("_n"))
        .select(
            "token",
            "freq",
            F.round(F.col("freq") * 100.0 / F.col("_n").cast("double"), 4).alias(
                "share_pct"
            ),
        )
        .transform(sort_result, F.desc("freq"), "token")
    )


#: HLL geometry: p = 8 → m = 256 buckets from the top 8 bits of a 60-bit
#: md5-derived hash; the remaining 52 bits feed the leading-zero count.
HLL_P = 8
HLL_M = 1 << HLL_P
_HLL_W_BITS = 60 - HLL_P  # 52
_HLL_W_MOD = 1 << _HLL_W_BITS
#: alpha_m · m² · 2^52 pre-multiplied to ONE double literal so the raw
#: estimate is a single division of that literal by an exact integer —
#: bit-identical in any engine (alpha_256 = 0.7213 / (1 + 1.079/256)).
#: scale exponent 53 = max rho, so every register term 2^(53−rho) is a
#: NON-NEGATIVE power of two (rho ∈ [1, 53]; empty buckets contribute
#: 2^53) and the 256-bucket sum stays under 2^62 — exact BIGINT.
_HLL_SCALE_BITS = _HLL_W_BITS + 1  # 53
HLL_EST_NUMERATOR = (0.7213 / (1 + 1.079 / HLL_M)) * HLL_M * HLL_M * float(1 << _HLL_SCALE_BITS)


def hll_sketch(values: DataFrame, group_cols: list[str], value_col: str, salt: str = "hll") -> DataFrame:
    """Per-group HyperLogLog register table — ENGINE-PORTABLE like the
    count-min sketch above: the element hash is a 60-bit md5 prefix, the
    register is max(rho) per 256-way bucket, and every step is integer
    arithmetic both engines reproduce bit-for-bit (rho via the length of
    the binary string — exact, unlike float log2).

    Returns (group_cols..., bucket int, m_rho int). Registers from
    corpus shards MERGE by max per (group, bucket) — the property that
    replaces a 100 TB distinct-shuffle with a 256-row-per-group
    fan-in (Flajolet et al. 2007).
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + "#"), F.col(value_col).cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    # integer `div`, never float `/`: the hash is 60 bits, past double
    # exactness — a float shift would mis-bucket high hashes
    split = values.select(*group_cols, h.alias("_hv")).select(
        *group_cols,
        F.expr(f"_hv div {_HLL_W_MOD}").alias("bucket"),
        (F.col("_hv") % _HLL_W_MOD).alias("_w"),
    )
    rho = F.when(F.col("_w") == 0, F.lit(_HLL_W_BITS + 1)).otherwise(
        F.lit(_HLL_W_BITS + 1) - F.length(F.conv(F.col("_w"), 10, 2))
    )
    return (
        split.select(*group_cols, "bucket", rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("m_rho"))
    )


def hll_estimate(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Cardinality estimate from a register table, hash-comparable across
    engines: the register sum Σ 2^(−rho) is carried as the EXACT integer
    Σ 2^(53−rho) (empty buckets contribute 2^53 each; ≤ 256·2^53 < 2^62),
    so the raw estimate is one double division of two exactly-agreed
    numbers. Small-range correction (E ≤ 2.5m, V > 0 → m·ln(m/V)) uses
    one ln call, rounded to 2 decimals.

    PORTABILITY: only ``v_zero`` and ``sum_scaled`` are bit-exact across
    engines. The ``estimate`` column is a pure function of them but goes
    through libm ``ln()``, which is NOT IEEE-754 correctly rounded (only
    sqrt is): a last-ulp JVM-vs-system-libm difference can flip
    ROUND(x,2) on a boundary row — it did, in the r05 driver grade.
    Never put ``estimate`` in a cross-engine hash-compared projection;
    hash the integer state and tolerance-check the estimate (pytest, or
    :func:`hll_estimate_value` on the collected integers)."""
    per_group = registers.groupBy(*group_cols).agg(
        F.count("*").alias("_present"),
        # SQL expr: the Python shiftleft() wrapper takes only a literal
        # shift amount, the SQL function takes an expression
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_SCALE_BITS} - m_rho)")
        ).alias("_sum_present"),
    )
    v_zero = F.lit(HLL_M) - F.col("_present")
    sum_scaled = F.col("_sum_present") + v_zero * F.lit(1 << _HLL_SCALE_BITS).cast(
        "long"
    )
    raw_e = F.lit(HLL_EST_NUMERATOR) / sum_scaled.cast("double")
    est = F.when(
        (raw_e <= 2.5 * HLL_M) & (v_zero > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v_zero.cast("double")),
    ).otherwise(raw_e)
    return per_group.select(
        *group_cols,
        v_zero.cast("long").alias("v_zero"),
        sum_scaled.cast("long").alias("sum_scaled"),
        F.round(est, 2).alias("estimate"),
    )


def hll_estimate_value(v_zero: int, sum_scaled: int) -> float:
    """The HLL estimate as a plain-Python function of the bit-exact
    integer state (v_zero, sum_scaled) — the reference arithmetic for
    pytest tolerance checks on queries that hash only the integers
    (hll_distinct_daily / hll_weekly_rollup / hll_segment_overlap).
    Mirrors :func:`hll_estimate`'s column expression exactly, unrounded."""
    import math

    raw_e = HLL_EST_NUMERATOR / float(sum_scaled)
    if raw_e <= 2.5 * HLL_M and v_zero > 0:
        return float(HLL_M) * math.log(float(HLL_M) / float(v_zero))
    return raw_e


class Bloom(NamedTuple):
    """A built Bloom filter as a DENSE word array (num_bits/64 longs) plus
    the geometry that must travel with it — probing with different
    num_bits/num_hashes/salt reads the wrong bits and silently loses the
    no-false-negative guarantee."""

    words: "list[int]"
    num_bits: int
    num_hashes: int
    salt: str


def bloom_build(
    keys: DataFrame,
    key_col: str,
    num_bits: int = 8192,
    num_hashes: int = 3,
    salt: str = "bf",
) -> Bloom:
    """Build an engine-portable Bloom filter over a (small) key set: k
    md5-salted bit positions per key, words OR-merged by a (≤ num_bits/64)-
    key aggregation. The driver collect is BOUNDED by geometry (128 longs
    at defaults), never by key count — same justification as the k-means
    centroid collect in functions/similarity.py.

    Portability: positions are md5-prefix hashes (functions/hashing.py),
    so an oracle — or another engine entirely — reproduces the exact same
    bit pattern; no reliance on Spark's internal bloom_filter_agg."""
    spark = keys.sparkSession
    hs = spark.range(num_hashes).select(F.col("id").cast("int").alias("_h"))
    pos = (
        keys.select(F.col(key_col).alias("_k"))
        .crossJoin(F.broadcast(hs))
        .select(
            (
                md5_prefix_long(
                    F.concat(F.lit(salt), F.col("_h").cast("string")), F.col("_k")
                )
                % num_bits
            ).alias("_pos")
        )
    )
    rows = (
        pos.select(
            F.shiftright("_pos", 6).alias("_w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))").alias(
                "_mask"
            ),
        )
        .groupBy("_w")
        .agg(F.expr("bit_or(_mask)").alias("_word"))
        .collect()
    )
    dense = [0] * (num_bits // 64)
    for r in rows:
        dense[r["_w"]] = r["_word"]
    return Bloom(dense, num_bits, num_hashes, salt)


def bloom_prune(df: DataFrame, key_col: str, bloom: Bloom) -> DataFrame:
    """Drop rows whose key is DEFINITELY absent from the filter — the
    explicit, cross-engine-checkable form of a runtime join filter: the
    probe is a pure scan-side expression (k md5 hashes + array index +
    bitwise AND per row, no join, no shuffle), so at 100 TB the fact
    table thins BEFORE the exchange feeding the real join. False
    positives survive pruning and are removed by the join itself, which
    is why a bloom-pruned join is oracled by the PLAIN join — any
    false-negative bug would drop result rows and hash-mismatch."""
    arr = F.array(*[F.lit(int(w)) for w in bloom.words])
    out = df
    cond = F.lit(True)
    tmp: list[str] = []
    for h in range(bloom.num_hashes):
        p, m = f"_bfp{h}", f"_bfm{h}"
        tmp += [p, m]
        out = out.withColumn(
            p,
            md5_prefix_long(F.lit(f"{bloom.salt}{h}"), F.col(key_col))
            % bloom.num_bits,
        ).withColumn(
            m, F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({p} % 64 AS INT))")
        )
        word = F.element_at(arr, (F.shiftright(F.col(p), 6) + 1).cast("int"))
        cond = cond & (word.bitwiseAND(F.col(m)) != 0)
    return out.where(cond).drop(*tmp)


def log_bucket_exprs(value_col: str = "cents", m: int = 16) -> tuple[str, str]:
    """SQL expression strings ``(p_expr, s_expr)`` for the DDSketch-family
    log-domain bucket of a positive BIGINT column: octave
    p = floor(log2(v)) computed engine-portably as ``length(bin(v)) − 1``
    (pure integer/string ops — no libm, so the JVM and DuckDB replay it
    bit-identically), and linear sub-bucket
    s = ((v − 2^p)·m) div 2^p ∈ [0, m), giving ≤ 1/m relative bucket
    width at every magnitude. Shared by the quantile query
    (``queries/sketches.ddsketch_value_quantiles``) and its pytest pins,
    so the two can never silently diverge on a one-sided retune of
    ``m``. The DuckDB oracle SQL spells the same arithmetic out
    literally, as every oracle string does by design."""
    p = f"length(bin({value_col})) - 1"
    pow2 = f"shiftleft(CAST(1 AS BIGINT), {p})"
    s = f"(({value_col} - {pow2}) * {m}) div {pow2}"
    return p, s
