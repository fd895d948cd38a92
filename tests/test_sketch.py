"""Count-min sketch: over-estimate guarantee, mergeability, determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from ecommerce_event_pipeline_spark.functions import sketch


def _tokens(spark, words):
    return spark.createDataFrame([(w,) for w in words], "token string")


def test_cms_never_underestimates(spark):
    words = ["a"] * 50 + ["b"] * 20 + [f"w{i}" for i in range(200)]
    toks = _tokens(spark, words)
    cms = sketch.cms_build(toks, depth=4, width=64)
    truth = {r["token"]: r["cnt"] for r in toks.groupBy("token").agg(F.count("*").alias("cnt")).collect()}
    queries = _tokens(spark, list(truth))
    est = {
        r["token"]: r["cms_estimate"]
        for r in sketch.cms_estimate(cms, queries).collect()
    }
    assert set(est) == set(truth)
    for tok, true_n in truth.items():
        assert est[tok] >= true_n  # collisions only ADD
    # heavy hitters estimate closely at this load factor
    assert est["a"] <= 50 + 10 and est["b"] <= 20 + 10


def test_cms_merges_by_cell_sum(spark):
    half1 = ["x"] * 10 + ["y"] * 5
    half2 = ["x"] * 7 + ["z"] * 3
    c1 = sketch.cms_build(_tokens(spark, half1), depth=4, width=32)
    c2 = sketch.cms_build(_tokens(spark, half2), depth=4, width=32)
    merged = (
        c1.cells.unionByName(c2.cells)
        .groupBy("row", "bucket")
        .agg(F.sum("cell").alias("cell"))
    )
    whole = sketch.cms_build(_tokens(spark, half1 + half2), depth=4, width=32)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.cells.collect()))


def test_cms_unknown_token_estimates_from_empty_cells(spark):
    cms = sketch.cms_build(_tokens(spark, ["only"]), depth=4, width=32)
    est = sketch.cms_estimate(cms, _tokens(spark, ["absent-token"])).collect()
    # the md5 buckets are deterministic: 'absent-token' shares no bucket
    # with 'only' at d=4/w=32, so every probe hits an empty cell and the
    # coalesce(0) path must produce an exact 0 — pinning the left-join arm
    assert est[0]["cms_estimate"] == 0


def test_heavy_hitters_exact_and_partition_independent(spark):
    """The MG candidate set varies with partitioning, but the verified
    output must equal the brute-force GROUP BY/HAVING exactly for every
    partition layout."""
    from pyspark.sql import functions as F

    # zipf-ish stream: token t_i appears 2^(8-i) times, plus a long tail
    rows = [(f"t{i}",) for i in range(8) for _ in range(1 << (8 - i))]
    rows += [(f"tail{j}",) for j in range(300)]
    toks = spark.createDataFrame(rows, "token string")
    n = len(rows)
    k = 20
    brute = sorted(
        (t, c)
        for t, c in (
            (r["token"], r["cnt"])
            for r in toks.groupBy("token").agg(F.count("*").alias("cnt")).collect()
        )
        if c * k > n
    )
    for parts in (1, 7, 32):
        got = sorted(
            (r["token"], r["freq"])
            for r in sketch.heavy_hitters(toks.repartition(parts), k=k).collect()
        )
        assert got == brute, f"mismatch at {parts} partitions"


def test_misra_gries_candidates_superset(spark):
    """Every true heavy hitter survives the per-partition sketch pass."""
    from pyspark.sql import functions as F

    rows = [("hot",)] * 500 + [(f"cold{j}",) for j in range(400)]
    toks = spark.createDataFrame(rows, "token string").repartition(11)
    cands = {
        r["token"] for r in sketch.misra_gries_candidates(toks, k=5).collect()
    }
    assert "hot" in cands


def test_hll_estimate_within_theory_error(spark):
    """Relative error of the p=8 HLL should sit well inside ~3·1.04/√256
    (≈20%) for cardinalities around and above the bucket count; registers
    from split shards must merge (max per bucket) to the whole-set
    sketch."""
    from pyspark.sql import functions as F

    n = 5000
    vals = spark.range(n).select(F.lit(1).alias("g"), F.col("id").alias("v"))
    regs = sketch.hll_sketch(vals, ["g"], "v")
    est = sketch.hll_estimate(regs, ["g"]).collect()[0]["estimate"]
    assert abs(est - n) / n < 0.2, est

    # mergeability: union of per-shard registers, max per bucket
    a = sketch.hll_sketch(vals.where(F.col("v") % 2 == 0), ["g"], "v")
    b = sketch.hll_sketch(vals.where(F.col("v") % 2 == 1), ["g"], "v")
    merged = (
        a.unionByName(b)
        .groupBy("g", "bucket")
        .agg(F.max("m_rho").alias("m_rho"))
    )
    whole = {(r["bucket"], r["m_rho"]) for r in regs.collect()}
    got = {(r["bucket"], r["m_rho"]) for r in merged.collect()}
    assert got == whole


def test_hll_small_range_correction_exact_tiny_sets(spark):
    """With very few distincts the linear-counting branch engages and the
    estimate lands near truth (it cannot be wildly off at tiny n)."""
    from pyspark.sql import functions as F

    vals = spark.range(10).select(F.lit(1).alias("g"), F.col("id").alias("v"))
    row = sketch.hll_estimate(sketch.hll_sketch(vals, ["g"], "v"), ["g"]).collect()[0]
    assert row["v_zero"] >= 246  # ≤10 buckets touched
    assert abs(row["estimate"] - 10) <= 2


def test_bloom_prune_no_false_negatives_and_prunes(spark):
    """Every row whose key IS in the build set must survive pruning
    (completeness — the correctness-critical property); most foreign keys
    must be dropped (the point of the filter)."""
    from pyspark.sql import functions as F

    keys = spark.range(100).select((F.col("id") * 7).alias("k"))
    bloom = sketch.bloom_build(keys, "k", num_bits=4096, num_hashes=3)
    probe = spark.range(10000).select(F.col("id").alias("k"))
    kept = {r["k"] for r in sketch.bloom_prune(probe, "k", bloom).collect()}
    member = {i * 7 for i in range(100)}
    assert member <= kept                      # no false negatives, ever
    fp = len(kept - member) / (10000 - len(member))
    assert fp < 0.05, fp                       # sparse filter -> tiny fp rate


def test_bloom_prune_composes_with_join_exactly(spark):
    """bloom_prune -> join == plain join (false positives die in the
    join), the invariant the registry oracle checks at fixture scale."""
    from pyspark.sql import functions as F

    dim = spark.range(50).select((F.col("id") * 3).alias("k"), F.col("id").alias("v"))
    fact = spark.range(2000).select((F.col("id") % 120).alias("k"))
    bloom = sketch.bloom_build(dim.select("k"), "k", num_bits=1024)
    plain = fact.join(dim, "k").groupBy("k").count().collect()
    pruned = sketch.bloom_prune(fact, "k", bloom).join(dim, "k").groupBy("k").count().collect()
    assert sorted(map(tuple, pruned)) == sorted(map(tuple, plain))


def test_hll_fine_grain_registers_fold_to_any_rollup(spark):
    """The mergeability property the HLL family rests on (and that
    hll_weekly_rollup demonstrates): registers sketched at a FINE grain
    and max-merged over folded-out keys equal the registers sketched
    directly at the coarse grain — for every rollup the family uses
    (date from (week,date,type), week from the same, type from the
    same). Max is invariant to duplicates and grouping order, so the
    fold is bit-exact, not approximate. (A round-8 experiment shared one
    cached fine-grain table across the three HLL queries on this basis;
    correct, but the cache barrier cost more one-shot than the saved
    hashing — see BENCHNOTES — so the property is pinned here while the
    queries keep their direct single-pass forms.)"""
    from pyspark.sql import functions as F

    rows = [
        ("2026-01-05", "a", f"u{i % 37}") for i in range(300)
    ] + [
        ("2026-01-06", "b", f"u{i % 23}") for i in range(200)
    ] + [
        ("2026-01-12", "a", f"v{i % 41}") for i in range(250)
    ]
    df = spark.createDataFrame(rows, "event_date string, event_type string, user_id string").select(
        F.to_date("event_date").alias("event_date"),
        "event_type",
        "user_id",
        F.date_trunc("week", F.col("event_date")).cast("date").alias("week_start"),
    )
    fine = sketch.hll_sketch(df, ["week_start", "event_date", "event_type"], "user_id")

    def rows_of(d):
        return sorted(tuple(r) for r in d.collect())

    for keys in (["event_date"], ["week_start"], ["event_type"]):
        folded = fine.groupBy(*keys, "bucket").agg(F.max("m_rho").alias("m_rho"))
        direct = sketch.hll_sketch(df, keys, "user_id")
        assert rows_of(folded) == rows_of(direct), keys


def test_ddsketch_buckets_merge_by_addition_and_bound_error(spark):
    """T165 pins. (1) Merge invariance: per-day bucket counts summed
    across days must equal the buckets built directly from all rows —
    the additive-merge property that licenses sketch-at-ingest-grain /
    re-aggregate-anywhere. (2) Relative-error bound: the crossing
    bucket's lower edge is within one sub-bucket width (2^p/16) below
    the true value at every magnitude, i.e. lo ≤ v < lo + 2^p/16 + 1
    for the bucket v lands in — checked exhaustively over five orders
    of magnitude."""
    rows = [(d % 7, v) for d, v in enumerate(
        [1, 2, 3, 9, 17, 99, 100, 101, 999, 1000, 12345, 99999,
         123456, 999999, 5, 7, 31, 33, 64, 65]
    )]
    df = spark.createDataFrame(rows, "day int, cents bigint")
    pexp, sexp = sketch.log_bucket_exprs("cents", m=16)
    b = df.selectExpr("day", "cents", f"{pexp} AS p", f"{sexp} AS s")
    daily = b.groupBy("day", "p", "s").agg(F.count("*").alias("cnt"))
    merged = {
        (r["p"], r["s"]): r["c"]
        for r in daily.groupBy("p", "s").agg(F.sum("cnt").alias("c")).collect()
    }
    direct = {
        (r["p"], r["s"]): r["c"]
        for r in b.groupBy("p", "s").agg(F.count("*").alias("c")).collect()
    }
    assert merged == direct
    # error bound: lower edge within one sub-bucket width of the value
    for r in b.select("cents", "p", "s").collect():
        lo = (1 << r["p"]) + (r["s"] * (1 << r["p"])) // 16
        width = max(1, (1 << r["p"]) // 16)
        assert lo <= r["cents"] <= lo + width, (r["cents"], lo, width)
        # relative error of reporting lo is bounded by width / 2^p ≤ 1/16
        # (+1 integer-truncation slack at tiny octaves)
        assert (r["cents"] - lo) <= (1 << r["p"]) // 16 + 1
