"""Dedup operators: exact, n-gram Jaccard, MinHash LSH, SimHash."""

from __future__ import annotations

import pytest

from ecommerce_event_pipeline_spark.functions import dedup

BASE = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
NEAR = "the quick brown fox jumps over the lazy dog near the quiet river bank tonight"
OTHER = "completely different words about spark engines and distributed query planning"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),        # exact dup of 1
        (3, NEAR),        # near dup of 1 (one word differs)
        (4, OTHER),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark, docs):
    out = {r["canonical_doc_id"]: r for r in dedup.exact_dedup(docs).collect()}
    assert out[1]["doc_count"] == 2  # docs 1 and 2 collapse
    assert len(out) == 3


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = {
        (r["doc_id_1"], r["doc_id_2"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0          # exact dup
    assert 0.5 < pairs[(1, 3)] < 1.0     # near dup
    assert (1, 4) not in pairs           # unrelated


def test_minhash_lsh_finds_near_dup_not_unrelated(spark, docs):
    out = {
        (r["doc_id_1"], r["doc_id_2"]): r["jaccard"]
        for r in dedup.minhash_near_dupes(docs, num_hashes=32, bands=16, k=3,
                                          threshold=0.3).collect()
    }
    assert (1, 2) in out and out[(1, 2)] == 1.0
    assert (1, 3) in out
    assert (1, 4) not in out and (2, 4) not in out and (3, 4) not in out


def test_minhash_signature_is_deterministic(spark, docs):
    a = dedup.minhash_signatures(docs, num_hashes=16, k=3).collect()
    b = dedup.minhash_signatures(docs, num_hashes=16, k=3).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_simhash_identical_docs_same_fingerprint(spark, docs):
    fp = {
        r["doc_id"]: (r["simhash_hi"], r["simhash_lo"])
        for r in dedup.simhash(docs).collect()
    }
    assert fp[1] == fp[2]
    assert fp[1] != fp[4]
    # both halves stay in the unsigned 32-bit range (oracle portability)
    assert all(0 <= h < 2**32 and 0 <= l < 2**32 for h, l in fp.values())


def test_simhash_dupes_blocks_and_verifies(spark, docs):
    out = {
        (r["doc_id_1"], r["doc_id_2"]): r["hamming"]
        for r in dedup.simhash_dupes(docs, max_hamming=3).collect()
    }
    assert out[(1, 2)] == 0
    assert (1, 4) not in out


def test_simhash_dupes_rejects_radius_beyond_pigeonhole(spark, docs):
    import pytest

    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_dupes(docs, max_hamming=4)


def _union_find_labels(doc_ids, edges):
    """Reference components: doc_id -> min doc_id of its component, by a
    plain union-find with path halving (no Spark involved)."""
    parent = {d: d for d in doc_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in doc_ids}


def test_dedup_clusters_min_label_over_chain(spark):
    docs = spark.createDataFrame(
        [(i,) for i in range(1, 8)], "doc_id long"
    )
    # chain 1-2-3 (transitive), pair 5-6, singletons 4 and 7
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_id_1 long, doc_id_2 long"
    )
    labels, _rounds = dedup.dedup_clusters_star(docs, pairs)
    got = [(r["doc_id"], r["cluster_id"]) for r in labels.collect()]
    assert got == [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5), (7, 7)]


def test_star_contraction_matches_label_prop(spark):
    """Star contraction gives the min-label components on a random
    graph, checked against the union-find reference."""
    import random

    random.seed(7)
    n = 60
    edges = [(random.randrange(n), random.randrange(n)) for _ in range(50)]
    edges = [(a, b) for a, b in edges if a != b]
    docs_df = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(edges, "doc_id_1 long, doc_id_2 long")
    star_df, rounds = dedup.dedup_clusters_star(docs_df, pairs)
    got = {r["doc_id"]: r["cluster_id"] for r in star_df.collect()}
    assert got == _union_find_labels(range(n), edges)
    assert rounds <= 6  # O(log n), not O(diameter)


def test_star_contraction_handles_deep_chain(spark):
    # diameter-29 chain: min-label propagation would need 29 rounds; star
    # contraction needs ~log n
    edges = [(i, i + 1) for i in range(29)]
    docs_df = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    pairs = spark.createDataFrame(edges, "doc_id_1 long, doc_id_2 long")
    star_df, rounds = dedup.dedup_clusters_star(docs_df, pairs)
    got = {r["doc_id"]: r["cluster_id"] for r in star_df.collect()}
    assert got == _union_find_labels(range(30), edges)
    assert set(got.values()) == {0}
    assert rounds <= 7


def test_jaccard_prefix_matches_brute_force(spark, docs):
    """Prefix filtering is lossless: output identical to the all-pairs
    shared-shingle join at the same threshold (0.5 = 1/2)."""
    brute = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()
    pref = dedup.jaccard_prefix_pairs(
        docs, k=3, threshold_num=1, threshold_den=2
    ).collect()
    assert [tuple(r) for r in pref] == [tuple(r) for r in brute]
    # and the fixture actually exercises both a surviving and a pruned pair
    ids = {(r["doc_id_1"], r["doc_id_2"]) for r in pref}
    assert (1, 2) in ids and (1, 4) not in ids


def test_jaccard_prefix_boundary_thresholds(spark):
    """A pair sitting exactly ON the rational threshold is kept (>=), and
    integer prefix math handles 1-shingle docs without a crash."""
    rows = [
        (1, "a b c d e f"),   # shingles(k=3): 4
        (2, "a b c d x y"),   # shares 2 of its 4 → J = 2/6 = 1/3
        (3, "q"),             # single shingle
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.jaccard_prefix_pairs(docs, k=3, threshold_num=1, threshold_den=3)
    pairs = {(r["doc_id_1"], r["doc_id_2"]): r["common"] for r in out.collect()}
    assert pairs == {(1, 2): 2}


def test_recursive_dup_chain_walk(spark):
    """WITH RECURSIVE over canonical (increasing) pairs: reachability and
    depth follow the id-ordered chain; diamond paths dedup via COUNT
    DISTINCT."""
    spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (7, 9)], "doc_id_1 long, doc_id_2 long"
    ).createOrReplaceTempView("dup_pairs_rcte")
    out = spark.sql(
        """
        WITH RECURSIVE reach(s, n, d) AS (
          SELECT doc_id_1, doc_id_2, 1 FROM dup_pairs_rcte
          UNION ALL
          SELECT r.s, p.doc_id_2, r.d + 1
          FROM reach r JOIN dup_pairs_rcte p ON r.n = p.doc_id_1
        )
        SELECT s, COUNT(DISTINCT n) AS reachable, MAX(d) AS max_depth
        FROM reach GROUP BY s ORDER BY s
        """
    ).collect()
    rows = {r["s"]: (r["reachable"], r["max_depth"]) for r in out}
    assert rows == {1: (2, 2), 2: (1, 1), 7: (1, 1)}


def test_recursive_walk_distinct_survives_dense_lattice(spark):
    """The registered walk's SELECT DISTINCT step must keep a dense
    diamond lattice polynomial AND bit-identical to path semantics.

    A 6-layer complete bipartite chain of width 5 has 5⁵ = 3125 distinct
    paths source→sink per endpoint pair (the UNION ALL blowup regime);
    with per-step dedup each iteration holds ≤ |V|²·1 rows. Correctness:
    from a layer-i node every node in layers i+1..5 is reachable and the
    deepest hop count is 5 − i."""
    width, layers = 5, 6
    node = lambda layer, j: layer * width + j  # noqa: E731 — tiny local
    edges = [
        (node(l, a), node(l + 1, b))
        for l in range(layers - 1)
        for a in range(width)
        for b in range(width)
    ]
    spark.createDataFrame(
        edges, "doc_id_1 long, doc_id_2 long"
    ).createOrReplaceTempView("dup_pairs_rcte")
    out = spark.sql(
        """
        WITH RECURSIVE reach(s, n, d) AS (
          SELECT doc_id_1, doc_id_2, 1 FROM dup_pairs_rcte
          UNION ALL
          SELECT DISTINCT r.s, p.doc_id_2, r.d + 1
          FROM reach r JOIN dup_pairs_rcte p ON r.n = p.doc_id_1
        )
        SELECT s, COUNT(DISTINCT n) AS reachable, MAX(d) AS max_depth
        FROM reach GROUP BY s ORDER BY s
        """
    ).collect()
    rows = {r["s"]: (r["reachable"], r["max_depth"]) for r in out}
    for l in range(layers - 1):
        for a in range(width):
            assert rows[node(l, a)] == (
                width * (layers - 1 - l),
                layers - 1 - l,
            )


def test_cross_doc_span_stats(spark):
    """Shared 8-token windows across docs are counted positionally; a
    short doc contributes one truncated window, and two identical short
    docs are fully shared."""
    base = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, base + " iota kappa"),        # 3 windows, first = base
        (2, "x y " + base),               # 3 windows, last = base
        (3, "totally different words here not matching anything at all"),
        (4, "tiny doc"),                  # < span -> one truncated window
        (5, "tiny doc"),                  # identical -> shared with 4
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["total_spans"], r["shared_spans"], r["shared_fraction"])
        for r in dedup.cross_doc_span_stats(docs, span=8).collect()
    }
    assert out[1][0] == 3 and out[1][1] == 1      # only the base window shared
    assert out[2][0] == 3 and out[2][1] == 1
    assert out[3] == (2, 0, 0.0)  # 9 tokens -> 2 windows, none shared
    assert out[4] == (1, 1, 1.0) and out[5] == (1, 1, 1.0)


def test_triangle_counts_canonical_edges(spark):
    """Two triangles sharing edge (1,2): node 1 and 2 participate twice,
    3 and 4 once; the chain edge (4,5) forms no triangle."""
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4), (4, 5)],
        "doc_id_1 long, doc_id_2 long",
    )
    out = {r["doc_id"]: r["triangles"]
           for r in dedup.triangle_counts(pairs).collect()}
    assert out == {1: 2, 2: 2, 3: 1, 4: 1}


class TestBenchCacheCoherence:
    """The bench runs with SPARK_GRAFT_CACHE_EVENTS=1, which routes the
    dedup family through four shared bases in the session memo (shingle
    sets, the θ=0.2 Jaccard pair table, the LSH candidate table, the
    SimHash fingerprints) while the correctness gate runs unshared — so a
    memo-keying or threshold-filter bug would corrupt only the benchmarked
    plans. Pin cached == uncached on representative consumers of all four."""

    @pytest.mark.parametrize(
        "name",
        [
            "ngram_jaccard_pairs",
            "dedup_corpus_stats",
            "lsh_eval_report",
            "simhash_near_dupes",
        ],
    )
    def test_cached_results_match_uncached(self, spark, monkeypatch, name):
        import __spark_entry__ as e
        from ecommerce_event_pipeline_spark.sources.readers import clear_memo

        sf = "/root/testdata/sf0.001"
        fn = e.queries()[name]
        monkeypatch.delenv("SPARK_GRAFT_CACHE_EVENTS", raising=False)
        plain = [tuple(r) for r in fn(spark, sf).collect()]
        monkeypatch.setenv("SPARK_GRAFT_CACHE_EVENTS", "1")
        try:
            cached = [tuple(r) for r in fn(spark, sf).collect()]
            again = [tuple(r) for r in fn(spark, sf).collect()]  # cache hit
        finally:
            # unpersist so the session fixture carries no cached state
            clear_memo()
        assert sorted(map(str, cached)) == sorted(map(str, plain))
        assert sorted(map(str, again)) == sorted(map(str, plain))
