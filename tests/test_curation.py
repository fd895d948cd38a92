"""Corpus-curation operators: contamination, chunking, packing, PII,
quality rules, shard assignment, semantic dedup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ecommerce_event_pipeline_spark.functions import curation

BENCH = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
CLEAN = "totally unrelated words about spark engines and query planning today"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # doc_id % 20 == 0 → benchmark slice
        (0, BENCH),
        (20, "lambda mu nu xi omicron pi rho sigma tau upsilon"),
        # contaminated: doc 1 IS the benchmark doc verbatim
        (1, BENCH),
        # partial overlap: shares a 5-token prefix with the benchmark
        (2, "alpha beta gamma delta epsilon completely different tail words here"),
        (3, CLEAN),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_contamination_scores(spark, docs):
    out = {
        r["doc_id"]: r
        for r in curation.contamination_check(docs, k=3, threshold=0.5).collect()
    }
    assert set(out) == {1, 2, 3}  # benchmark docs excluded from output
    assert out[1]["containment"] == 1.0 and out[1]["is_contaminated"]
    assert 0.0 < out[2]["containment"] < 1.0
    assert out[3]["containment"] == 0.0 and not out[3]["is_contaminated"]


def test_doc_chunks_cover_and_overlap(spark):
    text = " ".join(f"t{i}" for i in range(150))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    chunks = curation.doc_chunks(df, chunk_tokens=64, stride=48).collect()
    # starts at 1, 49, 97, 145 → 4 chunks
    assert [c["chunk_index"] for c in chunks] == [0, 1, 2, 3]
    assert chunks[0]["n_tokens"] == 64
    assert chunks[3]["n_tokens"] == 150 - 144  # short tail chunk
    # consecutive chunks overlap by chunk_tokens - stride = 16 tokens
    c0 = chunks[0]["chunk_text"].split(" ")
    c1 = chunks[1]["chunk_text"].split(" ")
    assert c0[48:] == c1[:16]
    # full coverage: union of chunk tokens == original tokens
    seen = set()
    for c in chunks:
        seen.update(c["chunk_text"].split(" "))
    assert seen == set(text.split(" "))


def test_doc_chunks_short_doc_single_chunk(spark):
    df = spark.createDataFrame([(1, "just three tokens")], "doc_id long, text string")
    chunks = curation.doc_chunks(df, chunk_tokens=64, stride=48).collect()
    assert len(chunks) == 1 and chunks[0]["n_tokens"] == 3


def test_pack_sequences_matches_naive_cumsum(spark):
    # irregular doc lengths across several shards (shard_size=3)
    lengths = [5, 130, 7, 260, 1, 90, 512, 44, 3, 700]
    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(lengths)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in curation.pack_sequences(df, budget=128, shard_size=3).collect()
    }
    cum = 0
    for i, n in enumerate(lengths):
        r = out[i]
        assert r["start_offset"] == cum
        assert r["bin_id"] == cum // 128
        assert r["offset_in_bin"] == cum % 128
        assert r["bins_spanned"] == (cum + n - 1) // 128 - cum // 128 + 1
        cum += n


def test_pii_scrub_plants_and_removes_everything(spark):
    base = spark.createDataFrame(
        [(i, f"plain words number {i}") for i in range(100)],
        "doc_id long, text string",
    )
    planted = curation.plant_pii(base)
    out = {r["doc_id"]: r for r in curation.pii_scrub(planted).collect()}
    assert out[35]["n_emails"] == 1 and out[35]["n_phones"] == 1  # 35 = 5·7
    assert out[55]["n_urls"] == 1 and out[55]["n_emails"] == 1    # 55 = 5·11
    assert out[3]["n_emails"] == out[3]["n_phones"] == out[3]["n_urls"] == 0
    # nothing PII-shaped survives the scrub
    scrubbed = planted.withColumn(
        "text",
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.col("text"), curation.PII_PATTERNS["url"], "<URL>"
                ),
                curation.PII_PATTERNS["email"],
                "<EMAIL>",
            ),
            curation.PII_PATTERNS["phone"],
            "<PHONE>",
        ),
    )
    leftovers = curation.pii_scrub(scrubbed).where(
        (F.col("n_emails") > 0) | (F.col("n_phones") > 0) | (F.col("n_urls") > 0)
    )
    assert leftovers.count() == 0


def test_quality_flags_each_rule(spark):
    rows = [
        # keep-able prose: 30 tokens, all distinct, stopwords present,
        # ordinary token lengths
        (1, "the a of to in is it and or an " + " ".join(f"word{i}" for i in range(20))),
        (2, "too short doc"),                                # too_short
        (3, " ".join(["the"] * 500)),                        # too_long+low_div
        (4, " ".join(["zq"] * 30)),                          # no_stopwords+low_div
        (5, "the " + " ".join(["abcdefghijklmnop"] * 29)),   # bad_token_len
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "lang", F.lit("en")
    )
    out = {r["doc_id"]: r for r in curation.quality_flags(df).collect()}
    assert out[1]["keep"] and out[1]["n_failed"] == 0
    assert out[2]["too_short"] and not out[2]["keep"]
    assert out[3]["too_long"] and out[3]["low_diversity"]
    assert out[4]["no_stopwords"]
    assert out[5]["bad_token_len"]
    for r in out.values():  # n_failed is consistent with the flag columns
        assert r["n_failed"] == sum(
            bool(r[c]) for c in curation.QUALITY_RULES
        )


def test_training_shards_deterministic_and_dense(spark):
    df = spark.createDataFrame(
        [(i, "x") for i in range(200)], "doc_id long, text string"
    )
    a = curation.training_shards(df, n_shards=8, seed=7).collect()
    b = curation.training_shards(df, n_shards=8, seed=7).collect()
    assert a == b  # reproducible
    assert len(a) == 200 and len({r["doc_id"] for r in a}) == 200
    by_shard: dict[int, list[int]] = {}
    for r in a:
        by_shard.setdefault(r["shard_id"], []).append(r["shard_pos"])
    assert set(by_shard) <= set(range(8))
    for positions in by_shard.values():  # dense 1..n per shard
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # a different seed reshuffles
    c = curation.training_shards(df, n_shards=8, seed=8).collect()
    assert c != a


def _planted_embeddings(spark):
    """Three well-separated axis clusters; vec 11 ≈ vec 10, vec 21 ≈ vec 20."""
    import numpy as np

    rng = np.random.RandomState(0)
    rows = []
    for vid in range(30):
        axis = vid // 10
        base = np.zeros(8)
        base[axis] = 1.0
        noise = rng.normal(0, 0.05, 8)
        if vid in (11, 21):  # near-dup of the previous vector
            prev = rows[vid - 1][1]
            vec = [v + float(n) * 0.01 for v, n in zip(prev, noise)]
        else:
            vec = (base + noise).tolist()
        rows.append((vid, [float(v) for v in vec], axis))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_semantic_dedup_drops_planted_dups(spark):
    emb = _planted_embeddings(spark)
    out = {
        r["vec_id"]: r
        for r in curation.semantic_dedup(
            emb, n_clusters=3, threshold=0.95, kmeans_iters=3
        ).collect()
    }
    assert len(out) == 30
    assert not out[11]["keep"] and out[11]["duplicate_of"] == 10
    assert not out[21]["keep"] and out[21]["duplicate_of"] == 20
    # recall vs brute force: every brute-force pair within one cluster is
    # found (clusters are well separated, so all pairs are intra-cluster)
    from ecommerce_event_pipeline_spark.functions.similarity import (
        blocked_cosine_pairs,
    )

    brute = blocked_cosine_pairs(
        emb.withColumn("one", F.lit(1)), block_col="one", threshold=0.95
    )
    dropped = {v for v, r in out.items() if not r["keep"]}
    assert {r["vec_id_2"] for r in brute.collect()} <= dropped | {
        r["vec_id_1"] for r in brute.collect()
    }


def test_semantic_dedup_static_keep_rule_invariants(spark):
    from ecommerce_event_pipeline_spark.functions.curation import (
        semantic_dedup_static,
    )
    from ecommerce_event_pipeline_spark.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = semantic_dedup_static(emb, threshold=0.7).collect()
    assert len(out) == emb.count()
    by_id = {r["vec_id"]: r for r in out}
    for r in out:
        if r["keep"]:
            assert r["duplicate_of"] is None
        else:
            # dup target is a lower id in the SAME cluster, and itself kept
            # or dropped — but always lower
            assert r["duplicate_of"] < r["vec_id"]
            assert by_id[r["duplicate_of"]]["cluster_id"] == r["cluster_id"]
    # deterministic across runs
    again = semantic_dedup_static(emb, threshold=0.7).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in out]


def test_weighted_sample_deterministic_and_biased(spark):
    """A-ES sampling: pure function of (salt, doc_id) — two runs agree —
    and weight-proportional: heavy docs are overrepresented vs a uniform
    draw of the same size."""
    from pyspark.sql import functions as F

    rows = [
        (i, "x", "en", "web", 1000 if i % 10 == 0 else 10) for i in range(1000)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    a = curation.weighted_sample(docs, m=100).collect()
    b = curation.weighted_sample(docs, m=100).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) == 100
    # 10% of docs carry 100x weight -> they should dominate the sample
    heavy = sum(1 for r in a if r["weight"] == 1000)
    assert heavy > 50

def test_weighted_sample_salt_changes_draw(spark):
    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.lit("en").alias("lang"),
        F.lit("web").alias("source"),
        (F.col("id") % 7 + 1).alias("n_chars"),
    )
    s1 = {r["doc_id"] for r in curation.weighted_sample(docs, m=50, salt="a").collect()}
    s2 = {r["doc_id"] for r in curation.weighted_sample(docs, m=50, salt="b").collect()}
    assert s1 != s2
