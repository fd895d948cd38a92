"""Text-analysis operators over the documents fixture + micro-fixtures."""

from __future__ import annotations

import pytest

from ecommerce_event_pipeline_spark.functions import text
from ecommerce_event_pipeline_spark.sources.readers import read_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return read_table(spark, SF_DIR, "documents").cache()


def test_doc_token_stats_shapes(spark, docs):
    out = text.doc_token_stats(docs).collect()
    assert len(out) == docs.count()
    for r in out[:20]:
        assert r["token_count"] >= 1
        assert 0 < r["distinct_ratio"] <= 1.0
        assert r["unique_tokens"] <= r["token_count"]


def test_regex_token_count_counts_words_numbers_punct(spark):
    df = spark.createDataFrame(
        [(1, "hello, world! 42 times")], "doc_id long, text string"
    )
    r = text.regex_token_count(df).collect()[0]
    # hello , world ! 42 times → 6 regex tokens
    assert r["regex_token_count"] == 6


def test_quality_score_bounds(spark, docs):
    out = text.quality_score(docs).collect()
    assert all(0.0 <= r["quality_score"] <= 1.0 for r in out)
    assert all(0.0 <= r["stopword_ratio"] <= 1.0 for r in out)


def test_token_frequencies_orders_by_count(spark, docs):
    out = text.token_frequencies(docs, top_n=10).collect()
    freqs = [r["token_freq"] for r in out]
    assert freqs == sorted(freqs, reverse=True)
    assert len(out) == 10


def test_language_id_runs_and_predicts_known_langs(spark, docs):
    out = text.language_id_ngram(docs.limit(50)).collect()
    langs = {r["predicted_lang"] for r in out}
    assert langs <= {"de", "en", "es", "fr", "zh"}
    assert len(out) == 50


def test_doc_fingerprint_deterministic_and_distinct(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta epsilon")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.doc_fingerprint_portable(df).collect()}
    assert out[1]["content_hash"] == out[2]["content_hash"]
    assert out[1]["rolling_hash"] == out[2]["rolling_hash"]
    assert out[1]["content_hash"] != out[3]["content_hash"]


def test_doc_fingerprint_portable_matches_duckdb(spark):
    import duckdb

    rows = [(1, "Alpha beta gamma"), (2, "alpha beta  gamma"), (3, ""), (4, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["content_hash"], r["rolling_hash"])
        for r in text.doc_fingerprint_portable(df).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    from ecommerce_event_pipeline_spark.registry import _DOC_FINGERPRINTS_ORACLE

    want = {
        r[0]: (r[1], r[2]) for r in con.execute(_DOC_FINGERPRINTS_ORACLE).fetchall()
    }
    assert got == want
    # order-sensitivity: same multiset of tokens, different order → different roll
    df2 = spark.createDataFrame(
        [(1, "beta alpha gamma")], "doc_id long, text string"
    )
    (other,) = text.doc_fingerprint_portable(df2).collect()
    assert other["rolling_hash"] != got[1][1]


def test_lang_distinctive_terms_sign_and_ranking(spark):
    """A token exclusive to one language gets a positive z there; a token
    the language lacks entirely never appears in its top-k."""
    from ecommerce_event_pipeline_spark.functions.text import lang_distinctive_terms

    rows = []
    did = 0
    for _ in range(10):
        rows.append((did, "aaa " * 20 + "shared", "xx", "s", 1)); did += 1
        rows.append((did, "bbb " * 20 + "shared", "yy", "s", 1)); did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = lang_distinctive_terms(docs, min_global=5, top_k=2).collect()
    top = {(r["lang"], r["token"]): r["z_score"] for r in out}
    assert top[("xx", "aaa")] > 0 and top[("yy", "bbb")] > 0
    assert ("xx", "bbb") not in top and ("yy", "aaa") not in top


def test_doc_surprisal_orders_rare_above_common(spark):
    """A doc made of corpus-rare tokens scores higher surprisal than one
    made of the corpus-dominant token; values match a NumPy replay."""
    import math

    from ecommerce_event_pipeline_spark.functions.text import doc_surprisal

    rows = [(0, "common " * 50), (1, "common " * 47 + "rare1 rare2 rare3")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["n_tokens"], r["surprisal"]) for r in doc_surprisal(docs).collect()}
    assert out[1][1] > out[0][1]
    # doc 0: 50 tokens of 'common' (c=97), N=100
    expect0 = round(math.log(100) - (50 * math.log(97)) / 50, 4)
    assert abs(out[0][1] - expect0) < 1e-9
