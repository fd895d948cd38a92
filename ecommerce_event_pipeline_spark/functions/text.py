"""Text-analysis operators for a large-scale training-data pipeline.

All hot-path expressions are built-in Catalyst functions (split, regexp,
higher-order array ops) — whole-stage-codegen'd, no Python in the loop.
Designed for a corpus sharded across executors: every operator is a
row-local projection or a key-partitioned aggregate, nothing collects to
the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.windows import sort_result
from ..sources.readers import literal_frame

#: BPE-ish word/number/punctuation token pattern — same regex dialect subset
#: works in Java (Spark) and RE2-like engines (DuckDB re2).
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: Tiny English stopword list for quality scoring (deterministic, public).
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def _tokens(col: F.Column | str = "text") -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def doc_token_stats(docs: DataFrame) -> DataFrame:
    """Per-document whitespace tokenization stats + distinct-token ratio."""
    toks = _tokens()
    token_count = F.size(toks)
    unique_tokens = F.size(F.array_distinct(toks))
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        token_count.alias("token_count"),
        unique_tokens.alias("unique_tokens"),
        F.round(
            unique_tokens.cast("double") / token_count.cast("double"), 4
        ).alias("distinct_ratio"),
    ).transform(sort_result, "doc_id")


def lang_source_stats(docs: DataFrame) -> DataFrame:
    """Corpus rollup by language × source."""
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count("*").alias("doc_count"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.avg(F.col("n_chars").cast("double")).alias("avg_chars"),
            F.avg(F.size(_tokens()).cast("double")).alias("avg_tokens"),
        )
        .transform(sort_result, "lang", "source")
    )


def regex_token_count(docs: DataFrame, pattern: str = TOKEN_PATTERN) -> DataFrame:
    """BPE-ish regex token counting (words / numbers / punctuation runs)."""
    toks = F.regexp_extract_all(F.col("text"), F.lit(pattern), 0)
    return docs.select(
        "doc_id",
        F.size(toks).alias("regex_token_count"),
        F.size(F.array_distinct(toks)).alias("regex_unique_tokens"),
    ).transform(sort_result, "doc_id")


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic document quality score in [0, 1]:

    - length component: min(1, token_count / 64)
    - diversity component: unique_tokens / token_count
    - stopword component: 1 − |stopword_ratio − 0.4| (prose-like density)

    All components are deterministic built-ins; the score is their mean.
    """
    toks = _tokens()
    token_count = F.size(toks)
    uniq = F.size(F.array_distinct(toks))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    stop_ratio = stop_hits.cast("double") / token_count.cast("double")
    length_c = F.least(F.lit(1.0), token_count.cast("double") / F.lit(64.0))
    diversity_c = uniq.cast("double") / token_count.cast("double")
    stop_c = F.lit(1.0) - F.abs(stop_ratio - F.lit(0.4))
    return docs.select(
        "doc_id",
        "lang",
        token_count.alias("token_count"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round((length_c + diversity_c + stop_c) / F.lit(3.0), 4).alias(
            "quality_score"
        ),
    )


def token_frequencies(docs: DataFrame, top_n: int = 100) -> DataFrame:
    """Corpus-wide token frequency: explode → groupBy token.

    The explode widens rows before the shuffle but each row is one small
    string; partial aggregation collapses per-partition counts before the
    exchange, so the shuffle carries |vocab| rows per partition at most.
    """
    return (
        docs.select(F.explode(_tokens()).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("token_freq"))
        .orderBy(F.desc("token_freq"), "token")
        .limit(top_n)
    )


def _char_ngrams(col: F.Column, n: int = 3) -> F.Column:
    """Character n-grams via sequence+substr (Spark has no char-ngram
    built-in); the tail positions yield short grams, mirrored by the
    oracle's identical substr formula."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(col) - (n - 1), F.lit(1))),
        lambda i: col.substr(i, F.lit(n)),
    )


def language_id_ngram(docs: DataFrame, profiles: DataFrame | None = None) -> DataFrame:
    """Character-trigram language-ID, score-only: each document's trigram
    occurrences are matched against a small STATIC profile table
    (``lang_profiles.PROFILES``, committed at build time) via a broadcast
    join — no per-run corpus-wide profile rebuild, the whole query is one
    scan of the documents. Output: doc_id, lang (truth), predicted_lang.
    """
    char_ngrams = _char_ngrams
    if profiles is None:
        from .lang_profiles import PROFILES

        rows = [
            (lang, gram)
            for lang in sorted(PROFILES)
            for gram in PROFILES[lang]
        ]
        profiles = literal_frame(docs.sparkSession, rows, "lang string, gram string")
        langs = sorted(PROFILES)
    else:
        langs = sorted(r.lang for r in profiles.select("lang").distinct().collect())

    doc_grams = docs.select(
        "doc_id", "lang", F.explode(char_ngrams(F.col("text"))).alias("gram")
    )
    scored = (
        doc_grams.join(
            F.broadcast(profiles.withColumnRenamed("lang", "candidate_lang")), "gram"
        )
        .groupBy("doc_id", "lang", "candidate_lang")
        .agg(F.count("*").alias("overlap"))
    )
    # argmax via max_by instead of a row_number window: one hash aggregate
    # replaces a second full sort-shuffle (measured 7.8s → 3.2s at sf0.1;
    # the residual cost is the explode volume itself, which a no-explode
    # fold against literal gram arrays measured 6× WORSE, and a hashed
    # join key 1.7× worse — the broadcast string join is already at the
    # explode+count floor). Tie-break parity with the old window
    # (overlap DESC, candidate_lang ASC): rank maps each language to a
    # descending score so the max_by struct picks the lexicographically
    # first language on equal overlap.
    rank = F.create_map(
        *[
            x
            for i, lang in enumerate(langs)
            for x in (F.lit(lang), F.lit(len(langs) - i))
        ]
    )
    return scored.groupBy("doc_id", "lang").agg(
        F.max_by(
            "candidate_lang",
            F.struct(F.col("overlap"), rank[F.col("candidate_lang")]),
        ).alias("predicted_lang")
    )


def doc_fingerprint_portable(docs: DataFrame) -> DataFrame:
    """Per-document content hash + positional XOR-folded rolling hash,
    built from md5 prefixes so a SQL oracle can recompute every bit.
    15 hex chars = 60 bits, always positive in a signed BIGINT.

    An xxhash64 spelling would be cheaper (one JVM intrinsic per row vs
    md5's digest + hex slice) but has no DuckDB twin; either way it is a
    row-local projection — no shuffle, scales linearly. Token index is
    1-based to match DuckDB's ``list_transform`` lambda.
    """
    toks = _tokens(F.lower(F.col("text")))

    def _h(s: F.Column) -> F.Column:
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")

    indexed = F.transform(
        toks, lambda t, i: _h(F.concat(t, F.lit("#"), (i + F.lit(1)).cast("string")))
    )
    folded = F.aggregate(
        indexed, F.lit(0).cast("long"), lambda acc, h: acc.bitwiseXOR(h)
    )
    return docs.select(
        "doc_id",
        _h(F.lower(F.col("text"))).alias("content_hash"),
        folded.alias("rolling_hash"),
    ).transform(sort_result, "doc_id")


def bm25_search(
    docs: DataFrame,
    query_tokens: tuple[str, ...] = ("spark", "query", "table"),
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 20,
) -> DataFrame:
    """BM25 ranking of documents against a fixed token query — the
    retrieval scorer a corpus-search / RAG indexing pipeline runs.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)  (the Robertson/Sparck
    Jones form, always positive).

    Scale shape: the query-term filter lands in the token explode (tiny
    fraction survives), df/N/avgdl are scalar or |q|-row aggregates that
    broadcast, and avgdl is computed from an exact integer token-count sum
    so every input to the float math is bit-identical across engines. The
    final top-n sorts by the ROUNDED score (ulp-stable ordering) then
    doc_id.
    """
    toks = _tokens()
    corpus = docs.select("doc_id", F.size(toks).alias("dl"), toks.alias("_toks"))
    stats = corpus.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("dl_sum")
    )
    tf = (
        corpus.select("doc_id", "dl", F.explode("_toks").alias("token"))
        .where(F.col("token").isin(*query_tokens))
        .groupBy("doc_id", "dl", "token")
        .agg(F.count("*").alias("tf"))
    )
    df_t = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = F.col("n_docs").cast("double")
    avgdl = F.col("dl_sum").cast("double") / n
    idf = F.log((n - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    per_term = (
        tf.join(F.broadcast(df_t), "token")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                idf
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl").cast("double") / avgdl)
                )
            ).alias("term_score"),
        )
    )
    return (
        per_term.groupBy("doc_id")
        .agg(F.round(F.sum("term_score"), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(top_n)
    )


def lang_distinctive_terms(
    docs: DataFrame, min_global: int = 5, top_k: int = 5
) -> DataFrame:
    """Distinctive vocabulary per language via log-odds with a +0.5
    (Haldane) prior and its z-score (the Monroe et al. 2008 'Fightin'
    Words' statistic with an uninformative prior):

        δ_t  = ln((a+½)/(A−a+½)) − ln((b+½)/(B−b+½))
        z_t  = δ_t / sqrt(1/(a+½) + 1/(b+½))

    where a = count of t in the language, b = elsewhere, A/B the token
    totals. Every input is an exact integer aggregate, and both engines
    evaluate the IDENTICAL closed-form expression — so the doubles agree
    and the per-language top-k ranking is stable cross-engine.

    Scale shape: two grouped aggregations (lang×token, token) + one
    broadcast of per-lang totals; the z expression is scan-side; top-k
    per lang is a bounded window. No all-pairs anything.
    """
    toks = docs.select(
        "lang", F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    ).where(F.col("token") != "")
    # Spark resolves names case-insensitively, so the classic a/A, b/B
    # naming collides — spell the totals out
    lt = toks.groupBy("lang", "token").agg(F.count("*").alias("a"))
    t = toks.groupBy("token").agg(F.count("*").alias("c"))
    lang_tot = toks.groupBy("lang").agg(F.count("*").alias("in_total"))
    n_total = toks.agg(F.count("*").alias("corpus_total"))
    j = (
        lt.join(t, "token")
        .where(F.col("c") >= min_global)
        .join(F.broadcast(lang_tot), "lang")
        .crossJoin(F.broadcast(n_total))
        .withColumn("b", F.col("c") - F.col("a"))
        .withColumn(
            "out_total", F.col("corpus_total") - F.col("in_total")
        )
    )
    af = F.col("a") + 0.5
    bf = F.col("b") + 0.5
    delta = F.log(af / (F.col("in_total") - F.col("a") + 0.5)) - F.log(
        bf / (F.col("out_total") - F.col("b") + 0.5)
    )
    z = delta / F.sqrt(1.0 / af + 1.0 / bf)
    from pyspark.sql import Window

    ranked = j.withColumn("z", z).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("lang").orderBy(F.desc("z"), "token")
        ),
    )
    return (
        ranked.where(F.col("rk") <= top_k)
        .select("lang", "token", "a", F.round("z", 4).alias("z_score"))
        .transform(sort_result, "lang", F.desc("z_score"), "token")
    )


def doc_surprisal(docs: DataFrame, round_to: int = 4) -> DataFrame:
    """Per-document mean unigram surprisal — the cheap perplexity proxy
    for quality filtering (gibberish and boilerplate sit at the two
    extremes): s(d) = −(1/n_d)·Σ ln(c_t/N) = ln(N) − (Σ k_dt·ln c_t)/n_d
    over the corpus unigram distribution.

    Cross-engine determinism: the per-document Σ k_dt·ln(c_t) is a left
    fold over terms SORTED BY TOKEN (collect → sort_array → F.aggregate),
    not a grouped float SUM — grouped sums accumulate in partition order,
    which no oracle can replay; the ordered fold is bit-identical in
    DuckDB's list_reduce.

    Scale shape: one (doc, token) aggregation, one token aggregation,
    a broadcast-sized scalar (N), and per-doc arrays bounded by distinct
    tokens per document.
    """
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    ).where(F.col("token") != "")
    dt_counts = toks.groupBy("doc_id", "token").agg(F.count("*").alias("k"))
    t_counts = toks.groupBy("token").agg(F.count("*").alias("c"))
    n_total = toks.agg(F.count("*").alias("corpus_n"))
    terms = (
        dt_counts.join(t_counts, "token")
        .select(
            "doc_id",
            "k",
            F.struct(F.col("token"), (F.col("k") * F.log(F.col("c"))).alias("term")).alias("tt"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_tokens"),
            F.sort_array(F.collect_list("tt")).alias("tts"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.aggregate(
                F.col("tts"),
                F.lit(0.0),
                lambda acc, x: acc + x["term"],
            ).alias("_sum_ln"),
        )
    )
    surprisal = F.log(F.col("corpus_n").cast("double")) - F.col("_sum_ln") / F.col(
        "n_tokens"
    ).cast("double")
    return (
        terms.crossJoin(F.broadcast(n_total))
        .select(
            "doc_id",
            "n_tokens",
            F.round(surprisal, round_to).alias("surprisal"),
        )
        .transform(sort_result, "doc_id")
    )
