"""Corpus language-model and asymmetric-similarity analytics:
shingle containment, bigram LM surprisal, tokenizer fertility
(T125/T126/T127).

Round-10 expansion of the training-data-curation surface. Exactness
discipline, per family:

- containment is pure integer set arithmetic over the df-capped shingle
  universe (one final division, rounded) — the asymmetric complement of
  the Jaccard pair table, catching near-SUBSET docs (a quote, an
  excerpt, a page wrapped in boilerplate) whose Jaccard stays low;
- bigram surprisal replays doc_surprisal's ordered-fold trick at bigram
  grain with add-one smoothing, so the per-doc float sum accumulates in
  the identical (bigram-sorted) order in both engines;
- fertility is integer counts + single divisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dedup
from ..functions.text import TOKEN_PATTERN
from ..operators.windows import sort_result
from ..registry_core import register
from ..shared_bases import _shingle_sets_shared
from ..sources.readers import read_table

# ---------------------------------------------------------------------------
# T125 — Shingle-containment pairs (near-subset detection)
# ---------------------------------------------------------------------------

_CONTAINMENT_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 1) + 1),
           i -> array_to_string(toks[i:i+2], ' '))) AS shingles
  FROM t
),
ex0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
rare AS (SELECT shingle FROM ex0 GROUP BY 1 HAVING COUNT(*) <= 50),
ex AS (
  SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY doc_id) AS cnt
  FROM ex0 JOIN rare USING (shingle)
),
pairs AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         CAST(a.cnt AS BIGINT) AS size_1, CAST(b.cnt AS BIGINT) AS size_2,
         CAST(COUNT(*) AS BIGINT) AS intersection,
         ROUND(CAST(COUNT(*) AS DOUBLE)
               / CAST(LEAST(a.cnt, b.cnt) AS DOUBLE), 6) AS containment
  FROM ex a
  JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.cnt, b.cnt
)
SELECT doc_id_1, doc_id_2, size_1, size_2, intersection, containment
FROM pairs
WHERE containment >= 0.6
ORDER BY containment DESC, doc_id_1, doc_id_2
"""


def containment_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.6,
    max_df: int | None = 50,
    sets_df: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric shingle containment C = |A∩B| / min(|A|,|B|) over the
    df-capped shingle universe — the near-SUBSET detector (an excerpt
    inside a longer page scores ~1.0 here while its Jaccard is
    ~|A|/|B|, far below any near-dup threshold). Same blocked self-join
    scale shape as the Jaccard pair table (the df cap bounds every join
    bucket); pair generation reuses the Jaccard machinery with set
    sizes retained."""
    pairs = dedup.ngram_jaccard_pairs(
        docs,
        k=k,
        threshold=0.0,
        max_df=max_df,
        sets_df=sets_df,
        include_counts=True,
        ordered=False,  # re-sorted by containment below; skip the inner sort
    )
    containment = F.col("common").cast("double") / F.least(
        F.col("count_1"), F.col("count_2")
    ).cast("double")
    return (
        pairs.select(
            "doc_id_1",
            "doc_id_2",
            F.col("count_1").cast("long").alias("size_1"),
            F.col("count_2").cast("long").alias("size_2"),
            F.col("common").cast("long").alias("intersection"),
            F.round(containment, 6).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
        .transform(sort_result, F.desc("containment"), "doc_id_1", "doc_id_2")
    )


@register("doc_containment_pairs", _CONTAINMENT_ORACLE)
def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T125: containment pairs over the fixture corpus (k=3, df≤50,
    θ=0.6); see ``containment_pairs``. The shingle sets are shared with
    the Jaccard/MinHash family via the cached base."""
    return containment_pairs(
        read_table(spark, sf_dir, "documents"),
        k=3,
        threshold=0.6,
        max_df=50,
        sets_df=_shingle_sets_shared(spark, sf_dir, 3),
    )


# ---------------------------------------------------------------------------
# T126 — Bigram LM surprisal per document (add-one smoothing)
# ---------------------------------------------------------------------------

_BIGRAM_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
),
uni AS (SELECT unnest(toks) AS w1 FROM t),
c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM uni GROUP BY 1),
v AS (SELECT CAST(COUNT(DISTINCT w1) AS BIGINT) AS v FROM uni),
pos AS (
  SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
  FROM t WHERE len(toks) >= 2
),
bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i+1] AS bg FROM pos
),
c12 AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY 1),
dt AS (
  SELECT doc_id, bg, w1, CAST(COUNT(*) AS BIGINT) AS k
  FROM bg GROUP BY 1, 2, 3
),
terms AS (
  SELECT dt.doc_id, CAST(SUM(dt.k) AS BIGINT) AS n_bigrams,
         list(dt.k * ln(CAST(c12.c12 + 1 AS DOUBLE)
                        / CAST(c1.c1 + v.v AS DOUBLE))
              ORDER BY dt.bg) AS tl
  FROM dt JOIN c12 USING (bg) JOIN c1 USING (w1), v
  GROUP BY dt.doc_id
),
s AS (
  SELECT doc_id, n_bigrams,
         list_reduce(list_prepend(0.0::DOUBLE, tl),
                     (acc, x) -> acc + x) AS sl
  FROM terms
)
SELECT doc_id, n_bigrams,
       ROUND(-sl / CAST(n_bigrams AS DOUBLE), 4) AS bigram_surprisal
FROM s
ORDER BY doc_id
"""


def doc_bigram_surprisal(docs: DataFrame, round_to: int = 4) -> DataFrame:
    """Per-document mean bigram surprisal under the corpus bigram LM with
    add-one smoothing: −(1/n_d)·Σ ln((c(w₁w₂)+1)/(c(w₁)+V)). The bigram
    upgrade of ``text.doc_surprisal`` — sequence-aware, so shuffled-word
    or template-stitched text scores high where the unigram proxy can't
    see it.

    Cross-engine determinism: the per-document Σ k·ln(p) is a left fold
    over terms SORTED BY BIGRAM (collect → sort_array → F.aggregate),
    never a grouped float SUM; every ln input is a single IEEE division
    of exact integer counts. Scale shape: two corpus aggregations at
    token/bigram grain (map-side combinable), one broadcast scalar (V),
    per-doc arrays bounded by distinct bigrams per document.
    """
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit("")
        ).alias("toks"),
    )
    uni = toks.select(F.explode("toks").alias("w1"))
    c1 = uni.groupBy("w1").agg(F.count("*").alias("c1"))
    v = uni.agg(F.count_distinct("w1").alias("v"))
    pos = toks.where(F.size("toks") >= 2).select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(1), F.size("toks") - 1)).alias("i"),
    )
    bg = pos.select(
        "doc_id",
        F.element_at("toks", F.col("i")).alias("w1"),
        F.concat_ws(
            " ",
            F.element_at("toks", F.col("i")),
            F.element_at("toks", F.col("i") + 1),
        ).alias("bg"),
    )
    c12 = bg.groupBy("bg").agg(F.count("*").alias("c12"))
    dt = bg.groupBy("doc_id", "bg", "w1").agg(F.count("*").alias("k"))
    term = F.col("k") * F.log(
        (F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("v")).cast("double")
    )
    terms = (
        dt.join(c12, "bg")
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            "k",
            F.struct(F.col("bg"), term.alias("term")).alias("tt"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_bigrams"),
            F.sort_array(F.collect_list("tt")).alias("tts"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.aggregate(
                F.col("tts"), F.lit(0.0), lambda acc, x: acc + x["term"]
            ).alias("_sl"),
        )
    )
    return terms.select(
        "doc_id",
        "n_bigrams",
        F.round(-F.col("_sl") / F.col("n_bigrams").cast("double"), round_to).alias(
            "bigram_surprisal"
        ),
    ).transform(sort_result, "doc_id")


@register("doc_bigram_surprisal", _BIGRAM_ORACLE)
def doc_bigram_surprisal_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T126: sequence-aware perplexity proxy — mean bigram surprisal per
    doc under the corpus add-one bigram LM (ordered-fold float sums; see
    ``doc_bigram_surprisal``)."""
    return doc_bigram_surprisal(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# T127 — Tokenizer fertility by language
# ---------------------------------------------------------------------------

_FERTILITY_ORACLE = f"""
WITH per_doc AS (
  SELECT lang,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS words,
         len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS subwords,
         length(text) AS chars
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS doc_count,
       CAST(SUM(words) AS BIGINT) AS words,
       CAST(SUM(subwords) AS BIGINT) AS subword_tokens,
       CAST(SUM(chars) AS BIGINT) AS total_chars,
       ROUND(CAST(SUM(subwords) AS DOUBLE) / CAST(SUM(words) AS DOUBLE), 4)
         AS fertility,
       ROUND(CAST(SUM(chars) AS DOUBLE) / CAST(SUM(subwords) AS DOUBLE), 4)
         AS chars_per_token
FROM per_doc
GROUP BY lang
ORDER BY lang
"""


@register("lang_token_fertility", _FERTILITY_ORACLE)
def lang_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T127: tokenizer fertility per language — BPE-ish subword tokens
    per whitespace word plus bytes-ish chars per subword token, the
    standard readout for how expensive a language is to tokenize (drives
    per-language token budgets in mixture planning). Integer sums, two
    final divisions; one map-side-combinable aggregate."""
    docs = read_table(spark, sf_dir, "documents")
    words = F.size(
        F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    )
    subwords = F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_PATTERN), F.lit(0)))
    per_doc = docs.select(
        "lang",
        words.alias("words"),
        subwords.alias("subwords"),
        F.length("text").alias("chars"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("doc_count"),
            F.sum("words").cast("long").alias("words"),
            F.sum("subwords").cast("long").alias("subword_tokens"),
            F.sum("chars").cast("long").alias("total_chars"),
        )
        .select(
            "lang",
            "doc_count",
            "words",
            "subword_tokens",
            "total_chars",
            F.round(
                F.col("subword_tokens").cast("double") / F.col("words").cast("double"),
                4,
            ).alias("fertility"),
            F.round(
                F.col("total_chars").cast("double")
                / F.col("subword_tokens").cast("double"),
                4,
            ).alias("chars_per_token"),
        )
        .transform(sort_result, "lang")
    )


# ---------------------------------------------------------------------------
# T130 — NPMI token co-occurrence pairs
# ---------------------------------------------------------------------------

_PMI_ORACLE = """
WITH t AS (
  SELECT doc_id,
         unnest(list_distinct(
           list_filter(string_split(lower(text), ' '), x -> x <> '')))
           AS token
  FROM documents
),
df AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df
  FROM t GROUP BY 1 HAVING COUNT(*) >= 5
),
kept AS (SELECT t.doc_id, t.token, df.df FROM t JOIN df USING (token)),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
pairs AS (
  SELECT a.token AS token_a, b.token AS token_b,
         a.df AS df_a, b.df AS df_b,
         CAST(COUNT(*) AS BIGINT) AS pair_docs
  FROM kept a JOIN kept b
    ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2, 3, 4
  HAVING COUNT(*) >= 5
),
scored AS (
  SELECT token_a, token_b, df_a, df_b, pair_docs,
         ln(CAST(pair_docs AS DOUBLE) * CAST(n.n_docs AS DOUBLE)
            / (CAST(df_a AS DOUBLE) * CAST(df_b AS DOUBLE)))
         / (ln(CAST(n.n_docs AS DOUBLE)) - ln(CAST(pair_docs AS DOUBLE)))
           AS npmi
  FROM pairs, n
  WHERE pair_docs < n.n_docs
),
rk AS (
  SELECT *, row_number() OVER (ORDER BY npmi DESC, token_a, token_b) AS r
  FROM scored
)
SELECT token_a, token_b, df_a, df_b, pair_docs, ROUND(npmi, 4) AS npmi
FROM rk WHERE r <= 50
ORDER BY npmi DESC, token_a, token_b
"""


@register("token_pmi_pairs", _PMI_ORACLE)
def token_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T130: top word associations by normalized PMI over document
    co-occurrence — the collocation/phrase-mining statistic. The df
    floor (≥5) keeps estimates stable and pair support ≥5 prunes noise;
    the pair join keys on doc_id, so its volume is Σ (distinct tokens
    per doc choose 2) — bounded by per-document vocabulary exactly like
    basket_pairs, NOT by token df (no hot buckets; a per-doc top-m
    vocabulary cut is the valve for adversarial corpora). NPMI =
    PMI / −ln p(a,b), a fixed single-op tree over exact integer counts;
    pairs present in every document are excluded (denominator zero —
    they carry no association signal anyway). Ranking uses the raw
    (pre-round) score with lexicographic tiebreaks, the same discipline
    as lang_distinctive_terms."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.col("text")), " "),
                    lambda x: x != F.lit(""),
                )
            )
        ).alias("token"),
    )
    df = (
        t.groupBy("token")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= 5)
    )
    kept = t.join(df, "token")
    n = docs.agg(F.count("*").alias("n_docs"))
    a = kept.select(
        "doc_id", F.col("token").alias("token_a"), F.col("df").alias("df_a")
    )
    b = kept.select(
        "doc_id", F.col("token").alias("token_b"), F.col("df").alias("df_b")
    )
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b", "df_a", "df_b")
        .agg(F.count("*").alias("pair_docs"))
        .where(F.col("pair_docs") >= 5)
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    npmi = F.log(d("pair_docs") * d("n_docs") / (d("df_a") * d("df_b"))) / (
        F.log(d("n_docs")) - F.log(d("pair_docs"))
    )
    ranked = (
        pairs.crossJoin(F.broadcast(n))
        .where(F.col("pair_docs") < F.col("n_docs"))
        .withColumn("_npmi", npmi)
        .orderBy(F.desc("_npmi"), "token_a", "token_b")
        .limit(50)
    )
    return (
        ranked
        .select(
            "token_a",
            "token_b",
            "df_a",
            "df_b",
            "pair_docs",
            F.round("_npmi", 4).alias("npmi"),
        )
        .orderBy(F.desc("npmi"), "token_a", "token_b")
    )


# ---------------------------------------------------------------------------
# T134 — Zipf rank-frequency slope per language
# ---------------------------------------------------------------------------

_ZIPF_ORACLE = """
WITH toks AS (
  SELECT lang, unnest(list_filter(string_split(lower(text), ' '),
                                  x -> x <> '')) AS token
  FROM documents
),
c AS (
  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks GROUP BY 1, 2
),
rk AS (
  SELECT lang, cnt,
         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS r
  FROM c
),
top AS (SELECT lang, cnt, r FROM rk WHERE r <= 200),
arr AS (
  SELECT lang,
         list(ln(CAST(r AS DOUBLE)) ORDER BY r) AS xs,
         list(ln(CAST(cnt AS DOUBLE)) ORDER BY r) AS ys,
         list(ln(CAST(r AS DOUBLE)) * ln(CAST(cnt AS DOUBLE)) ORDER BY r) AS xys,
         list(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)) ORDER BY r) AS xxs,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM top GROUP BY lang
),
f AS (
  SELECT lang, n,
         list_reduce(list_prepend(0.0::DOUBLE, xs), (a, x) -> a + x) AS sx,
         list_reduce(list_prepend(0.0::DOUBLE, ys), (a, x) -> a + x) AS sy,
         list_reduce(list_prepend(0.0::DOUBLE, xys), (a, x) -> a + x) AS sxy,
         list_reduce(list_prepend(0.0::DOUBLE, xxs), (a, x) -> a + x) AS sxx
  FROM arr
)
SELECT lang, n AS n_ranks,
       ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
             / (CAST(n AS DOUBLE) * sxx - sx * sx), 4) AS zipf_slope,
       ROUND((sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
                   / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
             / CAST(n AS DOUBLE), 4) AS intercept
FROM f
ORDER BY lang
"""


@register("zipf_lang_slope", _ZIPF_ORACLE)
def zipf_lang_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T134: Zipf rank-frequency slope per language — OLS of ln(count)
    on ln(rank) over the top-200 vocabulary, the classic corpus-health
    diagnostic (natural text sits near −1; templated or synthetic text
    drifts flat). Ranks come from the per-lang count window (the
    lang_distinctive_terms precedent), and every float sum is an
    ordered fold over the rank-sorted term arrays — the ln/product
    terms are single-op derivations of exact integer counts, so both
    engines accumulate identically. Output grain is one row per
    language; the fold arrays are capped at 200 elements."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit("")
            )
        ).alias("token"),
    )
    c = toks.groupBy("lang", "token").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), "token")
    top = (
        c.withColumn("r", F.row_number().over(w)).where(F.col("r") <= 200)
    )
    lnr = F.log(F.col("r").cast("double"))
    lnc = F.log(F.col("cnt").cast("double"))
    arr = (
        top.select(
            "lang",
            F.struct(
                F.col("r"),
                lnr.alias("x"),
                lnc.alias("y"),
                (lnr * lnc).alias("xy"),
                (lnr * lnr).alias("xx"),
            ).alias("t"),
        )
        .groupBy("lang")
        .agg(
            F.sort_array(F.collect_list("t")).alias("ts"),
            F.count("*").alias("n"),
        )
    )
    fold = lambda field: F.aggregate(  # noqa: E731
        F.col("ts"), F.lit(0.0), lambda a, t: a + t[field]
    )
    f = arr.select(
        "lang",
        "n",
        fold("x").alias("sx"),
        fold("y").alias("sy"),
        fold("xy").alias("sxy"),
        fold("xx").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    slope = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / nd
    return f.select(
        "lang",
        F.col("n").alias("n_ranks"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round(intercept, 4).alias("intercept"),
    ).transform(sort_result, "lang")


# ---------------------------------------------------------------------------
# T138 — Cross-document boilerplate fraction per source
# ---------------------------------------------------------------------------

_BOILERPLATE_ORACLE = """
WITH t AS (
  SELECT doc_id, source, string_split(lower(text), ' ') AS toks FROM documents
),
sh AS (
  SELECT doc_id, source,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 1) + 1),
           i -> array_to_string(toks[i:i+2], ' '))) AS shingles
  FROM t
),
ex AS (SELECT doc_id, source, unnest(shingles) AS shingle FROM sh),
src AS (
  SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS src_docs FROM ex
  GROUP BY 1
),
df AS (
  SELECT source, shingle, CAST(COUNT(*) AS BIGINT) AS df
  FROM ex GROUP BY 1, 2
),
bp AS (
  SELECT df.source, df.shingle
  FROM df JOIN src USING (source)
  WHERE src.src_docs >= 20 AND df.df * 4 >= src.src_docs
),
per_doc AS (
  SELECT ex.doc_id, ex.source,
         CAST(COUNT(*) AS BIGINT) AS shingle_count,
         CAST(SUM(CASE WHEN bp.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS boilerplate_shingles
  FROM ex LEFT JOIN bp ON bp.source = ex.source AND bp.shingle = ex.shingle
  GROUP BY 1, 2
)
SELECT doc_id, source, shingle_count, boilerplate_shingles,
       ROUND(CAST(boilerplate_shingles AS DOUBLE)
             / CAST(shingle_count AS DOUBLE), 6) AS boilerplate_fraction
FROM per_doc
ORDER BY doc_id
"""


@register("doc_boilerplate_fraction", _BOILERPLATE_ORACLE)
def doc_boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T138: cross-document boilerplate screening — the C4-style cleanup
    axis the WITHIN-doc repetition metric (T24) cannot see: a shingle is
    boilerplate for a source when it appears in ≥ 25 % of that source's
    documents (sources under 20 docs are exempt — df ratios are noise
    there), and each document reports the fraction of its distinct
    shingles that are source-boilerplate (headers, footers, navigation
    chrome). Pure integer set arithmetic over the per-source shingle df
    table + one final division. Scale shape: shingle df is a
    (source, shingle)-keyed aggregate — map-side combinable; the
    boilerplate join keys on (source, shingle), and the boilerplate set
    per source is df-thresholded (≥25 % of docs), so its cardinality is
    bounded by 4× the per-doc shingle budget times docs — in practice a
    tiny high-df head, the same skew profile as the stop-shingle list
    the dedup family already caps."""
    docs = read_table(spark, sf_dir, "documents")
    # shared k=3 sets, pinned: the three consuming branches (src totals,
    # df counts, the per-doc rollup) scan the materialized rows instead
    # of each re-running the shingle transform
    sets_df = _shingle_sets_shared(spark, sf_dir, 3)
    ex = sets_df.join(
        docs.select("doc_id", "source"), "doc_id"
    ).select("doc_id", "source", F.explode("shingles").alias("shingle"))
    src = ex.groupBy("source").agg(
        F.count_distinct("doc_id").alias("src_docs")
    )
    df = ex.groupBy("source", "shingle").agg(F.count("*").alias("df"))
    bp = (
        df.join(F.broadcast(src), "source")
        .where(
            (F.col("src_docs") >= 20) & (F.col("df") * 4 >= F.col("src_docs"))
        )
        .select("source", "shingle", F.lit(1).alias("_bp"))
    )
    per_doc = (
        ex.join(bp, ["source", "shingle"], "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("long").alias("shingle_count"),
            F.sum(F.coalesce(F.col("_bp"), F.lit(0)))
            .cast("long")
            .alias("boilerplate_shingles"),
        )
    )
    return per_doc.select(
        "doc_id",
        "source",
        "shingle_count",
        "boilerplate_shingles",
        F.round(
            F.col("boilerplate_shingles").cast("double")
            / F.col("shingle_count").cast("double"),
            6,
        ).alias("boilerplate_fraction"),
    ).transform(sort_result, "doc_id")


# ---------------------------------------------------------------------------
# T148 — Heaps' law vocabulary-growth fit across sources
# ---------------------------------------------------------------------------

_HEAPS_ORACLE = """
WITH tok AS (
  SELECT source,
         unnest(list_filter(string_split(lower(text), ' '), x -> x <> ''))
           AS t
  FROM documents
),
per AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(DISTINCT t) AS BIGINT) AS v_tokens
  FROM tok GROUP BY source
),
arr AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         list(ln(CAST(n_tokens AS DOUBLE)) ORDER BY source) AS xs,
         list(ln(CAST(v_tokens AS DOUBLE)) ORDER BY source) AS ys,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         CAST(SUM(v_tokens) AS BIGINT) AS sum_vocab
  FROM per
),
sums AS (
  SELECT m, total_tokens, sum_vocab,
         list_reduce(list_prepend(0.0::DOUBLE, xs), (a, b) -> a + b) AS sx,
         list_reduce(list_prepend(0.0::DOUBLE, ys), (a, b) -> a + b) AS sy,
         list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(xs, v -> v * v)), (a, b) -> a + b) AS sxx,
         list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(range(CAST(m AS INT)),
                            i -> xs[i + 1] * ys[i + 1])),
             (a, b) -> a + b) AS sxy
  FROM arr
),
fit AS (
  SELECT m, total_tokens, sum_vocab,
         (m * sxy - sx * sy) / (m * sxx - sx * sx) AS beta, sx, sy
  FROM sums
)
SELECT CAST(m AS BIGINT) AS n_sources,
       total_tokens, sum_vocab,
       ROUND(beta, 6) + 0.0 AS heaps_beta,
       ROUND(exp((sy - beta * sx) / m), 6) AS heaps_k
FROM fit
"""


@register("heaps_law_fit", _HEAPS_ORACLE)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T148: Heaps'-law fit V = k·N^β across corpus sources — the
    vocabulary-growth exponent that predicts how a tokenizer's OOV rate
    and vocab budget scale as the corpus grows (β ≈ 0.5 typical for
    natural text; β near 1 flags near-random token soup, near 0 flags
    template/boilerplate saturation). One point per source: N = total
    whitespace tokens, V = distinct tokens (both exact BIGINTs from a
    single explode + two aggregates), then the log-log OLS slope via
    ordered folds over the source-sorted point list (F.aggregate ↔
    list_reduce — source-count-bounded, so the fold is a scalar
    expression, not a data pass). Completes the corpus-statistics
    family alongside `zipf_lang_slope` (rank-frequency) and
    `lang_token_fertility` (tokenizer cost)."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("t"),
    ).where(F.col("t") != "")
    per = tok.groupBy("source").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.count_distinct("t").cast("long").alias("v_tokens"),
    )
    pts = per.select(
        "source",
        F.log(F.col("n_tokens").cast("double")).alias("x"),
        F.log(F.col("v_tokens").cast("double")).alias("y"),
        "n_tokens",
        "v_tokens",
    )
    arr = pts.agg(
        F.count("*").cast("long").alias("m"),
        F.sort_array(F.collect_list(F.struct("source", "x", "y"))).alias(
            "pt"
        ),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("v_tokens").cast("long").alias("sum_vocab"),
    )
    zero = F.lit(0.0)
    sums = arr.select(
        "m",
        "total_tokens",
        "sum_vocab",
        F.aggregate("pt", zero, lambda a, e: a + e["x"]).alias("sx"),
        F.aggregate("pt", zero, lambda a, e: a + e["y"]).alias("sy"),
        F.aggregate("pt", zero, lambda a, e: a + e["x"] * e["x"]).alias(
            "sxx"
        ),
        F.aggregate("pt", zero, lambda a, e: a + e["x"] * e["y"]).alias(
            "sxy"
        ),
    )
    beta = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = sums.select(
        "m", "total_tokens", "sum_vocab", beta.alias("beta"), "sx", "sy"
    )
    return fit.select(
        F.col("m").cast("long").alias("n_sources"),
        "total_tokens",
        "sum_vocab",
        # + 0.0 canonicalizes IEEE −0.0 → +0.0: at scales where β rounds
        # to zero the two engines can disagree on the SIGN of the zero
        # (repr '−0.0' vs '0.0' hash-mismatches; caught by the sf0.1
        # mirror in round 11)
        (F.round("beta", 6) + F.lit(0.0)).alias("heaps_beta"),
        F.round(
            F.exp((F.col("sy") - F.col("beta") * F.col("sx")) / F.col("m")),
            6,
        ).alias("heaps_k"),
    )


# ---------------------------------------------------------------------------
# T159 — language-ID confusion matrix (classifier-quality readout)
# ---------------------------------------------------------------------------


def _lang_confusion_oracle() -> str:
    """Reuses the `language_id` oracle's scoring CTEs (registry.py
    `_lang_id_oracle`: static profile VALUES + trigram overlap + argmax)
    and adds the per-(true, predicted) rollup."""
    from ..functions.lang_profiles import PROFILES

    values = ",\n         ".join(
        "('{}', '{}')".format(lang, gram.replace("'", "''"))
        for lang in sorted(PROFILES)
        for gram in PROFILES[lang]
    )
    return f"""
WITH prof(candidate_lang, gram) AS (
  VALUES {values}
),
g AS (
  SELECT doc_id, lang,
         unnest(list_transform(
           range(1, greatest(length(text) - 2, 1) + 1),
           i -> substr(text, i, 3))) AS gram
  FROM documents
),
scored AS (
  SELECT doc_id, lang, candidate_lang, COUNT(*) AS overlap
  FROM g JOIN prof USING (gram)
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT doc_id, lang, candidate_lang,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY overlap DESC, candidate_lang) AS rk
  FROM scored
),
pred AS (
  SELECT lang, candidate_lang AS predicted_lang FROM ranked WHERE rk = 1
),
cell AS (
  SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2
),
tr AS (
  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_true FROM cell GROUP BY lang
)
SELECT c.lang, c.predicted_lang, c.n,
       ROUND(CAST(c.n AS DOUBLE) / tr.n_true, 6) AS row_share,
       CASE WHEN c.lang = c.predicted_lang THEN 1 ELSE 0 END AS is_correct
FROM cell c JOIN tr USING (lang)
ORDER BY c.lang, c.predicted_lang
"""


@register("lang_id_confusion", _lang_confusion_oracle())
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T159: confusion matrix of the trigram language-ID classifier
    against the corpus's labeled `lang` — the classifier-quality
    readout (per-cell counts, per-true-language recall shares, correct
    flags) a curation pipeline monitors before trusting automatic
    language routing. Reuses `language_id`'s scoring (one trigram
    explode + broadcast profile join); the rollup is two
    language-grain aggregates, ≤|langs|² output rows at any scale."""
    from ..functions import text as text_fns
    from ..sources.readers import spread_small_scan

    pred = text_fns.language_id_ngram(
        spread_small_scan(read_table(spark, sf_dir, "documents"))
    )
    cell = pred.groupBy("lang", "predicted_lang").agg(
        F.count("*").cast("long").alias("n")
    )
    tr = cell.groupBy("lang").agg(F.sum("n").cast("long").alias("n_true"))
    return (
        cell.join(F.broadcast(tr), "lang")
        .select(
            "lang",
            "predicted_lang",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("n_true"), 6
            ).alias("row_share"),
            F.when(F.col("lang") == F.col("predicted_lang"), 1)
            .otherwise(0)
            .alias("is_correct"),
        )
        .transform(sort_result, "lang", "predicted_lang")
    )


# ---------------------------------------------------------------------------
# T161 — Flesch readability scoring per document
# ---------------------------------------------------------------------------

_READABILITY_ORACLE = """
WITH c AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS words,
         CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
              AS BIGINT) AS sentences,
         CAST(GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
              AS BIGINT) AS syllables
  FROM documents
),
s AS (
  SELECT doc_id, words, sentences, syllables,
         206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
                 - 84.6 * (CAST(syllables AS DOUBLE) / words) AS flesch,
         0.39 * (CAST(words AS DOUBLE) / sentences)
         + 11.8 * (CAST(syllables AS DOUBLE) / words) - 15.59 AS fk
  FROM c WHERE words > 0
)
SELECT doc_id, words, sentences, syllables,
       ROUND(flesch, 4) + 0.0 AS flesch_score,
       ROUND(fk, 4) + 0.0 AS fk_grade,
       CASE WHEN flesch >= 60.0 THEN 'easy'
            WHEN flesch >= 30.0 THEN 'standard'
            ELSE 'difficult' END AS band
FROM s
ORDER BY doc_id
"""


@register("doc_readability", _READABILITY_ORACLE)
def doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T161: Flesch reading-ease + Flesch-Kincaid grade per document —
    the classic readability screens a curation pipeline uses as cheap
    quality features next to `doc_quality_score` (length/punct ratios)
    and `doc_surprisal` (LM-based). Syllables are approximated by
    vowel-group runs and sentences by terminal-punctuation runs — the
    standard regex heuristics — so all three inputs are exact integer
    counts from one scan and both scores are single fixed expression
    trees (two divisions each). Banding is on the raw double, not the
    rounded one. Row-parallel; no shuffle at all until the output
    sort."""
    docs = read_table(spark, sf_dir, "documents")
    words = F.size(
        F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    ).cast("long")
    sentences = F.greatest(
        F.size(F.expr(r"regexp_extract_all(text, '[.!?]+', 0)")),
        F.lit(1),
    ).cast("long")
    syllables = F.greatest(
        F.size(F.expr(r"regexp_extract_all(lower(text), '[aeiouy]+', 0)")),
        F.lit(1),
    ).cast("long")
    c = docs.select(
        "doc_id",
        words.alias("words"),
        sentences.alias("sentences"),
        syllables.alias("syllables"),
    ).where(F.col("words") > 0)
    wps = F.col("words").cast("double") / F.col("sentences")
    spw = F.col("syllables").cast("double") / F.col("words")
    flesch = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    fk = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    return c.select(
        "doc_id",
        "words",
        "sentences",
        "syllables",
        (F.round(flesch, 4) + F.lit(0.0)).alias("flesch_score"),
        (F.round(fk, 4) + F.lit(0.0)).alias("fk_grade"),
        F.when(flesch >= 60.0, "easy")
        .when(flesch >= 30.0, "standard")
        .otherwise("difficult")
        .alias("band"),
    ).transform(sort_result, "doc_id")
