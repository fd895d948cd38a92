"""Round-10 expansion operators (T123–T128): Kaplan-Meier survival,
fixed-point PageRank, shingle containment, bigram LM surprisal,
tokenizer fertility, DiD uplift. Hand-computed oracles on tiny inputs;
cross-engine exactness is separately pinned by the registered DuckDB
oracles (tools/check_oracle.py)."""

from __future__ import annotations

import math

import pytest

from ecommerce_event_pipeline_spark.queries.corpus_lm import (
    containment_pairs,
    doc_bigram_surprisal,
)
from ecommerce_event_pipeline_spark.queries.lifecycle import (
    _PR_SCALE,
    kaplan_meier,
    pagerank_fixed_point,
)
from ecommerce_event_pipeline_spark import registry

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# T123 Kaplan-Meier
# ---------------------------------------------------------------------------

def test_kaplan_meier_hand_computed(spark):
    # one segment, 4 subjects: events at periods 0, 1, 1(censored), 2
    rows = [("S", 5, 1), ("S", 40, 1), ("S", 40, 0), ("S", 70, 1)]
    durations = spark.createDataFrame(rows, "segment string, days int, ev int")
    out = {r["period"]: r for r in kaplan_meier(durations, 30).collect()}
    # period 0: n=4, d=1 → S=0.75
    assert out[0]["n_at_risk"] == 4 and out[0]["events"] == 1
    assert out[0]["survival"] == pytest.approx(0.75)
    # period 1: n=3, d=1, c=1 → S=0.75·(2/3)=0.5
    assert out[1]["n_at_risk"] == 3 and out[1]["censored"] == 1
    assert out[1]["survival"] == pytest.approx(0.5)
    # period 2: n=1, d=1 → S=0
    assert out[2]["n_at_risk"] == 1
    assert out[2]["survival"] == pytest.approx(0.0)


def test_km_repeat_purchase_monotone_on_fixture(spark):
    df = registry.queries()["km_repeat_purchase"](spark, SF_DIR).collect()
    by_seg: dict[str, list] = {}
    for r in df:
        by_seg.setdefault(r["segment"], []).append(r)
    assert by_seg, "expected at least one segment"
    for rows in by_seg.values():
        # already ordered by period; survival and n_at_risk nonincreasing
        survs = [r["survival"] for r in rows]
        ns = [r["n_at_risk"] for r in rows]
        assert all(a >= b for a, b in zip(survs, survs[1:]))
        assert all(a >= b for a, b in zip(ns, ns[1:]))
        assert all(0.0 <= s <= 1.0 for s in survs)


# ---------------------------------------------------------------------------
# T124 PageRank
# ---------------------------------------------------------------------------

def test_pagerank_symmetric_pair_is_uniform(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 1)], "src long, dst long"
    )
    out = {r["product_id"]: r for r in pagerank_fixed_point(edges).collect()}
    # symmetric 2-node graph: both nodes stay at exactly SCALE/2
    assert out[1]["pagerank_fp"] == _PR_SCALE // 2
    assert out[2]["pagerank_fp"] == _PR_SCALE // 2
    assert out[1]["pagerank"] == pytest.approx(0.5)


def test_pagerank_path_graph_center_dominates(spark):
    # symmetric path 1–2–3: the center collects from both leaves
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    rows = pagerank_fixed_point(edges).collect()
    assert rows[0]["product_id"] == 2
    out = {r["product_id"]: r["pagerank_fp"] for r in rows}
    assert out[1] == out[3]  # symmetry
    assert out[2] > out[1]
    # total mass conserved to within integer-floor leakage
    assert abs(sum(out.values()) - _PR_SCALE) < 1000


def test_pagerank_is_deterministic_across_runs(spark):
    edges = spark.createDataFrame(
        [(a, b) for a in range(6) for b in range(6) if a != b and (a + b) % 3],
        "src long, dst long",
    )
    r1 = [tuple(r) for r in pagerank_fixed_point(edges).collect()]
    r2 = [tuple(r) for r in pagerank_fixed_point(edges).collect()]
    assert r1 == r2


# ---------------------------------------------------------------------------
# T125 Containment
# ---------------------------------------------------------------------------

def test_containment_flags_subset_doc(spark):
    prefix = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, prefix),
            (2, prefix + " iota kappa lambda mu nu xi omicron pi rho sigma"),
            (3, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    rows = containment_pairs(docs, k=3, threshold=0.6, max_df=50).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_id_1"], r["doc_id_2"]) == (1, 2)
    # every shingle of doc 1 appears in doc 2 → containment exactly 1.0
    assert r["containment"] == pytest.approx(1.0)
    assert r["intersection"] == r["size_1"]
    # while Jaccard for the same pair stays below the 0.5 near-dup bar
    from ecommerce_event_pipeline_spark.functions import dedup

    jac = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.0).collect()
    jmap = {(x["doc_id_1"], x["doc_id_2"]): x["jaccard"] for x in jac}
    assert jmap[(1, 2)] < 0.5


# ---------------------------------------------------------------------------
# T126 Bigram surprisal
# ---------------------------------------------------------------------------

def test_bigram_surprisal_hand_computed(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in doc_bigram_surprisal(docs).collect()}
    # corpus: c(a)=3, c(b)=3, V=2; c12("a b")=3, c12("b a")=1
    p_ab = (3 + 1) / (3 + 2)
    p_ba = (1 + 1) / (3 + 2)
    exp1 = -(2 * math.log(p_ab) + math.log(p_ba)) / 3
    exp2 = -math.log(p_ab)
    assert out[1]["n_bigrams"] == 3
    assert out[1]["bigram_surprisal"] == pytest.approx(exp1, abs=1e-4)
    assert out[2]["n_bigrams"] == 1
    assert out[2]["bigram_surprisal"] == pytest.approx(exp2, abs=1e-4)


def test_bigram_surprisal_skips_sub_two_token_docs(spark):
    docs = spark.createDataFrame(
        [(1, "solo"), (2, "two tokens here")], "doc_id long, text string"
    )
    rows = doc_bigram_surprisal(docs).collect()
    assert [r["doc_id"] for r in rows] == [2]


# ---------------------------------------------------------------------------
# T127 Fertility / T128 DiD — fixture-level sanity (oracle pins values)
# ---------------------------------------------------------------------------

def test_lang_token_fertility_fixture_shape(spark):
    rows = registry.queries()["lang_token_fertility"](spark, SF_DIR).collect()
    assert rows, "expected per-language rows"
    for r in rows:
        # a BPE-ish tokenizer splits punctuation off words → fertility ≥ 1
        assert r["fertility"] >= 1.0
        assert r["subword_tokens"] >= r["words"] > 0
        assert r["chars_per_token"] > 0


def test_did_uplift_cells_partition_users(spark):
    row = registry.queries()["did_conversion_uplift"](spark, SF_DIR).collect()
    assert len(row) == 1
    r = row[0]
    for c in (
        "treat_pre_rate",
        "treat_post_rate",
        "ctrl_pre_rate",
        "ctrl_post_rate",
    ):
        assert 0.0 <= r[c] <= 1.0
    assert r["did_estimate"] == pytest.approx(
        (r["treat_post_rate"] - r["treat_pre_rate"])
        - (r["ctrl_post_rate"] - r["ctrl_pre_rate"]),
        abs=5e-6,  # outputs are independently rounded to 1e-6
    )
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    n_users = events.select("user_id").distinct().count()
    # each user appears in ≥1 and ≤2 (pre/post) cells of their arm
    assert max(r["treat_pre_users"], r["treat_post_users"]) + max(
        r["ctrl_pre_users"], r["ctrl_post_users"]
    ) <= n_users
    assert (
        r["treat_pre_users"]
        + r["treat_post_users"]
        + r["ctrl_pre_users"]
        + r["ctrl_post_users"]
        >= n_users
    )


# ---------------------------------------------------------------------------
# T133 HITS / T134 Zipf / T135 time-decay attribution (round-10 batch 3)
# ---------------------------------------------------------------------------

def _write_events(spark, path, rows):
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")


def test_hits_authority_and_hub_on_engineered_graph(spark, tmp_path):
    import datetime as dt

    # directed view→purchase edges 0→2, 1→2, 0→3: node 2 is the strongest
    # authority (two hub in-links), node 0 the strongest hub (two out-links)
    rows = [
        (1, dt.datetime(2024, 1, 1, 9), 1, "view", None, '{"k": 0}'),
        (2, dt.datetime(2024, 1, 1, 9), 1, "view", None, '{"k": 1}'),
        (3, dt.datetime(2024, 1, 1, 10), 1, "purchase", 5.0, '{"k": 2}'),
        (4, dt.datetime(2024, 1, 1, 9), 2, "view", None, '{"k": 0}'),
        (5, dt.datetime(2024, 1, 1, 10), 2, "purchase", 5.0, '{"k": 3}'),
    ]
    _write_events(spark, str(tmp_path), rows)
    out = registry.queries()["hits_scores"](spark, str(tmp_path)).collect()
    by_k = {r["product_id"]: r for r in out}
    assert out[0]["product_id"] == 2  # top authority
    assert by_k[2]["authority_fp"] == 10**6  # normalized max
    assert by_k[0]["hub_fp"] == 10**6  # node 0 is the max hub
    assert by_k[0]["hub_fp"] > by_k[1]["hub_fp"]
    assert by_k[2]["authority_fp"] > by_k[3]["authority_fp"]


@pytest.mark.parametrize("types", [["cart"], ["view", "cart"]])
def test_fixed_points_on_degenerate_events_match_the_oracle(
    spark, tmp_path, types
):
    import datetime as dt

    import duckdb

    # no view→purchase or co-view edge, so HITS and PageRank are empty.
    # One cart event has no within-session transition: no chain states.
    # view → cart has one state (view) that no transition re-enters:
    # every power step's mass sums to nothing, so π is NULL.
    rows = [
        (i, dt.datetime(2024, 1, 1, 9 + i), 1, t, None, f'{{"k": {i}}}')
        for i, t in enumerate(types)
    ]
    _write_events(spark, str(tmp_path), rows)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    names = ["hits_scores", "item_pagerank", "transition_stationary"]
    oracles = registry.oracle_sql()
    if len(types) == 1:
        # no states: the entropy rate is undefined and both engines refuse it
        with pytest.raises(ValueError, match="no within-session transitions"):
            registry.queries()["markov_entropy_rate"](spark, str(tmp_path))
        with pytest.raises(duckdb.OutOfRangeException, match="logarithm of zero"):
            con.sql(oracles["markov_entropy_rate"]).fetchall()
    else:
        names.append("markov_entropy_rate")
    for name in names:
        sdf = registry.queries()[name](spark, str(tmp_path))
        rel = con.sql(oracles[name])
        assert sdf.columns == rel.columns, name
        assert sdf.collect() == rel.fetchall(), name


def test_time_decay_attribution_exact_integer_split(spark, tmp_path):
    import datetime as dt

    # one $1.00 purchase; a view 25 h before (Δdays=1 → w=64) and a click
    # 6 d 2 h before (Δdays=6 → w=2): shares are exact integer micro-cents
    # with the leftover micro-cent going to the most recent touch
    p_ts = dt.datetime(2024, 1, 10, 12, 0, 0)
    rows = [
        (1, p_ts - dt.timedelta(hours=25), 7, "view", None, "{}"),
        (2, p_ts - dt.timedelta(days=6, hours=2), 7, "click", None, "{}"),
        (3, p_ts, 7, "purchase", 1.0, "{}"),
    ]
    _write_events(spark, str(tmp_path), rows)
    out = registry.queries()["time_decay_attribution"](
        spark, str(tmp_path)
    ).collect()
    by_ch = {r["channel"]: r for r in out}
    total_micro = 100 * 1_000_000
    assert by_ch["view"]["attributed_microcents"] == total_micro * 64 // 66 + 1
    assert by_ch["click"]["attributed_microcents"] == total_micro * 2 // 66
    assert (
        sum(r["attributed_microcents"] for r in out) == total_micro
    )  # conserved exactly


def test_zipf_slope_is_minus_one_on_exact_power_law(spark, tmp_path):
    import math

    # counts 12/r for ranks 1..4 → ln-ln OLS slope exactly −1
    text = " ".join(["a"] * 12 + ["b"] * 6 + ["c"] * 4 + ["d"] * 3)
    docs = spark.createDataFrame(
        [(1, text, "zz", "web", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    out = registry.queries()["zipf_lang_slope"](spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_ranks"] == 4
    assert r["zipf_slope"] == pytest.approx(-1.0, abs=1e-3)
    assert r["intercept"] == pytest.approx(math.log(12.0), abs=1e-3)


def test_position_attribution_u_shape_exact_split(spark, tmp_path):
    import datetime as dt

    # one $1.00 purchase with 4 touches: first and last get 40% each,
    # the two middles split the 20% pool; all exact micro-cents
    p_ts = dt.datetime(2024, 1, 10, 12, 0, 0)
    rows = [
        (1, p_ts - dt.timedelta(hours=30), 7, "view", None, "{}"),
        (2, p_ts - dt.timedelta(hours=20), 7, "click", None, "{}"),
        (3, p_ts - dt.timedelta(hours=10), 7, "click", None, "{}"),
        (4, p_ts - dt.timedelta(hours=5), 7, "add_to_cart", None, "{}"),
        (5, p_ts, 7, "purchase", 1.0, "{}"),
    ]
    _write_events(spark, str(tmp_path), rows)
    out = registry.queries()["position_attribution"](
        spark, str(tmp_path)
    ).collect()
    by_ch = {r["channel"]: r for r in out}
    micro = 100 * 1_000_000
    # first (view) 40%; last (add_to_cart) 40%; middles (2 clicks) 10% each
    assert by_ch["view"]["attributed_microcents"] == micro * 40 // 100
    assert by_ch["add_to_cart"]["attributed_microcents"] == micro * 40 // 100
    assert by_ch["click"]["attributed_microcents"] == micro - 2 * (micro * 40 // 100)
    assert sum(r["attributed_microcents"] for r in out) == micro
