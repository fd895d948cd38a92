"""Physical-plan assertions — the scale properties, not just the results.

These tests pin the plan shapes that matter at 100 TB: filters and column
pruning reaching the parquet scan, map-side partial aggregation before
every exchange, keyed windows. Every non-streaming registered query's
plan fingerprint (join strategies, top-k nodes, Python boundaries,
shuffles, job counts) is checked against ``tests/plan_fingerprints.json``
(``make plans`` rewrites it), and no query outside a reviewed allowlist
may plan a single-partition window. A regression here is a performance
bug even while results stay correct.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ecommerce_event_pipeline_spark import registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import plan_fingerprints  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def plan_of(name: str, spark) -> str:
    df = registry.queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


#: execute jobs of ``jaccard_prefix_pairs``' collect at sf0.001 in the
#: plan-fingerprint record while its final sort was an ``orderBy``: the
#: range exchange's sampling job ran the candidate-and-verify stage twice
ORDER_BY_JACCARD_PREFIX_JOBS = 8


def test_jaccard_prefix_pairs_sorts_without_a_sampling_job(spark, count_jobs):
    df = registry.queries()["jaccard_prefix_pairs"](spark, SF_DIR)
    assert count_jobs(df.collect) <= ORDER_BY_JACCARD_PREFIX_JOBS - 1


def test_filter_pushdown_reaches_parquet_scan(spark):
    plan = plan_of("orders_projection", spark)
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(o_orderstatus,O\)", plan), plan


def test_column_pruning_on_wide_scan(spark):
    # funnel only needs ts/event_type/user_id — value and props must be
    # pruned from the events scan
    plan = plan_of("funnel_daily", spark)
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m, plan
    assert "value" not in m.group(1)
    assert "props" not in m.group(1)
    assert "event_type" in m.group(1)


def test_small_dims_are_broadcast(spark):
    plan = plan_of("local_supplier_volume", spark)
    assert "BroadcastHashJoin" in plan
    plan2 = plan_of("customer_nation_rollup", spark)
    assert "BroadcastHashJoin" in plan2


def test_topk_is_take_ordered_not_global_sort(spark):
    for name in ("shipping_priority", "top_parts_by_revenue"):
        plan = plan_of(name, spark)
        assert "TakeOrderedAndProject" in plan, f"{name} lost its top-k plan"


def test_aggregates_have_mapside_partials(spark):
    plan = plan_of("pricing_summary", spark)
    assert "partial_sum" in plan  # partial (map-side) before the exchange


def test_semi_join_for_exists(spark):
    plan = plan_of("order_priority_counts", spark)
    assert "LeftSemi" in plan


def test_no_python_udf_in_relational_paths(spark):
    # every reference-parity operator stays JVM-side; Python appears only in
    # the explicitly-vectorized ANN/multimodal operators
    for name in (
        "funnel_daily", "user_daily", "session_patterns", "pricing_summary",
        "quality_report", "doc_token_stats", "minhash_near_dupes",
        "simhash_fingerprints", "embedding_topk",
    ):
        plan = plan_of(name, spark)
        assert "BatchEvalPython" not in plan, f"{name} fell back to row-Python"
        assert "ArrowEvalPython" not in plan, f"{name} uses a UDF it shouldn't"


def test_orders_mart_bounds_driver_transfer(spark):
    plan = plan_of("orders_mart", spark)
    assert "TakeOrderedAndProject" in plan, "orders_mart lost its bounded-transfer slice"


def test_embedding_near_dupes_broadcasts_candidates(spark):
    # exact rerank joins the (tiny) candidate pair set back to the vectors —
    # the pair side must broadcast, the vector scan must never shuffle into
    # a sort-merge join
    plan = plan_of("embedding_near_dupes", spark)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


#: the k-gram lambda of functions/dedup.word_kgrams as it prints in a
#: physical plan; every place a plan evaluates the shingle transform
#: carries it
_SHINGLE_TRANSFORM = "lambdafunction(concat_ws("


def _final_plan(df) -> str:
    """The executed physical plan, without the initial plan that an
    adaptive plan also prints."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.toString()


def test_pair_queries_evaluate_the_shingle_transform_once(spark, monkeypatch):
    # Count the transform across every executed plan of the query: its
    # own plan and the plan of each frame it pinned. One is the contract:
    # a lazy or repartitioned base lets Spark push each branch's filters
    # into the shingle projection, and every branch then re-runs it.
    from ecommerce_event_pipeline_spark.operators import windows

    pinned = []
    pin = windows.pin_frame

    def recording_pin(df):
        pinned.append(df)
        return pin(df)

    monkeypatch.setattr(windows, "pin_frame", recording_pin)
    for name in ("jaccard_prefix_pairs", "ngram_jaccard_pairs"):
        pinned.clear()
        df = registry.queries()[name](spark, SF_DIR)
        df.collect()
        counts = [
            _final_plan(d).count(_SHINGLE_TRANSFORM) for d in (df, *pinned)
        ]
        assert sum(counts) == 1, (name, counts)


def test_doc_chunks_is_shuffle_free(spark):
    # chunking is a pure 1→N projection: the only allowed exchange is the
    # final presentation sort's single partition — no hash shuffle, no
    # aggregation pass anywhere
    plan = plan_of("doc_chunks", spark)
    assert "hashpartitioning" not in plan, plan[:2000]
    assert "HashAggregate" not in plan


def test_pack_sequences_never_globally_orders_the_corpus(spark):
    # the corpus-grain window must be partitioned by shard; only the
    # one-row-per-shard offsets cumsum may run single-partition, and the
    # shard offsets must come back via a broadcast join
    plan = plan_of("pack_sequences", spark)
    m = re.findall(r"Window .*?windowspecdefinition\(([^,]*),", plan)
    assert any("_shard" in spec for spec in m), plan[:3000]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_contamination_broadcasts_benchmark_universe(spark):
    # the benchmark shingle set is the provably-small side — the corpus
    # explode must stream past it, never shuffle into a sort-merge join
    plan = plan_of("contamination_check", spark)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_training_shards_windows_per_shard_only(spark):
    plan = plan_of("training_shards", spark)
    m = re.findall(r"windowspecdefinition\(([^,]*),", plan)
    assert m and all("shard_id" in spec for spec in m), plan[:3000]


def test_pii_scrub_is_row_local(spark):
    plan = plan_of("pii_scrub_stats", spark)
    assert "hashpartitioning" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_top_k_per_group_pushes_group_limit_map_side(spark):
    """Spark's rank-based filter pushdown must kick in for the row_number
    <= k idiom: a Partial WindowGroupLimit runs BEFORE the shuffle, so at
    most k rows per group per input partition ever cross the wire — the
    property that makes per-group top-k safe on a skewed 100 TB key."""
    from pyspark.sql import functions as F

    from ecommerce_event_pipeline_spark.operators.windows import (
        top_k_per_group,
    )

    df = spark.range(1000).select(
        (F.col("id") % 7).alias("g"), F.col("id").alias("v")
    )
    plan = (
        top_k_per_group(df, ["g"], "v", 3, tiebreak_col="v")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan[:2000]
    assert "Partial" in plan and "Final" in plan, plan[:2000]


def test_item_similarity_topk_group_limits_map_side(spark):
    """The per-item top-3 must compile to Partial+Final WindowGroupLimit
    (at most 3 rows per part per input partition cross the shuffle) and
    the pair join must stay keyed by order, never a cartesian."""
    plan = plan_of("item_similarity_topk", spark)
    assert "WindowGroupLimit" in plan, plan[:2000]
    assert "Partial" in plan and "Final" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_revenue_concentration_never_single_partition_sorts(spark):
    """The global descending rank must come from the range-partition +
    offset pattern: every window in the plan carries a partition spec
    (no move-everything-to-one-task WindowExec), and the ≤ P-row offset
    table is broadcast."""
    plan = plan_of("revenue_concentration", spark)
    for m in re.finditer(r"Window \[([^\]]*)\]", plan):
        assert "windowspecdefinition(_pid" in m.group(0) or "_pid" in m.group(
            0
        ), m.group(0)
    assert "BroadcastExchange" in plan, plan[:2000]


def test_peak_concurrency_prefix_sum_is_partitioned(spark):
    """The sweep-line running sum must be the distributed prefix sum —
    windows partitioned by _pid only — not a global ORDER BY window."""
    plan = plan_of("peak_concurrency", spark)
    assert "windowspecdefinition(_pid" in plan, plan[:2000]


def test_contrastive_pairs_prefilters_with_arrow_shortlist(spark):
    """The exact fold must run on the GEMM shortlist, not the full
    within-block pair join: the plan carries the Arrow-evaluated
    applyInPandas stage and the per-anchor rankings group-limit
    map-side."""
    plan = plan_of("contrastive_pairs", spark)
    assert "FlatMapGroupsInPandas" in plan, plan[:2000]
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_span_stats_explodes_the_corpus_once(spark):
    """cross_doc_span_stats must materialize the md5 span digests in a
    SINGLE Generate pass: the docs-per-span test is a COUNT window keyed
    on span_h over the (span, doc) multiplicity aggregate, never a
    join-back that re-explodes the corpus (the dominant cost at scale is
    the O(tokens) md5 explode itself)."""
    plan = plan_of("span_dedup_stats", spark)
    assert plan.count("Generate") == 1, plan[:2000]
    # the digests slice the projected token column (split once per doc),
    # and no filter inferred from the explode re-runs the transform
    assert "slice(_toks" in plan, plan[:2000]
    assert plan.count("md5(cast(concat_ws(") == 1, plan[:2000]
    # and the window is keyed — partitioned by the span digest, not global
    m = re.search(r"Window.*\[span_h", plan)
    assert m or "windowspecdefinition(span_h" in plan, plan[:2000]


@pytest.fixture(scope="module")
def fingerprints(spark):
    """The recorded fingerprints, and the measured ones with each query's
    unpartitioned window lines. A query above its recorded job ceiling
    is run again, up to ``plan_fingerprints.TRIES`` runs (as many as the
    record's ceiling is the most of), before it counts as drifted."""
    with open(plan_fingerprints.RECORD) as f:
        recorded = json.load(f)
    ceilings = {name: r["exec_jobs"] for name, r in recorded.items()}
    return recorded, *plan_fingerprints.fingerprint(spark, ceilings)


def test_plan_fingerprints_match_the_record(fingerprints):
    """Any change in a query's plan-feature counts (its own or build-time
    plans) or build jobs, or more execute jobs than recorded, fails until
    the record is rewritten with the change explained."""
    recorded, measured, _ = fingerprints
    drift = []
    for name in sorted(set(measured) | set(recorded)):
        new, old = measured.get(name), recorded.get(name)
        if new is None or old is None:
            drift.append(f"{name}: {'not recorded' if old is None else 'gone'}")
            continue
        for plans in ("plan", "build_plans"):
            for feature in sorted(set(new[plans]) | set(old[plans])):
                was, now = old[plans].get(feature, 0), new[plans].get(feature, 0)
                if was != now:
                    drift.append(f"{name}: {plans} {feature} {was} -> {now}")
        was, now = old["build_jobs"], new["build_jobs"]
        if was != now:
            drift.append(f"{name}: build_jobs {was} -> {now}")
        was, now = old["exec_jobs"], new["exec_jobs"]
        if now > was:
            drift.append(f"{name}: exec_jobs {now} above the recorded {was}")
    assert not drift, (
        "plans drifted from tests/plan_fingerprints.json; if intended, rewrite"
        " it with `make plans` and explain each change:\n" + "\n".join(drift)
    )


def test_unpartitioned_windows_only_in_allowlisted_queries(fingerprints):
    """A WindowExec with an order but no partition spec moves every row
    to one task; only the allowlisted bounded-grain queries may plan one,
    in their own or build-time plans, and every allowlist entry must
    still plan one."""
    _, _, windows = fingerprints
    allowed = plan_fingerprints.GLOBAL_WINDOW_ALLOWLIST
    offenders = [
        f"{name}: {line[:140]}"
        for name, lines in windows.items()
        if name not in allowed
        for line in lines
    ]
    assert not offenders, "single-partition windows:\n" + "\n".join(offenders)
    stale = set(allowed) - {name for name, lines in windows.items() if lines}
    assert not stale, f"allowlist entries that plan no such window: {sorted(stale)}"


def test_unpartitioned_window_lines_flags_only_the_global_order(spark):
    df = spark.range(100).select((F.col("id") % 3).alias("g"), F.col("id").alias("v"))

    def lines(w):
        plan = df.select(F.sum("v").over(w))._jdf.queryExecution().executedPlan()
        return plan_fingerprints.unpartitioned_window_lines(plan.toString())

    assert len(lines(Window.orderBy("v"))) == 1
    assert lines(Window.partitionBy("g").orderBy("v")) == []
    assert lines(Window.partitionBy("g")) == []
