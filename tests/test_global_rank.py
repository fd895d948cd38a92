"""Distributed exact global ranking and the one-task result sort
(operators/windows.py).

``global_row_number`` / ``global_ntile`` must be BIT-IDENTICAL to the SQL
window functions over a total order — they exist purely to replace the
single-partition ``Window.orderBy`` plan with range-partition + offset,
so any divergence is a correctness bug, not an approximation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ecommerce_event_pipeline_spark.operators.windows import (
    global_ntile,
    global_row_number,
    sort_result,
)


def _frame(spark, n: int):
    # 7919 is prime vs 1000 → keys collide but are well spread; uid is
    # the total-order tiebreak
    return spark.range(n).select(
        (F.col("id") * 7919 % 1000).alias("k"), F.col("id").alias("uid")
    )


def test_sort_result_matches_order_by_without_a_range_exchange(spark):
    # seven input splits, nullable keys in both directions, ties between
    # them broken by the unique uid
    df = (
        _frame(spark, 500)
        .select(
            F.when(F.col("k") % 11 == 0, None).otherwise(F.col("k") % 13).alias("a"),
            F.when(F.col("uid") % 7 == 0, None)
            .otherwise((F.col("k") % 5).cast("double"))
            .alias("b"),
            "uid",
        )
        .repartition(7)
    )
    for keys in (
        ("a", F.desc("b"), "uid"),
        (F.asc_nulls_last("a"), F.desc_nulls_first("b"), F.desc("uid")),
    ):
        got = sort_result(df, *keys)
        assert got.collect() == df.orderBy(*keys).collect()
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" not in plan, plan
        assert "SinglePartition" in plan, plan


def test_global_row_number_matches_window(spark):
    df = _frame(spark, 257)
    got = {
        (r["uid"], r["global_rn"])
        for r in global_row_number(df, ["k", "uid"]).collect()
    }
    exp = {
        (r["uid"], r["rn"])
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("k", "uid"))
        ).collect()
    }
    assert got == exp


def test_global_ntile_matches_sql_ntile_all_shapes(spark):
    # shapes: remainder buckets, N < B, N % B == 0, tiny N, descending
    for n, b, desc in [(103, 5, False), (4, 5, False), (100, 5, True),
                       (17, 3, True), (1, 5, False)]:
        df = _frame(spark, n)
        order = (
            [F.desc("k"), F.asc("uid")] if desc else [F.asc("k"), F.asc("uid")]
        )
        got = {
            (r["uid"], r["nt"])
            for r in global_ntile(df, b, order, out_col="nt").collect()
        }
        exp = {
            (r["uid"], r["nt"])
            for r in df.withColumn(
                "nt", F.ntile(b).over(Window.orderBy(*order))
            ).collect()
        }
        assert got == exp, (n, b, desc)


def test_global_ntile_empty_input(spark):
    df = _frame(spark, 0)
    assert global_ntile(df, 5, ["k", "uid"], out_col="nt").count() == 0


def test_ntile_rejects_nonpositive_buckets(spark):
    """b = 0 would hit `_n % 0` in the bucket arithmetic — silent NULLs
    in default mode, a runtime error under ANSI; the helper must fail
    loudly at the API boundary instead."""
    df = _frame(spark, 10)
    for b in (0, -3):
        with pytest.raises(ValueError, match="n_buckets"):
            global_ntile(df, b, ["k", "uid"])


def test_global_rank_plan_has_no_unpartitioned_window(spark):
    """The reason these helpers exist: the physical plan must contain no
    single-partition WindowExec (every Window node keys on _pid), so the
    sort parallelizes at any scale."""
    df = _frame(spark, 100)
    plan = (
        global_ntile(df, 5, ["k", "uid"], out_col="nt")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "_pid" in line, line


def test_distributed_prefix_sum_matches_window(spark):
    from ecommerce_event_pipeline_spark.operators.windows import (
        distributed_prefix_sum,
    )

    df = _frame(spark, 143).withColumn("v", (F.col("uid") % 13) + 1)
    for exclusive in (True, False):
        got = {
            (r["uid"], r["ps"])
            for r in distributed_prefix_sum(
                df, ["k", "uid"], "v", out_col="ps", exclusive=exclusive
            ).collect()
        }
        w = Window.orderBy("k", "uid").rowsBetween(
            Window.unboundedPreceding, -1 if exclusive else 0
        )
        exp = {
            (r["uid"], r["ps"])
            for r in df.withColumn(
                "ps", F.coalesce(F.sum("v").over(w), F.lit(0))
            ).collect()
        }
        assert got == exp, exclusive


def test_distributed_prefix_sum_multi_column(spark):
    """The multi-column form (one pinned frame, several value columns —
    the flat-fan-out replacement for nested single-column calls, round
    13) must equal two independent single-column window truths, over a
    shuffle-fed input."""
    from ecommerce_event_pipeline_spark.operators.windows import (
        distributed_prefix_sum,
    )

    df = (
        _frame(spark, 137)
        .withColumn("v1", (F.col("uid") % 13) + 1)
        .withColumn("v2", (F.col("uid") % 7) * 2)
        .repartition(7)  # shuffle-fed: partition layout nondeterministic
    )
    for exclusive in (True, False):
        got = {
            (r["uid"], r["p1"], r["p2"])
            for r in distributed_prefix_sum(
                df,
                ["k", "uid"],
                ["v1", "v2"],
                out_col=["p1", "p2"],
                exclusive=exclusive,
            ).collect()
        }
        w = Window.orderBy("k", "uid").rowsBetween(
            Window.unboundedPreceding, -1 if exclusive else 0
        )
        exp = {
            (r["uid"], r["p1"], r["p2"])
            for r in df.withColumn(
                "p1", F.coalesce(F.sum("v1").over(w), F.lit(0))
            )
            .withColumn("p2", F.coalesce(F.sum("v2").over(w), F.lit(0)))
            .collect()
        }
        assert got == exp, exclusive
    with pytest.raises(ValueError, match="length mismatch"):
        distributed_prefix_sum(df, ["k"], ["v1", "v2"], out_col="p1x")


def test_multi_column_prefix_sum_single_window_pin(spark):
    """Plan pin for the flat-fan-out claim: N value columns share ONE
    physical Window operator (same spec → Catalyst collapses them), so
    the multi-column form adds expressions, not sorts."""
    import re

    from ecommerce_event_pipeline_spark.operators.windows import (
        distributed_prefix_sum,
    )

    df = spark.range(100).select(
        (F.col("id") % 7).alias("k"),
        F.col("id").alias("uid"),
        (F.col("id") % 13).alias("v1"),
        (F.col("id") % 5).alias("v2"),
    )
    out = distributed_prefix_sum(
        df, ["k", "uid"], ["v1", "v2"], out_col=["p1", "p2"], exclusive=False
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    windows = [
        line for line in plan.splitlines() if re.search(r"\bWindow\b", line)
    ]
    assert len(windows) == 1, windows
    assert "v1" in windows[0] and "v2" in windows[0]


def test_prefix_sum_consistent_over_shuffled_input(spark):
    """Round-11 regression: distributed_prefix_sum's ranged partition
    assignment fans out to two consumers; before the materialization
    fix, a shuffle-produced input (nondeterministic within-partition
    row order) could sample DIFFERENT range boundaries per consumer
    and silently corrupt the offsets — caught by the sf0.1 KS query.
    Reproduce the shape: feed the op from a groupBy, check against an
    exact sequential fold, several times."""
    from pyspark.sql import functions as F

    from ecommerce_event_pipeline_spark.operators.windows import (
        distributed_prefix_sum,
    )

    base = spark.range(0, 20000).select(
        (F.col("id") % 4999).alias("k"), F.lit(1).alias("one")
    )
    g = base.groupBy("k").agg(F.count("*").cast("long").alias("c"))
    for _ in range(3):
        got = {
            r["k"]: r["f"]
            for r in distributed_prefix_sum(
                g, ["k"], "c", out_col="f", exclusive=False
            ).collect()
        }
        rows = sorted((r["k"], r["c"]) for r in g.collect())
        acc = 0
        for k, c in rows:
            acc += c
            assert got[k] == acc, f"prefix mismatch at k={k}"


def test_grouped_percentiles_consistent_over_shuffled_input(spark):
    """Round-12 fan-out sweep: grouped_exact_percentiles has the same
    two-consumer range-partition shape as the order-statistics operators
    (`part` feeds the local rank window AND the counts groupBy), so it
    gets the same materialize-once fix and the same shuffled-input
    regression: feed it from a groupBy and check bit-identity with the
    single-buffer SQL percentile, several times."""
    from ecommerce_event_pipeline_spark.functions.stats import (
        grouped_exact_percentiles,
    )

    base = spark.range(0, 20000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 4999).cast("double").alias("v"),
    )
    shuffled = base.groupBy("g", "v").agg(F.count("*").alias("c")).drop("c")
    exp = {
        (r["g"], r["p50"], r["p90"])
        for r in shuffled.groupBy("g")
        .agg(
            F.expr("percentile(v, 0.5D)").alias("p50"),
            F.expr("percentile(v, 0.9D)").alias("p90"),
        )
        .collect()
    }
    for _ in range(3):
        got = {
            (r["g"], r["p50"], r["p90"])
            for r in grouped_exact_percentiles(
                shuffled, "v", {"p50": 0.5, "p90": 0.9}, ["g"]
            ).collect()
        }
        assert got == exp


def _fanout_outputs(spark, df):
    from ecommerce_event_pipeline_spark.functions.stats import (
        grouped_exact_percentiles,
    )
    from ecommerce_event_pipeline_spark.operators.windows import (
        distributed_prefix_sum,
        global_ntile,
        global_row_number,
    )

    return {
        "global_row_number": global_row_number(df, ["v", "uid"]),
        "global_ntile": global_ntile(df, 4, ["v", "uid"]),
        "distributed_prefix_sum": distributed_prefix_sum(
            df, ["v", "uid"], "uid"
        ),
        "grouped_exact_percentiles": grouped_exact_percentiles(
            df, "v", {"p50": 0.5}, ["g"]
        ),
    }


def test_deterministic_pid_pin_all_fanout_operators(spark):
    """THE falsifiable regression for the consistent-_pid contract
    (round 13, VERDICT r12 item 2). The shuffled-input tests above check
    bit-identity, but at unit scale two independently-derived
    assignments usually agree anyway, so they can pass even with the
    contract broken — the race only reproduced at sf0.1. What IS
    deterministic is the plan shape. Under the default (boundary)
    variant every consumer's executed plan must contain:

    - NO ``spark_partition_id`` — the nondeterministic source the
      round-11 bug class grew from is gone entirely;
    - NO ``rangepartitioning`` exchange — ``_pid`` is an expression,
      not a physical partitioning;
    - NO ``ExistingRDD`` checkpoint leaf — nothing is pinned in
      executor storage (the plan stays fully lazy and lineage-
      recoverable).

    Swap the _pid expression back to spark_partition_id (or the helper
    back to repartitionByRange) and this fails immediately."""
    df = spark.range(0, 2000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 97).cast("double").alias("v"),
        F.col("id").alias("uid"),
    )
    for name, out in _fanout_outputs(spark, df).items():
        out.collect()  # finalize adaptive plan
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SPARK_PARTITION_ID" not in plan.upper(), (
            f"{name}: _pid still derived from the nondeterministic "
            "spark_partition_id"
        )
        assert "rangepartitioning" not in plan, (
            f"{name}: physical range exchange in consumer plan — the "
            "assignment must be a deterministic expression"
        )
        assert "ExistingRDD" not in plan, (
            f"{name}: checkpoint leaf present — the boundary variant "
            "must not pin executor storage"
        )


def test_checkpoint_fallback_pin(spark):
    """The checkpoint variant stays available as the fallback for sort
    specs the boundary derivation can't express, with its original
    materialize-once plan shape: the consumer reads the pinned
    ExistingRDD leaf, with no re-executable rangepartitioning exchange
    and no re-scan of the original source (ADVICE r12: the old
    'Scan Range' spelling was vacuous — a spark.range leaf prints as
    'Range (', which is what must be absent)."""
    from ecommerce_event_pipeline_spark.operators.windows import (
        pinned_range_partition,
    )

    df = spark.range(0, 500).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("uid")
    )
    part = pinned_range_partition(df, 8, "k", "uid", method="checkpoint")
    local = part.withColumn(
        "_lrn", F.row_number().over(Window.partitionBy("_pid").orderBy("k", "uid"))
    )
    local.collect()
    plan = local._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, "checkpoint leaf missing"
    assert "rangepartitioning" not in plan
    assert "Range (" not in plan, "consumer re-scans the original source"


def test_boundary_pid_monotone_and_balanced(spark):
    """The boundary variant's _pid must be monotone in the sort order
    (all rows of pid i sort strictly before rows of pid i+1 — the
    property the offset math relies on) and must actually spread a
    non-tiny input over multiple partitions (boundaries exist and are
    distinct), including descending specs."""
    from ecommerce_event_pipeline_spark.operators.windows import (
        pinned_range_partition,
    )

    df = spark.range(0, 5000).select(
        (F.col("id") * 7919 % 1000).alias("k"), F.col("id").alias("uid")
    )
    for order, keyfn in [
        (["k", "uid"], lambda r: (r["k"], r["uid"])),
        ([F.desc("k"), F.asc("uid")], lambda r: (-r["k"], r["uid"])),
    ]:
        rows = pinned_range_partition(
            df, 16, *order, method="boundaries"
        ).collect()
        by_pid = {}
        for r in rows:
            by_pid.setdefault(r["_pid"], []).append(keyfn(r))
        pids = sorted(by_pid)
        assert len(pids) >= 8, f"poor spread: {len(pids)} pids"
        for lo, hi in zip(pids, pids[1:]):
            assert max(by_pid[lo]) <= min(by_pid[hi]), (lo, hi)


def test_boundary_pid_handles_nulls_like_window_defaults(spark):
    """Null sort keys must land on the same side the window's DEFAULT
    null ordering puts them (asc → nulls first, desc → nulls last):
    the proxy struct's null-rank indicator field encodes exactly that.
    Checked end-to-end: global_row_number over a nullable column in
    both directions must be bit-identical to the SQL window."""
    from ecommerce_event_pipeline_spark.operators.windows import (
        global_row_number,
    )

    df = spark.range(0, 400).select(
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.col("id") % 53)
        .alias("k"),
        F.col("id").alias("uid"),
    )
    for order in (["k", "uid"], [F.desc("k"), F.asc("uid")]):
        got = {
            (r["uid"], r["global_rn"])
            for r in global_row_number(df, order).collect()
        }
        exp = {
            (r["uid"], r["rn"])
            for r in df.withColumn(
                "rn", F.row_number().over(Window.orderBy(*order))
            ).collect()
        }
        assert got == exp, str(order[0])


def test_boundary_variant_is_lazy_and_fallback_triggers(spark):
    """Construction + .explain() of every fan-out operator under the
    default variant must run ZERO Spark jobs (the checkpoint variant's
    build-time job was the ADVICE r12 storage/cost finding). Also pins
    method dispatch: strings/floats can't be negated, so descending
    specs on them fall back to the checkpoint variant under 'auto' and
    raise under method='boundaries'."""
    import pytest

    from ecommerce_event_pipeline_spark.operators.windows import (
        pinned_range_partition,
    )

    df = spark.range(0, 2000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 97).cast("double").alias("v"),
        F.col("id").alias("uid"),
    )
    sc = spark.sparkContext
    group = "lazy-pin-test"
    sc.setJobGroup(group, "plan-only construction must run no jobs")
    try:
        for name, out in _fanout_outputs(spark, df).items():
            out.explain("formatted")
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert jobs == [], f"construction/explain ran Spark jobs: {jobs}"
    finally:
        sc.setJobGroup(None, None)

    # desc on a string column is not boundary-expressible
    auto = pinned_range_partition(df, 8, F.desc("g"), "uid")
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, "auto should fall back to checkpoint"
    with pytest.raises(ValueError, match="not expressible"):
        pinned_range_partition(df, 8, F.desc("g"), "uid", method="boundaries")
    with pytest.raises(ValueError, match="method"):
        pinned_range_partition(df, 8, "uid", method="bogus")


def test_prefix_sum_rejects_bad_value_col_specs(spark):
    """Loud errors for the misuse shapes the widened signature invites:
    Column expressions (previously an opaque 'Column is not iterable'
    TypeError) and duplicate output names (previously a silent collapse
    in the withColumns dict)."""
    from ecommerce_event_pipeline_spark.operators.windows import (
        distributed_prefix_sum,
    )

    df = spark.range(5).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).alias("v1"),
        (F.col("id") % 3).alias("v2"),
    )
    with pytest.raises(TypeError, match="pass strings"):
        distributed_prefix_sum(df, ["k"], F.col("v1"))
    with pytest.raises(TypeError, match="pass strings"):
        distributed_prefix_sum(df, ["k"], "v1", out_col=F.col("v1"))
    with pytest.raises(ValueError, match="duplicate out_col"):
        distributed_prefix_sum(df, ["k"], ["v1", "v2"], out_col=["p", "p"])


def test_sort_spec_repr_canary(spark):
    """``_sort_specs`` parses ``str(Column)`` with a regex, and Spark
    does not guarantee ``Column.__repr__``'s format — a PySpark upgrade
    that changes it would silently degrade every boundary-expressible
    call site to the checkpoint fallback (correct but eager + pinned
    storage). Pin the repr format loudly (VERDICT r13 item 7)."""
    from ecommerce_event_pipeline_spark.operators.windows import (
        _SORT_RE,
        _sort_specs,
    )

    assert _SORT_RE.fullmatch(str(F.col("x"))), str(F.col("x"))
    assert _SORT_RE.fullmatch(str(F.asc("x"))), str(F.asc("x"))
    assert _SORT_RE.fullmatch(str(F.desc("x"))), str(F.desc("x"))

    df = spark.range(3).select(
        F.col("id").alias("x"), F.col("id").alias("y")
    )
    # the parse must carry direction through, not just match
    assert _sort_specs(df, ["x", F.asc("y")]) == [("x", True), ("y", True)]
    assert _sort_specs(df, [F.desc("x")]) == [("x", False)]
    # non-default null ordering and computed expressions stay
    # checkpoint-fallback (None), by design
    assert _sort_specs(df, [F.asc_nulls_last("x")]) is None
    assert _sort_specs(df, [F.col("x") + 1]) is None
    assert _sort_specs(df, ["not_a_column"]) is None
