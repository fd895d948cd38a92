"""Plan fingerprints of every non-streaming registered query.

``python tools/plan_fingerprints.py`` (``make plans``) writes
``tests/plan_fingerprints.json``, one sorted line per query, and
``tests/test_plans.py`` re-measures and checks it. Rewrite it after a
planner-relevant change and say in the commit why each line changed.

Queries run at sf0.001 as ``bench.py`` times them: sharing on, the memo
cleared, the shared bases warmed by ``bench.warm_up``. Per query:

- ``plan``: ``PLAN_FEATURES`` counts over the plan Spark chose for the
  query's frame;
- ``build_plans``: the same counts summed over the chosen plans of the
  SQL executions the query call itself ran (``pin_frame`` checkpoints,
  fixed-point and refit collects), read from Spark's SQL status store;
- ``build_jobs``: the jobs the query call fired;
- ``exec_jobs``: the most jobs its ``collect()`` fired in ``TRIES`` runs,
  a ceiling. ``tests/test_plans.py`` takes up to ``TRIES`` runs too, so a
  rewrite records the most of as many runs as the check may need.

The chosen plan is an adaptive plan's initial plan. Its final plan is
re-planned as stage statistics arrive, and which stage finishes first is
a race: between runs of one session ``hll_segment_overlap`` swapped a
join's build side (final-plan ``Exchange`` count 26 to 28, 28 to 30
jobs), and ``local_supplier_volume`` fired 9 or 10 jobs as a sort-merge
join became a broadcast join before or after one side's shuffle began.
Hence the job ceiling. A plan-text hash is not stable either: the order
of count-distinct groups inside ``Expand`` differs between sessions.
"""

from __future__ import annotations

import json
import os
import sys
from unittest import mock

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"
RECORD = os.path.join(REPO, "tests", "plan_fingerprints.json")
#: runs per query: the record keeps the most jobs of this many, and the
#: check re-runs a query above its ceiling up to this many times
TRIES = 6
#: driver heap of the sweep's own session (``SPARK_DRIVER_MEMORY`` wins):
#: sf0.001 needs little, and ``get_spark``'s 48g default let one sweep
#: grow to about 10 GB resident
DRIVER_MEMORY = "4g"

# Plan features worth pinning per query. Shuffle count and join strategy
# are the two knobs that silently regress (a dim outgrowing the broadcast
# threshold turns a map-side join into a full shuffle; a lost bucketing
# spec adds an Exchange); the rest mark the JSON parse, the Python
# boundary and the checkpointed-frame fan-out; ``rangepartitioning`` marks
# a global sort, whose exchange first runs its input once more to sample
# range bounds (a presentation sort goes through
# ``operators.windows.sort_result`` instead). Counted as substring hits on
# the physical plan.
PLAN_FEATURES = (
    "Exchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "TakeOrderedAndProject",
    "WindowGroupLimit",
    "windowspecdefinition",
    "from_json",
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "ExistingRDD",
    "rangepartitioning",
)

# Global (unpartitioned) windows tolerated because their input is bounded
# by GRAIN, not by data size: one row per calendar day regardless of scale.
# Anything else that plans a single-partition WindowExec fails the check —
# use operators.windows.global_ntile / global_row_number /
# distributed_prefix_sum instead (range-partition + offset).
GLOBAL_WINDOW_ALLOWLIST = {
    "daily_revenue_gapfill": "calendar grain: one row per day",
    "revenue_7day_ma": "calendar grain: one row per day",
    "revenue_cusum": "calendar grain: one row per day",
    "revenue_changepoint": "calendar grain: one row per day",
    "theil_sen_trend": "calendar grain: pairwise over days (≈n²/2 rows)",
    "poisson_bootstrap_ci": "replicate grain: 64 bootstrap means",
    "kmv_set_ops": "register grain: union rank over ≤128 sketch registers",
    "daily_behavior_jsd": "calendar grain: day-index row_number, one row per day",
}


def unpartitioned_window_lines(plan: str) -> list[str]:
    """Physical-plan lines whose WindowExec has no partition spec.

    A partitioned+ordered Window prints ``Window [fns], [partExprs],
    [orderExprs]`` (three top-level bracket groups). Two groups is
    ambiguous: partition-only windows print ``Window [fns], [partExprs]``
    and global-order windows print ``Window [fns], [orderExprs]`` — the
    two are told apart by the sort markers (every order expression
    carries ``ASC``/``DESC``; partition expressions never do). Only the
    global-order shape moves all rows to one task.
    """
    bad = []
    for line in plan.splitlines():
        if "windowspecdefinition" not in line:
            continue
        groups = line.split("], [")
        if len(groups) >= 3:
            continue  # partition spec + order spec
        last = groups[-1]
        if " ASC" in last or " DESC" in last:
            bad.append(line.strip())
    return bad


def initial_plan(plan: str) -> str:
    """``plan`` with every adaptive plan in it, the query's own and those
    of the cached relations it scans, cut to its initial part: the line
    ``<prefix>+- == Final Plan ==`` and what follows are dropped up to the
    line ``<prefix>+- == Initial Plan ==`` of the same node."""
    kept, final = [], None
    for line in plan.splitlines():
        if final is not None:
            if line == final + "+- == Initial Plan ==":
                final = None
            continue
        if line.endswith("+- == Final Plan =="):
            final = line[: -len("+- == Final Plan ==")]
            continue
        kept.append(line)
    return "\n".join(kept)


def feature_counts(plans: list[str]) -> dict[str, int]:
    """Nonzero ``PLAN_FEATURES`` hits summed over ``plans``."""
    counts = {f: sum(p.count(f) for p in plans) for f in PLAN_FEATURES}
    return {f: n for f, n in counts.items() if n}


def fingerprint(
    spark, ceilings: dict[str, int] | None = None, tries: int = TRIES
) -> tuple[dict, dict[str, list[str]]]:
    """Fingerprint every non-streaming registered query in ``spark``.

    Returns the records (see the module docstring) and, per query, the
    unpartitioned window lines of its plan and build-time plans. Without
    ``ceilings`` each query is built and collected ``tries`` times and
    keeps its largest ``exec_jobs``, the ceiling to record. With them a
    query above its ceiling is run again, up to ``tries`` runs, and keeps
    its smallest. The memo is cleared before the warm-up and again at the
    end."""
    import bench
    from ecommerce_event_pipeline_spark import registry
    from ecommerce_event_pipeline_spark.sources.readers import (
        clear_memo,
        table_schema,
    )

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    store = spark._jsparkSession.sharedState().statusStore()
    seen = -1

    def new_plans() -> list[str]:
        """Chosen plans of the SQL executions started since the last
        call (the store lists executions by id)."""
        nonlocal seen
        bus.waitUntilEmpty()
        executions = store.executionsList()
        plans = []
        for i in range(executions.size() - 1, -1, -1):
            e = executions.apply(i)
            if e.executionId() <= seen:
                break
            plans.append(initial_plan(e.physicalPlanDescription()))
        if plans:
            seen = executions.apply(executions.size() - 1).executionId()
        return plans

    def run(name: str, query, attempt: int) -> tuple:
        group = f"plan-fingerprints:{name}#{attempt}"
        sc.setJobGroup(f"{group}:build", name)
        df = query(spark, SF_DIR)
        built = new_plans()
        sc.setJobGroup(f"{group}:exec", name)
        df.collect()
        sc.setJobGroup(None, None)
        new_plans()
        plan = initial_plan(df._jdf.queryExecution().executedPlan().toString())
        jobs = [
            len(tracker.getJobIdsForGroup(f"{group}:{phase}"))
            for phase in ("build", "exec")
        ]
        return plan, built, *jobs

    key = "spark.sql.ui.explainMode"
    mode = spark.conf.get(key)
    # the store keeps each execution's plan in this mode; "simple" is the
    # tree string the frame's own plan is read in
    spark.conf.set(key, "simple")
    records, windows = {}, {}
    try:
        with mock.patch.dict(os.environ, {"SPARK_GRAFT_CACHE_EVENTS": "1"}):
            clear_memo()
            bench.warm_up(spark, SF_DIR)
            # the warm-up infers four tables' schemas; without the rest,
            # the first query to read one pays its job and the record
            # depends on query order
            for table in sorted(os.listdir(SF_DIR)):
                table_schema(spark, SF_DIR, table.removesuffix(".parquet"))
            new_plans()
            for name, query in registry.queries().items():
                if name.startswith("streaming_"):
                    continue  # building one runs the stream; its stateful
                    # operators are not WindowExec
                plan, built, build_jobs, exec_jobs = run(name, query, 0)
                for attempt in range(1, tries):
                    if ceilings is None:
                        exec_jobs = max(exec_jobs, run(name, query, attempt)[3])
                    elif exec_jobs > ceilings.get(name, exec_jobs):
                        exec_jobs = min(exec_jobs, run(name, query, attempt)[3])
                records[name] = {
                    "build_jobs": build_jobs,
                    "exec_jobs": exec_jobs,
                    "plan": feature_counts([plan]),
                    "build_plans": feature_counts(built),
                }
                windows[name] = [
                    w for p in (plan, *built) for w in unpartitioned_window_lines(p)
                ]
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set(key, mode)
        clear_memo()
    return records, windows


def main() -> None:
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    from ecommerce_event_pipeline_spark.session import get_spark

    spark = get_spark("plan-fingerprints", shuffle_partitions=4)
    records, _ = fingerprint(spark)
    spark.stop()
    lines = [
        f"{json.dumps(n)}: {json.dumps(records[n], sort_keys=True)}"
        for n in sorted(records)
    ]
    with open(RECORD, "w") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")
    print(f"wrote {os.path.relpath(RECORD, REPO)} ({len(records)} queries)")


if __name__ == "__main__":
    main()
