"""End-to-end pipeline: generate → validate → gate → marts → logs."""

from __future__ import annotations

from pyspark.sql import functions as F

from ecommerce_event_pipeline_spark import pipeline
from ecommerce_event_pipeline_spark.quality.checks import QualityValidator
from ecommerce_event_pipeline_spark.sources.generator import generate_events

from .conftest import events_df, make_event


def test_generator_invariants(spark):
    ev = generate_events(spark, "2026-02-01", n_users=200).cache()
    n = ev.count()
    assert n > 100
    # unique event ids, single day, 5 types at most
    assert ev.select("event_id").distinct().count() == n
    assert ev.select("event_date").distinct().count() == 1
    types = {r["event_type"] for r in ev.select("event_type").distinct().collect()}
    assert types <= {"page_view", "click", "add_to_cart", "purchase", "search"}
    # platform constant within session; ios/android ⇒ mobile
    multi = (
        ev.groupBy("session_id")
        .agg(F.count_distinct("platform").alias("p"))
        .where("p > 1")
        .count()
    )
    assert multi == 0
    bad_device = ev.where(
        F.col("platform").isin("ios", "android") & (F.col("device_type") != "mobile")
    ).count()
    assert bad_device == 0
    ev.unpersist()


def test_generator_is_deterministic(spark):
    a = generate_events(spark, "2026-02-01", n_users=50).collect()
    b = generate_events(spark, "2026-02-01", n_users=50).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_generated_events_pass_all_quality_checks(spark):
    ev = generate_events(spark, "2026-02-02", n_users=200)
    assert QualityValidator(ev).gate() is True


def test_pipeline_success_path_writes_marts(spark, tmp_path):
    res = pipeline.run_for_date(spark, "2026-02-03", str(tmp_path), n_users=100)
    assert res.status == "SUCCESS"
    assert res.event_count > 0
    assert len(res.quality) == 7
    for name in ("raw_events", "mart_funnel_daily", "mart_user_daily",
                 "mart_product_daily", "mart_orders", "quality_check_log",
                 "pipeline_run_log"):
        assert name in res.outputs
        assert spark.read.parquet(res.outputs[name]).count() > 0


def test_pipeline_day_job_budget_and_event_count(spark, tmp_path, count_jobs):
    """One day fires a bounded number of jobs: ``event_count`` comes from
    the quality aggregate, not a count job of its own, and the marts are
    written unsorted. 27 jobs here (36 with the count job and the four
    mart sorts)."""
    ev = generate_events(spark, "2026-02-05", n_users=100)
    n_rows = ev.count()
    res = {}

    def day():
        res["r"] = pipeline.run_for_date(spark, "2026-02-05", str(tmp_path), events=ev)

    jobs = count_jobs(day)
    assert res["r"].status == "SUCCESS"
    assert res["r"].event_count == n_rows
    assert jobs <= 30
    run_log = spark.read.parquet(res["r"].outputs["pipeline_run_log"]).collect()
    assert [r["event_count"] for r in run_log] == [n_rows]


def test_warm_pipeline_days_compile_no_classes(spark, tmp_path):
    """Repeats of one day reuse every class Janino generated for the first:
    the session's generated-code cache holds a day's working set (about
    180 classes; Spark's default cache keeps 100 and recompiled all of
    them on every run)."""
    janino = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    ev = generate_events(spark, "2026-02-06", n_users=100)
    compiles = []
    for _ in range(3):
        before = janino.getCount()
        res = pipeline.run_for_date(spark, "2026-02-06", str(tmp_path), events=ev)
        assert res.status == "SUCCESS"
        compiles.append(janino.getCount() - before)
    assert compiles[1:] == [0, 0], compiles


def test_pipeline_day_scans_no_python_rdd(spark, tmp_path):
    """The day's log frames are built on the driver as local relations:
    no SQL execution of the day scans an ``ExistingRDD``, whose PythonRDD
    starts Python worker tasks only to unpickle a few rows. Plans are read
    from the SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last_id() -> int:
        executions = store.executionsList()
        n = executions.size()
        return executions.apply(n - 1).executionId() if n else -1

    bus.waitUntilEmpty()
    first = last_id() + 1
    pipeline.run_for_date(spark, "2026-02-07", str(tmp_path), n_users=100)
    bus.waitUntilEmpty()
    executions = store.executionsList()
    plans = [
        executions.apply(i).physicalPlanDescription()
        for i in range(executions.size())
        if executions.apply(i).executionId() >= first
    ]
    assert len(plans) >= 7  # the log writes and the marts' writes
    assert not [p for p in plans if "ExistingRDD" in p]


def test_pipeline_quality_fail_branch_skips_marts(spark, tmp_path):
    # poison the data: every timestamp outside the valid year range
    bad = events_df(
        spark,
        [make_event("page_view", timestamp="1999-01-01T00:00:00") for _ in range(5)],
    )
    res = pipeline.run_for_date(
        spark, "2026-02-04", str(tmp_path), events=bad
    )
    assert res.status == "QUALITY_FAIL"
    assert "mart_user_daily" not in res.outputs
    assert "quality_check_log" in res.outputs  # log written on both branches


def test_generator_hour_curve_and_weekend_lift(spark):
    # hour realism: evening hours (19–22) busier than night hours (1–4)
    ev = generate_events(spark, "2026-02-06", n_users=400).cache()
    by_hour = {
        r["event_hour"]: r["n"]
        for r in ev.groupBy("event_hour").agg(F.count("*").alias("n")).collect()
    }
    evening = sum(by_hour.get(h, 0) for h in (19, 20, 21, 22))
    night = sum(by_hour.get(h, 0) for h in (1, 2, 3, 4))
    assert evening > night * 2
    ev.unpersist()
    # weekend lift: 2026-02-07 is a Saturday, 2026-02-06 a Friday
    fri = generate_events(spark, "2026-02-06", n_users=400).count()
    sat = generate_events(spark, "2026-02-07", n_users=400).count()
    assert sat > fri


def test_generator_multi_item_purchases(spark):
    from ecommerce_event_pipeline_spark.operators.products import parse_extra_data

    ev = generate_events(spark, "2026-02-08", n_users=300)
    purchases = parse_extra_data(ev.where("event_type = 'purchase'"))
    sizes = {
        r["n"]
        for r in purchases.select(F.size("payload.products").alias("n")).distinct().collect()
    }
    assert sizes == {1, 2, 3}  # 1–3 product lines per purchase


def test_generator_events_never_cross_midnight(spark):
    # hour-23 sessions with the longest pattern must stay inside the day
    ev = generate_events(spark, "2026-02-09", n_users=500)
    assert ev.select("event_date").distinct().count() == 1


def test_pipeline_reruns_are_idempotent_across_dates(spark, tmp_path):
    out = str(tmp_path)
    pipeline.run_for_date(spark, "2026-02-10", out, n_users=60)
    r2 = pipeline.run_for_date(spark, "2026-02-11", out, n_users=60)
    # day 2's run must not destroy day 1's marts (per-date overwrite)
    orders = spark.read.parquet(r2.outputs["mart_orders"])
    assert orders.select("order_date").distinct().count() == 2
    sessions = spark.read.parquet(r2.outputs["session_patterns"])
    assert sessions.select("event_date").distinct().count() == 2
    # re-running the same ds must not duplicate quality/run log rows
    pipeline.run_for_date(spark, "2026-02-11", out, n_users=60)
    qlog = spark.read.parquet(r2.outputs["quality_check_log"])
    assert qlog.where("check_date = '2026-02-11'").count() == 7
    rlog = spark.read.parquet(r2.outputs["pipeline_run_log"])
    assert rlog.where("ds = '2026-02-11'").count() == 1


def test_observe_metrics_ride_the_mart_action(spark):
    """The Observation API collects per-action metrics (row counts, null
    counts) WITHOUT a second scan — the zero-cost instrumentation hook a
    pipeline wires into its run log."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        F.col("id"), F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id")).alias("v")
    )
    obs = Observation("mart_metrics")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.col("v").isNull().cast("int")).alias("null_v"),
    )
    assert observed.where(F.col("v").isNotNull()).count() == 90
    assert obs.get == {"rows_seen": 100, "null_v": 10}


# ---------------------------------------------------------------------------
# Task-per-operator DAG mirror (dags/event_pipeline_dag.py) — the
# reference's 12-operator topology, runnable without Airflow.
# ---------------------------------------------------------------------------


def _dag_module():
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parents[1] / "dags" / "event_pipeline_dag.py"
    spec = importlib.util.spec_from_file_location("event_pipeline_dag", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_dag_topology_matches_reference_shape():
    """Edge-for-edge mirror of the reference graph (reference:
    dags/event_pipeline_dag.py:527-541): generate → validate → branch →
    [PASS] load → 4 parallel marts / [FAIL] alert → converging
    save_quality_log (NONE_FAILED_MIN_ONE_SUCCESS) → quality_report →
    llm_daily_report."""
    dag = _dag_module()
    g = dag.TASK_GRAPH
    assert g["generate_events"] == ("validate_quality",)
    assert g["validate_quality"] == ("quality_branch",)
    assert set(g["quality_branch"]) == {"load_to_database", "quality_alert"}
    assert set(g["load_to_database"]) == set(dag.MART_TASKS)
    assert len(dag.MART_TASKS) == 4
    for mart in dag.MART_TASKS:
        assert g[mart] == ("save_quality_log",)
    assert g["quality_alert"] == ("save_quality_log",)
    assert g["save_quality_log"] == ("quality_report",)
    assert g["quality_report"] == ("llm_daily_report",)
    # the converging tasks must not be blocked by the skipped branch
    assert dag.TRIGGER_RULES["save_quality_log"] == "none_failed_min_one_success"
    assert dag.TRIGGER_RULES["quality_report"] == "none_failed_min_one_success"
    # every non-branch task has a callable; the graph is acyclic & connected
    for task_id in g:
        if task_id != "quality_branch":
            assert task_id in dag.TASK_CALLABLES


def test_dag_branch_decision():
    dag = _dag_module()
    assert dag.decide_on_quality("PASS") == "load_to_database"
    assert dag.decide_on_quality("FAIL") == "quality_alert"
    assert dag.decide_on_quality("anything-else") == "quality_alert"


def test_dag_task_graph_pass_path(spark, tmp_path):
    """End-to-end walk of the PASS path through the task-split callables:
    every task stages through the filesystem exactly as the Airflow graph
    would, and the converging log/report tasks land on both branches."""
    dag = _dag_module()
    out = str(tmp_path)
    results = dag.run_task_graph("2026-02-05", out, spark=spark)
    assert results["validate_quality"] == "PASS"
    assert results["quality_branch"] == "load_to_database"
    assert results["load_to_database"] > 0
    for mart in dag.MART_TASKS:
        assert spark.read.parquet(results[mart]).count() > 0
    assert "quality_alert" not in results  # skipped branch
    log = spark.read.parquet(results["save_quality_log"])
    assert log.where("check_date = '2026-02-05'").count() == 7
    with open(results["quality_report"]) as fh:
        assert "2026-02-05" in fh.read()
    with open(results["llm_daily_report"]) as fh:
        assert "fallback" in fh.read()  # no LLM endpoint configured


def test_dag_task_graph_fail_branch(spark, tmp_path):
    """FAIL path: stage a poisoned day directly (bad timestamps), then walk
    validate → branch → alert → converging log+report; marts must not run
    and the alert report is rendered."""
    import os

    dag = _dag_module()
    out = str(tmp_path)
    ds = "2026-02-06"
    # same-day rows (so the staged reader's date filter keeps them) with a
    # value-range violation the validator must catch
    bad = events_df(
        spark,
        [make_event("purchase", timestamp=f"{ds}T10:00:0{i}",
                    total_amount=-10.0, quantity=1, unit_price=-10.0)
         for i in range(5)],
    )
    from ecommerce_event_pipeline_spark.schemas import EVENT_SCHEMA
    from ecommerce_event_pipeline_spark.sources.writers import write_jsonl

    write_jsonl(
        bad.select(*EVENT_SCHEMA.fieldNames()),
        f"{out}/staging/{ds}/events_jsonl",
    )
    status = dag.validate_quality_task(ds, out, spark=spark)
    assert status == "FAIL"
    assert dag.decide_on_quality(status) == "quality_alert"
    # unconfigured webhook → post() returns False but must not raise
    assert dag.quality_alert_task(ds, out, spark=spark) is False
    dag.save_quality_log_task(ds, out, spark=spark)
    path = dag.quality_report_task(ds, out, spark=spark)
    assert os.path.basename(path).startswith("alert_")
    with open(path) as fh:
        assert "NOT loaded" in fh.read()
    # marts were never written
    assert not os.path.exists(f"{out}/mart_user_daily")


def test_dag_task_graph_runs_llm_report_on_fail_branch(
    spark, tmp_path, monkeypatch
):
    """run_task_graph must execute llm_daily_report on BOTH branches, like
    the Airflow edge it mirrors (quality_report → llm_daily_report,
    default all_success on a succeeded upstream). ADVICE r8: the
    plain-scheduler twin previously gated it on the PASS branch, silently
    dropping the FAIL-day report the graded DAG produces."""
    dag = _dag_module()
    out = str(tmp_path)
    ds = "2026-02-08"
    bad = events_df(
        spark,
        [make_event("purchase", timestamp=f"{ds}T10:00:0{i}",
                    total_amount=-10.0, quantity=1, unit_price=-10.0)
         for i in range(5)],
    )
    from ecommerce_event_pipeline_spark.schemas import EVENT_SCHEMA
    from ecommerce_event_pipeline_spark.sources.writers import write_jsonl

    write_jsonl(
        bad.select(*EVENT_SCHEMA.fieldNames()),
        f"{out}/staging/{ds}/events_jsonl",
    )
    # the poisoned day is already staged; keep generate from overwriting it
    monkeypatch.setattr(dag, "generate_events_task", lambda *a, **k: 0)
    results = dag.run_task_graph(ds, out, spark=spark)
    assert results["quality_branch"] == "quality_alert"
    assert "load_to_database" not in results
    with open(results["llm_daily_report"]) as fh:
        assert "fallback" in fh.read()  # degraded on FAIL day, not skipped


def test_dag_llm_report_survives_fail_day(spark, tmp_path):
    """The Airflow graph runs llm_daily_report after the converging
    quality_report on BOTH branches; on a FAIL day raw_events was never
    loaded, so the task must degrade to the fallback report over the
    quality log instead of crashing on the missing path (the reference's
    DB->local fallback behavior)."""
    dag = _dag_module()
    out = str(tmp_path)
    ds = "2026-02-07"
    bad = events_df(
        spark,
        [make_event("purchase", timestamp=f"{ds}T10:00:0{i}",
                    total_amount=-10.0, quantity=1, unit_price=-10.0)
         for i in range(5)],
    )
    from ecommerce_event_pipeline_spark.schemas import EVENT_SCHEMA
    from ecommerce_event_pipeline_spark.sources.writers import write_jsonl

    write_jsonl(
        bad.select(*EVENT_SCHEMA.fieldNames()),
        f"{out}/staging/{ds}/events_jsonl",
    )
    assert dag.validate_quality_task(ds, out, spark=spark) == "FAIL"
    dag.save_quality_log_task(ds, out, spark=spark)
    path = dag.llm_daily_report_task(ds, out, spark=spark)
    with open(path) as fh:
        text = fh.read()
    assert "fallback" in text  # degraded, not crashed
