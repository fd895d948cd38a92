"""Run-for-date orchestration — the Spark-native restatement of the
reference Airflow DAG (reference: dags/event_pipeline_dag.py:527-541).

DAG shape preserved:

    generate → validate (7 checks) → gate ─PASS→ raw load + 4 marts ─┐
                                        └─FAIL→ alert record ────────┴→ logs

but each box is a DataFrame job over one cached scan instead of a separate
process, and every write is an idempotent per-date dynamic partition
overwrite (the reference's DELETE+INSERT contract). The four marts are
independent lazy plans; Spark schedules their jobs over the shared cached
events, the in-engine equivalent of the DAG's four parallel mart tasks.
The marts are written unsorted: a partitioned Parquet write does not keep
row order, so a sort would only add jobs.

Airflow (or any scheduler) stays an optional OUTER layer that just calls
``run_for_date`` once a day — the engine does not depend on it.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import marts, products
from .quality.checks import QualityValidator
from .schemas import EVENT_TYPES, FUNNEL_STEPS
from .sources.generator import generate_events
from .sources.readers import literal_frame
from .sources.writers import write_partitioned_parquet


@dataclass
class PipelineResult:
    ds: str
    status: str                      # SUCCESS | QUALITY_FAIL
    event_count: int
    quality: list[dict] = field(default_factory=list)
    outputs: dict[str, str] = field(default_factory=dict)
    elapsed_s: float = 0.0

    def to_json(self) -> str:
        return json.dumps(self.__dict__, default=str)


def build_marts(events: DataFrame) -> dict[str, DataFrame]:
    """The four marts + two Spark-output analytics over one event scan.

    Every mart carries a date column so its write can be a per-date
    partition overwrite (mart_orders partitions on order_date; session
    patterns get event_date from the session start).
    """
    return {
        "mart_funnel_daily": marts.funnel_conversion(
            events, steps=FUNNEL_STEPS, group_cols=("event_date", "platform")
        ),
        "mart_user_daily": marts.user_daily(events, event_types=EVENT_TYPES),
        "mart_product_daily": products.product_daily(events),
        "mart_orders": products.orders_mart(events),
        "hourly_traffic": marts.hourly_traffic(events),
        "session_patterns": marts.session_sequences(events).withColumn(
            "event_date", F.to_date("session_start")
        ),
    }


def _date_partition_col(df: DataFrame) -> str | None:
    for c in ("event_date", "order_date", "activity_date"):
        if c in df.columns:
            return c
    return None


def run_for_date(
    spark: SparkSession,
    ds: str,
    output_dir: str,
    n_users: int = 500,
    events: DataFrame | None = None,
    fail_on_quality: bool = False,
) -> PipelineResult:
    """Generate (or accept) one day of events, gate on quality, write marts.

    Mirrors the DAG's branch: a FAIL verdict skips the load/mart path and
    records the report (reference: dags/event_pipeline_dag.py:181-188);
    both paths write the quality log.
    """
    t0 = time.time()
    from .session import tune

    tune(spark)  # dynamic partition overwrite must be on for per-date writes
    out = output_dir.rstrip("/")
    if events is None:
        events = generate_events(spark, ds, n_users=n_users)
    events = events.cache()

    validator = QualityValidator(events)
    report_df = validator.run_all().withColumn("check_date", F.lit(ds))
    report_rows = report_df.collect()
    report = [r.asDict() for r in report_rows]
    passed = all(r["status"] == "PASS" for r in report)
    # the row-grain quality aggregate already counts the day's events (its
    # ``total`` is q1's denominator), so no separate count job runs
    event_count = next(
        r["total_records"] for r in report if r["check_name"] == "q1_required_fields"
    )

    result = PipelineResult(
        ds=ds,
        status="SUCCESS" if passed else "QUALITY_FAIL",
        event_count=event_count,
        quality=report,
    )
    # quality log is written on BOTH branches (converging DAG edge);
    # partitioned by check_date so a re-run for the same ds REPLACES its
    # rows instead of appending duplicates (idempotent retries/backfills).
    # Rebuilt from the already-collected rows — writing report_df directly
    # would re-run both aggregation passes over the events.
    literal_frame(spark, report_rows, report_df.schema).write.mode(
        "overwrite"
    ).partitionBy("check_date").parquet(f"{out}/quality_check_log")
    result.outputs["quality_check_log"] = f"{out}/quality_check_log"

    if passed:
        write_partitioned_parquet(events, f"{out}/raw_events")
        result.outputs["raw_events"] = f"{out}/raw_events"
        for name, df in build_marts(events).items():
            path = f"{out}/{name}"
            date_col = _date_partition_col(df)
            if date_col is None:  # defensive: no mart should hit this
                raise ValueError(f"mart {name} lacks a date partition column")
            write_partitioned_parquet(df, path, partition_col=date_col)
            result.outputs[name] = path

    # pipeline run log (reference: sql/create_tables.sql:64-76) — written
    # BEFORE any fail_on_quality raise so failed runs are recorded too (the
    # runs an operator most needs to see in the log)
    result.elapsed_s = round(time.time() - t0, 2)
    run_log = literal_frame(
        spark,
        [(ds, result.status, event_count, result.elapsed_s)],
        "ds string, status string, event_count long, elapsed_s double",
    )
    run_log.write.mode("overwrite").partitionBy("ds").parquet(
        f"{out}/pipeline_run_log"
    )
    result.outputs["pipeline_run_log"] = f"{out}/pipeline_run_log"
    events.unpersist()
    if not passed and fail_on_quality:
        raise RuntimeError(f"quality gate FAILED for {ds}: {report}")
    return result


def main() -> None:
    """CLI entry — the analog of the reference's spark-submit batch job
    (reference: scripts/spark_batch_processor.py:394-425 main/arg parsing):
    run the full day pipeline, write the markdown report and HTML quality
    dashboard next to the marts, print one summary JSON line."""
    import argparse
    import os

    from .reports import build_daily_report, render_html_dashboard
    from .session import get_spark

    parser = argparse.ArgumentParser(description="Run the daily event pipeline")
    parser.add_argument("--date", required=True, help="target date YYYY-MM-DD")
    parser.add_argument("--output", required=True, help="output directory")
    parser.add_argument("--users", type=int, default=500, help="simulated users")
    args = parser.parse_args()

    spark = get_spark(f"event-pipeline-{args.date}")
    try:
        result = run_for_date(spark, args.date, args.output, n_users=args.users)
        if result.status == "SUCCESS":
            events = spark.read.parquet(result.outputs["raw_events"]).where(
                F.col("event_date") == args.date
            )
            quality = spark.read.parquet(result.outputs["quality_check_log"]).where(
                F.col("check_date") == args.date
            )
            report_dir = f"{args.output.rstrip('/')}/reports"
            os.makedirs(report_dir, exist_ok=True)
            with open(f"{report_dir}/daily_{args.date}.md", "w") as fh:
                fh.write(build_daily_report(events, quality, args.date))
            with open(f"{report_dir}/dashboard_{args.date}.html", "w") as fh:
                fh.write(
                    render_html_dashboard(
                        args.date, [r.asDict() for r in quality.collect()]
                    )
                )
            result.outputs["reports"] = report_dir
        print(result.to_json())
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
