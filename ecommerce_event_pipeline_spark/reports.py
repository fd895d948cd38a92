"""Reporting layer — the Spark-native core of the reference's side channels.

The reference ships three reporting paths: a Slack webhook message, an
LLM-written daily summary (reference: scripts/llm_daily_report.py), and an
HTML quality dashboard (reference: scripts/quality_dashboard.py). All
three are thin renderings over the same mart aggregates; here the
aggregates are DataFrame ops and the rendering is pure text — HTTP
delivery (Slack/LLM APIs) stays out of the engine and can be bolted onto
``render_markdown``'s output by the caller.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def daily_kpis(events: DataFrame, amount_col: str = "total_amount") -> DataFrame:
    """The KPI block of the daily report (reference:
    scripts/llm_daily_report.py:226-356): volumes, buyers, revenue, AOV —
    one aggregation pass. The FILTER-clause aggregates of the reference
    map to avg/sum over `when(cond, x)` (NULLs ignored). ``amount_col``
    names the purchase-amount column (the driver fixture log uses
    ``value``)."""
    is_purchase = F.col("event_type") == "purchase"
    return events.groupBy("event_date").agg(
        F.count("*").alias("total_events"),
        F.count_distinct("user_id").alias("unique_users"),
        F.count_distinct(F.when(is_purchase, F.col("user_id"))).alias("buyers"),
        F.coalesce(F.sum(F.when(is_purchase, F.col(amount_col))), F.lit(0.0)).alias(
            "revenue"
        ),
        F.avg(F.when(is_purchase, F.col(amount_col))).alias("avg_order_value"),
        F.max(F.when(is_purchase, F.col(amount_col))).alias("max_order_value"),
    )


def payment_method_distribution(events: DataFrame) -> DataFrame:
    """Payment mix ordered by revenue (reference:
    scripts/llm_daily_report.py:338-347)."""
    return (
        events.where(
            (F.col("event_type") == "purchase") & F.col("payment_method").isNotNull()
        )
        .groupBy("payment_method")
        .agg(
            F.count("*").alias("order_count"),
            F.sum("total_amount").alias("revenue"),
        )
        .orderBy(F.desc("revenue"), "payment_method")
    )


def render_markdown(
    ds: str,
    kpis: dict,
    quality: list[dict],
    payments: list[dict],
) -> str:
    """Deterministic markdown daily report — the prompt/payload the
    reference feeds its LLM and Slack webhook, minus the HTTP calls."""
    lines = [
        f"# Daily e-commerce report — {ds}",
        "",
        "## KPIs",
        f"- events: {kpis.get('total_events', 0):,}",
        f"- unique users: {kpis.get('unique_users', 0):,}",
        f"- buyers: {kpis.get('buyers', 0):,}",
        f"- revenue: {kpis.get('revenue', 0.0):,.0f}",
        f"- avg order value: {(kpis.get('avg_order_value') or 0.0):,.0f}",
        "",
        "## Quality",
    ]
    for q in quality:
        lines.append(
            f"- {q['check_name']}: {q['status']} "
            f"({q['failed_records']}/{q['total_records']} failed, "
            f"pass rate {q['pass_rate']}%)"
        )
    lines += ["", "## Payment methods"]
    for p in payments:
        lines.append(
            f"- {p['payment_method']}: {p['order_count']} orders, "
            f"revenue {p['revenue']:,.0f}"
        )
    return "\n".join(lines)


def build_daily_report(events: DataFrame, quality_report: DataFrame, ds: str) -> str:
    """End-to-end report for ONE day: events are filtered to ``ds`` so
    multi-day input cannot surface another day's KPIs under this day's
    header. All aggregates are small — collecting them is driver-safe at
    any scale."""
    events = events.where(F.col("event_date") == F.lit(ds))
    kpi_rows = daily_kpis(events).collect()
    kpis = kpi_rows[0].asDict() if kpi_rows else {}
    quality = [r.asDict() for r in quality_report.collect()]
    payments = [r.asDict() for r in payment_method_distribution(events).collect()]
    return render_markdown(ds, kpis, quality, payments)


def render_html_dashboard(
    ds: str, quality: list[dict], trend: list[dict] | None = None
) -> str:
    """Minimal HTML quality dashboard (reference:
    scripts/quality_dashboard.py) — a static render of the 7-check report
    with PASS/FAIL coloring; serve or archive as-is. ``trend`` (rows from
    ``fixture_quality_trend``) adds the reference dashboard's 7-day
    pass-rate history table (reference: scripts/quality_dashboard.py:70-95)."""
    rows = "\n".join(
        f"<tr class='{q['status'].lower()}'><td>{q['check_name']}</td>"
        f"<td>{q['total_records']}</td><td>{q['failed_records']}</td>"
        f"<td>{q['pass_rate']}%</td><td>{q['status']}</td></tr>"
        for q in quality
    )
    overall = "PASS" if all(q["status"] == "PASS" for q in quality) else "FAIL"
    trend_html = ""
    if trend:
        # pivot: one row per date, one cell per check (rate + color)
        by_date: dict[str, dict[str, dict]] = {}
        for t in trend:
            by_date.setdefault(str(t["check_date"]), {})[t["check_name"]] = t
        checks = sorted({t["check_name"] for t in trend})
        head = "".join(f"<th>{c}</th>" for c in checks)
        body = "\n".join(
            "<tr><td>{}</td>{}</tr>".format(
                d,
                "".join(
                    (
                        "<td class='{}'>{}%</td>".format(
                            cells[c]["status"].lower(), cells[c]["pass_rate"]
                        )
                        if c in cells
                        else "<td>—</td>"
                    )
                    for c in checks
                ),
            )
            for d, cells in sorted(by_date.items())
        )
        trend_html = f"""
<h2>7-day pass-rate trend</h2>
<table>
<tr><th>date</th>{head}</tr>
{body}
</table>"""
    return f"""<!DOCTYPE html>
<html><head><meta charset="utf-8"><title>Quality — {ds}</title>
<style>
body {{ font-family: sans-serif; margin: 2rem; }}
table {{ border-collapse: collapse; }}
td, th {{ border: 1px solid #ccc; padding: 4px 10px; }}
tr.pass td:last-child {{ color: #0a7d32; font-weight: bold; }}
tr.fail td:last-child {{ color: #b3261e; font-weight: bold; }}
td.pass {{ color: #0a7d32; }}
td.fail {{ color: #b3261e; font-weight: bold; }}
</style></head>
<body>
<h1>Data quality — {ds}: {overall}</h1>
<table>
<tr><th>check</th><th>total</th><th>failed</th><th>pass rate</th><th>status</th></tr>
{rows}
</table>{trend_html}
</body></html>"""


def build_llm_prompt(ds: str, kpis: dict, quality: list[dict], payments: list[dict]) -> str:
    """The prompt the reference sends its LLM for the daily narrative
    (reference: scripts/llm_daily_report.py:37-77 SYSTEM/USER prompt
    templates, build_prompt ~:492). The HTTP call stays outside the
    engine — callers pipe this to whatever model endpoint they use."""
    data_block = render_markdown(ds, kpis, quality, payments)
    return (
        "You are a data analyst for an e-commerce platform. Write a concise "
        "daily business report (5-8 sentences) from the metrics below. "
        "Highlight conversion, revenue drivers, and any quality issues. "
        "Do not invent numbers.\n\n"
        f"{data_block}\n"
    )
