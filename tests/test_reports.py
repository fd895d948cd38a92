"""Reporting layer: KPI aggregates + deterministic markdown rendering."""

from __future__ import annotations

from ecommerce_event_pipeline_spark import reports
from ecommerce_event_pipeline_spark.quality.checks import QualityValidator
from ecommerce_event_pipeline_spark.sources.generator import generate_events


def test_daily_kpis_and_payment_distribution(spark):
    ev = generate_events(spark, "2026-03-01", n_users=200).cache()
    kpis = reports.daily_kpis(ev).collect()[0].asDict()
    assert kpis["total_events"] == ev.count()
    assert kpis["buyers"] <= kpis["unique_users"]
    assert kpis["revenue"] >= 0.0
    pay = reports.payment_method_distribution(ev).collect()
    revenues = [r["revenue"] for r in pay]
    assert revenues == sorted(revenues, reverse=True)
    ev.unpersist()


def test_build_daily_report_renders_markdown(spark):
    ev = generate_events(spark, "2026-03-02", n_users=100).cache()
    quality = QualityValidator(ev).run_all()
    md = reports.build_daily_report(ev, quality, "2026-03-02")
    assert "# Daily e-commerce report — 2026-03-02" in md
    assert "## KPIs" in md and "## Quality" in md and "## Payment methods" in md
    assert "PASS" in md
    # deterministic render
    assert md == reports.build_daily_report(ev, QualityValidator(ev).run_all(), "2026-03-02")
    ev.unpersist()


def test_html_dashboard_renders(spark):
    ev = generate_events(spark, "2026-03-03", n_users=60)
    quality = [r.asDict() for r in QualityValidator(ev).run_all().collect()]
    html = reports.render_html_dashboard("2026-03-03", quality)
    assert html.startswith("<!DOCTYPE html>")
    assert "q4_funnel_sequence" in html
    assert "PASS" in html
    assert "7-day pass-rate trend" not in html  # no trend rows → no section


def test_html_dashboard_renders_trend(spark):
    from ecommerce_event_pipeline_spark.quality.checks import (
        fixture_quality_trend,
    )
    from ecommerce_event_pipeline_spark.sources.readers import read_events

    ev = read_events(spark, "/root/testdata/sf0.001")
    trend = [r.asDict() for r in fixture_quality_trend(ev, days=7).collect()]
    assert trend, "fixture should yield trend rows"
    # 4 checks per day, trailing-7-day bound honored
    days = {str(t["check_date"]) for t in trend}
    assert 1 <= len(days) <= 7
    assert len(trend) == 4 * len(days)
    quality = [
        {"check_name": "q1", "total_records": 1, "failed_records": 0,
         "pass_rate": 100.0, "status": "PASS"}
    ]
    html = reports.render_html_dashboard("2026-03-03", quality, trend=trend)
    assert "7-day pass-rate trend" in html
    assert "duplicate_event_id" in html


def test_llm_prompt_and_slack_payload(spark):
    ev = generate_events(spark, "2026-03-04", n_users=60).cache()
    kpis = reports.daily_kpis(ev).collect()[0].asDict()
    quality = [r.asDict() for r in QualityValidator(ev).run_all().collect()]
    payments = [r.asDict() for r in reports.payment_method_distribution(ev).collect()]

    prompt = reports.build_llm_prompt("2026-03-04", kpis, quality, payments)
    assert "data analyst" in prompt and "Do not invent numbers" in prompt
    assert "## KPIs" in prompt  # the metrics block is embedded
    ev.unpersist()
