"""Data-quality checks as DataFrame aggregations (SURVEY §2.9, Q1–Q7).

The reference validates row-at-a-time in pure Python
(reference: scripts/validate_quality.py) — O(N) Python passes per check.
Here every check is a Catalyst expression and the per-table checks share a
SINGLE aggregation pass, so at 100 TB the whole report costs one scan with
map-side partial aggregation; the only shuffles are the tiny final
aggregates and the per-session checks' groupBy(session).

Report contract preserved from the reference
(reference: scripts/validate_quality.py:24-51):
``(check_name, check_type, target_table, total_records, failed_records,
pass_rate, status, detail)`` with ``pass_rate = (1 - failed/total)*100`` and
``status = PASS iff pass_rate >= 99.0``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schemas import EVENT_TYPES, PLATFORM_DEVICE_RULES

PASS_THRESHOLD = 99.0

#: Common fields checked with falsy semantics (None OR empty string — the
#: reference uses ``not event.get(f)``). NOTE: platform/device_type are
#: required by the JSON Schema but NOT by the validator's REQUIRED_FIELDS
#: (reference: scripts/validate_quality.py:57-58) — the validator is the
#: parity target here.
COMMON_REQUIRED_FIELDS = (
    "event_id",
    "event_type",
    "user_id",
    "session_id",
    "timestamp",
)

#: Type-specific required fields checked with ``is None`` only
#: (reference: scripts/validate_quality.py:58-63,97) — click requires
#: page_url in addition to element fields.
TYPE_REQUIRED_FIELDS = {
    "page_view": ("page_url", "page_type"),
    "click": ("page_url", "element_id", "element_type"),
    "add_to_cart": ("product_id", "quantity", "unit_price"),
    "purchase": ("order_id", "total_amount", "payment_method"),
    "search": ("search_query", "result_count"),
}


def _i(cond: F.Column) -> F.Column:
    """1 when cond else 0, NULL-safe (NULL condition counts as 0)."""
    return F.when(cond, F.lit(1)).otherwise(F.lit(0))


def _with_rate_and_status(rows: DataFrame) -> DataFrame:
    """Add ``pass_rate`` and ``status`` to rows carrying ``total_records``
    and ``failed_records``."""
    # denominator floored at 1 exactly like the reference — an empty check
    # population (e.g. zero purchases for Q6) is a 100% pass, never a
    # NULL-rate FAIL (reference: scripts/validate_quality.py:36-39
    # `failed / max(total, 1)`)
    denom = F.greatest(F.col("total_records"), F.lit(1)).cast("double")
    rate = F.round((F.lit(1.0) - F.col("failed_records") / denom) * 100.0, 2)
    return (
        rows.withColumn("pass_rate", rate)
        # status compares the ROUNDED rate, as the reference does
        # (98.996 rounds to 99.0 → PASS)
        .withColumn(
            "status",
            F.when(F.col("pass_rate") >= F.lit(PASS_THRESHOLD), F.lit("PASS")).otherwise(
                F.lit("FAIL")
            ),
        )
    )


def _report_rows(
    agg: DataFrame,
    checks: list[tuple[str, str]],
    meta: dict[str, tuple[str, str]] | None = None,
) -> DataFrame:
    """Explode one 1-row aggregate into a per-check report.

    ``checks`` is [(check_name, failed_col)]; ``agg`` must carry ``total``
    plus every failed_col. Denominator columns named ``<failed_col>__denom``
    override the default ``total``. ``meta`` optionally maps check_name →
    (check_type, target_table) to emit the reference's full report shape
    (reference: scripts/validate_quality.py:41-51).
    """
    structs = []
    for name, col in checks:
        denom = f"{col}__denom"
        denom_col = F.col(denom) if denom in agg.columns else F.col("total")
        fields = [
            F.lit(name).alias("check_name"),
            denom_col.cast("long").alias("total_records"),
            F.col(col).cast("long").alias("failed_records"),
        ]
        if meta is not None:
            ctype, table = meta.get(name, ("check", "raw_events"))
            fields += [
                F.lit(ctype).alias("check_type"),
                F.lit(table).alias("target_table"),
                F.concat(F.lit("failed="), F.col(col).cast("string")).alias("detail"),
            ]
        structs.append(F.struct(*fields))
    rows = agg.select(F.explode(F.array(*structs)).alias("r")).select("r.*")
    return _with_rate_and_status(rows).orderBy("check_name")


#: The Q1/Q2/Q3/Q5 analogs on the fixture ``events`` table, in
#: report order: (check_name, failed-count column of ``_fixture_aggs``).
_FIXTURE_CHECKS = [
    ("null_required_fields", "null_failed"),
    ("duplicate_event_id", "dup_failed"),
    ("value_range", "range_failed"),
    ("timestamp_validity", "ts_failed"),
]


def _fixture_aggs() -> list[F.Column]:
    """``total`` and the failure count of every ``_FIXTURE_CHECKS`` entry,
    as aggregate expressions over the fixture ``events`` table."""
    null_failed = sum(
        F.sum(_i(F.col(c).isNull())) for c in ("event_id", "event_type", "user_id", "ts")
    )
    range_bad = (
        F.col("value").isNull()
        | (F.col("value") < 0)
        | (F.col("value") > 100000000)
        | F.col("event_type").isNull()
        | ~F.col("event_type").isin("view", "click", "purchase", "signup", "error")
    )
    ts_bad = F.col("ts").isNull() | (F.year("ts") < 2020) | (F.year("ts") > 2030)
    return [
        F.count(F.lit(1)).alias("total"),
        null_failed.alias("null_failed"),
        (F.count(F.lit(1)) - F.count_distinct("event_id")).alias("dup_failed"),
        F.sum(_i(range_bad)).alias("range_failed"),
        F.sum(_i(ts_bad)).alias("ts_failed"),
    ]


def fixture_quality_report(events: DataFrame) -> DataFrame:
    """Quality report for the driver fixture ``events`` table — the Q1/Q2/
    Q3/Q5 analogs computed in one aggregation pass."""
    return _report_rows(events.agg(*_fixture_aggs()), _FIXTURE_CHECKS)


def fixture_quality_trend(events: DataFrame, days: int = 7) -> DataFrame:
    """Per-day quality-check history over the trailing ``days`` calendar
    days ending at the max event_date — the 7-day pass-rate trend the
    reference dashboard renders from ``quality_check_log``
    (reference: scripts/quality_dashboard.py:70-95). Same four checks and
    thresholds as ``fixture_quality_report``, one grouped aggregate.

    The date bound is a 1-row aggregate broadcast back onto the scan —
    at 100 TB the filter prunes date partitions before the group-by."""
    bounds = events.agg(F.max("event_date").alias("_maxd"))
    # a NULL ts has no event_date; dropping it would make the
    # timestamp_validity (and null-field) trend blind to its primary
    # failure mode — bucket such rows onto the latest day instead, where
    # they degrade that day's pass rates exactly as the snapshot
    # (fixture_quality_report) counts them
    bucket_date = F.coalesce(F.col("event_date"), F.col("_maxd"))
    per_day = (
        events.crossJoin(F.broadcast(bounds))
        .where(F.datediff(F.col("_maxd"), bucket_date) < days)
        .groupBy(bucket_date.alias("check_date"))
        .agg(*_fixture_aggs())
    )
    rows = per_day.select(
        "check_date",
        F.col("total").cast("long").alias("total_records"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("check_name"),
                        F.col(col).cast("long").alias("failed_records"),
                    )
                    for name, col in _FIXTURE_CHECKS
                ]
            )
        ).alias("r"),
    ).select("check_date", "r.check_name", "total_records", "r.failed_records")
    return _with_rate_and_status(rows).orderBy("check_date", "check_name")


class QualityValidator:
    """The reference's 7-check validator over the wide event log
    (reference: scripts/validate_quality.py), re-expressed so that:

    - Q1/Q2/Q3/Q5/Q6 + the per-row half of Q7 share ONE scan/aggregate;
    - Q4 and Q7's per-session half share one groupBy(session_id) pass.

    Expects a DataFrame with the 24-column EVENT_SCHEMA plus derived ``ts``.
    """

    def __init__(self, events: DataFrame):
        self.events = events

    # -- Q1: required fields ------------------------------------------------
    def _null_required_failures(self) -> F.Column:
        """Per-field violation count — one failure per missing field, not per
        row (reference: scripts/validate_quality.py:81-110). Common fields
        use falsy semantics (NULL or ''); type-specific use NULL only."""
        common = sum(
            F.sum(_i(F.col(c).isNull() | (F.col(c).cast("string") == "")))
            for c in COMMON_REQUIRED_FIELDS
        )
        typed = sum(
            F.sum(_i((F.col("event_type") == etype) & F.col(field).isNull()))
            for etype, fields in TYPE_REQUIRED_FIELDS.items()
            for field in fields
        )
        return common + typed

    # -- Q3: value ranges ---------------------------------------------------
    def _range_failures(self) -> F.Column:
        """One failure per violated rule per row (reference:
        scripts/validate_quality.py:128-177). Missing numerics take the
        reference's defaults (quantity→0 fails, result_count→-1 fails... the
        reference uses .get(field, 0) semantics only for present-type rows)."""
        q = F.coalesce(F.col("quantity"), F.lit(0))
        up = F.coalesce(F.col("unit_price"), F.lit(0.0))
        ta = F.coalesce(F.col("total_amount"), F.lit(0.0))
        rc = F.coalesce(F.col("result_count"), F.lit(-1))
        rules = [
            (F.col("event_type") == "add_to_cart") & ((q < 1) | (q > 99)),
            (F.col("event_type") == "add_to_cart") & ((up <= 0) | (up > 1e7)),
            (F.col("event_type") == "purchase") & ((ta <= 0) | (ta > 1e8)),
            (F.col("event_type") == "search") & (rc < 0),
            F.col("event_type").isNull() | ~F.col("event_type").isin(*EVENT_TYPES),
        ]
        return sum(F.sum(_i(r)) for r in rules)

    # -- Q5: timestamp validity --------------------------------------------
    def _ts_failures(self) -> F.Column:
        """ISO-8601 parseable and year in [2020, 2030]
        (reference: scripts/validate_quality.py:223-247)."""
        bad = F.col("ts").isNull() | (F.year("ts") < 2020) | (F.year("ts") > 2030)
        return F.sum(_i(bad))

    # -- Q6: order amount integrity ----------------------------------------
    def _amount_failures(self) -> F.Column:
        """|total − (Σ qty·price − discount + shipping)| > 1, or unparseable
        JSON, among purchases with extra_data
        (reference: scripts/validate_quality.py:249-282)."""
        from ..schemas import EXTRA_DATA_SCHEMA

        payload = F.from_json(F.col("extra_data"), EXTRA_DATA_SCHEMA)
        items_total = F.aggregate(
            F.coalesce(payload["products"], F.array()),
            F.lit(0.0),
            lambda acc, x: acc
            + F.coalesce(x["quantity"].cast("double") * x["unit_price"], F.lit(0.0)),
        )
        expected = (
            items_total
            - F.coalesce(payload["discount_amount"], F.lit(0.0))
            + F.coalesce(payload["shipping_fee"], F.lit(0.0))
        )
        # the reference gates on `if extra:` — Python-falsy, so an EMPTY
        # string payload is skipped, not parsed-and-failed; isNotNull()
        # alone would count extra_data='' as a failure
        is_purchase_with_payload = (
            (F.col("event_type") == "purchase")
            & F.col("extra_data").isNotNull()
            & (F.col("extra_data") != "")
        )
        # an item with a NULL quantity/unit_price raises TypeError in the
        # reference (⇒ failure); mirror explicitly — the summation above
        # would otherwise silently treat it as 0
        broken_item = F.exists(
            F.coalesce(payload["products"], F.array()),
            lambda x: x["quantity"].isNull() | x["unit_price"].isNull(),
        )
        bad = is_purchase_with_payload & (
            payload.isNull()
            | broken_item
            | (
                F.abs(F.coalesce(F.col("total_amount"), F.lit(0.0)) - expected)
                > F.lit(1.0)
            )
        )
        return F.sum(_i(bad))

    def _purchase_count(self) -> F.Column:
        """Q6 denominator = number of purchase events
        (reference: scripts/validate_quality.py:254)."""
        return F.sum(_i(F.col("event_type") == "purchase"))

    # -- Q7a: platform/device per-row --------------------------------------
    def _device_failures(self) -> F.Column:
        """Device not allowed for platform; unknown platform skipped
        (reference: scripts/validate_quality.py:293-302)."""
        conds = [
            (F.col("platform") == plat)
            & (F.col("device_type").isNull() | ~F.col("device_type").isin(*allowed))
            for plat, allowed in PLATFORM_DEVICE_RULES.items()
        ]
        bad = conds[0]
        for c in conds[1:]:
            bad = bad | c
        return F.sum(_i(bad))

    # -- session-grain checks (Q4, Q7b) ------------------------------------
    def session_checks(self) -> DataFrame:
        """One groupBy(session_id) pass computing both session checks.

        Q4 funnel sequence (reference: scripts/validate_quality.py:179-221):
        a session fails if it has a purchase but no add_to_cart anywhere
        (order-insensitive), or it has an add_to_cart but no page_view/click
        strictly before the FIRST add_to_cart (order-sensitive). Denominator
        is the session count. "Before" is POSITIONAL, not a raw timestamp
        compare: the reference stable-sorts by ts and walks positions, so a
        page_view sharing the cart's timestamp but ordered ahead of it
        passes. We mirror that with row_number over (ts, event_id) — same
        result on tie-free data, reference-faithful on tied timestamps
        (event_id standing in for the reference's input order, which a
        distributed read cannot observe).

        Q7b platform consistency (reference: scripts/validate_quality.py:305-315):
        each event whose platform differs from the session's first-seen
        platform (input order ≈ min-ts order; files are ts-sorted) counts one
        failure.
        """
        w = Window.partitionBy("session_id").orderBy("ts", "event_id")
        first_platform = F.first("platform").over(w)
        with_first = self.events.withColumn(
            "_first_platform", first_platform
        ).withColumn("_pos", F.row_number().over(w))
        return with_first.groupBy("session_id").agg(
            F.max(_i(F.col("event_type") == "purchase")).alias("has_purchase"),
            F.max(_i(F.col("event_type") == "add_to_cart")).alias("has_cart"),
            F.min(
                F.when(F.col("event_type") == "add_to_cart", F.col("_pos"))
            ).alias("first_cart_pos"),
            F.min(
                F.when(F.col("event_type").isin("page_view", "click"), F.col("_pos"))
            ).alias("first_view_pos"),
            F.sum(_i(F.col("platform") != F.col("_first_platform"))).alias(
                "platform_switches"
            ),
            F.count(F.lit(1)).alias("event_count"),
        )

    def _session_failure_cols(self, sessions: DataFrame) -> DataFrame:
        funnel_bad = (
            ((F.col("has_purchase") == 1) & (F.col("has_cart") == 0))
            | (
                (F.col("has_cart") == 1)
                & (
                    F.col("first_view_pos").isNull()
                    # positions are unique within a session, so > is
                    # "not strictly before" — ties on ts resolve by order
                    | (F.col("first_view_pos") > F.col("first_cart_pos"))
                )
            )
        )
        return sessions.agg(
            F.sum(_i(funnel_bad)).alias("funnel_failed"),
            F.count(F.lit(1)).alias("funnel_failed__denom"),
            F.sum("platform_switches").alias("platform_session_failed"),
        )

    # -- the full report ----------------------------------------------------
    def run_all(self) -> DataFrame:
        """All 7 checks → one 7-row report DataFrame. Two passes total over
        the events (one row-grain aggregate, one session-grain aggregate)."""
        row_agg = self.events.agg(
            F.count(F.lit(1)).alias("total"),
            self._null_required_failures().alias("q1_failed"),
            (F.count(F.lit(1)) - F.count_distinct("event_id")).alias("q2_failed"),
            self._range_failures().alias("q3_failed"),
            self._ts_failures().alias("q5_failed"),
            self._amount_failures().alias("q6_failed"),
            self._purchase_count().alias("q6_failed__denom"),
            self._device_failures().alias("q7a_failed"),
        )
        sess_agg = self._session_failure_cols(self.session_checks())
        agg = row_agg.crossJoin(sess_agg)
        agg = agg.withColumn(
            "q7_failed", F.col("q7a_failed") + F.col("platform_session_failed")
        )
        return _report_rows(
            agg,
            [
                ("q1_required_fields", "q1_failed"),
                ("q2_duplicate_event_id", "q2_failed"),
                ("q3_value_range", "q3_failed"),
                ("q4_funnel_sequence", "funnel_failed"),
                ("q5_timestamp_validity", "q5_failed"),
                ("q6_order_amount", "q6_failed"),
                ("q7_platform_consistency", "q7_failed"),
            ],
            meta={
                "q1_required_fields": ("null_check", "raw_events"),
                "q2_duplicate_event_id": ("duplicate_check", "raw_events"),
                "q3_value_range": ("range_check", "raw_events"),
                "q4_funnel_sequence": ("sequence_check", "raw_events"),
                "q5_timestamp_validity": ("range_check", "raw_events"),
                "q6_order_amount": ("integrity_check", "raw_events"),
                "q7_platform_consistency": ("consistency_check", "raw_events"),
            },
        )

    def gate(self) -> bool:
        """The DAG's quality gate: PASS iff every check passes
        (reference: dags/event_pipeline_dag.py:181-188)."""
        report = self.run_all()
        return report.where(F.col("status") == "FAIL").limit(1).count() == 0


def platform_flip_sessions(
    events: DataFrame,
    session_col: str = "session_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """Q7b standalone: per-session platform-flip accounting.

    The reference counts, per session, every event whose platform differs
    from the session's FIRST-SEEN platform (input order; files are
    ts-sorted — reference: scripts/validate_quality.py:305-315). One window
    to pin the first platform, one groupBy(session) to count flips — the
    same single session-shuffle as the embedded check in
    ``QualityChecks.session_checks``, exposed standalone so the session
    half of Q7 is driver-checkable, not pytest-only.

    Returns one row per session:
    ``(session, first_platform, flip_events, event_count)``.
    """
    w = Window.partitionBy(session_col).orderBy(*order_cols)
    with_first = events.withColumn("_first_platform", F.first("platform").over(w))
    return (
        with_first.groupBy(F.col(session_col).alias("session"))
        .agg(
            F.first("_first_platform").alias("first_platform"),
            F.sum(_i(F.col("platform") != F.col("_first_platform"))).alias(
                "flip_events"
            ),
            F.count(F.lit(1)).alias("event_count"),
        )
    )
