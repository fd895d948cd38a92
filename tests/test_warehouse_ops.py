"""Round-4 warehouse/time-series/data-mixing operators: dataset split,
temperature mixing, calendar gap-fill, batch interval join, CDC merge,
SCD2 history."""

from __future__ import annotations

import datetime

from ecommerce_event_pipeline_spark.functions import curation
from ecommerce_event_pipeline_spark.operators import olap, relational


def test_dataset_split_deterministic_and_partitioned(spark):
    docs = spark.createDataFrame(
        [(i, "en") for i in range(500)], "doc_id long, lang string"
    )
    out = curation.dataset_split(docs).collect()
    assert len(out) == 500
    by_split = {}
    for r in out:
        assert r["split"] == (
            "train" if r["bucket"] < 90 else "val" if r["bucket"] < 95 else "test"
        )
        by_split.setdefault(r["split"], 0)
        by_split[r["split"]] += 1
    # 90/5/5 within hash noise on 500 docs
    assert by_split["train"] > 400
    assert 0 < by_split["val"] < 60
    assert 0 < by_split["test"] < 60
    # stable under repartitioning
    again = {
        r["doc_id"]: r["split"]
        for r in curation.dataset_split(docs.repartition(7)).collect()
    }
    assert all(again[r["doc_id"]] == r["split"] for r in out)


def test_language_mix_weights_temperature_upweights_rare(spark):
    docs = spark.createDataFrame(
        [(i, "en") for i in range(900)] + [(1000 + i, "fr") for i in range(100)],
        "doc_id long, lang string",
    )
    out = {r["lang"]: r for r in curation.language_mix_weights(docs, 0.7).collect()}
    assert abs(out["en"]["weight"] + out["fr"]["weight"] - 1.0) < 1e-3
    # T<1 pulls the rare language above its raw share
    assert out["fr"]["weight"] > 0.1
    assert out["en"]["weight"] < 0.9
    assert out["fr"]["expected_docs"] > 100


def test_gapfill_interpolates_linear(spark):
    d = datetime.datetime
    orders = spark.createDataFrame(
        [
            (1, d(2020, 1, 1), 500000.0),
            (2, d(2020, 1, 2), 600000.0),
            # gap on 3rd and 4th
            (3, d(2020, 1, 5), 900000.0),
            (4, d(2020, 1, 5), 500000.0),
        ],
        "o_orderkey long, o_orderdate timestamp, o_totalprice double",
    )
    out = {
        r["day"].isoformat(): r
        for r in olap.daily_revenue_gapfill(orders, min_price=0.0).collect()
    }
    assert len(out) == 5
    assert not out["2020-01-01"]["is_gap"]
    assert out["2020-01-03"]["is_gap"]
    # linear between 600000 (Jan 2) and 1400000 (Jan 5): 1/3 and 2/3 points
    # (cents-exact weighted mean, truncating integer division)
    assert out["2020-01-03"]["revenue_filled"] == 866666.66
    assert out["2020-01-04"]["revenue_filled"] == 1133333.33
    assert out["2020-01-05"]["revenue_filled"] == 1400000.0
    assert out["2020-01-03"]["n_orders"] == 0


def test_interval_join_counts_only_window_events(spark):
    d = datetime.datetime
    anchors = spark.createDataFrame(
        [(1, 10, d(2020, 1, 10))],
        "anchor_id long, user_id long, anchor_ts timestamp",
    )
    events = spark.createDataFrame(
        [
            (10, d(2020, 1, 8, 23), 1.0),   # before window
            (10, d(2020, 1, 9, 0), 2.0),    # at lo → included
            (10, d(2020, 1, 9, 23), 4.0),   # inside (prior calendar day
                                            # bucket crossing midnight)
            (10, d(2020, 1, 10, 0), 8.0),   # at anchor ts → excluded
            (11, d(2020, 1, 9, 12), 16.0),  # other user
        ],
        "user_id long, ts timestamp, value double",
    )
    out = relational.interval_activity_join(events, anchors, hours_before=24).collect()
    assert len(out) == 1
    assert out[0]["prior_events"] == 2
    assert out[0]["prior_value"] == 6.0


def test_cdc_merge_latest_wins_and_deletes(spark):
    base = spark.createDataFrame(
        [(1, "O", 10.0), (2, "O", 20.0), (3, "O", 30.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    changes = spark.createDataFrame(
        [
            (1, "P", 11.0, "U", 1),
            (1, "P", 12.0, "U", 2),  # later seq wins
            (2, None, None, "D", 1),
            (9, "N", 90.0, "U", 1),  # unmatched insert
        ],
        "o_orderkey long, o_orderstatus string, o_totalprice double, op string, _seq long",
    )
    out = {r["o_orderkey"]: r for r in relational.cdc_merge(base, changes).collect()}
    assert set(out) == {1, 3, 9}
    assert out[1]["o_totalprice"] == 12.0
    assert out[3]["o_totalprice"] == 30.0
    assert out[9]["o_orderstatus"] == "N"


def test_scd2_collapses_runs_and_links_periods(spark):
    d = datetime.datetime
    orders = spark.createDataFrame(
        [
            (1, 7, d(2020, 1, 1), 10000.0),   # small
            (2, 7, d(2020, 2, 1), 20000.0),   # small (same band → same period)
            (3, 7, d(2020, 3, 1), 100000.0),  # medium
            (4, 7, d(2020, 4, 1), 10000.0),   # small again → new version
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp, o_totalprice double",
    )
    out = relational.scd2_value_band_history(orders).collect()
    assert [r["value_band"] for r in out] == ["small", "medium", "small"]
    assert [r["version"] for r in out] == [1, 2, 3]
    assert out[0]["valid_from"] == datetime.date(2020, 1, 1)
    assert out[0]["valid_to"] == datetime.date(2020, 3, 1)
    assert out[1]["valid_to"] == datetime.date(2020, 4, 1)
    assert out[2]["valid_to"] is None and out[2]["is_current"]
