"""Structured Streaming jobs equal their batch twins on the same data."""

from __future__ import annotations

from pyspark.sql import functions as F

from ecommerce_event_pipeline_spark.operators import windows
from ecommerce_event_pipeline_spark.sources.readers import read_events
from ecommerce_event_pipeline_spark.streaming import jobs

SF_DIR = "/root/testdata/sf0.001"


def test_streaming_hourly_equals_batch(spark):
    stream = jobs.run_streaming_hourly_traffic(spark, SF_DIR)
    batch = (
        read_events(spark, SF_DIR)
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"))
        .agg(F.count("*").alias("event_count"), F.sum("value").alias("total_value"))
        .orderBy("window_start")
    )
    s = [(r["window_start"], r["event_count"]) for r in stream.collect()]
    b = [(r["window_start"], r["event_count"]) for r in batch.collect()]
    assert s == b


def test_streaming_queries_leave_no_sink_table(spark):
    # the registry path: each run drains a memory sink named stream_<id>
    from ecommerce_event_pipeline_spark import registry

    query = registry.queries()["streaming_hourly_traffic"]
    for _ in range(2):
        assert query(spark, SF_DIR).count() > 0
    left = [t.name for t in spark.catalog.listTables() if t.name.startswith("stream_")]
    assert left == []


def test_streaming_session_windows_match_batch_sessionization(spark):
    stream = jobs.run_streaming_session_windows(spark, SF_DIR, gap="30 minutes")
    batch = windows.inferred_session_stats(
        read_events(spark, SF_DIR), gap_seconds=1800
    )
    # same number of sessions per user (the batch gap rule and the streaming
    # session_window merge rule agree except at exact-boundary gaps, which
    # the µs-precision fixture data cannot hit)
    s = {
        r["user_id"]: r["n"]
        for r in stream.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    b = {
        r["user_id"]: r["n"]
        for r in batch.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert s == b


def test_streaming_user_state_equals_batch_groupby(spark):
    stream = jobs.run_streaming_user_state(spark, SF_DIR)
    batch = (
        read_events(spark, SF_DIR)
        .groupBy("user_id")
        .agg(F.count("*").alias("events_seen"), F.sum("value").alias("total_value"))
        .orderBy("user_id")
    )
    s = [(r["user_id"], r["events_seen"], round(r["total_value"], 6)) for r in stream.collect()]
    b = [(r["user_id"], r["events_seen"], round(r["total_value"], 6)) for r in batch.collect()]
    assert s == b


def test_streaming_dedup_equals_batch_distinct(spark):
    stream = jobs.run_streaming_dedup(spark, SF_DIR)
    batch = (
        read_events(spark, SF_DIR)
        .groupBy(F.to_date("ts").alias("event_date"))
        .agg(F.count_distinct("event_id").alias("deduped_events"))
        .orderBy("event_date")
    )
    assert [tuple(r) for r in stream.collect()] == [tuple(r) for r in batch.collect()]


def test_streaming_dedup_drops_planted_duplicates(spark, tmp_path):
    import glob
    import os

    # raw-schema rows (ts as ns int64, like the fixture): four rows, one
    # event_id planted twice within the watermark window
    ns = 1_700_000_000 * 1_000_000_000
    rows = [
        (1, ns, 10, "click", 1.0, None),
        (2, ns + 60 * 10**9, 10, "click", 1.0, None),
        (1, ns + 120 * 10**9, 10, "click", 1.0, None),  # duplicate of event 1
        (3, ns + 180 * 10**9, 11, "purchase", 5.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "_staging"))
    part = glob.glob(str(tmp_path / "_staging" / "part-*.parquet"))[0]
    os.rename(part, str(tmp_path / "events.parquet"))

    out = jobs.run_streaming_dedup(spark, str(tmp_path))
    assert [tuple(r) for r in out.collect()] == [
        (__import__("datetime").date(2023, 11, 14), 3)
    ]


def test_streaming_attribution_join_equals_batch_interval_join(spark):
    from pyspark.sql import functions as F

    from ecommerce_event_pipeline_spark.sources.readers import read_events

    sf = "/root/testdata/sf0.001"
    parts_before = spark.conf.get("spark.sql.shuffle.partitions")
    out = jobs.run_streaming_attribution_join(spark, sf, "30 minutes").collect()

    ev = read_events(spark, sf)
    v = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("user_id"), F.col("ts").alias("view_ts")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.round("value", 2).alias("purchase_value"),
    )
    batch = (
        v.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("view_ts") + F.expr("INTERVAL 30 minutes")
            ),
        )
        .select("user_id", "view_ts", "purchase_ts", "purchase_value")
        .orderBy("user_id", "view_ts", "purchase_ts")
        .collect()
    )
    assert [(r["user_id"], r["view_ts"], r["purchase_ts"], r["purchase_value"]) for r in out] == [
        tuple(r) for r in batch
    ]
    # shuffle partitions restored after the pinned-state run
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts_before


def test_split_gap_sessions_resume_across_batches():
    """The pure splitter must produce identical sessions whether events
    arrive in one batch or resume from carried state mid-session."""
    from ecommerce_event_pipeline_spark.streaming.jobs import split_gap_sessions

    gap = 100
    ts = [0, 10, 50, 200, 220, 500]
    one_shot_closed, one_shot_open = split_gap_sessions(ts, gap, None)
    c1, open1 = split_gap_sessions(ts[:2], gap, None)
    c2, open2 = split_gap_sessions(ts[2:], gap, open1)
    assert c1 + c2 == one_shot_closed == [(0, 50, 3), (200, 220, 2)]
    assert open2 == one_shot_open == (500, 500, 1)
    # resume INSIDE an open session: state extends, no spurious close
    c3, open3 = split_gap_sessions([60], gap, (0, 50, 3))
    assert c3 == [] and open3 == (0, 60, 4)


def test_streaming_session_expiry_matches_batch_rule(spark, tmp_path):
    """End-to-end: in-batch closures AND timeout-fired trailing sessions
    emit; sessions inside the (delay+gap) tail stay open/unemitted."""
    import datetime as dt

    from ecommerce_event_pipeline_spark.streaming import jobs

    base = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: two sessions well before the tail -> both emit (first closes
    # in-batch, second by timeout)
    rows += [(1, base + dt.timedelta(minutes=m)) for m in (0, 5)]
    rows += [(1, base + dt.timedelta(minutes=120))]
    # user 2: single session ending at stream max -> watermark never
    # passes its expiry -> withheld
    rows += [(2, base + dt.timedelta(hours=10))]
    df = spark.createDataFrame(
        [(i, ts, uid, "view", 0.0, "{}") for i, (uid, ts) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    src = str(tmp_path / "sf_fixture")
    df.coalesce(1).write.parquet(src, mode="overwrite")
    import os, glob, shutil

    # the reader globs for events.parquet inside the dir
    part = glob.glob(os.path.join(src, "part-*.parquet"))[0]
    fixture_dir = str(tmp_path / "sfdir")
    os.makedirs(fixture_dir)
    shutil.move(part, os.path.join(fixture_dir, "events.parquet"))

    out = jobs.run_streaming_session_expiry(spark, fixture_dir, gap_minutes=30)
    got = [
        (r["user_id"], r["session_start"], r["event_count"])
        for r in out.collect()
    ]
    assert got == [
        (1, base, 2),
        (1, base + dt.timedelta(minutes=120), 1),
    ]


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """A checkpointed streaming aggregate stopped mid-stream and restarted
    from the same checkpoint reads each input file exactly once and
    converges to the batch answer — the durability contract a production
    restart relies on."""
    import time

    import pyspark.sql.functions as F

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = "event_id long, ts timestamp, user_id long, value double"
    import datetime as dt

    base = dt.datetime(2024, 5, 1)
    total_rows = 0
    for f in range(3):
        rows = [
            (f * 100 + i, base + dt.timedelta(hours=f, minutes=i), i % 5, 1.0)
            for i in range(20)
        ]
        total_rows += len(rows)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"_stage{f}"))
        import glob
        import shutil

        part = glob.glob(str(src / f"_stage{f}" / "part-*.parquet"))[0]
        shutil.move(part, str(src / f"file{f}.parquet"))
        shutil.rmtree(str(src / f"_stage{f}"))

    def build_query():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "file*.parquet")
            .parquet(str(src))
        )
        agg = stream.groupBy(F.window("ts", "1 hour").alias("w")).agg(
            F.count("*").alias("n")
        ).select(F.col("w.start").alias("ws"), "n")

        def write_batch(bdf, epoch):
            bdf.write.mode("overwrite").parquet(out)

        return (
            agg.writeStream.outputMode("complete")
            .option("checkpointLocation", ckpt)
            .foreachBatch(write_batch)
        )

    # phase 1: stop after the FIRST committed micro-batch
    q = build_query().start()
    deadline = time.time() + 60
    while time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in (q.recentProgress or [])):
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(30)
    rows_phase1 = sum(p["numInputRows"] for p in (q.recentProgress or []))
    assert 0 < rows_phase1 < total_rows  # genuinely mid-stream

    # phase 2: restart from the same checkpoint, drain
    q2 = build_query().start()
    q2.processAllAvailable()
    rows_phase2 = sum(p["numInputRows"] for p in (q2.recentProgress or []))
    q2.stop()

    # each input row read exactly once across the restart...
    assert rows_phase1 + rows_phase2 == total_rows
    # ...and the sink equals the batch answer
    got = {
        (r["ws"], r["n"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["ws"], r["n"])
        for r in spark.read.parquet(str(src))
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
        .collect()
    }
    assert got == want


def test_streaming_reads_directory_shaped_events_fixture(spark, tmp_path):
    """Spark-written fixtures make events.parquet a DIRECTORY of part
    files (tools/scale_probe.py); the driver testdata ships it as a
    single file. streaming_events must read both layouts — the name-glob
    approach matched zero leaf files on the directory layout, silently
    streaming an empty source (round-8 probe bug). Rewrites the sf0.001
    events through a Spark write and asserts the streamed hourly rollup
    equals the same rollup over the original fixture."""
    sf_copy = str(tmp_path / "sfdir")
    ev = read_events(spark, SF_DIR)
    # persist the reader's µs ts; drop derived cols so the copy is a
    # plain events table the readers re-derive from
    ev.select(
        [c for c in ev.columns if c not in ("event_date", "event_hour")]
    ).write.parquet(f"{sf_copy}/events.parquet")
    import os

    assert os.path.isdir(f"{sf_copy}/events.parquet")  # directory layout

    stream = jobs.run_streaming_hourly_traffic(spark, sf_copy)
    batch = (
        read_events(spark, SF_DIR)
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"))
        .agg(F.count("*").alias("event_count"))
        .orderBy("window_start")
    )
    s = [(r["window_start"], r["event_count"]) for r in stream.collect()]
    b = [(r["window_start"], r["event_count"]) for r in batch.collect()]
    assert s == b and len(s) > 0


def test_streaming_sliding_traffic_matches_batch_windows(spark):
    """Sliding 1h/15min streaming windows == the batch window() rollup:
    counts are exact under any merge order, so the complete-mode memory
    sink must equal a batch groupBy over the same window spec — window
    alignment (epoch multiples of the slide, UTC session), the 4x
    overlap fan-out, and per-window counts all pinned."""
    from pyspark.sql import functions as F

    from ecommerce_event_pipeline_spark.sources.readers import read_table
    from ecommerce_event_pipeline_spark.streaming import jobs

    sf = "/root/testdata/sf0.001"
    got = jobs.run_streaming_sliding_traffic(spark, sf)
    want = (
        read_table(spark, sf, "events")
        .select(F.col("ts").cast("timestamp").alias("ts"))
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("event_count"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_count",
        )
        .orderBy("window_start")
    )
    g = [(r[0], r[1], r[2]) for r in got.collect()]
    w = [(r[0], r[1], r[2]) for r in want.collect()]
    assert g == w
    # every event lands in duration/slide = 4 overlapping windows
    n_events = read_table(spark, sf, "events").count()
    assert sum(r[2] for r in g) == 4 * n_events
