"""Benchmark runner — times every registered query at one scale factor.

Prints ONE JSON line:
``{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}``

The driver records only the LAST 2000 characters of stdout
(BENCH_r04/r05 arrived ``parsed: null`` because the 186-query dict blew
past that), so the printed line is kept under the cap: compact
separators, 2-decimal times, and ``queries`` limited to the 50
driver-graded front-window entries. The full per-query timing dict for
all registered queries is written to ``bench_full.json`` next to this
script (the ``full`` key points there; ``value`` still totals ALL
queries).

Env:
- ``SPARK_GRAFT_SF_DIR``  fixture dir (default /root/testdata/sf0.1)
- ``SPARK_GRAFT_CPUS``    local[N] parallelism (default: machine cores)

Each query is executed to completion (``collect``) so the timing covers
scan → shuffle → result, not just plan construction. Session startup and
JVM warm-up are excluded from per-query times.

Every seat is measured as well as timed, with the readers of
``perfbench/`` (``measure.Contention``, ``layers.StatusStore``,
``layers.StreamListener``): its jobs run under a job group named after
the query, a contention window records the CPU the host spent outside
this process tree while it ran, and once its timer has stopped its jobs,
stages, tasks and executor CPU are read from Spark's status store.
``bench_full.json`` keeps that record for every seat. A seat whose
window saw too much outside CPU (``OUTSIDE_SHARE``) is re-timed once at
the end of the run; the re-times ship as ``retimed``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
# perfbench's readers import one another as top-level modules
sys.path.insert(0, os.path.join(HERE, "perfbench"))

from layers import StatusStore, StreamListener, layer_record  # noqa: E402
from measure import Contention, nproc  # noqa: E402

#: A seat is contaminated when, while it ran, the host spent more CPU
#: outside this process tree (other programs plus hypervisor steal) than
#: this share of the seat's wall × cores. A quarter is one whole core of
#: a 4-core host busy elsewhere for the entire seat. On a 4-core VM at
#: sf0.01 the largest share of the 229 seats of an idle run was 0.12
#: (kernel threads, steal, tick rounding), and the seats that ran while
#: two busy-loop co-tenants did read 0.39 to 0.5; a quarter lies between.
OUTSIDE_SHARE = 0.25


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # share one cached events scan across the event-log queries, as the
    # reference does across its four marts
    os.environ.setdefault("SPARK_GRAFT_CACHE_EVENTS", "1")

    from ecommerce_event_pipeline_spark import registry
    from ecommerce_event_pipeline_spark.session import get_spark

    spark = get_spark("bench")
    warmup = warm_up(spark, sf_dir)
    cores = nproc()
    timings, seats, retimed, contention = run_seats(
        SeatTimer(spark, sf_dir), registry.queries(), cores
    )
    total = round(sum(timings.values()), 3)
    with open(os.path.join(HERE, "bench_full.json"), "w") as f:
        json.dump(
            {
                "metric": "total_query_wall_time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "warmup_sec": warmup,
                "cores": cores,
                "outside_share": OUTSIDE_SHARE,
                "contention": contention,
                "retimed": retimed,
                "seats": seats,
            },
            f,
            indent=1,
        )
    probe = _env_probe(spark, registry)
    probe, line = build_stdout_lines(
        timings,
        list(registry._FRONT),
        probe,
        sf,
        warmup,
        contention={k: contention[k] for k in ("other_cpu_s", "steal_s")},
        retimed=retimed,
    )
    print(probe)
    print(line)
    spark.stop()


def warm_up(spark, sf_dir: str) -> float:
    """Untimed session warm-up before the first seat; returns ``warmup_sec``.

    The JVM and the real input path are warmed first and not counted:
    the FIRST parquet read pays the schema inference, the
    InMemoryFileIndex build and scan codegen — session setup, not query
    cost (the first registered query was absorbing ~4 s of it).

    ``warmup_sec`` then covers the SHARED CACHED BASES (VERDICT r8:
    whichever query ran first paid the full materialization of a base
    that 5+ queries consume, so per-query numbers were incomparable
    across rounds — ngram_jaccard_pairs read 5.2 s or 11.0 s depending
    on seat order alone) and the engine primer. Per-query times then
    mean "this query's own plan, shared bases warm" regardless of
    registration order, as a production deployment serves them: built
    once per day, consumed by every downstream mart. No registered query
    runs here (pinned by tests/test_bench_contract.py)."""
    from ecommerce_event_pipeline_spark import registry
    from ecommerce_event_pipeline_spark.sources.readers import (
        read_events,
        read_table,
    )

    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up
    for t in ("events", "documents", "orders", "lineitem"):
        read_table(spark, sf_dir, t).limit(1).collect()
    t_warm = time.perf_counter()
    for base in (read_events, *registry.SHARED_BASES):
        base(spark, sf_dir).count()
    _engine_primer(spark, sf_dir)
    return round(time.perf_counter() - t_warm, 3)


class SeatTimer:
    """Times one seat at a time and measures it with perfbench's readers."""

    def __init__(self, spark, sf_dir: str) -> None:
        self.spark, self.sf_dir = spark, sf_dir
        self.store = StatusStore(spark)
        self.listener = StreamListener()
        spark.streams.addListener(self.listener)

    def time(self, name: str, query, group: str) -> tuple[float, dict]:
        """Seconds of ``query(spark, sf_dir).collect()`` run under job
        group ``group``, and the seat's record: its wall-clock start, its
        contention window and its layer record (``layers.layer_record``;
        *build* is the query call, *execute* the ``collect()``). The timer
        encloses that one call chain; every reading and the harvest sit
        outside it."""
        self.spark.sparkContext.setJobGroup(group, name)
        streams = self.listener.run_ids
        first = len(streams)
        window = Contention()
        t0 = time.time()
        start = time.perf_counter()
        df = query(self.spark, self.sf_dir)
        t_mid = time.time()
        df.collect()
        sec = time.perf_counter() - start
        t1 = time.time()
        host = window.finish()
        # micro-batch jobs carry their stream's runId as job group
        run_ids = set(streams[first:])
        self.store.drain()
        jobs, stages = self.store.harvest([group, *run_ids])
        # a job the query call fired had finished when the call returned
        by_phase = {"build": [], "execute": []}
        for j in jobs:
            ended = (j.get("completionTime") or t1 * 1e3) / 1e3
            by_phase["build" if ended <= t_mid else "execute"].append(j)
        built = {s for j in by_phase["build"] for s in j["stageIds"]}
        rec = layer_record(
            {"build": (t0, t_mid), "execute": (t_mid, t1)},
            by_phase,
            {
                "build": [s for s in stages if s["stageId"] in built],
                "execute": [s for s in stages if s["stageId"] not in built],
            },
            [p for p in self.listener.progress if p["runId"] in run_ids],
            [],
        )
        return sec, {
            "start": round(t0, 3),
            "sec": round(sec, 3),
            **{k: host[k] for k in ("own_cpu_s", "other_cpu_s", "steal_s")},
            **{k: round(v, 3) for k, v in sorted(rec.items())},
        }


def contaminated(seats: dict[str, dict], cores: int) -> list[str]:
    """Seats whose window saw more CPU outside this process tree (other
    programs plus hypervisor steal) than ``OUTSIDE_SHARE`` of the seat's
    wall × cores, in run order."""
    return [
        name
        for name, s in seats.items()
        if s["other_cpu_s"] + s["steal_s"] > OUTSIDE_SHARE * s["sec"] * cores
    ]


def run_seats(timer, qs: dict, cores: int):
    """One timed pass over ``qs`` in registration order (``_FRONT``
    first), then one re-time of each contaminated seat after the loop.
    Returns ``(timings, seats, retimed, contention)``: first-pass seconds
    and records per seat (a flagged seat's record keeps its re-time's
    record under ``retime``, so a re-time that was contaminated too
    reads as such), re-time seconds per flagged seat, and the contention
    window of the first pass."""
    loop = Contention()
    timings, seats = {}, {}
    for name, query in qs.items():
        sec, seats[name] = timer.time(name, query, name)
        timings[name] = round(sec, 3)
    contention = loop.finish()
    retimed = {}
    for name in contaminated(seats, cores):
        sec, seats[name]["retime"] = timer.time(name, qs[name], f"{name}:retime")
        retimed[name] = round(sec, 3)
    return timings, seats, retimed, contention


def _engine_primer(spark, sf_dir: str) -> None:
    """Untimed JIT/codegen primer, part of warmup_sec.

    Whichever queries sit FIRST in the timed loop pay the generic JVM
    ramp — janino codegen compilation, shuffle writer/reader C2
    compilation, window-exec and broadcast machinery, and (worst) the
    Structured Streaming micro-batch engine — measured at 1.5-2x on the
    first ~10 seats in both r10 runs (value_drift_psi 2.90 s in-run vs
    1.42 s standalone-warm; streaming_session_expiry 6.2 vs 4.6) while
    seats 11+ sat at their standalone numbers. These are session costs,
    not query costs, and they made per-seat times depend on seat
    order. The primer exercises each path ONCE with inline jobs that
    match no registered query, so no seat inherits a warm cached plan
    the others lack — only the shared engine gets warm."""
    import tempfile

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ecommerce_event_pipeline_spark.sources.readers import read_events

    ev = read_events(spark, sf_dir).limit(50_000)
    # hash-aggregate + shuffle + window-exec + broadcast-join paths
    ev.groupBy("event_type").count().collect()
    ev.select(
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("r")
    ).where(F.col("r") == 1).collect()
    dim = spark.createDataFrame(
        [("view", 1), ("click", 2), ("purchase", 3)], "t string, k int"
    )
    ev.join(F.broadcast(dim), ev.event_type == dim.t).count()
    # Python boundary: the first Arrow-Python job of the session pays
    # Python worker spawn + pandas/pyarrow import in every worker plus
    # MapInPandas first-use — measured 2.36 s first / 0.33 s repeat, and
    # it warms the scalar pandas-UDF path too (2.64 s → 0.31 s after
    # this runs). A session cost the first ANN/PQ seat was eating.
    import pandas as pd  # noqa: F401 — workers import it on first use

    def _primer_passthrough(pdfs):
        for pdf in pdfs:
            yield pdf[["value"]]

    ev.limit(2_000).select("value").mapInPandas(
        _primer_passthrough, "value double"
    ).collect()
    # micro-batch streaming engine (state store, MicroBatchExecution):
    # one availableNow file-stream batch into a throwaway memory sink.
    # Extended in round 14 for the two stateful-fixture paths with a
    # MEASURED one-time component: session-window merge codegen
    # (0.85 s first / 0.63 s repeat) and the applyInPandasWithState
    # Python state-server protocol (1.41 s first / 1.06 s repeat).
    # The stream-stream join and dropDuplicatesWithinWatermark paths
    # were probed too and deliberately NOT primed: their first/repeat
    # times are equal (join 2.42/2.37 s — per-query engine cost, no
    # amortizable component), so priming them would only inflate
    # warmup_sec. Each primer query runs one availableNow batch over a
    # 1000-row throwaway input under the same bounded state-partition
    # cap the fixtures use; no registered query's plan or micro-batch
    # count changes.
    from ecommerce_event_pipeline_spark.streaming.jobs import (
        _bounded_state_partitions,
    )

    with tempfile.TemporaryDirectory() as tmp:
        ev.limit(1_000).write.mode("overwrite").parquet(f"{tmp}/in")
        schema = spark.read.parquet(f"{tmp}/in").schema

        def _sdf():
            # the parquet round-trip resolves ts as TIMESTAMP_NTZ, which
            # EventTimeWatermark rejects; with the session timezone
            # pinned UTC the cast is wall-clock-preserving (same handling
            # as streaming.jobs.streaming_events)
            return (
                spark.readStream.schema(schema)
                .parquet(f"{tmp}/in")
                .withColumn("ts", F.col("ts").cast("timestamp"))
            )

        def _drain(stream_df, mode):
            name = "bench_primer"
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            spark.catalog.dropTempView(name)

        with _bounded_state_partitions(spark):
            # plain stateful aggregate (HDFSBackedStateStore init)
            _drain(_sdf().groupBy("event_type").count(), "complete")
            # session-window merge path
            _drain(
                _sdf()
                .withWatermark("ts", "1 hour")
                .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
                .count(),
                "complete",
            )
            # applyInPandasWithState (Python state server + workers)
            from pyspark.sql.streaming.state import (
                GroupState,
                GroupStateTimeout,
            )

            def _primer_update(key, pdfs, state: GroupState):
                n = state.get[0] if state.exists else 0
                for pdf in pdfs:
                    n += len(pdf)
                state.update((n,))
                yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

            _drain(
                _sdf()
                .select("user_id", "value")
                .groupBy("user_id")
                .applyInPandasWithState(
                    _primer_update,
                    outputStructType="user_id long, n long",
                    stateStructType="n long",
                    outputMode="update",
                    timeoutConf=GroupStateTimeout.NoTimeout,
                ),
                "update",
            )


def build_stdout_lines(
    timings: dict[str, float],
    front_names: list[str],
    probe: str,
    sf: float | None,
    warmup: float,
    contention: dict | None = None,
    retimed: dict[str, float] | None = None,
) -> tuple[str, str]:
    """Build the two stdout lines under the driver's 2000-char capture.

    The driver records only the LAST 2000 characters of stdout (BENCH_r04/
    r05 arrived ``parsed: null`` because the full 186-query dict blew past
    that), so the results line carries just the graded front-window
    entries (2-decimal) with ``value`` still the all-query total. Budget =
    2000 minus the probe line printed just before; if a future front
    window blows it, the FASTEST entries are shed loudly into ``dropped``
    rather than letting the driver truncate the JSON. Priority order: the
    results line is the CONTRACT, the probe is advisory — the line is
    sized first against (2000 − a small reserved probe stub) and only
    then does the probe get whatever room is left, so a runaway probe ERR
    tail can never evict graded timings. Pinned by
    tests/test_bench_contract.py.

    ``contention`` (outside CPU and steal over the timed loop) and
    ``retimed`` (the end-of-run re-times of contaminated seats) ride in
    the payload so a contaminated record reads as such from the record
    itself. They are priced into the same budget: entries are shed from
    whichever of ``queries`` and ``retimed`` holds more, fastest first, so
    a handful of re-times survives an oversized window and a run with
    most seats contaminated still ships half of each; ``dropped`` counts
    both."""
    MIN_PROBE = 40  # always keep at least a probe prefix for diagnostics
    total = round(sum(timings.values()), 3)
    front = {n: round(timings[n], 2) for n in front_names if n in timings}
    if retimed is not None:
        retimed = {n: round(s, 2) for n, s in retimed.items()}
    budget = 2000 - 2 - MIN_PROBE  # 2 = the two newlines
    dropped = 0
    while True:
        payload = {
            "metric": "total_query_wall_time",
            "value": total,
            "unit": "sec",
            "queries": front,
            "sf": sf,
            "n_queries": len(timings),
            "warmup_sec": warmup,
            "full": "bench_full.json",
        }
        if contention is not None:
            payload["contention"] = contention
        if retimed is not None:
            payload["retimed"] = retimed
        if dropped:
            payload["dropped"] = dropped
        line = json.dumps(payload, separators=(",", ":"))
        shed = max(front, retimed or {}, key=len)
        if len(line) <= budget or not shed:
            break
        del shed[min(shed, key=shed.get)]
        dropped += 1
    probe = probe[: max(0, 2000 - len(line) - 2)]
    return probe, line


# The probe mirrors the DRIVER'S correctness gate, which always runs at
# sf0.01 regardless of the bench SF — keep them in lockstep.
PROBE_SF_DIR = "/root/testdata/sf0.01"


def _probe_cell(v) -> str:
    """Canonical per-cell formatter so the probe compares VALUES, not
    reprs: Decimal('1') vs 1 and 1.0 vs 1 must not read as MISMATCH
    (ADVICE r7 — repr-equality is safe only for int/date/varchar)."""
    import decimal

    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return repr(v) if v != int(v) else str(int(v))
    if isinstance(v, bool):  # before int: True must not become 1's twin
        return str(v)
    return str(v)


def _env_probe(spark, registry) -> str:
    """One compact stdout line re-running the driver's own comparison for
    a rotating pair of graded-window seats inside the driver's
    environment (re-pointed each rotation; see the seat comment below).
    Born from the r6/r7 ex-red adjudication (VERDICT r7): DuckDB types
    SUM(BIGINT) as HUGEINT and the driver hash is dtype-sensitive — a
    value-level string compare like this one could never see it, so the
    probe ALSO reports any DuckDB result column whose dtype has no Spark
    twin (`DTYPE[col:HUGEINT]`). The whole body is exception-guarded: a
    missing fixture file or import error degrades to `PROBE ERR[...]`
    instead of aborting after all timings are done (ADVICE r7)."""
    try:
        import platform

        import duckdb
        import pyspark

        import __spark_entry__ as e

        parts = [
            f"duckdb={duckdb.__version__}",
            f"pyspark={pyspark.__version__}",
            f"py={platform.python_version()}",
        ]
        con = duckdb.connect()
        for t in (
            "region nation customer supplier part orders lineitem events "
            "documents embeddings"
        ).split():
            con.execute(
                f"CREATE VIEW {t} AS "
                f"SELECT * FROM '{PROBE_SF_DIR}/{t}.parquet'"
            )
        oracles = e.oracle_sql()
        # Two graded-window seats, refreshed per rotation: r11 probes two
        # of the 17 never-driver-graded seats (position_attribution from
        # the attribution family, kmv_daily_users from the sketch family)
        # — first-ever driver grades, so a driver-env-only divergence
        # would surface here before the gate. The r10 pair
        # (hourly_traffic/language_id) is hash-green r10 and stays
        # covered by the all-oracle pytest dtype sweep.
        for name in ("position_attribution", "kmv_daily_users"):
            try:
                sdf = registry.queries()[name](spark, PROBE_SF_DIR)
                srows = sorted(
                    ",".join(_probe_cell(v) for v in r) for r in sdf.collect()
                )
                rel = con.sql(oracles[name])
                # same forbidden set as the pytest sweep and the local
                # mirror gate (ADVICE r8: the three checks must agree, or
                # an unsigned oracle column probes OK yet hashes red)
                bad_types = [
                    f"{c}:{t}"
                    for c, t in zip(rel.columns, rel.types)
                    if any(
                        f in str(t).upper()
                        for f in registry.FORBIDDEN_ORACLE_DTYPES
                    )
                ]
                drows = sorted(
                    ",".join(_probe_cell(v) for v in r) for r in rel.fetchall()
                )
                if bad_types:
                    parts.append(f"{name}=DTYPE[{';'.join(bad_types)[:100]}]")
                elif srows == drows:
                    parts.append(f"{name}=OK")
                else:
                    cell = next(
                        (f"{a}!={b}" for a, b in zip(srows, drows) if a != b),
                        f"rows {len(srows)}!={len(drows)}",
                    )
                    parts.append(f"{name}=MISMATCH[{cell[:120]}]")
            except Exception as ex:  # pragma: no cover - diagnostic only
                parts.append(f"{name}=ERR[{str(ex)[:80]}]")
        return "PROBE " + " ".join(parts)
    except Exception as ex:  # pragma: no cover - diagnostic only
        return f"PROBE ERR[{str(ex)[:120]}]"


if __name__ == "__main__":
    main()
