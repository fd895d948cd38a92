"""The driver records only the LAST 2000 characters of bench stdout —
BENCH_r04/r05 arrived ``parsed: null`` when the full query dict blew past
that. These tests pin the shedding contract in bench.build_stdout_lines
so a future window/probe change can't silently regress the one artifact
the driver grades, and the per-seat measurement behind ``retimed``: the
flag rule, the end-of-run re-time, the seat record and the warm-up."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _lines(n_front=50, name_len=24, probe="PROBE x=OK", n_total=186, **kw):
    names = [f"q{'x' * name_len}{i:03d}" for i in range(n_total)]
    timings = {n: 1.234 for n in names}
    return bench.build_stdout_lines(
        timings, names[:n_front], probe, 0.1, 21.2, **kw
    )


def test_normal_window_fits_without_shedding():
    probe, line = _lines()
    assert len(probe) + len(line) + 2 <= 2000
    payload = json.loads(line)
    assert "dropped" not in payload
    assert len(payload["queries"]) == 50
    assert payload["n_queries"] == 186
    assert payload["value"] == round(186 * 1.234, 3)


def test_oversized_window_sheds_loudly_and_stays_parseable():
    # 120-char names x 50 entries cannot fit in 2000 chars
    probe, line = _lines(name_len=120)
    assert len(probe) + len(line) + 2 <= 2000
    payload = json.loads(line)
    assert payload["dropped"] > 0
    assert len(payload["queries"]) + payload["dropped"] == 50
    # totals are unaffected by shedding
    assert payload["n_queries"] == 186


def test_runaway_probe_is_truncated_not_the_results_line():
    """A runaway probe ERR tail must never evict graded timings: the
    contract line is sized first and the probe only gets the leftover
    (priority: results line is the contract, probe is advisory)."""
    probe, line = _lines(probe="PROBE ERR[" + "e" * 3000 + "]")
    assert len(probe) + len(line) + 2 <= 2000
    payload = json.loads(line)  # the contract line survives intact
    assert payload["metric"] == "total_query_wall_time"
    # all 50 graded entries survive; only the probe was cut
    assert "dropped" not in payload
    assert len(payload["queries"]) == 50
    assert probe.startswith("PROBE ERR[")  # a diagnostic prefix remains


def test_probe_budget_reserve_matches_shedding_budget():
    """The shedding loop reserves MIN_PROBE chars; a normal-length probe
    then fits untruncated next to a full 50-entry line."""
    probe_in = "PROBE duckdb=1.0.0 pyspark=4.1.2 py=3.11.7 a=OK b=OK"
    probe, line = _lines(probe=probe_in)
    assert probe == probe_in  # healthy probes are never cut
    assert len(json.loads(line)["queries"]) == 50


CONTENTION = {"other_cpu_s": 61.4, "steal_s": 2.3}
RETIMED = {"item_similarity_topk": 3.77, "semantic_dedup": 1.2}


def test_contention_and_retimed_ride_in_the_parsed_payload():
    """The timed loop's measured contention and the end-of-run re-times
    land in the parsed results line, so a contaminated record reads as
    such from the record itself; a clean run says so with an empty
    ``retimed``."""
    probe, line = _lines(name_len=16, contention=CONTENTION, retimed=RETIMED)
    assert len(probe) + len(line) + 2 <= 2000
    payload = json.loads(line)
    assert payload["contention"] == CONTENTION
    assert payload["retimed"] == RETIMED
    assert "dropped" not in payload
    _, line = _lines(contention=CONTENTION, retimed={})
    assert json.loads(line)["retimed"] == {}


def test_new_fields_are_priced_into_the_shedding_budget():
    """With contention and re-times present, an oversized window still
    sheds loudly and the line stays parseable; the shedding takes from
    the larger window, so both diagnostics survive intact."""
    probe, line = _lines(name_len=120, contention=CONTENTION, retimed=RETIMED)
    assert len(probe) + len(line) + 2 <= 2000
    payload = json.loads(line)
    assert payload["dropped"] > 0
    assert len(payload["queries"]) + payload["dropped"] == 50
    assert payload["contention"] == CONTENTION
    assert payload["retimed"] == RETIMED


def test_runaway_retimed_set_shares_the_budget_with_the_window():
    """A run with most seats contaminated re-times more than fits. Entries
    are shed from the larger of the two dicts, fastest first: the line
    still parses inside the capture and keeps about as many graded front
    entries as re-times, the slowest re-times among them."""
    retimed = {f"q{'r' * 24}{i:03d}": 1.0 + i / 100 for i in range(150)}
    probe, line = _lines(contention=CONTENTION, retimed=retimed)
    assert len(probe) + len(line) + 2 <= 2000
    payload = json.loads(line)
    front, kept = payload["queries"], payload["retimed"]
    assert 0 < len(kept) < 50 and abs(len(front) - len(kept)) <= 1
    assert payload["dropped"] == 50 + 150 - len(front) - len(kept)
    assert sorted(kept) == sorted(retimed)[-len(kept):]


def _seat(sec, other, steal=0.0):
    return {"sec": sec, "own_cpu_s": sec, "other_cpu_s": other, "steal_s": steal}


def test_flag_rule_compares_outside_cpu_with_the_seat_share():
    """A seat is flagged when the CPU its window saw outside the bench
    (other + steal) exceeds OUTSIDE_SHARE of its wall × cores: a reading
    of the seat itself, with no reference record, load average or run
    position involved."""
    limit = bench.OUTSIDE_SHARE * 2.0 * 4  # a 2 s seat on 4 cores
    seats = {
        "idle": _seat(2.0, 0.05),
        "cotenant": _seat(2.0, 2 * 2.0),  # two busy loops for the whole seat
        "stolen": _seat(2.0, 0.0, steal=limit + 0.1),
        "at_limit": _seat(2.0, limit),  # equal is not above
        "split": _seat(2.0, limit / 2 + 0.01, steal=limit / 2),
    }
    assert bench.contaminated(seats, cores=4) == ["cotenant", "stolen", "split"]
    # the same outside CPU is a smaller share of a larger host
    assert bench.contaminated({"x": _seat(2.0, 2.5)}, cores=4) == ["x"]
    assert bench.contaminated({"x": _seat(2.0, 2.5)}, cores=8) == []


def test_flagged_seats_are_the_burst_seats_wherever_they_sit():
    """Co-tenant bursts at the start, middle and end of a run flag
    exactly the seats they overlapped."""
    names = [f"q{i:03d}" for i in range(30)]
    burst = [0, 1, 14, 28, 29]
    seats = {n: _seat(1.0, 2.0 if i in burst else 0.02) for i, n in enumerate(names)}
    assert bench.contaminated(seats, cores=4) == [names[i] for i in burst]


class _ScriptedTimer:
    """Stands in for ``bench.SeatTimer``: scripted readings, logged calls."""

    def __init__(self, readings):
        self.readings, self.calls = readings, []

    def time(self, name, query, group):
        self.calls.append((name, group))
        sec, other = self.readings[name].pop(0)
        return sec, _seat(sec, other)


def test_contaminated_seats_are_retimed_once_after_the_loop():
    """Seats run once each in registration order; after the loop each
    flagged seat runs once more under its own job group. ``retimed``
    holds those re-times; ``timings`` (whose sum is ``value``) keeps the
    first pass."""
    timer = _ScriptedTimer(
        {
            "a": [(1.0, 0.0)],
            "b": [(3.0, 6.0), (1.2, 0.0)],
            "c": [(0.5, 0.01)],
            "d": [(2.0, 4.0), (1.9, 0.0)],
        }
    )
    qs = dict.fromkeys("abcd")
    timings, seats, retimed, contention = bench.run_seats(timer, qs, cores=4)
    assert timer.calls == [
        ("a", "a"), ("b", "b"), ("c", "c"), ("d", "d"),
        ("b", "b:retime"), ("d", "d:retime"),
    ]
    assert timings == {"a": 1.0, "b": 3.0, "c": 0.5, "d": 2.0}
    assert retimed == {"b": 1.2, "d": 1.9}
    assert list(seats) == list(qs)
    assert [n for n in qs if "retime" in seats[n]] == ["b", "d"]
    assert seats["b"]["sec"] == 3.0 and seats["b"]["retime"]["sec"] == 1.2
    assert {"own_cpu_s", "other_cpu_s", "steal_s"} <= set(contention)


def test_engine_primer_runs_on_a_live_session(spark):
    """The primer executes real engine paths (window, broadcast join,
    one streaming micro-batch); a PySpark API drift here would kill
    every bench run at warmup, so exercise it in the suite."""
    bench._engine_primer(spark, "/root/testdata/sf0.001")
    # the throwaway memory sink must not leak into the catalog
    assert not any(
        t.name == "bench_primer" for t in spark.catalog.listTables()
    )




def test_seat_record_counts_jobs_of_a_batch_and_a_streaming_seat(spark):
    """The per-seat record is harvested from Spark's status store: a
    batch query's jobs through its job group, a streaming query's
    micro-batch jobs through the stream listener's run ids."""
    from ecommerce_event_pipeline_spark import registry

    qs = registry.queries()
    timer = bench.SeatTimer(spark, "/root/testdata/sf0.001")
    recs = {}
    try:
        for name in ("hourly_traffic", "streaming_hourly_traffic"):
            sec, recs[name] = timer.time(name, qs[name], f"contract:{name}")
            assert recs[name]["sec"] == round(sec, 3) > 0
    finally:
        spark.streams.removeListener(timer.listener)
        spark.sparkContext.setJobGroup(None, None)
    for name, rec in recs.items():
        assert rec["build.jobs"] + rec["execute.jobs"] > 0, name
        assert rec["execute.tasks"] > 0, name
        assert {"own_cpu_s", "other_cpu_s", "steal_s"} <= set(rec), name
    assert "streaming.batches" not in recs["hourly_traffic"]
    stream = recs["streaming_hourly_traffic"]
    assert stream["streaming.batches"] > 0
    # its micro-batch jobs ran under the stream's runId, not the seat's group
    own_group = spark.sparkContext.statusTracker().getJobIdsForGroup(
        "contract:streaming_hourly_traffic"
    )
    assert stream["build.jobs"] + stream["execute.jobs"] > len(own_group)


def test_seat_record_carries_the_jvm_warm_up_layer(spark):
    """Every seat record carries its JIT layer, read outside the timer: a
    seat whose code the session has not generated yet compiles classes,
    and its repeat compiles none (the generated-code cache holds them).
    The literal makes the generated code new to the session."""
    import uuid

    salt = uuid.uuid4().int % 1_000_003

    def query(spark, sf_dir):
        return spark.range(100).selectExpr(f"sum(id * {salt}) AS s")

    timer = bench.SeatTimer(spark, "/root/testdata/sf0.001")
    try:
        recs = [timer.time("jit", query, "contract:jit")[1] for _ in range(2)]
    finally:
        spark.streams.removeListener(timer.listener)
        spark.sparkContext.setJobGroup(None, None)
    assert recs[0]["jit.codegen_compiles"] > 0
    assert recs[1]["jit.codegen_compiles"] == 0
    assert all(r["jit.jit_s"] >= 0 for r in recs)


def test_warm_up_runs_no_query_and_materializes_the_shared_bases(spark, monkeypatch):
    """``warmup_sec`` covers the shared cached bases and the engine
    primer, nothing else: with every registered query function replaced
    by one that raises, warm-up completes, and the frames it materializes
    are ``read_events`` and exactly ``registry.SHARED_BASES``."""
    from ecommerce_event_pipeline_spark import registry, registry_core
    from ecommerce_event_pipeline_spark.sources import readers

    def _raise(spark, sf_dir):
        raise AssertionError("warm-up ran a registered query")

    registered = {id(e.fn) for e in registry_core._REGISTRY.values()}
    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith("ecommerce_event_pipeline_spark"):
            for attr, val in list(vars(mod).items()):
                if id(val) in registered:
                    monkeypatch.setattr(mod, attr, _raise)
    for name, e in list(registry_core._REGISTRY.items()):
        monkeypatch.setitem(registry_core._REGISTRY, name, registry_core.Entry(_raise, e.oracle))

    materialized = []

    class _Counted:
        def __init__(self, label, df):
            self._label, self._df = label, df

        def count(self):
            materialized.append(self._label)
            return self._df.count()

        def __getattr__(self, attr):
            return getattr(self._df, attr)

    def _recording(build):
        return lambda spark, sf_dir: _Counted(build.__name__, build(spark, sf_dir))

    bases = registry.SHARED_BASES
    monkeypatch.setattr(readers, "read_events", _recording(readers.read_events))
    monkeypatch.setattr(registry, "SHARED_BASES", tuple(map(_recording, bases)))
    assert bench.warm_up(spark, "/root/testdata/sf0.001") > 0
    assert materialized == ["read_events", *(b.__name__ for b in bases)]
