"""Layer tracing from outside the package.

- ``StatusStore`` reads finished jobs and stages from Spark's status store
  (``sc._jsc.sc().statusStore()``). It works with ``spark.ui.enabled=false``
  and fires no jobs. Each op tags its jobs with a job group, and the store
  is read after every op, before ``spark.ui.retainedJobs`` (1000) can
  evict anything.
- ``StreamListener`` collects micro-batch progress. Micro-batch jobs carry
  the stream's ``runId`` as their job group, not the op's tag, so the
  listener's run ids are how those jobs find their op.
- ``Spans`` wraps public layer functions of the package in timing spans.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

from measure import gap, ms_to_s, ns_to_s, to_mb


class StatusStore:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        scala = getattr(
            getattr(sc._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$",
        )
        self._mapper = sc._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala)
        self._seen_stages: set[int] = set()

    def _read(self, obj) -> dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until every posted event (job end, stage end, stream
        progress) has reached its listeners."""
        self._bus.waitUntilEmpty()

    def harvest(self, groups: list[str]) -> tuple[list[dict], list[dict]]:
        """Finished jobs of ``groups`` and their stages not yet harvested."""
        jobs, stages = [], []
        for group in groups:
            for job_id in sorted(self._tracker.getJobIdsForGroup(group)):
                job = self._read(self._store.job(job_id))
                jobs.append(job)
                for stage_id in job["stageIds"]:
                    if stage_id in self._seen_stages:
                        continue
                    try:
                        stage = self._read(self._store.lastStageAttempt(stage_id))
                    except Py4JJavaError:  # skipped: never submitted, never stored
                        continue
                    if stage["status"] in ("COMPLETE", "FAILED"):
                        self._seen_stages.add(stage_id)
                        stages.append(stage)
        return jobs, stages


class StreamListener(StreamingQueryListener):
    """Run ids of started streams and the progress of every micro-batch."""

    def __init__(self) -> None:
        self.run_ids: list[str] = []
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Spans:
    """Timing spans around public functions of the package.

    ``wrap`` rebinds the function in every loaded package module that
    imported it by name, so callers that did ``from .x import f`` are
    traced too.
    """

    def __init__(self, package: str) -> None:
        self.package = package
        self.records: list[tuple[str, float, float]] = []

    def wrap(self, module, attr: str, name: str) -> None:
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            start = time.time()
            try:
                return original(*args, **kwargs)
            finally:
                self.records.append((name, start, time.time()))

        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith(self.package) and getattr(mod, attr, None) is original:
                setattr(mod, attr, traced)

    def since(self, start: float) -> list[tuple[str, float, float]]:
        return [r for r in self.records if r[1] >= start]


def _spans(jobs: list[dict]) -> list[tuple[float, float]]:
    return [
        (j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0)
        for j in jobs
        if j.get("submissionTime") and j.get("completionTime")
    ]


def layer_record(
    phases: dict[str, tuple[float, float]],
    jobs: dict[str, list[dict]],
    stages: dict[str, list[dict]],
    progress: list[dict],
    spans: list[tuple[str, float, float]],
) -> dict[str, float]:
    """Per-layer counters of one op from its phases' walls, jobs, stages,
    micro-batch progress and spans."""
    rec: dict[str, float] = defaultdict(float)
    build_lo, build_hi = phases["build"]
    exec_lo, exec_hi = phases["execute"]
    rec["build.wall_s"] = build_hi - build_lo
    rec["build.jobs"] = len(jobs["build"])
    rec["execute.wall_s"] = exec_hi - exec_lo
    rec["execute.jobs"] = len(jobs["execute"])
    rec["execute.driver_gap_s"] = gap(_spans(jobs["execute"]), exec_lo, exec_hi)
    for s in stages["execute"]:
        rec["execute.stages"] += 1
        rec["execute.tasks"] += s["numTasks"]
        rec["execute.executor_run_s"] += ms_to_s(s["executorRunTime"])
        rec["execute.executor_cpu_s"] += ns_to_s(s["executorCpuTime"])
        rec["execute.shuffle_write_mb"] += to_mb(s["shuffleWriteBytes"])
        rec["execute.shuffle_read_mb"] += to_mb(s["shuffleReadBytes"])
        rec["execute.spill_mb"] += to_mb(s["diskBytesSpilled"])
    for s in stages["build"] + stages["execute"]:
        rec["sources.input_mb"] += to_mb(s["inputBytes"])
        rec["sources.input_rows"] += s["inputRecords"]
        rec["writers.output_mb"] += to_mb(s["outputBytes"])
    for p in progress:
        d = p.get("durationMs", {})
        rec["streaming.batches"] += 1
        rec["streaming.add_batch_s"] += ms_to_s(d.get("addBatch", 0))
        rec["streaming.planning_s"] += ms_to_s(d.get("queryPlanning", 0))
        rec["streaming.wal_commit_s"] += ms_to_s(d.get("walCommit", 0))
    last = {}
    for p in progress:  # state size after each stream's final batch
        last[p["runId"]] = sum(o.get("numRowsTotal", 0) for o in p.get("stateOperators", []))
    rec["streaming.state_rows"] = sum(last.values())
    for name, start, end in spans:
        rec[f"{name}_s"] += end - start
        rec[f"{name}_calls"] += 1
    return rec


def pass_layers(records: list[dict[str, float]], cores: int) -> dict[str, float]:
    """Sum per-op records into one pass; add the executors' busy share."""
    total: dict[str, float] = defaultdict(float)
    for rec in records:
        for key, value in rec.items():
            total[key] += value
    wall = total["execute.wall_s"]
    total["execute.busy_share"] = total["execute.executor_run_s"] / (wall * cores) if wall else 0.0
    return dict(total)
