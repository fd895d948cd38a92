"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 30 --trace 0

Builds the workload's inputs from ``--seed``, starts one ``local[nproc]``
session through the package's ``session.get_spark``, and runs the
workload's ops one after another (one closed-loop client) in whole passes:
at least one, and no more than fit in ``--seconds``. Then it checks every
op's output and prints, as the last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it is a JSON record of the run (configuration, setup phases,
per-op times, host contention, failures).

Must be run from the root of a checkout that holds the package; anywhere
else it exits non-zero without a result.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ecommerce_event_pipeline_spark"
DRIVER_MEMORY = "4g"
sys.path.insert(0, HERE)

import measure  # noqa: E402
from measure import Contention, PeakRss, median, tail  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "op_cpu_p50_s": "s",
    "op_cpu_tail_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "trace.pass_s": "s",
    "build.wall_s": "s",
    "build.jobs": "count",
    "execute.wall_s": "s",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.tasks": "count",
    "execute.driver_gap_s": "s",
    "execute.busy_share": "ratio",
    "execute.executor_run_s": "s",
    "execute.executor_cpu_s": "s",
    "execute.shuffle_write_mb": "MB",
    "execute.shuffle_read_mb": "MB",
    "execute.spill_mb": "MB",
    "sources.read_s": "s",
    "sources.read_calls": "count",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "writers.write_s": "s",
    "writers.write_calls": "count",
    "writers.output_mb": "MB",
    "streaming.batches": "count",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count",
}
#: per-op layer figures kept in the record of a traced run
OP_LAYER_KEYS = ("build.wall_s", "build.jobs", "execute.wall_s", "execute.jobs", "streaming.batches")
#: counters a later change may claim only if they repeat exactly
COUNTERS = [k for k, unit in PER_LAYER.items() if unit == "count"]


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare(args: argparse.Namespace) -> str:
    """Guard and set the environment; return the run's scratch directory."""
    measure.check_env(os.environ)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    os.environ[measure.OWN_KNOB] = str(measure.nproc())
    # Python workers import the package too (applyInPandasWithState,
    # mapInPandas); they see the repo only through PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # keep every file Spark, the JVM and Python write inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    # the package default heap cap is 48g; the inputs here need far less
    # and the machine is shared
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp"
    os.chdir(work)
    sys.path.insert(0, ROOT)
    return work


def prime(spark, fixture: str) -> None:
    """Untimed first job: the JVM's one-time query-engine start-up belongs
    to setup, not to whichever op happens to run first."""
    from ecommerce_event_pipeline_spark.sources.readers import read_table

    read_table(spark, fixture, "events").groupBy("event_type").count().collect()


class Tracer:
    """Everything the traced run adds: status-store harvest, the stream
    listener and spans around the package's read and write functions."""

    def __init__(self, spark) -> None:
        from layers import Spans, StatusStore, StreamListener

        from ecommerce_event_pipeline_spark.sources import readers, writers

        self.store = StatusStore(spark)
        self.listener = StreamListener()
        spark.streams.addListener(self.listener)
        self.spans = Spans(PACKAGE)
        self.spans.wrap(readers, "read_table", "sources.read")
        self.spans.wrap(readers, "load_events_jsonl", "sources.read")
        self.spans.wrap(writers, "write_partitioned_parquet", "writers.write")
        self.store.drain()
        self.store.harvest([])  # nothing yet; proves the store is readable

    def record(self, tag: str, phases: dict, runs: dict) -> dict:
        from layers import layer_record

        self.store.drain()
        jobs, stages = {}, {}
        for phase in phases:
            jobs[phase], stages[phase] = self.store.harvest([f"{tag}:{phase}"] + runs[phase])
        run_ids = set(runs["build"] + runs["execute"])
        progress = [p for p in self.listener.progress if p["runId"] in run_ids]
        return layer_record(
            phases, jobs, stages, progress, self.spans.since(phases["build"][0])
        )


def tree_cpu() -> float:
    return measure.tree_cpu_s(measure.tree(os.getpid()))


def run_pass(spark, ops, n: int, tracer: Tracer | None) -> dict:
    sc = spark.sparkContext
    out = {"times": {}, "cpu": {}, "results": {}, "errors": {}, "layers": [], "cpu_s": 0.0}
    start = time.time()
    cpu_before = tree_cpu()
    for i, (name, build, execute) in enumerate(ops):
        tag = f"perfbench:{n}:{i}:{name}"
        # streams report their start synchronously, so the index at the
        # end of build splits the op's streams between its two phases
        streams = tracer.listener.run_ids if tracer else []
        first, split, t1 = len(streams), None, None
        t0 = time.time()
        try:
            sc.setJobGroup(f"{tag}:build", name)
            plan = build()
            t1, split = time.time(), len(streams)
            sc.setJobGroup(f"{tag}:execute", name)
            out["results"][name] = execute(plan)
            out["times"][name] = time.time() - t0
        except Exception as exc:  # a failed op is counted, not fatal
            out["errors"][name] = f"{type(exc).__name__}: {str(exc)[:300]}"
        t2 = time.time()
        cpu_after = tree_cpu()
        out["cpu_s"] += cpu_after - cpu_before
        if name in out["times"]:
            out["cpu"][name] = cpu_after - cpu_before
        if tracer:
            tracer.store.drain()
            if split is None:
                t1, split = t2, len(streams)
            runs = {"build": streams[first:split], "execute": streams[split:]}
            phases = {"build": (t0, t1), "execute": (t1, t2)}
            out["layers"].append(tracer.record(tag, phases, runs))
            cpu_after = tree_cpu()  # the harvest is not the next op's work
        cpu_before = cpu_after
    out["wall_s"] = time.time() - start
    return out


def shutdown(spark) -> None:
    """Stop the session and the JVM; wait for every process we started."""
    from pyspark import SparkContext

    members = set(measure.tree(os.getpid())) - {os.getpid()}
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while members and time.time() < deadline:
        members = {p for p in members if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for pid in members:  # anything that outlived the JVM
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def check(oracle, ops, passes: list[dict], work: str) -> list[dict]:
    """Every op result of every pass against the oracle; the failures."""
    failures = []
    for n, p in enumerate(passes):
        for name, _, _ in ops:
            why = p["errors"].get(name)
            if why is None:
                try:
                    why = oracle.check(name, p["results"][name], work)
                except Exception as exc:
                    why = f"check raised {type(exc).__name__}: {str(exc)[:300]}"
            if why:
                failures.append({"pass": n, "op": name, "why": why})
    return failures


def main(argv: list[str] | None = None) -> int:
    t_process = measure.process_start_epoch()
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    args = parse_args(argv)
    work = prepare(args)
    try:
        return run(args, work, t_process)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass


def run(args: argparse.Namespace, work: str, t_process: float) -> int:
    import workloads

    # the package must come from this checkout; importing it before
    # anything starts makes a checkout without it fail at once
    from ecommerce_event_pipeline_spark.session import get_spark

    wl = workloads.WORKLOADS[args.workload]
    cores = measure.nproc()
    rss = PeakRss()
    t_import = time.time()
    spark = None
    try:
        spark = get_spark("perfbench")
        t_session = time.time()
        tracer = Tracer(spark) if args.trace else None
        stage_dir = f"{work}/stage"
        shape = workloads.stage(spark, wl, args.seed, stage_dir)
        t_stage = time.time()
        prime(spark, f"{stage_dir}/fixture")
        ops = workloads.ops(spark, wl, stage_dir, work)
        t_ready = time.time()

        contention = Contention()
        passes = []
        # whole passes only, and no more than --seconds unless the first
        # pass alone takes longer
        while not passes or (time.time() - t_ready) + passes[-1]["wall_s"] <= args.seconds:
            passes.append(run_pass(spark, ops, len(passes), tracer))
        host = contention.finish()
        peak_rss_mb = rss.stop()
        failures = check(workloads.Oracle(stage_dir), ops, passes, work)
    finally:
        shutdown(spark)

    walls = [t for p in passes for t in p["times"].values()]
    cpus = [c for p in passes for c in p["cpu"].values()]
    if not walls:
        raise SystemExit("no op succeeded; nothing to report")
    wall_tail, wall_pct, n = tail(walls)
    cpu_tail, cpu_pct, _ = tail(cpus)
    setup = {
        "import_s": t_import - t_process,
        "session_start_s": t_session - t_import,
        "stage_s": t_stage - t_session,
        "prime_s": t_ready - t_stage,
    }
    repeats = None
    if args.trace:
        from layers import pass_layers

        per_pass = [pass_layers(p["layers"], cores) for p in passes]
        values = {k: median([pp.get(k, 0.0) for pp in per_pass]) for k in PER_LAYER}
        values["session.start_s"] = setup["session_start_s"]
        values["trace.pass_s"] = median([p["wall_s"] for p in passes])
        units = PER_LAYER
        if len(passes) > 1:
            repeats = {k: len({pp.get(k, 0.0) for pp in per_pass}) == 1 for k in COUNTERS}
    else:
        values = {
            "setup_s": t_ready - t_process,
            "pass_cpu_s": median([p["cpu_s"] for p in passes]),
            "op_cpu_p50_s": median(cpus),
            "op_cpu_tail_s": cpu_tail,
        }
        units = END_TO_END

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "config": {
            "cores": cores,
            "env": {
                k: os.environ[k]
                for k in sorted(os.environ)
                if k.startswith("SPARK_GRAFT_") or k == "SPARK_DRIVER_MEMORY"
            },
            "python": platform.python_version(),
            "pyspark": __import__("pyspark").__version__,
            "ops": [name for name, _, _ in ops],
        },
        "inputs": shape,
        "setup": {k: round(v, 3) for k, v in setup.items()},
        # wall-clock figures: what a user waits for, but on a shared host
        # they move with CPU stolen by other machines (see "host")
        "wall": {
            "pass_s": median([p["wall_s"] for p in passes]),
            "op_p50_s": median(walls),
            "op_tail_s": wall_tail,
        },
        "op_tail": {"percentile": wall_pct, "cpu_percentile": cpu_pct, "samples": n},
        # not gated: its spread across ten seeds reached 0.28 with the JVM heap growth
        "peak_rss_mb": peak_rss_mb,
        "passes": [
            {
                "wall_s": round(p["wall_s"], 3),
                "cpu_s": round(p["cpu_s"], 3),
                "ops": {k: round(v, 3) for k, v in p["times"].items()},
                "ops_cpu": {k: round(v, 3) for k, v in p["cpu"].items()},
            }
            for p in passes
        ],
        "host": host,
        "counters_repeat": repeats,
        "op_layers": [
            {"op": name, **{k: round(rec.get(k, 0.0), 3) for k in OP_LAYER_KEYS}}
            for (name, _, _), rec in zip(ops, passes[0]["layers"])
        ],
        "failures": failures,
    }
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": len(ops) * len(passes),
                "failed": len(failures),
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
