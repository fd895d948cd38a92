"""Optimization-round measurement harness (guide §1).

Times a list of registered queries standalone in one session — bench
methodology (`collect()` wall time, shared bases pre-warmed) — reporting
cold + min-of-N warm seconds and the cold rep's Spark job counts per
phase (``build_jobs``: the query function, ``exec_jobs``: its
``collect()``; each phase runs under its own job group and is counted
from the status tracker). For the cold rep it also prints the JVM's JIT
layer: ``jit_s``, the HotSpot compilation time the rep added
(``CompilationMXBean``, summed over compiler threads), and
``codegen_compiles``, the whole-stage/expression classes Janino compiled
(``CodegenMetrics``); both are read over py4j and fire no job
(``bench.jit_reader``). ``warm_compiles`` counts the classes Janino
compiled over the warm reps: each is a generated-code cache miss, since a
warm rep runs code the cold rep already generated.

Usage:
    python tools/opt_probe.py [--reps 3] q1 q2 ...
    python tools/opt_probe.py --top 30          # slowest from the record
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_CACHE_EVENTS", "1")
    from bench import jit_reader
    from ecommerce_event_pipeline_spark import registry
    from ecommerce_event_pipeline_spark.session import get_spark
    from ecommerce_event_pipeline_spark.sources.readers import read_events, read_table

    names = list(args.queries)
    if args.top:
        import glob, re
        recs = sorted(
            (int(m.group(1)), p)
            for p in glob.glob(os.path.join(REPO, "bench_local_r*.json"))
            if (m := re.fullmatch(r"bench_local_r(\d+)\.json", os.path.basename(p)))
        )
        if not recs:
            ap.error("--top needs a committed bench_local_r*.json record")
        rec = json.load(open(recs[-1][1]))["queries"]
        names += sorted(rec, key=rec.get, reverse=True)[: args.top]
    unknown = [n for n in names if n not in registry.queries()]
    if unknown:
        ap.error(f"unknown queries (not in registry): {unknown}")

    spark = get_spark("opt_probe")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in ("events", "documents", "orders", "lineitem"):
        read_table(spark, args.sf_dir, t).limit(1).collect()
    read_events(spark, args.sf_dir).count()
    for base in registry.SHARED_BASES:
        base(spark, args.sf_dir).count()

    qs = registry.queries()
    sc = spark.sparkContext
    jvm_layer = jit_reader(spark)

    out = {}
    for name in names:
        fn = qs[name]
        times = []
        layer0 = jvm_layer()
        for i in range(max(1, args.reps)):
            t0 = time.perf_counter()
            sc.setJobGroup(f"opt_probe:{name}#{i}:build", f"build {name}")
            df = fn(spark, args.sf_dir)
            sc.setJobGroup(f"opt_probe:{name}#{i}:exec", f"execute {name}")
            df.collect()
            times.append(round(time.perf_counter() - t0, 3))
            if i == 0:
                layer1 = jvm_layer()
                cold = {
                    "jit_s": round(layer1[0] - layer0[0], 2),
                    "codegen_compiles": layer1[1] - layer0[1],
                }
        warm_compiles = jvm_layer()[1] - layer1[1]
        sc.setJobGroup(None, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = {
            f"{phase}_jobs": len(sc.statusTracker().getJobIdsForGroup(f"opt_probe:{name}#0:{phase}"))
            for phase in ("build", "exec")
        }
        out[name] = {"cold": times[0], "warm_min": min(times[1:] or times), **jobs, **cold,
                     "warm_compiles": warm_compiles}
        print(f"{name}: cold={times[0]:.2f} warm_min={out[name]['warm_min']:.2f} all={times} "
              f"build_jobs={jobs['build_jobs']} exec_jobs={jobs['exec_jobs']} "
              f"jit_s={cold['jit_s']:.2f} codegen_compiles={cold['codegen_compiles']} "
              f"warm_compiles={warm_compiles}", flush=True)
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
