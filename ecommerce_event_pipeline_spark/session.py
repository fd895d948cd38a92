"""SparkSession construction and per-session tuning.

The reference pins ``spark.sql.shuffle.partitions=8`` and an Asia/Seoul
session timezone (reference: scripts/spark_batch_processor.py:77-85). We
instead size shuffle parallelism to the machine, enable AQE so the runtime
re-plans partition counts / skew joins, and pin UTC so derived date/hour
columns compare cleanly against external engines (DuckDB is UTC-naive).

At cluster scale the same builder applies: AQE coalesces the post-shuffle
partitions to match data volume, dynamic partition overwrite makes per-date
mart writes idempotent (the reference's DELETE+INSERT contract), and ANSI
mode stays off so ``x / 0`` yields NULL like the reference's non-ANSI jobs.

JIT policy. ``get_spark`` launches the driver JVM with HotSpot's C1→C2
promotion thresholds raised 10× over the JDK 17 defaults
(``JIT_JAVA_OPTIONS``). A daily batch runs once in a fresh JVM, and there
the JIT was the largest single cost: 42 of 61 CPU-s of a cold
``run_for_date`` day (10k users, 4-core VM) went to HotSpot compilation,
mostly C2 compiling lukewarm code (Catalyst planning, Janino, per-job
generated classes, the streaming and Parquet-writer stacks) that ran too
briefly to repay it. With the higher thresholds that code stays on C1,
while truly hot loops, such as the similarity verify join, still reach
C2. Only C1 (``-XX:TieredStopAtLevel=1``) made ``similarity`` far slower,
and 3× thresholds changed nothing. The price is paid by long sessions:
code that turns hot only after many queries reaches C2 later, so a
229-query session runs a few percent longer on less CPU (CHANGES.md).

The flags go in ``spark.driver.defaultJavaOptions``, which Spark puts in
front of ``spark.driver.extraJavaOptions``, so a caller's
``extra_conf={"spark.driver.extraJavaOptions": ...}`` is kept and its
flags win. JVM options apply only when the JVM starts: the policy reaches
only a driver JVM that ``get_spark`` launches. A session built by an
outside driver, or one ``getOrCreate`` finds already running, keeps its
own JIT settings, and so do cluster executors (docs/SCALING.md).

Generated-code cache. Spark keeps the classes Janino compiles (whole-stage
and expression code) in one JVM-wide LRU cache keyed by source text,
sized by the static conf ``spark.sql.codegen.cache.maxEntries`` (Spark's
default: 100). The working sets are far larger: one ``run_for_date`` day
compiles about 180 classes, the perfbench ``catalog`` pass 232, and a
220-query sf0.01 registry sweep about 4,990. With 100 entries the LRU
evicted everything between repeats, so every warm pass recompiled all
of its classes, most of them inside executor tasks. ``get_spark`` sizes
the cache to ``CODEGEN_CACHE_ENTRIES`` (8192), which holds the whole
sweep: a warm ``catalog`` pass then compiles 0 classes, and the sweep's
second round compiled 136 instead of 4,995 (4-core VM; round-2 CPU
122 → 87 s). The price is memory held for the life of the JVM: after
two sweep rounds Metaspace held 231 MB instead of 205 MB and the JVM's
resident size was 4.84 GB instead of 4.25 GB (8g heap). Like the JIT
policy, the size reaches only a JVM that ``get_spark`` launches: the
cache is built, once per JVM, the first time code is generated, so a
session ``getOrCreate`` finds already running keeps the size it started
with (docs/SCALING.md covers cluster executors).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


#: Conf that is safe (and required for oracle parity) to set at runtime on
#: any externally provided session. Arrow is on so
#: ``toPandas``/``createDataFrame(pandas)`` convert the same way in a
#: session we did not build as in one ``get_spark`` built.
#: ``spark.sql.shuffle.partitions`` is not here: ``tune`` keeps a count
#: the session already holds and fills in the machine's only where none
#: is set.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


#: HotSpot C1→C2 (tier 4) promotion thresholds, 10× the JDK 17 defaults
#: (5000 / 600 / 15000 / 40000): lukewarm code stays on C1 instead of being
#: compiled by C2 for a run too short to repay it (module docstring).
JIT_JAVA_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


#: Entries of the JVM-wide generated-class cache
#: (``spark.sql.codegen.cache.maxEntries``): above the ~5,000 classes a
#: 220-query sweep compiles, so repeated work recompiles nothing (module
#: docstring).
CODEGEN_CACHE_ENTRIES = 8192


def tune(
    spark: SparkSession, overrides: dict[str, str] | None = None
) -> SparkSession:
    """Apply runtime-settable conf to an existing session (idempotent).

    Used on sessions we did not build (e.g. the verification driver's) so
    query results are timezone/ANSI stable regardless of who built it.
    ``overrides`` win over ``RUNTIME_CONF`` — callers that explicitly
    request a setting (e.g. ``get_spark(shuffle_partitions=4)`` in tests)
    must not have it silently clobbered by the defaults.

    ``spark.sql.shuffle.partitions`` keeps the count the session holds,
    so a registry query run in a ``get_spark(shuffle_partitions=4)``
    session leaves it at 4. A session with none set (one built outside
    this package, whose Spark default is 200) gets the machine's parallelism: stateful
    streaming ops (applyInPandasWithState, dropDuplicatesWithinWatermark)
    size their state stores from it and get NO AQE coalescing, so at 200
    a 150-user stateful op fanned out over 200 Python workers (the
    round-2 streaming_user_state 7x regression).
    """
    merged = {**RUNTIME_CONF, **(overrides or {})}
    shuffle_key = "spark.sql.shuffle.partitions"
    if shuffle_key not in merged:
        merged[shuffle_key] = spark.conf.get(shuffle_key, None) or str(
            default_parallelism()
        )
    # Shuffles START wide and AQE coalesces them down to data volume —
    # the standard cluster sizing pattern, and the piece a fixed
    # shuffle.partitions misses as data grows: at 10× sf0.1 the exact-
    # Jaccard self-join runs 17-31 s on 32 fat partitions vs 5.7-6.0 s
    # with a 256-partition start (tools/scale_probe.py; work volume is
    # exactly linear, the blowup was per-partition size). Keyed off the
    # effective shuffle.partitions so test sessions (4) stay small, and
    # left out of RUNTIME_CONF so an explicit override always wins.
    init_key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    if init_key not in merged:
        merged[init_key] = str(8 * int(merged[shuffle_key]))
    for key, value in merged.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - conf may be static in some envs
            pass
    return spark


def get_spark(
    app_name: str = "ecommerce-event-pipeline-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # In local mode the driver JVM is the whole cluster. A long
        # many-query session accumulates broadcast blocks / codegen classes
        # faster than the ContextCleaner retires them, and an undersized
        # heap turns that into GC drag on every query after the first few
        # dozen (measured: 80-query bench 154s at 16g → 143s at 48g, with
        # the per-query tail smoothing out). Cached data itself is tiny
        # (~62 MB at sf0.1) — the headroom is for churn, not storage.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        # static: read once per JVM, when the cache is first built
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # read at JVM launch only; extraJavaOptions follows it, so a
        # caller's flags are kept and win
        .config("spark.driver.defaultJavaOptions", JIT_JAVA_OPTIONS)
    )
    for key, value in RUNTIME_CONF.items():
        builder = builder.config(key, value)
    # explicit caller overrides are applied LAST at build time and again as
    # tune() overrides — without this, the RUNTIME_CONF defaults (which
    # include shuffle.partitions) would silently clobber a requested value
    overrides = dict(extra_conf or {})
    if shuffle_partitions is not None:
        overrides["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    for key, value in overrides.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark, overrides)
