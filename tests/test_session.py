"""Session construction and tuning: the JIT policy ``get_spark`` launches
the driver JVM with, and conf that ``tune()`` must set on a session it did
not build."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession

from ecommerce_event_pipeline_spark import session
from ecommerce_event_pipeline_spark.session import JIT_JAVA_OPTIONS, get_spark, tune

ARROW = "spark.sql.execution.arrow.pyspark.enabled"
SHUFFLE = "spark.sql.shuffle.partitions"


def test_tune_turns_arrow_on_in_a_foreign_session(spark):
    """A caller of the ``__spark_entry__`` contract hands over a plain
    session with Arrow off. After ``tune()`` it must convert pandas frames through Arrow like a
    ``get_spark`` session: the non-Arrow path rejects a nullable
    ``Int64`` column with a missing value (it arrives as floats, which a
    LongType field does not accept). ``newSession()`` gives the test its
    own SQL conf, so the suite's session is left as it was."""
    shared_before = spark.conf.get(ARROW)
    foreign = spark.newSession()
    foreign.conf.set(ARROW, "false")

    tune(foreign)

    assert foreign.conf.get(ARROW) == "true"
    pdf = pd.DataFrame({"v": pd.array([1, None], dtype="Int64")})
    rows = foreign.createDataFrame(pdf, "v long").collect()
    assert [r["v"] for r in rows] == [1, None]
    assert spark.conf.get(ARROW) == shared_before


def test_registry_query_keeps_the_session_shuffle_partition_count(spark):
    """Every registry query re-tunes the session it is given. A shuffle
    partition count the session holds must survive that, while the
    timezone, ANSI mode and Arrow are still forced; a session with no
    count set still gets the machine's parallelism, not Spark's 200. The
    held count differs from ``default_parallelism()`` at any core count."""
    from ecommerce_event_pipeline_spark import registry

    query = registry.queries()["hourly_traffic"]
    held = str(session.default_parallelism() + 3)
    own = spark.newSession()
    for key, value in (
        (SHUFFLE, held),
        ("spark.sql.session.timeZone", "Asia/Seoul"),
        ("spark.sql.ansi.enabled", "true"),
        (ARROW, "false"),
    ):
        own.conf.set(key, value)

    query(own, "/root/testdata/sf0.001")

    assert own.conf.get(SHUFFLE) == held
    initial = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    assert own.conf.get(initial) == str(8 * int(held))
    assert own.conf.get("spark.sql.session.timeZone") == "UTC"
    assert own.conf.get("spark.sql.ansi.enabled") == "false"
    assert own.conf.get(ARROW) == "true"

    unset = spark.newSession()
    unset.conf.unset(SHUFFLE)
    assert unset.conf.get(SHUFFLE, None) is None
    query(unset, "/root/testdata/sf0.001")
    assert unset.conf.get(SHUFFLE) == str(session.default_parallelism())


def test_driver_jvm_runs_the_jit_policy(spark):
    """The suite's session is built by ``get_spark``, so its JVM must have
    been launched with the four tier-4 thresholds: a conf that never
    reaches the command line would leave the JDK defaults in force."""
    args = list(
        spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        .getInputArguments()
    )
    flags = JIT_JAVA_OPTIONS.split()
    assert len(flags) == 4
    for flag in flags:
        assert flag in args


def test_caller_java_options_survive_the_jit_policy(spark, monkeypatch):
    """A caller's ``spark.driver.extraJavaOptions`` reaches the builder
    untouched, beside the policy's own ``defaultJavaOptions`` (Spark puts
    the default options first, so the caller's flags win). The builder is
    captured instead of launched: the suite's JVM already runs."""
    seen = {}

    def capture(builder):
        seen.update(builder._options)
        return spark

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    monkeypatch.setattr(session, "tune", lambda s, overrides=None: s)
    caller = "-XX:Tier4CompileThreshold=160000 -Dgraft.caller=1"

    get_spark(extra_conf={"spark.driver.extraJavaOptions": caller})

    assert seen["spark.driver.extraJavaOptions"] == caller
    assert seen["spark.driver.defaultJavaOptions"] == JIT_JAVA_OPTIONS
