"""Session tuning: conf that ``tune()`` must set on a session it did not build."""

from __future__ import annotations

import pandas as pd

from ecommerce_event_pipeline_spark.session import tune

ARROW = "spark.sql.execution.arrow.pyspark.enabled"


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
