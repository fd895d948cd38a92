"""The integer fixed points (HITS, PageRank, the Markov stationary
distribution): bounded build-time Spark jobs, and identical results
under three shuffle and input layouts.

Each fixed point collects its edge or transition-count table once and
iterates on the driver, so building one fires the jobs of that single
collect, not a job chain per iteration step."""

from __future__ import annotations

import pytest

from ecommerce_event_pipeline_spark import registry
from ecommerce_event_pipeline_spark.sources.readers import read_table

SF_DIR = "/root/testdata/sf0.001"
FIXED_POINTS = (
    "hits_scores",
    "item_pagerank",
    "transition_stationary",
    "markov_entropy_rate",
)


def _apply(spark, conf: dict) -> None:
    """Set each key of ``conf``; a ``None`` value unsets it."""
    for k, v in conf.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.mark.parametrize("name", FIXED_POINTS)
def test_build_fires_few_jobs(spark, count_jobs, name):
    # a Spark job chain per iteration step fired 12-55 jobs here
    query = registry.queries()[name]
    assert count_jobs(lambda: query(spark, SF_DIR)) <= 8


def test_results_do_not_depend_on_the_layout(spark, tmp_path):
    repartitioned = tmp_path / "events4"
    read_table(spark, SF_DIR, "events").repartition(4).write.parquet(
        str(repartitioned / "events.parquet")
    )
    assert len(list((repartitioned / "events.parquet").glob("*.parquet"))) == 4
    settings = [
        (SF_DIR, {
            "spark.sql.shuffle.partitions": "1",
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "1",
        }),
        (SF_DIR, {
            "spark.sql.shuffle.partitions": "7",
            "spark.sql.adaptive.enabled": "false",
        }),
        (str(repartitioned), {}),
    ]
    prev = {k: spark.conf.get(k, None) for _, conf in settings for k in conf}
    results = []
    try:
        for sf_dir, conf in settings:
            _apply(spark, {**prev, **conf})
            # the unwrapped query: the registry wrapper re-tunes the conf
            results.append({
                name: registry.queries()[name].__wrapped__(spark, sf_dir).collect()
                for name in FIXED_POINTS
            })
    finally:
        _apply(spark, prev)
    assert all(len(rows) > 0 for rows in results[0].values())
    assert results[1] == results[0]
    assert results[2] == results[0]
