"""Skew mitigation: salted two-phase aggregation and salted broadcast join.

AQE's skew-join splitting handles sort-merge join skew automatically
(``spark.sql.adaptive.skewJoin.enabled``, on by default in our session),
but two cases still need explicit salting at 100 TB:

- **hot-key aggregation**: a single grouping key holding >1 partition of
  rows serializes one reducer. Two-phase salted aggregation spreads phase
  one over ``salt_buckets`` reducers and re-aggregates the tiny partials.
  Only ALGEBRAIC aggregates (sum/count/min/max/avg-as-sum+count) can be
  re-aggregated this way — count_distinct cannot.
- **hot-key broadcast-ineligible join**: replicate the small side per salt
  bucket and salt the big side, so one hot key fans across buckets.

Both helpers are pure DataFrame transforms; salt is a deterministic hash
of a tiebreak column, keeping results reproducible.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .windows import sort_result


def salted_sum_count(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    salt_buckets: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """Skew-safe groupBy: SUM/COUNT/MIN/MAX/AVG of ``value_col`` per
    ``group_cols`` via salted partial aggregation + final merge.

    Output: group_cols + sum_value, row_count, min_value, max_value,
    avg_value — identical to the unsalted aggregate (tested), but the
    first shuffle is keyed on (group, salt) so a hot group spreads over
    ``salt_buckets`` reducers.
    """
    salt_base = F.col(salt_source) if salt_source else F.monotonically_increasing_id()
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(salt_base), F.lit(salt_buckets)))
    partial = salted.groupBy(*group_cols, "_salt").agg(
        F.sum(value_col).alias("_sum"),
        F.count(value_col).alias("_cnt"),
        F.min(value_col).alias("_min"),
        F.max(value_col).alias("_max"),
    )
    return (
        partial.groupBy(*group_cols)
        .agg(
            F.sum("_sum").alias("sum_value"),
            F.sum("_cnt").alias("row_count"),
            F.min("_min").alias("min_value"),
            F.max("_max").alias("max_value"),
            (F.sum("_sum") / F.sum("_cnt")).alias("avg_value"),
        )
        .transform(sort_result, *group_cols)
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt_buckets: int = 8,
    salt_source: str | None = None,
) -> DataFrame:
    """Inner join where ``big`` has hot keys and ``small`` is too large to
    broadcast outright: replicate ``small`` once per salt bucket (explode
    over a literal range — |small|×buckets rows) and salt ``big``, so the
    shuffle key (on, salt) splits each hot key across ``salt_buckets``
    reducers."""
    salt_base = F.col(salt_source) if salt_source else F.monotonically_increasing_id()
    big_salted = big.withColumn(
        "_salt", F.pmod(F.xxhash64(salt_base), F.lit(salt_buckets)).cast("int")
    )
    small_replicated = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return big_salted.join(small_replicated, [on, "_salt"]).drop("_salt")
