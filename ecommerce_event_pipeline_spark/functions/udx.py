"""User-defined function surface: vectorized pandas UDAF + scalar UDF.

The reference has no UDF of any kind (SURVEY §2.11) and this engine's
parity operators are deliberately UDF-free. This module demonstrates the
two extension points a complete engine must still offer, with the same
discipline as the rest of the package:

- a GROUPED_AGG **pandas UDAF** (Arrow-vectorized: one numpy call per
  group partition, never per row) — the escape hatch for aggregates
  Catalyst lacks;
- a SCALAR **pandas UDF** for batch model inference over an embedding
  column (Arrow batches in, one vectorized numpy pass per batch out).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..operators.windows import sort_result


def _median_agg():
    # built lazily: pandas_udf resolves its DDL return type against the
    # active session, so decorating at import time would require one
    @pandas_udf("double")
    def median_agg(v: pd.Series) -> float:
        # interpolated median (mean of the two middles for even n) — the
        # same semantics as DuckDB's median()/quantile_cont(0.5), so the
        # aggregate is oracle-checkable; halving a two-double sum is exact
        return float(v.median())

    return median_agg


def value_median_by_type(events: DataFrame) -> DataFrame:
    """Per event-type interpolated median of ``value`` via the pandas
    UDAF, alongside a plain count. The grouped-agg UDF receives each
    group's column as one Arrow batch per partition-group — no Python
    per-row loop; the shuffle is the same single hash exchange a native
    aggregate uses (no partial aggregation though: grouped-agg pandas
    UDFs ship whole groups, which is the real cost vs a native
    percentile_approx at scale — use this machinery only for aggregates
    Catalyst can't express)."""
    vals = events.where(F.col("value").isNotNull())
    # Spark disallows mixing a grouped-agg pandas UDF with native
    # aggregates in one agg() (INVALID_PANDAS_UDF_PLACEMENT) — the count
    # comes from a second tiny aggregate joined on the group key
    medians = vals.groupBy("event_type").agg(
        _median_agg()(F.col("value")).alias("median_value")
    )
    counts = vals.groupBy("event_type").agg(F.count("*").alias("n_values"))
    return medians.join(counts, "event_type").transform(sort_result, "event_type")


#: Deterministic "model" weights for the batch-inference demo: a fixed
#: linear probe over the 64-dim embedding (w_i in [-0.5, 0.5) from a
#: Knuth-multiplicative index hash, bias 0.1). Committed literals — the
#: serving shape for a trained head — shared verbatim with the SQL oracle.
INFERENCE_DIM = 64
INFERENCE_BIAS = 0.1
INFERENCE_WEIGHTS = tuple(
    ((i * 2654435761) % 1000) / 1000.0 - 0.5 for i in range(INFERENCE_DIM)
)


def _score_udf():
    @pandas_udf("double")
    def score(emb: pd.Series) -> pd.Series:
        import numpy as np

        if len(emb) == 0:
            # empty Arrow batch (empty partition): np.stack of nothing
            # raises — return the empty series the engine expects
            return pd.Series([], dtype="float64")
        m = np.stack(emb.to_numpy()).astype(np.float64)  # (rows, 64)
        # DIMENSION-MAJOR accumulation: acc += m[:, j] * w_j, left to
        # right — per row this is exactly the sequential left fold the
        # SQL oracle's list_sum performs, so every double matches BIT
        # FOR BIT, while across rows each step is one vectorized numpy
        # op. np.dot would be faster but uses pairwise/SIMD summation —
        # same math, different rounding order, hash mismatch.
        # fold from 0 and add the bias to the TOTAL — the oracle computes
        # bias + list_sum(...), and bias-first vs bias-last associate
        # differently in the last ulp
        acc = np.zeros(m.shape[0], dtype=np.float64)
        for j in range(m.shape[1]):
            acc = acc + m[:, j] * INFERENCE_WEIGHTS[j]
        return pd.Series(INFERENCE_BIAS + acc)

    return score


def embedding_inference(embeddings: DataFrame) -> DataFrame:
    """Batch model inference over an embedding column — the
    score-every-document shape of quality-classifier / reward-model
    passes in a training-data pipeline, demonstrated with a fixed linear
    probe so the whole pass is oracle-checkable.

    The UDF is a SCALAR pandas UDF: Arrow ships each partition as
    columnar batches, the probe runs as 64 vectorized numpy ops per
    batch (dimension-major — see `_score_udf` for why not np.dot), and
    nothing shuffles: score + threshold are a pure projection, so this
    composes with any downstream filter at scan speed. A real model
    swaps the closure body (ONNX/torch session per executor); the
    Spark-side shape — Arrow batching, no per-row Python, row-local
    plan — is exactly what this operator pins.
    """
    scored = embeddings.select(
        "vec_id",
        "label",
        _score_udf()(F.col("embedding").cast("array<double>")).alias("_raw"),
    )
    return scored.select(
        "vec_id",
        "label",
        F.round("_raw", 6).alias("score"),
        # thresholded on the RAW score: rounding first could flip a
        # boundary case differently than the oracle
        (F.col("_raw") > 0.0).alias("positive"),
    )
