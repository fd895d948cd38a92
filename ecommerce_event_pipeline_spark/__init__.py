"""ecommerce_event_pipeline_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference pipeline ``jiminnote/ecommerce-event-pipeline``
(an Airflow-orchestrated daily-batch clickstream pipeline: event generation,
7-rule data-quality validation, SQL data marts, and one PySpark batch job).

Everything here is declarative DataFrame / Spark SQL so Catalyst handles
predicate pushdown, column pruning, join strategy and whole-stage codegen;
Python UDFs appear only where built-in operators genuinely cannot express
the semantics (see ``functions/multimodal.py``).

Layout
------
- ``session``    : SparkSession builder tuned for local[N] and cluster use
- ``schemas``    : explicit schemas (event log, purchase payload, fixtures)
- ``sources``    : readers/writers (JSONL, Parquet) and the event generator
- ``operators``  : mart queries + relational (join/agg/window) operators
- ``quality``    : the 7 data-quality checks as single-pass DataFrame aggs
- ``functions``  : text analysis, dedup, similarity search, multimodal
- ``streaming``  : Structured Streaming restatements of the batch marts
- ``pipeline``   : run-for-date orchestration (generate → validate → gate →
  marts → write), the Spark-native restatement of the reference DAG
"""

__version__ = "0.1.0"
