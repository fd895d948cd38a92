"""The benchmark's workloads: which ops run, how their inputs are staged,
and how each op's output is checked.

An op is ``(name, build, execute)``: ``build`` is the public call that
returns a plan (the registry's query function, or the JSONL event reader),
``execute`` runs it to a result. Both are timed; their jobs are tagged
separately so the trace can split the two layers.
"""

from __future__ import annotations

import glob
import math
from dataclasses import dataclass

import duckdb
import pyarrow.parquet as pq

import datagen

#: registry queries of the ``catalog`` workload: a streaming aggregation,
#: one of the fixed-point family and a short aggregate (cut to fit the
#: benchmark's time budget; see README)
CATALOG = [
    "streaming_hourly_traffic",  # registry.py, streaming
    "hits_scores",  # lifecycle, fixed point
    "lineitem_stats_by_flag",  # olap_deep
]

#: the prefix-filtered Jaccard self-join, the path PPJoin-style candidate
#: pruning would change (the other eight near-duplicate paths do not fit
#: the time budget at full size; see README)
SIMILARITY = ["jaccard_prefix_pairs"]

#: one day of the daily pipeline, run inside ``catalog`` (see README);
#: 10k users give about 25k events (9 MB of JSONL)
PIPELINE_DAY = "2024-03-04"
PIPELINE_USERS = 10_000
PIPELINE_OP = "run_for_date"
MARTS = (
    "raw_events mart_funnel_daily mart_user_daily mart_product_daily "
    "mart_orders hourly_traffic session_patterns"
).split()
QUALITY_CHECKS = 7


@dataclass
class Workload:
    queries: list[str]
    pipeline: bool = False


WORKLOADS = {
    "catalog": Workload(CATALOG, pipeline=True),
    "similarity": Workload(SIMILARITY),
}


def stage(spark, workload: Workload, seed: int, stage_dir: str) -> dict:
    """Write the workload's inputs under ``stage_dir``; return their shape.

    The pipeline day comes from the package's own event generator, written
    once as the reference's daily JSONL with the package's JSONL writer.
    """
    shape = {"tables": datagen.write_fixture(f"{stage_dir}/fixture", seed)}
    if workload.pipeline:
        from ecommerce_event_pipeline_spark.schemas import EVENT_SCHEMA
        from ecommerce_event_pipeline_spark.sources.generator import generate_events
        from ecommerce_event_pipeline_spark.sources.writers import write_jsonl

        events = generate_events(spark, PIPELINE_DAY, PIPELINE_USERS, seed)
        write_jsonl(events.select(*EVENT_SCHEMA.fieldNames()), f"{stage_dir}/jsonl")
        shape["pipeline_users"] = PIPELINE_USERS
    return shape


def ops(spark, workload: Workload, stage_dir: str, out_dir: str) -> list:
    """``(name, build, execute)`` for every op of one pass, in order."""
    from ecommerce_event_pipeline_spark import registry

    fixture = f"{stage_dir}/fixture"
    queries = registry.queries()
    out = [
        (name, lambda f=queries[name]: f(spark, fixture), _collect)
        for name in workload.queries
    ]
    if workload.pipeline:
        from ecommerce_event_pipeline_spark.pipeline import run_for_date
        from ecommerce_event_pipeline_spark.sources.readers import load_events_jsonl

        out.append(
            (
                PIPELINE_OP,
                lambda: load_events_jsonl(spark, f"{stage_dir}/jsonl"),
                lambda events: run_for_date(
                    spark, PIPELINE_DAY, f"{out_dir}/marts", events=events
                ),
            )
        )
    return out


def _collect(df):
    return df.columns, [tuple(r) for r in df.collect()]


# --------------------------------------------------------------------------
# output checks (run after the timed passes)
# --------------------------------------------------------------------------


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def _same(a, b) -> bool:
    # exact, as the oracle gate compares: a float equals only the same float
    if isinstance(a, float) or isinstance(b, float):
        return isinstance(a, float) and isinstance(b, float) and repr(a) == repr(b)
    return a == b


def compare(got: tuple[list, list], want: tuple[list, list]) -> str | None:
    """Order-insensitive exact comparison; a reason string on mismatch."""
    (g_cols, g_rows), (w_cols, w_rows) = got, want
    if sorted(g_cols) != sorted(w_cols):
        return f"columns {sorted(g_cols)} != {sorted(w_cols)}"
    if len(g_rows) != len(w_rows):
        return f"{len(g_rows)} rows != {len(w_rows)}"
    cols = sorted(g_cols)

    def canon(rows, names):
        idx = [names.index(c) for c in cols]
        rows = [tuple(_norm(r[i]) for i in idx) for r in rows]
        return sorted(rows, key=lambda r: tuple(repr(v) for v in r))

    for g, w in zip(canon(g_rows, g_cols), canon(w_rows, w_cols)):
        for c, a, b in zip(cols, g, w):
            if not _same(a, b):
                return f"column {c}: {a!r} != {b!r}"
    return None


class Oracle:
    """Expected results: the registry's DuckDB twins over the staged tables,
    and the pipeline's expected counts from the staged JSONL."""

    def __init__(self, stage_dir: str) -> None:
        self.stage_dir = stage_dir
        self.con = duckdb.connect()
        for t in datagen.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{stage_dir}/fixture/{t}.parquet'"
            )
        self._cache: dict[str, object] = {}

    def expected(self, name: str):
        if name not in self._cache:
            if name == PIPELINE_OP:
                self._cache[name] = self._pipeline_counts()
            else:
                from ecommerce_event_pipeline_spark import registry

                rel = self.con.sql(registry.oracle_sql()[name])
                self._cache[name] = (list(rel.columns), rel.fetchall())
        return self._cache[name]

    def _pipeline_counts(self) -> dict[str, int]:
        self.con.execute(
            f"""CREATE OR REPLACE VIEW ev AS
            SELECT *, CAST(ts AS DATE) AS event_date, hour(ts) AS event_hour
            FROM (SELECT *, CAST("timestamp" AS TIMESTAMP) AS ts
                  FROM read_json_auto('{self.stage_dir}/jsonl/*.json'))"""
        )
        sql = {
            "raw_events": "SELECT count(*) FROM ev",
            "mart_funnel_daily": "SELECT count(DISTINCT (event_date, platform)) FROM ev",
            "mart_user_daily": "SELECT count(DISTINCT (user_id, event_date)) FROM ev",
            "mart_product_daily": """SELECT count(DISTINCT (p, event_date)) FROM (
                SELECT product_id AS p, event_date FROM ev
                WHERE event_type IN ('click', 'add_to_cart') AND product_id IS NOT NULL
                UNION ALL
                SELECT unnest(from_json(extra_data,
                    '{"products": [{"product_id": "VARCHAR"}]}').products).product_id,
                    event_date
                FROM ev WHERE event_type = 'purchase' AND extra_data IS NOT NULL)""",
            "mart_orders": "SELECT count(*) FROM ev "
            "WHERE event_type = 'purchase' AND order_id IS NOT NULL",
            "hourly_traffic": "SELECT count(DISTINCT (event_date, event_hour, platform)) FROM ev",
            "session_patterns": "SELECT count(DISTINCT (session_id, user_id, platform)) FROM ev",
        }
        return {mart: self.con.sql(q).fetchone()[0] for mart, q in sql.items()}

    def check(self, name: str, result, out_dir: str) -> str | None:
        """None when ``result`` of op ``name`` is right, else why not."""
        want = self.expected(name)
        if name != PIPELINE_OP:
            return compare(result, want)
        if result.status != "SUCCESS":
            return f"status {result.status}"
        verdicts = [q["status"] for q in result.quality]
        if verdicts != ["PASS"] * QUALITY_CHECKS:
            return f"quality checks {verdicts}"
        if result.event_count != want["raw_events"]:
            return f"event_count {result.event_count} != {want['raw_events']}"
        for mart in MARTS:
            files = glob.glob(f"{out_dir}/marts/{mart}/*={PIPELINE_DAY}/*.parquet")
            rows = sum(pq.read_metadata(f).num_rows for f in files)
            if rows != want[mart]:
                return f"{mart}: {rows} rows != {want[mart]}"
        return None
