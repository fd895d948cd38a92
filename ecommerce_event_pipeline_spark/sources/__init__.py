from .readers import (
    load_events_jsonl,
    read_events,
    read_table,
    with_time_columns,
)
from .writers import write_jsonl, write_partitioned_parquet

__all__ = [
    "load_events_jsonl",
    "read_events",
    "read_table",
    "with_time_columns",
    "write_jsonl",
    "write_partitioned_parquet",
]
