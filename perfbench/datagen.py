"""Seeded fixture tables for the benchmark.

``write_fixture`` writes the ten tables the registry reads (``region nation
customer supplier part orders lineitem events documents embeddings``), one
parquet file each, with the row counts, column names and physical types of
the repository's scale-factor-0.1 fixture and the same value distributions
(README, "Inputs"). The same seed always gives byte-identical tables; a
different seed changes every value but no row count, so every seed costs
about the same work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


#: row counts of the scale-factor-0.1 fixture (the other tables are fixed-size)
CUSTOMERS, SUPPLIERS, PARTS, ORDERS = 15_000, 1_000, 20_000, 150_000
LINEITEMS, EVENTS, USERS = 600_000, 100_000, 1_500
DOCUMENTS, EMBEDDINGS, DIM = 5_000, 2_000, 64


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _dates(rng: np.random.Generator, start_us: int, days: int, n: int) -> pa.Array:
    us = start_us + rng.integers(0, days, n) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    words = [list(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 100, n)]
    # ~5% near-duplicates, as in the fixture: a copy of another document
    # with the token "dup" appended, so every dedup path has work to find
    for i in np.flatnonzero(rng.random(n) < 0.05):
        words[i] = list(words[int(rng.integers(0, n))]) + ["dup"]
    text = [" ".join(w) for w in words]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": text,
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * dim + 1, dim), pa.int32()), flat
            ),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def tables(seed: int) -> dict[str, pa.Table]:
    """Build every fixture table in memory."""
    # one independent stream per table: resizing one table leaves the
    # values of the others unchanged
    rngs = dict(zip(TABLES, np.random.default_rng(seed).spawn(len(TABLES))))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    r = rngs["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(CUSTOMERS), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(CUSTOMERS)],
            "c_nationkey": pa.array(r.integers(0, 25, CUSTOMERS), pa.int32()),
            "c_acctbal": _cents(r, -999.99, 9999.99, CUSTOMERS),
            "c_mktsegment": pa.array(r.choice(SEGMENTS, CUSTOMERS)),
        }
    )
    r = rngs["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(SUPPLIERS), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(SUPPLIERS)],
            "s_nationkey": pa.array(r.integers(0, 25, SUPPLIERS), pa.int32()),
            "s_acctbal": _cents(r, -999.99, 9999.99, SUPPLIERS),
        }
    )
    r = rngs["part"]
    keys = np.arange(PARTS)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(r.integers(0, 8, PARTS), r.integers(0, 8, PARTS))
            ],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, PARTS)],
            "p_type": pa.array(r.choice(PART_TYPES, PARTS)),
            "p_size": pa.array(r.integers(1, 51, PARTS), pa.int32()),
            "p_retailprice": 900.0 + (keys % 1000) / 10.0,
        }
    )
    r = rngs["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(ORDERS), pa.int64()),
            "o_custkey": pa.array(r.integers(0, CUSTOMERS, ORDERS), pa.int64()),
            "o_orderstatus": pa.array(r.choice(ORDER_STATUS, ORDERS)),
            "o_totalprice": _cents(r, 1000.0, 500000.0, ORDERS),
            "o_orderdate": _dates(r, _EPOCH_1995, 2400, ORDERS),
            "o_orderpriority": pa.array(r.choice(PRIORITIES, ORDERS)),
        }
    )
    r = rngs["lineitem"]
    n = LINEITEMS
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, ORDERS, n), pa.int64()),
            "l_partkey": pa.array(r.integers(0, PARTS, n), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, SUPPLIERS, n), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
            "l_quantity": r.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _cents(r, 900.0, 105000.0, n),
            "l_discount": r.integers(0, 11, n) / 100.0,
            "l_tax": r.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(r.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(r.choice(["F", "O"], n)),
            "l_shipdate": _dates(r, _EPOCH_1995 + _US_PER_DAY, 2500, n),
        }
    )
    r = rngs["events"]
    n = EVENTS
    ts = np.sort(_EPOCH_2024 + r.integers(0, 30 * _US_PER_DAY, n))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, USERS, n), pa.int64()),
            "event_type": pa.array(r.choice(EVENT_TYPES, n)),
            "value": np.round(r.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
        }
    )
    out["documents"] = _documents(rngs["documents"], DOCUMENTS)
    out["embeddings"] = _embeddings(rngs["embeddings"], EMBEDDINGS, DIM)
    return out


def write_fixture(out_dir: str, seed: int) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
