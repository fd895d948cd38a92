"""``tools/bench_compare.py`` reads ``BENCH_r*.json`` round records: the
``parsed`` payload when the record has one, else the compact results
line at the end of the stdout ``tail``, cut at the front or not."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import bench_compare  # noqa: E402

RECORD = os.path.join(REPO, "BENCH_r14.json")
PAYLOAD_KEYS = ("value", "sf", "n_queries", "warmup_sec", "n", "rc", "cpus")


def _wrapper(tmp_path, tail):
    path = tmp_path / "BENCH_tail.json"
    path.write_text(json.dumps({"n": 14, "rc": 0, "cpus": 32, "sf": 0.1, "tail": tail}))
    return str(path)


def test_round_record_reads_its_parsed_queries():
    parsed = json.load(open(RECORD))["parsed"]["queries"]
    assert bench_compare.load_queries(RECORD) == parsed
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "bench_compare.py"), RECORD, RECORD],
        capture_output=True, text=True, check=True,
    ).stdout
    assert f"common queries: {len(parsed)}" in out


def test_tail_only_wrapper_reads_the_compact_results_line(tmp_path):
    record = json.load(open(RECORD))
    parsed = record["parsed"]["queries"]
    assert bench_compare.load_queries(_wrapper(tmp_path, record["tail"])) == parsed
    # a record keeps the last 2000 characters: cut the line inside "queries"
    line = record["tail"].rstrip().splitlines()[-1]
    cut = bench_compare.load_queries(_wrapper(tmp_path, line[len(line) // 2 :]))
    assert cut and set(cut) < set(parsed)
    assert all(cut[k] == parsed[k] for k in cut)
    assert not set(PAYLOAD_KEYS) & set(cut)
