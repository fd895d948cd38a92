"""Compare two bench JSON outputs per query: ratio table + medians.

Usage: python tools/bench_compare.py OLD.json NEW.json [top_n]

Accepts a raw `bench.py` output line or ``bench_full.json``
(``{"metric": ..., "queries": {...}}``), or a ``BENCH_r*.json`` round
record: its ``parsed`` payload when there is one, else its ``tail``, the
last stdout characters, whose results line may be cut at the front; the
timings are then recovered from what survived of its ``queries`` object.

The median ratio is the host-noise discriminator on this machine: a
uniform shift across unrelated queries is load, not code (timings here
wander 3–5× under host stalls); investigate only the outliers ABOVE the
median shift.
"""

from __future__ import annotations

import json
import re
import statistics
import sys


def load_queries(path: str) -> dict[str, float]:
    with open(path) as fh:
        d = json.load(fh)
    d = d.get("parsed") or d
    if isinstance(d.get("queries"), dict):
        return {k: float(v) for k, v in d["queries"].items()}
    if "tail" in d:
        line = d["tail"].rstrip().splitlines()[-1]
        # the "queries" object, or what is left of it when the line was
        # cut inside it; "sf" is the key bench.py prints right after it
        body = re.search(r'(?:"queries":\s*\{|^)([^{}]*)\},\s*"sf"', line)
        pairs = re.findall(r'"([a-z_0-9]+)":\s*([0-9.]+)', body.group(1) if body else "")
        return {k: float(v) for k, v in pairs}
    raise SystemExit(f"{path}: no 'queries' map or 'tail' found")


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    old, new = load_queries(sys.argv[1]), load_queries(sys.argv[2])
    top_n = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    common = [
        (k, old[k], new[k]) for k in new if k in old and old[k] > 0.05
    ]
    if not common:
        raise SystemExit("no common queries with usable timings")
    ratios = sorted(v2 / v1 for _, v1, v2 in common)
    med = statistics.median(ratios)
    print(
        f"common queries: {len(common)}   "
        f"median ratio new/old: {med:.2f}   "
        f"(old-only: {len(old) - len(common)}, new-only: {len(new) - len(common)})"
    )
    print(f"\nslower than the median shift (top {top_n}):")
    for k, v1, v2 in sorted(common, key=lambda x: -(x[2] / x[1]))[:top_n]:
        flag = "  <-- investigate" if v2 / v1 > 2 * med else ""
        print(f"  {k:36s} {v1:8.2f} -> {v2:8.2f}  {v2 / v1:5.2f}x{flag}")
    print(f"\nfastest ratios (top {top_n}):")
    for k, v1, v2 in sorted(common, key=lambda x: x[2] / x[1])[:top_n]:
        print(f"  {k:36s} {v1:8.2f} -> {v2:8.2f}  {v2 / v1:5.2f}x")


if __name__ == "__main__":
    main()
