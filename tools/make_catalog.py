"""Generate QUERIES.md — the human-readable catalog of every registered
query: one line of what it computes (first docstring sentence), where it
lives, and its oracle kind. COVERAGE.md is the grading ledger; this is
the switching-user's index.

Usage: python tools/make_catalog.py   (writes /root/repo/QUERIES.md)
"""

from __future__ import annotations

import inspect
import re
import sys

sys.path.insert(0, "/root/repo")


def first_sentence(doc: str | None) -> str:
    if not doc:
        return "(no docstring)"
    text = " ".join(doc.split())
    # first sentence, but do not split on an abbreviation-ish dot inside
    # parens; fall back to the whole (collapsed) first 180 chars
    m = re.search(r"^(.*?\.)(\s|$)", text)
    s = m.group(1) if m else text
    return s if len(s) <= 240 else s[:237] + "..."


def main() -> None:
    from ecommerce_event_pipeline_spark import registry

    lines = [
        "# QUERIES — catalog of every registered query",
        "",
        "Generated by `python tools/make_catalog.py` from the registry",
        "docstrings. The first 50 rows are the driver-graded window",
        "(`registry._FRONT`); every row has a DuckDB oracle twin",
        "(`__spark_entry__.oracle_sql()`), checked locally by",
        "`tools/check_oracle.py`. See COVERAGE.md for the per-round",
        "grading ledger and tests/plan_fingerprints.json for each",
        "query's checked plan fingerprint.",
        "",
        "| # | query | defined in | summary |",
        "|---|---|---|---|",
    ]
    for pos, (name, entry) in enumerate(registry._REGISTRY.items(), start=1):
        # unwrap the register() decorator so both the FILE and the line
        # point at the real definition (getsourcelines unwraps on its
        # own, getsourcefile does not — mixing them reported the
        # wrapper's module with the wrapped function's line)
        fn = inspect.unwrap(entry.fn)
        try:
            src = inspect.getsourcefile(fn) or ""
            src = src.replace("/root/repo/", "")
            line = inspect.getsourcelines(fn)[1]
            where = f"`{src}:{line}`"
        except (OSError, TypeError):
            where = "`registry.py`"
        summary = first_sentence(fn.__doc__).replace("|", "\\|")
        lines.append(f"| {pos} | `{name}` | {where} | {summary} |")
    out = "/root/repo/QUERIES.md"
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(registry._REGISTRY)} queries)")


if __name__ == "__main__":
    main()
