"""Shrink-before-pinning AST pin (VERDICT r13 item 6).

The stateless ``_pid`` design re-executes a pinned frame's input subtree
once per consumer branch (~3x). That is the documented scale trade
(docs/SCALING.md) **provided call sites follow the shrink-before-pinning
rule**: the frame fed to a fan-out order-statistics operator must be a
bounded intermediate that was either materialized once
(``localCheckpoint``) or compressed inside the operator itself
(``materialize_support=True``). A future query that feeds a raw
full-width scan straight into ``distributed_prefix_sum`` would silently
pay 3+ full data passes — this scan makes that a loud test failure
instead of a convention.

Mechanics: for every call to a fan-out operator in ``queries/`` or
``registry.py``, expand the first argument's intra-function lineage
(names -> their assigned expressions, transitively) and require a
``localCheckpoint`` call somewhere in it; the support-compressing stats
operators may alternatively pass ``materialize_support=True`` (they pin
the bounded support internally). Sites where re-execution is the
reviewed intent go in the allowlist WITH a justification.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "ecommerce_event_pipeline_spark",
)

#: operators whose pinned frame fans out into >= 2 consumer branches —
#: their input must carry a localCheckpoint in its lineage
FANOUT_OPS = {
    "pinned_range_partition",
    "global_row_number",
    "global_ntile",
    "distributed_prefix_sum",
}

#: operators that compress to the (group, value) support internally —
#: materialize_support=True is the equivalent pin
SUPPORT_OPS = {
    "grouped_exact_percentiles",
    "grouped_ntile_histogram",
}

#: (relative path, enclosing function) -> why an unpinned input is fine
#: there. Entries require a reviewed justification.
UNPINNED_INPUT_OK: dict[tuple[str, str], str] = {
    ("registry.py", "customer_balance_deciles"):
        "input is a raw narrow columnar scan with NO smaller support to "
        "shrink to (NTILE ranks every customer row); re-execution is a "
        "2-column parquet re-scan — elastic and strictly cheaper at "
        "scale than pinning the full customer table in executor storage",
}


def _called_name(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Attribute):
        return f.attr
    if isinstance(f, ast.Name):
        return f.id
    return None


def _enclosing_function(tree: ast.AST, node: ast.AST) -> str:
    best, best_span = "<module>", None
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if fn.lineno <= node.lineno <= (fn.end_lineno or fn.lineno):
                span = (fn.end_lineno or fn.lineno) - fn.lineno
                if best_span is None or span < best_span:
                    best, best_span = fn.name, span
    return best


def _function_assigns(fn: ast.AST) -> dict[str, list[ast.expr]]:
    """name -> every expression assigned to it within the function."""
    assigns: dict[str, list[ast.expr]] = {}
    for node in ast.walk(fn):
        if isinstance(node, ast.Assign) and node.value is not None:
            for tgt in node.targets:
                if isinstance(tgt, ast.Name):
                    assigns.setdefault(tgt.id, []).append(node.value)
        elif isinstance(node, ast.AugAssign) and isinstance(
            node.target, ast.Name
        ):
            assigns.setdefault(node.target.id, []).append(node.value)
    return assigns


def _lineage_has_pin(
    expr: ast.expr, assigns: dict[str, list[ast.expr]], depth: int = 0
) -> bool:
    """True when the expression's intra-function lineage contains a
    ``localCheckpoint`` call. Names expand through every assignment to
    them (union — conservative against reassignment order), bounded to
    keep pathological self-references finite."""
    if depth > 12:
        return False
    for node in ast.walk(expr):
        # a raw .localCheckpoint() call, a pin_frame(...) call, or
        # .transform(pin_frame) — all three spell the same pin
        if isinstance(node, ast.Call) and _called_name(node) in (
            "localCheckpoint",
            "pin_frame",
        ):
            return True
        if isinstance(node, ast.Name) and node.id == "pin_frame":
            return True
    for node in ast.walk(expr):
        if isinstance(node, ast.Name) and node.id in assigns:
            for src in assigns[node.id]:
                if src is expr:
                    continue
                if _lineage_has_pin(src, assigns, depth + 1):
                    return True
    return False


def scan_source(src: str, relpath: str = "<inline>") -> list[tuple]:
    """Return (relpath, function, lineno, op) for every fan-out operator
    call whose input is neither pinned nor support-materialized."""
    tree = ast.parse(src)
    violations = []
    # map each call to its nearest enclosing function for assign scoping
    functions = [
        fn
        for fn in ast.walk(tree)
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        name = _called_name(node)
        if name not in FANOUT_OPS | SUPPORT_OPS or not node.args:
            continue
        # nearest enclosing function (smallest span containing the call)
        encl, span = None, None
        for fn in functions:
            if fn.lineno <= node.lineno <= (fn.end_lineno or fn.lineno):
                s = (fn.end_lineno or fn.lineno) - fn.lineno
                if span is None or s < span:
                    encl, span = fn, s
        assigns = _function_assigns(encl) if encl is not None else {}
        if name in SUPPORT_OPS and any(
            kw.arg == "materialize_support"
            and isinstance(kw.value, ast.Constant)
            and kw.value.value is True
            for kw in node.keywords
        ):
            continue
        if _lineage_has_pin(node.args[0], assigns):
            continue
        violations.append(
            (relpath, _enclosing_function(tree, node), node.lineno, name)
        )
    return violations


def scan_query_modules() -> list[tuple]:
    out = []
    targets = [os.path.join(PKG, "registry.py")]
    qdir = os.path.join(PKG, "queries")
    for fname in sorted(os.listdir(qdir)):
        if fname.endswith(".py"):
            targets.append(os.path.join(qdir, fname))
    for path in targets:
        rel = os.path.relpath(path, PKG)
        with open(path) as fh:
            out.extend(scan_source(fh.read(), rel))
    return out


def test_fanout_operator_inputs_are_shrunk_and_pinned():
    found = scan_query_modules()
    sites = {(p, fn) for p, fn, _, _ in found}
    rogue = sites - set(UNPINNED_INPUT_OK)
    assert not rogue, (
        "fan-out order-statistics operator fed an un-pinned frame at a "
        "query call site — localCheckpoint the bounded intermediate (or "
        "pass materialize_support=True on the stats operators), or "
        f"justify re-execution in the allowlist: {sorted(rogue)} "
        f"(full: {found})"
    )
    stale = set(UNPINNED_INPUT_OK) - sites
    assert not stale, f"allowlist entries no longer in source: {sorted(stale)}"


def test_scanner_flags_seeded_counterexamples():
    """The scan must actually fail on what it exists to catch."""
    bad = (
        "def q(spark, sf_dir):\n"
        "    ev = read_events(spark, sf_dir).select('ts', 'v')\n"
        "    return distributed_prefix_sum(ev, ['ts'], 'v')\n"
    )
    got = scan_source(bad)
    assert got == [("<inline>", "q", 3, "distributed_prefix_sum")], got

    bad2 = (
        "def q(spark, sf_dir):\n"
        "    ev = read_events(spark, sf_dir)\n"
        "    return grouped_exact_percentiles(ev, 'v', {'p50': 0.5}, ['g'])\n"
    )
    got = scan_source(bad2)
    assert got == [("<inline>", "q", 3, "grouped_exact_percentiles")], got

    good = (
        "def q(spark, sf_dir):\n"
        "    s = read_events(spark, sf_dir).groupBy('g').agg(\n"
        "        F.sum('v').alias('v')\n"
        "    ).localCheckpoint()\n"
        "    d = s.select('g', 'v').unionByName(s.select('g', 'v'))\n"
        "    a = distributed_prefix_sum(d, ['g'], 'v')\n"
        "    b = grouped_exact_percentiles(\n"
        "        read_events(spark, sf_dir), 'v', {'p50': 0.5}, ['g'],\n"
        "        materialize_support=True,\n"
        "    )\n"
        "    return a, b\n"
    )
    assert scan_source(good) == []
