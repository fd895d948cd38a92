"""Source-scan pins: the round-12 nondeterminism sweep (VERDICT r12
item 5) and package reachability.

docs/SCALING.md's round-12 sweep asserts two package-wide invariants in
prose:

1. every ``collect_list`` that feeds an ordered fold or rendered
   sequence goes through ``sort_array``/``array_sort`` first
   (``collect_list`` order is partition-arrival order — nondeterministic
   over shuffle-fed inputs);
2. every groupBy ``first``/``last`` aggregate is either windowed (an
   ordered frame makes it deterministic) or takes a group-constant /
   singleton value.

Prose claims rot; these tests re-derive them from the AST on every run,
the same way ``test_materialize_once_pin_all_fanout_operators`` pins the
consistent-_pid idiom. A NEW unsorted ``collect_list`` or bare
``F.first()`` fails the suite unless it is added to the allowlist below
WITH a justification — the allowlist is the reviewed register of
order-insensitive consumers, and stale entries fail too.

The reachability pin (``test_every_package_name_is_reachable``) keeps
code that only tests call out of the package: every top-level function,
class and constant must be reachable from the engine's roots — the
``@register``-ed queries, module-level statements (the pipeline CLI),
``__spark_entry__.py``, ``bench.py``, the DAG, ``tools/`` and
``perfbench/``.

The import pin (``test_no_unused_test_imports``) fails on a module-level
import under ``tests/`` that its module never uses. It stays out of the
package on purpose: ``registry.py`` re-exports names and imports query
modules for their registration side effects.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "ecommerce_event_pipeline_spark")

# (relative path, enclosing function) -> why collect_list order cannot
# matter there. Reviewed in round 12 (SCALING.md sweep), pinned here.
UNSORTED_COLLECT_LIST_OK = {
    ("functions/dedup.py", "ngram_jaccard_pairs"):
        "stop-list fed to array_except — set semantics, order-free",
    ("registry.py", "_synthetic_event_log"):
        "JSON payload construction whose consumers re-explode and "
        "re-aggregate; element order round-trips and is never folded",
    ("registry.py", "json_order_items"):
        "same JSON round-trip shape: _products is exploded back out and "
        "the oracle comparison aggregates per item row, never per array",
}

# (relative path, enclosing function) -> why an unwindowed first()/last()
# is deterministic there (group-constant or singleton input).
BARE_FIRST_LAST_OK = {
    ("queries/behavior.py", "rfm_segments"):
        "as_of is a grouping key — constant within every group by "
        "definition",
    ("quality/checks.py", "platform_flip_sessions"):
        "_first_platform is itself a windowed first over the session "
        "order, so it is group-constant when the outer first() reads it",
    # functions/stats.py grouped_exact_percentiles left this list in
    # r14: the percentile fusion removed the pivot (and its singleton
    # F.first cell) entirely — conditional min aggregates now.
}


# (relative path, top-level name) -> why the package keeps a name that
# no root reaches.
UNREACHED_OK = {
    ("functions/sketch.py", "hll_estimate_value"):
        "reference HLL decoder; tests/test_analytics_marts.py checks the "
        "registered HLL queries against it",
    ("sources/writers.py", "write_observed_parquet"):
        "the observed write ROADMAP item 3 wires into run_for_date",
    ("functions/lang_profiles.py", "PROFILE_TOP_N"):
        "generated data module (tools/build_lang_profiles.py): records "
        "the profile depth the table was built with",
    ("functions/pq_codebooks.py", "K"):
        "generated data module (tools/build_pq_codebooks.py): records "
        "the codebook shape beside M and SUB_DIM",
}

# (test module, imported name) -> why a test module imports a name it
# never reads. Empty: pytest fixtures come from conftest.py, not imports.
UNUSED_TEST_IMPORT_OK: dict[tuple[str, str], str] = {}

#: files outside the package whose every reference is a root
ROOT_GLOBS = (
    "__spark_entry__.py",
    "bench.py",
    "dags/event_pipeline_dag.py",
    "tools/*.py",
    "perfbench/*.py",
)


def _called_name(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Attribute):
        return f.attr
    if isinstance(f, ast.Name):
        return f.id
    return None


def _link_parents(tree: ast.AST) -> None:
    for node in ast.walk(tree):
        for child in ast.iter_child_nodes(node):
            child._parent = node  # type: ignore[attr-defined]


def _sorted_ancestor(node: ast.AST) -> bool:
    """True when the call is wrapped (possibly many levels up, within
    the same statement) in sort_array/array_sort."""
    cur = getattr(node, "_parent", None)
    while cur is not None and not isinstance(cur, ast.stmt):
        if isinstance(cur, ast.Call) and _called_name(cur) in (
            "sort_array",
            "array_sort",
        ):
            return True
        cur = getattr(cur, "_parent", None)
    return False


def _is_windowed(node: ast.Call) -> bool:
    """True for ``F.first(...).over(w)`` — the parent is the ``.over``
    attribute access whose own parent is the over-call."""
    p = getattr(node, "_parent", None)
    return isinstance(p, ast.Attribute) and p.attr == "over"


def _enclosing_function(tree: ast.AST, node: ast.AST) -> str:
    best = "<module>"
    best_span = None
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if fn.lineno <= node.lineno <= (fn.end_lineno or fn.lineno):
                span = (fn.end_lineno or fn.lineno) - fn.lineno
                if best_span is None or span < best_span:
                    best, best_span = fn.name, span
    return best


def scan_source(src: str, relpath: str = "<inline>") -> dict[str, list]:
    """Return the two violation lists for one source text."""
    tree = ast.parse(src)
    _link_parents(tree)
    unsorted_cl, bare_fl = [], []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        name = _called_name(node)
        if name == "collect_list" and not _sorted_ancestor(node):
            unsorted_cl.append(
                (relpath, _enclosing_function(tree, node), node.lineno)
            )
        elif name in ("first", "last"):
            # only the F.first/F.last COLUMN functions; DataFrame.first()
            # (an action) and unrelated locals are out of scope
            f = node.func
            if (
                isinstance(f, ast.Attribute)
                and isinstance(f.value, ast.Name)
                and f.value.id == "F"
                and not _is_windowed(node)
            ):
                bare_fl.append(
                    (relpath, _enclosing_function(tree, node), node.lineno)
                )
    return {"unsorted_collect_list": unsorted_cl, "bare_first_last": bare_fl}


def scan_package() -> dict[str, list]:
    out = {"unsorted_collect_list": [], "bare_first_last": []}
    for root, _dirs, files in os.walk(PKG):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG)
            with open(path) as fh:
                found = scan_source(fh.read(), rel)
            for k in out:
                out[k].extend(found[k])
    return out


def test_collect_list_feeding_order_is_pinned():
    found = scan_package()
    sites = {(p, fn) for p, fn, _ in found["unsorted_collect_list"]}
    rogue = sites - set(UNSORTED_COLLECT_LIST_OK)
    assert not rogue, (
        "unsorted collect_list outside the reviewed allowlist — wrap it "
        f"in sort_array/array_sort or justify it here: {sorted(rogue)}"
    )
    stale = set(UNSORTED_COLLECT_LIST_OK) - sites
    assert not stale, f"allowlist entries no longer in source: {sorted(stale)}"


def test_bare_first_last_is_pinned():
    found = scan_package()
    sites = {(p, fn) for p, fn, _ in found["bare_first_last"]}
    rogue = sites - set(BARE_FIRST_LAST_OK)
    assert not rogue, (
        "unwindowed F.first/F.last outside the reviewed allowlist — give "
        "it an ordered window or justify the group-constant here: "
        f"{sorted(rogue)}"
    )
    stale = set(BARE_FIRST_LAST_OK) - sites
    assert not stale, f"allowlist entries no longer in source: {sorted(stale)}"


def test_scanner_flags_seeded_counterexamples():
    """The scan must actually FAIL on the patterns it exists to catch
    (a vacuous scanner is worse than prose — ADVICE r12's dead-assert
    lesson)."""
    bad = (
        "def q(df):\n"
        "    a = df.groupBy('g').agg(F.collect_list('x').alias('xs'))\n"
        "    b = df.groupBy('g').agg(F.first('x').alias('fx'))\n"
        "    return a, b\n"
    )
    found = scan_source(bad)
    assert found["unsorted_collect_list"] == [("<inline>", "q", 2)]
    assert found["bare_first_last"] == [("<inline>", "q", 3)]

    good = (
        "def q(df, w):\n"
        "    a = df.groupBy('g').agg(\n"
        "        F.array_sort(F.collect_list(F.struct('o', 'x'))).alias('xs')\n"
        "    )\n"
        "    b = df.select(F.first('x').over(w).alias('fx'))\n"
        "    return a, b\n"
    )
    found = scan_source(good)
    assert found["unsorted_collect_list"] == []
    assert found["bare_first_last"] == []


class _Module:
    """One package module: its top-level names, the statements that run
    on import, and what each local alias (any import, any scope) binds."""

    def __init__(self, path: str, modules: set[str]) -> None:
        self.name = _module_name(path)
        self.rel = os.path.relpath(path, PKG)
        with open(path) as fh:
            self.tree = ast.parse(fh.read())
        is_pkg = path.endswith("__init__.py")
        self.aliases = _aliases(self.tree, self.name, is_pkg, modules)
        self.defs: dict[str, list[ast.stmt]] = {}
        self.registered: list[str] = []
        self.on_import: list[ast.stmt] = []
        for stmt in self.tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
                self.defs.setdefault(stmt.name, []).append(stmt)
                if any(_is_register(d) for d in stmt.decorator_list):
                    self.registered.append(stmt.name)
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = (
                    stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                )
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name) and not n.id.startswith("__"):
                            self.defs.setdefault(n.id, []).append(stmt)
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                pass
            elif not (
                isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant)
            ):  # anything but a docstring runs on import
                self.on_import.append(stmt)


def _module_name(path: str) -> str:
    parts = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _is_register(dec: ast.expr) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return _dotted(f)[-1:] == ["register"]


def _dotted(node: ast.AST) -> list[str]:
    """``a.b.c`` -> ["a", "b", "c"]; [] for anything not a name chain."""
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    return [node.id, *parts[::-1]] if isinstance(node, ast.Name) else []


def _aliases(tree, module: str, is_pkg: bool, modules: set[str]) -> dict:
    """alias -> {("mod", module)} or {("name", module, name)}."""
    out: dict[str, set] = {}
    here = module.split(".") if is_pkg else module.split(".")[:-1]
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                # ``import a.b`` binds ``a``; ``import a.b as x`` binds a.b
                bound = a.asname or a.name.split(".")[0]
                target = a.name if a.asname else bound
                out.setdefault(bound, set()).add(("mod", target))
        elif isinstance(node, ast.ImportFrom):
            src = node.module or ""
            if node.level:
                base = here[: len(here) - node.level + 1]
                src = ".".join(base + ([node.module] if node.module else []))
            for a in node.names:
                sub = f"{src}.{a.name}"
                target = ("mod", sub) if sub in modules else ("name", src, a.name)
                out.setdefault(a.asname or a.name, set()).add(target)
    return out


def reachability() -> tuple[dict[str, _Module], set[tuple[str, str]]]:
    """(package modules, the (module, name) pairs reachable from roots)."""
    paths = glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)
    names = {_module_name(p) for p in paths}
    mods = {m.name: m for m in (_Module(p, names) for p in paths)}

    def defined(module: str, name: str) -> set[tuple[str, str]]:
        m = mods.get(module)
        if m is None:
            return set()
        if name in m.defs:
            return {(module, name)}
        found = set()  # a package re-export: follow it to its definition
        for kind, *rest in m.aliases.get(name, ()):
            if kind == "name":
                found |= defined(*rest)
        return found

    def refs(nodes, aliases: dict, module: _Module | None) -> set:
        found = set()
        for top in nodes:
            for node in ast.walk(top):
                chain = _dotted(node)
                if not chain:
                    continue
                if module is not None and chain[0] in module.defs:
                    found.add((module.name, chain[0]))
                    continue
                for kind, *rest in aliases.get(chain[0], ()):
                    if kind == "name":
                        found |= defined(*rest)
                        continue
                    target, tail = rest[0], chain[1:]
                    while tail and f"{target}.{tail[0]}" in mods:
                        target, tail = f"{target}.{tail[0]}", tail[1:]
                    if tail:
                        found |= defined(target, tail[0])
        return found

    frontier = set()
    for m in mods.values():
        frontier |= {(m.name, n) for n in m.registered}
        frontier |= refs(m.on_import, m.aliases, m)
    for pattern in ROOT_GLOBS:
        for path in glob.glob(os.path.join(REPO, pattern)):
            if os.path.basename(path).startswith("test_"):
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read())
            frontier |= refs([tree], _aliases(tree, "__main__", False, names), None)
    live: set[tuple[str, str]] = set()
    while frontier:
        key = frontier.pop()
        if key not in live:
            live.add(key)
            m = mods[key[0]]
            frontier |= refs(m.defs[key[1]], m.aliases, m) - live
    return mods, live


def test_every_package_name_is_reachable():
    mods, live = reachability()
    unreached = {
        (m.rel, n) for m in mods.values() for n in m.defs if (m.name, n) not in live
    }
    rogue = unreached - set(UNREACHED_OK)
    assert not rogue, (
        "package names that no query, pipeline, DAG, tool or benchmark "
        "reaches — delete them with their tests, or justify them here: "
        + ", ".join(f"{p}:{n}" for p, n in sorted(rogue))
    )
    stale = set(UNREACHED_OK) - unreached
    assert not stale, f"allowlist entries reachable or gone: {sorted(stale)}"


def unused_imports(src: str) -> list[str]:
    """Names bound by the module-level imports of ``src`` that nothing in
    it reads (``import a.b`` binds ``a``; ``__future__`` is skipped)."""
    tree = ast.parse(src)
    bound = []
    for node in tree.body:
        if isinstance(node, ast.Import):
            bound += [a.asname or a.name.split(".")[0] for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            bound += [a.asname or a.name for a in node.names if a.name != "*"]
    read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return [name for name in bound if name not in read]


def test_unused_import_scanner_flags_seeded_counterexamples():
    src = (
        "from __future__ import annotations\n"
        "import math\n"
        "import os.path\n"
        "from pyspark.sql import functions as F, Window\n"
        "def f(x: Window):\n"
        "    return os.path.join(x)\n"
    )
    assert unused_imports(src) == ["math", "F"]


def test_no_unused_test_imports():
    unused = set()
    for path in sorted(glob.glob(os.path.join(REPO, "tests", "*.py"))):
        rel = os.path.basename(path)
        with open(path) as f:
            unused |= {(rel, name) for name in unused_imports(f.read())}
    rogue = unused - set(UNUSED_TEST_IMPORT_OK)
    assert not rogue, (
        "test modules import names they never use — delete the import, "
        "or justify it here: "
        + ", ".join(f"{p}:{n}" for p, n in sorted(rogue))
    )
    stale = set(UNUSED_TEST_IMPORT_OK) - unused
    assert not stale, f"allowlist entries used or gone: {sorted(stale)}"
