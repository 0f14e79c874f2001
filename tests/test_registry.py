"""Registry health: pure-import tests that need no SparkSession.

Round-7 postmortem coverage: a module-level error in one query module
(e.g. an f-string using a constant defined below it) used to raise at
``import sdc_mapreduce_spark.queries`` and zero the whole driver contract.
The package now quarantines bad modules instead of dying; these tests make
the quarantine loud in CI while the driver keeps its window.
"""

from __future__ import annotations

import ast
import pathlib
import subprocess
import sys


def test_queries_package_imports_cleanly():
    """The canonical smoke: a fresh interpreter must import the registry
    (module-level f-strings evaluate here, so use-before-definition bugs
    surface even when this pytest process already holds a cached import)."""
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sdc_mapreduce_spark.queries as q; "
            "assert not q.IMPORT_QUARANTINE, q.IMPORT_QUARANTINE; "
            "print(len(q.REGISTRY))",
        ],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert int(proc.stdout.strip()) >= 200


def test_import_quarantine_is_empty():
    import sdc_mapreduce_spark.queries as q

    assert q.IMPORT_QUARANTINE == {}, list(q.IMPORT_QUARANTINE)


# Operators whose code changed since their consumers were last certified;
# every query whose query function reaches one of them must sit in CERT_HEAD.
_CHANGED_OPERATORS = frozenset({"min_label_propagation"})


_REPO = pathlib.Path(__file__).resolve().parents[1]
_PACKAGE = "sdc_mapreduce_spark"
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _production_files() -> list[pathlib.Path]:
    """The files whose code runs in production: the package, the bench,
    the benchmark harness, the tools and __spark_entry__.py."""
    return [
        *sorted((_REPO / _PACKAGE).rglob("*.py")),
        _REPO / "bench.py",
        _REPO / "__spark_entry__.py",
        *(p for p in sorted((_REPO / "perfbench").glob("*.py")) if not p.name.startswith("test_")),
        *sorted((_REPO / "tools").glob("*.py")),
    ]


def _module_name(path: pathlib.Path) -> str:
    parts = path.relative_to(_REPO).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _in_package(node: str) -> bool:
    return node.partition(":")[0].partition(".")[0] == _PACKAGE


def _units(tree: ast.Module):
    """(name, statement) per top-level unit: each function, each class (one
    unit holding all of its methods) and each name bound by a plain
    assignment; every other module-level statement is the unit ''."""
    for stmt in tree.body:
        targets = (
            stmt.targets if isinstance(stmt, ast.Assign)
            else [stmt.target] if isinstance(stmt, ast.AnnAssign)
            else []
        )
        if isinstance(stmt, _DEFS):
            yield stmt.name, stmt
        elif targets and all(isinstance(t, ast.Name) for t in targets):
            for t in targets:
                yield t.id, stmt
        else:
            yield "", stmt


def _call_graph() -> dict[str, set[str]]:
    """Node ``module:name`` -> the nodes it references, over the production
    files (``module:`` is the module's loose top-level code). A bare name
    resolves through its module's own units and ``from ... import``s, as
    Python scoping does; an attribute ``x.name`` resolves to every package
    unit called ``name``, so method calls and module-attribute calls
    over-approximate. Text inside string constants is not a reference."""
    trees = {_module_name(p): ast.parse(p.read_text()) for p in _production_files()}
    units = {mod: list(_units(tree)) for mod, tree in trees.items()}
    nodes = {f"{mod}:{name}" for mod, us in units.items() for name, _ in us}
    imports = {
        mod: {
            alias.asname or alias.name: (sub.module, alias.name)
            for sub in ast.walk(tree)
            if isinstance(sub, ast.ImportFrom)
            for alias in sub.names
        }
        for mod, tree in trees.items()
    }
    by_name: dict[str, set[str]] = {}
    for node in nodes:
        if _in_package(node):
            by_name.setdefault(node.partition(":")[2], set()).add(node)

    def resolve(mod: str, name: str) -> set[str]:
        if f"{mod}:{name}" in nodes:
            return {f"{mod}:{name}"}
        if name in imports.get(mod, {}):
            return resolve(*imports[mod][name])
        return set()

    graph: dict[str, set[str]] = {node: set() for node in nodes}
    for mod, us in units.items():
        for name, stmt in us:
            refs = graph[f"{mod}:{name}"]
            for sub in ast.walk(stmt):
                if isinstance(sub, ast.Name):
                    refs |= resolve(mod, sub.id)
                elif isinstance(sub, ast.Attribute):
                    refs |= by_name.get(sub.attr, set())
    return graph


def _reached(graph: dict[str, set[str]], roots) -> set[str]:
    seen, stack = set(), list(roots)
    while stack:
        node = stack.pop()
        if node not in seen:
            seen.add(node)
            stack.extend(graph.get(node, ()))
    return seen


def _query_node(spec) -> str:
    return f"{spec.fn.__module__}:{spec.fn.__name__}"


def _reaches(graph: dict[str, set[str]], start: str, targets) -> bool:
    """Whether node ``start`` reaches a unit whose bare name is in ``targets``."""
    return any(node.partition(":")[2] in targets for node in _reached(graph, [start]))


def test_registered_builders_run_the_streaming_operators():
    """Each shared streaming operator of streaming/events.py is reached by
    a registered query function, so the streaming certifications run the
    library operators rather than inline copies of their plans."""
    import sdc_mapreduce_spark.queries as q

    graph = _call_graph()
    unreached = [
        op
        for op in (
            "tumbling_counts",
            "sliding_counts",
            "session_aggregate",
            "streaming_dedup",
            "stateful_user_totals",
            "stream_stream_error_purchase_join",
        )
        if not any(_reaches(graph, _query_node(spec), {op}) for spec in q.REGISTRY.values())
    ]
    assert not unreached, unreached


# Public package functions that no production file calls, each with the
# reason it stays.
_USER_CODE_CONTRACT = (
    "the reference's user-code contract (Python mapper and reducer around "
    "a shuffle); test_reference_golden.py reproduces its word count through it"
)
_NO_PRODUCTION_CALLER = {
    "sdc_mapreduce_spark.mapreduce:map_reduce": _USER_CODE_CONTRACT,
    "sdc_mapreduce_spark.mapreduce:python_word_mapper": _USER_CODE_CONTRACT,
    "sdc_mapreduce_spark.mapreduce:python_sum_reducer": _USER_CODE_CONTRACT,
}


def test_every_public_package_function_has_a_production_caller():
    """Each public top-level function of the package is reached from a
    production root (a registered query, module-level code, bench.py,
    perfbench, tools, __spark_entry__) or is allow-listed with a reason,
    so no operator keeps an alternate implementation only tests call."""
    import sdc_mapreduce_spark.queries as q

    graph = _call_graph()
    defs: dict[str, ast.stmt] = {
        f"{_module_name(path)}:{stmt.name}": stmt
        for path in _production_files()
        for stmt in ast.parse(path.read_text()).body
        if isinstance(stmt, _DEFS)
    }
    # Module-level code runs on import; outside the package, all code is
    # production code.
    roots = {
        node
        for node in graph
        if node not in defs or not _in_package(node)
    } | {_query_node(spec) for spec in q.REGISTRY.values()}
    reached = _reached(graph, roots)
    public = {
        node
        for node, stmt in defs.items()
        if _in_package(node)
        and not isinstance(stmt, ast.ClassDef)
        and not stmt.name.startswith("_")
    }
    assert all(_NO_PRODUCTION_CALLER.values())
    stale = set(_NO_PRODUCTION_CALLER) - (public - reached)
    assert not stale, f"allow-listed but reached or gone: {sorted(stale)}"
    unreached = public - reached - set(_NO_PRODUCTION_CALLER)
    assert not unreached, "no production caller:\n" + "\n".join(sorted(unreached))


def test_every_registered_query_is_prioritized():
    """The registry order must stay total: CERT_HEAD is duplicate-free,
    fully registered and leads the registry, and everything after it keeps
    module (_MODULE_ORDER / QUERIES) order, so re-sequencing can never
    silently drop or duplicate a query."""
    import importlib

    import sdc_mapreduce_spark.queries as q

    head = list(q.CERT_HEAD)
    assert len(head) == len(set(head)), "duplicate names in CERT_HEAD"
    assert set(head) <= set(q.REGISTRY), set(head) - set(q.REGISTRY)
    names = list(q.REGISTRY)
    assert names[: len(head)] == head
    module_order = [
        name
        for mod in q._MODULE_ORDER
        for name in importlib.import_module(f"{q.__name__}.{mod}").QUERIES
    ]
    assert names[len(head) :] == [n for n in module_order if n not in head]


def test_window_head_is_the_r14_plan():
    """The oracle check's certification window is the first 50 registry
    entries (tools/check_oracle.py --head 50). CERT_HEAD must fit inside
    it, and every query whose query function reaches a changed operator
    must be in CERT_HEAD, so the window covers the changed code."""
    import sdc_mapreduce_spark.queries as q

    head = list(q.CERT_HEAD)
    assert len(head) <= 50
    assert list(q.REGISTRY)[: len(head)] == head

    graph = _call_graph()
    reaching = {
        name
        for name, spec in q.REGISTRY.items()
        if _reaches(graph, _query_node(spec), _CHANGED_OPERATORS)
    }
    assert reaching, "call graph found no consumer of the changed operators"
    assert reaching <= set(head), sorted(reaching - set(head))


def test_entrypoint_contract():
    """__spark_entry__ exposes queries()/oracle_sql() with aligned keys."""
    import __spark_entry__ as e

    queries = e.queries()
    oracles = e.oracle_sql()
    assert set(oracles) <= set(queries)
    assert all(callable(f) for f in queries.values())
    assert all(isinstance(s, str) and s.strip() for s in oracles.values())
