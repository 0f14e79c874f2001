"""Registry health: pure-import tests that need no SparkSession.

Round-7 postmortem coverage: a module-level error in one query module
(e.g. an f-string using a constant defined below it) used to raise at
``import sdc_mapreduce_spark.queries`` and zero the whole driver contract.
The package now quarantines bad modules instead of dying; these tests make
the quarantine loud in CI while the driver keeps its window.
"""

from __future__ import annotations

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
_CHANGED_OPERATORS = frozenset({"embedding_near_pairs_blocked"})


def _package_call_graph() -> dict[str, set[str]]:
    """Top-level function name -> every name it references (calls,
    attribute accesses, bare names), over the whole package. Keyed by bare
    name, so the graph over-approximates reachability — never under."""
    import ast
    import pathlib

    import sdc_mapreduce_spark

    graph: dict[str, set[str]] = {}
    for path in pathlib.Path(sdc_mapreduce_spark.__file__).parent.rglob("*.py"):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.FunctionDef):
                refs = graph.setdefault(node.name, set())
                for sub in ast.walk(node):
                    if isinstance(sub, ast.Name):
                        refs.add(sub.id)
                    elif isinstance(sub, ast.Attribute):
                        refs.add(sub.attr)
    return graph


def _reaches(graph: dict[str, set[str]], start: str, targets) -> bool:
    seen, stack = set(), [start]
    while stack:
        name = stack.pop()
        if name in targets:
            return True
        if name not in seen:
            seen.add(name)
            stack.extend(graph.get(name, ()))
    return False


def test_registered_builders_run_the_streaming_operators():
    """Each shared streaming operator of streaming/events.py is reached by
    a registered query function, so the streaming certifications run the
    library operators rather than inline copies of their plans."""
    import sdc_mapreduce_spark.queries as q

    graph = _package_call_graph()
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
        if not any(_reaches(graph, spec.fn.__name__, {op}) for spec in q.REGISTRY.values())
    ]
    assert not unreached, unreached


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

    graph = _package_call_graph()
    reaching = {
        name
        for name, spec in q.REGISTRY.items()
        if _reaches(graph, spec.fn.__name__, _CHANGED_OPERATORS)
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
