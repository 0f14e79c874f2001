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
_CHANGED_OPERATORS = frozenset(
    {"min_label_propagation", "near_dup_clusters", "sessionize_auto"}
)


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
    """(name, statement) per top-level unit: each function, each class and
    each name bound by a plain assignment; every other module-level
    statement is the unit ''."""
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


def _methods(cls: ast.ClassDef):
    return [s for s in cls.body if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef))]


def _all_units(tree: ast.Module):
    """_units plus one unit ``Cls.name`` per method of each top-level class."""
    for name, stmt in _units(tree):
        yield name, stmt
        if isinstance(stmt, ast.ClassDef):
            for m in _methods(stmt):
                yield f"{name}.{m.name}", m


def _framework_methods(mod: str, cls: ast.ClassDef) -> set[str]:
    """The methods of a package class that code outside the package calls
    by name: dunders, overrides of an attribute of an external base (the
    PySpark DataSource API, socketserver) and the ``do_<COMMAND>`` handlers
    BaseHTTPRequestHandler dispatches to."""
    import importlib
    from http.server import BaseHTTPRequestHandler

    live = getattr(importlib.import_module(mod), cls.name)
    external = [b for b in live.__mro__[1:] if not b.__module__.startswith(_PACKAGE)]
    return {
        m.name
        for m in _methods(cls)
        if m.name.startswith("__")
        or any(hasattr(b, m.name) for b in external)
        or (m.name.startswith("do_") and issubclass(live, BaseHTTPRequestHandler))
    }


def _parsed_production_files() -> dict[str, ast.Module]:
    return {_module_name(p): ast.parse(p.read_text()) for p in _production_files()}


def _name_resolution(trees: dict[str, ast.Module], nodes: set[str]):
    """(resolve, by_name) over ``nodes``: ``resolve(mod, name)`` is the node
    a bare name in module ``mod`` denotes, through the module's own units
    and ``from ... import``s as Python scoping does; ``by_name[name]`` is
    every package node, function or method, called ``name``, which an
    attribute ``x.name`` matches (so method and module-attribute calls
    over-approximate)."""
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
            by_name.setdefault(node.partition(":")[2].rpartition(".")[2], set()).add(node)

    def resolve(mod: str, name: str) -> set[str]:
        if f"{mod}:{name}" in nodes:
            return {f"{mod}:{name}"}
        if name in imports.get(mod, {}):
            return resolve(*imports[mod][name])
        return set()

    return resolve, by_name


def _call_graph() -> dict[str, set[str]]:
    """Node ``module:name`` (``module:Cls.name`` for a method) -> the nodes
    it references, over the production files (``module:`` is the module's
    loose top-level code); names resolve as in _name_resolution. A class
    references its own body outside its methods and the methods
    _framework_methods names. Text inside string constants is not a
    reference."""
    trees = _parsed_production_files()
    units = {mod: list(_all_units(tree)) for mod, tree in trees.items()}
    nodes = {f"{mod}:{name}" for mod, us in units.items() for name, _ in us}
    resolve, by_name = _name_resolution(trees, nodes)
    graph: dict[str, set[str]] = {node: set() for node in nodes}
    for mod, us in units.items():
        for name, stmt in us:
            node = f"{mod}:{name}"
            body = [stmt]
            if isinstance(stmt, ast.ClassDef):
                methods = _methods(stmt)
                body = [*stmt.bases, *stmt.keywords, *stmt.decorator_list]
                body += [s for s in stmt.body if s not in methods]
                if _in_package(node):
                    graph[node] |= {f"{node}.{m}" for m in _framework_methods(mod, stmt)}
            for sub in (n for part in body for n in ast.walk(part)):
                if isinstance(sub, ast.Name):
                    graph[node] |= resolve(mod, sub.id)
                elif isinstance(sub, ast.Attribute):
                    graph[node] |= by_name.get(sub.attr, set())
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


def _public_callables(trees: dict[str, ast.Module]) -> dict[str, ast.FunctionDef]:
    """Node -> definition for each public function and public method of the
    package (``__init__`` counts as public), less the methods code outside
    the package calls by name (_framework_methods)."""
    out = {}
    for mod, tree in trees.items():
        if not _in_package(mod):
            continue
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out[f"{mod}:{stmt.name}"] = stmt
            elif isinstance(stmt, ast.ClassDef):
                framework = _framework_methods(mod, stmt) - {"__init__"}
                for m in _methods(stmt):
                    if m.name not in framework:
                        out[f"{mod}:{stmt.name}.{m.name}"] = m
    return {
        node: fn
        for node, fn in out.items()
        if fn.name == "__init__" or not fn.name.startswith("_")
    }


def test_every_public_package_function_has_a_production_caller():
    """Each public function and public method of the package is reached
    from a production root (a registered query, module-level code,
    bench.py, perfbench, tools, __spark_entry__) or is allow-listed with a
    reason, so no operator keeps an alternate implementation only tests
    call. Methods that override an external base class are called by that
    framework and are not checked."""
    import sdc_mapreduce_spark.queries as q

    graph = _call_graph()
    trees = _parsed_production_files()
    defs = {
        f"{mod}:{name}"
        for mod, tree in trees.items()
        for name, stmt in _all_units(tree)
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
    public = {node for node, fn in _public_callables(trees).items() if fn.name != "__init__"}
    assert all(_NO_PRODUCTION_CALLER.values())
    stale = set(_NO_PRODUCTION_CALLER) - (public - reached)
    assert not stale, f"allow-listed but reached or gone: {sorted(stale)}"
    unreached = public - reached - set(_NO_PRODUCTION_CALLER)
    assert not unreached, "no production caller:\n" + "\n".join(sorted(unreached))


# Options that production calls leave at one value, each with the reason
# the other value stays.
_ONE_VALUE_OPTIONS = {
    "sdc_mapreduce_spark.mapreduce:map_reduce_pipe.reference_quirks": (
        "reproduces reference quirk Q1; "
        "test_mapreduce.py::test_quirk_q1_value_discard_on_synthetic_text checks it"
    ),
    "sdc_mapreduce_spark.queries.base:unit_vectors_sql.materialized": (
        "False reaches it through srp_buckets_sql's own parameter, which "
        "this guard does not follow"
    ),
    "sdc_mapreduce_spark.functions.text:heavy_hitters_twopass.k": (
        "compared with the recount's row count (len(top) == k), not a path "
        "selector: every k runs the same plan"
    ),
}
_FLAGS = (None, True, False)


def _branch_names(
    fn: ast.FunctionDef, mod: str, units, resolve, seen=frozenset()
) -> set[str]:
    """The names ``fn`` (in module ``mod``) reads in a branch condition: an
    ``if`` or ``while`` test, a conditional expression's test or a
    comprehension filter. An ``if`` whose whole body is a ``raise`` is an
    argument check, not a branch. A name passed unchanged (a bare name) to
    a module-private helper counts when the helper reads the receiving
    parameter in a branch condition, followed through further helpers."""
    tests = []
    for node in ast.walk(fn):
        if isinstance(node, ast.If):
            if not (len(node.body) == 1 and isinstance(node.body[0], ast.Raise)):
                tests.append(node.test)
        elif isinstance(node, (ast.While, ast.IfExp)):
            tests.append(node.test)
        elif isinstance(node, ast.comprehension):
            tests += node.ifs
    names = {n.id for t in tests for n in ast.walk(t) if isinstance(n, ast.Name)}
    for call in ast.walk(fn):
        if not (
            isinstance(call, ast.Call)
            and isinstance(call.func, ast.Name)
            and call.func.id.startswith("_")
        ):
            continue
        for target in resolve(mod, call.func.id) - seen:
            helper = units[target]
            if not isinstance(helper, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            params = [p.arg for p in (*helper.args.posonlyargs, *helper.args.args)]
            passed = []
            for param, arg in zip(params, call.args):
                if isinstance(arg, ast.Starred):
                    break
                passed.append((param, arg))
            passed += [(kw.arg, kw.value) for kw in call.keywords if kw.arg]
            passed = [(p, arg.id) for p, arg in passed if isinstance(arg, ast.Name)]
            if passed:
                inner = _branch_names(
                    helper, target.partition(":")[0], units, resolve, seen | {target}
                )
                names |= {name for param, name in passed if param in inner}
    return names


def _literal_params(
    fn: ast.FunctionDef, branches: set[str]
) -> dict[str, tuple[int | None, object]]:
    """Parameter name -> (positional index or None, default) for each
    parameter with a literal default, kept when the default is None, True
    or False or when the parameter is in ``branches`` (_branch_names)."""
    a = fn.args
    positional = [*a.posonlyargs, *a.args]
    first = len(positional) - len(a.defaults)
    found = [
        (p, i, d)
        for i, (p, d) in enumerate(zip(positional[first:], a.defaults), start=first)
    ]
    found += [(p, None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)]
    return {
        p.arg: (i, d.value)
        for p, i, d in found
        if isinstance(d, ast.Constant)
        and (any(d.value is f for f in _FLAGS) or p.arg in branches)
    }


def _is_default(arg: ast.expr, default) -> bool:
    return (
        isinstance(arg, ast.Constant)
        and type(arg.value) is type(default)
        and arg.value == default
    )


def _argument_sides(call: ast.Call, index: int | None, name: str, default) -> set[bool]:
    """Which sides one call takes for one parameter: True when it omits the
    argument or passes the default literal, False when it passes anything
    else; *args and **kwargs take both. ``index`` counts the call's own
    positional arguments."""
    for kw in call.keywords:
        if kw.arg == name:
            return {_is_default(kw.value, default)}
    if index is not None:
        for i, arg in enumerate(call.args):
            if isinstance(arg, ast.Starred):
                return {True, False}
            if i == index:
                return {_is_default(arg, default)}
    if any(kw.arg is None for kw in call.keywords):
        return {True, False}
    return {True}


def _calls_super(expr: ast.expr) -> bool:
    """Whether ``expr`` is ``super()``: package classes derive only from
    external classes, so ``super().m(...)`` calls no package method."""
    return (
        isinstance(expr, ast.Call)
        and isinstance(expr.func, ast.Name)
        and expr.func.id == "super"
    )


def test_every_optional_parameter_takes_both_values_in_production():
    """Each option of a public package function or method takes its default
    in some production call and another value in another, or is
    allow-listed with a reason, so no option hides a branch that no
    production call runs. An option is a parameter whose default is None,
    True or False, or another literal that the function reads in a branch
    condition or passes unchanged to a private helper that does. Calls
    match by name as in _call_graph: ``Cls(...)`` calls ``Cls.__init__``
    and ``x.m(...)`` every method named ``m``."""
    trees = _parsed_production_files()
    units = {
        f"{mod}:{name}": stmt for mod, tree in trees.items() for name, stmt in _all_units(tree)
    }
    resolve, by_name = _name_resolution(trees, set(units))
    funcs = {
        node: fn
        for node, fn in _public_callables(trees).items()
        if node not in _NO_PRODUCTION_CALLER
    }
    params = {
        node: _literal_params(
            fn, _branch_names(fn, node.partition(":")[0], units, resolve)
        )
        for node, fn in funcs.items()
    }

    def callee(node: str) -> tuple[str, int]:
        """(function node, count of leading parameters the call does not
        pass: the bound ``self`` or ``cls``) for a call of ``node``."""
        if isinstance(units[node], ast.ClassDef):
            return f"{node}.__init__", 1
        static = any(
            isinstance(d, ast.Name) and d.id == "staticmethod" for d in units[node].decorator_list
        )
        return node, int("." in node.partition(":")[2] and not static)

    sides: dict[str, set[bool]] = {}
    for mod, tree in trees.items():
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            if isinstance(call.func, ast.Name):
                targets = resolve(mod, call.func.id)
            elif isinstance(call.func, ast.Attribute) and not _calls_super(call.func.value):
                targets = by_name.get(call.func.attr, set())
            else:
                continue
            for target, bound in map(callee, targets):
                if target not in funcs:
                    continue
                for name, (index, default) in params[target].items():
                    at = None if index is None else index - bound
                    sides.setdefault(f"{target}.{name}", set()).update(
                        _argument_sides(call, at, name, default)
                    )
    options = {f"{node}.{name}" for node, names in params.items() for name in names}
    one_value = {opt for opt in options if sides.get(opt, set()) != {True, False}}
    assert all(_ONE_VALUE_OPTIONS.values())
    stale = set(_ONE_VALUE_OPTIONS) - one_value
    assert not stale, f"allow-listed but used both ways or gone: {sorted(stale)}"
    unused = one_value - set(_ONE_VALUE_OPTIONS)
    labels = {frozenset({True}): "default only", frozenset({False}): "never the default"}
    assert not unused, "optional parameters production calls leave at one value:\n" + "\n".join(
        f"{opt} ({labels.get(frozenset(sides.get(opt, ())), 'no production call')})"
        for opt in sorted(unused)
    )


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
