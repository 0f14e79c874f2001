"""Import-integrity gate for the driver contract (VERDICT r8 ask #1).

Round-7 postmortem: a module-level f-string in queries/simsearch_queries.py
referenced a constant defined BELOW it (`_FOLD_DOT` NameError), the import
of the queries package died, and BOTH BENCH_r07 and CORRECTNESS_r07 were
zeroed — the single worst failure of the project. The import quarantine
(queries/__init__.py) now degrades that to losing one module, but degraded
is still a red round for that module's queries.

This file is the fail-fast tripwire. It sorts first in the suite
(test_00_*) and does exactly what the driver does — fresh interpreter,
import `__spark_entry__` by its real path, materialize ``queries()`` AND
``oracle_sql()`` — then asserts the contract is total: nothing quarantined,
every registered entry present, every oracle a non-empty SQL string. A
deliberately injected module-level NameError anywhere in the registry makes
these assertions fail immediately (quarantine non-empty + count below
floor), before any Spark-dependent test spends minutes.

No SparkSession is created here; the gate must run in seconds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Floor, not exact pin: the registry only ever grows within a round, and an
# exact pin would make adding a query a two-file edit. A module-level import
# failure quarantines a WHOLE module (the smallest is ~10 queries), so any
# quarantine drops the count far below this floor. Raise when the registry
# grows (r11: 236).
MIN_QUERIES = 236


def test_driver_contract_materializes_in_fresh_interpreter():
    """The canonical gate: replicate the driver verbatim. A fresh
    interpreter (no cached imports from this pytest process) imports
    `__spark_entry__`, calls queries() and oracle_sql(), and walks every
    entry. Module-level SQL builders and f-strings all evaluate here."""
    probe = (
        "import sys, json; "
        f"sys.path.insert(0, {REPO!r}); "
        "import __spark_entry__ as e; "
        "import sdc_mapreduce_spark.queries as reg; "
        "q = e.queries(); o = e.oracle_sql(); "
        "bad_fn = [k for k, v in q.items() if not callable(v)]; "
        "bad_sql = [k for k, v in o.items() "
        "           if not (isinstance(v, str) and v.strip())]; "
        "print(json.dumps({'n_queries': len(q), 'n_oracles': len(o), "
        "'quarantine': sorted(reg.IMPORT_QUARANTINE), "
        "'orphan_oracles': sorted(set(o) - set(q)), "
        "'bad_fn': bad_fn, 'bad_sql': bad_sql}))"
    )
    proc = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True,
        text=True,
        timeout=180,
        cwd=REPO,
    )
    assert proc.returncode == 0, f"driver contract import died:\n{proc.stderr}"
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["quarantine"] == [], (
        "query modules quarantined at import — the r7 failure mode: "
        f"{report['quarantine']}"
    )
    assert report["n_queries"] >= MIN_QUERIES, report
    assert report["bad_fn"] == [], report["bad_fn"]
    assert report["bad_sql"] == [], report["bad_sql"]
    assert report["orphan_oracles"] == [], report["orphan_oracles"]


def test_contract_total_in_process():
    """Same assertions against this process's import, so a plain
    `pytest tests/test_00_import_integrity.py` without subprocess spawn
    still guards the contract (and gives readable diffs)."""
    sys.path.insert(0, REPO)
    import __spark_entry__ as e
    import sdc_mapreduce_spark.queries as reg

    q, o = e.queries(), e.oracle_sql()
    assert reg.IMPORT_QUARANTINE == {}, list(reg.IMPORT_QUARANTINE)
    assert len(q) >= MIN_QUERIES
    assert set(o) <= set(q)
    assert all(callable(fn) for fn in q.values())
    assert all(isinstance(s, str) and s.strip() for s in o.values())
    # bench set: non-empty, and strictly a subset of the registry
    bench = reg.bench_queries()
    assert bench and set(bench) <= set(q)


def test_injected_module_error_trips_the_gate(tmp_path):
    """Prove the gate actually fires: run the registry import against a
    copy of the package where one query module has a use-before-definition
    NameError injected at module level (the exact r7 bug shape), and assert
    the quarantine catches it — i.e. the first test above WOULD go red."""
    import shutil

    pkg_src = os.path.join(REPO, "sdc_mapreduce_spark")
    pkg_dst = tmp_path / "sdc_mapreduce_spark"
    shutil.copytree(
        pkg_src, pkg_dst, ignore=shutil.ignore_patterns("__pycache__")
    )
    victim = pkg_dst / "queries" / "text_queries.py"
    src = victim.read_text()
    victim.write_text(
        "_BROKEN = f\"{_DEFINED_BELOW} never evaluates\"\n" + src
    )
    probe = (
        "import sys, json; "
        f"sys.path.insert(0, {str(tmp_path)!r}); "
        "import sdc_mapreduce_spark.queries as reg; "
        "print(json.dumps(sorted(reg.IMPORT_QUARANTINE)))"
    )
    proc = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True,
        text=True,
        timeout=180,
        cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr
    quarantined = json.loads(proc.stdout.strip().splitlines()[-1])
    # no query module imports another (shared oracle fragments live in
    # queries/base.py), so exactly the victim quarantines.
    assert quarantined == ["text_queries"], quarantined
