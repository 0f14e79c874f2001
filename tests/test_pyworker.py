"""Spark's Python workers run from ``sdc_mapreduce_spark.pyworker``: on the
unpacked pyspark, with no archive importer for ``invalidate_caches()`` to
re-read on every task, and importable whatever the driver's cwd."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

from sdc_mapreduce_spark.pyworker import unpacked_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_load_pyspark_from_a_directory_with_no_archive_importer(spark):
    def report(batches):
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        zipimporters = [
            key
            for key, importer in sys.path_importer_cache.items()
            if isinstance(importer, zipimport.zipimporter)
        ]
        yield pd.DataFrame(
            {
                "daemon": [os.path.basename(sys.argv[0])],
                "pyspark_file": [pyspark.__file__],
                "zipimporters": [" ".join(zipimporters)],
            }
        )

    rows = (
        spark.range(4)
        .repartition(2)
        .mapInPandas(report, "daemon string, pyspark_file string, zipimporters string")
        .collect()
    )
    assert len(rows) == 2
    for r in rows:
        assert r.daemon == "pyworker.py", r
        assert os.path.isfile(r.pyspark_file), r  # not a path inside a zip
        assert r.zipimporters == "", r


def _package(root, name, version=None):
    pkg = root / name
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    if version is not None:
        (pkg / "version.py").write_text(f"__version__: str = '{version}'\n")
    return str(root)


def _zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)
    return str(path)


def test_archives_stay_unless_the_same_pyspark_is_unpacked(tmp_path, monkeypatch):
    # keep the zipimporters these lookups create out of this process's cache
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    lib = tmp_path / "lib"
    lib.mkdir()
    archives = [
        _zip(
            lib / "pyspark.zip",
            {"pyspark/__init__.py": "", "pyspark/version.py": "__version__ = '4.1.2'\n"},
        ),
        _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _zip(lib / "spark-core_2.13-4.1.2.jar", {"META-INF/MANIFEST.MF": ""}),
    ]
    # a jar shipped with spark.submit.pyFiles that carries Python code
    shipped = _zip(tmp_path / "graphframes-0.8.4.jar", {"graphframes/__init__.py": ""})
    same = tmp_path / "same"
    _package(same, "pyspark", "4.1.2")
    _package(same, "py4j")
    other = tmp_path / "other"
    _package(other, "pyspark", "4.0.0")
    _package(other, "py4j")
    no_py4j = tmp_path / "no_py4j"
    _package(no_py4j, "pyspark", "4.1.2")
    empty = tmp_path / "empty"
    empty.mkdir()

    path = [str(tmp_path / "cwd"), *archives, shipped, str(same)]
    assert unpacked_path(path) == [str(tmp_path / "cwd"), shipped, str(same)]
    for site in (empty, other, no_py4j):
        path = [*archives, str(site)]
        assert unpacked_path(path) is path, site
    path = [str(same)]
    assert unpacked_path(path) is path


def test_pandas_udf_runs_when_the_driver_cwd_is_outside_the_repo(tmp_path):
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
import pandas as pd
from pyspark.sql.functions import pandas_udf
from sdc_mapreduce_spark.session import get_spark

spark = get_spark("cwd-probe", master="local[1]", shuffle_partitions=1)

@pandas_udf("string")
def daemon_of(ids: pd.Series) -> pd.Series:
    import os
    return ids.map(lambda i: f"{{i}} {{os.path.basename(sys.argv[0])}}")

print(sorted(r[0] for r in spark.range(3).select(daemon_of("id")).collect()))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == str(
        [f"{i} pyworker.py" for i in range(3)]
    )
