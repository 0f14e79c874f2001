"""Spark's Python daemon, run on the unpacked pyspark.

Spark starts it as ``python -m sdc_mapreduce_spark.pyworker [worker
module]`` (``spark.python.daemon.module`` in ``session.DEFAULT_CONF``) and
forks one worker from it per Python task slot. Before ``pyspark.daemon``
takes over it takes Spark's archives off ``sys.path``.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
``spark-core`` jar (which holds no ``.py`` file) first on every worker's
path, so pyspark loads from the zip. ``pyspark.worker_util.
setup_spark_files`` calls ``importlib.invalidate_caches()`` once per task,
and on CPython 3.11 that makes every cached ``zipimporter`` re-read its
whole archive directory: 16 of them per worker, about 0.24 s per task
against kernels that run in milliseconds. With the archives gone the call
only touches directory finders. The path is left as Spark set it unless
the same pyspark version, and py4j, import from a directory on what
remains (``unpacked_path``). Any other archive on the path (a jar or zip
shipped with ``spark.submit.pyFiles``) stays.

``pyspark.daemon`` is only imported after the path is settled, and the
package ``__init__`` imports nothing, so nothing here loads from an
archive first.
"""

from __future__ import annotations

import os
import re
import sys
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""")


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
        or (name.startswith("spark-core_") and name.endswith(".jar"))
    )


def _pyspark_version(path: list[str]) -> str | None:
    """Version of the pyspark that ``path`` imports, read from its
    ``version.py`` without importing it (directory or archive alike)."""
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations:
        return None
    version_py = os.path.join(spec.submodule_search_locations[0], "version.py")
    try:
        source = spec.loader.get_data(version_py).decode()
    except OSError:
        return None
    m = _VERSION.search(source)
    return m.group(1) if m else None


def unpacked_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives (``pyspark.zip``, ``py4j-*.zip``,
    ``spark-core_*.jar``) when the remaining entries import the same
    pyspark version and a py4j; otherwise ``path`` itself, unchanged."""
    rest = [p for p in path if not _is_spark_archive(p)]
    if len(rest) == len(path):
        return path
    shipped = _pyspark_version(path)
    if (
        shipped is None
        or _pyspark_version(rest) != shipped
        or PathFinder.find_spec("py4j", rest) is None
    ):
        return path
    return rest


def _drop_archives() -> None:
    path = unpacked_path(sys.path)
    if path is sys.path:
        return
    dropped = tuple(filter(_is_spark_archive, sys.path))
    sys.path[:] = path
    # Importers cached for the archives (and any package inside them)
    # would still be walked by every invalidate_caches().
    under = tuple(p + os.sep for p in dropped)
    for key in list(sys.path_importer_cache):
        if key in dropped or key.startswith(under):
            del sys.path_importer_cache[key]


def main() -> None:
    _drop_archives()
    # Imports the worker module (argv[1], default pyspark.worker).
    import pyspark.daemon

    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
