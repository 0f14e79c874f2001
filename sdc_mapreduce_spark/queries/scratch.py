"""Scratch storage for query builders that answer from files or streams
they write themselves.

Such a builder writes its input to temporary directories, runs a batch or
streaming job over them, and returns the small answer as a DataFrame over
driver-held rows. ``scratch`` owns that whole lifecycle, so every builder
fails the same loud way and leaves nothing behind:

    with scratch(spark) as s:
        src, ckpt = s.dir(), s.dir()
        ...
        s.run(writer.option("checkpointLocation", ckpt).start())
        return s.local(result)

On exit, on success and on error alike, it stops every query it was handed
that is still active, drops the memory-sink views it created, and only then
removes its directories.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

# Every streaming builder drains a bounded replay (availableNow or an
# explicit drain), so a query still running after this long has stalled.
AWAIT_S = 300


class Scratch:
    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self._dirs: list[str] = []
        self._queries: list[StreamingQuery] = []
        self._views: list[str] = []

    def dir(self) -> str:
        """A fresh empty directory, removed on exit."""
        path = tempfile.mkdtemp(prefix="sdcms_")
        self._dirs.append(path)
        return path

    def track(self, query: StreamingQuery) -> StreamingQuery:
        """Hand a started query to the scope, which stops it on exit if it
        is still active."""
        self._queries.append(query)
        return query

    def run(self, query: StreamingQuery) -> None:
        """Wait for a started query to finish. A failed query raises its
        StreamingQueryException; one still active after AWAIT_S is stopped
        and raises TimeoutError, so a partial sink is never read as the
        answer."""
        self.track(query)
        if not query.awaitTermination(AWAIT_S):
            query.stop()
            raise TimeoutError(
                f"streaming query {query.name or query.id} still active "
                f"after {AWAIT_S}s"
            )

    def memory(self, writer: DataStreamWriter) -> DataFrame:
        """Run ``writer`` into a uniquely named memory sink and return the
        sink's rows as a local DataFrame. The sink's view is dropped on
        exit."""
        name = f"sdcms_sink_{uuid.uuid4().hex[:8]}"
        self._views.append(name)
        self.run(writer.format("memory").queryName(name).start())
        return self.local(self.spark.table(name))

    def land(self, df: DataFrame, fmt: str, dest: str, name: str) -> None:
        """Add ``df`` to a file-stream source directory as ``fmt`` files
        named ``<name>_<i><ext>``. The source lists ``dest`` itself and
        would not descend into a Spark output directory, so the write goes
        to a scratch directory and its part files are copied in flat."""
        out = self.dir()
        df.write.mode("overwrite").format(fmt).save(out)
        for i, part in enumerate(sorted(glob.glob(os.path.join(out, "part-*")))):
            ext = os.path.splitext(part)[1]
            shutil.copy(part, os.path.join(dest, f"{name}_{i}{ext}"))

    def local(self, df: DataFrame) -> DataFrame:
        """Collect ``df`` and rebuild it over the driver-held rows, so the
        result stays valid after the scratch directories are gone."""
        return self.spark.createDataFrame(df.collect(), schema=df.schema)


@contextmanager
def scratch(spark: SparkSession) -> Iterator[Scratch]:
    s = Scratch(spark)
    try:
        yield s
    finally:
        for query in s._queries:
            if query.isActive:
                query.stop()
        for name in s._views:
            spark.catalog.dropTempView(name)
        for path in s._dirs:
            shutil.rmtree(path, ignore_errors=True)
