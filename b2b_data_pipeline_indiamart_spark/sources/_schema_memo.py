"""Per-file-version schema memo shared by the file sources.

``spark.read.parquet(path)`` runs a footer-reading Spark job, and a CSV
read with ``header`` / ``inferSchema`` runs two, before either returns a
DataFrame. ``read`` infers on the first read of a path, keeps the
schema, and hands it back through ``spark.read.schema(...)`` on later
reads of the same file version: no inference, no job. Only the schema
is reused. Every read still builds a fresh DataFrame (its own attribute
ids, so two loads of one table self-join without ``df["col"]``
ambiguity) over a fresh file index (no stale listing in a long-lived
session).

There is one entry per (format, reader options, path). An entry belongs
to one Spark application and one file version: the path's modification
time plus its content length and file count, two Hadoop-FS metadata
calls that work on any URI and never iterate files in Python. A read
under another application or of another version replaces the entry.
The entry also carries the version's byte length and the scan's
partition count per ``defaultParallelism``, for the catalog's size gate
and fact-scan parallelism.

Session confs that change what inference returns (``nanosAsLong`` for
the events table) are not part of the key: each caller sets them the
same way before every read of its paths.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@dataclass
class _Entry:
    #: (application id, modification time ms, length, file count)
    stamp: tuple
    length: int
    schema: StructType | None = None
    #: scan partition count by defaultParallelism
    partitions: dict[int, int] = field(default_factory=dict)


_entries: dict[tuple, _Entry] = {}


def file_entry(
    spark: SparkSession, fmt: str, path: str, options: tuple = ()
) -> _Entry:
    """The memo entry for the current version of ``path``."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    summary = fs.getContentSummary(jpath)
    length = int(summary.getLength())
    stamp = (
        sc.applicationId,
        int(fs.getFileStatus(jpath).getModificationTime()),
        length,
        int(summary.getFileCount()),
    )
    key = (fmt, options, path)
    entry = _entries.get(key)
    if entry is None or entry.stamp != stamp:
        entry = _entries[key] = _Entry(stamp, length)
    return entry


def read(
    spark: SparkSession, fmt: str, path: str, options: tuple = ()
) -> DataFrame:
    """``spark.read.format(fmt).options(...).load(path)``, inferring the
    schema only on the first read of this file version. ``options`` is
    a tuple of ``(name, value)`` pairs (part of the memo key). The
    version is taken before the read, so a file replaced in between
    leaves a stale stamp that the next read re-infers past."""
    reader = spark.read.format(fmt).options(**dict(options))
    try:
        entry = file_entry(spark, fmt, path, options)
    except Py4JJavaError:
        # a glob pattern or a missing path has no file status: read it
        # unmemoized, and let the reader resolve it or raise its own error
        return reader.load(path)
    if entry.schema is None:
        df = reader.load(path)
        entry.schema = df.schema
        return df
    return reader.schema(entry.schema).load(path)
