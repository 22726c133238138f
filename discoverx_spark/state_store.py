"""The package's driver-side store of small append-only parquet state.

Three stores use it: the DX scan state (:meth:`scanner.ScanResult.save`),
the runner's lineage and metrics (:class:`lineage.ResumableRunner`) and
the emulated snapshot log of :class:`sources.ParquetTableFormat`.  Each
is a directory of parquet files small enough to read whole on the
driver, so no operation here runs a Spark job:

* :func:`append` adds a table as one new file, written under a hidden
  name and renamed into place;
* :func:`read` returns every row, or each key's newest
  ``effective_timestamp`` row, and the files it read;
* :func:`compact` writes the rows it read (plus new ones) as one file,
  renames it into place, and only then deletes the files it read.

Every step leaves the store readable and whole.  A crash before a rename
leaves only a hidden file, which Spark's file listing skips.  A crash
after a compaction's rename and before its deletes leaves each row in
two files, and a read keeps one of them: exact duplicate rows are
dropped, and with a key the newest row wins.  Two compactions that race
therefore never double a row either.  The files are Spark-readable
parquet, and files that Spark wrote read the same way (INT96
timestamps, a ``_SUCCESS`` marker, fewer columns than declared).

Files are listed by Spark's own file index (``InMemoryFileIndex``) and
fetched through the path's Hadoop ``FileSystem``, about four Py4J round
trips a file, so a store that only grows gets slower to read: its
writers compact it once it holds more than :data:`COMPACT_AFTER` files.
"""

from __future__ import annotations

import uuid
from datetime import datetime, timezone
from typing import Iterable, List, Optional, Sequence, Tuple

import pyarrow as pa
import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

# a read costs about 4 Py4J round trips a file (175 at 32 files, 51 for
# one); past 32 a compaction, about one read plus one append, pays for itself
COMPACT_AFTER = 32


def _hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path`` under the session's Hadoop
    configuration: the file system Spark's own reader and writer would
    use for it, looked up on the driver without a job."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return hpath.getFileSystem(conf), hpath


def _leaf_files(spark: SparkSession, path: str):
    """Spark's own file index (``InMemoryFileIndex``) listing of the
    dataset at ``path``: the leaf paths in listing order, and the index's
    path → ``FileStatus`` map in the same order.  The name filter
    (``HadoopFSUtils.shouldFilterOutPathName``: a leading ``.``, a
    leading ``_`` without ``=``, a ``._COPYING_`` suffix), the recursion
    into partition directories and the listing job for a level wider
    than ``parallelPartitionDiscovery.threshold`` are Spark's.  The JVM
    joins the leaf paths into one string, so the listing costs the same
    few Py4J round trips for one file or a thousand."""
    jvm = spark.sparkContext._jvm
    index_class = (jvm.org.apache.spark.sql.execution.datasources
                   .InMemoryFileIndex)
    none = jvm.scala.Option.empty()
    leaves = index_class(
        spark._jsparkSession,
        jvm.PythonUtils.toSeq([jvm.org.apache.hadoop.fs.Path(path)]),
        jvm.PythonUtils.toScalaMap({}), none,
        getattr(index_class, "$lessinit$greater$default$5")(),  # NoopCache
        none, none).leafFiles()
    joined = leaves.keys().mkString("\0")
    return (joined.split("\0") if joined else []), leaves


def _scala_order(p: str) -> bytes:
    """Sort key of a path string as Scala orders strings (UTF-16 code
    unit by code unit)."""
    return p.encode("utf-16-be")


def _data_files(spark: SparkSession, path: str) -> List[str]:
    """Every data file of the dataset at ``path``, as Spark's file index
    lists it (:func:`_leaf_files`), in sorted order."""
    return sorted(_leaf_files(spark, path)[0], key=_scala_order)


def _arrow_rows(rows: Sequence[Sequence], schema: pa.Schema) -> pa.Table:
    """Driver-side row tuples as an Arrow table of ``schema``."""
    cols = list(zip(*rows)) or [()] * len(schema)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
        schema=schema)


def append(spark: SparkSession, path: str, table: pa.Table) -> None:
    """Add ``table`` to the store at ``path`` as one new parquet file.
    The file is built with pyarrow and written through the path's Hadoop
    ``FileSystem`` under a hidden name, then renamed to a unique
    ``part-<uuid>.parquet``.  ``store_schema=False`` keeps the file as
    small as Spark's own (no Arrow schema in the footer)."""
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf, store_schema=False)
    name = f"part-{uuid.uuid4()}.parquet"
    fs, hdir = _hadoop_fs(spark, path)
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    tmp, dst = Path(hdir, "." + name), Path(hdir, name)
    out = fs.create(tmp, False)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    if not fs.rename(tmp, dst):
        raise IOError(f"could not rename {tmp} to {dst}")


def _fetch(fs, path, schema: pa.Schema) -> Optional[pa.Table]:
    """The file at the Hadoop ``path`` as a table of ``schema``, or None
    when it is gone.  A declared column the file lacks reads as NULL.
    Spark's INT96 timestamps, which pyarrow reads as naive
    ``timestamp[ns]`` values of the UTC instant, are cast to the declared
    type as that instant."""
    try:
        stream = fs.open(path)
    except Py4JJavaError as e:
        if (e.java_exception.getClass().getName()
                == "java.io.FileNotFoundException"):
            return None
        raise
    try:
        data = stream.readAllBytes()
    finally:
        stream.close()
    pf = pq.ParquetFile(pa.BufferReader(data))
    have = set(pf.schema_arrow.names)
    table = pf.read(columns=[f.name for f in schema if f.name in have])
    return pa.Table.from_arrays(
        [table.column(f.name).cast(f.type) if f.name in have
         else pa.nulls(table.num_rows, f.type) for f in schema],
        schema=schema)


def _key_of(schema: pa.Schema, key: Sequence[str]):
    """The function from a row of ``schema`` to its ``key`` columns."""
    idx = [schema.get_field_index(k) for k in key]
    return lambda row: tuple(row[i] for i in idx)


def read(spark: SparkSession, path: str, schema: pa.Schema,
         key: Optional[Sequence[str]] = None
         ) -> Optional[Tuple[List[tuple], List[str]]]:
    """The store at ``path`` as ``(rows, files)``, or None when the path
    does not exist.  ``rows`` are tuples of ``schema``: every distinct
    row, or with ``key`` (column names) one per key, the newest
    ``effective_timestamp`` winning; ``files`` are the data files read.

    A listed file that is gone by the time it is fetched was deleted by a
    compaction, whose file may be newer than the listing: the store is
    then listed and read again."""
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    while True:
        listed = _data_files(spark, path)
        tables = []
        for p in listed:
            table = _fetch(fs, Path(p), schema)
            if table is None:
                break
            tables.append(table)
        else:
            break
    table = pa.concat_tables(tables) if tables else _arrow_rows([], schema)
    rows = list(dict.fromkeys(zip(*(c.to_pylist() for c in table.columns))))
    if key is None:
        return rows, listed
    key_of = _key_of(schema, key)
    ts = schema.get_field_index("effective_timestamp")
    oldest = datetime.min.replace(tzinfo=timezone.utc)  # a NULL stamp
    newest = {}
    for row in rows:
        have = newest.get(key_of(row))
        if have is None or (row[ts] or oldest) >= (have[ts] or oldest):
            newest[key_of(row)] = row
    return list(newest.values()), listed


def compact(spark: SparkSession, path: str, schema: pa.Schema,
            key: Optional[Sequence[str]] = None,
            rows: Iterable[Sequence] = ()) -> None:
    """Rewrite the store at ``path`` as one file: the rows :func:`read`
    returns, plus ``rows``, which with a ``key`` replace the rows of
    their keys (a MERGE upsert).  The new file is renamed into place
    (:func:`append`) before the files read are deleted, so a crash at
    any point leaves every row readable, and a file that another writer
    added meanwhile is not touched.  A store with no file and no new
    rows is left as it is."""
    new = [tuple(r) for r in rows]
    old, listed = read(spark, path, schema, key) or ([], [])
    if not listed and not new:
        return
    if key is not None:
        key_of = _key_of(schema, key)
        replaced = {key_of(r) for r in new}
        old = [r for r in old if key_of(r) not in replaced]
    append(spark, path, _arrow_rows(list(dict.fromkeys(old + new)), schema))
    fs, _ = _hadoop_fs(spark, path)
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    for p in listed:
        fs.delete(Path(p), False)
