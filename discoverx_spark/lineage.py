"""Per-partition lineage, metrics, and resumable execution.

Reference analogs: the persisted+resumable scan state of
``/root/reference/discoverx/scanner.py:78-126`` (results table with
``effective_timestamp``, MERGE upsert) and the per-unit error isolation of
``scanner.py:241-243`` (a failed unit records its error and the scan
continues).  Re-targeted at partitions of one huge table per SURVEY §7 M4:

* ``lineage`` table — one row per (partition, run): status done/failed,
  row counts, error text, effective_timestamp.  Timestamps appear ONLY
  here, never in decision logic (determinism invariant, SURVEY §7 hard
  part 5).
* ``metrics`` table — per-partition per-class match fractions
  (``scanner.py:325`` score semantics: matched rows / rows).
* resume — on restart, partitions whose lineage says ``done`` are skipped;
  because every partition job is a pure function of its input split and
  the config, a resumed run produces byte-identical decisions.

A partition is one Spark job, its observed write (the run infers the
input schema once, from the first partition it reads): the decisions go
out through :func:`pipeline.write_decisions` (the bulk path's writer) with
a ``pyspark.sql.Observation`` attached, so that single job also yields the
row counts and per-class rates.  The lineage and metrics rows are built on
the driver from them and committed from the driver too, each append one
new parquet file written through the path's Hadoop ``FileSystem`` under a
hidden name and renamed into place, so no job runs and no two appends
share a ``_temporary`` directory (on real object stores this maps to a
manifest commit, Iceberg's snapshot append being the production target).
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Callable, Dict, List, Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from .pipeline import PipelineConfig, decide, write_decisions
from .scrub import PII_CLASSES

# row schemas as built by the runner (_append adds the timestamp); the
# public constants derive from them so they cannot drift
_LINEAGE_ROW_SCHEMA = ("partition_id string, status string, rows_in long, "
                       "rows_kept long, rows_dropped long, error string, "
                       "snapshot_id long")
LINEAGE_SCHEMA = _LINEAGE_ROW_SCHEMA + ", effective_timestamp timestamp"
_METRICS_ROW_SCHEMA = "partition_id string, class_name string, score double"
METRICS_SCHEMA = _METRICS_ROW_SCHEMA + ", effective_timestamp timestamp"


def _partition_aggregates() -> List[Column]:
    """What one partition's decisions report, computed by the write itself:
    row counts for lineage, and per-class matched-row fraction + keep rate
    for metrics (scanner.py:325 score semantics)."""
    keep = F.col("keep").cast("int")
    return [
        F.count(F.lit(1)).alias("rows_in"),
        F.coalesce(F.sum(keep), F.lit(0)).alias("rows_kept"),
        *[F.avg((F.coalesce(F.col("pii_counts").getItem(c), F.lit(0)) > 0)
                .cast("int")).alias(c) for c in PII_CLASSES],
        F.avg(keep).alias("keep_rate"),
    ]


def bucket_transcripts(df: DataFrame, n_buckets: int = 16) -> DataFrame:
    """Add the physical partition key: ``part_id = pmod(xxhash64(conv_id), n)``
    — conversations never straddle partitions, so per-partition processing
    keeps conv-level semantics local (no cross-partition shuffle on resume)."""
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int"))


def write_bucketed(df: DataFrame, path: str, n_buckets: int = 16,
                   mode: str = "overwrite") -> None:
    (bucket_transcripts(df, n_buckets)
     .repartition("part_id")
     .sortWithinPartitions("conv_id", "turn_idx")
     .write.mode(mode).partitionBy("part_id").parquet(path))


def list_partitions(path: str) -> List[str]:
    """Partition values from the directory layout (stand-in for an Iceberg
    partitions metadata table)."""
    out = []
    for name in sorted(os.listdir(path)):
        if name.startswith("part_id="):
            out.append(name.split("=", 1)[1])
    return out


@dataclass
class RunReport:
    processed: List[str]
    skipped: List[str]
    failed: Dict[str, str]


class ResumableRunner:
    """Checkpointed partition loop for the quality-filter pipeline."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.state_dir = state_dir
        self.lineage_path = os.path.join(state_dir, "lineage")
        self.metrics_path = os.path.join(state_dir, "metrics")

    # -- state ------------------------------------------------------------
    def lineage(self) -> Optional[DataFrame]:
        # ONLY a missing path means "fresh start" — swallowing every
        # exception here would turn a transient read failure into a
        # silent full reprocess (with duplicate lineage/metrics appends).
        # The declared schema skips footer inference, and a state_dir
        # written before snapshot-id tracking (6-column files) reads its
        # snapshot_id as NULL next to the 7-column appends.
        from .scanner import _read_parquet_if_exists

        return _read_parquet_if_exists(self.spark, self.lineage_path,
                                       schema=LINEAGE_SCHEMA)

    def metrics(self, latest_only: bool = True) -> Optional[DataFrame]:
        """Per-(partition, class) metrics.  ``latest_only`` (default)
        keeps the newest row per key: a crash between the metrics append
        and the 'done' lineage append makes the retried partition append
        its metrics a second time, and latest-wins is what consumers
        want (the reprocessed values are authoritative and, the pipeline
        being deterministic, identical)."""
        from .scanner import _read_parquet_if_exists

        m = _read_parquet_if_exists(self.spark, self.metrics_path,
                                    schema=METRICS_SCHEMA)
        if m is None:
            return None
        if latest_only:
            from pyspark.sql.window import Window
            w = Window.partitionBy("partition_id", "class_name") \
                .orderBy(F.desc("effective_timestamp"))
            m = (m.withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") == 1).drop("_rn"))
        return m

    def completed_partitions(self, snapshot_id: Optional[int] = None) -> set:
        """Partitions with a 'done' lineage row.  With ``snapshot_id``
        given, only rows recorded against that input-table snapshot count
        (time-travel-shaped resume: when the source Iceberg/parquet table
        advances to a new snapshot, work done against older snapshots is
        stale and gets reprocessed; legacy NULL-snapshot rows likewise
        don't count).  One job: the 'done' rows are collected and reduced
        on the driver."""
        lin = self.lineage()
        if lin is None:
            return set()
        done = lin.filter(F.col("status") == "done")
        if snapshot_id is not None:
            done = done.filter(F.col("snapshot_id") == int(snapshot_id))
        return {r["partition_id"] for r in done.select("partition_id").collect()}

    def _append(self, path: str, rows: list, schema: str) -> None:
        """Append driver-side rows of the DDL ``schema`` as one parquet
        file, stamped with the driver clock as ``effective_timestamp``.
        No Spark job runs: the file is built with pyarrow and written
        through the path's Hadoop ``FileSystem`` under a hidden name,
        which Spark's file listing skips, then renamed to a unique
        ``part-<uuid>.parquet``.  A crash before the rename leaves only
        the hidden file, which no read sees.  ``store_schema=False``
        keeps the file as small as Spark's own (no Arrow schema in the
        footer)."""
        from .scanner import _arrow_rows, _hadoop_fs

        fields = T.StructType.fromDDL(
            schema + ", effective_timestamp timestamp").fields
        now = datetime.now(timezone.utc)
        table = _arrow_rows(
            [tuple(r) + (now,) for r in rows],
            pa.schema([(f.name, to_arrow_type(f.dataType)) for f in fields]))
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf, store_schema=False)
        name = f"part-{uuid.uuid4()}.parquet"
        fs, hdir = _hadoop_fs(self.spark, path)
        Path = self.spark.sparkContext._jvm.org.apache.hadoop.fs.Path
        tmp, dst = Path(hdir, "." + name), Path(hdir, name)
        out = fs.create(tmp, False)
        try:
            out.write(buf.getvalue().to_pybytes())
        finally:
            out.close()
        if not fs.rename(tmp, dst):
            raise IOError(f"could not rename {tmp} to {dst}")

    def _append_lineage(self, partition_id: str, status: str, rows_in: int,
                        rows_kept: int, error: Optional[str],
                        snapshot_id: Optional[int] = None) -> None:
        row = [(partition_id, status, rows_in, rows_kept,
                rows_in - rows_kept, error,
                None if snapshot_id is None else int(snapshot_id))]
        self._append(self.lineage_path, row, _LINEAGE_ROW_SCHEMA)

    # -- execution ----------------------------------------------------------
    def run(self, input_path: str, output_path: str,
            cfg: PipelineConfig = PipelineConfig(),
            partitions: Optional[List[str]] = None,
            fail_on: Optional[Callable[[str], bool]] = None,
            snapshot_id: Optional[int] = None) -> RunReport:
        """Process every pending partition of a ``part_id=``-layout dataset:
        decisions written to ``output_path/part_id=<v>``, lineage + metrics
        appended per partition.  ``fail_on`` is a test hook injecting
        per-partition failures (error-isolation path).

        ``snapshot_id`` pins the run to an input-table snapshot (e.g.
        ``ParquetTableFormat.current_snapshot_id`` or Iceberg's): resume
        then skips only partitions completed against the SAME snapshot,
        so advancing the source table invalidates stale work
        automatically."""
        todo = partitions if partitions is not None else list_partitions(input_path)
        done = self.completed_partitions(snapshot_id)
        report = RunReport(processed=[], skipped=[], failed={})
        schema = None  # inferred by the first read, then given to the rest
        for part in todo:
            if part in done:
                report.skipped.append(part)
                continue
            try:
                if fail_on is not None and fail_on(part):
                    raise RuntimeError(f"injected failure for partition {part}")
                reader = (self.spark.read if schema is None
                          else self.spark.read.schema(schema))
                src = reader.parquet(
                    os.path.join(input_path, f"part_id={part}"))
                schema = src.schema
                obs = Observation()
                write_decisions(decide(src, cfg).observe(
                    obs, *_partition_aggregates()),
                    os.path.join(output_path, f"part_id={part}"))
                seen = obs.get
                self._append(self.metrics_path,
                             [(part, c, seen[c])
                              for c in (*PII_CLASSES, "keep_rate")],
                             _METRICS_ROW_SCHEMA)
                self._append_lineage(part, "done", seen["rows_in"],
                                     seen["rows_kept"], None, snapshot_id)
                report.processed.append(part)
            except Exception as e:  # per-partition isolation (scanner.py:241-243)
                msg = str(e)[:500]
                report.failed[part] = msg
                try:
                    self._append_lineage(part, "failed", 0, 0, msg,
                                         snapshot_id)
                except Exception:
                    pass
        return report
