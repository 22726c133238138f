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
  the config, a resumed run writes the same decision rows.  The rows, not
  the file bytes: parquet-mr records each column chunk's encoding set in
  an order that varies between JVM runs, so compare decoded rows.

A partition is one Spark job, its observed write (the input schema comes
from the partition's own footer, read on the driver by
:func:`scanner.read_parquet` without a job): the decisions go
out through :func:`pipeline.write_decisions` (the bulk path's writer) with
a ``pyspark.sql.Observation`` attached, so that single job also yields the
row counts and per-class rates.  The lineage and metrics rows are built on
the driver from them and kept in two :mod:`state_store` stores, written
and read on the driver: each append is one new parquet file written under
a hidden name and renamed into place, so no job runs and no two appends
share a ``_temporary`` directory (on real object stores this maps to a
manifest commit, Iceberg's snapshot append being the production target).
Reading them back runs no job either, so a resume decides what to skip
from rows on the driver; ``run()`` compacts each store once it holds more
than :data:`state_store.COMPACT_AFTER` files, so that read stays a few
files long.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Callable, Dict, List, Optional

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import state_store
from .pipeline import PipelineConfig, decide, write_decisions
from .scanner import (_arrow_rows, _local_frame, _sql_ident, _sql_string,
                      read_parquet)
from .scrub import PII_CLASSES

# the stores' row schemas (_append adds the timestamp); the public DDL
# constants derive from them so they cannot drift
_STAMP = ("effective_timestamp", pa.timestamp("us", tz="UTC"))
_LINEAGE_ARROW = pa.schema([
    ("partition_id", pa.string()), ("status", pa.string()),
    ("rows_in", pa.int64()), ("rows_kept", pa.int64()),
    ("rows_dropped", pa.int64()), ("error", pa.string()),
    ("snapshot_id", pa.int64()), _STAMP])
_METRICS_ARROW = pa.schema([
    ("partition_id", pa.string()), ("class_name", pa.string()),
    ("score", pa.float64()), _STAMP])
_DDL = {pa.string(): "string", pa.int64(): "long", pa.float64(): "double",
        _STAMP[1]: "timestamp"}
LINEAGE_SCHEMA, METRICS_SCHEMA = (
    ", ".join(f"{f.name} {_DDL[f.type]}" for f in s)
    for s in (_LINEAGE_ARROW, _METRICS_ARROW))


def _partition_aggregates() -> List[Column]:
    """What one partition's decisions report, computed by the write itself:
    row counts for lineage, and per-class matched-row fraction + keep rate
    for metrics (scanner.py:325 score semantics).  Each is one SQL
    ``F.expr``, not a Py4J call per Column node."""
    return [F.expr(e) for e in (
        "count(1) AS rows_in",
        "coalesce(sum(CAST(keep AS INT)), 0) AS rows_kept",
        *[f"avg(CAST(coalesce(pii_counts[{_sql_string(c)}], 0) > 0 AS INT))"
          f" AS {_sql_ident(c)}" for c in PII_CLASSES],
        "avg(CAST(keep AS INT)) AS keep_rate")]


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


def _done(lineage_rows, snapshot_id: Optional[int]) -> set:
    rows = (dict(zip(_LINEAGE_ARROW.names, r)) for r in lineage_rows)
    return {r["partition_id"] for r in rows if r["status"] == "done"
            and (snapshot_id is None or r["snapshot_id"] == int(snapshot_id))}


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
    def _frame(self, path: str, schema: pa.Schema,
               key=None) -> Optional[DataFrame]:
        # ONLY a missing path means "fresh start": any other read failure
        # propagates, since swallowing it would turn a transient error
        # into a silent full reprocess (with duplicate appends)
        got = state_store.read(self.spark, path, schema, key)
        return None if got is None else _local_frame(self.spark, got[0],
                                                     schema)

    def lineage(self) -> Optional[DataFrame]:
        """Every lineage row, as a driver-local frame (no Spark job).  A
        state_dir written before snapshot-id tracking (6-column files)
        reads its snapshot_id as NULL next to the 7-column appends."""
        return self._frame(self.lineage_path, _LINEAGE_ARROW)

    def metrics(self, latest_only: bool = True) -> Optional[DataFrame]:
        """Per-(partition, class) metrics.  ``latest_only`` (default)
        keeps the newest row per key: a crash between the metrics append
        and the 'done' lineage append makes the retried partition append
        its metrics a second time, and latest-wins is what consumers
        want (the reprocessed values are authoritative and, the pipeline
        being deterministic, identical)."""
        return self._frame(self.metrics_path, _METRICS_ARROW,
                           ("partition_id", "class_name")
                           if latest_only else None)

    def _lineage_rows(self):
        """(lineage rows, the files they came from), read on the driver."""
        return state_store.read(self.spark, self.lineage_path,
                                _LINEAGE_ARROW) or ([], [])

    def completed_partitions(self, snapshot_id: Optional[int] = None) -> set:
        """Partitions with a 'done' lineage row.  With ``snapshot_id``
        given, only rows recorded against that input-table snapshot count
        (time-travel-shaped resume: when the source Iceberg/parquet table
        advances to a new snapshot, work done against older snapshots is
        stale and gets reprocessed; legacy NULL-snapshot rows likewise
        don't count).  No Spark job: the lineage rows are read and
        filtered on the driver."""
        return _done(self._lineage_rows()[0], snapshot_id)

    def _append(self, path: str, rows: list, schema: pa.Schema) -> None:
        """Append driver-side rows of ``schema`` as one parquet file,
        stamped with the driver clock as ``effective_timestamp``
        (:func:`state_store.append`: no Spark job; hidden name, then
        renamed into place)."""
        now = datetime.now(timezone.utc)
        state_store.append(self.spark, path, _arrow_rows(
            [tuple(r) + (now,) for r in rows], schema))

    def _append_lineage(self, partition_id: str, status: str, rows_in: int,
                        rows_kept: int, error: Optional[str],
                        snapshot_id: Optional[int] = None) -> None:
        row = [(partition_id, status, rows_in, rows_kept,
                rows_in - rows_kept, error,
                None if snapshot_id is None else int(snapshot_id))]
        self._append(self.lineage_path, row, _LINEAGE_ARROW)

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

        The lineage read at the start tells the run how many files the
        lineage store holds, and each partition adds one; once that is
        more than :data:`state_store.COMPACT_AFTER`, the run ends by
        compacting the lineage store and the metrics store (which grows
        by at most as many files) into one file each.

        ``snapshot_id`` pins the run to an input-table snapshot (e.g.
        ``ParquetTableFormat.current_snapshot_id`` or Iceberg's): resume
        then skips only partitions completed against the SAME snapshot,
        so advancing the source table invalidates stale work
        automatically."""
        todo = partitions if partitions is not None else list_partitions(input_path)
        lineage, files = self._lineage_rows()
        done = _done(lineage, snapshot_id)
        report = RunReport(processed=[], skipped=[], failed={})
        for part in todo:
            if part in done:
                report.skipped.append(part)
                continue
            try:
                if fail_on is not None and fail_on(part):
                    raise RuntimeError(f"injected failure for partition {part}")
                src = read_parquet(
                    self.spark, os.path.join(input_path, f"part_id={part}"))
                obs = Observation()
                write_decisions(decide(src, cfg).observe(
                    obs, *_partition_aggregates()),
                    os.path.join(output_path, f"part_id={part}"))
                seen = obs.get
                self._append(self.metrics_path,
                             [(part, c, seen[c])
                              for c in (*PII_CLASSES, "keep_rate")],
                             _METRICS_ARROW)
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
        if (len(files) + len(report.processed) + len(report.failed)
                > state_store.COMPACT_AFTER):
            for path, schema in ((self.lineage_path, _LINEAGE_ARROW),
                                 (self.metrics_path, _METRICS_ARROW)):
                state_store.compact(self.spark, path, schema)
        return report
