"""Table-format facade: one seam between the engine and the table layer.

The production target is Iceberg (the north rule's input is an Iceberg
table of transcripts; the reference's analogs are Delta MERGE at
``/root/reference/discoverx/scanner.py:113-119`` and DESCRIBE
DETAIL/HISTORY at ``delta_housekeeping.py:106-144``).  This container has
no Iceberg/Delta jars (LIMITATIONS §2), so the default implementation is
partitioned parquet with an emulated snapshot log — but every read /
append / overwrite / merge / file-stats / snapshot call the engine makes
goes through this one interface, so a real Iceberg binding is a drop-in
second class, not a rewrite.

Snapshot emulation: each mutating operation appends one row to a
``<location>._snapshots`` parquet log kept BESIDE the table directory
(overwrites delete the table dir wholesale; Iceberg likewise keeps
metadata apart from data files).  The log is a :mod:`state_store` store,
read and appended on the driver, so recording a snapshot and asking for
the current one run no Spark job.  Snapshot ids are dense integers
assigned ``max + 1`` — the same monotonic-id contract Iceberg's metadata
gives, which is what time-travel-shaped resume in
``lineage.ResumableRunner`` keys on.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import List, Optional

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import state_store
from ..scanner import _arrow_rows, _local_frame, _read_parquet_if_exists

_SNAPSHOT_ARROW = pa.schema([("snapshot_id", pa.int64()),
                             ("operation", pa.string()),
                             ("effective_timestamp",
                              pa.timestamp("us", tz="UTC"))])


class TableFormat:
    """Interface the engine codes against.  Implementations must keep
    these contracts:

    - ``merge`` is MERGE-INTO upsert on ``key_cols`` (matched rows
      replaced, unmatched preserved) and is idempotent for identical
      inputs;
    - ``append`` tolerates schema widening (new nullable columns);
    - every mutation produces a new snapshot id visible via
      ``snapshots`` / ``current_snapshot_id``.
    """

    name = "abstract"

    def read(self, spark: SparkSession, location: str) -> DataFrame:
        raise NotImplementedError

    def append(self, df: DataFrame, location: str) -> None:
        raise NotImplementedError

    def overwrite(self, df: DataFrame, location: str) -> None:
        raise NotImplementedError

    def merge(self, spark: SparkSession, new: DataFrame, location: str,
              key_cols: List[str]) -> None:
        raise NotImplementedError

    def file_stats(self, spark: SparkSession, location: str,
                   table_name: str = "") -> DataFrame:
        raise NotImplementedError

    def snapshots(self, spark: SparkSession, location: str) -> DataFrame:
        raise NotImplementedError

    def current_snapshot_id(self, spark: SparkSession,
                            location: str) -> Optional[int]:
        snap = self.snapshots(spark, location)
        row = snap.agg(F.max("snapshot_id").alias("m")).first()
        return None if row is None or row["m"] is None else int(row["m"])


class ParquetTableFormat(TableFormat):
    """Default implementation: partitioned parquet + ``_snapshots`` log.
    Semantics-complete emulation of the Iceberg contract above; MERGE
    idempotency and append schema-merge are exercised by the
    ``merge_upsert_roundtrip`` driver oracle and test_sources."""

    name = "parquet"

    # -- snapshot log -------------------------------------------------------
    def _log_path(self, location: str) -> str:
        # sibling path, NOT inside the table dir: mode("overwrite") deletes
        # the entire output directory first, which would wipe an embedded
        # log (Iceberg keeps metadata outside the data files for the same
        # reason)
        return location.rstrip("/") + "._snapshots"

    def _log(self, spark: SparkSession, location: str):
        # ONLY a genuinely missing log means "no snapshots yet" — any
        # other read error must propagate: swallowing it would restart
        # snapshot ids at 1 and break the monotonic-id contract pinned
        # resume depends on (same policy as lineage()/merge_upsert)
        got = state_store.read(spark, self._log_path(location),
                               _SNAPSHOT_ARROW)
        return got or ([], [])

    def _record(self, spark: SparkSession, location: str, op: str) -> int:
        rows, files = self._log(spark, location)
        sid = max((r[0] for r in rows if r[0] is not None), default=0) + 1
        new = [(sid, op, datetime.now(timezone.utc))]
        log = self._log_path(location)
        # with this row's file the log would pass COMPACT_AFTER files
        if len(files) >= state_store.COMPACT_AFTER:
            state_store.compact(spark, log, _SNAPSHOT_ARROW, rows=new)
        else:
            state_store.append(spark, log, _arrow_rows(new, _SNAPSHOT_ARROW))
        return sid

    def snapshots(self, spark: SparkSession, location: str) -> DataFrame:
        return _local_frame(spark, self._log(spark, location)[0],
                            _SNAPSHOT_ARROW)

    def current_snapshot_id(self, spark: SparkSession,
                            location: str) -> Optional[int]:
        return max((r[0] for r in self._log(spark, location)[0]
                    if r[0] is not None), default=None)

    # -- data ---------------------------------------------------------------
    def read(self, spark: SparkSession, location: str) -> DataFrame:
        # mergeSchema is a READ-side option for parquet: appends may have
        # widened the schema with new nullable columns, and without it an
        # arbitrary footer's schema wins (the 'append tolerates schema
        # widening' contract would silently not hold)
        return spark.read.option("mergeSchema", "true").parquet(location)

    def append(self, df: DataFrame, location: str) -> None:
        df.write.mode("append").parquet(location)
        self._record(df.sparkSession, location, "append")

    def overwrite(self, df: DataFrame, location: str) -> None:
        df.write.mode("overwrite").parquet(location)
        self._record(df.sparkSession, location, "overwrite")

    def merge(self, spark: SparkSession, new: DataFrame, location: str,
              key_cols: List[str]) -> None:
        old = _read_parquet_if_exists(spark, location)
        if old is None:
            merged = new
        else:
            merged = old.join(new.select(*key_cols), on=key_cols,
                              how="left_anti").unionByName(
                                  new, allowMissingColumns=True)
        # localCheckpoint: the merged plan reads the files being replaced
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(
            location)
        self._record(spark, location, "merge")

    def file_stats(self, spark: SparkSession, location: str,
                   table_name: str = "") -> DataFrame:
        from .housekeeping import table_file_stats

        return table_file_stats(spark, location, table_name)


class IcebergTableFormat(TableFormat):
    """Real Iceberg binding — the production drop-in.  Requires the
    iceberg-spark-runtime jars and a configured catalog; instantiation
    fails fast where they are absent (this sandbox, LIMITATIONS §2).
    ``location`` is a catalog table identifier, not a path."""

    name = "iceberg"

    def __init__(self, spark: SparkSession):
        from .io import iceberg_available

        if not iceberg_available(spark):  # pragma: no cover - env-blocked
            raise RuntimeError(
                "Iceberg runtime not on the classpath; add "
                "iceberg-spark-runtime and a catalog config, or use "
                "ParquetTableFormat")

    # pragma-no-cover block: the calls below are the standard public
    # Iceberg-Spark surface; untestable here without the jars.
    def read(self, spark, location):  # pragma: no cover
        return spark.read.format("iceberg").load(location)

    def append(self, df, location):  # pragma: no cover
        df.writeTo(location).append()

    def overwrite(self, df, location):  # pragma: no cover
        df.writeTo(location).overwritePartitions()

    def merge(self, spark, new, location, key_cols):  # pragma: no cover
        new.createOrReplaceTempView("_merge_src")
        on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
        spark.sql(f"MERGE INTO {location} t USING _merge_src s ON {on} "
                  "WHEN MATCHED THEN UPDATE SET * "
                  "WHEN NOT MATCHED THEN INSERT *")

    def file_stats(self, spark, location, table_name=""):  # pragma: no cover
        return (spark.sql(f"SELECT * FROM {location}.files")
                .selectExpr(f"'{table_name or location}' AS table_name",
                            "partition AS partition_id",
                            "1 AS number_of_files",
                            "file_size_in_bytes AS bytes"))

    def snapshots(self, spark, location):  # pragma: no cover
        return (spark.sql(f"SELECT * FROM {location}.snapshots")
                .selectExpr("snapshot_id", "operation",
                            "committed_at AS effective_timestamp"))


DEFAULT_FORMAT = ParquetTableFormat()


def get_format(spark: SparkSession, name: str = "parquet") -> TableFormat:
    """Resolve a format by name — the single switch a deployment flips to
    go from the sandbox emulation to real Iceberg."""
    if name == "parquet":
        return DEFAULT_FORMAT
    if name == "iceberg":
        return IcebergTableFormat(spark)
    raise ValueError(f"unknown table format {name!r}")
