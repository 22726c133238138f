"""Source/sink helpers (SURVEY §2.1).

Reference analogs: CSV fixture loading with explicit schema
(``tests/unit/conftest.py:129-217``), Delta MERGE upsert
(``scanner.py:103-119``), append sink with schema merge
(``delta_housekeeping.py:94-104``).  Iceberg is the production target; in
this sandbox (no Iceberg jars) everything gates down to partitioned
parquet with the same call shapes.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scanner import read_parquet


def iceberg_available(spark: SparkSession) -> bool:
    # NB: attribute access on spark._jvm never raises — py4j hands back a
    # lazy JavaPackage for any dotted name — so the class must actually be
    # resolved via Class.forName to prove the jar is on the classpath
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")
        return True  # pragma: no cover - iceberg jars absent here
    except Exception:
        return False


def read_table(spark: SparkSession, path_or_name: str,
               fmt: str = "parquet") -> DataFrame:
    """Read a table by path (parquet/csv/json) or catalog name.  A
    parquet path is :func:`~discoverx_spark.scanner.read_parquet`'s read:
    its footer is read on the driver, not in a Spark job."""
    if "/" not in path_or_name:
        return spark.read.table(path_or_name)
    if fmt == "parquet":
        return read_parquet(spark, path_or_name)
    return spark.read.format(fmt).load(path_or_name)


def read_csv(spark: SparkSession, path: str, schema: str,
             header: bool = True) -> DataFrame:
    """Explicit-schema CSV (never inferSchema — deterministic types,
    reference conftest.py:129-137 pattern)."""
    return (spark.read.option("header", str(header).lower())
            .schema(schema).csv(path))


def read_json(spark: SparkSession, path: str, schema: str) -> DataFrame:
    return spark.read.schema(schema).json(path)


def write_partitioned(df: DataFrame, path: str,
                      partition_cols: Sequence[str],
                      sort_cols: Optional[Sequence[str]] = None,
                      mode: str = "overwrite") -> None:
    """Partitioned parquet write with optional within-file ordering —
    the layout contract for partition-pruned scans at 100 TB."""
    out = df.repartition(*[F.col(c) for c in partition_cols])
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def merge_upsert(spark: SparkSession, new: DataFrame, path: str,
                 key_cols: List[str]) -> None:
    """MERGE-upsert semantics (Delta/Iceberg MERGE INTO analog,
    scanner.py:113-119): rows matching on key are replaced, others
    preserved.  Only a genuinely missing path starts fresh — any other
    read error propagates instead of silently clobbering state.

    Delegates to the :class:`~.table_format.TableFormat` facade — the
    seam where a real Iceberg MERGE INTO drops in."""
    from .table_format import DEFAULT_FORMAT

    DEFAULT_FORMAT.merge(spark, new, path, key_cols)
