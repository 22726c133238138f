"""Scan-and-classify engine, DataFrame-native.

Reference semantics: ``/root/reference/discoverx/scanner.py:286-345`` emits,
per table, a 4-level nested SQL — ``stack`` all string columns to long form,
flag each row with ``INT(regexp_like(value, rule))`` per rule, ``stack``
again per rule, then ``sum(value)/count(value)`` grouped by
(column, class) — and runs one such query per table on a driver thread pool
(``scanner.py:268-276``), folding results with ``pd.concat``
(``scanner.py:281``).

Spark-first rewrite: the same score — *fraction of sampled non-null values
matching each rule* — is computed in a **single aggregate pass with zero
row-explosion**: one ``avg(regexp_like(col, rx)::int)`` expression per
(string column × rule) in one aggregate, producing a 1-row frame that is
then unpivoted (a 1-row Expand, not an N-row stack).  A row-count sample
(the default) is one task per table that reads the table's splits in
order and stops at N rows, with no shuffle; a full or fractional scan
aggregates map-side and shuffles only C×R partial averages.  Either way
the whole scan stays inside whole-stage codegen, and :class:`Scanner`
runs every table's scan in one Spark job: the reference's driver thread
pool fan-out/fan-in (its #1 scaling bottleneck) becomes Spark's task
scheduling.

Output schema matches the reference ScanResult
(``scanner.py:92``): ``table_catalog, table_schema, table_name,
column_name, class_name, score``.

Scan state is driver-local, as the reference keeps it in a small metadata
table: a scan collects its score rows once, and :class:`ScanResult` holds
them as a ``LocalRelation`` (an Arrow table shipped with the plan), so
class lookups run no Spark job, and ``save`` and ``load`` read and write
the state's parquet files on the driver (:mod:`state_store`), with no
Spark job either.  The bound is the row count, tables × string columns ×
rules (2 tables × 10 columns × 18 rules = 360 rows), never the data.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from datetime import datetime, timezone
from fnmatch import fnmatch
from typing import Callable, Dict, List, Optional, Sequence, Union

import pyarrow as pa
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import state_store
from .rules import RegexRule, Rules
from .state_store import _arrow_rows, _hadoop_fs, _leaf_files, _scala_order


def qcol(df: DataFrame, name: str):
    """Column of ``df`` by EXACT name — backtick-quoted so special-char
    names (the reference scans a column literally called ``ip.v2``,
    conftest.py:140-146) are not parsed as struct-field paths."""
    return df[_sql_ident(name)]


_SUMMARY_PREFIXES = ("_metadata", "_common_metadata")


def _first_data_file(spark: SparkSession, path: str):
    """The status of the file whose footer Spark's schema inference reads
    for the dataset at ``path``, or None when Spark must infer it itself.
    As in ``ParquetUtils.inferSchema`` the first of :func:`_leaf_files`
    in sorted order wins; None when there is no file, or when any leaf
    is a ``_metadata`` or ``_common_metadata`` summary, which inference
    would read instead."""
    paths, leaves = _leaf_files(spark, path)
    if not paths or any(p.rsplit("/", 1)[-1].startswith(_SUMMARY_PREFIXES)
                        for p in paths):
        return None
    first = min(range(len(paths)), key=lambda i: _scala_order(paths[i]))
    return leaves.values().toSeq().apply(first)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its footer job.  Spark infers
    a parquet schema in a one-stage job (``mergeSchemasInParallel``) even
    for one file; here the driver reads that same footer (the file
    :func:`_first_data_file` picks) through Hadoop (``ParquetFooterReader``
    with ``SKIP_ROW_GROUPS``) and converts it with Spark's own
    ``ParquetFileFormat.readSchemaFromFooter`` under the session's
    ``SQLConf``, then reads with that schema: the frame, partition
    columns included, is the one Spark would infer, and no footer job
    runs.  The path is listed twice, here and by the read, both times
    by Spark's own file index.

    Spark reads the path itself, raising its own errors and keeping its
    own merge, when no data file is found (a missing path, an empty
    directory), when a summary file is present anywhere under the path,
    when ``spark.sql.parquet.mergeSchema`` is on, or when the driver
    cannot read the footer (not a parquet file)."""
    if spark.conf.get("spark.sql.parquet.mergeSchema").lower() == "true":
        return spark.read.parquet(path)
    status = _first_data_file(spark, path)
    if status is None:
        return spark.read.parquet(path)
    jvm = spark.sparkContext._jvm
    pkg = jvm.org.apache.spark.sql.execution.datasources.parquet
    state = spark._jsparkSession.sessionState()
    try:
        meta = pkg.ParquetFooterReader.readFooter(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
                status, state.newHadoopConf()),
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter
            .SKIP_ROW_GROUPS)
    except Py4JJavaError:
        return spark.read.parquet(path)
    schema = pkg.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(status.getPath(), meta),
        pkg.ParquetToSparkSchemaConverter(state.conf()))
    return spark.read.schema(
        T._parse_datatype_json_string(schema.json())).parquet(path)


def _read_parquet_if_exists(spark: SparkSession, path: str):
    """:func:`read_parquet`, or None ONLY when the path does not exist.
    Any other read failure (corrupt footer, permission, transient FS
    error) propagates — treating it as "first write" would silently
    overwrite and discard all previously persisted state (MERGE-upsert
    must never be lossy).

    Existence is asked of the path's Hadoop FileSystem before any read, a
    driver-side call that runs no job: a read of a missing path fails in
    analysis, and once an ``Observation`` has run in the session that
    failure also reaches its query listener, which logs an ERROR with a
    full stack trace."""
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    return read_parquet(spark, path)


SCAN_RESULT_SCHEMA = T.StructType([
    T.StructField("table_catalog", T.StringType()),
    T.StructField("table_schema", T.StringType()),
    T.StructField("table_name", T.StringType()),
    T.StructField("column_name", T.StringType()),
    T.StructField("class_name", T.StringType()),
    T.StructField("score", T.DoubleType()),
])
# the persisted state: a scan result plus the time each row was saved
SCAN_STATE_SCHEMA = T.StructType(SCAN_RESULT_SCHEMA.fields + [
    T.StructField("effective_timestamp", T.TimestampType())])
_KEY = SCAN_RESULT_SCHEMA.names[:5]
_ARROW_RESULT = pa.schema([(k, pa.string()) for k in _KEY]
                          + [("score", pa.float64())])
_ARROW_STATE = _ARROW_RESULT.append(
    pa.field("effective_timestamp", pa.timestamp("us", tz="UTC")))


def _local_frame(spark: SparkSession, rows: Sequence[Sequence],
                 schema: pa.Schema = _ARROW_RESULT) -> DataFrame:
    """Driver-side rows as a ``LocalRelation``: built from an Arrow table,
    the frame carries its rows in the plan, so collecting or filtering it
    runs no Spark job (a Python list through ``createDataFrame`` becomes
    an RDD scan that costs a job per action)."""
    return spark.createDataFrame(_arrow_rows(rows, schema))


def _sql_string(value: str) -> str:
    """``value`` as a Spark SQL string literal under the default parser
    (``spark.sql.parser.escapedStringLiterals=false``): every backslash
    and quote is escaped, so the parser returns ``value`` unchanged."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_literal(value: Union[int, float, str]) -> str:
    """``value`` as a Spark SQL literal of the type ``F.lit(value)``
    gives it: an int is an INT, or a BIGINT (``L`` suffix) when it does
    not fit; a float a DOUBLE (``D`` suffix on its shortest round-trip
    repr; ``inf``/``nan`` as a cast, having no literal); a str goes
    through :func:`_sql_string`."""
    if isinstance(value, int):
        return str(value) if -2**31 <= value < 2**31 else f"{value}L"
    if isinstance(value, float):
        if math.isfinite(value):
            return f"{value!r}D"
        return f"CAST('{value!r}' AS DOUBLE)"
    if isinstance(value, str):
        return _sql_string(value)
    raise TypeError(f"no SQL literal for {value!r}")


def _sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted identifier: a dotted name such as
    ``ip.v2`` stays one column, not a struct-field path."""
    return "`" + name.replace("`", "``") + "`"


def string_columns(df: DataFrame, column_filter: str = "*") -> List[str]:
    """String-typed columns, optionally filtered by a Unix wildcard
    (reference restricts scans to string columns, scanner.py:301)."""
    return [f.name for f in df.schema.fields
            if isinstance(f.dataType, T.StringType) and fnmatch(f.name, column_filter)]


def classify_scores(
    df: DataFrame,
    rules: Sequence[RegexRule],
    columns: Optional[Sequence[str]] = None,
    sample_size: Optional[int] = 10000,
    sample_fraction: Optional[float] = None,
    seed: int = 42,
    table_catalog: str = "",
    table_schema: str = "",
    table_name: str = "",
) -> DataFrame:
    """Per-(column, rule) match-fraction scores in one aggregate pass.

    ``score = avg(int(regexp_like(col, rule)))`` over the sample —
    numerically identical to the reference's ``sum(value)/count(value)``
    (scanner.py:325): nulls drop out of both numerator and denominator.

    Sampling: ``sample_size`` mirrors the reference's ``TABLESAMPLE
    (N ROWS)`` (scanner.py:338): the first N rows in read order, taken
    by one task that reads the table's splits one after another and
    stops at N rows (``coalesce(1)`` under the ``limit``; the single
    partition needs no exchange for the limit or the aggregate), so the
    scan is one stage of one task, whatever the table's size.  Cheap and
    deterministic for a given file layout, but read-order biased.
    ``sample_fraction`` is the 100 TB-correct alternative: seeded
    Bernoulli sampling pushed into the scan, unbiased across partitions.
    Passing both uses the fraction; ``sample_size=None`` scans every
    row.
    """
    cols = list(columns) if columns is not None else string_columns(df)
    if not cols:
        raise ValueError(f"no string columns to scan in {table_name or 'df'}")
    if not rules:
        raise ValueError("no rules to scan for")

    # compiled to SQL strings: one selectExpr each for the projection, the
    # C×R aggregates and the unpivot, instead of a dozen Py4J Column calls
    # per (column, rule) cell; names are backtick-quoted so special-char
    # columns like `ip.v2` (reference conftest.py:140-146) resolve
    scan = df.selectExpr(*[f"{_sql_ident(c)} AS {_sql_ident(c)}"
                           for c in cols])
    if sample_fraction is not None:
        scan = scan.sample(fraction=float(sample_fraction), seed=seed)
    elif sample_size is not None:
        # TABLESAMPLE (N ROWS) analog, scanner.py:338: one task reads the
        # splits in order and stops at N rows; its single partition meets
        # the limit's and the aggregate's AllTuples, so no exchange
        scan = scan.coalesce(1).limit(int(sample_size))

    cells = [f"struct({_sql_string(c)} AS column_name, "
             f"{_sql_string(r.name)} AS class_name, "
             f"CAST(avg(CAST(regexp_like({_sql_ident(c)}, "
             f"{_sql_string(r.pattern)}) AS INT)) AS DOUBLE) AS score)"
             f" AS m_{ci}_{ri}"
             for ci, c in enumerate(cols) for ri, r in enumerate(rules)]
    # unpivoted by an Expand (``unpivot`` with no ids: every cell is a
    # value), not a Generate: an Expand's output partitioning is unknown,
    # so a union of single-partition samples (Scanner.scan) stays a plain
    # union, one task per table, where Spark would zip equal
    # SinglePartition children into one task
    return (scan.selectExpr(*cells).unpivot([], None, "_m", "_cell")
            .selectExpr(f"{_sql_string(table_catalog)} AS table_catalog",
                        f"{_sql_string(table_schema)} AS table_schema",
                        f"{_sql_string(table_name)} AS table_name",
                        "_cell.column_name AS column_name",
                        "_cell.class_name AS class_name",
                        "_cell.score AS score"))


@dataclass
class ScanResult:
    """Scan output + class resolution (reference scanner.py:37-126).

    ``df`` is driver-local when it comes from :meth:`Scanner.scan` or
    :meth:`load`: a ``LocalRelation`` of tables × string columns × rules
    rows, so :meth:`get_classes` runs no Spark job.  Any frame with
    ``SCAN_RESULT_SCHEMA`` works (a lazy one is computed per call)."""

    df: DataFrame

    def get_classes(self, min_score: float = 0.95):
        """[(table_catalog, table_schema, table_name, column, class)] with
        score ≥ min_score (reference scanner.py:57-68), filtered on the
        driver."""
        return [tuple(r[k] for k in _KEY) for r in self.df.collect()
                if r["score"] is not None and r["score"] >= min_score]

    def save(self, path: str) -> None:
        """Idempotent upsert keyed on (catalog, schema, table, column, class)
        — Delta-MERGE semantics (reference scanner.py:103-119) emulated over
        parquet: new rows replace matching keys, others are preserved with
        their ``effective_timestamp``; new rows get the save time.

        Both sides are small, so no Spark job runs: the state is a
        :mod:`state_store` store keyed on those five columns, and a save
        is its :func:`state_store.compact` with the new rows, which reads
        the old state on the driver, merges it there and writes one new
        file; only once that file is in place are the files that were
        read deleted.  A crash at any point leaves the state readable and
        whole: before the rename the old files stand alone, after it the
        reader keeps each key's newest row.  Two saves at once each keep
        every key they read, so no key is lost either."""
        now = datetime.now(timezone.utc)
        # collect, not toArrow: toArrow runs a job even on a LocalRelation
        state_store.compact(
            self.df.sparkSession, path, _ARROW_STATE, key=_KEY,
            rows=[tuple(r[k] for k in SCAN_RESULT_SCHEMA.names) + (now,)
                  for r in self.df.collect()])

    @staticmethod
    def load(spark: SparkSession, path: str) -> "ScanResult":
        """The saved state as a driver-local result, read on the driver
        (:func:`state_store.read`, one row per key) with no Spark job."""
        state = state_store.read(spark, path, _ARROW_STATE, key=_KEY)
        if state is None:
            raise FileNotFoundError(f"no scan state at {path}")
        return ScanResult(df=_local_frame(spark, [r[:6] for r in state[0]]))


class TableRegistry:
    """Maps ``catalog.schema.table`` names to DataFrame suppliers and
    resolves Unix-wildcard patterns — the sandbox stand-in for the
    reference's information_schema metadata scan
    (``table_info.py:107-348``)."""

    def __init__(self):
        self._tables: Dict[str, Callable[[], DataFrame]] = {}
        self._tags: Dict[str, Dict[str, str]] = {}
        self._column_tags: Dict[str, Dict[str, Dict[str, str]]] = {}
        self._catalog_tags: Dict[str, Dict[str, str]] = {}
        self._schema_tags: Dict[str, Dict[str, str]] = {}
        self._formats: Dict[str, str] = {}

    def register(self, full_name: str,
                 df_or_supplier: Union[DataFrame, Callable[[], DataFrame]],
                 tags: Optional[Dict[str, str]] = None,
                 column_tags: Optional[Dict[str, Dict[str, str]]] = None,
                 data_source_format: str = "PARQUET") -> None:
        if full_name.count(".") != 2:
            raise ValueError(f"expected catalog.schema.table, got {full_name!r}")
        if isinstance(df_or_supplier, DataFrame):
            self._tables[full_name] = (lambda d=df_or_supplier: d)
        else:
            self._tables[full_name] = df_or_supplier
        if tags:
            self._tags[full_name] = dict(tags)
        if column_tags:
            self._column_tags[full_name] = {c: dict(t)
                                            for c, t in column_tags.items()}
        self._formats[full_name] = data_source_format.upper()

    def data_source_format(self, full_name: str) -> str:
        """The table's storage format (reference information_schema
        ``data_source_format``, table_info.py / explorer.py:77-85);
        'ICEBERG' in production, 'PARQUET' for the sandbox emulation."""
        return self._formats.get(full_name, "PARQUET")

    def tag_catalog(self, catalog: str, tags: Dict[str, str]) -> None:
        """Attach catalog-level governance tags (reference TagsInfo carries
        catalog_tags, table_info.py:15-33) — inherited by every table in
        the catalog unless overridden at a more specific level."""
        self._catalog_tags.setdefault(catalog, {}).update(tags)

    def tag_schema(self, catalog_schema: str, tags: Dict[str, str]) -> None:
        """Attach schema-level tags (``"catalog.schema"`` key; reference
        schema_tags, table_info.py:15-33)."""
        if catalog_schema.count(".") != 1:
            raise ValueError(f"expected catalog.schema, got {catalog_schema!r}")
        self._schema_tags.setdefault(catalog_schema, {}).update(tags)

    def tags(self, full_name: str) -> Dict[str, str]:
        """Table-level governance tags (reference TagsInfo,
        table_info.py:15-33)."""
        return dict(self._tags.get(full_name, {}))

    def effective_tags(self, full_name: str) -> Dict[str, str]:
        """Tags visible at a table: catalog ∪ schema ∪ table, most specific
        level winning on key conflicts (the reference matches having_tag
        against all levels of TagsInfo, table_info.py:237-317)."""
        cat, sch, _tbl = full_name.split(".")
        out = dict(self._catalog_tags.get(cat, {}))
        out.update(self._schema_tags.get(f"{cat}.{sch}", {}))
        out.update(self._tags.get(full_name, {}))
        return out

    def column_tags(self, full_name: str) -> Dict[str, Dict[str, str]]:
        """Column-level governance tags ({column: {key: value}}) — the
        granularity PII governance actually uses (reference
        ColumnTagInfo, table_info.py:15-21, 237-317)."""
        return {c: dict(t)
                for c, t in self._column_tags.get(full_name, {}).items()}

    def columns_with_tag(self, full_name: str, key: str,
                         value: Optional[str] = None) -> List[str]:
        """Columns of a table carrying a given tag (optionally a value)."""
        return sorted(
            c for c, t in self._column_tags.get(full_name, {}).items()
            if key in t and (value is None or t[key] == value))

    def resolve(self, pattern: str) -> List[str]:
        """Wildcard resolution per component (reference msql.py:165-174 +
        table_info wildcard filters)."""
        parts = pattern.split(".")
        if len(parts) != 3:
            raise ValueError(f"invalid table pattern {pattern!r}")
        out = []
        for name in sorted(self._tables):
            nparts = name.split(".")
            if all(fnmatch(np, pp) for np, pp in zip(nparts, parts)):
                out.append(name)
        return out

    def get(self, full_name: str) -> DataFrame:
        return self._tables[full_name]()


class Scanner:
    """Multi-table scan orchestration (reference dx.scan, dx.py:100-160).

    Unlike the reference there is no driver thread pool: the per-table
    scans are unioned and collected once (C×R score rows, never the
    data) into a local ScanResult frame, so a scan of T tables is one
    Spark job and Spark's scheduler runs the tables side by side.  With
    a ``sample_size`` (the default) that job is one stage of T tasks,
    each reading one table until it has N rows.
    """

    def __init__(self, registry: TableRegistry,
                 rules: Optional[Rules] = None,
                 rule_filter: str = "*",
                 sample_size: Optional[int] = 10000,
                 locale: Optional[str] = None):
        self.registry = registry
        self.rules = rules or Rules(locale=locale)
        self.rule_list = self.rules.get_rules(rule_filter)
        self.sample_size = sample_size

    def scan(self, from_tables: str = "*.*.*",
             columns: str = "*") -> ScanResult:
        names = self.registry.resolve(from_tables)
        if not names:
            raise ValueError(f"no tables match {from_tables!r}")
        parts = []
        for name in names:
            cat, sch, tbl = name.split(".")
            df = self.registry.get(name)
            cols = string_columns(df, columns)
            if not cols:
                continue
            parts.append(classify_scores(
                df, self.rule_list, columns=cols, sample_size=self.sample_size,
                table_catalog=cat, table_schema=sch, table_name=tbl))
        if not parts:
            raise ValueError("no string columns found in any matched table")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # materialized once: a lazy result would re-run the scan on every
        # get_classes/save/action, re-sampling (``limit``) and re-reading
        # tables that an action such as delete_by_class may have rewritten
        return ScanResult(df=_local_frame(out.sparkSession, out.collect()))
