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
row-explosion and zero data shuffle**: one ``avg(regexp_like(col, rx)::int)``
expression per (string column × rule) evaluated map-side (partial hash
aggregation), producing a 1-row frame that is then unpivoted (a 1-row
explode, not an N-row stack).  At 100 TB this reads the table once, keeps
everything inside whole-stage codegen, and shuffles only C×R doubles.  The
driver thread pool fan-out/fan-in (the reference's #1 scaling bottleneck)
disappears entirely.

Output schema matches the reference ScanResult
(``scanner.py:92``): ``table_catalog, table_schema, table_name,
column_name, class_name, score``.

Scan state is driver-local, as the reference keeps it in a small metadata
table: a scan collects its score rows once, and :class:`ScanResult` holds
them as a ``LocalRelation`` (an Arrow table shipped with the plan), so
class lookups run no Spark job and ``save`` merges on the driver and
writes once.  The bound is the row count, tables × string columns × rules
(2 tables × 10 columns × 18 rules = 360 rows), never the data.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone
from fnmatch import fnmatch
from typing import Callable, Dict, List, Optional, Sequence, Union

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .rules import RegexRule, Rules

def qcol(df: DataFrame, name: str):
    """Column of ``df`` by EXACT name — backtick-quoted so special-char
    names (the reference scans a column literally called ``ip.v2``,
    conftest.py:140-146) are not parsed as struct-field paths."""
    return df[_sql_ident(name)]


def _hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path`` under the session's Hadoop
    configuration: the file system Spark's own reader and writer would
    use for it, looked up on the driver without a job."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return hpath.getFileSystem(conf), hpath


def _read_parquet_if_exists(spark: SparkSession, path: str,
                            schema: Union[T.StructType, str, None] = None,
                            **options):
    """Read parquet, or None ONLY when the path does not exist.  Any other
    read failure (corrupt footer, permission, transient FS error) propagates
    — treating it as "first write" would silently overwrite and discard all
    previously persisted state (MERGE-upsert must never be lossy).  A
    declared ``schema`` skips the footer-inference job; columns it names
    that a file lacks read as NULL.

    Existence is asked of the path's Hadoop FileSystem before any read, a
    driver-side call that runs no job: a read of a missing path fails in
    analysis, and once an ``Observation`` has run in the session that
    failure also reaches its query listener, which logs an ERROR with a
    full stack trace."""
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


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


def _arrow_rows(rows: Sequence[Sequence], schema: pa.Schema) -> pa.Table:
    """Driver-side row tuples as an Arrow table of ``schema``."""
    cols = list(zip(*rows)) or [()] * len(schema)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
        schema=schema)


def _sql_string(value: str) -> str:
    """``value`` as a Spark SQL string literal under the default parser
    (``spark.sql.parser.escapedStringLiterals=false``): every backslash
    and quote is escaped, so the parser returns ``value`` unchanged."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


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
    (N ROWS)`` (scanner.py:338) — a row-count limit, cheap but read-order
    biased.  ``sample_fraction`` is the 100 TB-correct alternative:
    seeded Bernoulli sampling pushed into the scan, unbiased across
    partitions.  Passing both uses the fraction.
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
        scan = scan.limit(int(sample_size))  # TABLESAMPLE (N ROWS) analog, scanner.py:338

    aggs, cells = [], []
    for ci, c in enumerate(cols):
        for ri, r in enumerate(rules):
            alias = f"m_{ci}_{ri}"
            aggs.append(f"avg(CAST(regexp_like({_sql_ident(c)}, "
                        f"{_sql_string(r.pattern)}) AS INT)) AS {alias}")
            cells.append(f"struct({_sql_string(c)} AS column_name, "
                         f"{_sql_string(r.name)} AS class_name, "
                         f"CAST({alias} AS DOUBLE) AS score)")
    return scan.selectExpr(*aggs).selectExpr(
        f"{_sql_string(table_catalog)} AS table_catalog",
        f"{_sql_string(table_schema)} AS table_schema",
        f"{_sql_string(table_name)} AS table_name",
        f"inline(array({', '.join(cells)}))")


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

        Both sides are small, so the merge runs on the driver: one job
        reads the old state with the declared schema (none when ``path``
        does not exist yet), one writes new ∪ kept.  The old rows are
        collected before the overwrite starts, so rewriting the path that
        was read is safe without a checkpoint."""
        spark = self.df.sparkSession
        now = datetime.now(timezone.utc)
        # collect, not toArrow: toArrow runs a job even on a LocalRelation
        new = [tuple(r[k] for k in SCAN_RESULT_SCHEMA.names) + (now,)
               for r in self.df.collect()]
        replaced = {r[:5] for r in new}
        old = _read_parquet_if_exists(spark, path, schema=SCAN_STATE_SCHEMA)
        # toArrow here: its timestamps stay UTC instants, where collect
        # would return naive local times to convert back
        kept = [] if old is None else [
            row for row in (tuple(d.values())
                            for d in old.toArrow().to_pylist())
            if row[:5] not in replaced]
        (_local_frame(spark, kept + new, _ARROW_STATE)
         .write.mode("overwrite").parquet(path))

    @staticmethod
    def load(spark: SparkSession, path: str) -> "ScanResult":
        """The saved state as a driver-local result: one read with the
        declared schema, no footer inference."""
        table = (spark.read.schema(SCAN_STATE_SCHEMA).parquet(path)
                 .drop("effective_timestamp").toArrow())
        return ScanResult(df=spark.createDataFrame(table.cast(_ARROW_RESULT)))


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

    Unlike the reference there is no driver thread pool: each table is one
    single-stage aggregate job and Spark's own task parallelism covers the
    cluster; the per-table results are unioned and collected once (C×R
    score rows, never the data) into a local ScanResult frame.
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
