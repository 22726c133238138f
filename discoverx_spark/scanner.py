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
"""

from __future__ import annotations

from dataclasses import dataclass
from fnmatch import fnmatch
from typing import Callable, Dict, List, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .rules import RegexRule, Rules

def qcol(df: DataFrame, name: str):
    """Column of ``df`` by EXACT name — backtick-quoted so special-char
    names (the reference scans a column literally called ``ip.v2``,
    conftest.py:140-146) are not parsed as struct-field paths."""
    return df["`" + name.replace("`", "``") + "`"]


def _read_parquet_if_exists(spark: SparkSession, path: str, **options):
    """Read parquet, or None ONLY when the path does not exist.  Any other
    read failure (corrupt footer, permission, transient FS error) propagates
    — treating it as "first write" would silently overwrite and discard all
    previously persisted state (MERGE-upsert must never be lossy)."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.options(**options).parquet(path)
        df.schema  # force analysis so a missing path surfaces here
        return df
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise


SCAN_RESULT_SCHEMA = T.StructType([
    T.StructField("table_catalog", T.StringType()),
    T.StructField("table_schema", T.StringType()),
    T.StructField("table_name", T.StringType()),
    T.StructField("column_name", T.StringType()),
    T.StructField("class_name", T.StringType()),
    T.StructField("score", T.DoubleType()),
])


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

    # df[c] (not F.col) so special-char column names like `ip.v2` resolve
    # (reference fixture conftest.py:140-146 scans exactly such a column)
    scan = df.select(*[qcol(df, c).alias(c) for c in cols])
    if sample_fraction is not None:
        scan = scan.sample(fraction=float(sample_fraction), seed=seed)
    elif sample_size is not None:
        scan = scan.limit(int(sample_size))  # TABLESAMPLE (N ROWS) analog, scanner.py:338

    aggs, meta = [], []
    for ci, c in enumerate(cols):
        for ri, r in enumerate(rules):
            alias = f"m_{ci}_{ri}"
            aggs.append(
                F.avg(F.regexp_like(qcol(scan, c), F.lit(r.pattern)).cast("int")).alias(alias)
            )
            meta.append((alias, c, r.name))
    one_row = scan.agg(*aggs)

    cells = F.array(*[
        F.struct(
            F.lit(c).alias("column_name"),
            F.lit(rule_name).alias("class_name"),
            F.col(alias).cast("double").alias("score"),
        )
        for alias, c, rule_name in meta
    ])
    return (
        one_row.select(F.explode(cells).alias("cell"))
        .select(
            F.lit(table_catalog).alias("table_catalog"),
            F.lit(table_schema).alias("table_schema"),
            F.lit(table_name).alias("table_name"),
            "cell.column_name", "cell.class_name", "cell.score",
        )
    )


@dataclass
class ScanResult:
    """Scan output + class resolution (reference scanner.py:37-126)."""

    df: DataFrame

    def get_classes(self, min_score: float = 0.95):
        """[(table_catalog, table_schema, table_name, column, class)] with
        score ≥ min_score (reference scanner.py:57-68)."""
        rows = (
            self.df.filter(F.col("score").isNotNull() & (F.col("score") >= min_score))
            .select("table_catalog", "table_schema", "table_name",
                    "column_name", "class_name")
            .collect()
        )
        return [tuple(r) for r in rows]

    def save(self, path: str) -> None:
        """Idempotent upsert keyed on (catalog, schema, table, column, class)
        — Delta-MERGE semantics (reference scanner.py:103-119) emulated over
        parquet: new rows replace matching keys, others are preserved."""
        spark = self.df.sparkSession
        new = self.df.withColumn("effective_timestamp", F.current_timestamp())
        key = ["table_catalog", "table_schema", "table_name",
               "column_name", "class_name"]
        old = _read_parquet_if_exists(spark, path)
        if old is None:
            merged = new
        else:
            merged = old.join(new.select(*key), on=key,
                              how="left_anti").unionByName(new)
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(path)

    @staticmethod
    def load(spark: SparkSession, path: str) -> "ScanResult":
        df = spark.read.parquet(path).drop("effective_timestamp")
        return ScanResult(df=df)


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
        return ScanResult(df=out.sparkSession.createDataFrame(
            out.collect(), SCAN_RESULT_SCHEMA))
