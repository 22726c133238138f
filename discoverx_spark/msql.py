"""M-SQL: class-placeholder queries over scan results.

Re-expression of the reference's second compiler
(``/root/reference/discoverx/msql.py``): a query containing
``[class_name]`` placeholders is resolved, per table, against persisted
scan results — each placeholder becomes every concrete column classified
with that class (cartesian product across classes, ``msql.py:46-74``),
commands are limited to SELECT and DELETE (``msql.py:26-30,176-188``),
tables are matched with Unix wildcards (``msql.py:76-112``), per-unit
errors are isolated (``msql.py:130-134``), and results are folded with a
union (``msql.py:114-144``).

Spark-first differences: units of work execute as DataFrames against a
:class:`~discoverx_spark.scanner.TableRegistry` (temp views + ``spark.sql``
— one Catalyst plan per unit, broadcast/AQE decided by Spark), and DELETE
compiles to a keep-filter + rewrite plan instead of an in-place mutation,
returning both the surviving DataFrame and the matched-row count.
"""

from __future__ import annotations

import itertools
import re
from dataclasses import dataclass
from fnmatch import fnmatch
from typing import Dict, List, Optional, Tuple

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .scanner import ScanResult, TableRegistry, _local_frame, qcol

_DELETE_SUMMARY = pa.schema([("table", pa.string()), ("column", pa.string()),
                             ("num_deleted", pa.int64())])

_CLASS_RX = re.compile(r"\[([\w_-]+)\]")
_FROM_RX = re.compile(
    r"(?i)\bfrom\s+(([0-9a-zA-Z_*-]+)\.([0-9a-zA-Z_*-]+)\.([0-9a-zA-Z_*-]+))")
VALID_COMMANDS = ("SELECT", "DELETE")


@dataclass
class SQLRow:
    """One compiled unit of work (reference msql.py:15-21)."""

    catalog: str
    schema: str
    table: str
    sql: str


class Msql:
    """Parse/compile a class-placeholder query."""

    def __init__(self, msql: str):
        self.msql = msql.strip()
        self.command = self.msql.split(None, 1)[0].upper() if self.msql else ""
        if self.command not in VALID_COMMANDS:
            raise ValueError(
                f"Only {VALID_COMMANDS} commands are supported, "
                f"got {self.command!r}")
        self.classes: List[str] = list(dict.fromkeys(_CLASS_RX.findall(self.msql)))
        if not self.classes:
            raise ValueError("M-SQL expression contains no [class] placeholders")
        m = _FROM_RX.search(self.msql)
        if not m:
            raise ValueError(
                "M-SQL expression must contain FROM catalog.schema.table "
                "(wildcards allowed)")
        self.from_pattern = m.group(1)
        self._from_span = m.span(1)

    def build(self, classified_columns: List[Tuple[str, str, str, str, str]],
              ) -> List[SQLRow]:
        """Compile to one SQLRow per (table × class-column combination).

        ``classified_columns``: (catalog, schema, table, column, class)
        tuples, e.g. ``ScanResult.get_classes(min_score)``.
        """
        pat_parts = self.from_pattern.split(".")
        by_table: Dict[Tuple[str, str, str], Dict[str, List[str]]] = {}
        for cat, sch, tbl, col, klass in classified_columns:
            if klass not in self.classes:
                continue
            if not all(fnmatch(p, pp) for p, pp in
                       zip((cat, sch, tbl), pat_parts)):
                continue
            by_table.setdefault((cat, sch, tbl), {}).setdefault(klass, []).append(col)

        rows: List[SQLRow] = []
        for (cat, sch, tbl), cls_cols in sorted(by_table.items()):
            if not all(k in cls_cols for k in self.classes):
                continue  # table lacks a referenced class → skipped (msql.py:94-100)
            combos = itertools.product(
                *[[(k, c) for c in sorted(cls_cols[k])] for k in self.classes])
            for combo in combos:
                sql = self.msql
                for klass, col in combo:
                    sql = sql.replace(f"[{klass}]", f"`{col}`")
                sql = _FROM_RX.sub(f"FROM {cat}.{sch}.{tbl}", sql, count=1)
                rows.append(SQLRow(cat, sch, tbl, sql))
        return rows

    # -- execution ---------------------------------------------------------

    @staticmethod
    def _view_name(cat: str, sch: str, tbl: str) -> str:
        return f"dxs_{cat}_{sch}_{tbl}".replace("-", "_")

    def execute(self, spark: SparkSession, registry: TableRegistry,
                classified_columns, what_if: bool = False,
                ) -> Optional[DataFrame]:
        """Run all compiled units, union-fold the results
        (reference msql.py:114-144). SELECT only — DELETE goes through
        :func:`compile_delete`."""
        if self.command == "DELETE":
            # compile-parity only (the reference executes DELETE on Delta
            # tables); parquet-backed temp views cannot run it — route
            # row deletion through delete_by_class, which rewrites plans
            raise ValueError(
                "DELETE M-SQL compiles (use .build()/what_if) but cannot "
                "execute against parquet-backed views — use "
                "delete_by_class() for actual row deletion")
        rows = self.build(classified_columns)
        if not rows:
            raise ValueError(
                f"no classified tables match {self.from_pattern!r} with "
                f"classes {self.classes} (run a scan first, or lower "
                f"min_score)")
        if what_if:
            for r in rows:
                print(r.sql)
            return None
        out: Optional[DataFrame] = None
        failures = []
        for r in rows:
            full = f"{r.catalog}.{r.schema}.{r.table}"
            view = self._view_name(r.catalog, r.schema, r.table)
            sql = r.sql.replace(f"FROM {full}", f"FROM {view}")
            try:
                # registry.get INSIDE the isolation block: a stale
                # classified table (persisted scan state referencing a
                # table no longer registered) must fail its own unit,
                # not abort every healthy one
                registry.get(full).createOrReplaceTempView(view)
                # provenance columns first, then the unit's own columns —
                # the reference contract (msql.py:114-128): rows stay
                # attributable to their source table, and the fold is a
                # POSITIONAL union (msql.py:144) so same-class columns with
                # different per-table names still line up.
                df = spark.sql(sql)
                df = df.select(
                    F.lit(r.catalog).alias("table_catalog"),
                    F.lit(r.schema).alias("table_schema"),
                    F.lit(r.table).alias("table_name"),
                    *[c for c in df.columns
                      if c not in ("table_catalog", "table_schema",
                                   "table_name")])
                out = df if out is None else out.union(df)
            except Exception as e:  # per-unit isolation (msql.py:130-134)
                failures.append(f"{full}: {e}")
                continue
        if out is None:
            # reference raises when no unit succeeds (msql.py:141-142)
            raise ValueError(
                "No M-SQL units were successfully executed. "
                + "; ".join(failures))
        return out


def select_by_classes(spark: SparkSession, registry: TableRegistry,
                      scan: ScanResult, from_tables: str = "*.*.*",
                      by_classes: Optional[List[str]] = None,
                      min_score: float = 0.95) -> DataFrame:
    """Rows of every matched table with its classified columns surfaced as
    ``classified: map<class, value>`` plus the full row as JSON — the
    DataFrame-native analog of the reference's nested named_struct select
    (``dx.py:311-325``)."""
    classes = scan.get_classes(min_score)
    if by_classes is not None:
        classes = [c for c in classes if c[4] in by_classes]
    by_table: Dict[str, List[Tuple[str, str]]] = {}
    for cat, sch, tbl, col, klass in classes:
        name = f"{cat}.{sch}.{tbl}"
        by_table.setdefault(name, []).append((klass, col))
    out = None
    for name in registry.resolve(from_tables):
        if name not in by_table:
            continue
        df = registry.get(name)
        pairs = sorted(set(by_table[name]))
        cat, sch, tbl = name.split(".")
        # two columns sharing a class would duplicate the map key (Spark
        # default mapKeyDedupPolicy=EXCEPTION crashes at runtime): keys
        # stay the bare class when unique, 'class:column' otherwise
        from collections import Counter
        k_counts = Counter(k for k, _ in pairs)
        entries = []
        for k, c in pairs:
            key = k if k_counts[k] == 1 else f"{k}:{c}"
            entries += [F.lit(key), qcol(df, c).cast("string")]
        sel = df.select(
            F.lit(cat).alias("table_catalog"),
            F.lit(sch).alias("table_schema"),
            F.lit(tbl).alias("table_name"),
            F.create_map(*entries).alias("classified"),
            F.to_json(F.struct(*[qcol(df, c).alias(c) for c in df.columns]))
            .alias("row_json"),
        )
        out = sel if out is None else out.unionByName(sel)
    if out is None:
        raise ValueError(f"no classified tables match {from_tables!r} "
                         f"at min_score {min_score}")
    return out


def search(spark: SparkSession, registry: TableRegistry, scan: ScanResult,
           search_term: str, from_tables: str = "*.*.*",
           by_class: Optional[str] = None, min_score: float = 0.95) -> DataFrame:
    """Find rows whose classified column equals the literal term
    (reference dx.search, dx.py:236-282)."""
    sel = select_by_classes(spark, registry, scan, from_tables,
                            [by_class] if by_class else None, min_score)
    vals = F.map_values(F.col("classified"))
    return sel.filter(F.array_contains(vals, search_term))


def delete_by_class(spark: SparkSession, registry: TableRegistry,
                    scan: ScanResult, from_tables: str, by_class: str,
                    values: List[str], min_score: float = 0.95,
                    yes_i_am_sure: bool = False):
    """Compile per-table delete plans: rows whose ``by_class`` column is in
    ``values`` are removed.  Returns a summary DataFrame
    ``(table, column, num_deleted)``, one row per classified candidate
    column and counted in one Spark job when the call is made, and, when
    confirmed, a dict of surviving DataFrames to rewrite — the what-if
    guard mirrors ``dx.py:376-388``."""
    pat_parts = from_tables.split(".")
    if len(pat_parts) != 3:
        # zip() would silently truncate a malformed pattern and BROADEN
        # the destructive scope ('main.default' matching every table in
        # the schema) — the one path that rewrites data validates first
        raise ValueError(
            "from_tables must be 'catalog.schema.table' (wildcards "
            f"allowed), got {from_tables!r}")
    classes = [c for c in scan.get_classes(min_score) if c[4] == by_class]
    plans = {}
    hits = []
    cand_rows = []
    cols_by_name: Dict[str, List[str]] = {}
    for cat, sch, tbl, col, _k in classes:
        name = f"{cat}.{sch}.{tbl}"
        if not all(fnmatch(p, pp) for p, pp in
                   zip(name.split("."), pat_parts)):
            continue
        df = registry.get(name)
        cond = qcol(df, col).isin(values)
        hits.append(df.filter(cond).select(
            F.lit(len(cand_rows)).alias("_cand")))
        cand_rows.append((name, col))
        cols_by_name.setdefault(name, []).append(col)
    if yes_i_am_sure:
        # ONE plan per table over ALL its classified columns: a per-column
        # plans[name] assignment would keep only the last column's filter
        # and silently retain rows matching the earlier columns
        for name, cols in cols_by_name.items():
            df = registry.get(name)
            keep = None
            for col in cols:
                c = qcol(df, col)
                k = ~c.isin(values) | c.isNull()
                keep = k if keep is None else (keep & k)
            plans[name] = df.filter(keep)
    num_deleted: List[int] = []
    if hits:
        # every candidate's matched-row count in ONE Spark job, however
        # many tables are classified: a union of the filtered scans,
        # observed with one count_if per candidate, into a noop sink
        unioned = hits[0]
        for h in hits[1:]:
            unioned = unioned.unionByName(h)
        obs = Observation()
        unioned.observe(obs, *[
            F.count_if(F.col("_cand") == i).alias(f"n{i}")
            for i in range(len(hits))
        ]).write.format("noop").mode("overwrite").save()
        seen = obs.get
        num_deleted = [seen[f"n{i}"] for i in range(len(hits))]
    # driver-local, so the summary is PRE-delete by construction: the
    # caller may materialize the surviving plans back over the source
    # paths without changing it
    summary = _local_frame(
        spark, [(name, col, n) for (name, col), n
                in zip(cand_rows, num_deleted)], _DELETE_SUMMARY)
    if not yes_i_am_sure:
        return summary, None  # what-if mode: nothing is rewritten
    return summary, plans


def scrub_by_classes(spark: SparkSession, registry: TableRegistry,
                     scan: ScanResult, from_tables: str = "*.*.*",
                     min_score: float = 0.95) -> Dict[str, DataFrame]:
    """Redact every classified column in-place with its class token — the
    quality-filter extension of M-SQL DELETE: instead of dropping rows,
    rewrite the PII cells.  Returns {table: rewritten DataFrame}."""
    by_table: Dict[str, List[Tuple[str, str]]] = {}
    for cat, sch, tbl, col, klass in scan.get_classes(min_score):
        by_table.setdefault(f"{cat}.{sch}.{tbl}", []).append((col, klass))
    out = {}
    for name in registry.resolve(from_tables):
        if name not in by_table:
            continue
        df = registry.get(name)
        for col, klass in sorted(set(by_table[name])):
            df = df.withColumn(
                col, F.when(qcol(df, col).isNotNull(),
                            F.lit(f"[REDACTED_{klass.upper()}]"))
                .otherwise(F.lit(None)))
        out[name] = df
    return out
