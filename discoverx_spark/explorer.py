"""Multi-table template fan-out (DataExplorer analog).

Reference: ``/root/reference/discoverx/explorer.py`` — an immutable chained
builder (``from_tables → having_columns → with_sql(template) → explain/
apply``) that formats one SQL string per matched table
(``explorer.py:292-309``), executes them concurrently on a thread pool
(``explorer.py:205-215``), tags each result with provenance columns
(``explorer.py:275-290``) and union-folds (``explorer.py:365-385``).

Spark-first: no thread pool — each unit is a Spark job whose tasks already
use the whole cluster; the fold is a DataFrame union (one plan); failures
are isolated per table and reported.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Callable, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .scanner import TableRegistry, string_columns


def _template_vars(full_name: str, df: DataFrame) -> dict:
    cat, sch, tbl = full_name.split(".")
    str_cols = string_columns(df)
    stack_all = ", ".join(
        f"'{c}', cast(`{c}` AS string)" for c in df.columns)
    stack_str = ", ".join(f"'{c}', `{c}`" for c in str_cols)
    return {
        "table_catalog": cat,
        "table_schema": sch,
        "table_name": tbl,
        "full_table_name": f"{cat}.{sch}.{tbl}",
        # stack helpers mirror explorer.py:243-273 / README.md:27-38
        "stack_string_columns": f"stack({len(str_cols)}, {stack_str})"
        if str_cols else "",
        "stack_all_columns_as_string": f"stack({len(df.columns)}, {stack_all})"
        if df.columns else "",
    }


@dataclass(frozen=True)
class DataExplorer:
    """Immutable chained builder (reference explorer.py:50-125)."""

    registry: TableRegistry
    spark: SparkSession
    from_tables: str = "*.*.*"
    _having_columns: tuple = ()
    _having_tags: tuple = ()
    _having_column_tags: tuple = ()
    _data_source_formats: tuple = ()
    _sql_template: Optional[str] = None

    def having_columns(self, *columns: str) -> "DataExplorer":
        """Restrict the universe to tables having all given columns
        (explorer.py:67-75)."""
        return replace(self, _having_columns=self._having_columns + columns)

    def having_tag(self, key: str, value: Optional[str] = None) -> "DataExplorer":
        """Restrict to tables carrying a governance tag at ANY level —
        catalog, schema, or table, most specific level winning on key
        conflicts (reference with_tags / TagsInfo filters,
        table_info.py:237-317)."""
        return replace(self, _having_tags=self._having_tags + ((key, value),))

    def having_column_tag(self, key: str,
                          value: Optional[str] = None) -> "DataExplorer":
        """Restrict to tables with at least one column carrying the tag
        (column-level TagsInfo, reference table_info.py:15-21)."""
        return replace(self,
                       _having_column_tags=self._having_column_tags
                       + ((key, value),))

    def with_data_source_formats(self,
                                 formats: Optional[List[str]] = None
                                 ) -> "DataExplorer":
        """Restrict the universe to tables stored in one of the given
        formats (reference explorer.py:77-85; its default is DELTA-only —
        here the production format is ICEBERG and the sandbox emulation
        PARQUET, so that pair is the default)."""
        fmts = tuple(f.upper() for f in (formats or ["ICEBERG", "PARQUET"]))
        return replace(self, _data_source_formats=fmts)

    def with_sql(self, template: str) -> "DataExplorer":
        """Attach a ``{full_table_name}``-style SQL template
        (explorer.py:99-125)."""
        return replace(self, _sql_template=template)

    def unpivot_string_columns(self,
                               sample_size: Optional[int] = None
                               ) -> "DataExplorer":
        """Melt every STRING column of every matched table into
        (column_name, string_value) rows (reference explorer.py:127-143)
        — the named spelling of the ``{stack_string_columns}`` template.
        ``sample_size`` bounds rows per table via TABLESAMPLE (a
        row-limit pushed to the scan, not a post-filter)."""
        return self._unpivot_template("{stack_string_columns}", sample_size)

    def unpivot_all_columns(self,
                            sample_size: Optional[int] = None
                            ) -> "DataExplorer":
        """Melt EVERY column (cast to string) of every matched table into
        (column_name, string_value) rows (reference explorer.py:145-160)."""
        return self._unpivot_template("{stack_all_columns_as_string}",
                                      sample_size)

    def _unpivot_template(self, stack_var: str,
                          sample_size: Optional[int]) -> "DataExplorer":
        template = (f"SELECT {stack_var} AS (column_name, string_value) "
                    f"FROM {{full_table_name}}")
        if sample_size is not None:
            template += f" TABLESAMPLE ({int(sample_size)} ROWS)"
        return self.with_sql(template)

    # -- resolution ---------------------------------------------------------

    def table_names(self) -> List[str]:
        names = self.registry.resolve(self.from_tables)
        if self._having_columns:
            names = [n for n in names
                     if set(self._having_columns)
                     <= set(self.registry.get(n).columns)]
        for key, value in self._having_tags:
            names = [n for n in names
                     if key in self.registry.effective_tags(n)
                     and (value is None
                          or self.registry.effective_tags(n)[key] == value)]
        for key, value in self._having_column_tags:
            names = [n for n in names
                     if self.registry.columns_with_tag(n, key, value)]
        if self._data_source_formats:
            names = [n for n in names
                     if self.registry.data_source_format(n)
                     in self._data_source_formats]
        return names

    def _sql_for(self, name: str, df=None) -> str:
        if df is None:
            df = self.registry.get(name)
        return self._sql_template.format(**_template_vars(name, df))

    # -- actions ------------------------------------------------------------

    def explain(self) -> List[str]:
        """Formatted SQL per table, printed instead of executed
        (explorer.py:311-347 what-if semantics)."""
        sqls = [self._sql_for(n) for n in self.table_names()]
        for s in sqls:
            print(s)
        return sqls

    def apply(self) -> DataFrame:
        """Execute the template per table, add provenance columns, union."""
        if self._sql_template is None:
            raise ValueError("call with_sql(template) first")
        import re as _re
        import warnings as _warnings

        out: Optional[DataFrame] = None
        failures: List[str] = []
        for name in self.table_names():
            cat, sch, tbl = name.split(".")
            view = f"dxs_exp_{cat}_{sch}_{tbl}".replace("-", "_")
            try:
                # fetch ONCE per table (a supplier may build a new frame
                # and list its files again per get); rewrite only
                # FROM/JOIN positions — a whole-statement replace would
                # corrupt provenance literals like '{full_table_name}' in
                # the select list
                src = self.registry.get(name)
                src.createOrReplaceTempView(view)
                sql = _re.sub(r"(?i)\b(FROM|JOIN)\s+" + _re.escape(name)
                              + r"\b", rf"\1 {view}",
                              self._sql_for(name, src))
                df = self.spark.sql(sql)
            except Exception as e:  # per-table isolation (explorer.py:287-290)
                failures.append(f"{name}: {e}")
                continue
            df = (df.withColumn("table_catalog", F.lit(cat))
                    .withColumn("table_schema", F.lit(sch))
                    .withColumn("table_name", F.lit(tbl)))
            out = df if out is None else out.unionByName(df)
        if out is None:
            raise ValueError(
                f"no tables matched {self.from_tables!r} (or every unit "
                f"failed). Failures: " + ("; ".join(failures) or "none"))
        if failures:
            _warnings.warn(
                f"explorer.apply: {len(failures)} unit(s) failed and were "
                f"skipped: " + "; ".join(failures), stacklevel=2)
        return out

    def map(self, f: Callable[[str, DataFrame], object]) -> List[object]:
        """Python fan-out over matched tables (explorer.py:187-217) —
        prefer apply()/DataFrame ops; this exists for API parity."""
        return [f(name, self.registry.get(name)) for name in self.table_names()]
