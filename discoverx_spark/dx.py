"""DX — the user-facing facade (reference ``/root/reference/discoverx/dx.py``).

One object wiring the registry, rule set, scanner, M-SQL layer and
explorer together:

    dx = DX(spark, locale="us")
    dx.register("main.default.users", users_df)
    result = dx.scan(from_tables="main.*.*", rules="*", sample_size=10000)
    dx.search("192.1.1.1", from_tables="*.*.*")
    dx.select_by_classes(by_classes=["ip_v4"])
    dx.delete_by_class(from_tables="*.*.*", by_class="ip_v4",
                       values=["1.2.3.4"], yes_i_am_sure=True)
    dx.from_tables("*.*.*").having_columns("ip").with_sql(
        "SELECT count(*) AS n FROM {full_table_name}").apply()

Differences from the reference: tables live in an explicit
:class:`TableRegistry` instead of a Unity Catalog metastore; scan state
persists to parquet with MERGE-upsert semantics; everything returns
DataFrames (no driver-side pandas fan-in, scanner.py:281's anti-pattern).
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession

from . import msql as _msql
from .explorer import DataExplorer
from .rules import RegexRule, Rules
from .scanner import ScanResult, Scanner, TableRegistry, read_parquet


class DX:
    def __init__(self, spark: SparkSession, locale: Optional[str] = None,
                 custom_rules: Optional[List[RegexRule]] = None,
                 registry: Optional[TableRegistry] = None):
        self.spark = spark
        self.rules = Rules(locale=locale, custom_rules=custom_rules)
        self.registry = registry or TableRegistry()
        self.scan_result: Optional[ScanResult] = None

    # -- registry -----------------------------------------------------------

    def register(self, full_name: str, df: DataFrame) -> "DX":
        self.registry.register(full_name, df)
        return self

    def register_parquet(self, full_name: str, path: str) -> "DX":
        """Register a parquet dataset by path.  The first read of the table
        takes its schema from a file footer read on the driver
        (:func:`scanner.read_parquet`, no Spark job) and records it; every
        later read passes that schema.  Registration itself reads
        nothing.  As with a metastore entry, a change to the files'
        schema needs a re-register."""
        schema = None

        def read() -> DataFrame:
            nonlocal schema
            df = (read_parquet(self.spark, path) if schema is None
                  else self.spark.read.schema(schema).parquet(path))
            schema = df.schema
            return df

        self.registry.register(full_name, read)
        return self

    # -- rules (reference dx.py:70-98) ---------------------------------------

    def intro(self) -> str:
        """Getting-started blurb (reference dx.intro, dx.py:61-110 prints
        HTML; here a plain string is returned AND printed)."""
        text = (
            "DX — scan, classify and act on your tables.\n"
            "  1. register tables:   dx.register('cat.sch.tbl', df)\n"
            "  2. scan:              dx.scan(from_tables='*.*.*')\n"
            "  3. inspect classes:   dx.scan_result.get_classes()\n"
            "  4. act:               dx.search(...) / dx.select_by_classes(...)"
            " / dx.delete_by_class(...) / dx.scrub_by_classes(...)\n"
            "  5. explore:           dx.from_tables('*.*.*')"
            ".having_columns(...).with_sql('...').apply()\n"
            f"Rules available: {len(self.rules.get_rules('*'))} "
            "(dx.display_rules())")
        print(text)
        return text

    def display_rules(self) -> List[str]:
        return [f"{r.name} - {r.description}" for r in self.rules.get_rules("*")]

    # -- scanning (reference dx.py:100-160) ----------------------------------

    def scan(self, from_tables: str = "*.*.*", rules: str = "*",
             sample_size: Optional[int] = 10000,
             columns: str = "*") -> ScanResult:
        scanner = Scanner(self.registry, rules=self.rules, rule_filter=rules,
                          sample_size=sample_size)
        self.scan_result = scanner.scan(from_tables, columns=columns)
        return self.scan_result

    def save(self, path: str) -> None:
        self._require_scan().save(path)

    def load(self, path: str) -> ScanResult:
        self.scan_result = ScanResult.load(self.spark, path)
        return self.scan_result

    def _require_scan(self) -> ScanResult:
        if self.scan_result is None:
            raise ValueError("run scan() or load() first (reference dx.py:416-419)")
        return self.scan_result

    # -- class-driven actions (reference dx.py:236-388) -----------------------

    def search(self, search_term: str, from_tables: str = "*.*.*",
               by_class: Optional[str] = None,
               min_score: float = 0.95) -> DataFrame:
        """Search classified columns for a literal value.  Without
        ``by_class`` the class is auto-inferred from the rule registry
        (reference dx.py:236-260): exactly one matching rule is required —
        zero or multiple matches raise, asking the caller to disambiguate."""
        if by_class is None:
            candidates = self.rules.match_search_term(search_term)
            if not candidates:
                raise ValueError(
                    "Could not infer any class for the given search term. "
                    "Please specify the by_class parameter.")
            if len(candidates) > 1:
                raise ValueError(
                    f"Multiple classes {candidates} match the given search "
                    f"term ({search_term!r}). Please specify the class to "
                    f"search in with the by_class parameter.")
            by_class = candidates[0]
        return _msql.search(self.spark, self.registry, self._require_scan(),
                            search_term, from_tables, by_class, min_score)

    def select_by_classes(self, from_tables: str = "*.*.*",
                          by_classes: Optional[List[str]] = None,
                          min_score: float = 0.95) -> DataFrame:
        return _msql.select_by_classes(self.spark, self.registry,
                                       self._require_scan(), from_tables,
                                       by_classes, min_score)

    def delete_by_class(self, from_tables: str, by_class: str,
                        values: List[str], yes_i_am_sure: bool = False,
                        min_score: float = 0.95):
        return _msql.delete_by_class(self.spark, self.registry,
                                     self._require_scan(), from_tables,
                                     by_class, values, min_score,
                                     yes_i_am_sure)

    def scrub_by_classes(self, from_tables: str = "*.*.*",
                         min_score: float = 0.95):
        return _msql.scrub_by_classes(self.spark, self.registry,
                                      self._require_scan(), from_tables,
                                      min_score)

    def msql(self, msql_expr: str, what_if: bool = False,
             min_score: float = 0.95) -> Optional[DataFrame]:
        """Run a raw M-SQL expression (reference dx.py:390-414)."""
        q = _msql.Msql(msql_expr)
        return q.execute(self.spark, self.registry,
                         self._require_scan().get_classes(min_score),
                         what_if=what_if)

    # -- explorer (reference dx.py:62-68) -------------------------------------

    def from_tables(self, pattern: str = "*.*.*") -> DataExplorer:
        return DataExplorer(self.registry, self.spark, from_tables=pattern)
