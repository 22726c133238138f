"""Scanner golden tests — mirrors reference tests/unit/scanner_test.py:182-259
(tb_1 fixture: the ip column scores ip_v4 = 1.0, mac column scores
mac_address = 1.0, description scores 0.0)."""

import pytest
from pyspark.sql import functions as F

from discoverx_spark.rules import Rules
from discoverx_spark.scanner import (ScanResult, Scanner, TableRegistry,
                                     classify_scores, string_columns)


@pytest.fixture(scope="module")
def tb_1(spark):
    # reference tests/unit/conftest.py:129-137 / data/tb_1.csv
    return spark.createDataFrame(
        [(1, "1.2.3.4", "00-B0-D0-63-C2-26", "this is a description"),
         (2, "3.4.5.60", "00-B0-D0-63-C2-24", "some ip address")],
        "id int, ip string, mac string, description string")


def scores_dict(df):
    return {(r["column_name"], r["class_name"]): r["score"] for r in df.collect()}


def test_string_columns(tb_1):
    assert string_columns(tb_1) == ["ip", "mac", "description"]
    assert string_columns(tb_1, "ip*") == ["ip"]


def test_classify_scores_golden(tb_1):
    rules = Rules(locale="us").get_rules("*")
    out = classify_scores(tb_1, rules, table_catalog="c", table_schema="s",
                          table_name="tb_1")
    d = scores_dict(out)
    assert d[("ip", "ip_v4")] == 1.0
    assert d[("mac", "mac_address")] == 1.0
    assert d[("description", "ip_v4")] == 0.0
    assert d[("ip", "mac_address")] == 0.0
    assert d[("ip", "email")] == 0.0
    # every (col, rule) pair present
    assert len(d) == 3 * 18


def test_classify_scores_fractional(spark):
    df = spark.createDataFrame(
        [("1.2.3.4",), ("not an ip",), ("5.6.7.8",), (None,)], "v string")
    rules = Rules().get_rules("ip_v4")
    d = scores_dict(classify_scores(df, rules, table_name="t"))
    # nulls excluded from numerator AND denominator (scanner.py:325 semantics)
    assert d[("v", "ip_v4")] == pytest.approx(2 / 3)


def test_classify_scores_all_null(spark):
    df = spark.createDataFrame([(None,), (None,)], "v string")
    d = scores_dict(classify_scores(df, Rules().get_rules("ip_v4"),
                                    table_name="t"))
    assert d[("v", "ip_v4")] is None


def test_sample_fraction(spark):
    df = spark.range(2000).select(
        F.when(F.col("id") % 2 == 0, F.lit("1.2.3.4")).otherwise(F.lit("x"))
        .alias("v"))
    rules = Rules().get_rules("ip_v4")
    d = scores_dict(classify_scores(df, rules, sample_fraction=0.5,
                                    table_name="t"))
    assert d[("v", "ip_v4")] == pytest.approx(0.5, abs=0.1)
    # deterministic under a fixed seed
    d2 = scores_dict(classify_scores(df, rules, sample_fraction=0.5,
                                     table_name="t"))
    assert d == d2


def test_sample_size_limits_rows(spark):
    df = spark.range(100).select(
        F.when(F.col("id") < 50, F.lit("1.2.3.4")).otherwise(F.lit("x")).alias("v"))
    rules = Rules().get_rules("ip_v4")
    d = scores_dict(classify_scores(df, rules, sample_size=10, table_name="t"))
    assert 0.0 <= d[("v", "ip_v4")] <= 1.0


def test_scanner_registry_and_wildcards(spark, tb_1):
    reg = TableRegistry()
    reg.register("main.default.tb_1", tb_1)
    reg.register("main.other.tb_x", tb_1)
    assert reg.resolve("*.*.*") == ["main.default.tb_1", "main.other.tb_x"]
    assert reg.resolve("main.default.*") == ["main.default.tb_1"]
    scanner = Scanner(reg, locale="us")
    res = scanner.scan("main.default.*")
    d = {(r["table_name"], r["column_name"], r["class_name"]): r["score"]
         for r in res.df.collect()}
    assert d[("tb_1", "ip", "ip_v4")] == 1.0
    classes = res.get_classes(min_score=0.95)
    assert ("main", "default", "tb_1", "ip", "ip_v4") in classes
    assert ("main", "default", "tb_1", "mac", "mac_address") in classes


def test_scan_result_save_load_merge(spark, tb_1, tmp_path):
    """MERGE-upsert semantics (reference scanner.py:103-119 +
    scanner_test.py:262-307): saving twice keeps one row per key; changed
    scores update in place."""
    path = str(tmp_path / "scan_state")
    reg = TableRegistry()
    reg.register("main.default.tb_1", tb_1)
    res = Scanner(reg, locale="us").scan("*.*.*")
    res.save(path)
    first = ScanResult.load(spark, path)
    n1 = first.df.count()
    res.save(path)  # idempotent re-save
    second = ScanResult.load(spark, path)
    assert second.df.count() == n1
    key_cols = ["table_catalog", "table_schema", "table_name",
                "column_name", "class_name"]
    assert second.df.select(*key_cols).distinct().count() == n1


def test_scan_handles_special_char_column_names(spark):
    """Reference fixture scans a column literally named `ip.v2`
    (tests/unit/conftest.py:140-146) — dots must not be parsed as struct
    access anywhere in the scan/select path."""
    from discoverx_spark.dx import DX

    df = spark.createDataFrame([(1, "1.2.3.4"), (2, "3.4.5.60")],
                               ["id", "ip.v2"])
    dx = DX(spark)
    dx.registry.register("main.default.tb_dotted", df)
    scan = dx.scan(from_tables="main.default.tb_dotted", sample_size=None)
    classes = {(c[3], c[4]) for c in scan.get_classes(min_score=0.95)}
    assert ("ip.v2", "ip_v4") in classes
    rows = dx.search("1.2.3.4", by_class="ip_v4").collect()
    assert len(rows) == 1 and rows[0]["classified"] == {"ip_v4": "1.2.3.4"}


def test_scan_result_is_materialized_once(spark, tb_1, tmp_path):
    """The scan result is computed at scan time: rewriting a scanned table
    afterwards (as a confirmed delete_by_class does) leaves the classes
    resolved from it unchanged."""
    path = str(tmp_path / "tb_1")
    tb_1.write.parquet(path)
    reg = TableRegistry()
    reg.register("main.default.tb_1", lambda: spark.read.parquet(path))
    res = Scanner(reg, locale="us").scan("*.*.*")
    before = res.get_classes()
    assert ("main", "default", "tb_1", "ip", "ip_v4") in before

    tb_1.withColumn("ip", F.lit("not an address")).write.mode(
        "overwrite").parquet(path)
    assert res.get_classes() == before
