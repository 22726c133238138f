"""Scanner golden tests — mirrors reference tests/unit/scanner_test.py:182-259
(tb_1 fixture: the ip column scores ip_v4 = 1.0, mac column scores
mac_address = 1.0, description scores 0.0)."""

import glob
import os
import subprocess
import sys
import textwrap
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from discoverx_spark import state_store
from discoverx_spark.rules import Rules
from discoverx_spark.scanner import (_ARROW_STATE, _KEY, SCAN_STATE_SCHEMA,
                                     ScanResult, Scanner, TableRegistry,
                                     _arrow_rows, _local_frame, _sql_literal,
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
    # the first 10 rows in read order, ids 0-9: every one an address
    assert d[("v", "ip_v4")] == 1.0


def test_sample_is_one_task_per_table_and_its_first_rows(spark, tmp_path,
                                                          stage_tasks):
    """A ``sample_size`` scan of a multi-file table is one task that
    reads the splits in order and stops at N rows: its scores are those
    of the first N rows the table's own read returns, and a scan of two
    tables is one job of one stage with one task per table."""
    n = 100
    paths = {}
    for name, step in (("a", 3), ("b", 5)):
        # 6 files of 40 rows, most with their own share of addresses, so
        # which rows the sample holds shows in the score
        paths[name] = str(tmp_path / name)
        os.makedirs(paths[name])
        for k in range(6):
            values = ["1.2.3.4" if (i + k) % step < k % step else "x"
                      for i in range(40)]
            pq.write_table(pa.table({"v": values}),
                           os.path.join(paths[name], f"part-{k}.parquet"))
    rules = Rules(locale="us").get_rules("*")
    reg = TableRegistry()
    for name, path in paths.items():
        df = spark.read.parquet(path)
        assert len(df.inputFiles()) == 6 and df.count() > n
        want = scores_dict(classify_scores(
            spark.createDataFrame(df.collect()[:n], df.schema), rules,
            sample_size=None, table_name=name))
        assert scores_dict(classify_scores(df, rules, sample_size=n,
                                           table_name=name)) == want
        reg.register(f"main.s.{name}", df)
    jobs, tasks, res = stage_tasks(
        lambda: Scanner(reg, locale="us", sample_size=n).scan())
    assert (jobs, tasks) == (1, [len(paths)])
    assert {r["table_name"] for r in res.df.collect()} == set(paths)


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


def test_classify_scores_quotes_hostile_patterns_and_names(spark):
    """Patterns and column names reach Spark exactly: a rule pattern with
    a quote and backslashes, a column name with a backtick and a dotted
    one.  Each score is the non-null match fraction, recomputed with
    Python ``re`` (``regexp_like`` is a search, as ``re.search``)."""
    import re

    from discoverx_spark.rules import RegexRule

    rules = [RegexRule("quote_word", "a quote inside a word",
                       r"^[a-z]+'[a-z\\]+$"),
             RegexRule("back'slash", "a literal backslash", "\\\\"),
             RegexRule("digits", "a digit class", r"\d{2}")]
    values = {
        "we`ird": ["it's", "o'k\\", "plain", None, "12"],
        "ip.v2": ["a\\b", "'q'", None, None, "x'y"],
        "plain": ["no", "99 red", "don't", "c:\\dir", None],
    }
    names = list(values)
    rows = list(zip(*values.values()))
    df = spark.createDataFrame(rows, names)
    got = scores_dict(classify_scores(df, rules, sample_size=None,
                                      table_name="t"))
    assert len(got) == len(names) * len(rules)
    for c in names:
        seen = [v for v in values[c] if v is not None]
        for r in rules:
            expect = sum(bool(re.search(r.pattern, v)) for v in seen) / len(seen)
            assert got[(c, r.name)] == expect, (c, r.name)
    assert got[("we`ird", "quote_word")] == 2 / 4
    assert got[("ip.v2", "back'slash")] == 1 / 3


def test_save_merge_keeps_old_keys_and_their_timestamps(spark, tb_1,
                                                         tmp_path):
    """A second save replaces the keys it carries (new score, new
    effective_timestamp) and keeps every other key as it was."""
    from discoverx_spark.scanner import SCAN_STATE_SCHEMA

    path = str(tmp_path / "state")
    reg = TableRegistry()
    reg.register("main.default.tb_1", tb_1)
    reg.register("main.other.tb_2", tb_1.select("id", "mac"))
    Scanner(reg, locale="us").scan("*.*.*").save(path)

    def state():
        return {tuple(r[:5]): (r["score"], r["effective_timestamp"])
                for r in spark.read.schema(SCAN_STATE_SCHEMA)
                .parquet(path).collect()}

    first = state()
    rescan = Scanner(reg, locale="us").scan("main.default.*")
    rescan.save(path)
    second = state()
    assert set(second) == set(first)
    new_keys = {tuple(r[:5]) for r in rescan.df.collect()}
    assert new_keys and new_keys < set(first)
    for key, (score, ts) in second.items():
        assert score == first[key][0]
        if key in new_keys:
            assert ts > first[key][1]
        else:
            assert ts == first[key][1]
    loaded = ScanResult.load(spark, path)
    assert sorted(loaded.get_classes()) == sorted(
        (k[0], k[1], k[2], k[3], k[4]) for k, (s, _) in first.items()
        if s is not None and s >= 0.95)


def _key(table, column, klass):
    return ("main", "s", table, column, klass)


def _result(spark, rows):
    """A ScanResult of ``(key, score)`` pairs."""
    return ScanResult(df=_local_frame(spark, [k + (s,) for k, s in rows]))


def _spark_state(spark, path):
    """The state as Spark reads it: {key: (score, effective_timestamp)},
    the timestamps as UTC instants."""
    table = spark.read.schema(SCAN_STATE_SCHEMA).parquet(path).toArrow()
    return {tuple(r.values())[:5]: (r["score"], r["effective_timestamp"])
            for r in table.to_pylist()}


def _loaded(spark, path):
    return {tuple(r[:5]): r["score"]
            for r in ScanResult.load(spark, path).df.collect()}


def _read_state(spark, path):
    """The state's store as a save reads it: (newest row per key, files)."""
    return state_store.read(spark, path, _ARROW_STATE, key=_KEY)


def test_state_written_by_spark_loads_and_merges(spark, tmp_path):
    """A state directory that Spark wrote (INT96 timestamps, a
    ``_SUCCESS`` marker) reads as the same rows and instants, and a merge
    into it keeps the instants of the keys it does not replace."""
    path = str(tmp_path / "state")
    t0 = datetime(2024, 5, 1, 12, 30, 15, 123456, tzinfo=timezone.utc)
    t1 = t0 + timedelta(days=3, microseconds=7)
    rows = [_key("t", "ip", "ip_v4") + (1.0, t0),
            _key("t", "ip", "email") + (0.0, t1),
            _key("u", "mac", "mac_address") + (None, t1)]
    _local_frame(spark, rows, _ARROW_STATE).write.parquet(path)
    written = glob.glob(os.path.join(path, "part-*.parquet"))
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert {pq.ParquetFile(f).schema.column(6).physical_type
            for f in written} == {"INT96"}

    state, files = _read_state(spark, path)
    assert sorted(state, key=repr) == sorted(rows, key=repr)
    assert sorted(files) == sorted("file:" + f for f in written)
    assert _loaded(spark, path) == {r[:5]: r[5] for r in rows}

    _result(spark, [(rows[0][:5], 0.5)]).save(path)
    assert not any(os.path.exists(f) for f in written)
    merged = _spark_state(spark, path)
    assert sorted(_read_state(spark, path)[0], key=repr) == sorted(
        (k + v for k, v in merged.items()), key=repr)
    score, stamp = merged.pop(rows[0][:5])
    assert score == 0.5 and stamp > t1
    assert merged == {r[:5]: r[5:] for r in rows[1:]}


def test_state_ignores_a_hidden_part_file(spark, tmp_path):
    """A save that stopped before its rename leaves a hidden
    ``.part-*`` file, which neither a load nor the next save reads."""
    path = str(tmp_path / "state")
    _result(spark, [(_key("t", "ip", "ip_v4"), 1.0)]).save(path)
    ghost = pa.Table.from_pylist(
        [dict(zip(_ARROW_STATE.names, _key("ghost", "c", "email") + (
            1.0, datetime.now(timezone.utc))))], schema=_ARROW_STATE)
    pq.write_table(ghost, os.path.join(path, ".part-left-over.parquet"))
    assert _loaded(spark, path) == {_key("t", "ip", "ip_v4"): 1.0}
    _result(spark, [(_key("t", "ip", "email"), 0.0)]).save(path)
    assert _loaded(spark, path) == {_key("t", "ip", "ip_v4"): 1.0,
                                    _key("t", "ip", "email"): 0.0}


def test_two_state_generations_load_newest_row_per_key(spark, tmp_path):
    """A save that stopped between its rename and its deletes leaves two
    visible generations: each key loads once, its newest row winning,
    and the next save folds both into one file."""
    path = str(tmp_path / "state")
    a, b, c = (_key("t", "ip", k) for k in ("ip_v4", "email", "mac_address"))
    _result(spark, [(a, 1.0), (b, 1.0)]).save(path)
    saved = _spark_state(spark, path)[a][1]
    state_store.append(spark, path, _arrow_rows(
        [a + (0.25, saved + timedelta(seconds=1)),
         b + (0.5, saved - timedelta(seconds=1)),
         c + (0.75, saved)], _ARROW_STATE))
    assert len(glob.glob(os.path.join(path, "part-*.parquet"))) == 2
    state, _ = _read_state(spark, path)
    assert len(state) == 3
    assert _loaded(spark, path) == {a: 0.25, b: 1.0, c: 0.75}
    d = _key("u", "ip", "ip_v4")
    _result(spark, [(d, 0.0)]).save(path)
    assert len(glob.glob(os.path.join(path, "part-*.parquet"))) == 1
    assert _loaded(spark, path) == {a: 0.25, b: 1.0, c: 0.75, d: 0.0}


def test_concurrent_saves_keep_every_key(spark, tmp_path):
    """Saves that run at once each write the keys they read plus their
    own, and delete only the files they read: no key is lost."""
    path = str(tmp_path / "state")
    results = [_result(spark, [(_key(f"t{i}", "c", "email"), i / 8)])
               for i in range(8)]
    with ThreadPoolExecutor(4) as pool:
        list(pool.map(lambda r: r.save(path), results))
    assert _loaded(spark, path) == {_key(f"t{i}", "c", "email"): i / 8
                                    for i in range(8)}


def test_stale_listing_reads_again(spark, tmp_path, monkeypatch):
    """A listing taken before another save replaced the state names files
    that save has deleted; the read lists again instead of returning what
    is left of the stale listing (nothing, here)."""
    path = str(tmp_path / "state")
    a, b = _key("t", "ip", "ip_v4"), _key("t", "ip", "email")
    _result(spark, [(a, 1.0)]).save(path)
    stale = state_store._data_files(spark, path)
    _result(spark, [(b, 0.5)]).save(path)
    listings = []
    fresh = state_store._data_files

    def listing(spark, path):
        listings.append(path)
        return stale if len(listings) == 1 else fresh(spark, path)

    monkeypatch.setattr(state_store, "_data_files", listing)
    assert _loaded(spark, path) == {a: 1.0, b: 0.5}
    assert len(listings) == 2


_MISSING_PATH_SESSION = textwrap.dedent("""
    import sys
    from pyspark.sql import Observation, SparkSession
    from pyspark.sql import functions as F
    from discoverx_spark.scanner import _read_parquet_if_exists

    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false").getOrCreate())
    obs = Observation("rows")
    (spark.range(3).observe(obs, F.count(F.lit(1)).alias("n"))
     .write.format("noop").mode("overwrite").save())
    print(obs.get["n"],
          _read_parquet_if_exists(spark, sys.argv[1] + "/a"),
          _read_parquet_if_exists(spark, sys.argv[1] + "/b"))
    spark.stop()
""")


def test_missing_path_after_observation_logs_nothing(tmp_path):
    """Once an ``Observation`` has run in a session, a read of a missing
    path also fails inside its query listener, which logs an ERROR trace.
    A missing state path is asked of the file system first, so it reads
    as None without one (a fresh runner state dir, a first save)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join(
                   filter(None, [root, os.environ.get("PYTHONPATH")])))
    proc = subprocess.run(
        [sys.executable, "-c", _MISSING_PATH_SESSION, str(tmp_path)],
        capture_output=True, text=True, timeout=600, env=env)
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.split() == ["3", "None", "None"]
    assert "Listener threw" not in proc.stderr


@pytest.mark.parametrize("value", [
    0, -2**31, 2**31 - 1, 2**31, -2**31 - 1, 2**62, 16.0, -0.0, 1e-300,
    1.5e300, 0.1, float("inf"), float("-inf"), float("nan"), "en", "x'y\\z", ""])
def test_sql_literal_is_f_lit(spark, value):
    """A config value rendered into SQL text has the type and value
    ``F.lit`` gives it (a non-finite double is a cast, which Spark types
    as nullable)."""
    got = spark.range(1).selectExpr(f"{_sql_literal(value)} AS v")
    want = spark.range(1).select(F.lit(value).alias("v"))
    assert got.schema["v"].dataType == want.schema["v"].dataType
    assert repr(got.first()["v"]) == repr(want.first()["v"])
