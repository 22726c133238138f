"""The driver-side state store (``discoverx_spark.state_store``) under the
runner's lineage and metrics: compaction keeps every row exactly once
through a crash and through concurrent writers, and it keeps the read's
driver calls from growing with the appends."""

import threading

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from discoverx_spark import state_store
from discoverx_spark.lineage import (_LINEAGE_ARROW, LINEAGE_SCHEMA,
                                     METRICS_SCHEMA, ResumableRunner,
                                     write_bucketed)
from discoverx_spark.pipeline import PipelineConfig
from discoverx_spark.scrub import PII_CLASSES
from discoverx_spark.transcripts import generate_transcripts


def _lineage(runner):
    """The lineage rows as sorted tuples, without their timestamps."""
    return sorted(tuple(r)[:-1] for r in runner.lineage().collect())


def _append_rows(runner, prefix, n):
    for i in range(n):
        runner._append_lineage(f"{prefix}-{i}", "done", i, i, None, i % 3)


def test_interrupted_compaction_reads_whole(spark, tmp_path, monkeypatch):
    """A compaction that stops after renaming its file into place and
    before deleting the files it read leaves every row in two files; a
    read still returns each row once, and the next compaction folds the
    store into one file."""
    runner = ResumableRunner(spark, str(tmp_path / "state"))
    _append_rows(runner, "p", 5)
    before = _lineage(runner)
    append = state_store.append

    def crash_after_rename(*args):
        append(*args)
        raise RuntimeError("crash before the deletes")

    monkeypatch.setattr(state_store, "append", crash_after_rename)
    with pytest.raises(RuntimeError, match="crash"):
        state_store.compact(spark, runner.lineage_path, _LINEAGE_ARROW)
    monkeypatch.undo()
    assert len(state_store._data_files(spark, runner.lineage_path)) == 6
    assert _lineage(runner) == before
    assert runner.completed_partitions() == {f"p-{i}" for i in range(5)}
    state_store.compact(spark, runner.lineage_path, _LINEAGE_ARROW)
    assert len(state_store._data_files(spark, runner.lineage_path)) == 1
    assert _lineage(runner) == before


def test_concurrent_compactions_and_appends_keep_every_row(spark, tmp_path):
    """Two threads compact the lineage store while four append to it:
    every row is read exactly once afterwards."""
    runner = ResumableRunner(spark, str(tmp_path / "state"))
    _append_rows(runner, "seed", 6)
    errors = []

    def guarded(fn):
        def run():
            try:
                fn()
            except Exception as e:  # surfaced by the assert below
                errors.append(e)
        return run

    def compact():
        for _ in range(3):
            state_store.compact(spark, runner.lineage_path, _LINEAGE_ARROW)

    threads = ([threading.Thread(target=guarded(
        lambda t=t: _append_rows(runner, f"t{t}", 6))) for t in range(4)]
        + [threading.Thread(target=guarded(compact)) for _ in range(2)])
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    rows = _lineage(runner)
    want = {f"{p}-{i}" for p in ("seed", "t0", "t1", "t2", "t3")
            for i in range(6)}
    assert len(rows) == len(want) == 30
    assert {r[0] for r in rows} == want
    assert runner.completed_partitions() == want


def test_read_after_compaction_costs_what_one_file_costs(spark, tmp_path,
                                                         py4j_calls):
    """``run()`` compacts a store past ``COMPACT_AFTER`` files, so reading
    200 appends makes the Py4J round trips of reading one file."""
    one = ResumableRunner(spark, str(tmp_path / "one"))
    _append_rows(one, "p", 1)
    many = ResumableRunner(spark, str(tmp_path / "many"))
    _append_rows(many, "p", 200)
    assert len(state_store._data_files(spark, many.lineage_path)) == 200
    many.run(str(tmp_path / "src"), str(tmp_path / "out"), partitions=[])
    assert len(state_store._data_files(spark, many.lineage_path)) == 1
    calls = []
    for runner in (one, many):
        runner.completed_partitions()    # warm the JVM classes once
        n, done = py4j_calls(runner.completed_partitions)
        calls.append(n)
    assert done == {f"p-{i}" for i in range(200)}
    assert calls[0] == calls[1]


def _spark_metrics(spark, path, latest_only):
    """The metrics as a Spark read with the declared schema returns them,
    the newest row per (partition, class) with ``latest_only``."""
    m = spark.read.schema(METRICS_SCHEMA).parquet(path)
    if latest_only:
        w = Window.partitionBy("partition_id", "class_name") \
            .orderBy(F.desc("effective_timestamp"))
        m = (m.withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") == 1).drop("_rn"))
    return sorted(tuple(r)[:-1] for r in m.collect())


def test_metrics_of_a_crash_retried_run_equal_a_spark_read(spark, tmp_path,
                                                           monkeypatch):
    """A crash between a partition's metrics append and its 'done'
    lineage append makes the retry append its metrics again: the driver
    read returns the rows a Spark read does, with and without
    ``latest_only``, and the lineage rows equal a Spark read too."""
    src = str(tmp_path / "src")
    write_bucketed(generate_transcripts(spark, 12, seed=5), src, n_buckets=2)
    runner = ResumableRunner(spark, str(tmp_path / "state"))
    append_lineage = runner._append_lineage
    crashed = []

    def crash_once(part, status, *args):
        if part == "1" and status == "done" and not crashed:
            crashed.append(part)
            raise RuntimeError("crash after the metrics append")
        append_lineage(part, status, *args)

    monkeypatch.setattr(runner, "_append_lineage", crash_once)
    rep = runner.run(src, str(tmp_path / "out"), PipelineConfig())
    assert rep.processed == ["0"] and list(rep.failed) == ["1"]
    rep = runner.run(src, str(tmp_path / "out"), PipelineConfig())
    assert rep.processed == ["1"] and rep.skipped == ["0"]

    per_run = len(PII_CLASSES) + 1       # the classes and the keep rate
    for latest_only, n in ((True, 2 * per_run), (False, 3 * per_run)):
        got = sorted(tuple(r)[:-1]
                     for r in runner.metrics(latest_only).collect())
        assert len(got) == n
        assert got == _spark_metrics(spark, runner.metrics_path, latest_only)
    spark_lineage = sorted(
        tuple(r)[:-1] for r in
        spark.read.schema(LINEAGE_SCHEMA).parquet(runner.lineage_path)
        .collect())
    assert _lineage(runner) == spark_lineage
