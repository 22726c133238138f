"""TableFormat facade: parquet default implements the Iceberg contract
(read/append/overwrite/merge/file-stats/snapshots) behind one seam, and
lineage resume keys on snapshot ids (time-travel-shaped resume)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from discoverx_spark import state_store
from discoverx_spark.sources.table_format import (DEFAULT_FORMAT,
                                                  IcebergTableFormat,
                                                  ParquetTableFormat,
                                                  get_format)


@pytest.fixture
def fmt():
    return ParquetTableFormat()


def test_roundtrip_and_snapshot_log(spark, fmt, tmp_path):
    loc = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    fmt.overwrite(df, loc)
    assert fmt.current_snapshot_id(spark, loc) == 1
    assert sorted(map(tuple, fmt.read(spark, loc).collect())) == \
        [(1, "a"), (2, "b")]

    fmt.append(spark.createDataFrame([(3, "c")], "id long, v string"), loc)
    assert fmt.current_snapshot_id(spark, loc) == 2
    assert fmt.read(spark, loc).count() == 3

    ops = [r["operation"] for r in
           fmt.snapshots(spark, loc).orderBy("snapshot_id").collect()]
    assert ops == ["overwrite", "append"]


def test_snapshots_propagates_corrupt_log_errors(spark, fmt, tmp_path):
    # ONLY a missing log may read as "no snapshots yet".  A corrupt /
    # unreadable log must raise: silently returning an empty log would
    # restart snapshot ids at 1, breaking the monotonic-id contract that
    # snapshot-pinned resume keys on (ADVICE r4, table_format.py).
    loc = str(tmp_path / "t")
    assert fmt.snapshots(spark, loc).count() == 0  # missing → empty, OK

    log_dir = tmp_path / "t._snapshots"
    log_dir.mkdir()
    (log_dir / "part-00000.parquet").write_text("this is not parquet")
    with pytest.raises(Exception):
        fmt.snapshots(spark, loc).collect()


def test_spark_written_snapshot_log_reads_as_before(spark, fmt, tmp_path):
    """A log that Spark appended (one file per record, INT96 timestamps,
    ``_SUCCESS`` markers) reads as the same rows, and new records
    continue its ids."""
    loc = str(tmp_path / "t")
    for sid, op in ((1, "overwrite"), (2, "append")):
        (spark.createDataFrame([(sid, op)],
                               "snapshot_id long, operation string")
         .withColumn("effective_timestamp", F.current_timestamp())
         .coalesce(1).write.mode("append").parquet(fmt._log_path(loc)))
    legacy = sorted(map(tuple, spark.read.parquet(fmt._log_path(loc))
                        .collect()))
    assert fmt.current_snapshot_id(spark, loc) == 2
    assert sorted(map(tuple, fmt.snapshots(spark, loc).collect())) == legacy
    fmt.append(spark.createDataFrame([(1,)], "id long"), loc)
    assert fmt.current_snapshot_id(spark, loc) == 3
    assert [r["operation"] for r in fmt.snapshots(spark, loc)
            .orderBy("snapshot_id").collect()] == [
                "overwrite", "append", "append"]


def test_snapshot_log_compacts_past_the_file_bound(spark, fmt, tmp_path):
    """Each record appends one file until the log would pass
    ``COMPACT_AFTER`` files; that record folds the log into one."""
    loc = str(tmp_path / "t")
    log = fmt._log_path(loc)
    for i in range(state_store.COMPACT_AFTER):
        assert fmt._record(spark, loc, "append") == i + 1
    assert len(state_store._data_files(spark, log)) == state_store.COMPACT_AFTER
    assert fmt._record(spark, loc, "merge") == state_store.COMPACT_AFTER + 1
    assert len(state_store._data_files(spark, log)) == 1
    assert [r["snapshot_id"] for r in fmt.snapshots(spark, loc)
            .orderBy("snapshot_id").collect()] == list(
                range(1, state_store.COMPACT_AFTER + 2))


def test_merge_contract_and_idempotency(spark, fmt, tmp_path):
    loc = str(tmp_path / "t")
    fmt.overwrite(spark.createDataFrame(
        [(1, "old"), (2, "keep")], "id long, v string"), loc)
    new = spark.createDataFrame([(1, "new"), (3, "ins")], "id long, v string")
    fmt.merge(spark, new, loc, ["id"])
    got = {r["id"]: r["v"] for r in fmt.read(spark, loc).collect()}
    assert got == {1: "new", 2: "keep", 3: "ins"}
    sid = fmt.current_snapshot_id(spark, loc)
    # idempotent re-merge: same data, new snapshot
    fmt.merge(spark, new, loc, ["id"])
    assert {r["id"]: r["v"] for r in fmt.read(spark, loc).collect()} == got
    assert fmt.current_snapshot_id(spark, loc) == sid + 1


def test_overwrite_preserves_snapshot_history(spark, fmt, tmp_path):
    """The log lives beside the table dir, so a full overwrite (which
    deletes the directory) keeps history monotonic."""
    loc = str(tmp_path / "t")
    df = spark.createDataFrame([(1,)], "id long")
    fmt.overwrite(df, loc)
    fmt.overwrite(df, loc)
    fmt.overwrite(df, loc)
    assert fmt.current_snapshot_id(spark, loc) == 3


def test_file_stats_through_facade(spark, fmt, tmp_path):
    loc = str(tmp_path / "t")
    fmt.overwrite(spark.range(100).withColumn("p", F.col("id") % 2), loc)
    stats = fmt.file_stats(spark, loc, "t")
    row = stats.agg(F.sum("number_of_files").alias("n"),
                    F.sum("bytes").alias("b")).first()
    assert row["n"] >= 1 and row["b"] > 0


def test_get_format_and_iceberg_gate(spark):
    assert get_format(spark, "parquet") is DEFAULT_FORMAT
    with pytest.raises(RuntimeError, match="Iceberg runtime"):
        IcebergTableFormat(spark)
    with pytest.raises(ValueError):
        get_format(spark, "delta-lake-typo")


def test_io_merge_upsert_routes_through_facade(spark, tmp_path):
    """The legacy helper now emits snapshot records — proof the engine's
    merge path runs behind the facade."""
    from discoverx_spark.sources.io import merge_upsert

    loc = str(tmp_path / "t")
    merge_upsert(spark, spark.createDataFrame([(1, "a")], "id long, v string"),
                 loc, ["id"])
    merge_upsert(spark, spark.createDataFrame([(1, "b")], "id long, v string"),
                 loc, ["id"])
    assert {r["id"]: r["v"] for r in spark.read.parquet(loc).collect()} == \
        {1: "b"}
    assert DEFAULT_FORMAT.current_snapshot_id(spark, loc) == 2


def test_lineage_snapshot_resume(spark, tmp_path):
    """run(snapshot_id=N) resumes only against the same input snapshot:
    advancing the source table invalidates completed work."""
    from discoverx_spark.lineage import ResumableRunner, write_bucketed
    from discoverx_spark.transcripts import generate_transcripts

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    write_bucketed(generate_transcripts(spark, 12, seed=7), src, n_buckets=4)

    runner = ResumableRunner(spark, str(tmp_path / "state"))
    r1 = runner.run(src, out, snapshot_id=1)
    assert len(r1.processed) == 4 and not r1.skipped

    # same snapshot → everything skipped
    r2 = runner.run(src, out, snapshot_id=1)
    assert len(r2.skipped) == 4 and not r2.processed

    # source advanced → stale work is redone
    r3 = runner.run(src, out, snapshot_id=2)
    assert len(r3.processed) == 4 and not r3.skipped

    # unpinned resume still sees the partitions as done (legacy behavior)
    r4 = runner.run(src, out)
    assert len(r4.skipped) == 4


def test_lineage_mixed_schema_snapshot_resume(spark, tmp_path):
    """A state_dir whose first lineage files predate snapshot-id tracking
    (no snapshot_id column) must still support pinned resume after the
    upgrade — the lineage read merges schemas across files."""
    from pyspark.sql import functions as F

    from discoverx_spark.lineage import ResumableRunner, write_bucketed
    from discoverx_spark.transcripts import generate_transcripts

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    write_bucketed(generate_transcripts(spark, 8, seed=5), src, n_buckets=2)
    runner = ResumableRunner(spark, str(tmp_path / "state"))

    # legacy 6-column row (pre-upgrade layout) written directly
    legacy = spark.createDataFrame(
        [("0", "done", 10, 10, 0, None)],
        "partition_id string, status string, rows_in long, rows_kept long, "
        "rows_dropped long, error string").withColumn(
            "effective_timestamp", F.current_timestamp())
    legacy.coalesce(1).write.mode("append").parquet(runner.lineage_path)

    # unpinned resume: legacy 'done' row counts
    assert runner.completed_partitions() == {"0"}
    # pinned resume: legacy NULL-snapshot rows never count
    assert runner.completed_partitions(snapshot_id=7) == set()

    r = runner.run(src, out, snapshot_id=7)
    assert sorted(r.processed) == ["0", "1"]
    # both column layouts coexist in the dir; pinned resume still works
    assert runner.completed_partitions(snapshot_id=7) == {"0", "1"}
    r2 = runner.run(src, out, snapshot_id=7)
    assert len(r2.skipped) == 2 and not r2.processed
