"""Resumability tests: skip-done, error isolation, byte-identical resume."""

import os
import threading
import uuid

import pytest
from pyspark.sql import functions as F

from discoverx_spark.lineage import (ResumableRunner, bucket_transcripts,
                                     list_partitions, write_bucketed)
from discoverx_spark.pipeline import PipelineConfig
from discoverx_spark.transcripts import generate_transcripts

CFG = PipelineConfig()


@pytest.fixture(scope="module")
def bucketed_input(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("transcripts") / "in")
    df = generate_transcripts(spark, 80, seed=11)
    write_bucketed(df, path, n_buckets=4)
    return path


def read_decisions(spark, path):
    df = spark.read.parquet(path)
    rows = df.orderBy("conv_id", "turn_idx").collect()
    return [(r["conv_id"], r["turn_idx"], r["keep"], r["scrubbed_text"],
             tuple(r["drop_reasons"])) for r in rows]


def test_bucketing_is_conv_local(spark, bucketed_input):
    df = spark.read.parquet(bucketed_input)
    multi = (df.groupBy("conv_id")
             .agg(F.countDistinct("part_id").alias("n"))
             .filter(F.col("n") > 1).count())
    assert multi == 0
    assert sorted(list_partitions(bucketed_input)) == ["0", "1", "2", "3"]


def test_full_run_then_resume_noop(spark, bucketed_input, tmp_path):
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    runner = ResumableRunner(spark, state)
    rep = runner.run(bucketed_input, out, CFG)
    assert sorted(rep.processed) == ["0", "1", "2", "3"] and not rep.failed

    rep2 = ResumableRunner(spark, state).run(bucketed_input, out, CFG)
    assert rep2.skipped == ["0", "1", "2", "3"] and not rep2.processed

    lin = runner.lineage()
    assert lin.filter(F.col("status") == "done").count() == 4
    met = runner.metrics()
    assert met.filter(F.col("class_name") == "keep_rate").count() == 4


def test_failure_isolation_and_resume_identical(spark, bucketed_input, tmp_path):
    out_a = str(tmp_path / "out_a")
    state_a = str(tmp_path / "state_a")
    runner = ResumableRunner(spark, state_a)
    rep = runner.run(bucketed_input, out_a, CFG, fail_on=lambda p: p == "2")
    assert sorted(rep.processed) == ["0", "1", "3"]
    assert "2" in rep.failed and "injected" in rep.failed["2"]
    lin = runner.lineage()
    assert lin.filter((F.col("partition_id") == "2")
                      & (F.col("status") == "failed")).count() == 1

    # resume: only the failed partition runs
    rep2 = ResumableRunner(spark, state_a).run(bucketed_input, out_a, CFG)
    assert rep2.processed == ["2"] and sorted(rep2.skipped) == ["0", "1", "3"]

    # one-shot run in a fresh state dir → byte-identical decisions
    out_b = str(tmp_path / "out_b")
    ResumableRunner(spark, str(tmp_path / "state_b")).run(bucketed_input, out_b, CFG)
    assert read_decisions(spark, out_a) == read_decisions(spark, out_b)


def test_timestamps_only_in_lineage(spark, bucketed_input, tmp_path):
    out = str(tmp_path / "o")
    runner = ResumableRunner(spark, str(tmp_path / "s"))
    runner.run(bucketed_input, out, CFG, partitions=["0"])
    dec_cols = spark.read.parquet(os.path.join(out, "part_id=0")).columns
    assert "effective_timestamp" not in dec_cols
    assert "effective_timestamp" in runner.lineage().columns


def test_partition_is_one_observed_write(spark, bucketed_input, tmp_path):
    """A fresh partition is one Spark job, its decisions write: the
    lineage counts and metric scores come from an Observation on that
    write, and the lineage and metrics rows are committed from the
    driver without a job.  Each partition's input footer is read on the
    driver as well, so three partitions cost three writes."""
    sc = spark.sparkContext
    group = "lineage-three-partitions"
    runner = ResumableRunner(spark, str(tmp_path / "state"))
    sc.setJobGroup(group, "three partitions")
    try:
        rep = runner.run(bucketed_input, str(tmp_path / "out"), CFG,
                         partitions=["0", "1", "2"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rep.processed == ["0", "1", "2"]
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 3, jobs
    stages = [tracker.getStageInfo(s) for j in jobs
              for s in tracker.getJobInfo(j).stageIds]
    assert all(s.name.startswith("parquet at") for s in stages), \
        [s.name for s in stages]

    lin = {r["partition_id"]: r for r in runner.lineage().collect()}
    assert sorted(lin) == ["0", "1", "2"]
    assert all(r["status"] == "done" for r in lin.values())
    dec = spark.read.parquet(str(tmp_path / "out" / "part_id=1"))
    assert lin["1"]["rows_in"] == dec.count()
    assert lin["1"]["rows_kept"] == dec.filter(F.col("keep")).count()
    scores = {r["class_name"]: r["score"] for r in runner.metrics()
              .filter(F.col("partition_id") == "1").collect()}
    assert scores["keep_rate"] == pytest.approx(
        lin["1"]["rows_kept"] / lin["1"]["rows_in"])
    assert scores["email"] == pytest.approx(
        dec.filter(F.col("pii_counts")["email"] > 0).count() / dec.count())


@pytest.mark.parametrize("snapshot_id", [None, 9])
def test_legacy_lineage_file_resumes_as_before(spark, bucketed_input,
                                               tmp_path, snapshot_id):
    """A state dir holding only a 6-column lineage file (written before
    snapshot-id tracking) reads its snapshot_id as NULL: an unpinned run
    skips the partition it marks done, a pinned run reprocesses it."""
    runner = ResumableRunner(spark, str(tmp_path / "state"))
    spark.createDataFrame(
        [("0", "done", 10, 10, 0, None), ("1", "failed", 0, 0, 0, "boom")],
        "partition_id string, status string, rows_in long, rows_kept long, "
        "rows_dropped long, error string").withColumn(
            "effective_timestamp", F.current_timestamp()).coalesce(1) \
        .write.parquet(runner.lineage_path)
    lin = runner.lineage()
    assert lin.columns[-2:] == ["snapshot_id", "effective_timestamp"]
    assert lin.filter(F.col("snapshot_id").isNotNull()).count() == 0

    rep = runner.run(bucketed_input, str(tmp_path / "out"), CFG,
                     partitions=["0", "1"], snapshot_id=snapshot_id)
    if snapshot_id is None:
        assert rep.skipped == ["0"] and rep.processed == ["1"]
    else:
        assert rep.skipped == [] and rep.processed == ["0", "1"]
    assert runner.completed_partitions(snapshot_id) == {"0", "1"}


def test_concurrent_appends_keep_lineage_whole(spark, tmp_path):
    """Appends from several threads into one state directory: each is its
    own file committed by a rename, so no append can remove another's
    file (as a shared ``_temporary`` clean-up could) and none leaves its
    hidden temp file behind."""
    runner = ResumableRunner(spark, str(tmp_path / "state"))

    def append(t):
        for i in range(8):
            runner._append_lineage(f"t{t}-{i}", "done", i, i, None)

    threads = [threading.Thread(target=append, args=(t,)) for t in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    want = {f"t{t}-{i}" for t in range(4) for i in range(8)}
    assert runner.lineage().count() == 32
    assert runner.completed_partitions() == want
    names = os.listdir(runner.lineage_path)
    visible = {n for n in names if not n.startswith(".")}
    hidden = set(names) - visible
    assert len(visible) == 32
    # only the local file system's checksums of the committed files
    assert hidden == {f".{n}.crc" for n in visible}


def test_crash_leftover_is_invisible(spark, bucketed_input, tmp_path):
    """An append that dies before its rename leaves a hidden temp file.
    Garbage under that name in ``lineage/`` and ``metrics/`` is skipped
    by every read, and the runner still resumes byte-identically."""
    runner = ResumableRunner(spark, str(tmp_path / "state"))
    for path in (runner.lineage_path, runner.metrics_path):
        os.makedirs(path)
        with open(os.path.join(path, f".part-{uuid.uuid4()}.parquet"),
                  "wb") as f:
            f.write(b"\x00 not a parquet file \xff" * 8)
    assert runner.lineage().count() == 0
    assert runner.metrics().count() == 0
    assert runner.completed_partitions() == set()

    out = str(tmp_path / "out")
    rep = runner.run(bucketed_input, out, CFG, partitions=["0", "1"],
                     fail_on=lambda p: p == "1")
    assert rep.processed == ["0"] and "1" in rep.failed
    rep = runner.run(bucketed_input, out, CFG, partitions=["0", "1"])
    assert rep.skipped == ["0"] and rep.processed == ["1"]
    assert runner.completed_partitions() == {"0", "1"}
    assert runner.lineage().count() == 3
    assert runner.metrics().filter(
        F.col("class_name") == "keep_rate").count() == 2

    fresh = str(tmp_path / "fresh")
    ResumableRunner(spark, str(tmp_path / "state_b")).run(
        bucketed_input, fresh, CFG, partitions=["0", "1"])
    assert read_decisions(spark, out) == read_decisions(spark, fresh)
