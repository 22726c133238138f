"""Resumability tests: skip-done, error isolation, byte-identical resume."""

import os

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
    """A partition costs the input-schema read, the decisions write and the
    metrics and lineage appends: no checkpoint, count or collect job — the
    lineage counts and metric scores come from an Observation on the write."""
    sc = spark.sparkContext
    group = "lineage-one-partition"
    runner = ResumableRunner(spark, str(tmp_path / "state"))
    sc.setJobGroup(group, "one partition")
    try:
        runner.run(bucketed_input, str(tmp_path / "out"), CFG,
                   partitions=["1"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 4, jobs
    stages = [tracker.getStageInfo(s) for j in jobs
              for s in tracker.getJobInfo(j).stageIds]
    assert all(s.name.startswith("parquet at") for s in stages), \
        [s.name for s in stages]

    lin = runner.lineage().collect()
    assert len(lin) == 1 and lin[0]["status"] == "done"
    dec = spark.read.parquet(str(tmp_path / "out" / "part_id=1"))
    assert lin[0]["rows_in"] == dec.count()
    assert lin[0]["rows_kept"] == dec.filter(F.col("keep")).count()
    scores = {r["class_name"]: r["score"] for r in runner.metrics().collect()}
    assert scores["keep_rate"] == pytest.approx(
        lin[0]["rows_kept"] / lin[0]["rows_in"])
    assert scores["email"] == pytest.approx(
        dec.filter(F.col("pii_counts")["email"] > 0).count() / dec.count())
