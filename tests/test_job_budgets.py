"""Spark job budgets of the DX control plane and the resumable runner.

A Spark job costs a few hundred milliseconds on a local session whatever
its size, and the job count repeats exactly from run to run, so each
budget below is asserted exactly.
Jobs are counted through a job tag read back from the status tracker.

Driver calls are the other per-unit cost: each Py4J round trip takes about
a millisecond, so building a plan Column by Column costs more than its
jobs.  Those budgets are ceilings, counted by wrapping the Py4J client's
``send_command``.
"""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from discoverx_spark.dx import DX
from discoverx_spark.functions.kneser_ney import (kneser_ney_model,
                                                  kneser_ney_score)
from discoverx_spark.functions.ngram_lm import (stupid_backoff_score,
                                                word_ngram_counts)
from discoverx_spark.lineage import (ResumableRunner, _partition_aggregates,
                                     write_bucketed)
from discoverx_spark.pipeline import PipelineConfig, decide
from discoverx_spark.queries import (q_dedup_stack_documents,
                                     q_kneser_ney_documents,
                                     q_scan_documents, q_scrub_documents,
                                     q_stupid_backoff_documents,
                                     q_transcripts_pipeline)
from discoverx_spark.sources.table_format import ParquetTableFormat
from discoverx_spark.transcripts import generate_transcripts


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("budget_tables")
    users = spark.createDataFrame(
        [(i, f"10.0.{i % 7}.{i % 250}", f"user{i}@example.org", "a note")
         for i in range(120)],
        "id int, ip string, email string, note string")
    logins = spark.createDataFrame(
        [(i, f"user{i}@example.org") for i in range(40)],
        "id int, email string")
    paths = {"main.crm.users": str(base / "users"),
             "main.web.logins": str(base / "logins")}
    users.write.parquet(paths["main.crm.users"])
    logins.write.parquet(paths["main.web.logins"])
    return paths


def _dx(spark, tables):
    dx = DX(spark, locale="us")
    for name, path in tables.items():
        dx.register_parquet(name, path)
    return dx


def test_register_parquet_reads_one_footer_per_table(spark, tables,
                                                     count_jobs):
    dx = DX(spark, locale="us")
    n, _ = count_jobs(lambda: [dx.register_parquet(name, path)
                               for name, path in tables.items()])
    assert n == 0                    # registration reads nothing
    n, first = count_jobs(lambda: dx.registry.get("main.crm.users"))
    assert n == 0                    # the footer, read on the driver
    n, again = count_jobs(lambda: [dx.registry.get("main.crm.users")
                                   for _ in range(3)])
    assert n == 0                    # later reads pass the recorded schema
    assert all(df.schema == first.schema for df in again)


def test_scan_and_class_lookups(spark, tables, count_jobs):
    dx = _dx(spark, tables)
    for name in tables:
        dx.registry.get(name)        # footers paid up front
    # one job: each table's sample is one task that reads until it has
    # its rows, so no limit exchange runs as a job of its own (one per
    # table, plus the collect, when the limit read every split)
    n, res = count_jobs(dx.scan)
    assert n == 1
    n, classes = count_jobs(res.get_classes)
    assert n == 0
    assert ("main", "crm", "users", "email", "email") in classes
    n, rows = count_jobs(res.df.collect)
    assert n == 0 and len(rows) == (3 + 1) * len(dx.rules.get_rules("*"))


def test_save_merge_and_load_run_no_job(spark, tables, tmp_path,
                                        count_jobs):
    """The scan state is read, merged and written on the driver."""
    dx = _dx(spark, tables)
    dx.scan()
    path = str(tmp_path / "state")
    n, _ = count_jobs(lambda: dx.save(path))
    assert n == 0                    # a new state
    n, _ = count_jobs(lambda: dx.save(path))
    assert n == 0                    # a merge
    n, loaded = count_jobs(lambda: dx.load(path))
    assert n == 0
    n, _ = count_jobs(loaded.get_classes)
    assert n == 0


def test_completed_partitions_runs_no_job(spark, tmp_path, count_jobs):
    """The lineage rows are read and filtered on the driver."""
    src = str(tmp_path / "src")
    write_bucketed(generate_transcripts(spark, 8, seed=3), src, n_buckets=2)
    runner = ResumableRunner(spark, str(tmp_path / "state"))
    n, done = count_jobs(runner.completed_partitions)
    assert n == 0 and done == set()  # no lineage yet: nothing to read
    runner.run(src, str(tmp_path / "out"), PipelineConfig(),
               snapshot_id=4)
    for snapshot_id, want in ((None, {"0", "1"}), (4, {"0", "1"}),
                              (5, set())):
        n, done = count_jobs(
            lambda: runner.completed_partitions(snapshot_id))
        assert n == 0 and done == want


def test_resume_one_partition_in_budget(spark, tmp_path, count_jobs):
    """Resuming one pending partition is its decisions write alone: the
    lineage is read on the driver, the input footer too, and the lineage
    and metrics appends (``_append``) are committed from the driver, so
    none of them starts a job."""
    src = str(tmp_path / "src")
    write_bucketed(generate_transcripts(spark, 8, seed=3), src, n_buckets=2)
    runner = ResumableRunner(spark, str(tmp_path / "state"))
    out = str(tmp_path / "out")
    runner.run(src, out, PipelineConfig(), partitions=["0"])
    n, rep = count_jobs(lambda: runner.run(src, out, PipelineConfig(),
                                           partitions=["0", "1"]))
    assert (rep.skipped, rep.processed) == (["0"], ["1"])
    assert n == 1
    n, _ = count_jobs(lambda: runner._append_lineage("2", "failed", 0, 0,
                                                     "boom"))
    assert n == 0


def test_snapshot_log_runs_no_job(spark, tmp_path, count_jobs):
    """The emulated snapshot log is read and appended on the driver: an
    append to the table is its data write alone."""
    fmt = ParquetTableFormat()
    loc = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    n, _ = count_jobs(lambda: fmt.append(df, loc))
    assert n == 1                    # the data write
    n, sid = count_jobs(lambda: fmt._record(spark, loc, "append"))
    assert n == 0 and sid == 2
    n, sid = count_jobs(lambda: fmt.current_snapshot_id(spark, loc))
    assert n == 0 and sid == 2
    n, ops = count_jobs(lambda: [r["operation"] for r in
                                 fmt.snapshots(spark, loc).collect()])
    assert n == 0 and ops == ["append", "append"]


def test_delete_what_if_counts_in_one_job(spark, tables, count_jobs):
    dx = _dx(spark, tables)
    res = dx.scan()
    candidates = [(f"{c}.{s}.{t}", col)
                  for c, s, t, col, k in res.get_classes() if k == "email"]
    assert len(candidates) == 2
    # user100 exists only in users (logins holds ids 0-39)
    n, (summary, plans) = count_jobs(lambda: dx.delete_by_class(
        "*.*.*", "email", ["user100@example.org", "nobody@example.org"]))
    assert n == 1 and plans is None
    n, rows = count_jobs(summary.collect)
    assert n == 0
    want = {"main.crm.users": 1, "main.web.logins": 0}
    assert [tuple(r) for r in rows] == [(t, c, want[t])
                                        for t, c in candidates]
    assert summary.columns == ["table", "column", "num_deleted"]


def test_stupid_backoff_trains_and_scores_in_budget(spark, count_jobs):
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat ran"), (3, ""),
         (4, "a mat")], "doc_id long, text string")
    # building the scorer trains the model (its map-side shuffle) and
    # probes the checkpoint once for the model size and unigram total
    n, scored = count_jobs(lambda: stupid_backoff_score(
        docs, "text", "doc_id", word_ngram_counts(docs, "text")))
    assert n == 2
    # scoring: one broadcast of the model for all five lookups, the
    # per-document fold's shuffle, the result
    n, rows = count_jobs(scored.collect)
    assert n == 3
    assert len(rows) == 4


@pytest.mark.parametrize("discount, build, score",
                         [(0.75, 9, 4), ("modified", 9, 5)])
def test_kneser_ney_trains_and_scores_in_budget(spark, count_jobs, discount,
                                                build, score):
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat ran"), (3, ""),
         (4, "a mat")], "doc_id long, text string")
    # building the scorer trains the model (the stage jobs of its
    # shuffles) and probes the checkpoint once for the model size, the
    # totals and the count-of-counts
    n, scored = count_jobs(lambda: kneser_ney_score(
        docs, "text", "doc_id", kneser_ney_model(docs, "text"),
        discount=discount))
    assert n == build
    # scoring: two broadcasts of the model relation (the c3/n2/n1 and the
    # context projections), the per-document fold's shuffle, the result;
    # modified KN adds the shuffle of its per-context splits
    n, rows = count_jobs(scored.collect)
    assert n == score
    assert len(rows) == 4


def test_kneser_ney_documents_in_budget(spark, sf_dir, count_jobs):
    n, rows = count_jobs(
        lambda: q_kneser_ney_documents(spark, sf_dir).collect())
    assert n == 15
    assert rows


def test_stupid_backoff_documents_in_budget(spark, sf_dir, count_jobs):
    # the scorer's build and scoring jobs over the repartitioned input;
    # the footer is read on the driver (8 jobs when Spark inferred it)
    n, rows = count_jobs(
        lambda: q_stupid_backoff_documents(spark, sf_dir).collect())
    assert n == 7
    assert rows


def test_dedup_stack_documents_in_budget(spark, tmp_path, count_jobs):
    base = " ".join(f"w{i}" for i in range(40))
    texts = [base, base, base.upper(), base + " tail words here",
             "short", "unique " + " ".join(f"u{i}" for i in range(30))]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": texts,
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        str(tmp_path / "documents.parquet"))
    out = str(tmp_path / "out")
    # the input repartition, the fingerprint aggregate (reused by both
    # span-dedup branches), the gram window exchange, the id-keyed
    # rebuild aggregate, the write; the footer is read on the driver
    n, _ = count_jobs(lambda: q_dedup_stack_documents(spark, str(tmp_path))
                      .write.parquet(out))
    assert n == 5
    rows = spark.read.parquet(out).collect()
    # the three copies of base elect one survivor; the tail copy loses
    # its duplicated spans; "short" fails the length gate
    assert {r["doc_id"] for r in rows} == {0, 3, 5}


def test_scan_documents_in_budget(spark, sf_dir, count_jobs):
    # a full scan (no sample): the partial aggregate's shuffle and the
    # final aggregate; the footer is read on the driver
    n, rows = count_jobs(lambda: q_scan_documents(spark, sf_dir).collect())
    assert n == 2
    assert rows


def test_scrub_documents_in_budget(spark, sf_dir, count_jobs):
    # the one-file input's repartition to the task slots, then the
    # narrow scrub and counts in the result stage
    n, rows = count_jobs(lambda: q_scrub_documents(spark, sf_dir).collect())
    assert n == 2
    assert rows


def test_transcripts_pipeline_in_budget(spark, sf_dir, count_jobs):
    # generated input, one fused Arrow UDF and the JVM gates in a single
    # narrow stage: the collect is the one job
    n, rows = count_jobs(
        lambda: q_transcripts_pipeline(spark, sf_dir).collect())
    assert n == 1
    assert rows


def test_decide_plan_in_driver_call_budget(spark, py4j_calls):
    """The gates and decision columns are SQL strings after the one UDF
    column, so building ``decide()`` is a few dozen round trips, not one
    per Column node (829 when they were built from Columns)."""
    src = generate_transcripts(spark, 8, seed=3)
    cfg = PipelineConfig(allowed_langs=("en", "de"))
    n, _ = py4j_calls(lambda: decide(src, cfg))
    assert n <= 120


def test_partition_aggregates_in_driver_call_budget(spark, py4j_calls):
    n, aggs = py4j_calls(_partition_aggregates)
    assert n <= 40
    assert len(aggs) == 10


def test_runner_partition_in_driver_call_budget(spark, tmp_path,
                                                py4j_calls):
    """One partition through the runner: lineage read, driver-side
    footer, decide, the observed write and two driver-side appends."""
    src = str(tmp_path / "src")
    write_bucketed(generate_transcripts(spark, 8, seed=3), src, n_buckets=2)
    runner = ResumableRunner(spark, str(tmp_path / "state"))
    out = str(tmp_path / "out")
    runner.run(src, out, PipelineConfig(), partitions=["0"])
    n, rep = py4j_calls(lambda: runner.run(src, out, PipelineConfig(),
                                           partitions=["1"]))
    assert rep.processed == ["1"]
    assert n <= 450
