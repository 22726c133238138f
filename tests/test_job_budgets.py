"""Spark job budgets of the DX control plane and the resumable runner.

A Spark job costs a few hundred milliseconds on a local session whatever
its size, and the job count repeats exactly from run to run, so each
budget below is asserted exactly (``completed_partitions`` as a ceiling).
Jobs are counted through a job tag read back from the status tracker.
"""

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from discoverx_spark.dx import DX
from discoverx_spark.functions.kneser_ney import (kneser_ney_model,
                                                  kneser_ney_score)
from discoverx_spark.functions.ngram_lm import (stupid_backoff_score,
                                                word_ngram_counts)
from discoverx_spark.lineage import ResumableRunner, write_bucketed
from discoverx_spark.pipeline import PipelineConfig
from discoverx_spark.queries import (q_dedup_stack_documents,
                                     q_kneser_ney_documents,
                                     q_transcripts_pipeline)
from discoverx_spark.transcripts import generate_transcripts


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` -> (number of Spark jobs ``fn()`` started, its
    result)."""
    sc = spark.sparkContext
    jvm_sc = sc._jsc.sc()

    def count(fn):
        tag = f"budget-{uuid.uuid4().hex}"
        sc.addJobTag(tag)
        try:
            out = fn()
        finally:
            sc.removeJobTag(tag)
        jvm_sc.listenerBus().waitUntilEmpty()
        return len(jvm_sc.statusTracker().getJobIdsForTag(tag)), out

    return count


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
    assert n == 1                    # the footer, on the first read
    n, again = count_jobs(lambda: [dx.registry.get("main.crm.users")
                                   for _ in range(3)])
    assert n == 0                    # later reads pass the recorded schema
    assert all(df.schema == first.schema for df in again)


def test_scan_and_class_lookups(spark, tables, count_jobs):
    dx = _dx(spark, tables)
    for name in tables:
        dx.registry.get(name)        # footers paid up front
    # one partial-aggregate shuffle job per table, one collect
    n, res = count_jobs(dx.scan)
    assert n == 3
    n, classes = count_jobs(res.get_classes)
    assert n == 0
    assert ("main", "crm", "users", "email", "email") in classes
    n, rows = count_jobs(res.df.collect)
    assert n == 0 and len(rows) == (3 + 1) * len(dx.rules.get_rules("*"))


def test_save_writes_once_and_merges_in_two_jobs(spark, tables, tmp_path,
                                                 count_jobs):
    dx = _dx(spark, tables)
    dx.scan()
    path = str(tmp_path / "state")
    n, _ = count_jobs(lambda: dx.save(path))
    assert n == 1                    # the write; a missing path is no read
    n, _ = count_jobs(lambda: dx.save(path))
    assert n == 2                    # one declared-schema read, one write
    n, loaded = count_jobs(lambda: dx.load(path))
    assert n == 1
    n, _ = count_jobs(loaded.get_classes)
    assert n == 0


def test_completed_partitions_is_one_job(spark, tmp_path, count_jobs):
    src = str(tmp_path / "src")
    write_bucketed(generate_transcripts(spark, 8, seed=3), src, n_buckets=2)
    runner = ResumableRunner(spark, str(tmp_path / "state"))
    n, done = count_jobs(runner.completed_partitions)
    assert n == 0 and done == set()  # no lineage yet: nothing to read
    runner.run(src, str(tmp_path / "out"), PipelineConfig())
    for snapshot_id in (None, 4):
        n, _ = count_jobs(lambda: runner.completed_partitions(snapshot_id))
        assert n <= 1


def test_resume_one_partition_in_budget(spark, tmp_path, count_jobs):
    """Resuming one pending partition is the lineage read, the input
    footer and the decisions write; the lineage and metrics appends
    (``_append``) are committed from the driver and start no job."""
    src = str(tmp_path / "src")
    write_bucketed(generate_transcripts(spark, 8, seed=3), src, n_buckets=2)
    runner = ResumableRunner(spark, str(tmp_path / "state"))
    out = str(tmp_path / "out")
    runner.run(src, out, PipelineConfig(), partitions=["0"])
    n, rep = count_jobs(lambda: runner.run(src, out, PipelineConfig(),
                                           partitions=["0", "1"]))
    assert (rep.skipped, rep.processed) == (["0"], ["1"])
    assert n == 3
    n, _ = count_jobs(lambda: runner._append_lineage("2", "failed", 0, 0,
                                                     "boom"))
    assert n == 0


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
    assert n == 16
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
    # the footer read, the input repartition, the fingerprint aggregate
    # (reused by both span-dedup branches), the gram window exchange, the
    # id-keyed rebuild aggregate, the write
    n, _ = count_jobs(lambda: q_dedup_stack_documents(spark, str(tmp_path))
                      .write.parquet(out))
    assert n == 6
    rows = spark.read.parquet(out).collect()
    # the three copies of base elect one survivor; the tail copy loses
    # its duplicated spans; "short" fails the length gate
    assert {r["doc_id"] for r in rows} == {0, 3, 5}


def test_transcripts_pipeline_in_budget(spark, sf_dir, count_jobs):
    # generated input, one fused Arrow UDF and the JVM gates in a single
    # narrow stage: the collect is the one job
    n, rows = count_jobs(
        lambda: q_transcripts_pipeline(spark, sf_dir).collect())
    assert n == 1
    assert rows
