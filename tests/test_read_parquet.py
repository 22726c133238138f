"""``scanner.read_parquet``: Spark's parquet schema inference without its
footer job.  On every input it runs no Spark job, and its schema and rows
equal ``spark.read.parquet``'s; where Spark must read the path itself it
raises Spark's own errors.  Its driver calls do not grow with the number
of files."""

import datetime
import decimal
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError

from discoverx_spark.lineage import write_bucketed
from discoverx_spark.scanner import read_parquet
from discoverx_spark.sources import read_table
from discoverx_spark.transcripts import generate_transcripts

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from perfbench import inputs  # noqa: E402

SF_TABLES = ["customer", "documents", "embeddings", "events", "lineitem",
             "nation", "orders", "part", "region", "supplier"]


def _same_as_spark(spark, count_jobs, path):
    n, got = count_jobs(lambda: read_parquet(spark, path))
    assert n == 0
    want = spark.read.parquet(path)
    assert got.schema == want.schema
    assert sorted(map(repr, got.collect())) == \
        sorted(map(repr, want.collect()))
    return got


@pytest.mark.parametrize("table", SF_TABLES)
def test_sf_tables(spark, sf_dir, count_jobs, table):
    _same_as_spark(spark, count_jobs, f"{sf_dir}/{table}.parquet")


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bucketed") / "transcripts")
    write_bucketed(generate_transcripts(spark, 30, seed=7), path,
                   n_buckets=4)
    return path


def test_bucketed_root_keeps_the_partition_column(spark, count_jobs,
                                                  bucketed):
    df = _same_as_spark(spark, count_jobs, bucketed)
    assert df.columns[-1] == "part_id"


def test_bucketed_leaf(spark, count_jobs, bucketed):
    leaf = os.path.join(bucketed, sorted(
        d for d in os.listdir(bucketed) if d.startswith("part_id="))[-1])
    _same_as_spark(spark, count_jobs, leaf)


def test_benchmark_documents_and_dx_tables(spark, count_jobs, tmp_path):
    docs = str(tmp_path / "documents.parquet")
    inputs.write_documents(docs, 200, seed=3)
    _same_as_spark(spark, count_jobs, docs)
    for name, df in inputs.classify_frames(spark, 100, seed=3).items():
        path = str(tmp_path / name)
        df.write.parquet(path)
        _same_as_spark(spark, count_jobs, path)


def test_pyarrow_types(spark, count_jobs, tmp_path):
    path = str(tmp_path / "types.parquet")
    pq.write_table(pa.table({
        "dec": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(9, 2)),
        "day": pa.array([datetime.date(2024, 2, 29), None], pa.date32()),
        "xs": pa.array([[1, 2], None], pa.list_(pa.int64())),
        "kv": pa.array([[("a", 1)], None], pa.map_(pa.string(), pa.int32())),
        "st": pa.array([{"x": 1, "y": "u"}, None],
                       pa.struct([("x", pa.int32()), ("y", pa.string())])),
        "u32": pa.array([4_000_000_000, None], pa.uint32()),
        "i8": pa.array([-3, None], pa.int8()),
        "ts": pa.array([datetime.datetime(2024, 1, 2, 3, 4, 5), None],
                       pa.timestamp("us", tz="UTC")),
        "big": pa.array(["long text", None], pa.large_string()),
    }), path)
    _same_as_spark(spark, count_jobs, path)


def test_hidden_and_temp_files_are_skipped(spark, count_jobs, tmp_path):
    """``_SUCCESS``, ``.crc`` and the runner's hidden ``.part-*`` temp
    files hold no data; a temp file of another schema must not win."""
    path = tmp_path / "d"
    path.mkdir()
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}),
                   str(path / "part-1.parquet"))
    pq.write_table(pa.table({"zz": [1.5]}), str(path / ".part-0.parquet"))
    (path / "_SUCCESS").write_bytes(b"")
    (path / ".stale.crc").write_bytes(b"junk")
    df = _same_as_spark(spark, count_jobs, str(path))
    assert df.columns == ["a", "b"]


def test_driver_calls_do_not_grow_with_the_file_count(spark, count_jobs,
                                                     py4j_calls, tmp_path):
    """Spark's file index lists the folder and hands its paths over as one
    string, so 300 part files cost the Py4J round trips of one.  The
    first file in sorted order, written last here, sets the schema."""
    calls = []
    for n in (1, 300):
        path = tmp_path / f"files{n}"
        path.mkdir()
        for i in reversed(range(n)):
            cols = {"a": [i]} if i == 0 else {"b": [str(i)]}
            pq.write_table(pa.table(cols), str(path / f"part-{i:05d}.parquet"))
        calls.append(py4j_calls(lambda: read_parquet(spark, str(path)))[0])
        assert _same_as_spark(spark, count_jobs, str(path)).columns == ["a"]
    assert calls[0] == calls[1]


def test_read_table_reads_parquet_without_a_job(spark, count_jobs, sf_dir):
    path = f"{sf_dir}/nation.parquet"
    n, df = count_jobs(lambda: read_table(spark, path))
    assert n == 0
    assert df.schema == spark.read.parquet(path).schema


def test_summary_file_leaves_inference_to_spark(spark, tmp_path):
    """A ``_common_metadata`` summary is what Spark's inference reads, so
    the path goes to Spark; its wider schema shows which file won."""
    path = tmp_path / "d"
    path.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(path / "part-1.parquet"))
    pq.write_metadata(pa.schema([("a", pa.int64()), ("extra", pa.string())]),
                      str(path / "_common_metadata"))
    df = read_parquet(spark, str(path))
    assert df.columns == ["a", "extra"]
    assert df.schema == spark.read.parquet(str(path)).schema


def test_summary_file_in_a_later_folder_leaves_inference_to_spark(spark,
                                                                  tmp_path):
    """Spark's inference reads a summary wherever it sits under the path,
    here in a partition folder after the first data file."""
    path = tmp_path / "d"
    for part in (0, 1):
        (path / f"part_id={part}").mkdir(parents=True)
        pq.write_table(pa.table({"a": [part]}),
                       str(path / f"part_id={part}" / "part-1.parquet"))
    pq.write_metadata(pa.schema([("a", pa.int64()), ("extra", pa.string())]),
                      str(path / "part_id=1" / "_common_metadata"))
    df = read_parquet(spark, str(path))
    assert df.columns == ["a", "extra", "part_id"]
    assert df.schema == spark.read.parquet(str(path)).schema


def test_merge_schema_conf_leaves_the_merge_to_spark(spark, tmp_path):
    path = tmp_path / "d"
    path.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(path / "part-1.parquet"))
    pq.write_table(pa.table({"b": ["x"]}), str(path / "part-2.parquet"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        df = read_parquet(spark, str(path))
        assert df.schema == spark.read.parquet(str(path)).schema
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert sorted(df.columns) == ["a", "b"]


def _error(fn):
    with pytest.raises(Exception) as e:
        fn()
    if isinstance(e.value, Py4JJavaError):
        return "Py4JJavaError", e.value.java_exception.getClass().getName()
    return type(e.value).__name__, e.value.getCondition()


@pytest.mark.parametrize("case, error", [
    ("missing", ("AnalysisException", "PATH_NOT_FOUND")),
    ("empty_dir", ("AnalysisException", "UNABLE_TO_INFER_SCHEMA")),
    ("nanos", ("AnalysisException", "PARQUET_TYPE_ILLEGAL")),
    ("not_parquet", ("Py4JJavaError", "org.apache.spark.SparkException")),
])
def test_errors_are_sparks(spark, tmp_path, case, error):
    path = str(tmp_path / case)
    if case == "empty_dir":
        os.mkdir(path)
    elif case == "nanos":
        pq.write_table(pa.table({"t": pa.array([1], pa.timestamp("ns"))}),
                       path)
    elif case == "not_parquet":
        with open(path, "wb") as f:
            f.write(b"no parquet footer in these bytes")
    assert _error(lambda: read_parquet(spark, path)) == error
    assert _error(lambda: spark.read.parquet(path)) == error
