"""Bloom-filter build/probe: zero false negatives, bounded false
positives, and exactness of the prefiltered novel-key extraction."""

import pytest
from pyspark.sql import functions as F

from discoverx_spark.operators.bloom import (bloom_build, bloom_params,
                                             bloom_prefilter_novel,
                                             make_might_contain_udf)


def test_params_math():
    m, k = bloom_params(1000, 0.01)
    assert m % 64 == 0 and m >= 9000      # ~9.6 bits/key at 1%
    assert 5 <= k <= 9
    with pytest.raises(ValueError, match="expected_items"):
        bloom_params(0, 0.01)
    with pytest.raises(ValueError, match="fpp"):
        bloom_params(10, 1.5)


def test_no_false_negatives(spark):
    strings = spark.createDataFrame([(f"key-{i}",) for i in range(500)],
                                    "k string")
    # a NULL in the same Arrow batch as integer keys: each key must still
    # hash as the build's CAST(k AS STRING) ('5', never '5.0')
    ints = spark.createDataFrame([(i,) for i in range(200)] + [(None,)],
                                 "k bigint").coalesce(1)
    for index, n in ((strings, 500), (ints, 200)):
        m, k = bloom_params(n, 0.01)
        words = bloom_build(index, "k", m, k)
        mc = make_might_contain_udf(spark, words, m, k)
        # filtered in Python: a `k IS NOT NULL` filter would be pushed
        # below the UDF and keep the NULL out of the batch
        rows = index.withColumn("hit", mc(F.col("k"))).collect()
        keyed = [r for r in rows if r["k"] is not None]
        assert len(keyed) == n
        assert [r["k"] for r in keyed if not r["hit"]] == []


def test_false_positive_rate_bounded(spark):
    index = spark.createDataFrame([(f"key-{i}",) for i in range(1000)],
                                  "k string")
    fresh = spark.createDataFrame([(f"new-{i}",) for i in range(2000)],
                                  "k string")
    m, k = bloom_params(1000, 0.01)
    words = bloom_build(index, "k", m, k)
    mc = make_might_contain_udf(spark, words, m, k)
    fp = fresh.withColumn("hit", mc(F.col("k"))).filter("hit").count()
    assert fp / 2000 < 0.05               # 5x headroom over nominal 1%


def test_prefilter_equals_plain_anti_join(spark):
    index = spark.createDataFrame(
        [(f"k{i}",) for i in range(0, 300, 2)], "key string")
    batch = spark.createDataFrame(
        [(i, f"k{i % 400}") for i in range(600)] + [(999, None)],
        "row_id long, key string")
    got = bloom_prefilter_novel(batch, index, "key",
                                expected_items=256, fpp=0.01)
    want = batch.join(index.select("key").distinct(), "key", "left_anti")
    g = sorted((r["row_id"], r["key"]) for r in got.collect())
    w = sorted((r["row_id"], r["key"]) for r in want.collect())
    assert g == w and len(g) > 0
    assert (999, None) in g               # null key is definitely new


def test_jvm_membership_frame_equals_udf_twin(spark):
    """The pure-JVM probe (bloom_membership_frame — k xxhash64 positions
    + codegen bit tests, no Python boundary) must agree with the
    pure-Python XXH64 UDF twin on every non-null key; NULL keys may
    route differently (the UDF says False, the JVM hash probes the
    seed positions) but both routes end in the exact anti-join, which
    the bloom_prefilter_novel output equality below certifies."""
    from pyspark.sql import functions as F

    from discoverx_spark.operators.bloom import (bloom_build,
                                                 bloom_membership_frame,
                                                 bloom_params,
                                                 make_might_contain_udf)

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(200)
    index = docs.filter("doc_id % 2 = 0").selectExpr("text AS key")
    m, k = bloom_params(256, 0.01)
    words = bloom_build(index, "key", m, k)
    probe = docs.selectExpr("doc_id", "text AS key") \
        .unionByName(spark.createDataFrame(
            [(10**9, None)], "doc_id: long, key: string"))
    mc = make_might_contain_udf(spark, words, m, k)
    both = (bloom_membership_frame(probe, "key", words, m, k,
                                   flag_col="jvm")
            .withColumn("py", mc(F.col("key").cast("string"))))
    diff = both.filter(F.col("key").isNotNull()
                       & (F.col("jvm") != F.col("py"))).count()
    assert diff == 0
    # and every indexed key is Bloom-positive (no false negatives)
    fn = (bloom_membership_frame(index.selectExpr("key"), "key", words,
                                 m, k, flag_col="jvm")
          .filter(~F.col("jvm")).count())
    assert fn == 0
