"""Distributed-build Bloom filter + membership pre-filter for
incremental dedup.

Reference context: discoverx re-scans whole tables per run
(``scanner.py:268-276``); the incremental operators in this repo
(incremental_exact_dedup, incremental_line_dedup) instead anti-join each
new batch against a persisted key index.  At 10¹² accumulated keys that
anti-join shuffles the ENTIRE index every run even when almost every
batch key is genuinely new.  The classic fix is a Bloom filter over the
index: definitely-new keys (the common case) skip the join entirely; only
the ``fpp`` fraction of maybe-members pays for exact verification — and
the final output is EXACT, because the filter only routes rows, never
decides them.

Build is fully distributed and idiomatic Spark: each key projects to its
``k`` bit positions JVM-side (``pmod(xxhash64(key, seed_i), m)``), the
positions fold into 64-bit words with a ``bit_or`` aggregate keyed by
word index, and the driver assembles the (sparse) word list into the
dense ``m/8``-byte artifact — the same driver-sized-model pattern as
centroids and the LM counts.  Probe recomputes the identical positions
with the repo's pure-Python XXH64 (``functions/xxh.py``, byte-for-byte
equal to ``F.xxhash64`` — the property the MinHash VALUES oracle already
certifies) inside an Arrow UDF over the broadcast word array, so there
are NO false negatives by construction.

Sizing: ``m ≈ -n·ln(fpp)/ln(2)²`` bits, ``k ≈ (m/n)·ln(2)``; 10⁸ keys at
1% ≈ 114 MiB — a broadcast-sized artifact.  Past broadcast scale,
partition the filter by key range and probe per-partition.
"""

from __future__ import annotations

import math
from typing import Tuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..functions.udf import row_udf


def bloom_params(expected_items: int, fpp: float) -> Tuple[int, int]:
    """Optimal (num_bits, num_hashes), num_bits rounded up to a word."""
    if expected_items < 1:
        raise ValueError(f"expected_items must be >= 1, got {expected_items}")
    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp must be in (0,1), got {fpp}")
    m = max(64, int(math.ceil(-expected_items * math.log(fpp)
                              / (math.log(2) ** 2))))
    m = (m + 63) // 64 * 64
    k = max(1, int(round(m / expected_items * math.log(2))))
    return m, k


def bloom_build(index: DataFrame, key_col: str, num_bits: int,
                num_hashes: int) -> np.ndarray:
    """Distributed Bloom build: returns the filter as a uint64 word
    array of length ``num_bits/64``.  One shuffle, keyed by word index
    (≤ ``num_bits/64`` groups), ``bit_or`` partials map-side."""
    if num_bits % 64 != 0:
        raise ValueError(f"num_bits must be a multiple of 64, got {num_bits}")
    pos = [F.pmod(F.xxhash64(F.col(key_col).cast("string"), F.lit(i)),
                  F.lit(num_bits))
           for i in range(num_hashes)]
    words = (index
             .select(F.explode(F.array(*pos)).alias("_p"))
             # python-API shiftleft only takes a literal shift count; the
             # SQL form accepts the column expression
             .select(F.expr("_p div 64").alias("_w"),
                     F.expr("shiftleft(CAST(1 AS BIGINT), "
                            "CAST(_p % 64 AS INT))").alias("_b"))
             .groupBy("_w").agg(F.bit_or("_b").alias("_word")))
    arr = np.zeros(num_bits // 64, dtype=np.uint64)
    for r in words.collect():
        arr[int(r["_w"])] = np.uint64(int(r["_word"]) & ((1 << 64) - 1))
    return arr


def make_might_contain_udf(spark, words: np.ndarray, num_bits: int,
                           num_hashes: int):
    """Arrow UDF testing membership against the broadcast word array,
    recomputing the build's exact positions with the pure-Python XXH64
    twin — zero false negatives by construction.  Kept as the
    cross-implementation twin that certifies :func:`bloom_membership_frame`
    (the pure-Python XXH64 == F.xxhash64 equivalence is what makes the
    no-false-negative argument independently checkable); the production
    probe path below never crosses the Python boundary.

    ``str(key)`` must equal the build's ``CAST(key AS STRING)``: keys
    reach the kernel as plain Python values through
    :func:`functions.udf.row_udf`, so an integer key is hashed as
    ``'5'``, never ``'5.0'``, even in a batch that holds a NULL."""
    from ..functions.xxh import spark_xxhash64_string

    bc = spark.sparkContext.broadcast(words)

    def make_kernel():
        w = bc.value

        def test(s):
            if s is None:
                return False
            for i in range(num_hashes):
                p = spark_xxhash64_string(str(s), i) % num_bits
                if not (int(w[p >> 6]) >> (p & 63)) & 1:
                    return False
            return True

        return test

    return row_udf(make_kernel, BooleanType())


def bloom_membership_frame(df: DataFrame, key_col: str, words: np.ndarray,
                           num_bits: int, num_hashes: int,
                           flag_col: str = "_maybe") -> DataFrame:
    """Attach a Bloom membership flag as a 100% JVM projection — no
    Python worker ever sees the probe side (guide §4: eliminate the
    boundary, not just batch it).  The k bit positions are computed with
    the IDENTICAL ``pmod(xxhash64(key, i), m)`` expressions the build
    used (zero false negatives by construction), the word array rides
    one broadcast row, and the membership test is a plain codegen'd
    conjunction of k bit probes — ``shiftright``/``bitwiseAND`` on the
    broadcast array cell.

    The word row is built from an Arrow ``list<int64>`` table, so it is a
    ``LocalRelation``: the array rides the plan itself, 8 bytes per 64
    filter bits (``num_bits / 8`` bytes: about 1.3 MB for 2^20 items at 1%
    fpp), and is broadcast from there.

    NULL keys: ``xxhash64`` hashes a NULL input to its seed, giving a
    fixed (valid) position set; whichever branch such a row lands in,
    the downstream exact verification treats it as novel (NULL never
    equals an index key), so the operator's output is unchanged."""
    if num_bits % 64 != 0:
        raise ValueError(f"num_bits must be a multiple of 64, got {num_bits}")
    spark = df.sparkSession
    # signed view: same 64 bits, Spark longs are signed
    signed = pa.array(words.view(np.int64), type=pa.int64())
    wdf = spark.createDataFrame(pa.table({
        "_bloom_words": pa.ListArray.from_arrays(
            pa.array([0, len(signed)], type=pa.int32()), signed)}))
    key = F.col(key_col).cast("string")
    masks = F.array(*[F.lit((1 << b) - (1 << 64 if b == 63 else 0))
                      for b in range(64)])

    def probe(i: int):
        p = F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits))
        word = F.element_at(F.col("_bloom_words"),
                            F.shiftright(p, 6).cast("int") + 1)
        mask = F.element_at(masks, p.bitwiseAND(F.lit(63)).cast("int") + 1)
        return word.bitwiseAND(mask) != 0

    flag = probe(0)
    for i in range(1, num_hashes):
        flag = flag & probe(i)
    return (df.crossJoin(F.broadcast(wdf))
            .withColumn(flag_col, flag)
            .drop("_bloom_words"))


def bloom_prefilter_novel(batch: DataFrame, index: DataFrame, key_col: str,
                          expected_items: int = 1 << 20,
                          fpp: float = 0.01) -> DataFrame:
    """EXACT novel-key extraction, Bloom-accelerated: rows of ``batch``
    whose key is not in ``index``.  Definitely-new rows (Bloom-negative)
    bypass the anti-join; only maybe-members are verified exactly, so
    the join's probe side shrinks to ``old + fpp·new`` rows while the
    result stays identical to a plain left-anti join."""
    m, k = bloom_params(expected_items, fpp)
    words = bloom_build(index.select(key_col), key_col, m, k)
    # pure-JVM probe (no Python boundary): k xxhash64 positions + k
    # codegen'd bit tests against the one-row broadcast word array
    # lazy checkpoint: both output branches reference `flagged` — without
    # the lineage cut each branch re-runs the probe over the batch
    flagged = bloom_membership_frame(batch, key_col, words, m, k) \
        .localCheckpoint(eager=False)
    definite_new = flagged.filter(~F.col("_maybe")).drop("_maybe")
    verified_new = (flagged.filter(F.col("_maybe")).drop("_maybe")
                    .join(index.select(key_col).distinct(),
                          on=key_col, how="left_anti"))
    return definite_new.unionByName(verified_new)
