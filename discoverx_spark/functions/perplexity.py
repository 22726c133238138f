"""Character-bigram language-model perplexity (KenLM-style scoring stub).

The north rule calls for KenLM-style n-gram perplexity inside vectorized
Arrow UDFs.  A real KenLM binary/model is not available in this
environment, so the *model* is a small deterministic character-bigram LM
trained at import time on an embedded English corpus — but the Spark-side
plumbing is exactly the production shape: the probability matrix is built
once per Python worker, scoring is pure numpy over Arrow batches
(no per-row Python beyond an ASCII re-encode), and the UDF is the
iterator-of-series form from the reference's sanctioned pattern
(``/root/reference/examples/pii_detection_presidio.py:117-128``).
Swap ``CHAR_LM`` for a memory-mapped KenLM load to productionize.

Scoring: texts are lowercased and projected onto a 27-symbol alphabet
(a-z + space; every non-letter run collapses to one space — punctuation,
digits, and PII tokens carry no perplexity signal, they are the scrub
stage's job).  ``ppl = exp(-mean(ln P(c_i | c_{i-1})))`` with add-k
smoothing.  Fluent English lands ~5-9, non-English prose and letter salad
drift well above — thresholds live in the pipeline config.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Original training text (deterministic, embedded; ~1.4 KB).
_TRAIN = (
    "the quick brown fox jumps over the lazy dog while the patient engineer "
    "reads the query plan and checks that the filter is pushed down to the "
    "scan before the join runs on the cluster. the team agreed that the "
    "pipeline should keep every turn of the conversation unless the text is "
    "empty or contains personal information that must be removed first. "
    "language models estimate the probability of the next character given "
    "the previous characters, and a low perplexity means the text looks like "
    "the training data. the assistant answered the question about the "
    "retention policy and summarized the deployment without any failed "
    "tasks. please check the dashboard for the latency spike and repartition "
    "the table by the customer key before the window step so that the "
    "aggregation does not spill to disk. this is a small but representative "
    "sample of plain english prose used to estimate bigram statistics for "
    "quality filtering of large training corpora. the results are written "
    "to the output table in a stable order so that resumed jobs produce "
    "identical bytes. thank you for your help with the configuration of the "
    "nightly batch job and the review of the storage costs."
)

_ALPHABET = "abcdefghijklmnopqrstuvwxyz"
V = len(_ALPHABET) + 1  # + space (all non-letters collapse to it)
_SP = V - 1


def _lut() -> np.ndarray:
    lut = np.full(256, _SP, dtype=np.int32)
    for i, ch in enumerate(_ALPHABET):
        lut[ord(ch)] = i
    return lut


_LUT = _lut()


# bytes→canonical bytes: letters pass through, everything else → space.
# Doing the collapse at the bytes level (translate + split/join) keeps the
# whole normalization in C; the numpy mask variant costs 3 small-array ops
# per row, which dominates at ~50 chars/row.
_BYTE_CANON = bytes((i if ord("a") <= i <= ord("z") else ord(" "))
                    for i in range(256))


def _ids(text: str, lowered: str = None) -> np.ndarray:
    """letters+space symbol ids; non-letter runs collapsed to one space."""
    raw = (lowered if lowered is not None else text.lower()) \
        .encode("ascii", "replace")  # non-ascii -> '?'
    canon = b" ".join(raw.translate(_BYTE_CANON).split())
    return _LUT[np.frombuffer(canon, dtype=np.uint8)]


def _train(k: float = 0.5) -> np.ndarray:
    counts = np.full((V, V), k, dtype=np.float64)
    ids = _ids(_TRAIN)
    np.add.at(counts, (ids[:-1], ids[1:]), 1.0)
    return np.log(counts / counts.sum(axis=1, keepdims=True))


CHAR_LM: np.ndarray = _train()


def ids_perplexity(ids: np.ndarray, lm: np.ndarray = CHAR_LM) -> float:
    """The perplexity formula: ``exp(-mean(ln P(c_i | c_{i-1})))`` of the
    symbol ids from :func:`_ids` under ``lm``; ``V`` for fewer than two."""
    if ids.size < 2:
        return float(V)
    logp = lm[ids[:-1], ids[1:]]
    return float(np.exp(-logp.sum() / logp.size))


def perplexity_of(text: Optional[str]) -> float:
    """Driver-side scorer (tests / oracle cross-checks)."""
    return float(V) if text is None else ids_perplexity(_ids(text))


def make_perplexity_udf(lm: Optional[np.ndarray] = None, spark=None):
    """Arrow-batched perplexity UDF: ``text -> double``.  ``lm`` defaults
    to the embedded CHAR_LM; pass a corpus-trained matrix from
    :func:`train_char_lm` — or one reloaded through the model seam
    (``functions.models.load_char_lm(path)``) — to score against external
    statistics with zero code change.

    When ``spark`` is given the matrix ships to executors as a Spark
    broadcast variable created once per (session, matrix) instead of
    being re-pickled into every task closure — the reference's broadcast
    pattern (presidio ex.:94-97); at 27×27 doubles the closure copy is
    harmless, but a real KenLM-order table (10^6+ n-grams) is not."""
    lm_matrix = CHAR_LM if lm is None else lm
    bcast = None
    if spark is not None:
        from .models import broadcast_model, content_key

        key = content_key("char_lm", lm_matrix.tobytes())
        bcast = broadcast_model(spark, key, lambda m=lm_matrix: m)
        # drop the direct reference: a closure free variable is pickled
        # into EVERY task regardless of which branch runs, which would
        # ship the full matrix per task and defeat the broadcast
        lm_matrix = None

    def batches(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        m = bcast.value if bcast is not None else lm_matrix
        for s in it:
            yield pd.Series([float(V) if t is None else ids_perplexity(_ids(t), m)
                             for t in s.tolist()], dtype=np.float64)

    return F.pandas_udf(batches, returnType=T.DoubleType())


# --------------------------------------------------------------------------
# Distributed LM training (the KenLM-'train on your corpus' role)
# --------------------------------------------------------------------------

def canon_expr(col) -> "F.Column":
    """JVM rendering of :func:`_ids`'s canonicalization: lowercase, ASCII
    with non-ASCII → '?', letters kept, every non-letter run → one space,
    trimmed.  Identical bytes to the Python path (asserted in tests)."""
    c = F.col(col) if isinstance(col, str) else col
    # lower → non-ascii to '?' (regexp on codepoints) → non-letters to
    # space → collapse runs → trim
    lowered = F.lower(c)
    ascii_only = F.regexp_replace(lowered, r"[^\x00-\x7F]", "?")
    letters = F.regexp_replace(ascii_only, r"[^a-z]+", " ")
    return F.trim(letters)


def char_bigram_counts(df, text_col: str):
    """(bigram string, count) over the canonicalized 27-symbol alphabet —
    the distributed statistics pass of LM training.  One explode +
    map-side-combined groupBy: the shuffle carries at most 27²=729 rows
    per task regardless of corpus size (vocabulary-shaped aggregation)."""
    canon = canon_expr(text_col)
    # adjacent character pairs via substring zip (pure projection)
    chars = F.split(canon, "")
    n = F.size(chars)
    bigrams = F.zip_with(
        F.slice(chars, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(chars, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, b))
    return (df.select(F.explode(bigrams).alias("bigram"))
            .filter(F.length("bigram") == 2)
            .groupBy("bigram").agg(F.count("*").alias("count")))


def train_char_lm(df, text_col: str, k: float = 0.5) -> np.ndarray:
    """Train the 27×27 add-k char-bigram LM on a corpus DISTRIBUTED: the
    only driver-side data is the ≤729-row count table.  Same smoothing and
    normalization as the embedded :data:`CHAR_LM` (training the embedded
    corpus reproduces it bit-for-bit — tested), so a trained matrix drops
    into :func:`make_perplexity_udf` unchanged."""
    counts = np.full((V, V), k, dtype=np.float64)
    for row in char_bigram_counts(df, text_col).collect():
        a, b = row["bigram"][0], row["bigram"][1]
        ia = _SP if a == " " else ord(a) - ord("a")
        ib = _SP if b == " " else ord(b) - ord("a")
        counts[ia, ib] += row["count"]
    return np.log(counts / counts.sum(axis=1, keepdims=True))


def ccnet_buckets(df, id_col: str, text_col: str = "text",
                  lang_col: str = "lang", method: str = "quantile",
                  lm=None, spark=None):
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score each
    document with the char-LM perplexity and split every language's
    distribution into equal thirds — ``head`` (lowest perplexity =
    most target-like), ``middle``, ``tail``.  The head/middle split is
    what CCNet feeds to LM pretraining.

    Two methods, same semantics at the bucket level:

    * ``"quantile"`` (default, the scale path): per-language 1/3- and
      2/3-quantile thresholds — a tiny per-language aggregate broadcast
      back onto the scores; swap ``percentile`` for
      ``percentile_approx`` at 10^12 rows with no shape change.
      Documents at exactly a threshold bucket downward (<=).
    * ``"ntile"`` (the oracle path): ``ntile(3)`` over a per-language
      rank window with a deterministic ``(perplexity, id)`` tie-break —
      integer semantics identical across engines (no float-boundary
      coin flips), at the cost of a full per-language sort, so prefer
      ``"quantile"`` on large corpora.

    Returns ``(id, lang, perplexity, bucket)``; perplexity rounded to 6
    digits BEFORE bucketing on both paths."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    ppl = F.round(make_perplexity_udf(lm=lm, spark=spark)(F.col(text_col)),
                  6)
    scored = df.select(F.col(id_col).alias("id"),
                       F.col(lang_col).alias("lang"),
                       ppl.alias("perplexity"))
    if method == "ntile":
        w = Window.partitionBy("lang").orderBy("perplexity", "id")
        tile = F.ntile(3).over(w)
        bucket = (F.when(tile == 1, "head")
                  .when(tile == 2, "middle").otherwise("tail"))
        return scored.withColumn("bucket", bucket)
    if method != "quantile":
        raise ValueError(f"method must be 'quantile' or 'ntile', "
                         f"got {method!r}")
    thr = scored.groupBy("lang").agg(
        F.percentile("perplexity", F.lit(1.0 / 3.0)).alias("_q33"),
        F.percentile("perplexity", F.lit(2.0 / 3.0)).alias("_q66"))
    bucket = (F.when(F.col("perplexity") <= F.col("_q33"), "head")
              .when(F.col("perplexity") <= F.col("_q66"), "middle")
              .otherwise("tail"))
    return (scored.join(F.broadcast(thr), "lang")
            .select("id", "lang", "perplexity", bucket.alias("bucket")))
