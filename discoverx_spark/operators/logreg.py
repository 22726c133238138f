"""In-Spark trainable quality classifier: binary logistic regression on
hashed bag-of-words features — the TRAINING half of the fastText-style
quality-filter story (Joulin et al. 2017's linear-classifier shape;
the CCNet / GPT-3 / LLaMA data pipelines all train exactly this kind of
linear model over hashed n-gram features to score web documents against
a high-quality target corpus).

`functions/text.py` already SCORES documents with a fixed
term-weight table (reference parity: the rule/score surface of
reference scanner.py:310-343); this module closes the loop by TRAINING
those weights from labeled documents without the data ever leaving the
cluster:

* **Features** (:func:`hashed_features`): whitespace tokens hashed with
  ``xxhash64 % n_buckets`` (the hashing trick — no vocabulary build, no
  driver-side dictionary), value = term frequency / document length.
  One shuffle (the per-doc feature aggregation), then the frame is
  repartitioned by document id and checkpointed ONCE — every training
  iteration reuses that partitioning for its document-keyed join.
* **Training** (:func:`logreg_train`): full-batch gradient descent with
  a fixed iteration count and learning rate.  The model is a DataFrame
  (feature id, weight) plus a bias row (feature id −1) — persist as
  parquet, reload anywhere; no Python worker ever sees it.  Each
  iteration is two bounded shuffles: the margin aggregation (keyed by
  doc, co-partitioned with the checkpointed feature frame) and the
  gradient aggregation (keyed by feature, bounded by ``n_buckets``
  rows).  Weights are broadcast into the margin join — the wide side
  (features) never re-shuffles.  Driver traffic per iteration: one
  scalar (the bias gradient).
* **Determinism**: float sums over a shuffle are order-dependent, so
  with ``deterministic=True`` (default) the margin and gradient
  reductions are sorted folds (``array_sort(collect_list(struct))`` +
  ``aggregate``) — bit-reproducible run-to-run and mirrorable by a
  sequential reference implementation, which is what lets the driver
  certify the whole training loop against an independent pure-Python
  model (queries.py `logreg_train_generated`).  At 100 TB pass
  ``deterministic=False``: reductions become plain ``F.sum`` (map-side
  combined, no per-group arrays) at the cost of ±1 ulp run-to-run
  wobble — the documented scale configuration.

Scale note: per-group sorted folds materialize one array per document
(bounded by features-per-doc) and per feature (bounded by
docs-per-feature — the hot-bucket analog).  That is fine at
certification scale and for the common-crawl-scale run the
``deterministic=False`` path removes the arrays entirely.
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import _fold_sum, tokens_sql_expr as _tokens

BIAS_FEATURE = -1


def hashed_features(df: DataFrame, text_col: str, id_col: str,
                    label_col: Optional[str] = None,
                    n_buckets: int = 1 << 18) -> DataFrame:
    """(id, y?, f, x): hashed-unigram term frequencies normalized by
    document length.  Tokens hash with ``pmod(xxhash64(token), B)`` —
    mirrorable by `functions/xxh.py` driver-side.  Empty documents
    produce no rows (their margin is the bias alone; `logreg_train`
    keeps them in the bias gradient via the separate label frame)."""
    toks = _tokens(text_col)
    cols = [F.col(id_col).alias("id"), F.size(toks).alias("_n"),
            F.explode(toks).alias("_tok")]
    if label_col is not None:
        cols.insert(1, F.col(label_col).cast("double").alias("y"))
    exploded = df.select(*cols)
    f = F.pmod(F.xxhash64(F.col("_tok")), F.lit(n_buckets)).alias("f")
    keys = ["id", "y", "_n"] if label_col is not None else ["id", "_n"]
    out = (exploded.select(*keys, f)
           .groupBy(*keys, "f")
           .agg(F.count(F.lit(1)).alias("_cnt"))
           .select(*[k for k in keys if k != "_n"], "f",
                   (F.col("_cnt").cast("double")
                    / F.col("_n").cast("double")).alias("x")))
    return out


def logreg_train(df: DataFrame, text_col: str, label_col: str,
                 id_col: str, n_buckets: int = 1 << 18,
                 n_iter: int = 8, lr: float = 2.0, l2: float = 0.0,
                 deterministic: bool = True) -> DataFrame:
    """Train binary logistic regression by full-batch gradient descent;
    returns the model as a DataFrame (f: long, w: double) with the bias
    at ``f = BIAS_FEATURE``.

    Update rule (mean gradient over ALL labeled documents, including
    featureless ones):  ``w ← w − lr·(Σ_d r_d·x_{d,f}/N + l2·w)``,
    ``b ← b − lr·Σ_d r_d/N`` with ``r_d = σ(margin_d) − y_d``.
    """
    labels = (df.select(F.col(id_col).alias("id"),
                        F.col(label_col).cast("double").alias("y"))
              .repartition("id").localCheckpoint(eager=True))
    n_docs = labels.count()
    if n_docs == 0:
        raise ValueError("logreg_train: no labeled documents")
    feats = (hashed_features(df, text_col, id_col, n_buckets=n_buckets)
             .repartition("id").localCheckpoint(eager=True))

    # weight state: one row per feature PRESENT in the corpus (absent
    # buckets stay implicitly zero — their gradient is zero forever)
    weights = (feats.select("f").distinct()
               .select("f", F.lit(0.0).alias("w"))
               .localCheckpoint(eager=True))
    bias = 0.0

    spark = df.sparkSession
    for _ in range(n_iter):
        wx = (feats.join(F.broadcast(weights), "f", "left")
              .select("id", "f",
                      (F.coalesce("w", F.lit(0.0)) * F.col("x"))
                      .alias("_wx"), "x"))
        msum = (_fold_sum(F.col("f"), F.col("_wx")) if deterministic
                else F.sum("_wx"))
        margins = wx.groupBy("id").agg(msum.alias("_m"))
        resid = (labels.join(margins, "id", "left")
                 .select("id",
                         (F.lit(1.0)
                          / (F.lit(1.0)
                             + F.exp(-(F.coalesce("_m", F.lit(0.0))
                                       + F.lit(bias))))
                          - F.col("y")).alias("r"))
                 .localCheckpoint(eager=False))

        bsum = (_fold_sum(F.col("id"), F.col("r")) if deterministic
                else F.sum("r"))
        gb = resid.agg(bsum.alias("g")).collect()[0]["g"] / n_docs

        contrib = (resid.join(feats, "id")
                   .select("f", "id", (F.col("r") * F.col("x"))
                           .alias("_c")))
        gsum = (_fold_sum(F.col("id"), F.col("_c")) if deterministic
                else F.sum("_c"))
        grads = contrib.groupBy("f").agg(gsum.alias("_g"))
        weights = (weights.join(grads, "f", "left")
                   .select("f",
                           (F.col("w")
                            - F.lit(lr)
                            * (F.coalesce("_g", F.lit(0.0))
                               / F.lit(float(n_docs))
                               + F.lit(l2) * F.col("w"))).alias("w"))
                   .localCheckpoint(eager=True))
        bias = bias - lr * gb

    bias_row = spark.createDataFrame([(BIAS_FEATURE, float(bias))],
                                     "f long, w double")
    return weights.unionByName(bias_row)


def logreg_predict(df: DataFrame, text_col: str, id_col: str,
                   model: DataFrame, n_buckets: int = 1 << 18,
                   deterministic: bool = True) -> DataFrame:
    """(id, score): σ(b + Σ w_f·x_f) under a :func:`logreg_train` model.
    Join-based and 100% JVM-side — the model broadcasts (≤ n_buckets
    rows); documents without tokens score σ(bias)."""
    model = model.localCheckpoint(eager=False)
    w = model.filter(F.col("f") != BIAS_FEATURE)
    bias = model.filter(F.col("f") == BIAS_FEATURE) \
        .select(F.col("w").alias("_b"))
    feats = hashed_features(df, text_col, id_col, n_buckets=n_buckets)
    wx = (feats.join(F.broadcast(w), "f", "left")
          .select("id", "f", (F.coalesce("w", F.lit(0.0)) * F.col("x"))
                  .alias("_wx")))
    msum = (_fold_sum(F.col("f"), F.col("_wx")) if deterministic
            else F.sum("_wx"))
    margins = wx.groupBy("id").agg(msum.alias("_m"))
    ids = df.select(F.col(id_col).alias("id"))
    return (ids.join(margins, "id", "left").crossJoin(F.broadcast(bias))
            .select("id",
                    (F.lit(1.0)
                     / (F.lit(1.0)
                        + F.exp(-(F.coalesce("_m", F.lit(0.0))
                                  + F.col("_b"))))).alias("score")))
