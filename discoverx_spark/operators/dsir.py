"""DSIR-style importance resampling: select raw-corpus documents that
look like a target corpus (Xie et al., NeurIPS 2023, "Data Selection for
Language Models via Importance Resampling" — public method).

Features are bags of hashed n-grams (unigrams + bigrams hashed into ``B``
buckets).  Fit two add-α-smoothed multinomials over buckets — one on the
small target corpus, one on the raw corpus — and score every raw document
with the importance log-weight

    log w(x) = Σ_b c_b(x) · ( ln p_target[b] − ln p_raw[b] )

then select via Gumbel-perturbed top-k (sampling without replacement
∝ w).  The Gumbel noise is derived from a hash of the document id, so the
selection is deterministic: resumed jobs and the DuckDB oracle reproduce
the identical sample — the same hash-not-rand policy as
``operators/sampling.py``.

Spark shape (all candidate-bounded, nothing driver-side but two scalars):

* bucket histograms are vocabulary-shaped aggregations: explode hashed
  n-grams → ``groupBy(bucket)`` — map-side combine bounds the shuffle at
  ``B`` rows per task regardless of corpus size (``char_bigram_counts``
  discipline);
* the per-bucket log-ratio table (≤ ``B`` rows, a few MB at B=64k)
  broadcast-joins onto the exploded document features;
* per-document weights fold contributions in sorted bucket order — the
  deterministic float association policy shared with BM25 and the
  quality classifier;
* the final selection is one rank window over Gumbel-perturbed scores.

The n-gram arrays are built with the shifted-slice ``zip_with`` pattern
(never per-element ``element_at`` lambdas — Catalyst inlines the outer
array into lambda bodies and re-tokenizes per element; see
``dedup.shingles_expr``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import _fold_sum, tokens_sql_expr
from .sampling import _bucket_expr

DSIR_BUCKETS = 8192
DSIR_ALPHA = 0.5


def ngram_bucket_features_expr(col, buckets: int = DSIR_BUCKETS,
                               hash_mode: str = "xxhash64") -> Column:
    """``array<long>`` of hashed (unigram + bigram) bucket ids — pure
    projection, zero shuffle.  ``md5`` mode is the cross-engine-oracle
    family; ``xxhash64`` the production one (same dual-family policy as
    MinHash)."""
    toks = tokens_sql_expr(col)
    n = F.size(toks)
    joined = F.zip_with(toks, F.slice(toks, 2, F.greatest(n, F.lit(1))),
                        lambda a, b: F.concat(a, F.lit(" "), b))
    bigrams = F.when(n >= 2, F.slice(joined, 1, n - 1)) \
        .otherwise(F.slice(toks, 1, 0))
    grams = F.concat(toks, bigrams)
    return F.transform(grams,
                       lambda g: _bucket_expr(g, hash_mode, buckets))


def bucket_histogram(df: DataFrame, text_col: str,
                     buckets: int = DSIR_BUCKETS,
                     hash_mode: str = "xxhash64") -> DataFrame:
    """(bucket, cnt) n-gram bucket histogram — the multinomial statistics
    pass.  Vocabulary-shaped: ≤ ``buckets`` rows survive the map-side
    combine per task."""
    feats = ngram_bucket_features_expr(text_col, buckets, hash_mode)
    return (df.select(F.explode(feats).alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")))


def dsir_log_weights(raw_df: DataFrame, target_df: DataFrame,
                     text_col: str, id_col: str,
                     buckets: int = DSIR_BUCKETS,
                     alpha: float = DSIR_ALPHA,
                     hash_mode: str = "xxhash64") -> DataFrame:
    """(id, log_weight) importance log-weights for every raw document.

    ``p[b] = (count[b] + α) / (total + α·B)`` per corpus; a document's
    weight folds ``c_b · (ln p_t[b] − ln p_r[b])`` over its distinct
    buckets in sorted order.  Every bucket a raw document touches is by
    construction present in the raw histogram, so the left join against
    the ratio table loses nothing; documents with no tokens score 0."""
    hist_t = bucket_histogram(target_df, text_col, buckets, hash_mode) \
        .withColumnRenamed("cnt", "_ct")
    hist_r = bucket_histogram(raw_df, text_col, buckets, hash_mode) \
        .withColumnRenamed("cnt", "_cr")
    # coalesce: an empty target corpus must yield the same finite
    # smoothed-multinomial weights the SQL oracle computes, not NULL-
    # poisoned ratios that silently zero every weight
    tot_t = hist_t.agg(F.coalesce(F.sum("_ct"), F.lit(0)).alias("_tt"))
    tot_r = hist_r.agg(F.sum("_cr").alias("_tr"))
    ab = float(alpha) * buckets
    ratio = (hist_r.join(hist_t, "bucket", "left")
             .crossJoin(F.broadcast(tot_t))
             .crossJoin(F.broadcast(tot_r))
             .select(
                 "bucket",
                 (F.log(F.coalesce(F.col("_ct"), F.lit(0)) + alpha)
                  - F.log(F.col("_tt") + ab)
                  - F.log(F.col("_cr") + alpha)
                  + F.log(F.col("_tr") + ab)).alias("_lr")))
    feats = ngram_bucket_features_expr(text_col, buckets, hash_mode)
    doc_buckets = (raw_df.select(F.col(id_col).alias("id"),
                                 F.explode(feats).alias("bucket"))
                   .groupBy("id", "bucket")
                   .agg(F.count(F.lit(1)).alias("_cb")))
    weights = (doc_buckets.join(F.broadcast(ratio), "bucket")
               .groupBy("id")
               .agg(_fold_sum(F.col("bucket"), F.col("_cb") * F.col("_lr"))
                    .alias("log_weight")))
    ids = raw_df.select(F.col(id_col).alias("id"))
    return (ids.join(weights, "id", "left")
            .select("id", F.coalesce("log_weight", F.lit(0.0))
                    .alias("log_weight")))


def _gumbel_expr(id_col: str, salt: str = "#dsir") -> Column:
    """Deterministic Gumbel(0,1) noise from a hash of the id: the md5
    slice is uniform on [0, 2^32), ``u = (h + 0.5) / 2^32`` ∈ (0, 1), and
    ``g = −ln(−ln u)`` — reproducible across engines (oracle parity) and
    across resumed runs (hash-not-rand, sampling.py policy)."""
    h = F.conv(F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))),
        1, 8), 16, 10).cast("double")
    u = (h + F.lit(0.5)) / F.lit(float(2 ** 32))
    return -F.log(-F.log(u))


def dsir_resample(raw_df: DataFrame, target_df: DataFrame,
                  text_col: str, id_col: str, k: int,
                  buckets: int = DSIR_BUCKETS, alpha: float = DSIR_ALPHA,
                  hash_mode: str = "xxhash64",
                  round_digits: int = 6) -> DataFrame:
    """Gumbel-top-k importance resampling: the k raw documents sampled
    without replacement with probability ∝ w(x) (Gumbel-max trick), with
    deterministic hash-derived noise.  Returns (id, log_weight, score,
    rank) ordered by perturbed score.  The rank window runs over the
    weights frame (one row per doc — never the corpus text)."""
    w = dsir_log_weights(raw_df, target_df, text_col, id_col,
                         buckets, alpha, hash_mode)
    scored = w.withColumn(
        "score", F.round(F.col("log_weight") + _gumbel_expr("id"),
                         round_digits)) \
        .withColumn("log_weight", F.round("log_weight", round_digits))
    # top-k via TakeOrderedAndProject (never a global single-partition
    # sort of all N docs); the rank window then covers ≤ k rows
    topk = scored.orderBy(F.desc("score"), F.asc("id")).limit(k)
    rank_w = Window.orderBy(F.desc("score"), F.asc("id"))
    return topk.withColumn("rank", F.row_number().over(rank_w))
