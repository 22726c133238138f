"""Word n-gram language model with Stupid Backoff — the KenLM role at
corpus scale, with the MODEL AS A DATAFRAME.

Stupid Backoff (Brants et al. 2007, "Large Language Models in Machine
Translation" — a public method designed for distributed MapReduce-style
LMs) scores a word by relative frequency at the longest seen order and
backs off with a fixed penalty λ instead of normalized discounting:

    S(w | w₋₂ w₋₁) = c(w₋₂ w₋₁ w) / c(w₋₂ w₋₁)           if trigram seen
                   = λ · c(w₋₁ w) / c(w₋₁)                elif bigram seen
                   = λ² · c(w) / N                        elif unigram seen
                   = λ² · 0.5 / N                         else (OOV floor)

Per-document score: ``sb_ppl = exp(−mean(ln S))`` over every position
(leading positions score with whatever context exists — the token array
is left-padded with nulls, so backoff handles the document start without
special cases).

Spark shape — this is the part KenLM cannot do and Spark does naturally:

* **Training** is ONE vocabulary-shaped aggregation for every order:
  each token position explodes into its ``(gram, n)`` keys for
  n = 1..order → one ``groupBy(gram, n)`` with map-side combine, shuffle
  bounded by distinct-n-gram count.  The counts DataFrame **is** the
  model: persist with plain parquet, prune with a ``min_count`` filter,
  re-load anywhere (the same save/load seam as functions/models.py).
* **Scoring** is join-based and 100% JVM-side: the position frame
  (id, pos, w₋₂, w₋₁, w) left-joins ONE (pruned, broadcastable) model
  relation ``(gram, cnt)`` five times — the gram string alone fixes its
  order, so every lookup reads the same table and one broadcast serves
  them all; one ``coalesce`` chain implements backoff; a sorted-position
  fold gives a deterministic float sum.  No Python worker ever sees the
  model — at 10⁵-10⁶ retained n-grams the table broadcasts in a few MB,
  and the corpus text itself never shuffles.

The trigram key joins guarantee referential soundness: a seen trigram
implies its context bigram is seen (the prefix of every counted n-gram
was also counted), so the relative-frequency divisions never hit NULL
denominators.
"""

from __future__ import annotations

from typing import Tuple, Union

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from .text import _fold_sum, tokens_sql_expr as _tokens

SB_LAMBDA = 0.4
SB_OOV_NUMERATOR = 0.5

# broadcast='auto' cutover: above this many model rows the count tables
# stop being broadcast and the scorer falls back to plain (shuffled)
# joins on the gram keys.  2M rows ≈ 100-200 MB built relation — inside
# the "few hundred MB is usually fine" broadcast envelope (guide §3.1),
# while an unpruned web-scale trigram table (10⁹⁺ rows) falls through to
# the shuffle path instead of OOMing the driver.
LM_BROADCAST_MAX_ROWS = 2_000_000


def _lm_join_side(df: DataFrame, broadcast: Union[bool, str],
                  n_rows: int) -> DataFrame:
    """Apply the model-side join policy: ``True`` forces the broadcast
    hint, ``False`` only omits it, ``'auto'`` hints iff the materialized
    model has at most :data:`LM_BROADCAST_MAX_ROWS` rows (the
    ``quality_classifier_frame`` auto-select precedent) — the row count
    comes from :func:`_probe_model`, the one observed job in which both
    scorers materialize their checkpointed model and read their totals
    (Stupid Backoff's unigram total; Kneser-Ney's N₁₊(··), V and
    count-of-counts), so the decision costs no job of its own.  Without
    the hint the planner still chooses the join itself: a model whose
    size estimate is under ``spark.sql.autoBroadcastJoinThreshold`` is
    broadcast anyway."""
    if broadcast is True or (broadcast == "auto"
                             and n_rows <= LM_BROADCAST_MAX_ROWS):
        return F.broadcast(df)
    return df


def word_ngram_counts(df: DataFrame, text_col: str, order: int = 3,
                      min_count: int = 1) -> DataFrame:
    """(gram, n, cnt) counts for all orders 1..``order`` — the trained
    model, as a DataFrame.

    ONE corpus pass and ONE aggregation for every order (Brants et al.
    2007 count all orders in a single pass): each token position
    explodes once with its ``order-1`` left-context words (NULL-padded
    at the document start), then once more into its ``(gram, n)`` keys —
    the gram of order n ends at the position's word and exists iff the
    word n-1 slots back is not NULL padding — and one map-side-combined
    ``groupBy(gram, n)`` counts them all.  Shuffle is bounded by the
    distinct-n-gram count, never corpus size.  An n-gram is its tokens
    joined by single spaces; tokens are ``\\S+`` matches and hold no
    ASCII space, so a gram has exactly n-1 spaces and the string alone
    fixes its order (the scorer keys its single model lookup on that).
    ``min_count`` prunes the long tail (entropy pruning's cheap
    cousin): pruning only REMOVES grams, so backoff soundness
    (prefix-of-counted-gram-is-counted) is preserved as long as the
    same threshold applies to every order."""
    if order < 1:
        raise ValueError("order must be >= 1")
    toks = _tokens(text_col)
    n_toks = F.size(toks)
    pad = F.array(*[F.lit(None).cast("string")] * (order - 1)) \
        if order > 1 else F.array().cast("array<string>")
    padded = F.concat(pad, toks)
    slots = [F.slice(padded, j + 1, F.greatest(n_toks, F.lit(1)))
             .alias(f"c{order - 1 - j}") for j in range(order)]
    zipped = F.arrays_zip(*slots)
    rows = df.select(F.explode(F.when(n_toks >= 1, zipped)).alias("s"))
    ctx = [F.col(f"s.c{k}") for k in range(order)]  # c0 = the word itself
    keys = F.array(*[F.struct(
        F.when(ctx[n - 1].isNotNull(),
               F.concat_ws(" ", *reversed(ctx[:n]))).alias("gram"),
        F.lit(n).alias("n")) for n in range(1, order + 1)])
    return (rows.select(F.inline(keys))
            .filter(F.col("gram").isNotNull())
            .groupBy("gram", "n").agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") >= min_count))


def _probe_model(df: DataFrame, model: DataFrame,
                 *aggs: Column) -> Tuple[DataFrame, dict]:
    """The scorer skeleton's model step: checkpoint ``model`` and read
    its row count plus ``aggs`` (named aggregate Columns) in ONE job.

    The model feeds the probe and five lookups: without a lineage cut, a
    caller passing a raw training plan would re-run the training
    aggregation once per branch.  A lazy localCheckpoint makes the
    scorer self-sufficient — the model RDD materializes once, in the
    probe, and every lookup scans it (the scoring plan shows ExistingRDD
    scans, no training aggregates; plan-tested).  Already-checkpointed
    input costs one cheap re-cache of a pruned, broadcast-sized table.
    Coalescing the aggregation's shuffle partitions (narrow, no shuffle)
    keeps the checkpoint scan, the probe and the broadcast build at
    cluster-parallelism tasks.  The probe is an ``Observation`` over a
    noop write of the checkpoint: a global agg + collect would add a
    shuffle stage, a second job."""
    model = model.coalesce(
        df.sparkSession.sparkContext.defaultParallelism) \
        .localCheckpoint(eager=False)
    probe = Observation()
    model.observe(probe, F.count(F.lit(1)).alias("rows"), *aggs) \
        .write.format("noop").mode("overwrite").save()
    return model, probe.get


def _positions(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, pos, _w2, _w1, _w): one row per token with its two left
    context words (NULL before the document head).

    The frame is built BEFORE exploding (arrays_zip of the null-left-
    padded token array with its shifts — never per-element lambdas over
    the outer array, which Catalyst would inline and re-tokenize per
    position); ``posexplode_outer`` keeps an empty document as one
    null-position row, so no second scan + join-back is needed to
    restore it (guide §2.4)."""
    toks = _tokens(text_col)
    padded = F.concat(F.array(F.lit(None).cast("string"),
                              F.lit(None).cast("string")), toks)
    n = F.size(toks)
    zipped = F.arrays_zip(
        F.slice(padded, 1, F.greatest(n, F.lit(1))).alias("w2"),
        F.slice(padded, 2, F.greatest(n, F.lit(1))).alias("w1"),
        F.slice(padded, 3, F.greatest(n, F.lit(1))).alias("w"))
    return (df.select(F.col(id_col).alias("id"),
                      F.posexplode_outer(F.when(n >= 1, zipped))
                      .alias("pos", "s"))
            .select("id", "pos",
                    F.col("s.w2").alias("_w2"), F.col("s.w1").alias("_w1"),
                    F.col("s.w").alias("_w")))


def _perplexity(scored: DataFrame, prob: Column, name: str) -> DataFrame:
    """(id, ``name``, n_tokens): ``exp(−mean(ln prob))`` per document,
    the log-probabilities folded in position order (deterministic float
    association, the BM25/classifier policy).

    The null-position row of an empty document is not counted
    (``count`` skips its NULL pos), so a 0-token document comes out with
    ``n_tokens = 0`` and, through the explicit guard, a NULL ppl —
    ANSI-safe where a bare 0/0 division would throw."""
    per_doc = scored.groupBy("id").agg(
        F.count("pos").alias("n_tokens"),
        _fold_sum(F.col("pos"), F.log(prob)).alias("_sum"))
    return per_doc.select(
        "id",
        F.when(F.col("n_tokens") > 0,
               F.exp(-F.col("_sum") / F.col("n_tokens").cast("double")))
        .alias(name),
        F.col("n_tokens"))


def stupid_backoff_score(df: DataFrame, text_col: str, id_col: str,
                         counts: DataFrame,
                         lam: float = SB_LAMBDA,
                         broadcast: Union[bool, str] = "auto") -> DataFrame:
    """(id, sb_ppl, n_tokens) — per-document Stupid Backoff perplexity
    against a ``word_ngram_counts`` model, entirely JVM-side.  ``id``
    must identify documents uniquely (one output row per document).

    One job checkpoints the model and probes it, observed, for its size
    (the 'auto' policy) and the unigram total N (NULL for a model
    without unigrams, as an empty sum was), which enters the plan as a
    literal.  Each position of the :func:`_positions` frame then looks
    up its five counts (trigram, its context bigram, bigram, its context
    unigram, unigram) in the SAME model relation ``(gram, cnt)`` on
    ``gram``: tokens are ``\\S+`` matches with no ASCII space, so a gram
    joined by single spaces has exactly n-1 spaces and its string alone
    fixes its order — the lookups need no per-order slice, and adaptive
    execution builds one broadcast and reuses it for the other four.
    ``broadcast`` picks the model-side join strategy: ``'auto'``
    (default) broadcasts the model only while it is at most
    :data:`LM_BROADCAST_MAX_ROWS` rows and falls back to plain gram-key
    joins beyond — an unpruned web-scale count table must never ride a
    forced broadcast hint.  Empty docs yield ``sb_ppl = NULL`` with
    ``n_tokens = 0``."""
    counts, seen = _probe_model(
        df, counts,
        F.sum(F.when(F.col("n") == 1, F.col("cnt"))).alias("total"))
    model = counts.select("gram", "cnt")

    def lookup(gram: str, cnt: str) -> DataFrame:
        return _lm_join_side(model.select(F.col("gram").alias(gram),
                                          F.col("cnt").alias(cnt)),
                             broadcast, seen["rows"])

    tri = F.when(F.col("_w2").isNotNull(),
                 F.concat_ws(" ", "_w2", "_w1", "_w"))
    ctx2 = F.when(F.col("_w2").isNotNull(), F.concat_ws(" ", "_w2", "_w1"))
    big = F.when(F.col("_w1").isNotNull(), F.concat_ws(" ", "_w1", "_w"))
    scored = (
        _positions(df, text_col, id_col)
        .withColumn("_tri", tri).withColumn("_ctx2", ctx2)
        .withColumn("_big", big)
        .join(lookup("_g3", "_c3"), F.col("_tri") == F.col("_g3"), "left")
        .join(lookup("_g2a", "_c2a"), F.col("_ctx2") == F.col("_g2a"),
              "left")
        .join(lookup("_g2", "_c2"), F.col("_big") == F.col("_g2"), "left")
        .join(lookup("_g1a", "_c1a"), F.col("_w1") == F.col("_g1a"),
              "left")
        .join(lookup("_g1", "_c1"), F.col("_w") == F.col("_g1"), "left"))
    lam2 = float(lam) * float(lam)
    total = F.lit(seen["total"]).cast("long")
    s = F.when(F.col("_c3").isNotNull(),
               F.col("_c3") / F.col("_c2a")) \
        .when(F.col("_c2").isNotNull(),
              F.lit(float(lam)) * F.col("_c2") / F.col("_c1a")) \
        .when(F.col("_c1").isNotNull(),
              F.lit(lam2) * F.col("_c1") / total) \
        .otherwise(F.lit(lam2 * SB_OOV_NUMERATOR) / total)
    return _perplexity(scored, s, "sb_ppl")
