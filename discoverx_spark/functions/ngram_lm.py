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

* **Training** is one vocabulary-shaped aggregation per order:
  explode n-grams → ``groupBy(gram)`` with map-side combine, shuffle
  bounded by distinct-n-gram count.  The counts DataFrame **is** the
  model: persist with plain parquet, prune with a ``min_count`` filter,
  re-load anywhere (the same save/load seam as functions/models.py).
* **Scoring** is join-based and 100% JVM-side: the position frame
  (id, pos, w₋₂, w₋₁, w) left-joins the (pruned, broadcastable) count
  tables; one ``coalesce`` chain implements backoff; a sorted-position
  fold gives a deterministic float sum.  No Python worker ever sees the
  model — at 10⁵-10⁶ retained n-grams the count tables broadcast in a
  few MB, and the corpus text itself never shuffles.

The trigram key joins guarantee referential soundness: a seen trigram
implies its context bigram is seen (the prefix of every counted n-gram
was also counted), so the relative-frequency divisions never hit NULL
denominators.
"""

from __future__ import annotations

from typing import Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens_sql_expr as _tokens

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
    comes from the scorer's already-materialized checkpoint, so the
    decision costs one metadata-cheap job, not a recount.  Without the
    hint the planner still chooses the join itself: a model whose size
    estimate is under ``spark.sql.autoBroadcastJoinThreshold`` is
    broadcast anyway."""
    if broadcast is True or (broadcast == "auto"
                             and n_rows <= LM_BROADCAST_MAX_ROWS):
        return F.broadcast(df)
    return df


def word_ngram_counts(df: DataFrame, text_col: str, order: int = 3,
                      min_count: int = 1) -> DataFrame:
    """(gram, n, cnt) counts for all orders 1..``order`` — the trained
    model, as a DataFrame.

    ONE corpus pass for every order (guide §1.2 — was one explode +
    groupBy per order, i.e. ``order`` full passes): each token position
    explodes once with its ``order-1`` left-context words (NULL-padded
    at the document start), one map-side-combined groupBy over the
    padded context key counts every position, and each order's counts
    are an exact type-bounded rollup of that table — the count of gram
    (w₁..wₙ) is the sum of position counts whose last n slots match it,
    which the sub-groupBy computes without touching the corpus again.
    Shuffle is bounded by distinct padded-context counts, never corpus
    size.  ``min_count`` prunes the long tail (entropy pruning's cheap
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
    rows = (df.select(F.explode(F.when(n_toks >= 1, zipped)).alias("s"))
            .select(*[F.col(f"s.c{i}").alias(f"_c{i}")
                      for i in range(order - 1, -1, -1)]))
    keys = [f"_c{i}" for i in range(order - 1, -1, -1)]  # oldest first
    ctx = (rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("_cnt"))
           .localCheckpoint(eager=False))
    parts = []
    for n in range(1, order + 1):
        sub = ctx
        if n < order:
            sub = sub.groupBy(*keys[order - n:]) \
                .agg(F.sum("_cnt").alias("_cnt"))
        else:
            # highest order: rows whose full context exists
            sub = sub.filter(F.col(keys[0]).isNotNull())
        if n > 1:
            # any NULL in the last n slots marks a shorter-than-n
            # position (document head) — not an order-n gram
            sub = sub.filter(F.col(keys[order - n]).isNotNull())
        gram = F.concat_ws(" ", *keys[order - n:]) if n > 1 \
            else F.col(keys[-1])
        parts.append(sub.select(gram.alias("gram"),
                                F.lit(n).alias("n"),
                                F.col("_cnt").cast("long").alias("cnt")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.filter(F.col("cnt") >= min_count)


def stupid_backoff_score(df: DataFrame, text_col: str, id_col: str,
                         counts: DataFrame,
                         lam: float = SB_LAMBDA,
                         broadcast: Union[bool, str] = "auto") -> DataFrame:
    """(id, sb_ppl, n_tokens) — per-document Stupid Backoff perplexity
    against a ``word_ngram_counts`` model, entirely JVM-side.  ``id``
    must identify documents uniquely (one output row per document).

    The position frame is built BEFORE exploding (arrays_zip of the
    null-left-padded token array with its shifts — never per-element
    lambdas over the outer array, which Catalyst would inline and
    re-tokenize per position), so each exploded row carries only
    (id, pos, w₋₂, w₋₁, w); ``posexplode_outer`` keeps empty documents
    as one null-position row, so no second scan + join-back is needed to
    restore them (guide §2.4).  ``broadcast`` picks the model-side join
    strategy: ``'auto'`` (default) broadcasts the count tables only while
    the model is at most :data:`LM_BROADCAST_MAX_ROWS` rows and falls
    back to plain gram-key joins beyond — an unpruned web-scale count
    table must never ride a forced broadcast hint.  The per-doc mean
    folds ln S in position order (deterministic float association, the
    BM25/classifier policy).  Empty docs yield ``sb_ppl = NULL`` with
    ``n_tokens = 0``."""
    # the model feeds SIX branches below (c1×2, c2×2, c3, total): without
    # a lineage cut, a caller passing the raw word_ngram_counts plan would
    # re-run the training aggregation once per branch.  A lazy
    # localCheckpoint makes the operator self-sufficient — the counts RDD
    # materializes once at first use and every branch scans it (the
    # scoring plan shows ExistingRDD scans, no training aggregates;
    # plan-tested).  Already-checkpointed input costs one cheap re-cache
    # of a pruned, broadcast-sized table.
    # coalesce the union's per-order shuffle partitions (narrow, no
    # shuffle) so the checkpoint scan, the auto probe and the six
    # broadcast builds each run cluster-parallelism tasks, not
    # 6 × shuffle.partitions micro-tasks
    counts = counts.coalesce(
        df.sparkSession.sparkContext.defaultParallelism) \
        .localCheckpoint(eager=False)
    n_model = counts.count() if broadcast == "auto" else 0
    side = lambda sdf: _lm_join_side(sdf, broadcast, n_model)  # noqa: E731
    c1 = counts.filter(F.col("n") == 1).select(
        F.col("gram").alias("_g1"), F.col("cnt").alias("_c1"))
    c2 = counts.filter(F.col("n") == 2).select(
        F.col("gram").alias("_g2"), F.col("cnt").alias("_c2"))
    c3 = counts.filter(F.col("n") == 3).select(
        F.col("gram").alias("_g3"), F.col("cnt").alias("_c3"))
    total = c1.agg(F.sum("_c1").alias("_n_total"))

    toks = _tokens(text_col)
    padded = F.concat(F.array(F.lit(None).cast("string"),
                              F.lit(None).cast("string")), toks)
    n = F.size(toks)
    zipped = F.arrays_zip(
        F.slice(padded, 1, F.greatest(n, F.lit(1))).alias("w2"),
        F.slice(padded, 2, F.greatest(n, F.lit(1))).alias("w1"),
        F.slice(padded, 3, F.greatest(n, F.lit(1))).alias("w"))
    rows = (df.select(F.col(id_col).alias("id"),
                      F.posexplode_outer(F.when(n >= 1, zipped))
                      .alias("pos", "s")))
    rows = rows.select(
        "id", "pos",
        F.col("s.w2").alias("_w2"), F.col("s.w1").alias("_w1"),
        F.col("s.w").alias("_w"))
    tri = F.when(F.col("_w2").isNotNull(),
                 F.concat_ws(" ", "_w2", "_w1", "_w"))
    ctx2 = F.when(F.col("_w2").isNotNull(), F.concat_ws(" ", "_w2", "_w1"))
    big = F.when(F.col("_w1").isNotNull(), F.concat_ws(" ", "_w1", "_w"))
    scored = (
        rows
        .withColumn("_tri", tri).withColumn("_ctx2", ctx2)
        .withColumn("_big", big)
        .join(side(c3), F.col("_tri") == F.col("_g3"), "left")
        .join(side(c2.select(F.col("_g2").alias("_g2a"),
                             F.col("_c2").alias("_c2a"))),
              F.col("_ctx2") == F.col("_g2a"), "left")
        .join(side(c2), F.col("_big") == F.col("_g2"), "left")
        .join(side(c1.select(F.col("_g1").alias("_g1a"),
                             F.col("_c1").alias("_c1a"))),
              F.col("_w1") == F.col("_g1a"), "left")
        .join(side(c1), F.col("_w") == F.col("_g1"), "left")
        .crossJoin(F.broadcast(total)))
    lam2 = float(lam) * float(lam)
    s = F.when(F.col("_c3").isNotNull(),
               F.col("_c3") / F.col("_c2a")) \
        .when(F.col("_c2").isNotNull(),
              F.lit(float(lam)) * F.col("_c2") / F.col("_c1a")) \
        .when(F.col("_c1").isNotNull(),
              F.lit(lam2) * F.col("_c1") / F.col("_n_total")) \
        .otherwise(F.lit(lam2 * SB_OOV_NUMERATOR) / F.col("_n_total"))
    # a null-position row (empty doc) contributes neither to the count
    # nor to the fold — count("_ls") skips its NULL, the when() keeps it
    # out of the list — and 0-token docs come out as 0.0/0 = NULL ppl,
    # exactly what the old join-back produced
    per_doc = (scored.select(
        "id", "pos",
        F.when(F.col("pos").isNotNull(), F.log(s)).alias("_ls"))
        .groupBy("id")
        .agg(F.count("pos").alias("n_tokens"),
             F.aggregate(
                 F.array_sort(F.collect_list(
                     F.when(F.col("pos").isNotNull(),
                            F.struct("pos", "_ls")))),
                 F.lit(0.0),
                 lambda acc, x: acc + x["_ls"]).alias("_sum")))
    # explicit 0-token guard (NULL ppl) — ANSI-safe where a bare 0/0
    # division would throw
    return per_doc.select(
        "id",
        F.when(F.col("n_tokens") > 0,
               F.exp(-F.col("_sum") / F.col("n_tokens").cast("double")))
        .alias("sb_ppl"),
        F.col("n_tokens"))
