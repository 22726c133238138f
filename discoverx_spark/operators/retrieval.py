"""Sparse lexical retrieval: term statistics and BM25 top-k.

The embedding-free complement to ``operators/similarity.py``: curation
pipelines use lexical retrieval to pull contamination candidates
(benchmark-overlap queries), to audit near-misses of the dedup layer, and
to build quality-by-query slices — all without a model.

Spark shape (the inverted-index plan):

* ``term_frequencies`` — explode tokens → ``groupBy(doc, term)`` count;
  map-side combine makes the shuffle one row per distinct (doc, term).
* document frequencies / lengths are tiny aggregates over the same pass.
* ``bm25_topk`` — the query terms are a LITERAL filter pushed at the term
  table (an inverted-index probe: only postings of query terms move),
  then one ``groupBy(doc)`` sums the per-term BM25 contributions and a
  TakeOrdered emits the top-k.  Nothing about the corpus is ever
  collected to the driver.

Scoring is the standard Okapi BM25 (public formula):
``idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))``,
``score = Σ idf · tf·(k1+1)/(tf + k1·(1 - b + b·len/avglen))``.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import _fold_sum, tokens_sql_expr

K1 = 1.2
B = 0.75


def term_frequencies(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, term, tf) over lowercased whitespace tokens."""
    return (df.select(F.col(id_col).alias("id"),
                      F.explode(tokens_sql_expr(text_col)).alias("term"))
            .groupBy("id", "term").agg(F.count("*").alias("tf")))


def doc_lengths(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, dl) token counts per document."""
    return df.select(F.col(id_col).alias("id"),
                     F.coalesce(F.size(tokens_sql_expr(text_col)), F.lit(0))
                     .cast("long").alias("dl"))


def bm25_topk(df: DataFrame, text_col: str, id_col: str,
              query: str, k: int = 10,
              k1: float = K1, b: float = B,
              round_digits: int = 6) -> DataFrame:
    """Top-k documents for a single query string by Okapi BM25.

    Returns (id, score, rank) with a deterministic total order (score
    desc rounded, id asc).  The postings filter (``term isin query``)
    sits directly on the exploded scan, so only query-term postings are
    aggregated — the inverted-index probe, not a full-corpus score.

    For a SUITE of queries (benchmark decontamination screens thousands)
    use :func:`bm25_topk_batch` — this function's two scalar collects
    (N/avgdl, per-term df) are correct at any corpus scale but cost
    3×|queries| job launches when looped."""
    q_terms = sorted(set(query.lower().split()))
    if not q_terms:
        raise ValueError("query has no terms")
    tf = term_frequencies(df, text_col, id_col) \
        .filter(F.col("term").isin(q_terms))
    # corpus statistics: N and avg length (two scalars), df per query term
    stats = doc_lengths(df, text_col, id_col)
    agg = stats.agg(F.count("*").alias("n"),
                    F.avg("dl").alias("avgdl")).collect()[0]
    n_docs = agg["n"]
    if n_docs == 0:
        # avg over zero rows is NULL; fail with meaning, not float(None)
        raise ValueError("bm25_topk: corpus is empty")
    avgdl = float(agg["avgdl"])
    dfs = {r["term"]: r["df"] for r in
           tf.groupBy("term").agg(F.countDistinct("id").alias("df"))
           .collect()}
    idf = {t: math.log(1.0 + (n_docs - dfs.get(t, 0) + 0.5)
                       / (dfs.get(t, 0) + 0.5)) for t in q_terms}
    idf_map = F.create_map(
        *[x for t in q_terms for x in (F.lit(t), F.lit(idf[t]))])
    scored = (tf.join(stats, on="id")
              .withColumn("_idf", idf_map[F.col("term")])
              .withColumn(
                  "_s",
                  F.col("_idf") * (F.col("tf") * (k1 + 1))
                  / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)))
              # deterministic summation ORDER (sorted by term, sequential
              # left fold): float addition is not associative, and the
              # cross-engine oracle hash needs bit-identical doubles —
              # same policy as the cosine dot-product fold
              .groupBy("id")
              .agg(_fold_sum(F.col("term"), F.col("_s")).alias("score")))
    # top-k via TakeOrderedAndProject (never a global sort); the ranking
    # window then runs over the ≤k surviving rows only
    topk = (scored.select("id", F.round("score", round_digits).alias("score"))
            .orderBy(F.desc("score"), F.asc("id")).limit(k))
    w = Window.orderBy(F.desc("score"), F.asc("id"))
    return topk.withColumn("rank", F.row_number().over(w))


def bm25_topk_batch(df: DataFrame, text_col: str, id_col: str,
                    queries_df: DataFrame,
                    query_id_col: str = "query_id",
                    query_text_col: str = "query",
                    k: int = 10, k1: float = K1, b: float = B,
                    round_digits: int = 6) -> DataFrame:
    """Top-k per query for a whole DataFrame of queries in ONE job.

    :func:`bm25_topk` pays three driver round-trips per query (N/avgdl
    collect, per-term df collect, then the scored job) — scalar-sized
    and correct at any corpus scale, but a decontamination-style batch
    of thousands of benchmark queries multiplies the job-launch latency
    by 3×|queries|.  Here every statistic stays a DataFrame:

    * query terms (set semantics per query, like the single-query path)
      are collected once into ONE broadcast — queries are the small side
      by definition;
    * corpus N/avgdl is ONE scalar collect for the whole batch (vs one
      per query in the single-query path) — it doubles as the loud
      empty-corpus guard and substitutes literals, saving an exchange;
    * per-term document frequencies are computed for the union of all
      query terms in the same pass and broadcast back onto the postings;
    * one ``groupBy (query, doc)`` with the same sorted-term sequential
      fold as the single-query path (bit-identical doubles), then a
      per-query row_number window keeps ranks ≤ k.

    Returns (query_id, id, score, rank) — per query, identical rows to
    ``bm25_topk(df, ..., query)`` (parity-tested).  This is the API the
    contamination workflow should drive when screening a benchmark
    suite: thousands of queries, one Spark job.
    """
    # a termless query would silently vanish from the output (explode
    # emits no rows), which a decontamination caller would read as "no
    # overlaps found" — fail loudly instead, matching the single-query
    # path's ValueError.  queries_df is the small side by definition, so
    # this is one tiny driver job, not a corpus scan.
    bad = (queries_df.filter(
        F.coalesce(F.size(tokens_sql_expr(query_text_col)), F.lit(0)) == 0)
        .select(query_id_col).limit(5).collect())
    if bad:
        raise ValueError(
            "queries with no terms: "
            f"{[r[query_id_col] for r in bad]}")
    qt = (queries_df.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(tokens_sql_expr(query_text_col)).alias("term"))
        .distinct())
    terms = qt.select("term").distinct()
    base = df.select(F.col(id_col).alias("id"),
                     tokens_sql_expr(text_col).alias("_t"))
    # ONE scalar collect for the whole batch (the single-query path pays
    # this per query): N/avgdl become literals, and an empty corpus fails
    # loudly here instead of silently returning an empty frame a
    # decontamination caller would read as "no overlaps found"
    stats = (base.select(F.coalesce(F.size("_t"), F.lit(0))
                         .cast("long").alias("dl"))
             .agg(F.count("*").alias("_n"), F.avg("dl").alias("_avgdl"))
             .first())
    if stats is None or not stats["_n"]:
        raise ValueError("corpus is empty")
    # postings probe BEFORE the shuffle (broadcast semi-filter on the
    # scan, the batch analog of the single-query isin pushdown), with the
    # doc length carried inline so no separate lengths join is needed
    # one term-keyed shuffle feeds BOTH the tf aggregation (term ⊂ the
    # group keys, so hashpartitioning(term) satisfies the clustered
    # distribution) and the per-term document-frequency window below —
    # df-per-term needs the full term shuffle anyway, so pre-partitioning
    # here costs nothing extra and removes a second exchange
    tf = (base.select("id",
                      F.coalesce(F.size("_t"), F.lit(0))
                      .cast("long").alias("dl"),
                      F.explode("_t").alias("term"))
          .join(F.broadcast(terms), on="term")
          .repartition("term")
          .groupBy("id", "dl", "term").agg(F.count("*").alias("tf")))
    # per-term document frequency as a window over rows already unique in
    # (id, term) — reuses the term partitioning, no groupBy + re-join
    scored = (
        tf.withColumn("_df", F.count("*").over(Window.partitionBy("term")))
        .join(F.broadcast(qt), on="term")
        .withColumn("_n", F.lit(int(stats["_n"])).cast("long"))
        .withColumn("_avgdl", F.lit(float(stats["_avgdl"])))
        .withColumn("_idf", F.log(
            F.lit(1.0) + (F.col("_n") - F.col("_df") + 0.5)
            / (F.col("_df") + 0.5)))
        .withColumn(
            "_s",
            F.col("_idf") * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("_avgdl"))))
        .groupBy("query_id", "id")
        .agg(_fold_sum(F.col("term"), F.col("_s")).alias("score")))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
    return (scored.select("query_id", "id",
                          F.round("score", round_digits).alias("score"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def tfidf_weights(df: DataFrame, text_col: str, id_col: str,
                  max_df: int = None) -> DataFrame:
    """(id, term, w) smooth TF-IDF weights: ``w = tf · ln(1 + N/df)``.

    ``max_df`` prunes terms appearing in more than that many documents —
    the standard all-pairs-similarity guard: a stopword-grade term's
    postings list self-joins into |postings|² pairs, and high-df terms
    carry almost no similarity signal anyway (their idf ≈ 0).  At web
    scale ALWAYS set it (the sparse near-dup wrapper defaults it on)."""
    tf = term_frequencies(df, text_col, id_col)
    n_docs = df.select(F.col(id_col)).distinct().count()
    dfreq = tf.groupBy("term").agg(F.countDistinct("id").alias("df"))
    if max_df is not None:
        dfreq = dfreq.filter(F.col("df") <= max_df)
    return (tf.join(dfreq, on="term")
            .select("id", "term",
                    (F.col("tf")
                     * F.log(F.lit(1.0) + F.lit(float(n_docs)) / F.col("df"))
                     ).alias("w")))


def sparse_near_duplicates(df: DataFrame, text_col: str, id_col: str,
                           threshold: float = 0.8,
                           max_df: int = 1000,
                           round_digits: int = 6) -> DataFrame:
    """Lexical near-dup pairs by TF-IDF cosine — the sparse third family
    next to MinHash (set overlap) and SimHash (Hamming): it weighs RARE
    shared vocabulary, so it catches templated pages that differ only in
    boilerplate (which MinHash over-counts) and near-translations sharing
    names/numbers.

    Plan: inverted-index self-join — pairs form per TERM posting list
    (shuffle key = term, never the documents), per-pair dot products fold
    in sorted-term order (bit-reproducible for the oracle), norms join
    back broadcast-sized.  ``max_df`` bounds each posting list (see
    :func:`tfidf_weights`); output is (id_a, id_b, cosine ≥ threshold).

    The weight frame is MATERIALIZED (eager localCheckpoint) before use:
    it is referenced three times (two join sides + norms), and Spark
    re-derives an unmaterialized reference per use — measured 30
    exchanges vs 7.  At production scale the TF-IDF index is a table you
    write once and reuse anyway; pass a pre-built frame via
    :func:`tfidf_weights` + your own storage to skip the checkpoint."""
    w = tfidf_weights(df, text_col, id_col, max_df=max_df) \
        .localCheckpoint(eager=True)
    norms = w.groupBy("id").agg(
        F.sqrt(_fold_sum(F.col("term"), F.col("w") * F.col("w")))
        .alias("norm"))
    a = w.select(F.col("id").alias("id_a"), "term", F.col("w").alias("w_a"))
    b = w.select(F.col("id").alias("id_b"), "term", F.col("w").alias("w_b"))
    dots = (a.join(b, on="term")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(_fold_sum(F.col("term"), F.col("w_a") * F.col("w_b"))
                 .alias("dot")))
    na = norms.select(F.col("id").alias("id_a"), F.col("norm").alias("norm_a"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("norm").alias("norm_b"))
    return (dots.join(na, on="id_a").join(nb, on="id_b")
            .select("id_a", "id_b",
                    F.round(F.col("dot") / (F.col("norm_a") * F.col("norm_b")),
                            round_digits).alias("cosine"))
            .filter(F.col("cosine") >= threshold))
