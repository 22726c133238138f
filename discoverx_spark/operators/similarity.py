"""Similarity search over embedding columns (array<float>).

* Brute-force cosine top-k: ``broadcast(queries) × corpus`` — the correct
  baseline when queries are few; the corpus is never shuffled, each task
  scores its local slice and only ``queries × k`` rows survive the top-k.
* LSH (random hyperplanes) and IVF (coarse quantizer) variants bucket the
  corpus so a 10^9-vector table probes a fraction of partitions.

Dot products use ``zip_with`` + left-fold ``aggregate`` in **double**
precision with sequential order — bit-reproducible across partitionings and
matched exactly by the DuckDB oracle's ``list_reduce(list_transform(...))``.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import _fold_sum


def dot_expr(a, b) -> Column:
    """Sequential left-fold dot product in double precision."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm_expr(a) -> Column:
    return F.sqrt(F.aggregate(
        a, F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine_expr(a, b) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     round_digits: int = 6) -> DataFrame:
    """Top-k cosine neighbors of each query vector.

    Returns (query_id, neighbor_id, cosine) — the query itself excluded.
    Scores are rounded before ranking so ordering is precision-stable, and
    ties break on neighbor id (deterministic output)."""
    from pyspark.sql.window import Window

    # norms are hoisted BELOW the join (one fold per input row, not one
    # per (query, corpus) pair — guide §1.2 per-task work): cosine keeps
    # the exact dot/(norm_q*norm_c) operand order, so the doubles are
    # bit-identical to the inline cosine_expr the oracle replays
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("q_vec"),
                       norm_expr(F.col(vec_col)).alias("_nq"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("c_vec"),
                      norm_expr(F.col(vec_col)).alias("_nc"))
    scored = (c.crossJoin(F.broadcast(q))
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      F.round(dot_expr(F.col("q_vec"), F.col("c_vec"))
                              / (F.col("_nq") * F.col("_nc")),
                              round_digits).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def embedding_near_duplicates(df: DataFrame, threshold: float = 0.98,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              round_digits: int = 6) -> DataFrame:
    """All pairs with cosine ≥ threshold (exact, O(n²) — for verification
    and small sets; use :func:`lsh_bucket_candidates` upstream at scale)."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    F.round(cosine_expr(F.col("va"), F.col("vb")),
                            round_digits).alias("cosine"))
            .filter(F.col("cosine") >= threshold))


# --------------------------------------------------------------------------
# Scale paths: random-hyperplane LSH and IVF coarse quantization
# --------------------------------------------------------------------------

def _hyperplanes(dim: int, n_planes: int, seed: int) -> list:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).astype(float).tolist()


def lsh_signature_expr(vec_col, planes: Sequence[Sequence[float]]) -> Column:
    """Sign-of-dot-product bit signature against fixed hyperplanes —
    pure projection, broadcast as literals (no model state)."""
    sig = F.lit(0).cast("long")
    for b, plane in enumerate(planes):
        d = F.aggregate(
            F.zip_with(vec_col, F.array(*[F.lit(float(x)) for x in plane]),
                       lambda v, p: v.cast("double") * p),
            F.lit(0.0), lambda acc, x: acc + x)
        sig = sig + F.when(d >= 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             n_planes: int = 12, seed: int = 42, dim: Optional[int] = None,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """ANN top-k: bucket corpus and queries by hyperplane signature, score
    only same-bucket pairs (plus Hamming-1 probes), rank per query.

    Trades recall for a ~2^n_planes reduction in scored pairs; shuffle key
    is the bucket id, never the vectors of unrelated buckets."""
    from pyspark.sql.window import Window

    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes, seed)
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("c_vec"),
                      lsh_signature_expr(F.col(vec_col), planes).alias("bucket"))
    # multi-probe: query joins its own bucket plus all Hamming-1 buckets
    probes = F.array(*([F.col("q_sig")] +
                       [F.col("q_sig").bitwiseXOR(F.lit(1 << b).cast("long"))
                        for b in range(n_planes)]))
    q = (queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("q_vec"),
                        lsh_signature_expr(F.col(vec_col), planes).alias("q_sig"))
         .select("query_id", "q_vec", F.explode(probes).alias("bucket")))
    scored = (c.join(F.broadcast(q), on="bucket")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      F.round(cosine_expr(F.col("q_vec"), F.col("c_vec")), 6)
                      .alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def ivf_topk(corpus: DataFrame, centroids: DataFrame, queries: DataFrame,
             k: int = 10, probes: int = 2, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """IVF search: score only corpus vectors whose coarse cell is among the
    query's ``probes`` nearest centroids.  At scale the corpus is written
    partitioned by ``centroid_id`` so the probe join prunes partitions;
    here the assignment joins inline."""
    from pyspark.sql.window import Window

    assign = ivf_assign(corpus, centroids, id_col, vec_col) \
        .withColumnRenamed("id", "neighbor_id")
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("c_vec")) \
        .join(assign, on="neighbor_id")

    cent = centroids.select(F.col(id_col).alias("centroid_id"),
                            F.col(vec_col).alias("cent_vec"))
    q_scored = (queries.select(F.col(id_col).alias("query_id"),
                               F.col(vec_col).alias("q_vec"))
                .crossJoin(F.broadcast(cent))
                .select("query_id", "q_vec", "centroid_id",
                        cosine_expr(F.col("q_vec"), F.col("cent_vec")).alias("sim")))
    wq = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("centroid_id"))
    q_probes = (q_scored.withColumn("rn", F.row_number().over(wq))
                .filter(F.col("rn") <= probes)
                .select("query_id", "q_vec", "centroid_id"))

    scored = (c.join(F.broadcast(q_probes), on="centroid_id")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      F.round(cosine_expr(F.col("q_vec"), F.col("c_vec")), 6)
                      .alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def lsh_near_duplicates(df: DataFrame, threshold: float = 0.95,
                        n_planes: int = 14, seed: int = 42,
                        dim: Optional[int] = None, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        max_bucket: Optional[int] = 1024) -> DataFrame:
    """Embedding near-dup pairs at scale: bucket by hyperplane signature,
    compare only same-bucket pairs (near-identical vectors share all sign
    bits with high probability).  Shuffles (id, bucket) only; the exact
    cosine check runs within buckets.  Hot buckets (mega-clusters of
    identical embeddings) are capped: over-cap buckets emit min-id
    representative star pairs only (see dedup._bucket_pairs)."""
    from .dedup import _bucket_pairs

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes, seed)
    sig = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                    lsh_signature_expr(F.col(vec_col), planes).alias("bucket"))
    cos = F.round(cosine_expr(F.col("v_a"), F.col("v_b")), 6).alias("cosine")
    # project the cosine BEFORE the pair-dedup shuffle: 3 scalars per pair
    # instead of two full embedding vectors (~50× less shuffled data)
    return _bucket_pairs(
        sig, key_cols=["bucket"], extra_cols=["v"], max_bucket=max_bucket,
        project=lambda df: (df.select("id_a", "id_b", cos)
                            .filter(F.col("cosine") >= threshold)))


def ivf_train(corpus: DataFrame, n_centroids: int = 16, n_iter: int = 5,
              id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Train IVF coarse centroids with distributed Lloyd iterations.

    Deterministic: initial centroids are the ``n_centroids`` smallest ids
    (not random), and every iteration is a broadcast-assign (corpus never
    shuffled by vector) + a posexplode → groupBy(centroid, dim_idx) mean.
    The per-dimension sums are map-side combined, so per iteration the
    shuffle carries only ``tasks × n_centroids × dim`` partial-sum ROWS —
    the same volume as a wide per-dimension aggregate but with O(1) plan
    width: at embedding dims of 1536+ a ``dim``-column aggregate makes
    Catalyst compile thousands of expressions per iteration (and hits
    codegen limits), while the exploded shape is dimension-oblivious.
    At 10^9 vectors the corpus is read per iteration but never
    re-partitioned.

    Returns (centroid_id, centroid: array<double>)."""
    from pyspark.sql.window import Window

    c = corpus.select(F.col(id_col).alias("id"),
                      F.col(vec_col).cast("array<double>").alias("v"))
    centroids = (c.orderBy("id").limit(n_centroids)
                 .select(F.col("id").alias("centroid_id"),
                         F.col("v").alias("centroid")))
    for _ in range(n_iter):
        cent = centroids.select("centroid_id",
                                F.col("centroid").alias("cent_vec"))
        scored = (c.crossJoin(F.broadcast(cent))
                  .select("id", "v", "centroid_id",
                          cosine_expr(F.col("v"), F.col("cent_vec")).alias("sim")))
        w = Window.partitionBy("id").orderBy(F.desc("sim"), F.asc("centroid_id"))
        assigned = (scored.withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") == 1).select("centroid_id", "v"))
        sums = (assigned
                .select("centroid_id", F.posexplode("v").alias("dim_idx", "x"))
                .groupBy("centroid_id", "dim_idx")
                .agg((F.sum("x") / F.count("*")).alias("mean")))
        centroids = (sums.groupBy("centroid_id")
                     .agg(F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("dim_idx", "mean"))),
                         lambda s: s["mean"]).alias("centroid"))
                     .localCheckpoint(eager=True))
    return centroids


def ivf_assign(corpus: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Assign each vector to its nearest centroid (broadcast centroids).
    Output: (id, centroid_id) — the IVF index's coarse partitioning; write
    it out partitioned by centroid_id and queries prune to probed lists."""
    from pyspark.sql.window import Window

    cent = centroids.select(F.col(id_col).alias("centroid_id"),
                            F.col(vec_col).alias("cent_vec"))
    scored = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")) \
        .crossJoin(F.broadcast(cent)) \
        .select("id", "centroid_id",
                cosine_expr(F.col("v"), F.col("cent_vec")).alias("sim"))
    w = Window.partitionBy("id").orderBy(F.desc("sim"), F.asc("centroid_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).select("id", "centroid_id"))


def semantic_dedup(corpus: DataFrame, centroids: DataFrame,
                   threshold: float = 0.95, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   max_cluster: Optional[int] = 1024,
                   round_digits: int = 6,
                   assign_method: str = "sql") -> DataFrame:
    """SemDeDup (Abbas et al., 2023): semantic dedup via coarse clusters.

    Each vector is assigned to its nearest centroid (broadcast — the
    corpus is never shuffled for assignment); within a cluster, pairs with
    ``cosine >= threshold`` are semantic duplicates.  Of every duplicate
    pair the member FARTHER from its centroid is kept (the paper's
    keep-low-centroid-similarity rule, which biases the survivor set
    toward cluster edges), so a vector is dropped iff some same-cluster
    neighbor above the threshold has a strictly smaller
    ``(centroid_sim, id)`` — a deterministic one-pass rule that needs no
    iterative grouping and always keeps the minimal element of every
    duplicate clique.

    Scale shape: pairing shuffles ``(id, cluster)`` short rows and caps
    hot clusters (``max_cluster``, see ``dedup._bucket_pairs``); the
    cosine is projected per pair before any pair-level shuffle.  Output:
    ``(id, centroid_id, centroid_sim, keep)`` — one row per input vector.

    ``assign_method``: ``'sql'`` (default) uses the sequential-fold
    cosine the DuckDB oracle replays exactly; ``'batched'`` is the
    production path — one Arrow-batched numpy matmul per batch
    (:func:`ivf_assign_batched`, ~100× less assignment CPU at
    equal semantics, equality pytest-asserted).
    """
    from pyspark.sql.window import Window

    from .dedup import _bucket_pairs

    if assign_method == "batched":
        # MATERIALIZED for the same multi-reference reason as below
        assign = ivf_assign_batched(
            corpus, centroids, id_col, vec_col, round_digits,
            keep_vec_col="v").localCheckpoint(eager=True)
    elif assign_method == "sql":
        # both norm folds are hoisted out of the per-(vector, centroid)
        # cosine: the corpus norm is computed once per row BELOW the
        # cross join, the centroid norm once per centroid inside the
        # broadcast — the pair expression keeps the exact
        # dot/(norm_v*norm_c) operand order of cosine_expr, so every
        # double is bit-identical to the inline form the DuckDB oracle
        # replays, at 1/3 the interpreted-fold work (guide §1.2)
        cent = centroids.select(F.col(id_col).alias("centroid_id"),
                                F.col(vec_col).alias("cent_vec"),
                                norm_expr(F.col(vec_col)).alias("_ncent"))
        scored = (corpus.select(F.col(id_col).alias("id"),
                                F.col(vec_col).alias("v"),
                                norm_expr(F.col(vec_col)).alias("_nv"))
                  .crossJoin(F.broadcast(cent))
                  .select("id", "v", "_nv", "centroid_id",
                          F.round(dot_expr(F.col("v"), F.col("cent_vec"))
                                  / (F.col("_nv") * F.col("_ncent")),
                                  round_digits).alias("centroid_sim")))
        w = Window.partitionBy("id").orderBy(F.desc("centroid_sim"),
                                             F.asc("centroid_id"))
        # MATERIALIZED (eager localCheckpoint): the assignment is
        # referenced multiple times below (pair generation, final output
        # join) and Spark re-derives an unmaterialized reference per use
        # — measured 23 exchanges vs 7.  At production scale the cluster
        # assignment is a table you write once and reuse anyway.
        assign = (scored.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") == 1)
                  .select("id", "v", "_nv", "centroid_id", "centroid_sim")
                  .localCheckpoint(eager=True))
    else:
        raise ValueError(f"unknown assign_method {assign_method!r}")
    if "_nv" not in assign.columns:
        # batched path: one norm fold per row, off the materialized RDD
        assign = assign.withColumn("_nv", norm_expr(F.col("v")))

    # the pair cosine reads the carried per-row norms (one fold per pair,
    # not three) — same operand order as cosine_expr, bit-identical
    cos = F.round(dot_expr(F.col("v_a"), F.col("v_b"))
                  / (F.col("_nv_a") * F.col("_nv_b")),
                  round_digits).alias("cosine")
    # centroid_sim rides through the pair shuffle as an extra column, so
    # the drop rule needs NO join back to the assignment (two fewer
    # shuffles than the join formulation)
    pairs = _bucket_pairs(
        assign.select("id", F.col("centroid_id").alias("bucket"), "v",
                      "_nv", "centroid_sim"),
        key_cols=["bucket"], extra_cols=["v", "_nv", "centroid_sim"],
        max_bucket=max_cluster,
        project=lambda df: (df.select("id_a", "id_b", cos,
                                      "centroid_sim_a", "centroid_sim_b")
                            .filter(F.col("cosine") >= threshold)))
    # both orientations of every dup pair, then "x is dropped iff its
    # partner is strictly smaller by (centroid_sim, id)".  One explode,
    # not a self-union: a union re-derives the pair subplan per branch.
    both = pairs.select(F.explode(F.array(
        F.struct(F.col("id_a").alias("x"),
                 F.col("centroid_sim_a").alias("sim_x"),
                 F.col("id_b").alias("y"),
                 F.col("centroid_sim_b").alias("sim_y")),
        F.struct(F.col("id_b").alias("x"),
                 F.col("centroid_sim_b").alias("sim_x"),
                 F.col("id_a").alias("y"),
                 F.col("centroid_sim_a").alias("sim_y"))))
        .alias("p")).select("p.*")
    ranked = (both
              .where((F.col("sim_y") < F.col("sim_x"))
                     | ((F.col("sim_y") == F.col("sim_x"))
                        & (F.col("y") < F.col("x"))))
              .select(F.col("x").alias("id")).distinct())
    return (assign.join(ranked.withColumn("_dropped", F.lit(True)),
                        "id", "left")
            .select("id", "centroid_id", "centroid_sim",
                    F.coalesce(~F.col("_dropped"), F.lit(True)).alias("keep")))


def ivf_assign_batched(corpus: DataFrame, centroids: DataFrame,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       round_digits: int = 6,
                       keep_vec_col: Optional[str] = None) -> DataFrame:
    """Nearest-centroid assignment as ONE Arrow-batched numpy matmul —
    the production path for dense kernels (the SQL higher-order-function
    cosine fold costs ~15 µs per (vector, centroid) pair interpreted;
    a float64 BLAS matmul does the same arithmetic 100× faster).

    The centroid matrix is collected on the driver (k rows — metadata
    scale, same class as the dim probe) and closes over the UDF; each
    Arrow batch computes ``V @ C.T / norms`` and takes the row argmax,
    ties broken toward the smallest centroid id (centroid rows are
    sorted by id, ``argmax`` returns the first maximum).  Zero-shuffle:
    assignment happens in the scan stage.

    Returns ``(id, centroid_id, centroid_sim)`` — semantics match
    :func:`ivf_assign` + the rounded cosine (equality asserted in
    tests); use the SQL formulation when the DuckDB oracle must replay
    the exact sequential fold."""
    import numpy as np
    import pandas as pd

    rows = centroids.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    order = np.argsort(ids)
    ids = ids[order]
    M = np.array([list(rows[i][1]) for i in order], dtype=np.float64)
    Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            vn = np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
            sims = np.round((V @ Mn.T) / vn, round_digits)
            best = np.argmax(sims, axis=1)
            out = {"id": pdf[id_col].to_numpy(),
                   "centroid_id": ids[best],
                   "centroid_sim": sims[np.arange(len(best)), best]}
            if keep_vec_col is not None:
                out[keep_vec_col] = pdf[vec_col]
            yield pd.DataFrame(out)

    schema = "id long, centroid_id long, centroid_sim double"
    if keep_vec_col is not None:
        # pass the vector through the Arrow batch (costs transfer width,
        # saves a corpus-sized join back for consumers that need it)
        schema += f", {keep_vec_col} array<float>"
    return corpus.mapInPandas(gen, schema=schema)


# --------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search" — public method).  Vectors are chopped into m
# subspaces, each subspace gets its own k-code codebook (distributed
# Lloyd's, deterministic id-based init), vectors compress to m small
# codes, and queries score by Asymmetric Distance Computation (ADC): a
# broadcast (subspace, code) → partial-distance lookup table, so search
# touches only the code table — at 10^9 vectors the float corpus is read
# once at encode time and never again.
# --------------------------------------------------------------------------

def _l2_sq_expr(a, b) -> Column:
    """Deterministic squared-L2: elementwise (a−b)² then a LEFT FOLD sum
    (F.aggregate), never F.sum — the fold's association order is fixed,
    so the double result is reproducible across partitionings and
    replayable by the driver-side reference implementation."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, x: acc + x)


def _pq_subvectors(c: DataFrame, m: int) -> DataFrame:
    """(id, subspace, sv): each vector split into m contiguous
    subvectors — one explode of a LITERAL 0..m-1 sequence (never a
    per-row lambda over the vector; the slice bounds are cheap column
    arithmetic)."""
    subdim = (F.size("v") / m).cast("int")
    return (c.select("id",
                     F.explode(F.sequence(F.lit(0), F.lit(m - 1)))
                     .alias("subspace"), "v")
            .select("id", "subspace",
                    F.slice("v", F.col("subspace") * subdim + 1,
                            subdim).alias("sv")))


def _pq_assign(sub: DataFrame, codebook: DataFrame) -> DataFrame:
    """(id, subspace, code, sv): nearest code per subvector.  The argmin
    is ``min(struct(dist, code, sv))`` under one ``(subspace, id)``
    groupBy — map-side combined, so the shuffle carries ~one short
    partial row per group instead of sorting k candidate rows through a
    window.  The struct comparison IS the deterministic tie-break
    (distance asc, then code asc; ``sv`` is identical across a group's
    rows, so it never decides)."""
    cb = codebook.select("subspace", "code",
                         F.col("centroid").alias("_cent"))
    scored = (sub.join(F.broadcast(cb), "subspace")
              .select("id", "subspace", "sv", "code",
                      _l2_sq_expr(F.col("sv"), F.col("_cent")).alias("_d")))
    return (scored
            .groupBy("subspace", "id")
            .agg(F.min(F.struct("_d", "code", "sv")).alias("_w"))
            .select("id", "subspace", F.col("_w.code").alias("code"),
                    F.col("_w.sv").alias("sv")))


def pq_train(corpus: DataFrame, m: int = 4, k: int = 16, n_iter: int = 5,
             id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Train the m per-subspace codebooks with distributed Lloyd
    iterations (the ivf_train discipline per subspace, all subspaces in
    the SAME jobs): deterministic init (the k smallest ids' subvectors,
    code = rank of id), broadcast-assign by squared-L2 with (distance,
    code) tie-break, posexplode → groupBy(subspace, code, dim) means
    (map-side combined; the shuffle carries partial-sum rows, never
    vectors), codes that lose all members keep their previous centroid.
    The corpus is re-read per iteration but never re-partitioned.

    Returns (subspace, code, centroid: array<double>)."""
    from pyspark.sql.window import Window

    c = corpus.select(F.col(id_col).alias("id"),
                      F.col(vec_col).cast("array<double>").alias("v"))
    sub = _pq_subvectors(c, m)
    seeds = c.orderBy("id").limit(k).select("id")
    w0 = Window.partitionBy("subspace").orderBy("id")
    codebook = (sub.join(F.broadcast(seeds), "id")
                .withColumn("code", F.row_number().over(w0) - 1)
                .select("subspace", "code", F.col("sv").alias("centroid"))
                .localCheckpoint(eager=True))
    for _ in range(n_iter):
        assigned = _pq_assign(sub, codebook).select(
            "subspace", "code", "sv")
        means = (assigned.select("subspace", "code",
                                 F.posexplode("sv").alias("dim_idx", "x"))
                 .groupBy("subspace", "code", "dim_idx")
                 .agg((F.sum("x") / F.count("*")).alias("mean")))
        new_cb = (means.groupBy("subspace", "code")
                  .agg(F.transform(
                      F.array_sort(F.collect_list(
                          F.struct("dim_idx", "mean"))),
                      lambda s: s["mean"]).alias("centroid")))
        codebook = (codebook.select("subspace", "code",
                                    F.col("centroid").alias("_old"))
                    .join(new_cb, ["subspace", "code"], "left")
                    .select("subspace", "code",
                            F.coalesce("centroid", "_old").alias("centroid"))
                    .localCheckpoint(eager=True))
    return codebook


def pq_encode(corpus: DataFrame, codebook: DataFrame,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Compress every vector to its m nearest-centroid codes:
    (id, codes: array<int>), codes ordered by subspace.  One broadcast
    join + per-(id, subspace) map-side-combined min-struct argmin — the
    float corpus is read once; downstream search touches only this table
    (m bytes/vector at k ≤ 256)."""
    m = int(codebook.agg(F.max("subspace")).first()[0]) + 1
    c = corpus.select(F.col(id_col).alias("id"),
                      F.col(vec_col).cast("array<double>").alias("v"))
    sub = _pq_subvectors(c, m)
    return (_pq_assign(sub, codebook)
            .groupBy("id")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("subspace", "code"))),
                lambda s: s["code"]).alias("codes")))


def pq_topk(codes_df: DataFrame, codebook: DataFrame,
            query: Sequence[float], k: int = 10,
            round_digits: int = 6) -> DataFrame:
    """ADC top-k: build the (subspace, code) → partial-squared-distance
    lookup table from the query (m·k tiny rows, broadcast), join it onto
    the exploded code table, fold per-id partial distances in subspace
    order (deterministic association), TakeOrdered the k smallest.
    Returns (id, adc_dist, rank).  The full-precision corpus is never
    touched — this is the memory-bound-ANN shape at 10^9+ vectors."""
    from pyspark.sql.window import Window

    m = int(codebook.agg(F.max("subspace")).first()[0]) + 1
    subdim = len(query) // m
    q = F.array(*[F.lit(float(x)) for x in query])
    lut = codebook.select(
        "subspace", "code",
        _l2_sq_expr(F.col("centroid"),
                    F.slice(q, F.col("subspace") * subdim + 1,
                            F.lit(subdim))).alias("_d"))
    scores = (codes_df
              .select("id", F.posexplode("codes").alias("subspace", "code"))
              .join(F.broadcast(lut), ["subspace", "code"])
              .groupBy("id")
              .agg(F.round(_fold_sum(F.col("subspace"), F.col("_d")),
                           round_digits).alias("adc_dist")))
    topk = scores.orderBy(F.asc("adc_dist"), F.asc("id")).limit(k)
    w = Window.orderBy(F.asc("adc_dist"), F.asc("id"))
    return topk.withColumn("rank", F.row_number().over(w))
