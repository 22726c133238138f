"""Interpolated Kneser-Ney trigram LM — the actual KenLM smoothing
family (Kneser & Ney 1995; Chen & Goodman 1999; Heafield 2011), with
the MODEL AS A DATAFRAME.

Where Stupid Backoff (functions/ngram_lm.py) scores by raw relative
frequency with a fixed back-off penalty, Kneser-Ney discounts the
highest-order counts and redistributes the held-out mass to lower
orders whose statistics are CONTINUATION counts — "how many distinct
contexts does this word complete?" — the property that makes
"Francisco" (frequent but only after "San") score low as a novel
continuation:

    p₃(w | u v) = max(c(uvw) − D, 0) / c'(uv)
                  + D·N₁₊(uv·)/c'(uv) · p₂(w | v)      if uv seen
                = p₂(w | v)                             otherwise
    p₂(w | v)   = max(N₁₊(·vw) − D, 0) / N₁₊(·v·)
                  + D·N(v·)/N₁₊(·v·) · p₁(w)            if ·v· seen
                = p₁(w)                                 otherwise
    p₁(w)       = max(N₁₊(·w) − D, 0) / N₁₊(··)
                  + D·V/N₁₊(··) · 1/(V + 1)

with c'(uv) = Σ_w c(uvw) (the "adjusted" context total — summing the
SAME table the numerators come from keeps every backoff weight exactly
the discount mass D·N/c', and sidesteps the end-of-document edge where
a raw bigram count has no trigram continuation), N₁₊(·vw) = number of
distinct u preceding vw, N₁₊(·v·) = Σ_w N₁₊(·vw), N(v·) = distinct
continuation types of v, N₁₊(·w) = distinct bigram left-contexts of w,
N₁₊(··) = total distinct bigram types, V = distinct continuation
words.  The uniform 1/(V+1) base reserves one "world" for OOV tokens,
so every position scores > 0.  Documents are scored without sentence
markers: position 0 scores p₁, position 1 scores p₂, the rest p₃ —
back-off handles missing context with no special cases.

``discount`` is either a fixed D ∈ (0, 1) applied at every order
(the oracle-certified configuration) or ``"modified"`` — Chen &
Goodman's modified KN, the KenLM default: per order, three discounts
D₁, D₂, D₃₊ estimated from the count-of-counts
(Y = n₁/(n₁+2n₂); D_k = k − (k+1)·Y·n_{k+1}/n_k) and applied by
count value, with the back-off weight carrying the exact removed mass
(D₁·N₁ + D₂·N₂ + D₃₊·N₃₊)/c'.  The count-of-counts come back with the
scorer's one model probe (13 longs — metadata-sized) and the discounts
are computed from them on the driver; everything else stays
distributed.

Spark shape (same contract as ngram_lm.py):

* **Training** is four vocabulary-bounded aggregations off one
  exploded trigram frame plus one off the bigram frame — map-side
  combined, shuffle bounded by distinct-type counts, never corpus
  size.  The result is ONE unified stats DataFrame (kind, k1, k2, k3,
  v1, v2): persist as parquet, reload anywhere.
* **Scoring** is the Stupid Backoff scorer's skeleton: one observed
  probe job checkpoints the model and reads its size, the totals
  N₁₊(··) and V (plan literals, no totals join) and the count-of-counts;
  the position frame (id, pos, w₋₂, w₋₁, w) left-joins ONE model
  relation five times on the string key ``kind k1 k2 k3`` (broadcast at
  pruned-model scale; hash-join on the key when the model itself is
  huge), one nested-CASE expression evaluates the interpolation ladder,
  and a sorted-position fold gives a deterministic float sum.  The
  corpus text never shuffles and no Python worker sees the model.
"""

from __future__ import annotations

from typing import Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .ngram_lm import _lm_join_side, _perplexity, _positions, _probe_model
from .text import tokens_sql_expr as _tokens

KN_DISCOUNT = 0.75


def kneser_ney_model(df: DataFrame, text_col: str,
                     min_count: int = 1) -> DataFrame:
    """Train the trigram KN statistics table: one DataFrame with rows
    (kind, k1, k2, k3, v1, v2) —

    ========  ==============  =======================================
    kind      keys            values
    ========  ==============  =======================================
    ``c3``    (u, v, w)       v1 = c(uvw)
    ``ctx3``  (u, v)          v1 = Σ_w c(uvw),  v2 = N₁₊(uv·)
    ``n2``    (v, w)          v1 = N₁₊(·vw)  (distinct u before vw)
    ``ctx2``  (v)             v1 = N₁₊(·v·), v2 = N(v·)
    ``n1``    (w)             v1 = N₁₊(·w)   (distinct v before w)
    ``tot``   ()              v1 = N₁₊(··),  v2 = V
    ========  ==============  =======================================

    The count-of-counts needed by modified-KN discounting are counted
    from this table by the scorer's model probe, so the persisted model
    stays smoothing-agnostic.

    ``min_count`` (default 1 = keep everything, the oracle-certified
    configuration) prunes trigram types with ``c(uvw) < min_count``
    BEFORE the derived statistics are computed, so the pruned model
    stays self-consistent (every ctx3/n2/ctx2 row still aggregates
    exactly the retained c3 rows) — the entropy-pruning stand-in that
    bounds the dominant ``c3`` slice at web scale; scores for pruned
    trigrams redistribute their mass through the backoff ladder, the
    standard pruned-LM approximation."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    # ONE corpus pass for BOTH gram orders (guide §1.2 — was one
    # explode+count per order): every bigram position (t_j, t_{j+1})
    # explodes once carrying its left context u = t_{j-1} (NULL at the
    # document head), one map-side-combined groupBy counts the padded
    # triples, and the trigram counts (u non-null rows) and the bigram
    # occurrence counts (Σ_u per (v, w)) are exact type-bounded rollups
    # of that one table — the corpus is never re-tokenized
    toks = _tokens(text_col)
    n = F.size(toks)
    m = F.greatest(n - 1, F.lit(1))
    zipped = F.arrays_zip(
        F.slice(F.concat(F.array(F.lit(None).cast("string")), toks),
                1, m).alias("u"),
        F.slice(toks, 1, m).alias("v"),
        F.slice(toks, 2, m).alias("w"))
    pos = (df.select(F.explode(F.when(n >= 2, zipped)).alias("s"))
           .select(F.col("s.u").alias("u"), F.col("s.v").alias("v"),
                   F.col("s.w").alias("w")))
    # g is the root of every derived aggregation — cut the lineage so
    # the explode+count runs once, not per consumer
    g = pos.groupBy("u", "v", "w").agg(F.count(F.lit(1)).alias("v1")) \
        .localCheckpoint(eager=False)
    c3 = g.filter(F.col("u").isNotNull())
    if min_count > 1:
        c3 = c3.filter(F.col("v1") >= min_count)
    ctx3 = c3.groupBy("u", "v").agg(F.sum("v1").alias("v1"),
                                    F.count(F.lit(1)).alias("v2"))
    n2 = c3.groupBy("v", "w").agg(F.count(F.lit(1)).alias("v1"))
    ctx2 = n2.groupBy("v").agg(F.sum("v1").alias("v1"),
                               F.count(F.lit(1)).alias("v2"))
    # c2t (bigram occurrence counts) feeds TWO aggregations (n1, tot) —
    # same lineage-cut policy
    c2t = g.groupBy("v", "w").agg(F.sum("v1").alias("v1")) \
        .localCheckpoint(eager=False)
    n1 = c2t.groupBy("w").agg(F.count(F.lit(1)).alias("v1"))
    tot = c2t.agg(F.count(F.lit(1)).alias("v1"),
                  F.count_distinct(F.col("w")).alias("v2"))

    def shape(sdf: DataFrame, kind: str, keys: list) -> DataFrame:
        sel = [F.lit(kind).alias("kind")]
        for slot, k in zip(("k1", "k2", "k3"), keys):
            sel.append(F.col(k).alias(slot))
        for slot in ("k1", "k2", "k3")[len(keys):]:
            sel.append(F.lit(None).cast("string").alias(slot))
        sel.append(F.col("v1").cast("long").alias("v1"))
        sel.append((F.col("v2") if "v2" in sdf.columns else F.lit(None))
                   .cast("long").alias("v2"))
        return sdf.select(*sel)

    out = shape(c3, "c3", ["u", "v", "w"]) \
        .unionByName(shape(ctx3, "ctx3", ["u", "v"])) \
        .unionByName(shape(n2, "n2", ["v", "w"])) \
        .unionByName(shape(ctx2, "ctx2", ["v"])) \
        .unionByName(shape(n1, "n1", ["w"])) \
        .unionByName(shape(tot, "tot", []))
    return out


def _modified_discounts(n1: int, n2: int, n3: int, n4: int) -> tuple:
    """(D1, D2, D3p) from the count-of-counts n₁..n₄ of one order —
    Chen & Goodman eq. 26: Y = n₁/(n₁+2n₂), D_k = k − (k+1)·Y·n_{k+1}/n_k.
    Falls back to the fixed default when a needed n_k is zero (tiny or
    degenerate corpora), clamped to [0, k] so max(c−D, 0) never goes
    negative and weights stay non-negative."""
    if n1 == 0 or n2 == 0:
        return (KN_DISCOUNT, KN_DISCOUNT, KN_DISCOUNT)
    y = n1 / (n1 + 2.0 * n2)
    d1 = 1.0 - 2.0 * y * n2 / n1
    d2 = 2.0 - 3.0 * y * n3 / n2 if n2 else KN_DISCOUNT
    d3 = 3.0 - 4.0 * y * n4 / n3 if n3 else KN_DISCOUNT
    return (min(max(d1, 0.0), 1.0), min(max(d2, 0.0), 2.0),
            min(max(d3, 0.0), 3.0))


def _key(kind: Union[str, Column], *parts) -> Column:
    """A model row's lookup key: its kind and keys joined by single
    spaces (``concat_ws`` skips the NULL key slots).  Kinds and ``\\S+``
    tokens hold no ASCII space and every kind has a fixed key arity, so
    the string is unambiguous and one relation keyed this way serves
    every lookup."""
    kind = F.lit(kind) if isinstance(kind, str) else kind
    return F.concat_ws(" ", kind, *parts)


def kneser_ney_score(df: DataFrame, text_col: str, id_col: str,
                     model: DataFrame,
                     discount: Union[float, str] = KN_DISCOUNT,
                     broadcast: Union[bool, str] = "auto",
                     ) -> DataFrame:
    """(id, kn_ppl, n_tokens) — per-document interpolated Kneser-Ney
    perplexity against a :func:`kneser_ney_model` table, entirely
    JVM-side.  ``id`` must identify documents uniquely (one output row
    per document).  ``discount`` is a fixed D in (0, 1) or ``"modified"``
    (per-order count-of-count discounts, the KenLM default).

    The Stupid Backoff skeleton (functions/ngram_lm.py) with KN's own
    statistics: ONE job checkpoints the model and probes it, observed,
    for its row count, the ``tot`` values N₁₊(··) and V (plan literals
    from then on) and the count-of-counts the modified discounts are
    computed from on the driver.  All five lookups (c3, ctx3, n2, ctx2,
    n1) join the model as ONE relation on the string key
    ``kind k1 k2 k3`` (see :func:`_key`), so no per-kind slice is
    needed; with ``"modified"``, the two context lookups instead read
    one relation grouped from the c3/n2 rows, keyed the same way, that
    carries their per-context N₁/N₂/N₃₊ splits.  One nested-CASE
    expression evaluates the interpolation ladder and a sorted-position
    fold sums the log-probabilities.

    ``broadcast`` is the model-side JOIN POLICY: ``'auto'`` (default)
    broadcasts the lookup relation only while the materialized model is
    at most :data:`~.ngram_lm.LM_BROADCAST_MAX_ROWS` rows and falls back
    to plain hash joins on the key beyond that — the full distinct-
    trigram table of a 100 TB corpus (10⁹⁺ rows) must never ride a
    forced broadcast hint (pair with ``kneser_ney_model(min_count=...)``
    pruning to stay under the threshold when broadcast speed matters).
    Empty documents yield ``kn_ppl = NULL`` with ``n_tokens = 0``; a
    model without bigram types (every document ≤ 1 token) has
    N₁₊(··) = 0 and scores every document ``kn_ppl = NULL``."""
    modified = discount == "modified"
    if not modified:
        dfix = float(discount)
        if not 0.0 < dfix < 1.0:
            raise ValueError(f"discount must be in (0, 1), got {dfix}")
    kind, v1 = F.col("kind"), F.col("v1")
    model, seen = _probe_model(
        df, model,
        F.max(F.when(kind == "tot", v1)).alias("tt"),
        F.max(F.when(kind == "tot", F.col("v2"))).alias("vv"),
        F.count_if((kind == "n1") & (v1 >= 3)).alias("n1_3p"),
        *[F.count_if((kind == k) & (v1 == c)).alias(f"{k}_{c}")
          for k in ("c3", "n2", "n1") for c in (1, 2, 3, 4)])

    rel = model.select(_key(kind, "k1", "k2", "k3").alias("key"), "v1", "v2")
    if modified:
        d3s, d2s, d1s = (_modified_discounts(
            *(seen[f"{k}_{c}"] for c in (1, 2, 3, 4)))
            for k in ("c3", "n2", "n1"))
        # per-context count-of-count splits (N₁, N₂, N₃₊), so the
        # back-off weight carries exactly the removed mass: the ctx3/ctx2
        # lookups read them regrouped from the c3/n2 rows they aggregate
        ctx = (model.filter(kind.isin("c3", "n2"))
               .groupBy(F.when(kind == "c3", _key("ctx3", "k1", "k2"))
                        .otherwise(_key("ctx2", "k1")).alias("key"))
               .agg(F.sum(v1).alias("v1"),
                    # N₁₊(uv·) is not read: the splits carry the mass
                    F.lit(None).cast("long").alias("v2"),
                    F.count_if(v1 == 1).alias("m1"),
                    F.count_if(v1 == 2).alias("m2"),
                    F.count_if(v1 >= 3).alias("m3")))
    else:
        d3s = d2s = d1s = (dfix, dfix, dfix)
        ctx = rel

    def lookup(rows: DataFrame, side: DataFrame, of: str, words: tuple,
               *names: str) -> DataFrame:
        """Left-join ``side`` on the key of kind ``of`` over ``words``
        (NULL where the context runs off the document head), binding its
        value columns, in order, to ``names``."""
        side = side.select(F.col("key").alias(f"_k{of}"),
                           *[F.col(c).alias(n)
                             for c, n in zip(side.columns[1:], names)])
        key = F.when(F.col(words[0]).isNotNull(), _key(of, *words))
        return rows.join(_lm_join_side(side, broadcast, seen["rows"]),
                         key == F.col(f"_k{of}"), "left")

    rows = _positions(df, text_col, id_col)
    rows = lookup(rows, rel, "c3", ("_w2", "_w1", "_w"), "_c3")
    rows = lookup(rows, ctx, "ctx3", ("_w2", "_w1"),
                  "_csum", "_n3", "_m31", "_m32", "_m33")
    rows = lookup(rows, rel, "n2", ("_w1", "_w"), "_n2")
    rows = lookup(rows, ctx, "ctx2", ("_w1",),
                  "_nsum", "_nn2", "_m21", "_m22", "_m23")
    rows = lookup(rows, rel, "n1", ("_w",), "_n1")

    def disc(cnt: Column, ds: tuple) -> Column:
        """Per-count discount D(c): D₁, D₂ or D₃₊ (all equal for the
        fixed configuration, so this folds to a constant)."""
        if ds[0] == ds[1] == ds[2]:
            return F.lit(ds[0])
        return F.when(cnt == 1, F.lit(ds[0])) \
            .when(cnt == 2, F.lit(ds[1])).otherwise(F.lit(ds[2]))

    def removed(pre: str, ds: tuple) -> Column:
        """Total discount mass D₁·N₁ + D₂·N₂ + D₃₊·N₃₊ removed from a
        context, via its per-count type splits (columns {pre}1/2/3)."""
        return (F.lit(ds[0]) * F.col(f"{pre}1")
                + F.lit(ds[1]) * F.col(f"{pre}2")
                + F.lit(ds[2]) * F.col(f"{pre}3"))

    # the interpolation ladder — the arithmetic tree below is mirrored
    # verbatim by the DuckDB oracle (queries._sql_kneser_ney); keep the
    # operation ORDER identical on both sides (IEEE doubles).  N₁₊(··)
    # and V are literals; N₁₊(··) = 0 (no bigram types) becomes NULL so
    # every probability is NULL rather than an ANSI division error
    tt = F.lit(seen["tt"] or None).cast("double")
    vv = F.lit(seen["vv"]).cast("double")
    cn1 = F.coalesce(F.col("_n1"), F.lit(0)).cast("double")
    if modified:
        # unigram back-off mass is GLOBAL — the total discount removed
        # across all continuation types, Σ_w D(n₁(w)) = D₁·M₁ + D₂·M₂ +
        # D₃₊·M₃₊ (a per-row D(n₁(w_current)) would make the reserved
        # mass depend on the word being scored, breaking normalization)
        u1m = F.lit(d1s[0] * seen["n1_1"] + d1s[1] * seen["n1_2"]
                    + d1s[2] * seen["n1_3p"])
    else:
        u1m = F.lit(d1s[0]) * vv
    p1 = (F.greatest(cn1 - disc(F.col("_n1"), d1s), F.lit(0.0)) / tt
          + u1m / tt * (F.lit(1.0) / (vv + 1.0)))
    cn2 = F.coalesce(F.col("_n2"), F.lit(0)).cast("double")
    w2mass = removed("_m2", d2s) if modified \
        else F.lit(d2s[0]) * F.col("_nn2")
    p2 = F.when(
        F.col("_nsum").isNotNull(),
        F.greatest(cn2 - disc(F.col("_n2"), d2s), F.lit(0.0))
        / F.col("_nsum") + w2mass / F.col("_nsum") * p1).otherwise(p1)
    cc3 = F.coalesce(F.col("_c3"), F.lit(0)).cast("double")
    w3mass = removed("_m3", d3s) if modified \
        else F.lit(d3s[0]) * F.col("_n3")
    p3 = F.when(
        F.col("_csum").isNotNull(),
        F.greatest(cc3 - disc(F.col("_c3"), d3s), F.lit(0.0))
        / F.col("_csum") + w3mass / F.col("_csum") * p2).otherwise(p2)
    p = F.when(F.col("_w1").isNull(), p1) \
        .when(F.col("_w2").isNull(), p2).otherwise(p3)
    return _perplexity(rows, p, "kn_ppl")
