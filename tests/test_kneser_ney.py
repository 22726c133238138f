"""Interpolated Kneser-Ney LM: differential fuzz vs an independent
Python reference (fixed AND modified discounts), formulation
normalization property, and edge cases (empty/null/OOV docs)."""

from __future__ import annotations

import math
import random
from collections import Counter

import pytest

from discoverx_spark.functions.kneser_ney import (KN_DISCOUNT,
                                                  kneser_ney_model,
                                                  kneser_ney_score)


def _tok(t):
    return (t or "").lower().split()


class _RefKN:
    """Independent trigram interpolated-KN reference — dict-based, no
    Spark code shared (the differential side of the fuzz tests)."""

    def __init__(self, train_texts, discount=KN_DISCOUNT):
        self.c3 = Counter()
        big_types = set()
        for t in train_texts:
            w = _tok(t)
            for i in range(len(w) - 2):
                self.c3[(w[i], w[i + 1], w[i + 2])] += 1
            for i in range(len(w) - 1):
                big_types.add((w[i], w[i + 1]))
        self.ctx3 = {}
        self.n2 = Counter()
        for (u, v, w), c in self.c3.items():
            s = self.ctx3.setdefault((u, v), [0, 0])
            s[0] += c
            s[1] += 1
            self.n2[(v, w)] += 1
        self.ctx2 = {}
        for (v, w), c in self.n2.items():
            s = self.ctx2.setdefault(v, [0, 0])
            s[0] += c
            s[1] += 1
        self.n1 = Counter()
        for (v, w) in big_types:
            self.n1[w] += 1
        self.T = len(big_types)
        self.V = len({w for (v, w) in big_types})
        if discount == "modified":
            self.d3 = self._discounts(self.c3.values())
            self.d2 = self._discounts(self.n2.values())
            self.d1 = self._discounts(self.n1.values())
            self.u1mass = sum(self._d(self.d1, c)
                              for c in self.n1.values())
            self.m3 = {k: [sum(1 for w2 in self._conts3(k) if w2 == j)
                           for j in (1, 2, 3)]
                       for k in self.ctx3}
            self.m2 = {k: [sum(1 for w2 in self._conts2(k) if w2 == j)
                           for j in (1, 2, 3)]
                       for k in self.ctx2}
        else:
            d = float(discount)
            self.d3 = self.d2 = self.d1 = (d, d, d)
            self.u1mass = d * self.V
            self.m3 = self.m2 = None

    def _conts3(self, uv):
        return [min(c, 3) for (u, v, w), c in self.c3.items()
                if (u, v) == uv]

    def _conts2(self, vv):
        return [min(c, 3) for (v, w), c in self.n2.items() if v == vv]

    @staticmethod
    def _discounts(values):
        cc = Counter(values)
        n1, n2, n3, n4 = cc[1], cc[2], cc[3], cc[4]
        if n1 == 0 or n2 == 0:
            return (KN_DISCOUNT, KN_DISCOUNT, KN_DISCOUNT)
        y = n1 / (n1 + 2.0 * n2)
        d1 = 1.0 - 2.0 * y * n2 / n1
        d2 = 2.0 - 3.0 * y * n3 / n2 if n2 else KN_DISCOUNT
        d3 = 3.0 - 4.0 * y * n4 / n3 if n3 else KN_DISCOUNT
        return (min(max(d1, 0.0), 1.0), min(max(d2, 0.0), 2.0),
                min(max(d3, 0.0), 3.0))

    @staticmethod
    def _d(ds, c):
        if c == 1:
            return ds[0]
        if c == 2:
            return ds[1]
        return ds[2]

    def p1(self, w):
        c = self.n1.get(w, 0)
        return (max(c - self._d(self.d1, c), 0.0) / self.T
                + self.u1mass / self.T * (1.0 / (self.V + 1.0)))

    def p2(self, v, w):
        if v not in self.ctx2:
            return self.p1(w)
        nsum, nn2 = self.ctx2[v]
        c = self.n2.get((v, w), 0)
        mass = (sum(self._d(self.d2, j + 1) * m
                    for j, m in enumerate(self.m2[v]))
                if self.m2 is not None else self.d2[0] * nn2)
        return (max(c - self._d(self.d2, c), 0.0) / nsum
                + mass / nsum * self.p1(w))

    def p3(self, u, v, w):
        if (u, v) not in self.ctx3:
            return self.p2(v, w)
        csum, n3 = self.ctx3[(u, v)]
        c = self.c3.get((u, v, w), 0)
        mass = (sum(self._d(self.d3, j + 1) * m
                    for j, m in enumerate(self.m3[(u, v)]))
                if self.m3 is not None else self.d3[0] * n3)
        return (max(c - self._d(self.d3, c), 0.0) / csum
                + mass / csum * self.p2(v, w))

    def ppl(self, text):
        w = _tok(text)
        if not w:
            return (None, 0)
        s = 0.0
        for i in range(len(w)):
            if i == 0:
                p = self.p1(w[0])
            elif i == 1:
                p = self.p2(w[0], w[1])
            else:
                p = self.p3(w[i - 2], w[i - 1], w[i])
            s += math.log(p)
        return (math.exp(-s / len(w)), len(w))


def _spark_ppl(spark, train_texts, score_texts, discount):
    tr = spark.createDataFrame(list(enumerate(train_texts)),
                               "doc_id long, text string")
    sc = spark.createDataFrame(list(enumerate(score_texts)),
                               "doc_id long, text string")
    model = kneser_ney_model(tr, "text")
    out = kneser_ney_score(sc, "text", "doc_id", model, discount=discount)
    return {r["id"]: (r["kn_ppl"], r["n_tokens"]) for r in out.collect()}


@pytest.mark.parametrize("discount", [0.75, 0.4, "modified"])
def test_kn_random_differential(spark, discount):
    """Spark KN == independent Python reference on seeded random corpora
    (tiny vocab → heavy count collisions; scoring set includes unseen
    documents and OOV tokens)."""
    for seed in (1, 13):
        rng = random.Random(seed)
        vocab = ["aa", "bb", "cc", "dd", "e", "ff"]
        train = [" ".join(rng.choice(vocab)
                          for _ in range(rng.randint(0, 30)))
                 for _ in range(25)]
        score = train[:10] + [
            " ".join(rng.choice(vocab + ["OOV", "zz"])
                     for _ in range(rng.randint(1, 15)))
            for _ in range(10)] + ["", None, "solo"]
        ref = _RefKN(train, discount)
        exp = {i: ref.ppl(t) for i, t in enumerate(score)}
        got = _spark_ppl(spark, train, score, discount)
        assert set(got) == set(exp)
        for i in got:
            gp, gn = got[i]
            ep, en = exp[i]
            assert gn == en, (seed, i)
            if ep is None:
                assert gp is None, (seed, i)
            else:
                assert gp == pytest.approx(ep, rel=1e-9), (seed, i)


def test_kn_reference_normalizes():
    """Formulation validity: Σ_w p(w | context) over the vocabulary plus
    one OOV word is ≤ 1 and close to 1 (the uniform base reserves
    exactly one OOV world) — for all three ladder levels, fixed and
    modified discounts."""
    rng = random.Random(5)
    vocab = ["a", "b", "c", "d"]
    train = [" ".join(rng.choice(vocab) for _ in range(rng.randint(2, 40)))
             for _ in range(30)]
    for discount in (0.75, "modified"):
        ref = _RefKN(train, discount)
        words = vocab + ["OOV"]
        s1 = sum(ref.p1(w) for w in words)
        assert s1 == pytest.approx(1.0, abs=1e-9)
        for v in vocab:
            s2 = sum(ref.p2(v, w) for w in words)
            assert s2 == pytest.approx(1.0, abs=1e-9)
        for (u, v) in list(ref.ctx3)[:5]:
            s3 = sum(ref.p3(u, v, w) for w in words)
            assert s3 == pytest.approx(1.0, abs=1e-9)


def test_kn_oov_scores_positive(spark):
    """A fully-OOV document still gets a finite perplexity (the uniform
    1/(V+1) world) — no -inf log anywhere."""
    train = ["the cat sat on the mat", "the dog sat on the rug"]
    got = _spark_ppl(spark, train, ["zebra quark flux"], 0.75)
    ppl, n = got[0]
    assert n == 3 and ppl is not None and math.isfinite(ppl) and ppl > 0


@pytest.mark.parametrize("discount", [0.75, "modified"])
def test_kn_bigram_free_model_scores_null(spark, discount):
    """A corpus whose every document has at most one token trains a
    model with no bigram types, N₁₊(··) = 0: every document scores a
    NULL perplexity (as Stupid Backoff does against a model without
    unigrams) with its token count kept, where dividing by the zero
    total would raise under ANSI mode."""
    texts = ["hello", "world", ""]
    got = _spark_ppl(spark, texts, texts, discount)
    assert got == {0: (None, 1), 1: (None, 1), 2: (None, 0)}


def test_kn_bad_discount_raises(spark):
    train = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    model = kneser_ney_model(train, "text")
    with pytest.raises(ValueError):
        kneser_ney_score(train, "text", "doc_id", model, discount=1.5)


def test_kn_model_min_count_pruning(spark):
    """min_count pruning (the broadcast='auto' companion: bound the c3
    slice at web scale) drops sub-threshold trigram types BEFORE the
    derived statistics, so the pruned model stays self-consistent —
    every ctx3 row aggregates exactly the retained c3 rows — and the
    scorer still yields finite perplexities against it."""
    from pyspark.sql import functions as F

    from discoverx_spark.functions.kneser_ney import (kneser_ney_model,
                                                      kneser_ney_score)

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text").limit(60)
    pruned = kneser_ney_model(docs, "text", min_count=2)
    c3 = pruned.filter(F.col("kind") == "c3")
    assert c3.filter(F.col("v1") < 2).count() == 0
    # ctx3 must roll up exactly the retained c3 rows
    rolled = (c3.groupBy("k1", "k2")
              .agg(F.sum("v1").alias("s"), F.count("*").alias("c")))
    ctx3 = pruned.filter(F.col("kind") == "ctx3") \
        .select("k1", "k2", F.col("v1").alias("s2"), F.col("v2").alias("c2"))
    bad = (rolled.join(ctx3, ["k1", "k2"], "full")
           .filter((F.col("s") != F.col("s2")) | (F.col("c") != F.col("c2"))
                   | F.col("s").isNull() | F.col("s2").isNull()))
    assert bad.count() == 0
    scored = kneser_ney_score(docs, "text", "doc_id", pruned)
    row = scored.agg(F.count("*").alias("n"),
                     F.min("kn_ppl").alias("lo")).collect()[0]
    assert row["n"] == 60 and row["lo"] > 0
    # min_count=1 is the identity configuration
    base = kneser_ney_model(docs, "text").orderBy("kind", "k1", "k2", "k3")
    same = kneser_ney_model(docs, "text", min_count=1) \
        .orderBy("kind", "k1", "k2", "k3")
    assert [r.asDict() for r in base.collect()] \
        == [r.asDict() for r in same.collect()]
