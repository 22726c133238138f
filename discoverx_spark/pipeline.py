"""The quality-filter pipeline: per-turn keep/drop decisions + scrubbed text.

This is the north-rule re-expression of the reference's scan→classify→act
lifecycle (``/root/reference/discoverx/scanner.py`` +
``msql.py`` select/delete-by-class) for one huge transcripts table:

    read transcripts
      → ONE fused Arrow UDF: PII scrub + counts, perplexity, language ID,
        toxicity, token stats        (numpy/compiled-regex, batched)
      → keep/drop gates              (cheap JVM when-chains, shape per
                                      reference delta_housekeeping.py:251-363)
      → stable (conv_id, turn_idx) ordering on write

Output schema = FIXTURES.md §F2 ``decisions`` table.

Plan-shape engineering (measured on 5M turns, local[8] vs local[32]):

* All per-row text analysis lives in a SINGLE Arrow UDF (``row_udf``)
  returning one struct — one ArrowEvalPython node, one serialization
  round-trip.  Two chained UDFs doubled Arrow overhead; JVM-side regex
  variants of the same features (still available in functions/text.py
  and used by the oracle queries) caused JVM↔Python core contention at
  high parallelism: every task thread ran ~20 regex passes per row while
  its Python worker was also saturated, so local[32] barely beat
  local[8].
* Gate logic is plain column arithmetic over the struct's fields —
  whole-stage codegen, no higher-order functions (``concat`` of
  conditional arrays, not ``filter``/``array_compact``, which knock the
  projection out of codegen).
* Decision logic contains no timestamps or nondeterminism (resume-safety
  invariant, SURVEY §7 hard part 5).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.perplexity import V, _ids, ids_perplexity
from .functions.text import (TOXIC_KEYWORDS, make_lang_classifier,
                             toxicity_pattern)
from .functions.udf import row_udf
from .scrub import scrub_pii

DECISION_COLUMNS = [
    "conv_id", "turn_idx", "role", "lang", "lang_score", "perplexity",
    "pii_counts", "toxicity_score", "keep", "drop_reasons", "scrubbed_text",
]


@dataclass(frozen=True)
class PipelineConfig:
    """Gate thresholds. All decisions are pure functions of the row."""

    min_tokens: int = 2
    max_chars: int = 20000
    allowed_langs: Tuple[str, ...] = ("en",)
    max_perplexity: float = 16.0
    max_toxicity_hits: int = 1          # drop when hits >= this
    toxicity_keywords: Optional[Tuple[str, ...]] = None
    # Bounded PER-TASK result cache keyed on the raw text (the row_udf
    # kernel is rebuilt per task, so the cache resets at partition
    # boundaries — cross-partition duplicates re-compute).
    # The scorer is a pure function, so caching is byte-exact; the win is
    # entirely
    # input-dependent (web boilerplate: large; unique prose: none).
    # OFF by default so throughput numbers measure compute, not the
    # duplicate structure of the corpus — turn on for corpora with heavy
    # exact repetition (or dedup first).
    memo_size: int = 0


_FEATURES_TYPE = T.StructType([
    T.StructField("scrubbed_text", T.StringType()),
    T.StructField("pii_counts", T.MapType(T.StringType(), T.IntegerType())),
    T.StructField("perplexity", T.DoubleType()),
    T.StructField("lang", T.StringType()),
    T.StructField("lang_score", T.DoubleType()),
    T.StructField("tox_hits", T.IntegerType()),
    T.StructField("toxicity_score", T.DoubleType()),
    T.StructField("n_tokens", T.IntegerType()),
    T.StructField("n_chars", T.IntegerType()),
    T.StructField("is_blank", T.BooleanType()),
])


def make_row_scorer(toxicity_keywords: Optional[Tuple[str, ...]] = None):
    """Build the per-row feature closure of the fused Arrow UDF (one
    instance per task) and of driver-side checks and benchmarks.  It
    composes the feature kernels — :func:`scrub.scrub_pii` over the exact
    profile, :func:`functions.perplexity.ids_perplexity`,
    :func:`functions.text.make_lang_classifier` and the toxicity pattern;
    ``oracle_ref`` re-implements them independently.  Returns
    ``one(text) -> tuple`` in ``_FEATURES_TYPE`` field order."""
    import re as _re

    kws = list(toxicity_keywords) if toxicity_keywords is not None else TOXIC_KEYWORDS
    v = float(V)
    lang_of = make_lang_classifier()
    # shared escaped builder: keywords match literally (metacharacters
    # escaped) and an empty list DISABLES the gate (None) instead of
    # compiling the match-everything empty alternation
    _tox_pat = toxicity_pattern(kws)
    tox_rx = _re.compile(_tox_pat) if _tox_pat is not None else None

    def one(text):
        if text is None:
            return (None, {}, v, "und", 0.0, 0, 0.0, 0, 0, True)
        lowered = text.lower()
        words = lowered.split()
        n_tokens = len(words)
        lang, lang_score = lang_of(text, words)
        tox_hits = (len(tox_rx.findall(lowered))
                    if tox_rx is not None else 0)
        # scrubbed_text and pii_counts are None when nothing changed (the
        # common case): skipping the Arrow round-trip of unchanged text
        # cuts the UDF return payload ~8× (JVM side coalesces back to the
        # original)
        scrubbed, counts = scrub_pii(text)
        # perplexity: ORIGINAL text
        return (scrubbed, counts, ids_perplexity(_ids(text, lowered)),
                lang, lang_score, tox_hits, tox_hits / max(n_tokens, 1),
                n_tokens, len(text), not text.strip())

    return one


def make_features_udf(toxicity_keywords: Optional[Tuple[str, ...]] = None,
                      memo_size: int = 0):
    """Single Arrow UDF: scrub + pii counts + perplexity + language ID
    (script ranges → stopword density) + toxicity + token stats, one
    Python pass per batch through :func:`functions.udf.row_udf`.  The row
    scorer's compiled state is built once per TASK and amortized over
    every batch of the partition, not per row.

    ``memo_size > 0`` wraps the scorer in a bounded per-task cache keyed
    on the raw text (resets at partition boundaries): the scorer is pure,
    so results are byte-identical (pytest-asserted); the speedup is
    proportional to the corpus's exact-duplicate fraction
    (boilerplate-heavy web text: large; deduped prose: none)."""

    def make_kernel():
        one = make_row_scorer(toxicity_keywords)
        if memo_size <= 0:
            return one
        memo: dict = {}

        def cached(t):
            r = memo.get(t)
            if r is None:
                r = one(t)
                if len(memo) < memo_size:
                    memo[t] = r
            return r

        return cached

    return row_udf(make_kernel, _FEATURES_TYPE)


def annotate(df: DataFrame, cfg: PipelineConfig = PipelineConfig()) -> DataFrame:
    """Attach the fused feature struct; no filtering. One narrow map stage,
    one ArrowEvalPython node."""
    feats = make_features_udf(cfg.toxicity_keywords, cfg.memo_size)
    return df.select("*", feats(F.col("text")).alias("_feat"))


def _drop_reasons(cfg: PipelineConfig) -> Column:
    # concat of conditional singleton arrays (NOT filter/array_compact):
    # higher-order functions knock the projection out of whole-stage codegen.
    flag = lambda cond, name: F.when(cond, F.array(F.lit(name))) \
                               .otherwise(F.array().cast("array<string>"))
    blank = F.col("_feat.is_blank")
    n_tokens = F.col("_feat.n_tokens")
    lang_ok = F.col("_feat.lang").isin(*cfg.allowed_langs)
    # substantive = long enough to judge language/fluency at all
    substantive = ~blank & (n_tokens >= cfg.min_tokens)
    return F.concat(
        flag(blank, "empty"),
        flag(~blank & (n_tokens < cfg.min_tokens), "too_short"),
        flag(F.col("_feat.n_chars") > cfg.max_chars, "too_long"),
        flag(substantive & ~lang_ok, "non_target_lang"),
        flag(substantive & lang_ok
             & (F.col("_feat.perplexity") > cfg.max_perplexity),
             "high_perplexity"),
        flag(F.col("_feat.tox_hits") >= cfg.max_toxicity_hits, "toxicity"),
    )


def decide(df: DataFrame, cfg: PipelineConfig = PipelineConfig()) -> DataFrame:
    """Per-turn decision table (FIXTURES.md §F2). Input shape:
    (conv_id, turn_idx, role, text, tool, ts)."""
    return (
        annotate(df, cfg)
        .withColumn("drop_reasons", _drop_reasons(cfg))
        .select(
            "conv_id", "turn_idx", "role",
            F.col("_feat.lang").alias("lang"),
            F.col("_feat.lang_score").alias("lang_score"),
            F.col("_feat.perplexity").alias("perplexity"),
            F.coalesce(F.col("_feat.pii_counts"),
                       F.create_map().cast("map<string,int>"))
            .alias("pii_counts"),
            F.col("_feat.toxicity_score").alias("toxicity_score"),
            (F.size("drop_reasons") == 0).alias("keep"),
            "drop_reasons",
            F.coalesce(F.col("_feat.scrubbed_text"), F.col("text"))
            .alias("scrubbed_text"),
        )
    )


def write_decisions(decisions: DataFrame, path: str,
                    partition_col: Optional[str] = None,
                    mode: str = "overwrite") -> None:
    """Write under the stable ordering invariant: rows sorted within each
    file by (conv_id, turn_idx) (SURVEY §2.6).  The one decisions writer:
    the bulk path and ``lineage.ResumableRunner`` both go through it."""
    out = decisions.sortWithinPartitions("conv_id", "turn_idx")
    writer = out.write.mode(mode)
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.parquet(path)


def run_pipeline(df: DataFrame, cfg: PipelineConfig = PipelineConfig()) -> DataFrame:
    """decide() + the turns that survive, scrubbed — the "flagship query"."""
    d = decide(df, cfg)
    return d.filter(F.col("keep")).select(
        "conv_id", "turn_idx", "role", "lang", "scrubbed_text")
