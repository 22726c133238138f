"""The quality-filter pipeline: per-turn keep/drop decisions + scrubbed text.

This is the north-rule re-expression of the reference's scan→classify→act
lifecycle (``/root/reference/discoverx/scanner.py`` +
``msql.py`` select/delete-by-class) for one huge transcripts table:

    read transcripts
      → ONE fused Arrow UDF: PII scrub + counts, perplexity, language ID,
        toxicity, token stats        (numpy/compiled-regex, batched)
      → keep/drop gates              (SQL projection of CASE WHEN
                                      arrays, shape per reference
                                      delta_housekeeping.py:251-363)
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
* Gate logic is a SQL projection over the struct's fields, generated
  as strings and applied with ``selectExpr`` (as the reference builds
  its scan SQL, scanner.py:286-345): a few Py4J calls instead of one per
  Column node.  It stays in whole-stage codegen, with no higher-order
  functions (``concat`` of conditional arrays, not
  ``filter``/``array_compact``, which knock the projection out of
  codegen).
* Decision logic contains no timestamps or nondeterminism (resume-safety
  invariant, SURVEY §7 hard part 5).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.perplexity import V, _ids, ids_perplexity
from .functions.text import (TOXIC_KEYWORDS, make_lang_classifier,
                             toxicity_pattern)
from .functions.udf import row_udf
from .scanner import _sql_literal, _sql_string
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
        scorer = make_row_scorer(toxicity_keywords)

        def one(text):
            r = scorer(text)
            # text holding U+FFFD may be invalid UTF-8 that row_udf
            # decoded with replacements; returned as scrubbed_text even
            # when nothing was scrubbed, since decide's coalesce back to
            # the input would pass the invalid bytes through.  Valid
            # text comes back as the same bytes.
            if r[0] is None and text is not None and "\ufffd" in text:
                return (text,) + r[1:]
            return r

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


def _drop_reasons(cfg: PipelineConfig) -> str:
    """The keep/drop gates as one SQL expression over :func:`annotate`'s
    ``_feat`` struct.  Thresholds render as the literals ``F.lit`` would
    make (:func:`scanner._sql_literal`); an empty ``allowed_langs`` is
    ``false``, as ``isin()`` of nothing is."""
    lit = _sql_literal
    blank = "_feat.is_blank"
    n_tokens = "_feat.n_tokens"
    lang_ok = (f"(_feat.lang IN ({', '.join(map(lit, cfg.allowed_langs))}))"
               if cfg.allowed_langs else "false")
    # substantive = long enough to judge language/fluency at all
    substantive = f"(NOT {blank}) AND ({n_tokens} >= {lit(cfg.min_tokens)})"
    gates = [
        ("empty", blank),
        ("too_short",
         f"(NOT {blank}) AND ({n_tokens} < {lit(cfg.min_tokens)})"),
        ("too_long", f"_feat.n_chars > {lit(cfg.max_chars)}"),
        ("non_target_lang", f"({substantive}) AND (NOT {lang_ok})"),
        ("high_perplexity",
         f"(({substantive}) AND {lang_ok}) "
         f"AND (_feat.perplexity > {lit(cfg.max_perplexity)})"),
        ("toxicity", f"_feat.tox_hits >= {lit(cfg.max_toxicity_hits)}"),
    ]
    # concat of conditional singleton arrays (NOT filter/array_compact):
    # higher-order functions knock the projection out of whole-stage codegen
    return "concat({})".format(", ".join(
        f"CASE WHEN {cond} THEN array({_sql_string(name)}) "
        "ELSE CAST(array() AS array<string>) END" for name, cond in gates))


# the decision columns over ``_feat`` and ``drop_reasons``; the reasons get
# their own projection because ``keep`` reads them too, and codegen does
# not share one concat between two output columns
_DECISION_SELECT = (
    "conv_id", "turn_idx", "role",
    "_feat.lang AS lang",
    "_feat.lang_score AS lang_score",
    "_feat.perplexity AS perplexity",
    "coalesce(_feat.pii_counts, CAST(map() AS map<string,int>)) "
    "AS pii_counts",
    "_feat.toxicity_score AS toxicity_score",
    "size(drop_reasons) = 0 AS keep",
    "drop_reasons",
    "coalesce(_feat.scrubbed_text, text) AS scrubbed_text",
)


def decide(df: DataFrame, cfg: PipelineConfig = PipelineConfig()) -> DataFrame:
    """Per-turn decision table (FIXTURES.md §F2). Input shape:
    (conv_id, turn_idx, role, text, tool, ts).  The gates and the
    decision columns are SQL strings, so building the plan costs a few
    Py4J calls rather than one per Column node."""
    return (annotate(df, cfg)
            .selectExpr("*", f"{_drop_reasons(cfg)} AS drop_reasons")
            .selectExpr(*_DECISION_SELECT))


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
