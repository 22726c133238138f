"""Text-analysis column expressions — JVM-side wherever possible.

Everything here is a composition of ``pyspark.sql.functions`` built-ins so
it stays inside whole-stage codegen (no Python in the hot path); the only
UDF is the extended language-ID variant (script detection for non-Latin
alphabets), which is Arrow-batched per the reference's sanctioned pattern
(``/root/reference/examples/pii_detection_presidio.py:117-128``).

All expressions are written with RE2-compatible regexes so the DuckDB
oracle can evaluate the *same* pattern text — that parity is asserted by
the driver's correctness gate.
"""

from __future__ import annotations

from typing import Iterator, Optional, Sequence

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _fold_sum(key: Column, val: Column) -> Column:
    """Deterministic float reduction: fold ``val`` in ``key`` order.
    Float addition is not associative, so a plain ``F.sum`` over a
    shuffle wobbles run-to-run; sorting the group's ``(key, val)``
    structs first makes the sum bit-reproducible and mirrorable by a
    sequential oracle.  ``key`` must be unique within the group (struct
    sort ties would otherwise fall through to the value)."""
    return F.aggregate(
        F.array_sort(F.collect_list(F.struct(key.alias("k"),
                                             val.alias("v")))),
        F.lit(0.0), lambda acc, x: acc + x["v"])


# --------------------------------------------------------------------------
# Token counting
# --------------------------------------------------------------------------

def token_count_expr(col) -> Column:
    """Whitespace-token count. ``size(regexp_extract_all(text, '(\\S+)'))``."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(r"(\S+)"), 1))


def bpe_token_estimate_expr(col) -> Column:
    """BPE-ish token estimate: alphanumeric runs and single punctuation
    marks each count as one token (a cheap, deterministic proxy for a
    subword tokenizer's piece count)."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(r"([A-Za-z0-9]+|[^A-Za-z0-9\s])"), 1))


# --------------------------------------------------------------------------
# Quality ratios
# --------------------------------------------------------------------------

def char_len_expr(col) -> Column:
    return F.length(_c(col))


def _count_class(col, char_class: str) -> Column:
    return F.size(F.regexp_extract_all(_c(col), F.lit(f"({char_class})"), 1))


def alpha_ratio_expr(col) -> Column:
    """Fraction of characters that are letters (0.0 for empty)."""
    n = F.length(_c(col))
    return F.when(n > 0, _count_class(col, "[A-Za-zÀ-ÖØ-öø-ÿ]") / n).otherwise(F.lit(0.0))


def digit_ratio_expr(col) -> Column:
    n = F.length(_c(col))
    return F.when(n > 0, _count_class(col, "[0-9]") / n).otherwise(F.lit(0.0))


def punct_ratio_expr(col) -> Column:
    n = F.length(_c(col))
    return F.when(n > 0, _count_class(col, r"[^\w\s]") / n).otherwise(F.lit(0.0))


def whitespace_only_expr(col) -> Column:
    return _c(col).isNotNull() & F.regexp_like(_c(col), F.lit(r"^\s*$"))


# --------------------------------------------------------------------------
# Document fingerprinting
# --------------------------------------------------------------------------

def normalize_text_expr(col) -> Column:
    """Lowercase, collapse whitespace runs, trim — canonical dedup form."""
    return F.trim(F.regexp_replace(F.lower(_c(col)), r"\s+", " "))


def fingerprint_expr(col) -> Column:
    """Deterministic content fingerprint: md5 of the normalized text.
    md5 (not xxhash64) so the ANSI-SQL oracle computes the identical value;
    swap for ``F.xxhash64`` at scale when oracle parity is not required."""
    return F.md5(normalize_text_expr(col))


# --------------------------------------------------------------------------
# Language identification
# --------------------------------------------------------------------------

# Small stopword inventories (public-knowledge function words).  Word lists
# are ordered; alternation order does not affect counts (all are \b-guarded
# full words).
LANG_STOPWORDS = {
    "en": ["the", "and", "is", "to", "of", "in", "that", "it", "you", "for",
           "with", "was", "this", "have", "are", "can", "my", "me"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ich", "sie", "mit",
           "ein", "eine", "zu", "den", "von", "ohne", "für", "sind", "da"],
    "fr": ["le", "la", "les", "et", "est", "je", "vous", "pas", "pour",
           "dans", "une", "que", "qui", "avec", "ne", "sont", "sur", "me"],
    "es": ["el", "la", "los", "las", "es", "no", "en", "que", "por", "para",
           "con", "una", "del", "ya", "sin", "me", "mi", "están"],
}

_LANG_ORDER = ["en", "de", "fr", "es"]


def _stopword_hits_expr(col, lang: str, tables=None) -> Column:
    import re as _re

    # external tables arrive through the stopwords seam: escape regex
    # metacharacters ("c++" must not be an invalid pattern, "e.g." must
    # not match "eXgY") and lowercase to match the lowered text.  An
    # empty word list would compile to (\b(?:)\b), which matches EVERY
    # word boundary and makes that language win argmax on every document
    # (same hazard toxicity_pattern documents) — reject it.
    raw = (tables or LANG_STOPWORDS)[lang]
    if not raw:
        raise ValueError(f"empty stopword list for language {lang!r}")
    words = "|".join(_re.escape(w.lower()) for w in raw)
    return F.size(F.regexp_extract_all(
        F.lower(_c(col)), F.lit(rf"(\b(?:{words})\b)"), 1))


def langid_struct_expr(col, stopwords: Optional[dict] = None) -> Column:
    """JVM-side language ID over {en,de,fr,es}: per-language stopword-hit
    density, argmax with fixed tie order, 'und' when nothing hits.

    Returns ``struct(lang string, lang_score double)``; score =
    hits(best)/tokens.  This is the SQL-expressible profile of the fastText
    role in the north rule; :func:`make_langid_udf` is the extended one.

    ``stopwords`` overrides the embedded tables with an external export
    ({lang: [word, ...]}, e.g. ``functions.models.load_stopwords(path)``);
    tie order follows the dict's key order.
    """
    order = list(stopwords) if stopwords is not None else _LANG_ORDER
    toks = F.greatest(token_count_expr(col), F.lit(1))
    hits = {lang: _stopword_hits_expr(col, lang, stopwords)
            for lang in order}
    best_hits = F.greatest(*[hits[l] for l in order]) \
        if len(order) > 1 else hits[order[0]]
    lang = F.lit("und")
    # reversed so earlier languages win ties via later overwrite
    for l in reversed(order):
        lang = F.when((best_hits > 0) & (hits[l] == best_hits), F.lit(l)).otherwise(lang)
    score = (best_hits.cast("double") / toks.cast("double"))
    return F.struct(lang.alias("lang"), score.alias("lang_score"))


def langid_sql_exprs(text_sql: str) -> tuple:
    """The DuckDB-oracle rendering of :func:`langid_struct_expr` — same
    regexes, same tie order. Returns (lang_sql, score_sql)."""
    toks = f"greatest(len(regexp_extract_all({text_sql}, '(\\S+)', 1)), 1)"
    hit = {}
    for lang in _LANG_ORDER:
        words = "|".join(LANG_STOPWORDS[lang])
        hit[lang] = (f"len(regexp_extract_all(lower({text_sql}),"
                     f" '(\\b(?:{words})\\b)', 1))")
    best = "greatest(" + ", ".join(hit[l] for l in _LANG_ORDER) + ")"
    lang_sql = "CASE "
    for l in _LANG_ORDER:
        lang_sql += f"WHEN {best} > 0 AND {hit[l]} = {best} THEN '{l}' "
    lang_sql += "ELSE 'und' END"
    score_sql = f"CAST({best} AS DOUBLE) / CAST({toks} AS DOUBLE)"
    return lang_sql, score_sql


# Unicode script ranges for the Python classifier (deterministic, no model
# file: the fastText lid.176 binary is not shippable here, so the scale
# plumbing is real and the scorer is a stub-quality heuristic — swap
# `make_lang_classifier` for a real model load per
# examples/pii_detection_presidio.py:94-97).
_SCRIPTS = [
    ("zh", 0x4E00, 0x9FFF), ("ja", 0x3040, 0x30FF), ("ko", 0xAC00, 0xD7AF),
    ("ru", 0x0400, 0x04FF), ("ar", 0x0600, 0x06FF), ("he", 0x0590, 0x05FF),
    ("el", 0x0370, 0x03FF), ("hi", 0x0900, 0x097F), ("th", 0x0E00, 0x0E7F),
]

_STRIP = ".,;:!?\"'()"


def make_lang_classifier(stopwords: Optional[dict] = None):
    """The Python language classifier of :func:`make_langid_udf` and the
    pipeline's row scorer: ``lang_of(text, words) -> (lang, lang_score)``
    with ``words = text.lower().split()``.  Script ranges first (non-ASCII
    text only), then stopword density; a missed word ending in
    punctuation is retried stripped.  ``stopwords`` ({lang: [word, ...]},
    e.g. ``functions.models.load_stopwords(path)``) replaces
    :data:`LANG_STOPWORDS`; its words are lowercased and its key order is
    the tie order.  Build one per task: it caches word masks (bounded)."""
    tables = stopwords if stopwords is not None else LANG_STOPWORDS
    order = list(tables) if stopwords is not None else _LANG_ORDER
    n_langs = len(order)
    # stopword → bitmask over ``order``: one dict probe per word instead
    # of one set probe per language
    word_langs = {}
    for li, lang in enumerate(order):
        for w in tables[lang]:
            w = w.lower()
            word_langs[w] = word_langs.get(w, 0) | (1 << li)
    # word → resolved mask INCLUDING the punctuation-strip fallback,
    # learned per classifier (bounded): real vocabularies are Zipf, so
    # the common words hit one dict probe instead of probe+strip+reprobe
    mask_cache = dict(word_langs)

    def lang_of(text: str, words: list) -> tuple:
        # script detection only for non-ASCII text (isascii is C-speed)
        if not text.isascii():
            counts = {}
            for ch in text:
                cp = ord(ch)
                if cp < 0x300:
                    continue
                for lang, lo, hi in _SCRIPTS:
                    if lo <= cp <= hi:
                        counts[lang] = counts.get(lang, 0) + 1
                        break
            if counts:
                best = max(sorted(counts), key=counts.get)
                frac = counts[best] / max(len(text), 1)
                if frac > 0.15:
                    return best, min(1.0, frac * 2)
        if not words:
            return "und", 0.0
        hits = [0] * n_langs
        cache_get = mask_cache.get
        for w in words:
            m = cache_get(w)
            if m is None:
                mm = word_langs.get(w)
                if mm is None and w and w[-1] in _STRIP:
                    mm = word_langs.get(w.strip(_STRIP))
                m = mm or 0
                if len(mask_cache) < 262_144:
                    mask_cache[w] = m
            if m:
                for li in range(n_langs):
                    if m & (1 << li):
                        hits[li] += 1
        best_li, best_hits = 0, 0
        for li in range(n_langs):
            if hits[li] > best_hits:
                best_li, best_hits = li, hits[li]
        if best_hits == 0:
            return "und", 0.0
        return order[best_li], min(1.0, best_hits / len(words) * 2)

    return lang_of


def make_langid_udf(stopwords=None):
    """Arrow-batched language ID: :func:`make_lang_classifier` per row,
    so it gives ``pipeline.decide()``'s ``(lang, lang_score)``; NULL is
    ``('und', 0.0)``.  Returns struct(lang, lang_score).

    ``stopwords`` overrides the embedded Latin-language tables with an
    external export ({lang: [word, ...]} from
    ``functions.models.load_stopwords``); key order sets the argmax tie
    order — the seam a real lid-model token table drops into."""
    import pyspark.sql.types as T

    ret = T.StructType([T.StructField("lang", T.StringType()),
                        T.StructField("lang_score", T.DoubleType())])

    def batches(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        lang_of = make_lang_classifier(stopwords)
        for s in it:
            out = [("und", 0.0) if t is None else lang_of(t, t.lower().split())
                   for t in s]
            yield pd.DataFrame({"lang": [o[0] for o in out],
                                "lang_score": [o[1] for o in out]})

    return F.pandas_udf(batches, returnType=ret)


# --------------------------------------------------------------------------
# Repetition filters (Gopher/C4-style quality rules)
# --------------------------------------------------------------------------

def duplicate_line_fraction_expr(col) -> Column:
    """Fraction of lines that are duplicates of an earlier line
    (1 - distinct/total over non-blank trimmed lines) — the classic
    boilerplate/repetition quality gate.  Pure projection."""
    lines = F.filter(F.transform(F.split(_c(col), "\n"),
                                 lambda x: F.trim(x)),
                     lambda x: x != "")
    n = F.size(lines)
    return F.when(n > 0,
                  1.0 - F.size(F.array_distinct(lines)).cast("double")
                  / n.cast("double")).otherwise(F.lit(0.0))


def top_bigram_fraction_expr(col) -> Column:
    """Fraction of word bigrams taken by the single most frequent bigram —
    high values flag degenerate repetition.  Zero-shuffle: bigrams are
    sorted per row and the longest equal run is found with ONE aggregate
    fold carrying (prev, run, best) in a struct accumulator."""
    toks = tokens_sql_expr(col)
    bigrams = F.zip_with(toks, F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                         lambda a, b: F.concat(a, F.lit(" "), b))
    bigrams = F.slice(bigrams, 1, F.greatest(F.size(toks) - 1, F.lit(0)))
    s = F.array_sort(bigrams)
    zero = F.struct(F.lit("").alias("prev"),
                    F.lit(0).cast("long").alias("run"),
                    F.lit(0).cast("long").alias("best"))

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    best = F.aggregate(s, zero, step, lambda acc: acc["best"])
    n = F.size(bigrams)
    return F.when(n > 0, best.cast("double") / n.cast("double")) \
        .otherwise(F.lit(0.0))


def tokens_sql_expr(col) -> Column:
    """Whitespace tokens (lowercased) as array<string>."""
    return F.regexp_extract_all(F.lower(_c(col)), F.lit(r"(\S+)"), 1)


# The 8 high-frequency English function words Gopher's "stop word"
# presence rule counts (Rae et al. 2021, appendix A1.1 — a public
# heuristic; ≥ 2 of these must appear for a page to survive).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(df, id_col: str, text_col: str = "text",
                 min_words: int = 50, max_words: int = 100_000,
                 min_mean_word_len: float = 3.0,
                 max_mean_word_len: float = 10.0,
                 max_symbol_word_ratio: float = 0.1,
                 max_bullet_line_frac: float = 0.9,
                 max_ellipsis_line_frac: float = 0.3,
                 min_alpha_word_frac: float = 0.8,
                 min_stopwords: int = 2):
    """The Gopher quality-filter rule set (Rae et al. 2021, appendix
    A1.1) as ONE zero-shuffle projection: word-count range, mean word
    length range, '#'/'…' symbol-to-word ratio, bullet-start and
    ellipsis-end line fractions, alphabetic-word fraction, and stop-word
    presence — plus the conjunctive ``keep_gopher`` verdict.

    Plan shape: the token array is folded ONCE with a struct accumulator
    (total length, alphabetic words, stop words) — never one fold per
    signal, which would re-run the tokenizer per reference (the
    Catalyst lambda-inlining lesson); line signals fold the split-lines
    array the same way.  Returns
    ``(id, n_words, mean_word_len, alpha_word_frac, stopword_count,
    symbol_word_ratio, bullet_line_frac, ellipsis_line_frac,
    keep_gopher)`` with fractions rounded to 6 digits."""
    text = _c(text_col)
    # NULL text folds as empty (all-zero signals, keep=false via the
    # word-count floor) — never a NULL verdict
    toks = F.coalesce(tokens_sql_expr(text_col),
                      F.array().cast("array<string>"))
    zero = F.struct(F.lit(0).cast("long").alias("len"),
                    F.lit(0).cast("long").alias("alpha"),
                    F.lit(0).cast("long").alias("stop"))

    def tok_step(acc, x):
        return F.struct(
            (acc["len"] + F.length(x)).alias("len"),
            (acc["alpha"] + x.rlike("[a-z]").cast("long")).alias("alpha"),
            (acc["stop"] + x.isin(*GOPHER_STOPWORDS).cast("long"))
            .alias("stop"))

    tfold = F.aggregate(toks, zero, tok_step)
    lines = F.coalesce(
        F.filter(F.transform(F.split(text, "\n"), lambda x: F.trim(x)),
                 lambda x: x != ""),
        F.array().cast("array<string>"))
    lzero = F.struct(F.lit(0).cast("long").alias("bullet"),
                     F.lit(0).cast("long").alias("ellip"),
                     F.lit(0).cast("long").alias("n"))

    def line_step(acc, x):
        bullet = (x.startswith("-") | x.startswith("*")
                  | x.startswith("•")).cast("long")
        ellip = (x.endswith("...") | x.endswith("…")).cast("long")
        return F.struct((acc["bullet"] + bullet).alias("bullet"),
                        (acc["ellip"] + ellip).alias("ellip"),
                        (acc["n"] + 1).alias("n"))

    lfold = F.aggregate(lines, lzero, line_step)
    n_symbols = F.size(F.regexp_extract_all(text, F.lit(r"(#|\.\.\.|…)"), 1))
    base = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.size(toks), F.lit(0)).cast("long").alias("n_words"),
        tfold.alias("_t"), lfold.alias("_l"),
        F.coalesce(n_symbols, F.lit(0)).cast("long").alias("_sym"))
    nw = F.greatest(F.col("n_words"), F.lit(1)).cast("double")
    nl = F.greatest(F.col("_l.n"), F.lit(1)).cast("double")
    sig = base.select(
        "id", "n_words",
        F.round(F.col("_t.len") / nw, 6).alias("mean_word_len"),
        F.round(F.col("_t.alpha") / nw, 6).alias("alpha_word_frac"),
        F.col("_t.stop").alias("stopword_count"),
        F.round(F.col("_sym") / nw, 6).alias("symbol_word_ratio"),
        F.round(F.col("_l.bullet") / nl, 6).alias("bullet_line_frac"),
        F.round(F.col("_l.ellip") / nl, 6).alias("ellipsis_line_frac"))
    keep = ((F.col("n_words") >= min_words)
            & (F.col("n_words") <= max_words)
            & (F.col("mean_word_len") >= min_mean_word_len)
            & (F.col("mean_word_len") <= max_mean_word_len)
            & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
            & (F.col("bullet_line_frac") <= max_bullet_line_frac)
            & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac)
            & (F.col("alpha_word_frac") >= min_alpha_word_frac)
            & (F.col("stopword_count") >= min_stopwords))
    return sig.withColumn("keep_gopher", keep)


def c4_clean(df, id_col: str, text_col: str = "text",
             min_line_words: int = 5, min_sentences: int = 3):
    """The C4 cleaning rule set (Raffel et al. 2020 §2.2) as one
    zero-shuffle projection.  Line rules: keep only lines that end in
    terminal punctuation (.!?"'), have ≥ ``min_line_words`` words, and
    don't mention "javascript".  Page rules: drop the whole page when it
    contains "lorem ipsum" or a curly brace (code), or when the cleaned
    text has fewer than ``min_sentences`` sentence terminators.

    Returns ``(id, clean_text, n_lines, n_kept_lines, keep_c4)`` —
    ``clean_text`` is the kept lines re-joined with newlines (original
    line text preserved; matching is case-insensitive)."""
    text = _c(text_col)
    lines = F.coalesce(
        F.filter(F.transform(F.split(text, "\n"), lambda x: F.trim(x)),
                 lambda x: x != ""),
        F.array().cast("array<string>"))
    kept = F.filter(
        lines,
        lambda x: x.rlike("[.!?\"']$")
        & (F.size(F.regexp_extract_all(x, F.lit(r"(\S+)"), 1))
           >= min_line_words)
        & ~F.lower(x).contains("javascript"))
    base = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.size(lines), F.lit(0)).cast("long").alias("n_lines"),
        F.coalesce(F.size(kept), F.lit(0)).cast("long")
        .alias("n_kept_lines"),
        F.when(text.isNull(), F.lit(None).cast("string"))
        .otherwise(F.array_join(kept, "\n")).alias("clean_text"),
        (F.lower(text).contains("lorem ipsum")
         | text.contains("{") | text.contains("}")).alias("_page_bad"))
    n_sent = F.size(F.regexp_extract_all(
        F.coalesce(F.col("clean_text"), F.lit("")), F.lit(r"([.!?])"), 1))
    keep = (~F.coalesce(F.col("_page_bad"), F.lit(True))
            & (F.col("n_kept_lines") >= 1)
            & (n_sent >= min_sentences))
    return base.select("id", "clean_text", "n_lines", "n_kept_lines",
                       keep.alias("keep_c4"))


def make_compression_ratio_udf(level: int = 6):
    """Arrow-batched compression-ratio quality signal:
    ``len(zlib(text)) / len(text_bytes)`` — the Gopher-family repetition
    proxy (highly templated/repetitive text compresses far below fluent
    prose; ratios near or above 1 flag high-entropy noise).  Deterministic
    for a fixed zlib level within one runtime (driver and executors share
    the interpreter's zlib, so driver-side expected-output oracles hold).
    Empty/None texts score 1.0 (no signal)."""
    import zlib

    import pyspark.sql.types as T

    def batches(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            out = []
            for t in s.tolist():
                if not t:
                    out.append(1.0)
                else:
                    raw = t.encode("utf-8")
                    out.append(len(zlib.compress(raw, level)) / len(raw))
            yield pd.Series(out, dtype="float64")

    return F.pandas_udf(batches, returnType=T.DoubleType())


# --------------------------------------------------------------------------
# Toxicity heuristic gate
# --------------------------------------------------------------------------

# Deliberately mild placeholder inventory — the operator is the deliverable,
# the wordlist is config (pass your own to toxicity_exprs).
TOXIC_KEYWORDS = ["stupid", "idiot", "idiotic", "moron", "shut up", "dumb",
                  "useless", "hate you", "loser"]


def toxicity_pattern(keywords: Optional[Sequence[str]]) -> Optional[str]:
    """Escaped word-boundary alternation for the toxicity keyword gate —
    the ONE builder every consumer (JVM expr, fused UDF, driver oracle)
    shares.  Keywords are regex-escaped (a keyword like ``a(b`` must
    match literally, not crash every executor) and multi-word keywords
    match across whitespace runs.  Returns ``None`` for an empty list:
    the naive empty alternation ``\\b(?:)\\b`` matches EVERY word
    boundary, silently dropping the whole corpus as toxic."""
    import re as _re

    kws = [k for k in (keywords if keywords is not None else TOXIC_KEYWORDS)
           if k and k.strip()]
    if not kws:
        return None
    parts = [r"\s+".join(_re.escape(w) for w in k.split()) for k in kws]
    return r"\b(?:" + "|".join(parts) + r")\b"


def toxicity_exprs(col, keywords: Optional[Sequence[str]] = None) -> tuple:
    """(hits Column[int], score Column[double]): keyword-match count and
    per-token density, case-insensitive, word-boundary guarded.  An empty
    keyword list disables the gate (0 hits everywhere)."""
    pat = toxicity_pattern(keywords)
    if pat is None:
        return F.lit(0), F.lit(0.0)
    hits = F.size(F.regexp_extract_all(F.lower(_c(col)),
                                       F.lit("(" + pat + ")"), 1))
    score = hits.cast("double") / F.greatest(token_count_expr(col), F.lit(1)).cast("double")
    return hits, score


# --------------------------------------------------------------------------
# fastText-style linear quality classifier (bag-of-words logistic scorer)
# --------------------------------------------------------------------------

# Fixed interpretable weight table standing in for a trained fastText /
# DCLM-style quality classifier (the binary model is not shippable in this
# environment — LIMITATIONS §1).  The OPERATOR SHAPE is the deliverable:
# production swaps a real exported (term → weight) table in unchanged.
QUALITY_CLF_BIAS = -0.3
QUALITY_CLF_WEIGHTS = {
    # positive evidence: fluent-English function words (same public
    # inventory langid uses); calibrated so ordinary fluent prose
    # (stopword density ~0.4+) crosses p=0.5 and keyword spam falls well
    # below it
    **{w: 0.8 for w in LANG_STOPWORDS["en"]},
    # negative evidence: boilerplate / SEO-spam vocabulary
    **{w: -1.5 for w in [
        "click", "subscribe", "buy", "free", "discount", "casino",
        "jackpot", "winner", "giveaway", "unsubscribe", "cookies",
        "login", "password", "404",
    ]},
}


def quality_classifier_expr(col, weights: Optional[dict] = None,
                            bias: Optional[float] = None) -> Column:
    """Logistic bag-of-words quality score in [0, 1] — pure JVM expression.

    ``sigmoid(bias + mean(weight[token]))`` over whitespace tokens, OOV
    weight 0 (but counted in the mean, like fastText's averaged bag).
    The fold runs over the SORTED token array so the floating-point sum
    is bit-reproducible across partitionings and matched by the DuckDB
    oracle's ``list_sort`` fold.

    Scale: the weight table is inlined as a literal map (constant-folded
    once per plan) — right for vocabularies up to a few thousand terms.
    Larger exported models should broadcast-join an exploded token frame
    or ride the fused Arrow UDF instead of a million-entry literal."""
    w = weights if weights is not None else QUALITY_CLF_WEIGHTS
    b = QUALITY_CLF_BIAS if bias is None else bias
    entries = []
    for k in sorted(w):
        entries += [F.lit(k), F.lit(float(w[k]))]
    wmap = F.create_map(*entries)
    toks = F.array_sort(F.regexp_extract_all(
        F.lower(_c(col)), F.lit(r"(\S+)"), 1))
    total = F.aggregate(
        toks, F.lit(0.0),
        lambda acc, t: acc + F.coalesce(F.element_at(wmap, t), F.lit(0.0)))
    n = F.greatest(F.size(toks), F.lit(1)).cast("double")
    z = F.lit(float(b)) + total / n
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def quality_classifier_sql(text_sql: str, weights: Optional[dict] = None,
                           bias: Optional[float] = None) -> str:
    """DuckDB-oracle rendering of :func:`quality_classifier_expr` — same
    tokenization, same sorted fold, same literal weights."""
    w = weights if weights is not None else QUALITY_CLF_WEIGHTS
    b = QUALITY_CLF_BIAS if bias is None else bias
    case = "CASE t " + " ".join(
        "WHEN '{}' THEN {!r}".format(k.replace("'", "''"), float(w[k]))
        for k in sorted(w)) + " ELSE 0.0 END"
    toks = f"list_sort(regexp_extract_all(lower({text_sql}), '(\\S+)', 1))"
    total = (f"list_reduce(list_prepend(0.0, list_transform({toks}, "
             f"t -> {case})), (a, x) -> a + x)")
    n = f"greatest(len({toks}), 1)"
    return f"1.0 / (1.0 + exp(-({float(b)!r} + {total} / {n})))"


# Above this vocabulary size the literal ``create_map`` formulation is an
# anti-pattern: Catalyst constant-folds the whole table into the plan, so
# a real fastText / DCLM export (10^5-10^6 terms) produces a plan-size /
# codegen blowup.  ``quality_classifier_frame`` switches to the exploded
# token ⋈ broadcast(term, weight) formulation at this threshold.
QUALITY_CLF_BROADCAST_THRESHOLD = 2000


def quality_classifier_join(df, id_col: str, text_col: str = "text",
                            weights: Optional[dict] = None,
                            bias: Optional[float] = None,
                            out_col: str = "quality_prob"):
    """Broadcast-join formulation of :func:`quality_classifier_expr` for
    production-size vocabularies (10^5-10^6 terms).

    ``sigmoid(bias + sum(weight[token] * count) / n_tokens)`` computed as

    1. project ``(id, n_tokens, token)`` via ``posexplode`` — short rows,
       the document text never rides the shuffle;
    2. ``groupBy (id, token) → count`` (map-side partial agg collapses
       duplicate tokens before the exchange);
    3. inner-join ``broadcast((token, weight))`` — OOV tokens drop out of
       the numerator but stay in the pre-computed denominator, matching
       the literal path's fastText-style averaged bag;
    4. per-doc total folded over the SORTED distinct-token contribution
       list so the floating-point sum has a deterministic association
       order across partitionings (same discipline as the literal path's
       sorted-token fold);
    5. left-join the scalar score back onto the input by ``id_col``.

    Scale: one shuffle of (id, token, count) triples, one broadcast of
    the weight table (a few MB at 10^6 terms), one id-keyed join of the
    corpus — no million-entry plan literal, no per-row Python.

    Note the numerator groups duplicate tokens (``weight * count``) while
    the literal path adds ``weight`` once per occurrence; the two agree
    to float round-off (parity-tested at 6 decimals), not bit-exactly.
    """
    w = weights if weights is not None else QUALITY_CLF_WEIGHTS
    b = QUALITY_CLF_BIAS if bias is None else bias
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(w.items())],
        "token string, weight double")
    # no array sort here: explode + groupBy make token order irrelevant,
    # and determinism comes from the sorted fold over the collected
    # distinct-token structs below
    toks = F.regexp_extract_all(F.lower(_c(text_col)), F.lit(r"(\S+)"), 1)
    base = df.select(F.col(id_col), toks.alias("_toks"))
    exploded = base.select(id_col, F.explode("_toks").alias("token"))
    contribs = (
        exploded
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .join(F.broadcast(wdf), "token")
        .groupBy(id_col)
        .agg(_fold_sum(F.col("token"), F.col("weight") * F.col("_cnt"))
             .alias("_total")))
    # docs whose every token is OOV (or that are empty) vanish at the
    # inner join — restore them with a zero numerator; NULL text stays
    # NULL-scored (matching the literal path, where the fold over a NULL
    # token array yields NULL)
    n_tok = base.select(id_col, F.size("_toks").alias("_n_tok"))
    scores = (
        n_tok.join(contribs, id_col, "left")
        .withColumn("_total", F.coalesce(F.col("_total"), F.lit(0.0))))
    z = (F.lit(float(b))
         + F.col("_total") / F.greatest(F.col("_n_tok"), F.lit(1))
         .cast("double"))
    prob = F.when(
        F.col("_n_tok").isNull(), F.lit(None).cast("double")
    ).otherwise(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))
    return df.join(
        scores.select(id_col, prob.alias(out_col)), id_col, "left")


def quality_classifier_frame(df, id_col: str, text_col: str = "text",
                             weights: Optional[dict] = None,
                             bias: Optional[float] = None,
                             out_col: str = "quality_prob",
                             broadcast_threshold: int =
                             QUALITY_CLF_BROADCAST_THRESHOLD):
    """Score every row of ``df`` with the logistic bag-of-words quality
    classifier, auto-selecting the formulation by vocabulary size:

    - ``len(weights) <= broadcast_threshold`` → the literal-map JVM
      expression (:func:`quality_classifier_expr`): zero shuffle, pure
      projection, ideal for hand-curated rule vocabularies;
    - larger → the exploded-token ⋈ broadcast(term, weight) plan
      (:func:`quality_classifier_join`): no giant plan literal, right
      for real fastText / DCLM exports.

    Both paths emit ``out_col`` in [0, 1]; they are parity-tested to 6
    decimals against each other and the DuckDB oracle.
    """
    w = weights if weights is not None else QUALITY_CLF_WEIGHTS
    if len(w) <= broadcast_threshold:
        return df.withColumn(
            out_col, quality_classifier_expr(text_col, w, bias))
    return quality_classifier_join(df, id_col, text_col, w, bias, out_col)


# --------------------------------------------------------------------------
# HTML main-text extraction (trafilatura / jusText-lite boilerplate strip)
# --------------------------------------------------------------------------

_HTML_BLOCK_TAGS = ("p|div|br|li|h[1-6]|tr|td|table|ul|ol|header|footer|"
                    "section|article|nav|blockquote")
# &amp; is decoded LAST (standard order): decoding it first would turn a
# double-encoded '&amp;lt;' into '&lt;' and then wrongly into '<'
_HTML_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
                  ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")]


def html_extract_expr(col, min_line_tokens: int = 4) -> Column:
    """Main-text extraction from raw HTML — the web-crawl step before any
    quality filtering (trafilatura's role, reduced to deterministic
    regex + line heuristics so the whole thing stays JVM-side).

    Drops ``<script>``/``<style>`` blocks and comments, turns block-level
    tags into newlines and strips the rest, decodes the six common
    entities, then keeps only lines with ``min_line_tokens``+ tokens —
    the jusText-style short-line heuristic that removes nav menus,
    cookie banners and footers.  Every pattern is RE2-compatible (no
    backrefs/lookarounds) so the DuckDB oracle replays it verbatim.

    Pure projection: zero shuffle, codegen-friendly, runs in the scan
    stage at any corpus size."""
    c = _c(col)
    for tag in ("script", "style"):
        c = F.regexp_replace(c, f"(?i)<{tag}[^>]*>[\\s\\S]*?</{tag}>", " ")
    c = F.regexp_replace(c, r"<!--[\s\S]*?-->", " ")
    c = F.regexp_replace(c, f"(?i)</?(?:{_HTML_BLOCK_TAGS})\\b[^>]*>", "\n")
    c = F.regexp_replace(c, r"<[^>]+>", " ")
    for ent, ch in _HTML_ENTITIES:
        c = F.regexp_replace(c, ent, ch)
    lines = F.split(c, "\n")
    cleaned = F.transform(
        lines, lambda x: F.trim(F.regexp_replace(x, r"[ \t]+", " ")))
    kept = F.filter(
        cleaned,
        lambda x: F.size(F.regexp_extract_all(x, F.lit(r"(\S+)"), 1))
        >= min_line_tokens)
    return F.array_join(kept, "\n")


def html_extract_sql(text_sql: str, min_line_tokens: int = 4) -> str:
    """DuckDB rendering of :func:`html_extract_expr` — same patterns,
    same line heuristic."""
    c = text_sql
    for tag in ("script", "style"):
        c = (f"regexp_replace({c}, '(?i)<{tag}[^>]*>[\\s\\S]*?</{tag}>', "
             f"' ', 'g')")
    c = f"regexp_replace({c}, '<!--[\\s\\S]*?-->', ' ', 'g')"
    c = (f"regexp_replace({c}, '(?i)</?(?:{_HTML_BLOCK_TAGS})\\b[^>]*>', "
         f"chr(10), 'g')")
    c = f"regexp_replace({c}, '<[^>]+>', ' ', 'g')"
    for ent, ch in _HTML_ENTITIES:
        lit = ch.replace("'", "''")
        c = f"replace({c}, '{ent}', '{lit}')"
    lines = f"string_split({c}, chr(10))"
    cleaned = (f"list_transform({lines}, "
               f"x -> trim(regexp_replace(x, '[ \\t]+', ' ', 'g')))")
    kept = (f"list_filter({cleaned}, "
            f"x -> len(regexp_extract_all(x, '(\\S+)', 1)) "
            f">= {min_line_tokens})")
    return f"array_to_string({kept}, chr(10))"
