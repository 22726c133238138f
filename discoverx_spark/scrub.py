"""PII scrubbing — compiled-regex redaction of free text.

The reference engine only *classifies* whole column values with anchored
regexes (``/root/reference/discoverx/scanner.py:310-313``); scrubbing
transcript text requires unanchored, boundary-guarded derivatives of the
same rules (reference examples establish the UDF pattern:
``examples/pii_detection_presidio.py:94-128`` — broadcast-free per-executor
state, Arrow-batched, never per-row Python).

Two deterministic profiles:

* ``PROFILE_PYTHON`` — exact profile; Python ``re`` patterns with
  lookaround guards, applied class-by-class in a fixed precedence order.
  Used by the transcripts pipeline's fused scorer
  (:mod:`discoverx_spark.pipeline`) and by :func:`make_scrub_udf`.
  Byte-deterministic: fixed class order, each class replaces *all*
  occurrences before the next class runs, so overlap resolution is total
  and resume-safe.
* ``PROFILE_SQL`` — RE2-compatible profile (no lookaround), expressible
  identically as Spark JVM ``regexp_replace`` chains *and* in ANSI SQL
  engines (the DuckDB oracle).  This is the whole-stage-codegen fast path:
  zero Python in the hot loop.

:func:`scrub_pii` is the one Python scrub loop: :func:`scrub_string`,
:func:`make_scrub_udf` and the pipeline's row scorer all call it.  Both
profiles emit ``(scrubbed_text, pii_counts map<class,int>)``.
"""

from __future__ import annotations

import functools
import re
from dataclasses import dataclass
from typing import Iterator, Optional, Sequence

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass(frozen=True)
class ScrubRule:
    """One redaction class: unanchored pattern + replacement token."""

    class_name: str
    pattern: str          # exact profile (Python re; may use lookaround)
    sql_pattern: str      # RE2-safe profile (Spark JVM + DuckDB + Python re)
    token: str

    def __post_init__(self):
        re.compile(self.pattern)
        re.compile(self.sql_pattern)


# Precedence order is part of the contract: structured/longer classes first
# so e.g. a credit card is redacted before the phone rule can see its digits.
SCRUB_RULES: tuple = (
    ScrubRule(
        "url",
        r"(?<![\w.-])(?:https?|ftp|file|mailto)://(?:www\.)?[-a-zA-Z0-9@:%._+~#=]{1,256}\.[a-zA-Z0-9()]{1,6}\b[-a-zA-Z0-9()@:%_+.~#?&/=]*",
        r"\b(?:https?|ftp|file|mailto)://[-a-zA-Z0-9@:%._+~#=]{1,256}\.[a-zA-Z0-9()]{1,6}\b[-a-zA-Z0-9()@:%_+.~#?&/=]*",
        "[REDACTED_URL]",
    ),
    ScrubRule(
        "email",
        r"(?<![A-Za-z0-9._%+-])[A-Za-z0-9._%+-]+@[A-Za-z0-9][A-Za-z0-9.-]*\.[a-z]{2,}(?![A-Za-z])",
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9][A-Za-z0-9.-]*\.[a-z]{2,}\b",
        "[REDACTED_EMAIL]",
    ),
    ScrubRule(
        "ip_v6",
        r"(?<![0-9a-fA-F:])(?:[0-9a-fA-F]{1,4}:){3,7}[0-9a-fA-F]{1,4}(?![0-9a-fA-F:])",
        r"\b(?:[0-9a-fA-F]{1,4}:){3,7}[0-9a-fA-F]{1,4}\b",
        "[REDACTED_IP]",
    ),
    ScrubRule(
        "ip_v4",
        r"(?<![\d.])(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)(?!\.?\d)",
        r"\b(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\b",
        "[REDACTED_IP]",
    ),
    ScrubRule(
        "credit_card_number",
        r"(?<![\d-])\d{4}-\d{4}-\d{4}-\d{4}(?![\d-])",
        r"\b\d{4}-\d{4}-\d{4}-\d{4}\b",
        "[REDACTED_CC]",
    ),
    ScrubRule(
        "us_social_security_number",
        r"(?<![\d-])(?!000|666|9)\d{3}-(?!00)\d{2}-(?!0000)\d{4}(?![\d-])",
        r"\b\d{3}-\d{2}-\d{4}\b",
        "[REDACTED_SSN]",
    ),
    ScrubRule(
        "us_phone_number",
        r"(?<![\d-])(?:\+?1[-. ]?)?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}(?![\d-])",
        r"\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}",
        "[REDACTED_PHONE]",
    ),
)

PII_CLASSES: tuple = tuple(r.class_name for r in SCRUB_RULES)

PROFILE_PYTHON = "python"
PROFILE_SQL = "sql"


# Every rule of both profiles needs one of '@', ':', '/' or a digit (a
# URL needs "://", an email '@', an IPv6 address ':', every other class a
# digit), so text holding none of them skips the rule loop.  ``\d``, not
# ``0-9``: Python's ``\d`` also takes non-ASCII decimal digits, which the
# card, SSN and phone rules accept.
_GATE = re.compile(r"[@:/\d]")


@functools.lru_cache(maxsize=None)
def _compiled(profile: str) -> tuple:
    attr = "pattern" if profile == PROFILE_PYTHON else "sql_pattern"
    return tuple((r.class_name, re.compile(getattr(r, attr)), r.token)
                 for r in SCRUB_RULES)


def scrub_pii(text: str, profile: str = PROFILE_PYTHON) -> tuple:
    """The scrub loop: the ``profile``'s rules in precedence order, each
    class replacing all of its matches before the next runs.  Returns
    ``(scrubbed, {class: count})``, or ``(None, None)`` when no rule
    matched — the fused row scorer ships those Nones as is."""
    if not _GATE.search(text):
        return None, None
    counts = None
    for name, rx, token in _compiled(profile):
        text, n = rx.subn(token, text)
        if n:
            if counts is None:
                counts = {}
            counts[name] = n
    return (None, None) if counts is None else (text, counts)


def scrub_string(text: Optional[str], profile: str = PROFILE_PYTHON) -> tuple:
    """Scrub one string → (scrubbed, {class: count}), the text itself and
    ``{}`` when nothing matched.  Reference semantics for determinism:
    fixed class order, global replace per class."""
    if text is None:
        return None, {}
    scrubbed, counts = scrub_pii(text, profile)
    return (text, {}) if counts is None else (scrubbed, counts)


SCRUB_RESULT_TYPE = T.StructType([
    T.StructField("scrubbed_text", T.StringType()),
    T.StructField("pii_counts", T.MapType(T.StringType(), T.IntegerType())),
])


def make_scrub_udf(profile: str = PROFILE_PYTHON):
    """Arrow-batched scrub UDF: ``text -> struct(scrubbed_text, pii_counts)``.

    Each row goes through :func:`scrub_string`; the rules are compiled
    once per profile per executor Python worker (iterator-of-series form,
    pattern from reference ``examples/pii_detection_presidio.py:117-128``).
    """

    def _scrub_batches(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = [scrub_string(t, profile) for t in batch]
            yield pd.DataFrame(
                {"scrubbed_text": [o[0] for o in out],
                 "pii_counts": [o[1] for o in out]}
            )

    return F.pandas_udf(_scrub_batches, returnType=SCRUB_RESULT_TYPE)


def scrub_text_expr(col) -> Column:
    """JVM-only scrub: chained ``regexp_replace`` of the ``PROFILE_SQL``
    patterns (whole-stage codegen, zero Python; the same text as the
    DuckDB oracle's :func:`scrub_sql_exprs`).  Same fixed class order as
    the UDF path."""
    c = F.col(col) if isinstance(col, str) else col
    for r in SCRUB_RULES:
        c = F.regexp_replace(c, r.sql_pattern, r.token)
    return c


def pii_count_exprs(col, classes: Optional[Sequence[str]] = None) -> list:
    """JVM-only per-class match counts on the *progressively scrubbed* text
    (identical overlap semantics to the UDF path).  Returns
    ``[(class_name, Column[int])...]``."""
    c = F.col(col) if isinstance(col, str) else col
    out = []
    for r in SCRUB_RULES:
        # the ``classes`` filter skips only the COUNT — every rule still
        # scrubs, or the progressive-overlap semantics would diverge from
        # the UDF path (e.g. counting ip_v4 without first scrubbing URLs
        # would count the IP inside http://10.0.0.1/)
        if classes is None or r.class_name in classes:
            out.append((r.class_name,
                        F.size(F.regexp_extract_all(
                            c, F.lit("(" + r.sql_pattern + ")"), 1))))
        c = F.regexp_replace(c, r.sql_pattern, r.token)
    return out


def scrub_sql_exprs(text_sql: str, dialect: str = "duckdb") -> str:
    """ANSI-SQL scrub expression for the oracle (DuckDB ``regexp_replace``
    with the global flag) over the same RE2-safe profile."""
    expr = text_sql
    for r in SCRUB_RULES:
        pat = r.sql_pattern.replace("'", "''")
        expr = f"regexp_replace({expr}, '{pat}', '{r.token}', 'g')"
    return expr
