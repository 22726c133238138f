"""Property-based tests (hypothesis) over the pure-Python kernels —
fast driver-side checks of invariants the operators rely on at scale.
The reference has no property testing (SURVEY §5); these guard the
semantics the distributed plans assume."""

from __future__ import annotations

import json
import re

import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from discoverx_spark.oracle_ref import reference_decide
from discoverx_spark.pipeline import make_row_scorer
from discoverx_spark.scrub import (PROFILE_PYTHON, PROFILE_SQL, _compiled,
                                   scrub_string)

TEXT = st.text(
    alphabet=st.characters(codec="utf-8",
                           exclude_categories=("Cs",)),  # no lone surrogates
    max_size=400)
PIIISH = st.sampled_from([
    "mail me at a.b@c-d.org now", "ip 10.0.0.1 and 255.255.255.255",
    "card 1234-5678-9012-3456 exp 01/25", "ssn 123-45-6789",
    "call 123.456.7890", "see https://x.example.com/p?q=1",
    "::1234:5678 ipv6", "", "   \n  ", "plain words only here",
])


@given(st.one_of(TEXT, PIIISH))
@settings(max_examples=300, deadline=None)
def test_scrub_idempotent(text):
    """scrub(scrub(x)) == scrub(x) — redaction tokens must never re-match
    any rule (otherwise a second pass over already-scrubbed data corrupts
    it; resume paths can legitimately re-scrub)."""
    for profile in (PROFILE_PYTHON, PROFILE_SQL):
        once, _counts = scrub_string(text, profile)
        twice, counts2 = scrub_string(once, profile)
        assert twice == once and not counts2


@given(st.one_of(TEXT, PIIISH))
@settings(max_examples=200, deadline=None)
def test_scrub_never_none_and_no_raw_email_ip(text):
    out, _counts = scrub_string(text, PROFILE_PYTHON)
    assert out is not None
    assert not re.search(r"\b[\w.+-]+@[\w-]+\.[a-z]{2,}\b", out) or \
        "[REDACTED_EMAIL]" in out


_scorer = make_row_scorer()


@given(st.one_of(TEXT, PIIISH, st.none()))
@settings(max_examples=300, deadline=None)
def test_row_scorer_total_and_bounded(text):
    """The fused-UDF kernel must accept ANY string (or null) and return
    bounded features — a single bad row must never kill an executor."""
    (scrubbed, counts, ppl, lang, lang_score, tox_hits, tox_score,
     n_tokens, n_chars, is_blank) = _scorer(text)
    assert ppl > 0
    assert 0.0 <= lang_score <= 1.0
    assert tox_hits >= 0 and tox_score >= 0
    assert n_tokens >= 0 and n_chars >= 0
    if text is None:
        assert is_blank and scrubbed is None
    else:
        assert n_chars == len(text)
        assert is_blank == (not text.strip())
        if scrubbed is not None:
            assert counts and sum(counts.values()) >= 1


# Fragments the differential splices together: non-ASCII scripts,
# combining marks, case changes that alter length or script (İ lowers to
# two code points, ẞ/ß, the Kelvin sign lowers to ASCII k), NUL,
# stopwords behind punctuation, and PII near-misses on both sides of the
# lookaround guards, including non-ASCII decimal digits.
FRAGMENTS = st.sampled_from([
    "İstanbul", "İ", "ß", "STRASSE", "ẞ", "\u212a", "ﬁ", "e\u0301", "\x00",
    "中文字符", "это текст", "ελληνικά", "שלום", "สวัสดี", "(the", "the)",
    "(le chat)", "(est)", "der,", "me...", "'me'", "la", "stupid", "shut  up",
    "a@b.com", "a@b.c", "x.y@z-w.org1", "@@", "10.0.0.1", "256.1.1.1",
    "1.2.3.4.5", "10.0.0.1.", "123-45-6789", "000-12-3456", "666-12-3456",
    "923-45-6789", "1234-5678-9012-3456", "1234-5678-9012-34567",
    "(123) 456-7890", "+1 123.456.7890", "123-456-78901", "https://x.io/p?q=1",
    "http://10.0.0.1/", "mailto://a@b.co", "ftp:/x.io", "2001:db8:1:2:3:4:5:6",
    "::1234:5678", "1:2:3", "١٢٣-٤٥-٦٧٨٩", "٠١٢٣-٤٥٦٧-٨٩٠١-٢٣٤٥", "१२३ ४५६ ७८९०",
])
SEPARATORS = st.sampled_from(["", " ", "  ", "\n", ".", ",", "-", ":", "/"])
HOSTILE = st.lists(st.tuples(st.one_of(FRAGMENTS, TEXT), SEPARATORS),
                   max_size=8).map(lambda parts: "".join(
                       f + sep for f, sep in parts))
# the inputs of the scorer-vs-reference differential (the Spark-side
# pass in test_oracle_ref.py draws one batch from it too)
DIFFERENTIAL = st.one_of(HOSTILE, TEXT, PIIISH, st.none())


def _reference_features(text):
    ref = reference_decide(pd.DataFrame({
        "conv_id": ["c"], "turn_idx": [0], "role": ["user"], "text": [text]}))
    return tuple(ref.loc[0, ["lang", "lang_score", "perplexity",
                             "pii_counts", "toxicity_score",
                             "scrubbed_text"]])


@given(DIFFERENTIAL)
@example("ssn ١٢٣-٤٥-٦٧٨٩ and (the cat")
@settings(max_examples=400, deadline=None, derandomize=True, database=None)
def test_row_scorer_matches_reference_decide(text):
    """Differential: the fused UDF's kernel must give the independent
    driver-side reference's features bit for bit on hostile text."""
    (scrubbed, counts, ppl, lang, lang_score, _tox_hits, tox_score,
     _n_tokens, _n_chars, _is_blank) = _scorer(text)
    got = (lang, lang_score, ppl,
           json.dumps(dict(sorted((counts or {}).items())),
                      separators=(",", ":")),
           tox_score, scrubbed if scrubbed is not None else text)
    assert got == _reference_features(text)


NO_GATE_CHARS = st.text(
    alphabet=st.one_of(
        st.characters(codec="utf-8", exclude_categories=("Cs", "Nd"),
                      exclude_characters="@:/"),
        st.sampled_from(list("abcefhilmoprstwxyzABFZ.-_%+()~#=?& \t\n"))),
    max_size=200)


@given(NO_GATE_CHARS)
@settings(max_examples=300, deadline=None, derandomize=True, database=None)
def test_scrub_gate_is_sound(text):
    """The scrub loop skips text without '@', ':', '/' or a decimal digit
    (Unicode category Nd, which is what Python's ``\\d`` takes): no rule
    of either profile may match such text."""
    for profile in (PROFILE_PYTHON, PROFILE_SQL):
        for name, rx, _token in _compiled(profile):
            assert rx.search(text) is None, (profile, name)


@given(st.text(alphabet="ab \t\n", max_size=60))
@settings(max_examples=200, deadline=None)
def test_fingerprint_whitespace_invariant(text):
    """The dedup fingerprint normalization: any two texts equal up to
    whitespace runs / case / surrounding space must collapse together."""
    import hashlib

    def fp(t):
        return hashlib.md5(" ".join(t.lower().split()).encode()).hexdigest()

    assert fp(text) == fp("  " + text.replace(" ", "  ") + "\n")
