"""Output checks, computed apart from the program.

Each checker takes plain pandas frames (read back with pyarrow, never with
Spark) and returns a list of error strings; an empty list means the output
is correct.  ``selftest.py`` feeds every checker corrupted outputs and
requires it to fail.
"""

from __future__ import annotations

import json
import math
import re
from typing import Dict, Iterable, List, Sequence, Set, Tuple

import pandas as pd

DECISION_KEY = ["conv_id", "turn_idx"]


def _listify(v) -> list:
    return [] if v is None else list(v)


def canonical_decisions(df: pd.DataFrame) -> List[tuple]:
    """Rows in ``reference_decide``'s canonical form: ``pii_counts`` as
    sorted-key JSON, ``drop_reasons`` joined with ','."""
    out = []
    for r in df.itertuples(index=False):
        counts = dict(sorted((k, int(v)) for k, v in _listify(r.pii_counts)))
        out.append((r.conv_id, int(r.turn_idx), r.role, r.lang, r.lang_score,
                    r.perplexity, json.dumps(counts, separators=(",", ":")),
                    r.toxicity_score, bool(r.keep),
                    ",".join(_listify(r.drop_reasons)), r.scrubbed_text))
    return sorted(out, key=lambda t: (t[0], t[1]))


def decisions_errors(turns: pd.DataFrame, files: Sequence[pd.DataFrame],
                     expected_sample: pd.DataFrame) -> List[str]:
    """``turns``: the input (conv_id, turn_idx, text); ``files``: the
    decision files in any order; ``expected_sample``: reference decisions
    for a sample of conversations."""
    errs = []
    for i, f in enumerate(files):
        keys = list(zip(f["conv_id"], f["turn_idx"]))
        if keys != sorted(keys):
            errs.append(f"file {i} is not sorted by (conv_id, turn_idx)")
    out = pd.concat(list(files), ignore_index=True) if files else \
        pd.DataFrame(columns=list(expected_sample.columns))
    if out.duplicated(DECISION_KEY).any():
        errs.append(f"{int(out.duplicated(DECISION_KEY).sum())} duplicate "
                    "(conv_id, turn_idx) rows")
    merged = turns.merge(out, on=DECISION_KEY, how="outer", indicator=True)
    missing = int((merged["_merge"] == "left_only").sum())
    extra = int((merged["_merge"] == "right_only").sum())
    if missing or extra:
        errs.append(f"{missing} input turns missing, {extra} unknown turns")
    both = merged[merged["_merge"] == "both"]
    n_reasons = both["drop_reasons"].map(lambda v: len(_listify(v)))
    if (both["keep"].astype(bool) != (n_reasons == 0)).any():
        errs.append("keep disagrees with empty drop_reasons")
    no_pii = both["pii_counts"].map(lambda v: len(_listify(v)) == 0)
    same = [a == b for a, b in zip(both["scrubbed_text"], both["text"])]
    if (no_pii != pd.Series(same, index=both.index)).any():
        errs.append("empty pii_counts disagrees with scrubbed_text == text")
    blank = both["text"].map(lambda t: t is None or not t.strip())
    has_empty = both["drop_reasons"].map(lambda v: "empty" in _listify(v))
    if (blank & ~has_empty).any():
        errs.append("a blank turn does not carry 'empty'")
    want = sorted(map(tuple, expected_sample.itertuples(index=False)),
                  key=lambda t: (t[0], t[1]))
    keys = set(zip(expected_sample["conv_id"], expected_sample["turn_idx"]))
    got = [t for t in canonical_decisions(both[[
        "conv_id", "turn_idx", "role", "lang", "lang_score", "perplexity",
        "pii_counts", "toxicity_score", "keep", "drop_reasons",
        "scrubbed_text"]]) if (t[0], t[1]) in keys]
    if got != want:
        bad = sum(1 for a, b in zip(got, want) if a != b) + abs(len(got) - len(want))
        errs.append(f"{bad} sampled decisions differ from reference_decide")
    return errs


def lineage_errors(lineage: pd.DataFrame, partitions: Iterable[str],
                   recount: Dict[str, Tuple[int, int]]) -> List[str]:
    """One 'done' row per partition whose ``rows_in``/``rows_kept`` equal
    the (input rows, kept rows) recounted from the files."""
    errs = []
    done = lineage[lineage["status"] == "done"]
    per = done.groupby("partition_id").size().to_dict()
    for p in partitions:
        if per.get(p, 0) != 1:
            errs.append(f"partition {p}: {per.get(p, 0)} done lineage rows")
            continue
        row = done[done["partition_id"] == p].iloc[0]
        if (int(row["rows_in"]), int(row["rows_kept"])) != recount[p]:
            errs.append(f"partition {p}: lineage counts "
                        f"{(int(row['rows_in']), int(row['rows_kept']))} "
                        f"!= recount {recount[p]}")
    if (lineage["status"] != "done").any():
        errs.append("lineage holds rows that are not 'done'")
    return errs


def classes_errors(found: Iterable[tuple], expected: Set[tuple]) -> List[str]:
    found = set(found)
    if found == expected:
        return []
    return [f"classes missing {sorted(expected - found)}, "
            f"unexpected {sorted(found - expected)}"]


def state_errors(state: pd.DataFrame, expected_keys: Set[tuple]) -> List[str]:
    key = ["table_catalog", "table_schema", "table_name", "column_name",
           "class_name"]
    keys = list(map(tuple, state[key].itertuples(index=False)))
    errs = []
    if len(keys) != len(set(keys)):
        errs.append(f"{len(keys) - len(set(keys))} duplicate state keys")
    if set(keys) != expected_keys:
        errs.append(f"state keys differ: {len(set(keys) - expected_keys)} "
                    f"unexpected, {len(expected_keys - set(keys))} missing")
    return errs


def scrubbed_errors(name: str, df: pd.DataFrame,
                    classified: Dict[str, str]) -> List[str]:
    """Every cell of a classified column is its class token or NULL."""
    errs = []
    for col, klass in classified.items():
        token = f"[REDACTED_{klass.upper()}]"
        bad = df[col].map(lambda v: v is not None and v != token)
        if bad.any():
            errs.append(f"{name}.{col}: {int(bad.sum())} cells are neither "
                        f"{token} nor NULL")
    return errs


def whatif_errors(summary: Iterable[tuple],
                  expected: Dict[Tuple[str, str], int]) -> List[str]:
    got = {(t, c): int(n) for t, c, n in summary}
    if got == expected:
        return []
    return [f"what-if counts {sorted(got.items())} != {sorted(expected.items())}"]


def scrub_text_errors(pairs: Iterable[Tuple[str, str]],
                      rules: Sequence[Tuple[str, str]]) -> List[str]:
    """``pairs``: (text, scrubbed); ``rules``: (sql_pattern, token) in the
    scrub precedence order, applied here with Python ``re``."""
    compiled = [(re.compile(p), tok) for p, tok in rules]
    bad = 0
    for text, scrubbed in pairs:
        want = text
        if want is not None:
            for rx, tok in compiled:
                want = rx.sub(tok, want)
        if want != scrubbed:
            bad += 1
    return [f"{bad} scrub_text_expr cells differ from Python re"] if bad else []


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    return v


def rows_errors(name: str, got_cols: Sequence[str], got: Sequence[tuple],
                want_cols: Sequence[str], want: Sequence[tuple]) -> List[str]:
    """Order-insensitive exact comparison, columns matched by name."""
    if sorted(got_cols) != sorted(want_cols):
        return [f"{name}: columns {sorted(got_cols)} != {sorted(want_cols)}"]

    def canon(cols, rows):
        idx = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted((tuple(_norm(r[i]) for i in idx) for r in rows), key=repr)

    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, oracle has {len(want)}"]
    if canon(got_cols, got) != canon(want_cols, want):
        return [f"{name}: values differ from the oracle"]
    return []


def lm_score_errors(name: str, df: pd.DataFrame, score_col: str,
                    doc_ids: Set[int]) -> List[str]:
    """One row per input document, and a finite, positive score for every
    document with tokens."""
    errs = []
    if df["doc_id"].duplicated().any() or set(df["doc_id"]) != doc_ids:
        errs.append(f"{name}: output rows are not one per input document")
    scored = df[df["n_tokens"] > 0]
    bad = scored[score_col].map(
        lambda v: v is None or not math.isfinite(v) or v <= 0)
    if bad.any():
        errs.append(f"{name}: {int(bad.sum())} scored documents lack a "
                    "finite positive score")
    return errs
