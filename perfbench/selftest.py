"""Self-test of the benchmark's output checks: each checker must pass on a
correct output and fail on a deliberately corrupted one.

    python3 perfbench/selftest.py

Runs without Spark in a few seconds; exits non-zero when a checker accepts
a corrupted output or rejects a correct one.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pandas as pd

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import checks  # noqa: E402
import inputs  # noqa: E402


def _as_written(ref: pd.DataFrame) -> pd.DataFrame:
    """reference_decide's canonical rows in the shape pyarrow reads back
    from the decision files (map as (key, value) pairs, list of reasons)."""
    out = ref.copy()
    out["pii_counts"] = out["pii_counts"].map(
        lambda s: list(json.loads(s).items()))
    out["drop_reasons"] = out["drop_reasons"].map(
        lambda s: s.split(",") if s else [])
    return out


def decision_cases():
    from discoverx_spark.oracle_ref import reference_decide
    from discoverx_spark.transcripts import generate_transcripts_pandas

    turns = generate_transcripts_pandas(40, seed=3)[
        ["conv_id", "turn_idx", "role", "text"]]
    extra = pd.DataFrame([("conv-x", 0, "user",
                           "mail me at jane.doe@example.com please")],
                         columns=turns.columns)
    turns = pd.concat([turns, extra], ignore_index=True)
    ref = reference_decide(turns)
    written = _as_written(ref)
    inp = turns[["conv_id", "turn_idx", "text"]]
    files = [written.iloc[:len(written) // 2].reset_index(drop=True),
             written.iloc[len(written) // 2:].reset_index(drop=True)]
    yield "decisions: correct output", True, checks.decisions_errors(
        inp, files, ref)

    def corrupt(fn):
        parts = [f.copy() for f in files]
        fn(parts[1])
        return checks.decisions_errors(inp, parts, ref)

    def unscrub(df):
        i = df.index[df["conv_id"] == "conv-x"][0]
        df.at[i, "scrubbed_text"] = "mail me at jane.doe@example.com please"

    def flip_keep(df):
        df.at[df.index[0], "keep"] = not df.at[df.index[0], "keep"]

    def drop_row(df):
        df.drop(index=df.index[3], inplace=True)

    def unsort(df):
        a, b = df.index[0], df.index[1]
        df.loc[[a, b]] = df.loc[[b, a]].values

    yield "decisions: unscrubbed email", False, corrupt(unscrub)
    yield "decisions: flipped keep", False, corrupt(flip_keep)
    yield "decisions: missing row", False, corrupt(drop_row)
    yield "decisions: unsorted file", False, corrupt(unsort)

    blank = written[written["drop_reasons"].map(lambda r: "empty" in r)]
    key = tuple(blank.iloc[0][["conv_id", "turn_idx"]])

    def unflag_blank(df):
        hit = (df["conv_id"] == key[0]) & (df["turn_idx"] == key[1])
        for i in df.index[hit]:
            df.at[i, "drop_reasons"] = ["too_short"]

    parts = [f.copy() for f in files]
    for p in parts:
        unflag_blank(p)
    yield "decisions: blank turn without 'empty'", False, \
        checks.decisions_errors(inp, parts, ref)


def lineage_cases():
    lineage = pd.DataFrame([
        ("0", "done", 10, 7), ("1", "done", 12, 9), ("2", "done", 8, 8)],
        columns=["partition_id", "status", "rows_in", "rows_kept"])
    recount = {"0": (10, 7), "1": (12, 9), "2": (8, 8)}
    parts = ["0", "1", "2"]
    yield "lineage: correct", True, checks.lineage_errors(lineage, parts,
                                                          recount)
    yield "lineage: missing row", False, checks.lineage_errors(
        lineage.iloc[:2], parts, recount)
    dup = pd.concat([lineage, lineage.iloc[[0]]], ignore_index=True)
    yield "lineage: duplicate done row", False, checks.lineage_errors(
        dup, parts, recount)
    off = lineage.copy()
    off.loc[1, "rows_kept"] = 10
    yield "lineage: wrong kept count", False, checks.lineage_errors(
        off, parts, recount)


def classify_cases():
    seeded = inputs.SEEDED_CLASSES
    yield "classes: correct", True, checks.classes_errors(sorted(seeded),
                                                          seeded)
    wrong = sorted(seeded)
    cat, sch, tbl, col, _k = wrong[0]
    wrong[0] = (cat, sch, tbl, col, "fqdn")
    yield "classes: wrong class", False, checks.classes_errors(wrong, seeded)

    keys = {("c", "s", "t", "a", "email"), ("c", "s", "t", "a", "ip_v4")}
    state = pd.DataFrame(sorted(keys), columns=[
        "table_catalog", "table_schema", "table_name", "column_name",
        "class_name"])
    yield "state: correct", True, checks.state_errors(state, keys)
    yield "state: duplicate key", False, checks.state_errors(
        pd.concat([state, state.iloc[[0]]]), keys)

    scrubbed = pd.DataFrame({"email": ["[REDACTED_EMAIL]", None],
                             "note": ["x", "y"]})
    yield "scrubbed: correct", True, checks.scrubbed_errors(
        "t", scrubbed, {"email": "email"})
    leaked = scrubbed.copy()
    leaked.loc[0, "email"] = "jane@example.com"
    yield "scrubbed: unscrubbed email", False, checks.scrubbed_errors(
        "t", leaked, {"email": "email"})

    expected = {("crm.ops.events", "src_ip"): 40,
                ("web.logs.access", "client_ip"): 0}
    summary = [("crm.ops.events", "src_ip", 40),
               ("web.logs.access", "client_ip", 0)]
    yield "what-if: correct", True, checks.whatif_errors(summary, expected)
    yield "what-if: wrong count", False, checks.whatif_errors(
        [("crm.ops.events", "src_ip", 39), summary[1]], expected)

    from discoverx_spark.scrub import SCRUB_RULES
    rules = [(r.sql_pattern, r.token) for r in SCRUB_RULES]
    text = "mail jane.doe@example.com from 10.0.0.1"
    good = [(text, "mail [REDACTED_EMAIL] from [REDACTED_IP]")]
    yield "scrub_text: correct", True, checks.scrub_text_errors(good, rules)
    yield "scrub_text: unscrubbed email", False, checks.scrub_text_errors(
        [(text, "mail jane.doe@example.com from [REDACTED_IP]")], rules)


def curate_cases():
    cols = ["doc_id", "score"]
    rows = [(1, 0.5), (2, 0.25)]
    yield "oracle rows: correct", True, checks.rows_errors(
        "q", cols, rows, ["score", "doc_id"], [(0.25, 2), (0.5, 1)])
    yield "oracle rows: wrong value", False, checks.rows_errors(
        "q", cols, [(1, 0.5), (2, 0.26)], cols, rows)
    yield "oracle rows: missing row", False, checks.rows_errors(
        "q", cols, rows[:1], cols, rows)
    lm = pd.DataFrame({"doc_id": [0, 1, 2], "sb_ppl": [12.5, 30.1, None],
                       "n_tokens": [10, 4, 0]})
    yield "lm scores: correct", True, checks.lm_score_errors(
        "q", lm, "sb_ppl", {0, 1, 2})
    bad = lm.copy()
    bad.loc[1, "sb_ppl"] = float("nan")
    yield "lm scores: NaN score", False, checks.lm_score_errors(
        "q", bad, "sb_ppl", {0, 1, 2})
    yield "lm scores: missing document", False, checks.lm_score_errors(
        "q", lm.iloc[:2], "sb_ppl", {0, 1, 2})


def main() -> int:
    bad = 0
    for group in (decision_cases, lineage_cases, classify_cases,
                  curate_cases):
        for name, should_pass, errors in group():
            ok = (not errors) == should_pass
            bad += not ok
            verdict = "ok  " if ok else "FAIL"
            print(f"{verdict} {name}: "
                  f"{'passes' if not errors else errors[0]}")
    print(f"{bad} checker self-test failure(s)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
