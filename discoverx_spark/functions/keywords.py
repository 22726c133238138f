"""Multi-keyword matching with an Aho-Corasick automaton in an Arrow UDF.

Reference context: discoverx's term gates scan with one regex per rule
(``scanner.py:310-313``) — O(patterns × text).  A production blocklist
or taxonomy has 10³-10⁵ terms; Aho-Corasick matches ALL of them in one
O(text) pass per document, which is the difference between feasible and
not at 100 TB.  The automaton is built ONCE PER TASK by the kernel
factory that ``functions.udf.row_udf`` calls (the per-task-state pattern
the transcripts pipeline uses), so per-row cost is pure matching.

Counting semantics: per keyword, matches are counted LEFTMOST-GREEDY
NON-OVERLAPPING (the same occurrences ``str.replace``/``str.count``
consume) — this makes the operator replayable in ANSI SQL via
``(len(t) - len(replace(t, kw, ''))) / len(kw)``, which is how the
DuckDB oracle certifies it.  Distinct keywords are independent: a
keyword that is a substring of another is counted on its own.
"""

from __future__ import annotations

from typing import Iterable, List, Sequence, Tuple

from pyspark.sql.types import (ArrayType, IntegerType, StringType,
                               StructField, StructType)

from .udf import row_udf


def build_automaton(keywords: Sequence[str]):
    """Classic Aho-Corasick: goto trie + BFS failure links + output
    lists.  Returns (goto: list[dict[ch,int]], fail: list[int],
    out: list[list[int]]) over keyword indexes."""
    goto: List[dict] = [{}]
    out: List[List[int]] = [[]]
    for idx, kw in enumerate(keywords):
        if not kw:
            raise ValueError("empty keyword")
        node = 0
        for ch in kw:
            nxt = goto[node].get(ch)
            if nxt is None:
                goto.append({})
                out.append([])
                nxt = len(goto) - 1
                goto[node][ch] = nxt
            node = nxt
        out[node].append(idx)
    fail = [0] * len(goto)
    queue = list(goto[0].values())
    for node in queue:  # BFS; queue grows during iteration
        for ch, nxt in goto[node].items():
            queue.append(nxt)
            f = fail[node]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[nxt] = goto[f].get(ch, 0)
            if fail[nxt] == nxt:
                fail[nxt] = 0
            out[nxt].extend(out[fail[nxt]])
    return goto, fail, out


def _match_ends(goto, fail, out, text: str) -> Iterable[Tuple[int, int]]:
    """Yields (keyword_index, end_position_exclusive) for EVERY match."""
    node = 0
    for i, ch in enumerate(text):
        while node and ch not in goto[node]:
            node = fail[node]
        node = goto[node].get(ch, 0)
        for idx in out[node]:
            yield idx, i + 1


def count_matches(goto, fail, out, keywords: Sequence[str],
                  text: str) -> List[int]:
    """Per-keyword leftmost-greedy non-overlapping counts (replace()
    semantics): an occurrence is counted iff it starts at or after the
    end of the previously counted occurrence of the SAME keyword."""
    counts = [0] * len(keywords)
    next_free = [0] * len(keywords)  # first start position not consumed
    for idx, end in _match_ends(goto, fail, out, text):
        start = end - len(keywords[idx])
        if start >= next_free[idx]:
            counts[idx] += 1
            next_free[idx] = end
    return counts


_MATCH_SCHEMA = ArrayType(StructType([
    StructField("kw", StringType()),
    StructField("cnt", IntegerType()),
]))


def make_keyword_match_udf(keywords: Sequence[str],
                           lowercase: bool = True):
    """Arrow UDF: text -> array<struct<kw,cnt>> of keywords with at
    least one match.  The automaton is built once per task, in the
    kernel factory :func:`functions.udf.row_udf` calls; only the small
    keyword list rides the closure."""
    kws = [k.lower() for k in keywords] if lowercase else list(keywords)

    def make_kernel():
        goto, fail, out = build_automaton(kws)

        def one(t):
            if t is None:
                return []
            c = count_matches(goto, fail, out, kws,
                              t.lower() if lowercase else t)
            return [{"kw": kws[i], "cnt": int(n)}
                    for i, n in enumerate(c) if n > 0]

        return one

    return row_udf(make_kernel, _MATCH_SCHEMA)
