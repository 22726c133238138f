"""Distributed BPE tokenizer training (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units" — public method).

The insight that makes BPE Spark-friendly: training never touches the
corpus after the first pass — it operates on the WORD FREQUENCY TABLE
(distinct words + counts), which is vocabulary-shaped.  So:

* **Pass 1 (corpus-sized, once)**: explode tokens → ``groupBy(word)``
  count, with map-side combine — the only job whose input scales with
  the corpus.  Each word becomes its symbol array (characters + the
  ``</w>`` end-of-word marker).
* **Merge loop (vocabulary-sized, num_merges times)**: count weighted
  adjacent symbol pairs over the word table (one groupBy per
  iteration), pick the most frequent pair with a deterministic
  tie-break (count desc, pair asc — the driver pulls ONE row), then
  rewrite every word's symbol array with a left-to-right greedy merge
  fold.  The iteration state is the word table; ``localCheckpoint``
  every few rounds truncates the growing lineage (the
  connected-components discipline, dedup.py:540).

The greedy rewrite is a single ``aggregate`` fold with a
(output-array, carry) struct accumulator — one pass per word, no
Python.  Overlap semantics match the reference implementation: in
"aaa" with merge (a,a), the FIRST pair merges and the third ``a``
stays (left-to-right, no re-scan within the same merge step).

``learned merges`` come back as a small driver-side list (rank order);
``bpe_segment_expr`` applies them in rank order to tokenize new text —
num_merges chained folds, fine for the few-hundred-merge vocabularies
the tests use — and ``make_bpe_segment_udf`` is the rank-priority
Arrow kernel for 30k+-merge production tables (equality-tested against
the expression form; merge table broadcast per session).
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import tokens_sql_expr
from ..functions.udf import row_udf
from .packing import token_counts

END_OF_WORD = "</w>"


def word_frequencies(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) — the one corpus-sized pass (packing.token_counts
    under vocabulary-table column names)."""
    return (token_counts(df, text_col)
            .withColumnRenamed("token", "word")
            .withColumnRenamed("count", "freq"))


def _symbols_expr(word) -> Column:
    w = F.col(word) if isinstance(word, str) else word
    return F.concat(F.split(w, ""), F.array(F.lit(END_OF_WORD)))


def _pair_counts(words: DataFrame) -> DataFrame:
    """(pair struct<l,r>, cnt): adjacent symbol pairs weighted by word
    frequency.  The pair is a STRUCT, not a joined string — symbols may
    contain ANY character after a few merges (including any separator a
    string encoding would pick: real web corpora do contain C0 control
    chars, which \\S+ keeps inside tokens), and struct equality/ordering
    gives collision-free grouping plus tuple-order tie-breaks for
    free."""
    syms = F.col("symbols")
    n = F.size(syms)
    zipped = F.zip_with(syms, F.slice(syms, 2, F.greatest(n, F.lit(1))),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")))
    pairs = F.when(n >= 2, F.slice(zipped, 1, n - 1)) \
        .otherwise(F.slice(zipped, 1, 0))
    return (words.select(F.explode(pairs).alias("pair"), "freq")
            .groupBy("pair").agg(F.sum("freq").alias("cnt")))


def _merge_pair_expr(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of adjacent (left, right) into one
    symbol — an ``aggregate`` fold with (out, carry) state plus a finish
    lambda that flushes the trailing carry."""
    merged = left + right
    # a literal empty array, NOT slice(syms, 1, 0): referencing syms here
    # would make every chained fold embed the previous fold's expression
    # TWICE (input + init), exploding the plan 2^k for a k-merge batch
    # (measured: 114 MiB task binary and executor OOM at k=15)
    empty = F.array().cast("array<string>")

    def step(acc, s):
        flush_then_carry = F.struct(
            F.concat(acc["out"], F.array(acc["carry"])).alias("out"),
            s.alias("carry"))
        return (
            F.when(acc["carry"].isNull(),
                   F.struct(acc["out"].alias("out"), s.alias("carry")))
            .when((acc["carry"] == left) & (s == right),
                  F.struct(F.concat(acc["out"],
                                    F.array(F.lit(merged))).alias("out"),
                           F.lit(None).cast("string").alias("carry")))
            .otherwise(flush_then_carry))

    init = F.struct(empty.alias("out"),
                    F.lit(None).cast("string").alias("carry"))
    return F.aggregate(
        syms, init, step,
        lambda acc: F.when(acc["carry"].isNull(), acc["out"])
        .otherwise(F.concat(acc["out"], F.array(acc["carry"]))))


def _select_exact_batch(cands: List[Tuple[str, str, int]],
                        exhaustive: bool) -> List[Tuple[str, str]]:
    """From one scan's top-R candidates (sorted cnt desc, pair asc),
    pick the longest prefix provably equal to applying the merges one
    re-scan at a time.  Two rules make it exact:

    * **Disjoint prefix.**  Members must be pairwise non-interacting:
      operands disjoint AND no product string colliding with another
      member's operands or product.  Disjoint operands preserve each
      member's count exactly while earlier members apply (a merge site
      of one cannot touch a site of the other).
    * **Strict-majority cut.**  Applying a batch member (l,r) CREATES
      pairs — (x, lr) and (lr, y) at its merge sites — and each created
      pair's count is bounded by an already-existing pair that OVERLAPS
      (l,r): site "x l r" contains (x, l).  Every overlapping pair sorts
      at or after the first candidate that conflicts with the prefix
      (q*): one sorting earlier would itself have stopped the prefix or
      excluded its partner.  So created counts ≤ cnt(q*), and members
      with cnt STRICTLY greater than cnt(q*) still outrank every
      created pair (ties must be cut: a created pair tying on count
      could win the pair-asc tie-break).  When the scan was exhaustive
      (fewer distinct pairs than R) and conflict-free, there is no q*
      and the whole prefix is safe.

    Falls back to the plain argmax (always exact) when the cut empties
    the batch."""
    batch: List[Tuple[str, str]] = []
    used: set = set()       # operands + products of batch members
    products: set = set()
    stop_cnt = None
    for left, right, cnt in cands:
        prod = left + right
        if (left in used or right in used or prod in used
                or left in products or right in products
                or prod in products):
            stop_cnt = cnt
            break
        batch.append((left, right))
        used.update((left, right))
        products.add(prod)
    else:
        # no conflict inside the collected window; unseen pairs below
        # rank R (if any) still bound created counts
        stop_cnt = None if exhaustive else cands[-1][2]
    if stop_cnt is not None:
        batch = [(l, r) for (l, r), (_, _, c) in zip(batch, cands)
                 if c > stop_cnt]
    if not batch:
        batch = [(cands[0][0], cands[0][1])]
    return batch


def bpe_train(df: DataFrame, text_col: str, num_merges: int,
              checkpoint_every: int = 8, batch_size: int = 16,
              stats: dict = None) -> List[Tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus.  Returns the
    ranked merge list [(left, right), ...], bit-identical to the
    classic one-merge-per-scan algorithm (the ``_py_bpe_reference``
    oracle) for ANY ``batch_size``.

    Scale shape: the word table stays distributed throughout; each
    statistics pass collects only the top ``batch_size`` rows and
    applies the provably-safe prefix (see :func:`_select_exact_batch`)
    in one rewrite — on Zipf-shaped corpora this cuts the sequential
    driver round-trips from ``num_merges`` to roughly
    ``num_merges/batch_size`` (a 30k-merge production vocabulary stops
    being 30k sequential Spark jobs).  Ties and interacting pairs
    degrade gracefully toward one merge per scan, never past it.
    ``stats`` (optional dict) receives ``{"scans": n}`` for
    observability and tests."""
    if batch_size < 1:
        raise ValueError("batch_size must be >= 1")
    words = (word_frequencies(df, text_col)
             .select(_symbols_expr("word").alias("symbols"), "freq")
             .localCheckpoint(eager=True))
    merges: List[Tuple[str, str]] = []
    scans = 0
    since_ckpt = 0
    while len(merges) < num_merges:
        # struct asc ordering = (l, r) tuple order — the deterministic
        # tie-break the reference implementation mirrors
        top = (_pair_counts(words)
               .orderBy(F.desc("cnt"), F.asc("pair"))
               .limit(batch_size).collect())
        scans += 1
        if not top:
            break
        cands = [(r["pair"]["l"], r["pair"]["r"], r["cnt"]) for r in top]
        batch = _select_exact_batch(cands, exhaustive=len(top) < batch_size)
        batch = batch[:num_merges - len(merges)]
        merges.extend(batch)
        if len(merges) >= num_merges:
            break  # the rewritten table would never be read
        # ONE rewrite pass for the whole batch: the folds chain in rank
        # order, which is exactly the sequential application order
        syms = F.col("symbols")
        for left, right in batch:
            syms = _merge_pair_expr(syms, left, right)
        words = words.select(syms.alias("symbols"), "freq")
        # truncate the fold lineage (CC discipline): the plan otherwise
        # nests an unbounded number of aggregate folds
        since_ckpt += len(batch)
        if since_ckpt >= checkpoint_every:
            words = words.localCheckpoint(eager=True)
            since_ckpt = 0
    if stats is not None:
        stats["scans"] = scans
    return merges


def bpe_segment_expr(col, merges: List[Tuple[str, str]]) -> Column:
    """Tokenize text with learned merges: per word, apply every merge in
    rank order (the reference algorithm), then emit the flattened symbol
    sequence.  Plan size grows linearly with len(merges) — fine for the
    few-hundred-merge range; :func:`make_bpe_segment_udf` is the
    rank-priority Arrow kernel for 30k+-merge production vocabularies
    (equality-tested against this expression)."""
    toks = tokens_sql_expr(col)

    def segment_word(w):
        syms = F.concat(F.split(w, ""), F.array(F.lit(END_OF_WORD)))
        for left, right in merges:
            syms = _merge_pair_expr(syms, left, right)
        return syms

    return F.flatten(F.transform(toks, segment_word))


def make_bpe_segment_udf(merges: List[Tuple[str, str]], spark=None):
    """Arrow-batched BPE segmenter: ``text -> array<string>`` — the
    production path for real merge tables, where the expression form's
    plan would chain tens of thousands of folds.

    Semantics are IDENTICAL to :func:`bpe_segment_expr` (equality-tested):
    merges apply in rank order, greedy left-to-right within each rank.
    The standard tokenizer trick — repeatedly merging the present pair
    with the lowest rank — gives the same result as one pass per rank
    PROVIDED the table is MONOTONE: every operand of a rank-k merge is a
    base symbol (single character or </w>) or the product of a merge
    with rank < k.  Every table produced by actual BPE training
    (:func:`bpe_train` or any standard trainer) is monotone by
    construction — a symbol cannot be merged before it exists — and the
    property is what guarantees later-rank merges never create a pair an
    earlier rank still wants.  Hand-written non-monotone tables would
    diverge between the two algorithms, so the table is VALIDATED here
    (monotone + duplicate-free) and rejected with ValueError otherwise.
    The rank-priority loop then turns O(|merges|) passes into
    O(word_len) merge steps per word.  Per-task state is the rank dict
    (built once per worker); pass ``spark`` to ship large merge tables
    as a session broadcast instead of a task-closure copy
    (functions/models.py pattern)."""
    produced = set()
    seen_pairs = set()
    for i, (left, right) in enumerate(merges):
        for operand in (left, right):
            if len(operand) == 1 or operand == END_OF_WORD \
                    or operand in produced:
                continue
            raise ValueError(
                f"non-monotone merge table: rank-{i} operand {operand!r} "
                f"is neither a base symbol nor the product of an earlier "
                f"merge — rank-priority application would diverge from "
                f"rank-order application")
        if (left, right) in seen_pairs:
            raise ValueError(f"duplicate merge pair at rank {i}: "
                             f"({left!r}, {right!r})")
        seen_pairs.add((left, right))
        prod = left + right
        if prod in produced:
            # two distinct pairs with the same product (('a','bc') then
            # ('ab','c')) pass the operand check, yet the later merge can
            # recreate a pair an earlier rank still wants — rank-priority
            # application would then diverge from bpe_segment_expr's
            # one-pass-per-rank semantics.  Rejecting loudly beats
            # silently diverging; such tables (never observed from
            # bpe_train at tested scales) must use bpe_segment_expr.
            raise ValueError(
                f"rank-{i} merge ({left!r}, {right!r}) re-produces symbol "
                f"{prod!r} already produced by an earlier merge — "
                f"rank-priority segmentation is not equivalent for such "
                f"tables")
        produced.add(prod)
    # one payload holding both lookup directions; when broadcasting, the
    # closure must hold NO direct reference to it (a captured free
    # variable is pickled into every task regardless, defeating the
    # broadcast — the make_perplexity_udf lesson)
    payload = ({pair: i for i, pair in enumerate(merges)}, list(merges))
    bcast = None
    if spark is not None:
        from ..functions.models import broadcast_model, content_key

        key = content_key("bpe_merges", repr(merges).encode())
        bcast = broadcast_model(spark, key, lambda p=payload: p)
        payload = None

    import re as _re

    # Java's whitespace class, NOT Python's .split() (Python \s treats
    # \x1c-\x1f as whitespace; Java/regexp_extract_all does not)
    _word = _re.compile(r"[^ \t\n\x0b\f\r]+")

    def segment(text, r, mlist):
        out = []
        for w in _word.findall(text):
            syms = list(w) + [END_OF_WORD]
            while len(syms) >= 2:
                best = None
                for i in range(len(syms) - 1):
                    rk = r.get((syms[i], syms[i + 1]))
                    if rk is not None and (best is None or rk < best[0]):
                        best = (rk, i)
                if best is None:
                    break
                left, right = mlist[best[0]]
                merged, i, nxt = [], 0, len(syms)
                while i < nxt:
                    if (i + 1 < nxt and syms[i] == left
                            and syms[i + 1] == right):
                        merged.append(syms[i] + syms[i + 1])
                        i += 2
                    else:
                        merged.append(syms[i])
                        i += 1
                syms = merged
            out.extend(syms)
        return out

    def make_kernel():
        r, mlist = bcast.value if bcast is not None else payload
        return lambda t: None if t is None else segment(t.lower(), r, mlist)

    return row_udf(make_kernel, T.ArrayType(T.StringType()))
