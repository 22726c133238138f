"""Direct tests of functions/text.py expressions and the langid UDF."""

import math
import re

import pytest
from pyspark.sql import functions as F

from discoverx_spark.functions.text import (alpha_ratio_expr,
                                            bpe_token_estimate_expr,
                                            digit_ratio_expr,
                                            fingerprint_expr,
                                            langid_struct_expr,
                                            make_langid_udf,
                                            normalize_text_expr,
                                            punct_ratio_expr,
                                            token_count_expr, toxicity_exprs,
                                            whitespace_only_expr)

ROWS = [
    ("hello world, this is the test!",),
    ("   ",),
    ("12345 67890",),
    (None,),
]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(ROWS, "t string")


def vals(df, expr):
    return [r["v"] for r in df.select(expr.alias("v")).collect()]


def test_token_counts(df):
    assert vals(df, token_count_expr("t")) == [6, 0, 2, None]
    # bpe-ish pieces: words + punctuation marks
    assert vals(df, bpe_token_estimate_expr("t"))[0] == 8  # 6 words + ',' + '!'


def test_ratios(df):
    a = vals(df, alpha_ratio_expr("t"))
    assert a[0] > 0.7 and a[1] == 0.0 and a[2] == 0.0
    d = vals(df, digit_ratio_expr("t"))
    assert d[2] == pytest.approx(10 / 11)
    p = vals(df, punct_ratio_expr("t"))
    assert p[0] == pytest.approx(2 / 30)


def test_whitespace_only(df):
    assert vals(df, whitespace_only_expr("t")) == [False, True, False, False]


def test_normalize_and_fingerprint(spark):
    df = spark.createDataFrame(
        [("Hello  World",), ("hello world",), ("HELLO\tWORLD ",)], "t string")
    norms = vals(df, normalize_text_expr("t"))
    assert len(set(norms)) == 1
    fps = vals(df, fingerprint_expr("t"))
    assert len(set(fps)) == 1 and len(fps[0]) == 32


def test_langid_expr(spark):
    df = spark.createDataFrame(
        [("the cat and the dog in the house",),
         ("der hund und die katze sind nicht da",),
         ("le chat est dans la maison avec vous",),
         ("el perro y el gato en la casa",),
         ("zzz qqq xxx",)], "t string")
    out = [r["l"]["lang"] for r in
           df.select(langid_struct_expr("t").alias("l")).collect()]
    assert out == ["en", "de", "fr", "es", "und"]


def test_langid_udf_scripts(spark):
    udf = make_langid_udf()
    df = spark.createDataFrame(
        [("the cat and the dog sat here",),
         ("Это тест на русском языке",),
         ("这是一个中文测试句子，用来检测语言",),
         ("",)], "t string")
    out = [(r["l"]["lang"]) for r in df.select(udf("t").alias("l")).collect()]
    assert out == ["en", "ru", "zh", "und"]


def test_langid_udf_equals_decide(spark):
    """The standalone UDF and decide() share one classifier: a word that
    misses is stripped of punctuation only when it ends in it, so
    "(the" does not count."""
    from discoverx_spark.pipeline import decide

    texts = ["(the cat and the dog", "(le chat) (est)", "", None,
             "Это тест на русском языке", "这是一个中文测试句子 the and"]
    df = spark.createDataFrame(
        [("c", i, "user", t) for i, t in enumerate(texts)],
        "conv_id string, turn_idx long, role string, text string")
    udf = {r["turn_idx"]: (r["l"]["lang"], r["l"]["lang_score"])
           for r in df.select("turn_idx", make_langid_udf()("text")
                              .alias("l")).collect()}
    dec = {r["turn_idx"]: (r["lang"], r["lang_score"])
           for r in decide(df).collect()}
    assert udf == dec
    assert udf[0] == ("en", 0.8)
    assert udf[1] == ("fr", pytest.approx(2 / 3))
    assert udf[2] == udf[3] == ("und", 0.0)
    assert [udf[4][0], udf[5][0]] == ["ru", "zh"]


def test_toxicity(spark):
    df = spark.createDataFrame(
        [("you are stupid and dumb",), ("a perfectly nice sentence",),
         ("SHUT   UP please",)], "t string")
    hits, score = toxicity_exprs("t")
    got = [r["h"] for r in df.select(hits.alias("h")).collect()]
    assert got == [2, 0, 1]
    custom_hits, _ = toxicity_exprs("t", ["nice"])
    assert [r["h"] for r in df.select(custom_hits.alias("h")).collect()] == [0, 1, 0]


def test_train_char_lm_reproduces_embedded(spark):
    """Distributed training over the embedded corpus must reproduce the
    import-time CHAR_LM bit-for-bit (same counts, same smoothing path) —
    proving the trained matrix drops into the scorer unchanged."""
    import numpy as np
    from discoverx_spark.functions.perplexity import (CHAR_LM, _TRAIN,
                                                      train_char_lm)
    df = spark.createDataFrame([(_TRAIN,)], "text string")
    trained = train_char_lm(df, "text")
    assert np.array_equal(trained, CHAR_LM)


def test_canon_expr_matches_python_ids(spark):
    """The JVM canonicalization must produce the identical 27-symbol
    string the Python _ids path scores (incl. non-ascii -> '?' -> space
    and run collapsing)."""
    from discoverx_spark.functions.perplexity import _BYTE_CANON, canon_expr
    texts = ["Hello,  WORLD!  123", "ä ö mixed ASCII", "中文 then latin",
             "", "   ", "a", "tabs\tand\nnewlines here", "ß sharp"]

    def py_canon(t):
        raw = t.lower().encode("ascii", "replace")
        return b" ".join(raw.translate(_BYTE_CANON).split()).decode()

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {r.text: r.c for r in
           df.select("text", canon_expr("text").alias("c")).collect()}
    for t in texts:
        assert got[t] == py_canon(t), repr(t)


def test_perplexity_udf_accepts_trained_lm(spark):
    import numpy as np
    from discoverx_spark.functions.perplexity import (_TRAIN,
                                                      make_perplexity_udf,
                                                      train_char_lm)
    from pyspark.sql import functions as F
    lm = train_char_lm(spark.createDataFrame([(_TRAIN,)], "text string"),
                       "text")
    df = spark.createDataFrame(
        [("the quick brown fox",), ("zzz qqq xxx",)], "text string")
    a = [r.p for r in df.select(
        make_perplexity_udf()(F.col("text")).alias("p")).collect()]
    b = [r.p for r in df.select(
        make_perplexity_udf(lm)(F.col("text")).alias("p")).collect()]
    assert a == b  # trained-on-embedded == embedded, end to end


def test_compression_ratio_separates_repetition(spark):
    from discoverx_spark.functions.text import make_compression_ratio_udf
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(1, "spam spam spam " * 40),
         (2, "the quick brown fox jumps over the lazy dog while the patient "
             "engineer reads query plans and checks filters carefully"),
         (3, None), (4, "")],
        "id long, text string")
    got = {r.id: r.cr for r in df.select(
        "id", make_compression_ratio_udf()(F.col("text")).alias("cr")).collect()}
    assert got[1] < 0.2          # heavy repetition compresses hard
    assert 0.4 < got[2] <= 1.1   # fluent prose does not
    assert got[3] == 1.0 and got[4] == 1.0


def test_quality_classifier_matches_numpy(spark):
    import math

    from discoverx_spark.functions.text import (QUALITY_CLF_BIAS,
                                                QUALITY_CLF_WEIGHTS,
                                                quality_classifier_expr)
    rows = [(1, "the cat and the dog are in this house"),
            (2, "click here free casino jackpot winner"),
            (3, ""),
            (4, "Zzz qqq")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["p"] for r in df.select(
        "doc_id",
        F.round(quality_classifier_expr("text"), 6).alias("p")).collect()}

    def ref(text):
        toks = text.lower().split()
        s = sum(QUALITY_CLF_WEIGHTS.get(t, 0.0) for t in toks)
        z = QUALITY_CLF_BIAS + s / max(len(toks), 1)
        return round(1.0 / (1.0 + math.exp(-z)), 6)

    for i, text in rows:
        assert abs(got[i] - ref(text)) < 1e-9, (i, got[i], ref(text))
    # the classifier separates fluent English from keyword spam
    assert got[1] > 0.5 > got[2]


def test_html_extract_strips_boilerplate(spark):
    from discoverx_spark.functions.text import html_extract_expr
    html = ('<html><head><style>p{}</style></head><body>'
            '<nav>Home | About</nav>'
            '<p>The quick brown fox &amp; the lazy dog.</p>'
            '<script>var x = "</p> decoy";</script>'
            '<ul><li>one two three four five</li><li>short</li></ul>'
            '<footer>&copy; 2026</footer></body></html>')
    df = spark.createDataFrame([(1, html)], "doc_id long, text string")
    out = df.select(html_extract_expr("text").alias("t")).first()["t"]
    # article line survives with the entity decoded; the script block
    # (including its decoy close tag), nav, short list item and footer
    # are all gone
    assert out == ("The quick brown fox & the lazy dog.\n"
                   "one two three four five")


def test_html_entities_double_encoded(spark):
    from discoverx_spark.functions.text import html_extract_expr
    df = spark.createDataFrame(
        [(1, "<p>shows &amp;lt; and &amp; and &lt;tag&gt; here</p>")],
        "doc_id long, text string")
    out = df.select(html_extract_expr("text").alias("t")).first()["t"]
    # double-encoded &amp;lt; renders as the literal '&lt;', single-encoded
    # &lt; decodes to '<'
    assert out == "shows &lt; and & and <tag> here"


def test_quality_classifier_sql_escapes_quotes():
    import duckdb

    from discoverx_spark.functions.text import quality_classifier_sql
    sql = quality_classifier_sql("'don''t stop now'",
                                 weights={"don't": 1.0, "stop": -1.0},
                                 bias=0.0)
    v = duckdb.connect().execute(f"SELECT {sql}").fetchone()[0]
    assert 0.0 < v < 1.0


def test_quality_classifier_join_parity_with_literal(spark, sf_dir):
    """The broadcast-join formulation agrees with the literal-map
    expression to 6 decimals on real corpus text plus adversarial rows
    (duplicate-heavy, OOV-only, empty)."""
    from discoverx_spark.functions.text import (quality_classifier_expr,
                                                quality_classifier_join)

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").limit(200))
    extra = spark.createDataFrame(
        [(100001, "the the the the cat cat dog"),
         (100002, "zzz qqq xxyzzy"),
         (100003, ""),
         (100004, "free casino the cat free free")],
        "doc_id long, text string")
    df = docs.unionByName(extra)

    lit_scores = {r["doc_id"]: r["p"] for r in df.select(
        "doc_id",
        F.round(quality_classifier_expr("text"), 6).alias("p")).collect()}
    join_df = quality_classifier_join(df, "doc_id")
    join_scores = {r["doc_id"]: round(r["quality_prob"], 6)
                   for r in join_df.collect()}
    assert set(lit_scores) == set(join_scores)
    for k in lit_scores:
        assert abs(lit_scores[k] - join_scores[k]) <= 1e-6, (
            k, lit_scores[k], join_scores[k])


def test_quality_classifier_frame_autoselects_by_vocab(spark):
    """<=threshold terms → pure projection (no join in the plan);
    >threshold terms → broadcast join with no mega create_map literal."""
    from discoverx_spark.functions.text import quality_classifier_frame

    df = spark.createDataFrame(
        [(1, "term00000 term00001 unseen"), (2, "term99999 zzz")],
        "doc_id long, text string")

    small = quality_classifier_frame(df, "doc_id",
                                     weights={"zzz": 1.0}, bias=0.0)
    small_plan = small._sc._jvm.PythonSQLUtils.explainString(
        small._jdf.queryExecution(), "formatted")
    assert "Join" not in small_plan

    vocab = {f"term{i:05d}": (i % 7 - 3) / 3.0 for i in range(100_000)}
    big = quality_classifier_frame(df, "doc_id", weights=vocab, bias=0.0)
    big_plan = big._sc._jvm.PythonSQLUtils.explainString(
        big._jdf.queryExecution(), "formatted")
    assert "BroadcastHashJoin" in big_plan or "BroadcastExchange" in big_plan
    # a 100k-term vocabulary must NOT be constant-folded into the plan:
    # the literal formulation would render every term into the plan text
    assert "term05000" not in big_plan
    assert len(big_plan) < 200_000

    got = {r["doc_id"]: r["quality_prob"] for r in big.collect()}
    import math

    def ref(text):
        toks = text.lower().split()
        s = sum(vocab.get(t, 0.0) for t in toks)
        return 1.0 / (1.0 + math.exp(-(s / max(len(toks), 1))))

    assert abs(got[1] - ref("term00000 term00001 unseen")) < 1e-9
    assert abs(got[2] - ref("term99999 zzz")) < 1e-9


def test_quality_classifier_null_text_parity(spark):
    """NULL text scores NULL on BOTH classifier formulations — the join
    path must not resurrect dropped rows as sigmoid(bias)."""
    from discoverx_spark.functions.text import (quality_classifier_expr,
                                                quality_classifier_join)

    df = spark.createDataFrame(
        [(1, None), (2, "the cat"), (3, "")],
        "doc_id long, text string")
    lit = {r["doc_id"]: r["p"] for r in df.select(
        "doc_id", quality_classifier_expr("text").alias("p")).collect()}
    jn = {r["doc_id"]: r["quality_prob"] for r in
          quality_classifier_join(df, "doc_id").collect()}
    assert lit[1] is None and jn[1] is None
    assert abs(lit[2] - jn[2]) < 1e-9
    assert abs(lit[3] - jn[3]) < 1e-9  # empty text = sigmoid(bias), not null


def test_langid_external_stopwords_escaped(spark):
    """External tables with regex metacharacters / mixed case must not
    produce invalid or always-matching patterns."""
    import pytest

    from discoverx_spark.functions.text import (langid_struct_expr,
                                                make_langid_udf)

    df = spark.createDataFrame(
        [(1, "code in c++ is fun"), (2, "plain words here")],
        "doc_id long, text string")
    custom = {"xx": ["c++", "E.g."], "yy": ["plain"]}
    got = {r["doc_id"]: r["l"]["lang"] for r in df.select(
        "doc_id", langid_struct_expr("text", stopwords=custom).alias("l"),
    ).collect()}
    # "c++" must COMPILE (escaped, not an invalid pattern); it cannot
    # match under the \b guards (no word boundary after '+'), so doc 1 is
    # simply unclassified rather than crashing every executor
    assert got[1] == "und" and got[2] == "yy"
    # "e.g." must not match "eXgY"-shaped text via an unescaped dot
    df2 = spark.createDataFrame([(1, "east egg")], "doc_id long, text string")
    r = df2.select(langid_struct_expr(
        "text", stopwords={"xx": ["e.g."], "yy": ["egg"]}).alias("l")).first()
    assert r["l"]["lang"] == "yy"
    with pytest.raises(ValueError, match="empty stopword list"):
        df.select(langid_struct_expr(
            "text", stopwords={"xx": []}).alias("l"))
    # UDF path: mixed-case external tokens are lowercased for membership
    u = df.select(make_langid_udf(
        stopwords={"xx": ["C++", "FUN"], "yy": ["plain"]})("text")
        .alias("l")).collect()
    assert u[0]["l"]["lang"] == "xx"


def test_stupid_backoff_hand_computed(spark):
    """Backoff arithmetic checked against hand-computed relative
    frequencies on a tiny corpus (trigram hit, bigram backoff, unigram
    backoff, OOV floor, document-start padding)."""
    import math

    from discoverx_spark.functions.ngram_lm import (stupid_backoff_score,
                                                    word_ngram_counts)

    train = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "a b d")],
        "doc_id long, text string")
    counts = word_ngram_counts(train, "text", order=3, min_count=1)
    got_counts = {(r["gram"], r["n"]): r["cnt"] for r in counts.collect()}
    assert got_counts[("a b c", 3)] == 2
    assert got_counts[("a b", 2)] == 3
    assert got_counts[("a", 1)] == 3

    score_df = spark.createDataFrame(
        [(10, "a b c"), (11, "b d"), (12, "zzz"), (13, "")],
        "doc_id long, text string")
    got = {r["id"]: (r["sb_ppl"], r["n_tokens"]) for r in
           stupid_backoff_score(score_df, "text", "doc_id",
                                counts).collect()}
    n_total = 9  # 3 docs x 3 unigram tokens
    lam = 0.4
    # doc 10: pos1 'a' unigram-only path wins at longest available
    # context: no w1 -> unigram c(a)/N... but Stupid Backoff with null
    # context skips straight to the unigram case = lam^2 * c/N only when
    # backing off FROM a seen context; with no context at all the chain's
    # unigram branch applies (lam^2 factor, by construction of the
    # coalesce chain)
    s1 = lam * lam * 3 / n_total          # 'a', no context
    s2 = lam * 3 / 3                      # 'b' after 'a': c(a b)/c(a)... bigram path has lam
    s3 = 2 / 3                            # 'c' after 'a b': trigram 2 / bigram 3
    exp_10 = math.exp(-(math.log(s1) + math.log(s2) + math.log(s3)) / 3)
    assert abs(got[10][0] - round(exp_10, 10)) < 1e-5
    # doc 12: single OOV token -> floor lam^2 * 0.5 / N
    exp_12 = math.exp(-math.log(lam * lam * 0.5 / n_total))
    assert abs(got[12][0] - exp_12) < 1e-5
    # empty doc: NULL score, 0 tokens
    assert got[13] == (None, 0)
    # in-domain text scores better (lower ppl) than OOV salad
    assert got[10][0] < got[12][0]


# Java's \s, which Spark's \S+ tokenizer negates, is ASCII-only: NBSP
# and other Unicode spaces stay inside a token
_JAVA_TOKEN = re.compile(r"[^ \t\n\x0b\f\r]+")


def _sb_reference(train, score, order=3, min_count=1, lam=0.4):
    """Stupid Backoff by the per-order definition, in Python: every
    position counts one n-gram per order its left context reaches."""
    counts = {}
    for text in train:
        toks = _JAVA_TOKEN.findall(text.lower()) if text is not None else []
        for i in range(len(toks)):
            for n in range(1, min(order, i + 1) + 1):
                key = (" ".join(toks[i - n + 1:i + 1]), n)
                counts[key] = counts.get(key, 0) + 1
    counts = {k: v for k, v in counts.items() if v >= min_count}
    total = sum(v for (_g, n), v in counts.items() if n == 1)
    scores = {}
    for doc_id, text in score:
        toks = _JAVA_TOKEN.findall(text.lower()) if text is not None else []
        acc = 0.0
        for i, w in enumerate(toks):
            ctx = toks[max(0, i - 2):i]
            c3 = counts.get((" ".join(ctx + [w]), 3)) if len(ctx) == 2 \
                else None
            c2 = counts.get((f"{ctx[-1]} {w}", 2)) if ctx else None
            c1 = counts.get((w, 1))
            if c3 is not None:
                s = c3 / counts[(" ".join(ctx), 2)]
            elif c2 is not None:
                s = lam * c2 / counts[(ctx[-1], 1)]
            elif c1 is not None:
                s = lam * lam * c1 / total
            else:
                s = lam * lam * 0.5 / total
            acc += math.log(s)
        scores[doc_id] = ((math.exp(-acc / len(toks)) if toks else None),
                          len(toks))
    return counts, scores


def test_stupid_backoff_hostile_whitespace_matches_reference(spark):
    """Tabs, NBSP, runs of spaces, blank and NULL text: per-order counts
    and per-document scores equal the per-order definition.  NBSP is no
    token boundary, so 'x\\u00a0y' is one unigram — and, with no ASCII
    space in it, a gram the model keys as order 1."""
    from discoverx_spark.functions.ngram_lm import (stupid_backoff_score,
                                                    word_ngram_counts)

    rows = [(1, "a\tb  c\n\nd"), (2, "a b\u00a0c  d a b"),
            (3, "   "), (4, ""), (5, None), (6, "x\u00a0y a\u00a0b a"),
            (7, "A b C\r\nd\x0be a\fb"), (8, "a b c d a b c")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    texts = [t for _i, t in rows]
    for min_count in (1, 2):
        want, _ = _sb_reference(texts, rows, min_count=min_count)
        got = {(r["gram"], r["n"]): r["cnt"] for r in word_ngram_counts(
            docs, "text", order=3, min_count=min_count).collect()}
        assert got == want
    _, want = _sb_reference(texts, rows)
    got = {r["id"]: (r["sb_ppl"], r["n_tokens"]) for r in
           stupid_backoff_score(docs, "text", "doc_id",
                                word_ngram_counts(docs, "text")).collect()}
    assert got.keys() == want.keys()
    for doc_id, (ppl, n_tok) in want.items():
        assert got[doc_id][1] == n_tok, doc_id
        if ppl is None:
            assert got[doc_id][0] is None, doc_id
        else:
            assert got[doc_id][0] == pytest.approx(ppl, rel=1e-12), doc_id


def test_ngram_lm_model_roundtrips_as_parquet(spark, tmp_path):
    """The model IS a DataFrame: persist to parquet, reload, identical
    scores — the KenLM-artifact seam with zero special formats."""
    from discoverx_spark.functions.ngram_lm import (stupid_backoff_score,
                                                    word_ngram_counts)

    train = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat ran")],
        "doc_id long, text string")
    counts = word_ngram_counts(train, "text", order=3)
    path = str(tmp_path / "lm_counts.parquet")
    counts.write.parquet(path)
    reloaded = spark.read.parquet(path)
    a = sorted(map(tuple, stupid_backoff_score(
        train, "text", "doc_id", counts).collect()))
    b = sorted(map(tuple, stupid_backoff_score(
        train, "text", "doc_id", reloaded).collect()))
    assert a == b
