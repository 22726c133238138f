"""The independent reference implementation (oracle_ref.reference_decide)
must agree byte-for-byte with the production Spark ``decide()`` (the fused
Arrow UDF plus the JVM keep/drop gates) — over the full flagship input AND
adversarial edge strings.  A disagreement here means a real divergence the
flagship oracle would then adjudicate."""

import json

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import Phase, given, seed, settings
from pyspark.sql import functions as F
from pyspark.sql import types as T

from discoverx_spark.oracle_ref import reference_decide
from discoverx_spark.pipeline import (DECISION_COLUMNS, PipelineConfig, decide,
                                      write_decisions)
from discoverx_spark.transcripts import (generate_transcripts,
                                          generate_transcripts_pandas)
from test_properties import DIFFERENTIAL

EDGE_TEXTS = [
    None, "", "   \n  ", "x", "the the the",
    # stopword stripping fallback: trailing punctuation, double-end strip
    "thanks, that answers me.", "(the)", "la, vie est belle, non?",
    "der, die. das!", "me...", "'me'",
    # scripts: CJK, cyrillic, greek below/above frac threshold, latin-1
    "中文字符串测试", "это русский текст", "ελληνικά", "mostly english ασδ",
    "café résumé naïve",  # latin-1 accents: non-ascii but no script range
    # PII packs (overlapping classes, adjacency guards)
    "mail a@b.com or visit https://x.io/p?q=1 from 10.0.0.1",
    "cc 1234-5678-9012-3456 ssn 123-45-6789 phone 123-456-7890",
    "ipv6 2001:db8:1:2:3:4:5:6 and 192.168.0.1.5 odd",
    "a@b.com.x 999-99-9999 000-12-3456",
    # toxicity phrase with whitespace run + case
    "Shut  Up you LOSER", "you are so stupid, this is useless",
    # perplexity edges: digits-only, single letter, long fluent english
    "12345 67890", "a", "q" * 50,
    "the patient engineer reads the query plan and checks the filter " * 5,
    # too_long gate
    "word " * 5000,
]


def spark_decide(spark, turns: pd.DataFrame,
                 cfg: PipelineConfig = PipelineConfig()) -> pd.DataFrame:
    """Spark ``decide()`` in the flagship query's canonical form
    (q_transcripts_pipeline): pii_counts as sorted-key JSON, drop_reasons
    joined with ','; rows in input order."""
    src = spark.createDataFrame(
        turns[["conv_id", "turn_idx", "role", "text"]],
        "conv_id string, turn_idx long, role string, text string")
    d = decide(src, cfg).select(
        "conv_id", "turn_idx", "role", "lang", "lang_score", "perplexity",
        F.to_json(F.map_from_entries(F.array_sort(F.map_entries("pii_counts"))))
        .alias("pii_counts"),
        "toxicity_score", "keep",
        F.array_join("drop_reasons", ",").alias("drop_reasons"),
        "scrubbed_text")
    out = d.toPandas().set_index(["conv_id", "turn_idx"])
    return out.loc[list(zip(turns["conv_id"], turns["turn_idx"]))] \
        .reset_index()[DECISION_COLUMNS]


def test_reference_decide_matches_production_on_flagship_input(spark):
    pdf = generate_transcripts_pandas(300, seed=42)
    pd.testing.assert_frame_equal(reference_decide(pdf),
                                  spark_decide(spark, pdf))


def test_reference_decide_matches_production_on_edges(spark):
    pdf = pd.DataFrame({
        "conv_id": [f"c{i}" for i in range(len(EDGE_TEXTS))],
        "turn_idx": list(range(len(EDGE_TEXTS))),
        "role": ["user"] * len(EDGE_TEXTS),
        "text": EDGE_TEXTS,
    })
    pd.testing.assert_frame_equal(reference_decide(pdf),
                                  spark_decide(spark, pdf))


@pytest.mark.parametrize("cfg", [
    # no target language (``IN ()`` is no SQL: the gate is ``false``),
    # every turn substantive, any toxicity hit drops, a tiny max_chars
    PipelineConfig(allowed_langs=(), min_tokens=0, max_toxicity_hits=0,
                   max_chars=40),
    # a language code holding a quote; a perplexity gate that never fires
    PipelineConfig(allowed_langs=("en", "x'y", "de"),
                   max_perplexity=float("inf"), memo_size=64),
    # a perplexity gate that always fires, larger integer thresholds
    PipelineConfig(max_perplexity=1e-300, min_tokens=5, max_chars=100,
                   max_toxicity_hits=3),
], ids=["no_langs", "quoted_lang_inf", "tiny_perplexity"])
def test_reference_decide_matches_production_at_other_configs(spark, cfg):
    """The gates are SQL text with the config's thresholds rendered as
    literals; the reference reads the same config in Python."""
    pdf = generate_transcripts_pandas(120, seed=5)
    pdf = pd.concat([pdf, pd.DataFrame({
        "conv_id": [f"e{i}" for i in range(len(EDGE_TEXTS))],
        "turn_idx": list(range(len(EDGE_TEXTS))),
        "role": ["user"] * len(EDGE_TEXTS),
        "text": EDGE_TEXTS,
    })], ignore_index=True)
    want = reference_decide(pdf, cfg)
    pd.testing.assert_frame_equal(want, spark_decide(spark, pdf, cfg))


def test_decide_schema_is_unchanged(spark):
    """The decision schema, nullability included, as the Column-built
    gates produced it."""
    string, double = T.StringType(), T.DoubleType()
    assert decide(generate_transcripts(spark, 4, seed=1)).schema == \
        T.StructType([
            T.StructField("conv_id", string, True),
            T.StructField("turn_idx", T.IntegerType(), True),
            T.StructField("role", string, True),
            T.StructField("lang", string, True),
            T.StructField("lang_score", double, True),
            T.StructField("perplexity", double, True),
            T.StructField("pii_counts",
                          T.MapType(string, T.IntegerType(), True), False),
            T.StructField("toxicity_score", double, True),
            T.StructField("keep", T.BooleanType(), False),
            T.StructField("drop_reasons", T.ArrayType(string, True), False),
            T.StructField("scrubbed_text", string, True),
        ])


def _differential_batch(n: int) -> list:
    """``n`` draws of the driver-side differential's strategy under a
    pinned seed: the same texts on every run."""
    drawn = []

    @seed(20261019)
    @settings(max_examples=n, database=None, deadline=None,
              phases=[Phase.generate])
    @given(DIFFERENTIAL)
    def draw(text):
        drawn.append(text)

    draw()
    return drawn


def test_reference_decide_matches_production_on_differential_batch(spark):
    """The driver-side differential's inputs through one Spark
    ``decide()``, so the Arrow boundary is covered as well as the row
    scorer; plus turns one below, at and one above ``max_chars``."""
    max_chars = PipelineConfig().max_chars
    unit = "mail a@b.com, the café 中文 ١٢٣-٤٥-٦٧٨٩ "
    long = (unit * (max_chars // len(unit) + 2))
    texts = _differential_batch(150) + [
        long[:n] for n in (max_chars - 1, max_chars, max_chars + 1)]
    pdf = pd.DataFrame({
        "conv_id": [f"d{i}" for i in range(len(texts))],
        "turn_idx": list(range(len(texts))),
        "role": ["user"] * len(texts),
        "text": texts,
    })
    want = reference_decide(pdf)
    pd.testing.assert_frame_equal(want, spark_decide(spark, pdf))
    assert list(want["drop_reasons"].str.contains("too_long")[-3:]) == \
        [False, False, True]


def test_reference_decide_is_feature_independent():
    """Guard the independence claim itself: oracle_ref must not import the
    production feature closure or the scrub helpers."""
    import ast
    import inspect

    import discoverx_spark.oracle_ref as mod
    tree = ast.parse(inspect.getsource(mod))
    banned = {"make_row_scorer", "make_features_udf", "scrub_string",
              "_compiled", "perplexity_of", "_ids", "make_langid_udf",
              "scrub_pii", "ids_perplexity", "make_lang_classifier"}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            names = {a.name for a in node.names}
            assert not (names & banned), names & banned
        if isinstance(node, ast.Attribute):
            assert node.attr not in banned, node.attr


def test_invalid_utf8_row_gets_a_decision(spark, tmp_path):
    """Spark strings are unvalidated bytes: a text column written as
    binary and read as ``string`` can hold invalid UTF-8, here a lone
    surrogate in its CESU-8 form.  Every row still gets a decision, the
    bad row's features are ``reference_decide``'s on the text decoded
    with U+FFFD replacements, and its ``scrubbed_text`` (no PII) is that
    decoded text, valid UTF-8, not the input's invalid bytes."""
    bad = b"a\xed\xa0\x80b hello the world"
    path = str(tmp_path / "bad_utf8")
    pq.write_table(pa.table({
        "conv_id": ["b0", "b1"], "turn_idx": pa.array([0, 1], pa.int64()),
        "role": ["user", "user"],
        "text": pa.array([bad, b"plain text about the weather"],
                         pa.binary())}), path + ".parquet")
    src = spark.read.schema(
        "conv_id string, turn_idx long, role string, text string") \
        .parquet(path + ".parquet")
    rows = (decide(src)
            .withColumn("scrubbed_text", F.col("scrubbed_text").cast("binary"))
            .orderBy("turn_idx").collect())
    assert [r["conv_id"] for r in rows] == ["b0", "b1"]
    assert rows[0]["scrubbed_text"] == bad.decode("utf-8", "replace").encode()
    want = reference_decide(pd.DataFrame({
        "conv_id": ["b0"], "turn_idx": [0], "role": ["user"],
        "text": [bad.decode("utf-8", errors="replace")]})).iloc[0]
    got = rows[0]
    assert got["lang"] == want["lang"]
    assert got["lang_score"] == want["lang_score"]
    assert got["perplexity"] == want["perplexity"]
    assert got["toxicity_score"] == want["toxicity_score"]
    assert got["keep"] == want["keep"]
    assert ",".join(got["drop_reasons"]) == want["drop_reasons"]
    assert json.dumps(dict(sorted(got["pii_counts"].items())),
                      separators=(",", ":")) == want["pii_counts"]


def test_invalid_utf8_decisions_read_back_with_arrow(spark, tmp_path):
    """Written decisions of a turn with invalid UTF-8 and no PII read
    through pyarrow into pandas: ``scrubbed_text`` holds the decoded
    text, so no Arrow reader meets invalid bytes."""
    bad = b"a\xed\xa0\x80b hello the world"
    src_path = str(tmp_path / "bad_utf8.parquet")
    pq.write_table(pa.table({
        "conv_id": ["b0", "b1"], "turn_idx": pa.array([0, 1], pa.int64()),
        "role": ["user", "user"],
        "text": pa.array([bad, b"mail a@b.com now"], pa.binary())}),
        src_path)
    src = spark.read.schema(
        "conv_id string, turn_idx long, role string, text string") \
        .parquet(src_path)
    out = str(tmp_path / "decisions")
    write_decisions(decide(src), out)
    got = pq.read_table(out).to_pandas().sort_values("turn_idx")
    assert list(got["scrubbed_text"]) == [
        bad.decode("utf-8", "replace"), "mail [REDACTED_EMAIL] now"]
