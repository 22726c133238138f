"""The independent reference implementation (oracle_ref.reference_decide)
must agree byte-for-byte with the production Spark ``decide()`` (the fused
Arrow UDF plus the JVM keep/drop gates) — over the full flagship input AND
adversarial edge strings.  A disagreement here means a real divergence the
flagship oracle would then adjudicate."""

import pandas as pd
from pyspark.sql import functions as F

from discoverx_spark.oracle_ref import reference_decide
from discoverx_spark.pipeline import DECISION_COLUMNS, decide
from discoverx_spark.transcripts import generate_transcripts_pandas

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


def spark_decide(spark, turns: pd.DataFrame) -> pd.DataFrame:
    """Spark ``decide()`` in the flagship query's canonical form
    (q_transcripts_pipeline): pii_counts as sorted-key JSON, drop_reasons
    joined with ','; rows in input order."""
    src = spark.createDataFrame(
        turns[["conv_id", "turn_idx", "role", "text"]],
        "conv_id string, turn_idx long, role string, text string")
    d = decide(src).select(
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
