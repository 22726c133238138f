"""discoverx_spark — a PySpark-native scan-and-classify + quality-filter engine.

A from-scratch rebuild of the capabilities of databrickslabs/discoverx
(reference at /root/reference, snapshot 2025-06-14) re-expressed as
idiomatic DataFrame/Catalyst pipelines, extended into a web-scale
training-data pipeline: language ID, perplexity, PII/toxicity scrub,
keep/drop quality gates, dedup (exact/MinHash-LSH/SimHash/Jaccard/embedding),
similarity search, and resumable partition-level lineage.
"""

from .rules import RegexRule, Rules, GLOBAL_RULES, LOCALIZED_RULES
from .scrub import (SCRUB_RULES, PII_CLASSES, PROFILE_PYTHON, PROFILE_SQL,
                    scrub_string, make_scrub_udf, scrub_text_expr,
                    pii_count_exprs)
from .scanner import (Scanner, ScanResult, TableRegistry, classify_scores,
                      read_parquet, string_columns, SCAN_RESULT_SCHEMA)
from .dx import DX
from .msql import Msql, SQLRow
from .explorer import DataExplorer
from .pipeline import PipelineConfig, annotate, decide, run_pipeline
from .transcripts import generate_transcripts
from .lineage import ResumableRunner, bucket_transcripts, write_bucketed

__all__ = [
    "RegexRule", "Rules", "GLOBAL_RULES", "LOCALIZED_RULES",
    "SCRUB_RULES", "PII_CLASSES", "PROFILE_PYTHON", "PROFILE_SQL",
    "scrub_string", "make_scrub_udf", "scrub_text_expr", "pii_count_exprs",
    "Scanner", "ScanResult", "TableRegistry", "classify_scores",
    "read_parquet", "string_columns", "SCAN_RESULT_SCHEMA",
    "DX", "Msql", "SQLRow", "DataExplorer",
    "PipelineConfig", "annotate", "decide", "run_pipeline",
    "generate_transcripts", "ResumableRunner", "bucket_transcripts",
    "write_bucketed",
]

__version__ = "0.1.0"
