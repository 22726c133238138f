"""The benchmark workloads.

Each workload makes its inputs in :meth:`Workload.setup` (repeated, so the
set-up time is a median), runs whole rounds of the same operations in
:meth:`Workload.round`, and checks every round's outputs in
:meth:`Workload.check` with ``checks.py``.  Spans wrap the calls into the
program's public functions; they cost nothing when tracing is off.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import time
import traceback
from typing import Callable, Dict, List

import pandas as pd
import pyarrow.parquet as pq

import checks
import inputs
from tracing import Tracer, median

MIN_SCORE = 0.95  # DX's default class threshold


def _files(path: str) -> List[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"),
                            recursive=True))


def _read(path: str, columns=None) -> pd.DataFrame:
    """A Spark-written parquet directory, read with pyarrow."""
    return pd.concat([pq.read_table(f, columns=columns).to_pandas()
                      for f in _files(path)], ignore_index=True)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def median_time(fn: Callable[[], None], reps: int = 3) -> float:
    """Median wall time of ``reps`` calls."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times)


class Workload:
    name = ""
    ops: tuple = ()

    def __init__(self, spark, seed: int, slots: int, work: str,
                 tracer: Tracer):
        self.spark = spark
        self.seed = seed
        self.slots = slots
        self.work = work
        self.tracer = tracer
        self.out = os.path.join(work, "out")
        self.failures: Dict[str, str] = {}
        self.op_times: Dict[str, float] = {}
        self.setup_times: List[float] = []

    # -- hooks -------------------------------------------------------------
    def setup(self) -> None:
        """Make the inputs (overwriting the previous set-up's)."""

    def prepare(self) -> None:
        """Untimed: what the checks need, read once after set-up."""

    def body(self) -> None:
        """The operations of one round, each through :meth:`op`."""

    def check(self) -> Dict[str, List[str]]:
        """Errors per operation for the round just run."""
        return {}

    def rows(self) -> int:
        raise NotImplementedError

    def output_paths(self) -> List[str]:
        return [self.out]

    def layer_metrics(self) -> Dict[str, float]:
        """Traced run only: per-layer metrics from spans and probes."""
        return {}

    # -- shared ------------------------------------------------------------
    def timed_setup(self) -> None:
        t0 = time.perf_counter()
        self.setup()
        self.setup_times.append(time.perf_counter() - t0)

    def reset_round(self) -> None:
        self.failures, self.op_times = {}, {}
        for p in self.output_paths():
            shutil.rmtree(p, ignore_errors=True)

    def op(self, name: str, fn: Callable[[], None]) -> None:
        t0 = time.perf_counter()
        try:
            fn()
        except Exception as e:  # an operation that raises counts as failed
            traceback.print_exc()
            self.failures[name] = repr(e)[:300]
        self.op_times[name] = time.perf_counter() - t0

    def round(self) -> None:
        self.reset_round()
        self.body()

    def span(self, name: str):
        return self.tracer.span(name)

    def round_spans(self, name: str) -> List[dict]:
        return [s for s in self.tracer.spans
                if s["name"] == name and s["round"] is not None]

    def span_median(self, name: str) -> float:
        return median([s["end"] - s["start"] for s in self.round_spans(name)])

    def span_jobs(self, name: str) -> float:
        return median([len(s["jobs"]) for s in self.round_spans(name)])


# ---------------------------------------------------------------------------
# decide_resume: the fused Arrow UDF, the ordered writer, the resumable runner
# ---------------------------------------------------------------------------

def _sample_convs(conv_ids, k: int, seed: int) -> set:
    convs = sorted(set(conv_ids))
    return set(random.Random(seed).sample(convs, min(k, len(convs))))


class DecideResume(Workload):
    """The transcripts pipeline: ``decide`` + ``write_decisions`` over a
    bucketed transcripts table (the fused Arrow UDF does nearly all the
    work), then ``ResumableRunner`` over two of its partitions -- the first
    run takes one (``partitions=``), the second skips it and completes the
    other (per-partition jobs and lineage writes dominate)."""

    name = "decide_resume"
    ops = ("decide_write", "run_first", "run_resume")
    N_CONVS = 4000          # about 31k turns in the generator's default mix
    BUCKETS = 8             # about 4k turns per partition
    RESUME_PARTS = 2
    SAMPLE_CONVS = 40       # conversations re-decided by oracle_ref
    SCORER_SAMPLE = 2000    # turns for the single-core scorer probe

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.inp = os.path.join(self.work, "in")
        self.decisions = os.path.join(self.out, "decisions")
        self.resumed = os.path.join(self.out, "resumed")
        self.state = os.path.join(self.work, "state")

    def setup(self) -> None:
        from discoverx_spark.lineage import write_bucketed
        from discoverx_spark.transcripts import generate_transcripts
        with self.span("transcripts.generate"):
            write_bucketed(generate_transcripts(
                self.spark, self.N_CONVS, seed=self.seed,
                num_partitions=self.slots), self.inp, n_buckets=self.BUCKETS)

    def prepare(self) -> None:
        from discoverx_spark.oracle_ref import reference_decide

        parts = sorted((n.split("=", 1)[1] for n in os.listdir(self.inp)
                        if n.startswith("part_id=")), key=int)
        cols = ["conv_id", "turn_idx", "role", "text"]
        by_part = {p: _read(os.path.join(self.inp, f"part_id={p}"), cols)
                   for p in parts}
        self.turns = pd.concat(by_part.values(), ignore_index=True)
        self.resume_parts = parts[:self.RESUME_PARTS]
        self.resume_turns = pd.concat(
            [by_part[p] for p in self.resume_parts], ignore_index=True)
        self.part_rows = {p: len(by_part[p]) for p in self.resume_parts}
        keep = _sample_convs(self.turns["conv_id"], self.SAMPLE_CONVS,
                             self.seed)
        self.expected = reference_decide(
            self.turns[self.turns["conv_id"].isin(keep)])
        self.expected_resumed = self.expected[self.expected["conv_id"].isin(
            set(self.resume_turns["conv_id"]))]

    def rows(self) -> int:
        return len(self.turns) + len(self.resume_turns)

    def output_paths(self) -> List[str]:
        return [self.out, self.state]

    def body(self) -> None:
        from discoverx_spark.lineage import ResumableRunner
        from discoverx_spark.pipeline import decide, write_decisions

        def decide_write():
            with self.span("pipeline.write_decisions"):
                write_decisions(decide(self.spark.read.parquet(self.inp)),
                                self.decisions)

        runner = ResumableRunner(self.spark, self.state)
        self.reports = {}

        def first():
            with self.span("lineage.run"):
                self.reports["run_first"] = runner.run(
                    self.inp, self.resumed, partitions=self.resume_parts[:1])

        def resume():
            with self.span("lineage.resume"):
                self.reports["run_resume"] = runner.run(
                    self.inp, self.resumed, partitions=self.resume_parts)

        self.op("decide_write", decide_write)
        self.op("run_first", first)
        self.op("run_resume", resume)

    def check(self) -> Dict[str, List[str]]:
        inp = ["conv_id", "turn_idx", "text"]
        errs = {"decide_write": checks.decisions_errors(
            self.turns[inp],
            [pq.read_table(f).to_pandas() for f in _files(self.decisions)],
            self.expected), "run_first": [], "run_resume": []}
        first, rest = self.resume_parts[:1], self.resume_parts[1:]
        r1, r2 = self.reports.get("run_first"), self.reports.get("run_resume")
        if r1 is None or r1.failed or r1.processed != first:
            errs["run_first"].append(f"first run report {r1}")
        if (r2 is None or r2.failed or r2.processed != rest
                or r2.skipped != first):
            errs["run_resume"].append(f"resume run report {r2}")
        files, recount = [], {}
        for p in self.resume_parts:
            part = [pq.read_table(f).to_pandas() for f in
                    _files(os.path.join(self.resumed, f"part_id={p}"))]
            files += part
            recount[p] = (sum(len(f) for f in part),
                          int(sum(f["keep"].sum() for f in part)))
            if recount[p][0] != self.part_rows[p]:
                errs["run_resume"].append(
                    f"partition {p}: {recount[p][0]} decisions for "
                    f"{self.part_rows[p]} input turns")
        errs["run_resume"] += checks.lineage_errors(
            _read(os.path.join(self.state, "lineage")), self.resume_parts,
            recount)
        errs["run_resume"] += checks.decisions_errors(
            self.resume_turns[inp], files, self.expected_resumed)
        return errs

    def layer_metrics(self) -> Dict[str, float]:
        from discoverx_spark.lineage import ResumableRunner
        from discoverx_spark.pipeline import (decide, make_row_scorer,
                                              write_decisions)
        from discoverx_spark.scrub import scrub_string

        src = self.spark.read.parquet(self.inp)
        with self.span("pipeline.decide"):
            decide_s = median_time(lambda: decide(src).write.format("noop")
                                   .mode("overwrite").save())
        probe = os.path.join(self.work, "probe")
        with self.span("pipeline.write_decisions.probe"):
            write_s = median_time(lambda: write_decisions(decide(src), probe))
        shutil.rmtree(probe, ignore_errors=True)
        runner = ResumableRunner(self.spark, self.state)
        with self.span("lineage.completed_partitions"):
            completed_s = median_time(runner.completed_partitions)
        texts = (self.turns["text"].sample(
            n=min(self.SCORER_SAMPLE, len(self.turns)),
            random_state=self.seed).tolist())
        scorer = make_row_scorer()

        def score():
            for t in texts:
                scorer(t)

        def scrub():
            for t in texts:
                scrub_string(t)

        runs = self.round_spans("lineage.run") + self.round_spans(
            "lineage.resume")
        # each round processes every resume partition exactly once
        n = len(self.resume_parts) * max(1, len(self.round_spans("lineage.run")))
        return {
            "pipeline.decide_s": decide_s,
            # what sorting and writing add to computing the decisions
            "pipeline.write_s": write_s - decide_s,
            "pipeline.scorer_us_per_row": median_time(score) / len(texts) * 1e6,
            "scrub.python_us_per_row": median_time(scrub) / len(texts) * 1e6,
            "lineage.partition_s": sum(s["end"] - s["start"] for s in runs) / n,
            "lineage.jobs_per_partition": sum(len(s["jobs"]) for s in runs) / n,
            "lineage.resume_s": self.span_median("lineage.resume"),
            "lineage.completed_partitions_s": completed_s,
        }


# ---------------------------------------------------------------------------
# classify_act: the DiscoverX scan and the class-driven actions
# ---------------------------------------------------------------------------

class ClassifyAct(Workload):
    name = "classify_act"
    ops = ("scan", "save_new", "save_merge", "select", "scrub",
           "delete_whatif", "scrub_text")
    N_ROWS = 2000           # per table; under DX's default sample size
    SCRUB_SAMPLE = 300

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.tables = os.path.join(self.work, "tables")
        self.state = os.path.join(self.work, "state")

    def _path(self, name: str) -> str:
        return os.path.join(self.tables, name)

    def setup(self) -> None:
        for name, df in inputs.classify_frames(self.spark, self.N_ROWS,
                                               self.seed).items():
            df.write.mode("overwrite").parquet(self._path(name))

    def prepare(self) -> None:
        from discoverx_spark.dx import DX
        from discoverx_spark.scrub import SCRUB_RULES

        self.dx = DX(self.spark, locale="us")
        rule_names = [r.name for r in self.dx.rules.get_rules("*")]
        self.expected_keys = set()
        for name in inputs.CLASSIFY_TABLES:
            self.dx.register_parquet(name, self._path(name))
            schema = pq.read_schema(_files(self._path(name))[0])
            strings = [f.name for f in schema if str(f.type) == "string"]
            self.expected_keys |= {(*name.split("."), c, r)
                                   for c in strings for r in rule_names}
        self.whatif_values = inputs.whatif_values(self.seed)
        self.whatif_expected = inputs.whatif_expected(self.N_ROWS, self.seed)
        self.scrub_rules = [(r.sql_pattern, r.token) for r in SCRUB_RULES]
        table, col = inputs.FREE_TEXT
        notes = _read(self._path(table), ["id", col])
        self.notes = notes.sample(n=self.SCRUB_SAMPLE,
                                  random_state=self.seed)

    def rows(self) -> int:
        return self.N_ROWS * len(inputs.CLASSIFY_TABLES)

    def output_paths(self) -> List[str]:
        return [self.out, self.state]

    def body(self) -> None:
        from pyspark.sql import functions as F

        from discoverx_spark.scrub import scrub_text_expr

        dx = self.dx
        self.result = {}

        def scan():
            with self.span("scanner.scan"):
                self.result["scan"] = dx.scan().df.collect()

        def save():
            with self.span("scanner.save"):
                dx.save(self.state)

        def select():
            with self.span("msql.select"):
                (dx.select_by_classes(by_classes=["email", "ip_v4"])
                 .write.format("noop").mode("overwrite").save())

        def scrub():
            with self.span("msql.scrub"):
                for name, df in dx.scrub_by_classes().items():
                    df.write.mode("overwrite").parquet(
                        os.path.join(self.out, "scrubbed", name))

        def delete_whatif():
            with self.span("msql.delete_whatif"):
                summary, _plans = dx.delete_by_class(
                    "*.*.*", inputs.WHATIF_CLASS, self.whatif_values)
                self.result["whatif"] = summary.collect()

        def scrub_text():
            table, col = inputs.FREE_TEXT
            with self.span("scrub.sql_expr"):
                (dx.registry.get(table)
                 .select("id", scrub_text_expr(F.col(col)).alias("scrubbed"))
                 .write.mode("overwrite")
                 .parquet(os.path.join(self.out, "scrub_text")))

        self.op("scan", scan)
        self.op("save_new", save)
        self.op("save_merge", save)
        self.op("select", select)
        self.op("scrub", scrub)
        self.op("delete_whatif", delete_whatif)
        self.op("scrub_text", scrub_text)

    def check(self) -> Dict[str, List[str]]:
        r = self.result
        errs: Dict[str, List[str]] = {}
        found = [(x["table_catalog"], x["table_schema"], x["table_name"],
                  x["column_name"], x["class_name"]) for x in r.get("scan", [])
                 if x["score"] is not None and x["score"] >= MIN_SCORE]
        errs["scan"] = checks.classes_errors(found, inputs.SEEDED_CLASSES)
        errs["save_merge"] = checks.state_errors(_read(self.state),
                                                 self.expected_keys)
        errs["scrub"] = []
        for name in inputs.CLASSIFY_TABLES:
            cat, sch, tbl = name.split(".")
            classified = {c: k for (a, b, t, c, k) in inputs.SEEDED_CLASSES
                          if (a, b, t) == (cat, sch, tbl)}
            path = os.path.join(self.out, "scrubbed", name)
            if not _files(path):
                errs["scrub"].append(f"{name}: no scrubbed output")
                continue
            errs["scrub"] += checks.scrubbed_errors(name, _read(path),
                                                    classified)
        errs["delete_whatif"] = checks.whatif_errors(
            [(x["table"], x["column"], x["num_deleted"])
             for x in r.get("whatif", [])], self.whatif_expected)
        out = _read(os.path.join(self.out, "scrub_text"))
        pairs = self.notes.merge(out, on="id")
        col = inputs.FREE_TEXT[1]
        errs["scrub_text"] = checks.scrub_text_errors(
            zip(pairs[col], pairs["scrubbed"]), self.scrub_rules)
        if len(pairs) != len(self.notes):
            errs["scrub_text"].append("scrub_text output lost rows")
        return errs

    def layer_metrics(self) -> Dict[str, float]:
        msql = ("msql.select", "msql.scrub", "msql.delete_whatif")
        with self.span("scanner.get_classes"):
            get_classes_s = median_time(
                lambda: self.dx.scan_result.get_classes(MIN_SCORE))
        return {
            "scanner.scan_s": self.span_median("scanner.scan"),
            "scanner.scan_jobs": self.span_jobs("scanner.scan"),
            "scanner.get_classes_s": get_classes_s,
            "scanner.save_s": self.span_median("scanner.save"),
            "msql.select_s": self.span_median("msql.select"),
            "msql.scrub_s": self.span_median("msql.scrub"),
            "msql.delete_whatif_s": self.span_median("msql.delete_whatif"),
            "msql.jobs": sum(self.span_jobs(n) for n in msql),
            "scrub.sql_expr_s": self.span_median("scrub.sql_expr"),
        }


# ---------------------------------------------------------------------------
# curate_documents: named queries of the operator suite
# ---------------------------------------------------------------------------

CURATE_QUERIES = ("dedup_stack_documents", "stupid_backoff_documents")
# the Stupid Backoff oracle takes about 11 s at 1,000 documents here, so that
# query is checked by a property of its output instead
ORACLE_CHECKED = ("dedup_stack_documents",)


class CurateDocuments(Workload):
    name = "curate_documents"
    ops = CURATE_QUERIES
    N_DOCS = 1000

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.docs = os.path.join(self.work, "docs")

    def setup(self) -> None:
        os.makedirs(self.docs, exist_ok=True)
        inputs.write_documents(os.path.join(self.docs, "documents.parquet"),
                               self.N_DOCS, self.seed)

    def prepare(self) -> None:
        import duckdb

        from discoverx_spark.queries import QUERIES

        self.fns = {q: QUERIES[q][0] for q in CURATE_QUERIES}
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"'{os.path.join(self.docs, 'documents.parquet')}'")
            self.oracle = {}
            for q in ORACLE_CHECKED:
                res = con.execute(QUERIES[q][1])
                self.oracle[q] = ([d[0] for d in res.description],
                                  res.fetchall())
        finally:
            con.close()

    def rows(self) -> int:
        return self.N_DOCS

    def body(self) -> None:
        for q in CURATE_QUERIES:
            def run(q=q):
                with self.span(f"queries.{q}"):
                    (self.fns[q](self.spark, self.docs).write
                     .mode("overwrite").parquet(os.path.join(self.out, q)))
            self.op(q, run)

    def check(self) -> Dict[str, List[str]]:
        errs = {}
        for q in CURATE_QUERIES:
            path = os.path.join(self.out, q)
            if not _files(path):
                errs[q] = [f"{q}: no output"]
                continue
            df = _read(path)
            if q in ORACLE_CHECKED:
                cols, want = self.oracle[q]
                errs[q] = checks.rows_errors(
                    q, list(df.columns),
                    list(df.itertuples(index=False, name=None)), cols, want)
            else:
                errs[q] = checks.lm_score_errors(q, df, "sb_ppl",
                                                 set(range(self.N_DOCS)))
        return errs

    def layer_metrics(self) -> Dict[str, float]:
        out = {}
        for q in CURATE_QUERIES:
            out[f"queries.{q}.s"] = self.span_median(f"queries.{q}")
            out[f"queries.{q}.jobs"] = self.span_jobs(f"queries.{q}")
        return out


class ClassifyCurate(Workload):
    """The JVM-only paths, with no Python UDF: the DiscoverX scan and its
    class-driven actions, then the curation queries."""

    name = "classify_curate"
    parts = (ClassifyAct, CurateDocuments)
    ops = ClassifyAct.ops + CurateDocuments.ops

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.members = [cls(*a, **kw) for cls in self.parts]
        for m in self.members:
            m.out = os.path.join(self.out, m.name)

    def setup(self) -> None:
        for m in self.members:
            m.setup()

    def prepare(self) -> None:
        for m in self.members:
            m.prepare()

    def round(self) -> None:
        self.reset_round()
        for m in self.members:
            m.failures, m.op_times = {}, {}
            m.body()
            self.failures.update(m.failures)
            self.op_times.update(m.op_times)

    def check(self) -> Dict[str, List[str]]:
        errs: Dict[str, List[str]] = {}
        for m in self.members:
            errs.update(m.check())
        return errs

    def rows(self) -> int:
        return sum(m.rows() for m in self.members)

    def output_paths(self) -> List[str]:
        return [p for m in self.members for p in m.output_paths()]

    def layer_metrics(self) -> Dict[str, float]:
        out: Dict[str, float] = {}
        for m in self.members:
            out.update(m.layer_metrics())
        return out


WORKLOADS = {w.name: w for w in (DecideResume, ClassifyCurate)}
