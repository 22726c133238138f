"""transcript-qc benchmark: one workload, one Spark session, one JSON line.

    python3 perfbench/run.py --workload decide_resume --seed 1 --seconds 10 --trace 0

Run from anywhere inside a checkout of the repository; the package is taken
from the directory above this one.  The run sets up (session start, Python
worker warm-up, then the workload's inputs three times), then runs whole
rounds of the workload's operations until ``--seconds`` have passed, checking
every round's outputs.  The first round is a cold pass, as a batch job in a
fresh session runs; with ``--seconds`` shorter than a round it is the only
one.  The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``.  Scratch data lives under ``.perfbench/`` in the
checkout and is removed at exit; results and spans stay in
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3


def host_shape() -> dict:
    affinity = sorted(os.sched_getaffinity(0))
    return {"nproc": os.cpu_count(), "affinity": affinity,
            "slots": len(affinity)}


def declared_metrics(kind: str) -> list:
    with open(HERE.parent / "BENCHMARK.json") as f:
        return json.load(f)[kind]


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: Path, slots: int, trace: bool):
    from pyspark.sql import SparkSession

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    b = (SparkSession.builder.master(f"local[{slots}]")
         .appName("perfbench")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.driver.memory", "1g")
         .config("spark.sql.shuffle.partitions", str(2 * slots))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.local.dir", str(work / "local"))
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"))
    if trace:
        log_dir = work / "eventlog"
        log_dir.mkdir(parents=True, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", str(log_dir))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait for it (its Python workers exit
    with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def warm_workers(spark, slots: int) -> None:
    """Start a Python worker on every slot."""
    (spark.range(slots, numPartitions=slots)
     .mapInPandas(lambda it: it, "id long").collect())


def run_round(wl, tracer, sc, index: int, pid: int) -> dict:
    from tracing import tree_cpu_s
    from workloads import dir_bytes

    tracer.round = index
    tag = f"bench-round-{pid}-{index}"
    sc.addJobTag(tag)
    cpu0 = tree_cpu_s(pid)
    t0 = time.perf_counter()
    try:
        wl.round()
    finally:
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(pid) - cpu0
        sc.removeJobTag(tag)
    try:
        errors = wl.check()
    except Exception as e:  # a check that cannot read the outputs fails all
        errors = {op: [f"check raised {e!r}"[:300]] for op in wl.ops}
    failed = set(wl.failures) | {op for op, errs in errors.items() if errs}
    bad_checks = {op: errs for op, errs in errors.items() if errs}
    return {"round": index, "tag": tag, "wall_s": wall, "cpu_s": cpu,
            "jobs": len(tracer.job_ids(tag)),
            "output_bytes": sum(dir_bytes(p) for p in wl.output_paths()),
            "op_s": dict(wl.op_times),
            "failed_ops": sorted(failed), "raised": dict(wl.failures),
            "check_errors": bad_checks}


def main(argv=None) -> int:
    sys.path.insert(0, str(HERE))
    args = parse_args(argv)
    if not (ROOT / "discoverx_spark" / "__init__.py").is_file():
        print(f"perfbench: no discoverx_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    shape = host_shape()
    base = ROOT / ".perfbench"
    work = base / f"work-{args.workload}-{os.getpid()}"
    results = base / "results"
    results.mkdir(parents=True, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # Python workers are started by the JVM and inherit its environment:
    # PYTHONPATH, not a sys.path insert, makes the package importable there
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(work / "tmp")
    # it would override spark.local.dir and put shuffle files outside
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    sys.path.insert(0, str(ROOT))

    try:
        return run(args, shape, work, results)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, shape: dict, work: Path, results: Path) -> int:
    """Set up, measure and check one workload; print the result line."""
    from tracing import RssSampler, Tracer, event_log_summary, median
    from workloads import WORKLOADS

    slots = shape["slots"]
    pid = os.getpid()

    t0 = time.perf_counter()
    import discoverx_spark  # noqa: F401  (import cost is part of set-up)
    spark = start_session(work, slots, bool(args.trace))
    try:
        warm_workers(spark, slots)
        once_s = time.perf_counter() - t0
        sc = spark.sparkContext
        tracer = Tracer(sc, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, args.seed, slots, str(work),
                                      tracer)
        for _ in range(SETUP_REPS):
            wl.timed_setup()
        setup_s = once_s + median(wl.setup_times)
        wl.prepare()

        rounds = []
        with RssSampler(pid) as rss:
            rss.reset()
            start = time.perf_counter()
            while True:
                rounds.append(run_round(wl, tracer, sc, len(rounds), pid))
                if time.perf_counter() - start >= args.seconds:
                    break
            peak_mb = rss.peak_mb()
        run_s = median([r["wall_s"] for r in rounds])
        layer = wl.layer_metrics() if args.trace else {}
    finally:
        stop_session(spark)

    attempted = len(rounds) * len(wl.ops)
    failed = sum(len(r["failed_ops"]) for r in rounds)
    correct = not any(r["check_errors"] for r in rounds)
    e2e = {
        "setup_s": setup_s,
        "run_s": run_s,
        "rows_per_s": wl.rows() / run_s,
        "cpu_s": median([r["cpu_s"] for r in rounds]),
        "peak_rss_mb": peak_mb,
        "spark_jobs": median([r["jobs"] for r in rounds]),
        "output_mb": median([r["output_bytes"] for r in rounds]) / 1e6,
    }
    if args.trace:
        ev = event_log_summary(str(work / "eventlog"),
                               [r["tag"] for r in rounds])
        n = len(rounds)
        layer.update({
            "transcripts.generate_s": median(
                tracer.durations("transcripts.generate")),
            "pipeline.python_worker_s": ev["python_worker_ms"] / n / 1e3,
            "pipeline.arrow_sent_mb": ev["arrow_sent_bytes"] / n / 1e6,
            "pipeline.arrow_returned_mb": ev["arrow_returned_bytes"] / n / 1e6,
            "spark.shuffle_write_mb": ev["shuffle_write_bytes"] / n / 1e6,
            "spark.stage_skew": ev["stage_skew"],
            "spark.slot_busy_frac": ev["run_ms"] / 1e3
            / (sum(r["wall_s"] for r in rounds) * slots),
            "spark.gc_s": ev["gc_ms"] / n / 1e3,
            "spark.session_start_s": once_s,
            "trace.run_s": run_s,
        })
        declared = declared_metrics("per_layer")
        values = {m["name"]: float(layer.get(m["name"], 0.0))
                  for m in declared}
        tracer.write(str(results / f"{args.workload}-seed{args.seed}-spans.jsonl"))
    else:
        declared = declared_metrics("end_to_end")
        values = {m["name"]: float(e2e[m["name"]]) for m in declared}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared}
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "host": shape,
              "setup_times_s": wl.setup_times, "once_s": once_s,
              "rounds": rounds, "end_to_end": e2e, "per_layer": layer}
    with open(results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json",
              "w") as f:
        json.dump(record, f, indent=1)
    for r in rounds:
        for op, errs in r["check_errors"].items():
            print(f"check failed: round {r['round']} {op}: {errs}",
                  file=sys.stderr)
    print(f"host: nproc={shape['nproc']} affinity={shape['affinity']} "
          f"slots={slots} rounds={len(rounds)}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0



if __name__ == "__main__":
    sys.exit(main())
