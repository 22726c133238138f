"""A/A check: two interleaved sets of runs of the same code.

    python3 perfbench/aa.py --runs 10            # every workload
    python3 perfbench/aa.py --runs 5 --workloads decide_resume --traced 1

Runs ``run.py`` ``--runs`` times per set and workload, alternating which set
goes first, each run with its own seed.  For every workload and end-to-end
metric it prints each set's median and quartiles, the spread (interquartile
range over median, from ``statistics.quantiles(values, n=4)``), and how far
set B's median sits from set A's in the metric's worse direction, against
the bound declared in BENCHMARK.json.  ``--traced N`` adds N traced runs per
set and workload and reports the tracing overhead (traced ``trace.run_s``
minus untraced ``run_s``).  The full record goes to
``.perfbench/results/aa-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)], cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n"
                           f"{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main(argv=None) -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workloads", default=",".join(
        w["name"] for w in bench["workloads"]))
    p.add_argument("--seed0", type=int, default=1000)
    p.add_argument("--traced", type=int, default=0)
    args = p.parse_args(argv)
    workloads = args.workloads.split(",")
    seconds = bench["run_seconds"]
    runs = {w: {"A": [], "B": []} for w in workloads}
    traced = {w: {"A": [], "B": []} for w in workloads}
    seed = args.seed0
    for i in range(args.runs):
        for s in ("AB" if i % 2 == 0 else "BA"):
            for w in workloads:
                seed += 1
                t0 = time.time()
                r = run_once(w, seed, seconds, 0)
                r["seed"], r["wall"] = seed, time.time() - t0
                runs[w][s].append(r)
                print(f"run {i} set {s} {w} seed {seed}: "
                      f"{r['metrics']['run_s']['value']:.3f} s run, "
                      f"{r['wall']:.1f} s wall", file=sys.stderr)
                if i < args.traced:
                    seed += 1
                    traced[w][s].append(run_once(w, seed, seconds, 1))
    report = {"runs": runs, "traced": traced, "summary": {}}
    print(f"| workload | metric | bound | A median [q1, q3] | A spread "
          f"| B median [q1, q3] | B spread | B worse by |")
    print("|---|---|---|---|---|---|---|---|")
    for w in workloads:
        for m in bench["end_to_end"]:
            name, sign = m["name"], (1 if m["better"] == "lower" else -1)
            a = spread([r["metrics"][name]["value"] for r in runs[w]["A"]])
            b = spread([r["metrics"][name]["value"] for r in runs[w]["B"]])
            worse = sign * (b["median"] - a["median"]) / a["median"]
            report["summary"][f"{w}/{name}"] = {"A": a, "B": b,
                                                "b_worse_by": worse,
                                                "bound": m["bound"]}
            print(f"| {w} | {name} | {m['bound']} | {a['median']:.4g} "
                  f"[{a['q1']:.4g}, {a['q3']:.4g}] | {a['spread']:.3f} | "
                  f"{b['median']:.4g} [{b['q1']:.4g}, {b['q3']:.4g}] | "
                  f"{b['spread']:.3f} | {worse:+.3f} |")
        for s in "AB":
            share = {r["failed"] / r["attempted"] for r in runs[w][s]}
            print(f"{w} set {s}: failed share {sorted(share)}, "
                  f"correct {all(r['correct'] for r in runs[w][s])}")
        if args.traced:
            plain = statistics.median(
                r["metrics"]["run_s"]["value"]
                for s in "AB" for r in runs[w][s])
            trace_run = statistics.median(
                r["metrics"]["trace.run_s"]["value"]
                for s in "AB" for r in traced[w][s])
            report["summary"][f"{w}/trace_overhead_s"] = trace_run - plain
            print(f"{w}: tracing overhead {trace_run - plain:+.3f} s "
                  f"(traced run_s {trace_run:.3f} vs {plain:.3f})")
    out = ROOT / ".perfbench" / "results" / f"aa-{int(time.time())}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(report, indent=1))
    print(f"record: {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
