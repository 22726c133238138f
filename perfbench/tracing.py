"""Measurement plumbing: process-tree CPU and memory, spans, event log.

Nothing here imports the program under test.  Spans are recorded around
calls into the program's public functions; Spark's own counters are read
from outside the program (the status tracker and the event log).
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Dict, Iterator, List, Optional

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# process tree (driver, JVM, Python workers) from /proc
# ---------------------------------------------------------------------------

def _stat_fields(pid: int) -> Optional[List[str]]:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> List[int]:
    """``root`` and every live descendant."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of the tree: user + system of every live process plus
    what each has reaped from its exited children."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (fields 14-17 of proc(5))
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_bytes(pids: List[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Polls the tree's summed resident memory on a thread and keeps the
    peak since the last :meth:`reset`."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self.root = root
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pids = tree_pids(self.root)
        n = 0
        while not self._stop.wait(self.interval_s):
            n += 1
            if n % 10 == 0:  # workers come and go; re-list now and then
                pids = tree_pids(self.root)
            rss = tree_rss_bytes(pids)
            with self._lock:
                self._peak = max(self._peak, rss)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self) -> None:
        with self._lock:
            self._peak = tree_rss_bytes(tree_pids(self.root))

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / 1e6


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """Spans around calls into the program.  Each span tags the Spark jobs
    it starts, so its job count is read back from the status tracker.
    When tracing is off a span records nothing."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[dict] = []
        self._next = 0
        self.round: Optional[int] = None

    def job_ids(self, tag: str) -> List[int]:
        return list(self.sc._jsc.sc().statusTracker().getJobIdsForTag(tag))

    @contextmanager
    def span(self, name: str) -> Iterator[dict]:
        if not self.enabled:
            yield {}
            return
        self._next += 1
        rec = {"id": self._next, "name": name, "round": self.round,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "tag": f"span-{os.getpid()}-{self._next}"}
        self.sc.addJobTag(rec["tag"])
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.removeJobTag(rec["tag"])
            rec["jobs"] = sorted(self.job_ids(rec["tag"]))
            self.spans.append(rec)

    def durations(self, name: str) -> List[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def median(values: List[float]) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------------
# event log (uncompressed, non-rolling; traced runs only)
# ---------------------------------------------------------------------------

_PLAN_METRICS = {
    "time to run Python workers": "python_worker_ms",
    "data sent to Python workers": "arrow_sent_bytes",
    "data returned from Python workers": "arrow_returned_bytes",
}


def event_log_summary(log_dir: str, tags: List[str]) -> dict:
    """Sum task counters over the jobs carrying any of ``tags``.

    Returns shuffle bytes written, JVM GC time, executor run time, the
    Python-boundary plan metrics, and the largest per-stage skew (max over
    stages of max/median task run time, over stages with at least two
    tasks and 100 ms of summed task time, so trivial stages do not set
    it)."""
    files = [os.path.join(log_dir, n) for n in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    wanted = set(tags)
    stages: set = set()
    run_ms: Dict[int, List[int]] = {}
    out = {"shuffle_write_bytes": 0, "gc_ms": 0, "run_ms": 0,
           "python_worker_ms": 0, "arrow_sent_bytes": 0,
           "arrow_returned_bytes": 0}
    with open(files[0]) as f:
        for line in f:
            if '"SparkListenerJobStart"' in line[:60]:
                e = json.loads(line)
                job_tags = (e.get("Properties") or {}).get("spark.job.tags", "")
                if wanted.intersection(job_tags.split(",")):
                    stages.update(e["Stage IDs"])
            elif '"SparkListenerTaskEnd"' in line[:60]:
                e = json.loads(line)
                if e["Stage ID"] not in stages:
                    continue
                tm = e.get("Task Metrics") or {}
                out["shuffle_write_bytes"] += (
                    tm.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0))
                out["gc_ms"] += tm.get("JVM GC Time", 0)
                out["run_ms"] += tm.get("Executor Run Time", 0)
                run_ms.setdefault(e["Stage ID"], []).append(
                    tm.get("Executor Run Time", 0))
                for acc in e["Task Info"].get("Accumulables", []):
                    key = _PLAN_METRICS.get(acc.get("Name"))
                    if key is not None:
                        out[key] += int(acc.get("Update") or 0)
    skew = 1.0
    for times in run_ms.values():
        med = statistics.median(times)
        if len(times) >= 2 and sum(times) >= 100 and med > 0:
            skew = max(skew, max(times) / med)
    out["stage_skew"] = skew
    return out
