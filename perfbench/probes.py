"""Measurement helpers: statistics, the process-tree RSS sampler, the
span recorder and the Spark job counter. Nothing here imports the
package under test."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(values)
    if len(s) == 1:
        return float(s[0])
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


# -- process-tree memory ------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, command name, rss KiB) for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                rss_pages = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        out[int(name)] = (ppid, comm, rss_pages * _PAGE_KB)
    return out


def tree_rss(root: int | None = None) -> dict:
    """RSS (MB) of the driver Python process, its JVM and the Python
    workers below the JVM, plus the worker count."""
    root = root or os.getpid()
    procs = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _c, _r) in procs.items():
        children.setdefault(ppid, []).append(pid)
    sample = {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0, "other": 0.0,
              "pyworkers": 0}
    stack = [(root, "driver_py")]
    while stack:
        pid, role = stack.pop()
        if pid not in procs:
            continue
        _ppid, comm, rss = procs[pid]
        if role != "driver_py":
            role = ("jvm" if comm == "java" else
                    "pyworker" if comm.startswith("python") else role)
        if role == "pyworker":
            sample["pyworkers"] += 1
        sample[role] += rss / 1024.0
        for child in children.get(pid, ()):
            stack.append((child, "other" if role == "driver_py" else role))
    sample["total"] = (sample["driver_py"] + sample["jvm"]
                       + sample["pyworker"] + sample.pop("other", 0.0))
    return sample


class RssSampler:
    """Samples :func:`tree_rss` every ``interval`` seconds on a daemon
    thread while active."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.samples: list[dict] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            sample = tree_rss()
            sample["t"] = time.perf_counter()
            self.samples.append(sample)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def median(self, key: str, t0: float, t1: float) -> float:
        """Median of ``key`` over the samples taken in [t0, t1] (the
        latest sample when the window is shorter than the interval)."""
        vals = [s[key] for s in self.samples if t0 <= s["t"] <= t1]
        return median(vals or [self.samples[-1][key]])


# -- spans -------------------------------------------------------------------

class Spans:
    """In-memory span recorder (name, start, end, parent, op). Disabled
    instances record nothing and cost one attribute check."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.rows: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    def span(self, name: str, op: int | None = None):
        return _Span(self, name, op)

    def add(self, name: str, start: float, end: float,
            op: int | None = None, parent: int | None = None) -> int:
        """Record an already-measured span (perf_counter seconds)."""
        if not self.enabled:
            return -1
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.rows.append({"id": len(self.rows), "name": name,
                          "start_ms": (start - self._t0) * 1e3,
                          "end_ms": (end - self._t0) * 1e3,
                          "parent": parent, "op": op})
        return len(self.rows) - 1

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total ms and self ms (span minus its
        child spans)."""
        child_ms = [0.0] * len(self.rows)
        for r in self.rows:
            if r["parent"] is not None and r["parent"] >= 0:
                child_ms[r["parent"]] += r["end_ms"] - r["start_ms"]
        table: dict[str, dict] = {}
        for r in self.rows:
            dur = r["end_ms"] - r["start_ms"]
            t = table.setdefault(r["name"], {"count": 0, "total_ms": 0.0,
                                             "self_ms": 0.0})
            t["count"] += 1
            t["total_ms"] += dur
            t["self_ms"] += dur - child_ms[r["id"]]
        return table

    def write(self, out_dir: str, extra_rows: dict) -> None:
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, "spans.jsonl"), "w") as f:
            for r in self.rows:
                f.write(json.dumps(r) + "\n")
        with open(os.path.join(out_dir, "layers.tsv"), "w") as f:
            f.write("span\tcount\ttotal_ms\tself_ms\n")
            for name, t in sorted(self.self_times().items()):
                f.write(f"{name}\t{t['count']}\t{t['total_ms']:.3f}\t"
                        f"{t['self_ms']:.3f}\n")
            f.write("\nmetric\tvalue\n")
            for name, value in sorted(extra_rows.items()):
                f.write(f"{name}\t{value}\n")


class _Span:
    def __init__(self, spans: Spans, name: str, op: int | None):
        self.spans, self.name, self.op = spans, name, op

    def __enter__(self):
        self.start = time.perf_counter()
        if self.spans.enabled:
            self.id = self.spans.add(self.name, self.start, self.start,
                                     self.op)
            self.spans._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        if self.spans.enabled:
            self.spans._stack.pop()
            self.spans.rows[self.id]["end_ms"] = \
                (self.end - self.spans._t0) * 1e3

    @property
    def seconds(self) -> float:
        return self.end - self.start


def job_counter(spark):
    """Callable returning the number of Spark jobs submitted so far in
    this application (the DAG scheduler's next job id), read from
    outside the package."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return dag.nextJobId
