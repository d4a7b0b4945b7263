"""Measurement helpers: order statistics, process-tree memory, Spark stage metrics.

Everything here reads the system from outside the engine: timings come
from the benchmark's own clock, memory from ``/proc``, and Spark task
metrics from the session's monitoring REST API.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
import urllib.request

# Percentiles considered for a tail figure, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def median(values):
    return statistics.median(values) if values else float("nan")


def quartiles(values):
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them."""
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def _rank(p: float, n: int) -> int:
    # rounded first: 99.9 / 100 * 10000 is 9990.000000000002 in binary
    return math.ceil(round(p / 100.0 * n, 9))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, _rank(p, len(s)))
    return s[rank - 1]


def tail_percentile(values, ladder=TAIL_LADDER, min_beyond: int = MIN_BEYOND):
    """The highest percentile of ``ladder`` that has at least ``min_beyond``
    samples beyond it, as ``(p, value)``; ``None`` when no rung qualifies
    (fewer than ``2 * min_beyond`` samples).

    Samples beyond the nearest-rank p-th percentile number
    ``n - ceil(p/100 * n)``.
    """
    n = len(values)
    best = None
    for p in ladder:
        if n - _rank(p, n) >= min_beyond:
            best = (p, percentile(values, p))
    return best


def summary(values) -> dict:
    """Median, quartiles, tail, sample count and the samples themselves
    (in the order taken) of a list of timings."""
    q1, q2, q3 = quartiles(values)
    tail = tail_percentile(values)
    return {"n": len(values), "median": q2, "q1": q1, "q3": q3,
            "tail_p": tail[0] if tail else None,
            "tail": tail[1] if tail else None, "values": list(values)}


# ---------------------------------------------------------------------------
# memory: resident set of a process and all its descendants

def _ppid_map(proc: str) -> dict[int, int]:
    out = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc, name, "stat")) as f:
                stat = f.read()
        except OSError:  # process exited while listing
            continue
        # comm (field 2) may contain spaces and parentheses: split after
        # the last ')'
        fields = stat[stat.rfind(")") + 2:].split()
        out[int(name)] = int(fields[1])
    return out


def _field_kb(path: str, key: str) -> int | None:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def _mem_kb(proc: str, pid: int) -> int:
    """Proportional set size of a process: resident pages, each shared
    page divided by the number of processes mapping it, so forked Python
    workers and a JVM caught mid-fork are not counted twice. Falls back
    to VmRSS where ``smaps_rollup`` is missing."""
    base = os.path.join(proc, str(pid))
    kb = _field_kb(os.path.join(base, "smaps_rollup"), "Pss:")
    if kb is None:
        kb = _field_kb(os.path.join(base, "status"), "VmRSS:")
    return kb or 0  # exited, or a kernel thread


def _comm(proc: str, pid: int) -> str:
    try:
        with open(os.path.join(proc, str(pid), "comm")) as f:
            return f.read().strip()
    except OSError:
        return "?"


def descendants(root_pid: int, proc: str = "/proc") -> set[int]:
    """Every process below ``root_pid`` in the process tree (not
    ``root_pid`` itself)."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map(proc).items():
        children.setdefault(ppid, []).append(pid)
    out, stack = set(), list(children.get(root_pid, ()))
    while stack:
        pid = stack.pop()
        if pid not in out:
            out.add(pid)
            stack.extend(children.get(pid, ()))
    return out


def tree_rss_kb(root_pid: int, proc: str = "/proc", by_comm: dict | None = None) -> int:
    """Resident memory (PSS) summed over ``root_pid`` and every
    descendant process; ``by_comm``, when given, receives the split by
    process name."""
    total = 0
    for pid in {root_pid} | descendants(root_pid, proc):
        kb = _mem_kb(proc, pid)
        total += kb
        if by_comm is not None:
            c = _comm(proc, pid)
            by_comm[c] = by_comm.get(c, 0) + kb
    return total


class PeakRss:
    """Samples the process tree's summed resident memory on a background thread and
    keeps the maximum. The driver JVM and the Python workers are
    descendants of this process, so one tree covers all three."""

    def __init__(self, interval_s: float = 1.0, pid: int | None = None):
        self.interval_s = interval_s
        self.pid = pid or os.getpid()
        self.peak_kb = 0
        self.peak_split: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> int:
        split: dict[str, int] = {}
        kb = tree_rss_kb(self.pid, by_comm=split)
        if kb > self.peak_kb:
            self.peak_kb, self.peak_split = kb, split
        return kb

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def cpu_steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``/proc/stat`` readings."""
    d = [a - b for a, b in zip(after, before)]
    return d[7] / max(sum(d), 1) if len(d) > 7 else 0.0


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


# ---------------------------------------------------------------------------
# Spark task metrics from the session's own monitoring REST API

def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


class SparkStages:
    """Task metrics of the stages a section of the benchmark ran.

    ``mark()`` remembers the highest stage id seen; ``since_mark()``
    sums the stages completed after it. Needs ``spark.ui.enabled``.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/"
                     f"{sc.applicationId}")
        self.mark_id = -1

    def _stages(self):
        return _get_json(f"{self.base}/stages?status=complete")

    def mark(self):
        ids = [s["stageId"] for s in self._stages()]
        self.mark_id = max(ids, default=-1)

    def since_mark(self) -> dict:
        """Tasks run, shuffle bytes written, and the task skew (max over
        median task run time) of the stage with the most task time."""
        # the listener bus records a stage shortly after its job returns
        time.sleep(1.0)
        stages = [s for s in self._stages() if s["stageId"] > self.mark_id]
        tasks = sum(s["numCompleteTasks"] for s in stages)
        shuffle = sum(s.get("shuffleWriteBytes", 0) for s in stages)
        skew = 1.0
        multi = [s for s in stages if s["numCompleteTasks"] >= 2]
        if multi:
            top = max(multi, key=lambda s: s.get("executorRunTime", 0))
            summ = _get_json(
                f"{self.base}/stages/{top['stageId']}/{top['attemptId']}"
                "/taskSummary?quantiles=0.5,1.0")
            med, mx = summ["executorRunTime"]
            skew = mx / max(med, 1.0)
        return {"tasks": tasks, "shuffle_write_bytes": shuffle, "task_skew": skew}
