"""Measurement helpers: spans, process-tree RSS, host CPU counters,
Spark event-log totals and icelite timing wrappers.

Spans are kept in memory and written out once at exit.  Only the
traced run enables the event log and the icelite wrappers.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


class Spans:
    """In-memory span recorder: (name, start, end, parent), wall-clock
    seconds since the epoch so they line up with Spark's event log."""

    def __init__(self):
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.records), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.records, f)


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, rss_bytes) for every readable process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                rss_pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        out[int(d)] = (ppid, comm, rss_pages * _PAGE)
    return out


def _tree(table: dict) -> list[int]:
    """This process and its descendants, parents first."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _c, _r) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
            todo.extend(children.get(pid, []))
    return out


def descendants() -> list[int]:
    return _tree(_proc_table())[1:]


def tree_rss() -> dict[str, int]:
    """RSS of this process and its descendants, split into the driver
    Python, the JVM and the Python workers (everything else)."""
    table = _proc_table()
    me = os.getpid()
    split = {"driver": 0, "jvm": 0, "workers": 0}
    for pid in _tree(table):
        _pp, comm, rss = table[pid]
        key = "driver" if pid == me else "jvm" if comm == "java" else "workers"
        split[key] += rss
    return split


def jvm_allocated(spark):
    """A callable returning the bytes the JVM's threads, ended ones
    included, have allocated on the heap since it started."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    return mx.getTotalThreadAllocatedBytes


class RssSampler:
    """Samples the process-tree RSS every ``period`` seconds on a
    background thread.  ``take()`` returns the largest summed sample
    since the previous ``take()`` (one op's peak); ``peak_split`` keeps
    each part's largest sample over the whole window."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_split = {"driver": 0, "jvm": 0, "workers": 0}
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def sample(self) -> None:
        split = tree_rss()
        with self._lock:
            self._peak = max(self._peak, sum(split.values()))
            for k, v in split.items():
                self.peak_split[k] = max(self.peak_split[k], v)

    def take(self) -> int:
        self.sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


class CpuWindow:
    """Host steal share and busy fraction over a window, from the
    aggregate line of /proc/stat (user nice system idle iowait irq
    softirq steal)."""

    def __enter__(self) -> "CpuWindow":
        self._t0 = _cpu_jiffies()
        return self

    def __exit__(self, *exc) -> None:
        d = [b - a for a, b in zip(self._t0, _cpu_jiffies())]
        total = max(1, sum(d))
        self.steal_pct = 100.0 * d[7] / total
        self.busy_frac = 1.0 - (d[3] + d[4]) / total


def event_log_totals(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Sum Spark's event-log records that fall inside ``windows``
    (epoch-second intervals, one per timed op).  Jobs and stages are
    attributed by submission time, tasks by finish time.  Call after
    the SparkContext stopped, so the log is complete."""
    ms = [(a * 1000.0, b * 1000.0) for a, b in windows]

    def inside(t) -> bool:
        return t is not None and any(a <= t <= b for a, b in ms)

    tot = {"jobs": 0, "stages": 0, "tasks": 0, "cpu_s": 0.0, "run_s": 0.0,
           "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    for path in glob.glob(os.path.join(log_dir, "**"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tot["jobs"] += inside(ev.get("Submission Time"))
                elif kind == "SparkListenerStageCompleted":
                    tot["stages"] += inside(
                        ev["Stage Info"].get("Submission Time"))
                elif kind == "SparkListenerTaskEnd":
                    if not inside(ev["Task Info"].get("Finish Time")):
                        continue
                    m = ev.get("Task Metrics") or {}
                    tot["tasks"] += 1
                    tot["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    tot["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    tot["shuffle_write_mb"] += (
                        sw.get("Shuffle Bytes Written", 0) / 2**20)
                    spilled = (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
                    tot["spill_mb"] += spilled / 2**20
    return tot


def spark_per_op(totals: dict, n_ops: int) -> dict[str, float]:
    n = max(1, n_ops)
    return {
        "spark.jobs_per_op": totals["jobs"] / n,
        "spark.stages_per_op": totals["stages"] / n,
        "spark.tasks_per_op": totals["tasks"] / n,
        "spark.task_cpu_s_per_op": totals["cpu_s"] / n,
        "spark.task_run_s_per_op": totals["run_s"] / n,
        "spark.gc_s_per_op": totals["gc_s"] / n,
        "spark.shuffle_write_mb_per_op": totals["shuffle_write_mb"] / n,
        "spark.spill_mb_per_op": totals["spill_mb"] / n,
    }


class IceliteTimers:
    """Wraps ``Catalog.commit``, ``stage_write`` and ``load_snapshot``
    with timers for the traced run.  ``stage_write`` runs on several
    driver threads at once, so its total is busy time, not wall."""

    METHODS = ("commit", "stage_write", "load_snapshot")

    def __init__(self):
        self.seconds = {m: 0.0 for m in self.METHODS}
        self._lock = threading.Lock()
        self._orig: dict = {}

    def _wrap(self, name, fn):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                with self._lock:
                    self.seconds[name] += time.perf_counter() - t0
        return timed

    def __enter__(self) -> "IceliteTimers":
        from commentsearchengine_spark.sources.icelite import Catalog

        for m in self.METHODS:
            self._orig[m] = getattr(Catalog, m)
            setattr(Catalog, m, self._wrap(m, self._orig[m]))
        return self

    def __exit__(self, *exc) -> None:
        from commentsearchengine_spark.sources.icelite import Catalog

        for m, fn in self._orig.items():
            setattr(Catalog, m, fn)
