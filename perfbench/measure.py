"""Measurement primitives, all read from outside the engine: the
process tree's CPU and memory from /proc, order statistics, a span
recorder for the traced mode, and Spark's status store (per-job and
per-stage task metrics, live with the UI disabled)."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------- /proc

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces; fields restart after the closing paren
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and every live descendant (the JVM and its Python
    workers, for a PySpark driver)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU of the tree, including children it has reaped
    (a finished Python worker's time lands in its parent's cutime)."""
    total = 0
    for pid in process_tree(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs: a run
    that lost much of it was measured on a busy host."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def tree_pss_mb(root: int | None = None) -> float:
    """Proportional set size of the tree: shared pages are split
    between their sharers, so a child caught between fork and exec
    (which maps all of the JVM's pages) is not counted as a second
    JVM."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1024


class RssSampler:
    """Peak resident memory (PSS) of the process tree, sampled on a
    thread."""

    def __init__(self, interval_s: float = 1.0) -> None:
        self.peak_mb = 0.0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            self._stop.wait(self._interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_pss_mb())


# ---------------------------------------------------- order statistics

def median(values) -> float:
    return float(statistics.median(values))


def tail(values, min_beyond: int = 10) -> dict | None:
    """The highest percentile with at least ``min_beyond`` samples at or
    beyond it: the ``min_beyond``-th largest value, at percentile
    100·(n−min_beyond)/n. ``None`` until n ≥ 2·min_beyond, below which
    that percentile would not be a tail (it would sit under the
    median)."""
    n = len(values)
    if n < 2 * min_beyond:
        return None
    return {
        "value": float(sorted(values)[n - min_beyond]),
        "percentile": round(100.0 * (n - min_beyond) / n, 2),
        "n": n,
    }


def union_length(intervals) -> float:
    """Total length covered by possibly-overlapping [start, end)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------ spans

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    counters: dict = field(default_factory=dict)


class Tracer:
    """In-memory span tree: workload → pass/trigger → layer call.
    Disabled, it records nothing and every method is a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    def add(self, name, start, end, parent=None, **counters) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            self.spans.append(Span(name, start, end, parent, counters))
            return len(self.spans) - 1

    def open(self, name, parent=None) -> int | None:
        return self.add(name, time.time(), float("nan"), parent)

    def close(self, sid, **counters) -> None:
        if sid is not None:
            self.spans[sid].end = time.time()
            self.count(sid, **counters)

    def count(self, sid, **counters) -> None:
        """Attach counters to span ``sid``."""
        if sid is not None:
            self.spans[sid].counters.update(counters)

    def self_time(self, sid: int) -> float:
        """Wall of span ``sid`` minus the union of its children's walls
        (clipped to the span), so overlapping children — the DLQ write
        running beside the valid write — are not subtracted twice."""
        sp = self.spans[sid]
        kids = [
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in self.spans
            if c.parent == sid
        ]
        return (sp.end - sp.start) - union_length(
            (s, e) for s, e in kids if e > s
        )

    def dump(self, path: str) -> None:
        rows = [
            {
                "id": i, "name": s.name, "start": s.start, "end": s.end,
                "parent": s.parent, "self_s": self.self_time(i),
                **({"counters": s.counters} if s.counters else {}),
            }
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh)


# ----------------------------------------------------- status store

@dataclass
class JobStat:
    job_id: int
    description: str
    start: float  # epoch seconds
    end: float
    stages: int  # stages that ran (skipped ones excluded)
    tasks: int
    executor_cpu_s: float
    shuffle_write_bytes: int
    spill_bytes: int


def status_store_jobs(spark) -> list[JobStat]:
    """Every job the status store retains, with its executed stages'
    task metrics summed."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    conv = jvm.scala.jdk.javaapi.CollectionConverters

    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stages = {}
    for sd in conv.asJava(store.stageList(None, False, False, no_quantiles, None)):
        if sd.status().toString() != "COMPLETE":
            continue
        key = sd.stageId()
        prev = stages.get(key)
        cur = (
            sd.numTasks(),
            sd.executorCpuTime() / 1e9,
            sd.shuffleWriteBytes(),
            sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        )
        stages[key] = cur if prev is None else tuple(
            a + b for a, b in zip(prev, cur)
        )

    def _epoch(opt) -> float:
        return opt.get().getTime() / 1000.0 if opt.isDefined() else float("nan")

    jobs = []
    for jd in conv.asJava(store.jobsList(None)):
        ran = [stages[s] for s in conv.asJava(jd.stageIds()) if s in stages]
        desc = jd.description()
        jobs.append(JobStat(
            job_id=jd.jobId(),
            description=desc.get() if desc.isDefined() else "",
            start=_epoch(jd.submissionTime()),
            end=_epoch(jd.completionTime()),
            stages=len(ran),
            tasks=sum(r[0] for r in ran),
            executor_cpu_s=sum(r[1] for r in ran),
            shuffle_write_bytes=sum(r[2] for r in ran),
            spill_bytes=sum(r[3] for r in ran),
        ))
    return sorted(jobs, key=lambda j: j.job_id)
