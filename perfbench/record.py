"""Measurement helpers: spans, percentiles, process-tree memory and the
Spark status store readers used by the traced runs."""

from __future__ import annotations

import json
import math
import os
import threading
import time
import uuid
from contextlib import contextmanager

# --------------------------------------------------------------------------
# percentiles


def median(values) -> float:
    v = sorted(values)
    if not v:
        raise ValueError("median of no samples")
    mid = len(v) // 2
    return v[mid] if len(v) % 2 else (v[mid - 1] + v[mid]) / 2


def percentile(values, q: float, min_beyond: int = 10) -> float | None:
    """Linear-interpolated ``q`` quantile (0 < q < 1), or None when fewer
    than ``min_beyond`` samples lie beyond it: a tail figure resting on a
    handful of samples is not reported at all."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return None
    pos = q * (n - 1)
    if n - 1 - math.ceil(pos) < min_beyond:
        return None
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


# --------------------------------------------------------------------------
# spans


class Tracer:
    """In-memory spans (name, start, end, parent span, run id), written
    out once when the run ends. A disabled tracer records nothing and
    costs one attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.cost_s = 0.0  # wall time spent inside the tracer itself
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> int | None:
        st = self._stack()
        return st[-1] if st else None

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Record ``name`` around the block. The parent is the innermost
        open span of this thread unless given (a generator thread or a
        streaming callback thread passes its parent explicitly)."""
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        with self._lock:
            sid = self._next
            self._next += 1
        st = self._stack()
        rec = {"id": sid, "name": name,
               "parent": parent if parent is not None else (
                   st[-1] if st else None),
               "run": self.run_id, "start": time.time(), "end": None}
        if attrs:
            rec.update(attrs)
        st.append(sid)
        self.cost_s += time.perf_counter() - c0
        try:
            yield sid
        finally:
            c1 = time.perf_counter()
            st.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)
            self.cost_s += time.perf_counter() - c1

    def dump(self, path: str, **extra) -> None:
        """Write the spans (by id) and ``extra`` as one JSON object."""
        spans = sorted(self.spans, key=lambda s: s["id"])
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": spans, **extra}, f,
                      default=repr)


# --------------------------------------------------------------------------
# process-tree memory


def proc_table() -> dict[int, tuple[int, str]]:
    """{pid: (parent pid, start time)} of every process, from /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        fields = stat.rsplit(")", 1)[1].split()
        out[int(d)] = (int(fields[1]), fields[19])
    return out


def descendants(root: int, table: dict[int, tuple[int, str]]) -> list[int]:
    """``root`` and every process below it in ``table``."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of a process tree (driver, JVM, Python
    workers), sampled from /proc every ``every_s`` seconds by a
    background thread. Each process counts its proportional set size
    (Pss): the Python workers are forks sharing most of their pages, and
    summing plain RSS would count those pages once per worker."""

    def __init__(self, root_pid: int, every_s: float = 0.25):
        self.root = root_pid
        self.every = every_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = sum(_pss_kb(pid)
                    for pid in descendants(self.root, proc_table()))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.every):
            self.sample()

    def start(self) -> "PeakRss":
        self.sample()
        self._thread.start()
        return self

    def stop_mb(self) -> float:
        """Stop sampling; the peak in MB."""
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak_kb / 1024.0


# --------------------------------------------------------------------------
# Spark status store (reachable over py4j with the UI off)


def jobs_of_group(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def jobs_between(spark, t0: float, t1: float) -> list[int]:
    """Every job submitted between wall times ``t0`` and ``t1``, whatever
    thread or job group launched it."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):  # a Scala Seq
        job = jobs.apply(i)
        sub = job.submissionTime()
        if sub.isDefined() and t0 <= sub.get().getTime() / 1000.0 <= t1:
            out.append(job.jobId())
    return out


def shuffle_write_mb(spark, job_ids) -> float:
    """Shuffle bytes written by the given jobs' stages, from the
    application status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    stages: set[int] = set()
    for jid in job_ids:
        ids = store.job(int(jid)).stageIds()  # a Scala Seq
        stages.update(ids.apply(i) for i in range(ids.size()))
    return sum(store.lastStageAttempt(sid).shuffleWriteBytes()
               for sid in stages) / 2**20
