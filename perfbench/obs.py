"""Observation helpers: Spark stage metrics, process RSS, host witness.

None of these touch the timed code paths.  Stage metrics are read from the
driver's status store after the fact (the Spark UI, and with it the REST API,
is off in the package's default session); RSS is sampled from ``/proc`` by a
background thread.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

import numpy as np


def summary(values: list[float]) -> dict:
    """Median, quartiles (as statistics.quantiles gives them) and count."""
    vals = [float(v) for v in values]
    med = statistics.median(vals)
    if len(vals) >= 2:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    else:
        q1 = q3 = med
    return {"median": med, "q1": q1, "q3": q3, "n": len(vals),
            "samples": vals}


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


# -- stage metrics ------------------------------------------------------------

_STAGE_FIELDS = ("numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
                 "inputBytes", "inputRecords", "shuffleWriteBytes", "shuffleReadBytes",
                 "memoryBytesSpilled", "diskBytesSpilled")


class StageLedger:
    """Reads job and stage metrics from the driver's AppStatusStore."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters

    def _jobs(self):
        return list(self._conv.asJava(self._store.jobsList(None)))

    def max_job_id(self) -> int:
        return max((j.jobId() for j in self._jobs()), default=-1)

    def collect(self, after_job: int = -1, group: str | None = None) -> dict:
        """Sum stage metrics over jobs with id > `after_job` and, if `group`
        is given, that job group; the task skew is taken only then.
        Skipped stages count for nothing."""
        jobs, stage_ids = 0, set()
        for j in self._jobs():
            if j.jobId() <= after_job:
                continue
            g = j.jobGroup()
            if group and not (g.isDefined() and g.get() == group):
                continue
            jobs += 1
            stage_ids.update(int(s) for s in self._conv.asJava(j.stageIds()))
        tot = dict.fromkeys(_STAGE_FIELDS, 0)
        stages, skews, records = 0, [], []
        for sid in sorted(stage_ids):
            s = self._store.lastStageAttempt(sid)
            if s.status().toString() != "COMPLETE":
                continue
            stages += 1
            for f in _STAGE_FIELDS:
                tot[f] += int(getattr(s, f)())
            records.append(int(s.inputRecords()))
            if group and s.numTasks() > 1:
                skews.append(self._task_skew(sid, s.attemptId()))
        return {
            "jobs": jobs, "stages": stages, "tasks": tot["numTasks"],
            "executor_run_s": tot["executorRunTime"] / 1e3,
            "executor_cpu_s": tot["executorCpuTime"] / 1e9,
            "gc_s": tot["jvmGcTime"] / 1e3,
            "input_bytes": tot["inputBytes"],
            "input_records": tot["inputRecords"],
            "shuffle_write_bytes": tot["shuffleWriteBytes"],
            "shuffle_read_bytes": tot["shuffleReadBytes"],
            "spill_bytes": tot["memoryBytesSpilled"] + tot["diskBytesSpilled"],
            "task_skew": max(skews, default=1.0),
            "stage_input_records": records,
        }

    def _task_skew(self, sid: int, attempt: int) -> float:
        """max / median task run time of one stage."""
        q = self._gw.new_array(self._gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        d = self._store.taskSummary(sid, attempt, q)
        if not d.isDefined():
            return 1.0
        med, mx = list(self._conv.asJava(d.get().executorRunTime()))
        return mx / med if med > 0 else 1.0


# -- process memory -----------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def descendants(root: int) -> list[int]:
    """Every living or zombie process below `root`."""
    return _tree(root)[1:]


def tree_rss_mb(root: int) -> tuple[float, float]:
    """RSS of `root` (the JVM) and combined RSS of all its descendants (the
    Python worker daemon and its workers), in MB."""
    own = workers = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if pid == root:
            own = pages
        else:
            workers += pages
    return own * _PAGE / 2**20, workers * _PAGE / 2**20


_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) used so far by
    `root` and its descendants."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TCK


class RssSampler:
    """Samples `tree_rss_mb(pid)` every `interval` seconds while active;
    `peak()` returns the maximum combined RSS since the last `reset()`, and
    `peak_workers()` the maximum of the Python workers' share alone."""

    def __init__(self, pid: int, interval: float = 0.25):
        self.pid = pid
        self.interval = interval
        self._peak = self._peak_workers = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _sample(self) -> None:
        own, workers = tree_rss_mb(self.pid)
        self._peak = max(self._peak, own + workers)
        self._peak_workers = max(self._peak_workers, workers)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def reset(self) -> None:
        self._peak = self._peak_workers = 0.0
        self._sample()

    def peak(self) -> float:
        self._sample()
        return self._peak

    def peak_workers(self) -> float:
        self._sample()
        return self._peak_workers


# -- host witness -------------------------------------------------------------

def control_probe(n_docs: int = 500) -> float:
    """No-Spark single-process kernel control: four fused descriptor kernels
    over a fixed in-process corpus, best of three passes, in
    descriptor-vectors per second.  Run before and after the measured work so
    that a host slowed by other load shows in the result."""
    from ifeatureomega_cli_spark.functions.kernels import Ragged
    from ifeatureomega_cli_spark.functions.registry import get_spec

    descs = ["protein:AAC", "protein:CTDT", "protein:CTDD", "protein:Moran"]
    kerns = [get_spec(n).kernel(None, 0) for n in descs]
    rng = np.random.default_rng(7)
    lens = rng.integers(40, 120, size=n_docs)
    flat = rng.integers(0, 20, size=int(lens.sum())).astype(np.int64)
    for k in kerns:
        k(Ragged(flat, lens))
    best = float("inf")
    for _ in range(3):
        r = Ragged(flat, lens)
        t0 = time.perf_counter()
        for k in kerns:
            k(r)
        best = min(best, time.perf_counter() - t0)
    return n_docs * len(descs) / best
