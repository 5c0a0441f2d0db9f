"""Outside-in tracing for the benchmark: spans around calls into the
package, Spark job attribution, and a peak-RSS sampler for the process
tree.

A span records its name, start, end, parent and pass id. While a
top-level span is open its name is the SparkContext job group. When it
closes, the jobs that finished since the last harvest are read back from
the driver's status store and each span opened inside it gets the jobs
submitted within its own window. The benchmark drives Spark from one
thread (a streaming query's batches run while the main thread waits), so
the time window alone attributes every job. The store keeps only the
most recent jobs (``spark.ui.retainedJobs``, 1,000 by default), so jobs
are harvested after every top-level span. Spans stay in memory and are
written out when the run ends.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    pass_id: str
    start: float
    parent: str | None = None
    end: float = 0.0
    jobs: int = 0
    gap_s: float = 0.0
    exec_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class JobRecord:
    submitted: float  # epoch seconds
    completed: float
    exec_s: float
    shuffle_mb: float
    spill_mb: float


def _opt(option):
    return option.get() if option.isDefined() else None


class StatusStore:
    """Reads finished jobs and their stages out of the driver's
    AppStatusStore over py4j. py4j does not see Scala default arguments,
    so every call passes all of its parameters."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._no_filter = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._high_water = -1  # largest job id harvested so far
        self._stages_seen: set[int] = set()

    def new_jobs(self) -> list[JobRecord]:
        """Jobs finished since the last call, oldest first. A stage that
        several jobs share (a reused shuffle) counts once, in the job
        that ran it."""
        jobs = self._store.jobsList(self._no_filter)  # newest first
        fresh = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= self._high_water:
                break
            fresh.append(job)
        out = []
        for job in reversed(fresh):
            done = _opt(job.completionTime())
            if done is None:  # still running: leave it for the next harvest
                break
            self._high_water = job.jobId()
            exec_ms = shuffle_b = spill_b = 0
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in self._stages_seen:
                    continue
                self._stages_seen.add(sid)
                attempts = self._store.stageData(
                    sid, False, self._no_filter, False, self._no_quantiles
                )
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    exec_ms += st.executorRunTime()
                    shuffle_b += st.shuffleWriteBytes()
                    spill_b += st.memoryBytesSpilled()
            submitted = _opt(job.submissionTime())
            out.append(
                JobRecord(
                    submitted=(submitted or done).getTime() / 1000.0,
                    completed=done.getTime() / 1000.0,
                    exec_s=exec_ms / 1000.0,
                    shuffle_mb=shuffle_b / 2**20,
                    spill_mb=spill_b / 2**20,
                )
            )
        return out


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


class Tracer:
    """Collects spans. A disabled tracer keeps the same call sites but
    records nothing, sets no job groups and reads no status, so untraced
    passes run the same benchmark code minus the tracing work."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.pass_id = "warmup"
        self._spark = spark
        self._store = StatusStore(spark) if enabled else None
        self._stack: list[Span] = []

    def begin(self) -> None:
        """Start attributing: jobs finished before now belong to no span."""
        if self._store is not None:
            self._store.new_jobs()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].name if self._stack else None
        sp = Span(name=name, pass_id=self.pass_id, start=time.time(), parent=parent)
        sc = self._spark.sparkContext
        self._stack.append(sp)
        if parent is None:
            sc.setJobGroup(name, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.spans.append(sp)
            if parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                self._attribute(sp, self._store.new_jobs())

    def record(self, name: str, start: float, end: float) -> None:
        """Add a span timed elsewhere, e.g. inside a streaming callback
        that runs on another thread while a top-level span is open."""
        if not self.enabled:
            return
        parent = self._stack[-1].name if self._stack else None
        self.spans.append(
            Span(name=name, pass_id=self.pass_id, start=start, end=end, parent=parent)
        )

    def _attribute(self, top: Span, jobs: list[JobRecord]) -> None:
        for sp in self.spans:
            if sp.pass_id != top.pass_id or sp.start < top.start or sp.end > top.end:
                continue
            mine = [j for j in jobs if sp.start <= j.submitted <= sp.end]
            sp.jobs = len(mine)
            sp.exec_s = sum(j.exec_s for j in mine)
            sp.shuffle_mb = sum(j.shuffle_mb for j in mine)
            sp.spill_mb = sum(j.spill_mb for j in mine)
            busy = covered_s([(j.submitted, j.completed) for j in mine], sp.start, sp.end)
            sp.gap_s = max(sp.wall_s - busy, 0.0)

    def as_dicts(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "pass": s.pass_id,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "wall_s": s.wall_s,
                "jobs": s.jobs,
                "gap_s": s.gap_s,
                "exec_s": s.exec_s,
                "shuffle_mb": s.shuffle_mb,
                "spill_mb": s.spill_mb,
            }
            for s in self.spans
        ]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int) -> list[int]:
    """Every live process below ``root``."""
    kids = _children()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_mb(root: int) -> float:
    """Resident set of ``root`` and all its descendants, in MiB."""
    total_kb = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class RssSampler:
    """Samples the process tree's RSS on a thread while ``active``."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.peak_mb = 0.0
        self.active = False
        self._root = root
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            if self.active:
                self.peak_mb = max(self.peak_mb, tree_rss_mb(self._root))
