"""Measurement plumbing: spans, Spark stage counters, peak RSS, provenance.

Spans are recorded by the benchmark around its own calls into the engine's
layers (nothing inside the engine is instrumented). Each span has a name, a
start, an end and its parent; a span's self time is its duration minus the
part of its interval that its children cover.
"""

from __future__ import annotations

import os
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


@dataclass
class Tracer:
    """In-memory span recorder; disabled tracers record nothing."""

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(
            len(self.spans),
            name,
            self._stack[-1] if self._stack else None,
            time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def self_time(self, span: Span) -> float:
        kids = [(c.start, c.end) for c in self.spans if c.parent == span.sid]
        return span.duration - covered(kids, span.start, span.end)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self) -> list[dict]:
        return [
            {
                "id": s.sid,
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "self_s": self.self_time(s),
            }
            for s in self.spans
        ]


STAGE_FIELDS = (
    "task_run_s",
    "task_cpu_s",
    "cpu_frac",
    "shuffle_write_bytes",
    "spill_bytes",
    "tasks",
    "failed_tasks",
)


def job_ids(spark, group: str) -> list[int]:
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def stage_counters(spark, groups: list[str]) -> dict[str, float]:
    """Summed task counters of every stage attempt run by the jobs of
    ``groups`` (job groups the benchmark set), read from Spark's status
    store. Skipped stages ran no tasks and add nothing."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    run_ms = cpu_ns = shuffle = spill = tasks = failed = 0
    seen = set()
    for g in groups:
        for j in job_ids(spark, g):
            info = sc.statusTracker().getJobInfo(j)
            if info is None:  # evicted: the counts would silently undercount
                raise RuntimeError(f"job {j} of group {g} left the status store")
            for st in info.stageIds:
                if st in seen:
                    continue
                seen.add(st)
                attempts = store.stageData(st, False, None, False, None)
                it = attempts.iterator()
                while it.hasNext():
                    d = it.next()
                    if d.status().toString() == "SKIPPED":
                        continue
                    run_ms += d.executorRunTime()
                    cpu_ns += d.executorCpuTime()
                    shuffle += d.shuffleWriteBytes()
                    spill += d.memoryBytesSpilled() + d.diskBytesSpilled()
                    tasks += d.numCompleteTasks() + d.numFailedTasks()
                    failed += d.numFailedTasks()
    run_s = run_ms / 1e3
    cpu_s = cpu_ns / 1e9
    return {
        "task_run_s": run_s,
        "task_cpu_s": cpu_s,
        "cpu_frac": cpu_s / run_s if run_s else 0.0,
        "shuffle_write_bytes": shuffle,
        "spill_bytes": spill,
        "tasks": tasks,
        "failed_tasks": failed,
    }


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def thread_cpu() -> dict[tuple[int, int], int]:
    """Nanoseconds on CPU of every thread of this process tree, except the
    JVM's JIT compiler threads, whose background work depends on how far
    the JIT has got rather than on the operation being measured. Time the
    hypervisor steals is not time on CPU."""
    out = {}
    for pid in _descendants(os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if "CompilerThre" in f.read():
                        continue
                with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
                    out[(pid, int(tid))] = int(f.read().split()[0])
            except (OSError, ValueError):
                continue  # the thread ended while being read
    return out


def cpu_between(before: dict, after: dict) -> float:
    """CPU seconds used between two :func:`thread_cpu` snapshots by threads
    alive at the second; a thread that ended in between is not counted."""
    return sum(t - before.get(k, 0) for k, t in after.items()) / 1e9


def _tree_rss_kb(root: int) -> int:
    """Summed VmRSS of ``root`` and all its descendants."""
    total = 0
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                total += next(
                    (int(ln.split()[1]) for ln in f if ln.startswith("VmRSS:")), 0
                )
        except (OSError, ValueError):
            continue  # the process ended while being read
    return total


class RssSampler:
    """Peak summed RSS of this process tree (driver JVM and Python workers
    included), sampled every ``period`` seconds on a daemon thread."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def freeze(self) -> None:
        """Stop sampling; later work does not count."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))

    def __exit__(self, *exc) -> None:
        self.freeze()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def git_stamp(root: str) -> dict:
    """HEAD and a dirty flag, or ``None`` outside a git checkout. The
    search for a repository stops at ``root``."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))

    def git(*args: str) -> str | None:
        try:
            r = subprocess.run(
                ["git", *args], cwd=root, env=env, capture_output=True,
                text=True, timeout=30,
            )
        except (OSError, subprocess.TimeoutExpired):
            return None
        return r.stdout.strip() if r.returncode == 0 else None

    head = git("rev-parse", "HEAD")
    if head is None:
        return {"head": None, "dirty": None}
    status = git("status", "--porcelain", "--untracked-files=no")
    return {"head": head, "dirty": bool(status) if status is not None else None}
