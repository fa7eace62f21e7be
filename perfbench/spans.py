"""Spans around calls into the engine's layers, and their Spark counters.

A span times one call made from the benchmark into a public function of
the package.  With tracing on it also

- records its wall-clock interval, so that every Spark job submitted in
  the interval can be attributed to it from the uncompressed event log
  afterwards.  The run is a closed loop with one caller, so the interval
  also catches jobs that the package submits from its own helper threads;
- labels the jobs of the calling thread with a job group unique to the
  span (``SparkContext.setJobGroup``).  Helper threads do not inherit the
  group; such jobs are counted as unlabelled, and a job whose label names
  another span than its interval is counted as mislabelled;
- counts the files and bytes of inodes that appeared under the watched
  directories (warehouse, shard store) while it ran;
- reads the JVM's ``/proc/<pid>/io`` ``wchar`` before and after, as a
  cross-check on those bytes.

With tracing off a span only reads the clock.  Spans are kept in memory
and folded into metrics when the run ends.
"""

from __future__ import annotations

import bisect
import contextlib
import glob
import itertools
import json
import math
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "task_s", "cpu_s", "gc_s",
    "critical_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_disk_bytes", "scan_bytes", "scan_rows",
)


@dataclass
class Span:
    name: str
    group: str
    seconds: float = 0.0
    #: wall-clock interval in epoch milliseconds, widened to whole ms
    start_ms: int = 0
    end_ms: int = 0
    new_files: int = 0
    new_bytes: int = 0
    wchar: int = 0
    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))


@dataclass
class Job:
    submitted_ms: int
    group: str | None
    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))


def _proc_field(pid: int, fname: str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/{fname}") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def wchar(pid: int) -> int:
    return _proc_field(pid, "io", "wchar:")


def rss_mb(pid: int, key: str = "VmRSS:") -> float:
    return _proc_field(pid, "status", key) / 1024.0


def inodes(dirs: list[str]) -> dict[tuple[int, int], int]:
    """(device, inode) -> size of every regular file under ``dirs``."""
    out: dict[tuple[int, int], int] = {}
    for root in dirs:
        for dirpath, _, files in os.walk(root):
            for f in files:
                try:
                    st = os.stat(os.path.join(dirpath, f))
                except FileNotFoundError:
                    continue
                out[(st.st_dev, st.st_ino)] = st.st_size
    return out


class Tracer:
    def __init__(self, spark, enabled: bool, watch: list[str], jvm_pid: int):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.watch = watch
        self.jvm_pid = jvm_pid
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        #: seconds spent on the tracer's own work inside timed regions
        self.bookkeeping = 0.0
        #: jobs inside a span's interval without a job group / with another
        #: span's job group
        self.unlabelled = 0
        self.mislabelled = 0

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, f"pb{next(self._ids)}")
        if self.enabled:
            b0 = time.perf_counter()
            before = inodes(self.watch)
            w0 = wchar(self.jvm_pid)
            self.sc.setJobGroup(sp.group, name)
            self.bookkeeping += time.perf_counter() - b0
        self._stack.append(sp)
        sp.start_ms = math.floor(time.time() * 1e3)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            sp.end_ms = math.ceil(time.time() * 1e3)
            sp.seconds = t1 - t0
            self._stack.pop()
            self.spans.append(sp)
            if self.enabled:
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc._jsc.clearJobGroup()
                sp.wchar = wchar(self.jvm_pid) - w0
                after = inodes(self.watch)
                fresh = [size for ino, size in after.items() if ino not in before]
                sp.new_files, sp.new_bytes = len(fresh), sum(fresh)
                self.bookkeeping += time.perf_counter() - t1

    def attach(self, event_dir: str) -> None:
        """Fold the event log's jobs onto the spans their submission time
        falls in.  Jobs outside every span (warm-up, output checks) are
        left out."""
        ordered = sorted(self.spans, key=lambda s: s.start_ms)
        starts = [s.start_ms for s in ordered]
        for job in parse_event_log(event_dir):
            sp = owner(ordered, starts, job.submitted_ms)
            if sp is None:
                continue
            for key, value in job.counters.items():
                sp.counters[key] += value
            if job.group is None:
                self.unlabelled += 1
            elif job.group != sp.group:
                self.mislabelled += 1

    def total(self, prefix: str | tuple[str, ...], key: str) -> float:
        """Sum of one quantity over spans whose name starts with
        ``prefix``: ``seconds``, ``new_files``, ``new_bytes``, ``wchar``
        or an event-log counter."""
        own = key in ("seconds", "new_files", "new_bytes", "wchar")
        return sum(
            getattr(sp, key) if own else sp.counters[key]
            for sp in self.spans
            if sp.name.startswith(prefix)
        )


def owner(ordered: list[Span], starts: list[int], t_ms: int) -> Span | None:
    """The span that was innermost at ``t_ms``: of the spans whose
    interval holds it, the one that started last (``ordered`` is sorted by
    start).  Sibling intervals may share their boundary millisecond; a
    job there belongs to the later span, since the earlier one waits for
    its own jobs to finish before it ends."""
    for sp in reversed(ordered[: bisect.bisect_right(starts, t_ms)]):
        if t_ms <= sp.end_ms:
            return sp
    return None


def parse_event_log(event_dir: str) -> list[Job]:
    """Per-job counters from an uncompressed Spark event log; a stage's
    tasks count for the first job that lists the stage."""
    jobs: list[Job] = []
    stage_job: dict[int, Job] = {}
    stage_max_task: dict[int, float] = defaultdict(float)
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job = Job(ev["Submission Time"], group or None)
                    job.counters["jobs"] = 1
                    jobs.append(job)
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, job)
                elif kind == "SparkListenerStageCompleted":
                    job = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if job is not None and "Completion Time" in ev["Stage Info"]:
                        job.counters["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    job = stage_job.get(sid)
                    if job is None:
                        continue
                    c = job.counters
                    info = ev["Task Info"]
                    c["tasks"] += 1
                    if info.get("Failed") or info.get("Killed"):
                        c["failed_tasks"] += 1
                    dur = (info["Finish Time"] - info["Launch Time"]) / 1e3
                    if dur > stage_max_task[sid]:
                        c["critical_s"] += dur - stage_max_task[sid]
                        stage_max_task[sid] = dur
                    m = ev.get("Task Metrics") or {}
                    c["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    c["spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    im = m.get("Input Metrics") or {}
                    c["scan_bytes"] += im.get("Bytes Read", 0)
                    c["scan_rows"] += im.get("Records Read", 0)
    return jobs
