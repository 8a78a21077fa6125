"""Spans around the benchmark's calls into each layer, and the Spark
event-log parser that turns the tasks of each span's job group into
per-layer numbers.

A span is ``(name, rep, start, end, parent, group)``: ``group`` is the
Spark job group set on the calling thread for the span's duration, so
every job the call submits is attributed to it in the event log.  The
library submits some jobs from its own ``ThreadPoolExecutor`` threads;
:func:`propagate_job_groups` makes those threads inherit the
submitting thread's job group, which they otherwise would not (PySpark
pins each Python thread to a fresh JVM thread).
"""

from __future__ import annotations

import contextlib
import glob
import json
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor


class Tracer:
    """In-memory span recorder; written out once at the end.  A
    disabled tracer (``sc=None``) records nothing and sets no job
    group, so untraced reps run exactly the program's own calls."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, rep: int, parent: str | None = None, group: str | None = None):
        """Time ``name``; set ``group`` as the calling thread's Spark
        job group for the span's duration."""
        if self.sc is None:
            yield
            return
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", outer)
            with self._lock:
                self.spans.append(
                    {"name": name, "rep": rep, "start": start, "end": end,
                     "parent": parent, "group": group}
                )

    def of(self, name: str, rep: int) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["rep"] == rep]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f, indent=1)


@contextlib.contextmanager
def propagate_job_groups():
    """Wrap every ``ThreadPoolExecutor.submit`` so the task runs with
    the submitting thread's Spark local properties (job group
    included).  Restored on exit."""
    from pyspark import SparkContext

    original = ThreadPoolExecutor.submit

    def submit(self, fn, /, *args, **kwargs):
        sc = SparkContext._active_spark_context._jsc.sc()
        props = sc.getLocalProperties().clone()

        def inherit(*a, **kw):
            sc.setLocalProperties(props)
            return fn(*a, **kw)

        return original(self, inherit, *args, **kwargs)

    ThreadPoolExecutor.submit = submit
    try:
        yield
    finally:
        ThreadPoolExecutor.submit = original


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------
class JobGroupStats:
    """Task metrics of every job in one job group."""

    def __init__(self):
        self.jobs: list[tuple[float, float]] = []  # (submit, complete), s
        self.stage_tasks: dict[int, list[float]] = {}  # stage -> task run s
        self.stage_span: dict[int, list[float]] = {}  # stage -> [first launch, last finish]
        self.tasks = 0
        self.cpu_s = 0.0
        self.gc_s = 0.0
        self.shuffle_write_b = 0
        self.spill_b = 0
        self.input_b = 0
        self.output_b = 0

    def busy_s(self, start: float, end: float) -> float:
        """Seconds of [start, end] covered by at least one job."""
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(self.jobs):
            lo, hi = max(lo, start), min(hi, end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return covered

    def max_task_s(self) -> float:
        return max((max(v) for v in self.stage_tasks.values() if v), default=0.0)

    def task_skew(self) -> float:
        """Slowest / median task time in the stage with the longest
        wall time (first launch to last finish)."""
        if not self.stage_span:
            return 0.0
        stage = max(self.stage_span, key=lambda s: self.stage_span[s][1] - self.stage_span[s][0])
        times = self.stage_tasks[stage]
        med = statistics.median(times)
        return max(times) / med if med > 0 else 0.0


def parse_event_log(log_dir: str) -> dict[str, JobGroupStats]:
    """Read the (single, uncompressed) event log under ``log_dir`` and
    aggregate task metrics by job group; jobs without a group land
    under ``""``."""
    (path,) = glob.glob(f"{log_dir}/*")
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    groups: dict[str, JobGroupStats] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job_group[ev["Job ID"]] = g
                job_submit[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = g
                groups.setdefault(g, JobGroupStats())
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                groups[job_group[jid]].jobs.append(
                    (job_submit[jid], ev["Completion Time"] / 1000.0)
                )
            elif kind == "SparkListenerTaskEnd":
                g = groups.setdefault(stage_group.get(ev["Stage ID"], ""), JobGroupStats())
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                launch, finish = info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0
                sid = ev["Stage ID"]
                g.tasks += 1
                g.stage_tasks.setdefault(sid, []).append(finish - launch)
                span = g.stage_span.setdefault(sid, [launch, finish])
                span[0], span[1] = min(span[0], launch), max(span[1], finish)
                g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                g.gc_s += m.get("JVM GC Time", 0) / 1000.0
                g.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                g.spill_b += m.get("Disk Bytes Spilled", 0)
                g.input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                g.output_b += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return groups
