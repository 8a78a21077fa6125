#!/usr/bin/env python3
"""Transcript profile+validate benchmark.

    python3 perfbench/run.py --workload oneshot --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  One run starts a Spark session on
``local[nproc]``, writes the seeded input under ``.perfbench/``
(see inputs.py), checks the set-up, waits for the DuckDB oracle, then
runs reps of the workload back to back (a closed loop, one job at a
time) until ``--seconds`` have passed.  Every rep's output is checked
against a DuckDB re-derivation of the suite's violation counts and the
workload's own invariants.

A run measures the job the way it is submitted in production: the first
rep is the first job of a fresh session, code generation and JIT
compilation included.  At the ``run_seconds`` of ``BENCHMARK.json`` (1)
that first rep is the only timed one, so a run costs one session start
and one job; a warm pass before it would double the length of a run.

``--trace 0`` prints the end-to-end metrics: turns per CPU-second of a
timed rep and the CPU seconds of set-up (see CpuClock for why CPU time),
and peak resident memory; then, unbounded, the wall-time turns/s, the
longest gap between commits and error_rate.  ``--trace 1`` starts the
session with Spark's event log on, traces rep 1 and every other rep
after it (a job group per span, spans recorded) and prints the
per-layer metrics instead (spans go to ``.perfbench/trace/``).  The
metric names and units are those of ``BENCHMARK.json``.  The last line
of standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
from spans import JobGroupStats, Tracer, parse_event_log, propagate_job_groups  # noqa: E402
from workloads import WORKLOADS, violation_sums  # noqa: E402

MB = 1 << 20
ATTACH_TRIALS = 3
NO_TRACE = Tracer()
# no rep after the first starts later than this into a run, so that a run
# ends within three minutes even when a busy host makes reps slow
LAST_REP_START_S = 75


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(n: int, event_log: str | None = None):
    """SparkSession on local[n] with the JVM capped to n processors;
    every scratch file stays under the checkout's .perfbench/."""
    from datapatterns_spark.session import get_spark

    tmp = inputs.TMP
    # A rep is mostly driver work (planning, code generation, job
    # scheduling), so rep time follows the JIT.  With the optimising
    # compiler on, its threads share the n cores with the work and its
    # compile time varies from run to run; C1 only compiles quickly and
    # about the same each run, which is what makes runs repeat.  C1 alone
    # defaults to a 48 MB code cache, which the classes Spark generates
    # for every query fill within a minute, and a full cache turns the
    # compiler off.
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions": (
            f"-XX:ActiveProcessorCount={n} -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m "
            f"-XX:+UseParallelGC -XX:ParallelGCThreads={n} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(inputs.CACHE, "warehouse"),
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        "perfbench", master=f"local[{n}]", shuffle_partitions=2 * n, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_all(spark) -> None:
    """Stop Spark, shut the JVM down and wait until every process this
    run started (JVM, Python workers) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.time() + 60
    while _descendants() and time.time() < deadline:
        time.sleep(0.1)
    for pid in _descendants():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:  # ended since it was listed
            pass


def _descendants(root: int | None = None) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(root or os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


class PeakRss:
    """Sum over this process and its descendants (driver JVM, Python
    daemon and workers) of each one's peak resident set (VmHWM)."""

    def __init__(self):
        self.peak: dict[int, int] = {}

    def sample(self) -> None:
        for pid in [os.getpid(), *_descendants()]:
            try:
                with open(f"/proc/{pid}/status") as f:
                    kb = next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
            except (OSError, StopIteration):
                continue
            self.peak[pid] = max(self.peak.get(pid, 0), kb)

    def mb(self) -> float:
        return sum(self.peak.values()) * 1024 / MB


class CpuClock:
    """CPU seconds (user + system) spent so far by this process and by
    the Spark JVM with every process under it (Python workers, counting
    those that have exited).  The oracle process is not counted.

    The end-to-end times are CPU times, not wall times: on a host whose
    vCPUs are shared, the time the hypervisor steals swings a rep's wall
    time by 2x within minutes (on 4 shared vCPUs a 20 s rep saw 20
    vCPU-seconds of steal), while its CPU time moves by about a fifth."""

    HZ = os.sysconf("SC_CLK_TCK")

    def __init__(self):
        self.jvm: int | None = None  # pid, once the session is up

    def __call__(self) -> float:
        t = os.times()
        total = t.user + t.system
        if self.jvm is not None:
            for pid in [self.jvm, *_descendants(self.jvm)]:
                try:
                    with open(f"/proc/{pid}/stat") as f:
                        fields = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                total += sum(int(x) for x in fields[11:15]) / self.HZ  # utime stime cutime cstime
        return total


class GcPerRep:
    """JVM-wide collection time (all collectors) spent during each rep."""

    def __init__(self, spark):
        self._beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        self._last = self._total()
        self.by_rep: dict[int, float] = {}

    def _total(self) -> float:
        return sum(b.getCollectionTime() for b in self._beans) / 1000.0

    def sample(self, i: int) -> None:
        now = self._total()
        self.by_rep[i], self._last = now - self._last, now


def timed_window(work, cpu, tracer_for, seconds: float, deadline: float, on_rep=None,
                 min_reps: int = 1):
    """Reps 1, 2, ... back to back until ``seconds`` have passed and at
    least ``min_reps`` were made, starting none after the first past
    ``deadline``; rep ``i`` records its spans in ``tracer_for(i)`` and
    its CPU seconds in ``rep.cpu``.
    Returns (reps that passed their checks, number attempted, failed)."""
    good, attempted, failed = [], 0, 0
    t0 = time.time()
    while attempted == 0 or (
        time.time() < deadline and (attempted < min_reps or time.time() - t0 < seconds)
    ):
        attempted += 1
        i = attempted
        try:
            c0 = cpu()
            rep = work.rep(tracer_for(i), i)
            rep.cpu = cpu() - c0
            rep.index = i
            errors = work.check(rep)
        except Exception:  # a failed rep counts against error_rate
            traceback.print_exc()
            errors = ["raised"]
        if errors:
            print(f"rep {i} failed: {errors}", file=sys.stderr)
            failed += 1
        else:
            log(f"rep {i}: {rep.wall:.2f}s wall, {rep.cpu:.2f}s cpu")
            good.append(rep)
        if on_rep:
            on_rep(i)
    return good, attempted, failed


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    import datapatterns_spark  # noqa: F401  (fail fast outside a checkout)

    n = nproc()
    cls = WORKLOADS[args.workload]
    rss = PeakRss()
    log_dir = os.path.join(inputs.CACHE, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)

    # every process this run starts keeps its scratch files in the checkout
    os.makedirs(inputs.TMP, exist_ok=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = inputs.TMP
    inp = inputs.Input(cls.name, cls.conversations, args.seed, n)
    deadline = time.time() + LAST_REP_START_S
    cpu = CpuClock()
    c0 = cpu()
    spark = start_session(n, event_log=log_dir if args.trace else None)
    try:
        from pyspark import SparkContext

        cpu.jvm = SparkContext._gateway.proc.pid
        session_cpu = cpu() - c0
        log(f"session up, {session_cpu:.1f}s cpu")
        inp.prepare(spark)
        print(f"{args.workload} input seed={args.seed} gen_seed={inp.gen_seed} "
              f"turns={inp.turns} bytes={inp.bytes}", flush=True)
        log("input ready")
        work = cls(spark, inp, os.path.join(inputs.CACHE, "work"))
        _setup_checks(spark, inp)
        log("set-up checks passed")

        attach = []
        for _ in range(ATTACH_TRIALS):
            c0 = cpu()
            spark.read.parquet(inp.path).count()
            attach.append(cpu() - c0)
        setup_s = session_cpu + statistics.median(attach)
        # nothing else runs beside the timed reps
        inp.wait_oracle()
        log(f"setup {setup_s:.1f}s cpu; oracle ready")
        rss.sample()

        if args.trace:
            # odd reps traced, even reps not: see _layer_values
            tracer, gc = Tracer(spark.sparkContext), GcPerRep(spark)
            with propagate_job_groups():
                reps, attempted, failed = timed_window(
                    work, cpu, lambda i: tracer if i % 2 else NO_TRACE, args.seconds, deadline,
                    gc.sample, min_reps=3,
                )
        else:
            reps, attempted, failed = timed_window(
                work, cpu, lambda i: NO_TRACE, args.seconds, deadline, lambda i: rss.sample()
            )
        resume_errors = work.resume_check(reps[-1]) if reps and hasattr(work, "resume_check") else []
        if resume_errors:
            print(f"resume check failed: {resume_errors}", file=sys.stderr)
        if args.trace:
            spark.stop()  # flushes the event log
            values = _layer_values(tracer, gc.by_rep, reps, log_dir, args)
        else:
            values = {
                "turns_per_cpu_s": median([r.turns / r.cpu for r in reps]),
                "setup_s": setup_s,
                "peak_rss_mb": rss.mb(),
            }
    finally:
        log("stopping")
        inp.close()
        stop_all(spark)
        log("stopped")

    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    # a metric with no passing rep to measure it on reads 0 (and the run is not correct)
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in names}
    for name, m in metrics.items():
        print(f"{args.workload} {name} {m['value']:.6g} {m['unit']}")
    if not args.trace:  # wall-time figures, not bounded: see CpuClock
        print(f"{args.workload} turns_per_s {median([r.turns / r.wall for r in reps]):.6g} turns/s")
        print(f"{args.workload} commit_gap_s {median([r.commit_gap for r in reps]):.6g} s")
    print(f"{args.workload} error_rate {failed / attempted:.6g} fraction "
          f"({failed} of {attempted} timed reps)")
    print(json.dumps({
        "correct": failed == 0 and bool(reps) and not resume_errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _setup_checks(spark, inp) -> None:
    """Untimed: run_checks' auto probe must keep the unsegmented plan on
    these bounded-conversation inputs."""
    from datapatterns_spark.operators.constraints import _auto_segment_size

    df = spark.read.parquet(inp.path)
    if _auto_segment_size(df, [("conv_id", "turn_idx")]) is not None:
        raise RuntimeError("auto probe engaged segmentation on a bounded-conversation input")


def _layer_values(tracer, gc: dict[int, float], reps, log_dir: str, args) -> dict:
    """Per-layer values of rep 1, the first job of the session as in an
    untraced run, from its spans and the event log (``session.turns_per_s``
    is its wall-time throughput); writes the spans out.
    ``session.tracing_overhead`` compares the later traced (odd)
    reps with the untraced (even) reps of the same session, so it covers
    the job groups, spans and job-group propagation, not the event log
    itself, which is on for both."""
    groups = parse_event_log(log_dir)
    trace_dir = os.path.join(inputs.CACHE, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    tracer.write(os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json"))
    traced = [r for r in reps if r.index % 2 == 1 and r.index > 1]
    untraced = [r for r in reps if r.index % 2 == 0]
    values = {}
    if untraced and traced:
        values["session.tracing_overhead"] = (
            median([r.turns / r.cpu for r in traced]) / median([r.turns / r.cpu for r in untraced]) - 1.0
        )
    if not reps or reps[0].index != 1:
        return values
    rep, i = reps[0], 1
    g = {k.split("#")[0]: v for k, v in groups.items() if k.endswith(f"#{i}")}
    none = JobGroupStats()

    def span_s(name):
        return sum(s["end"] - s["start"] for s in tracer.of(name, i))

    def gap_s(layer, *names):
        busy = sum(
            g.get(layer, none).busy_s(s["start"], s["end"])
            for name in names for s in tracer.of(name, i)
        )
        return sum(span_s(name) for name in names) - busy

    pr, co, ma, inc = (g.get(k, none) for k in ("profile", "constraints", "manifest", "incremental"))
    scanned = sum(x.input_b for x in g.values())
    values.update({
        "sources.count_s": span_s("sources"),
        "sources.scan_mb": scanned / MB,
        "profile.wall_s": span_s("profile"),
        "profile.jobs": len(pr.jobs),
        "profile.tasks": pr.tasks,
        "profile.task_cpu_s": pr.cpu_s,
        "profile.shuffle_write_mb": pr.shuffle_write_b / MB,
        "profile.gc_s": pr.gc_s,
        "profile.driver_gap_s": gap_s("profile", "profile"),
        "constraints.wall_s": span_s("constraints"),
        "constraints.jobs": len(co.jobs),
        "constraints.tasks": co.tasks,
        "constraints.task_cpu_s": co.cpu_s,
        "constraints.shuffle_write_mb": co.shuffle_write_b / MB,
        "constraints.spill_mb": co.spill_b / MB,
        "constraints.driver_gap_s": gap_s("constraints", "constraints"),
        "constraints.max_task_s": co.max_task_s(),
        "constraints.task_skew": co.task_skew(),
        "constraints.violation_rows": sum(violation_sums(rep.out["verdicts"]).values()),
        "manifest.wall_s": span_s("manifest"),
        "manifest.batches": rep.out.get("batches", 0),
        "manifest.jobs": len(ma.jobs),
        "manifest.driver_gap_s": gap_s("manifest", "manifest"),
        "manifest.output_mb": ma.output_b / MB,
        "manifest.output_files": rep.out.get("output_files", 0),
        "manifest.write_amp": ma.output_b / ma.input_b if ma.input_b else 0.0,
        "incremental.build_s": span_s("incremental.build"),
        "incremental.merge_s": span_s("incremental.merge"),
        "incremental.jobs": len(inc.jobs),
        "incremental.state_rows": rep.out.get("state_rows", 0),
        "incremental.state_mb": rep.out.get("state_bytes", 0) / MB,
        "incremental.task_cpu_s": inc.cpu_s,
        "manifest.commit_gap_s": rep.commit_gap if ma.jobs else 0.0,
        "session.gc_s": gc[i],
        "session.jobs": sum(len(x.jobs) for x in g.values()),
        "session.turns_per_s": rep.turns / rep.wall,
    })
    return values


if __name__ == "__main__":
    sys.exit(main())
