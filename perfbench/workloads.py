"""The benchmark's workloads: one closed-loop repetition ("rep") of the
production job each, plus the checks of its output.

A rep reads the stored transcript table (``sources``), then runs two
branches as concurrent job submissions, the shape of
``scripts/run_job.py``:

* ``oneshot``: ``profile(mode="approx")`` beside ``run_checks`` over the
  whole table.  Nothing is written.
* ``checkpointed``: ``run_with_manifest`` (validation, checkpointed per
  partition batch) beside ``profile_incremental`` (mergeable profile
  states behind the same manifest protocol), into an empty output
  directory.  ``profile.py`` is never called.

Every span is a layer boundary; in a traced run each span also sets the
Spark job group its jobs are attributed to.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from inputs import N_PARTS, PART_COL

KEY_COLS = ["conv_id", "turn_idx"]
PARTITIONS = [str(i) for i in range(N_PARTS)]
# partitions per manifest commit (checkpointed): two commits a rep, so
# commit_gap_s is a real gap; each batch is a full run_checks plus its
# writes, and batch 4 would double a rep's time
BATCH_SIZE = 8
QUANTILE_DELTA = 100  # t-digest compression of the incremental states


def _suite():
    from datapatterns_spark.sources.transcripts import transcript_check_suite

    return transcript_check_suite()


def verdict_rows(rows) -> list[tuple]:
    """The comparable part of a verdict table."""
    return sorted(
        (r["partition"], r["check_name"], bool(r["passed"]), int(r["violation_count"]))
        for r in rows
    )


def violation_sums(rows) -> dict[str, int]:
    out: dict[str, int] = {}
    for r in rows:
        out[r["check_name"]] = out.get(r["check_name"], 0) + int(r["violation_count"])
    return out


def both(a, b):
    """Run two branches as concurrent job submissions; return both
    results (re-raising either branch's error)."""
    with ThreadPoolExecutor(2) as ex:
        fa, fb = ex.submit(a), ex.submit(b)
        return fa.result(), fb.result()


class Rep:
    """What one rep produced: wall time, turns read, commit times (job
    start first), and the outputs the checks look at.  The timed window
    adds ``index`` and ``cpu`` (CPU seconds)."""

    def __init__(self, start: float, end: float, turns: int, commits: list[float], **out):
        self.wall = end - start
        self.turns = turns
        self.commits = commits
        self.out = out

    @property
    def commit_gap(self) -> float:
        return max(b - a for a, b in zip(self.commits, self.commits[1:]))


class Oneshot:
    name = "oneshot"
    conversations = 2000

    def __init__(self, spark, inp, workdir: str):
        self.spark, self.inp = spark, inp

    def rep(self, tracer, i: int) -> Rep:
        from pyspark.sql import functions as F

        from datapatterns_spark.operators.constraints import run_checks
        from datapatterns_spark.operators.profile import profile

        start = time.time()
        with tracer.span("rep", i, group=f"rep#{i}"):
            with tracer.span("sources", i, parent="rep", group=f"sources#{i}"):
                df = self.spark.read.parquet(self.inp.path)
                turns = df.count()

            def profile_branch():
                with tracer.span("profile", i, parent="rep", group=f"profile#{i}"):
                    return profile(df.drop(PART_COL), mode="approx").collect()

            def constraints_branch():
                with tracer.span("constraints", i, parent="rep", group=f"constraints#{i}"):
                    # the partition as its bucket EXPRESSION (same values as
                    # the stored column) keeps it out of the window exchange
                    verdicts, _ = run_checks(
                        df,
                        _suite(),
                        partition_col=F.pmod(F.xxhash64("conv_id"), F.lit(N_PARTS)),
                        key_cols=KEY_COLS,
                        partitions=PARTITIONS,
                    )
                    return verdicts.collect()

            prof, verdicts = both(profile_branch, constraints_branch)
        end = time.time()
        # one commit, at the end: a crash loses the whole job
        return Rep(start, end, turns, [start, end], profile=prof, verdicts=verdicts)

    def check(self, rep: Rep) -> list[str]:
        errors = _check_counts(rep, self.inp)
        rec = {r["attribute"]: r["rec_count"] for r in rep.out["profile"]}
        if len(rec) != 6 or any(v != self.inp.turns for v in rec.values()):
            errors.append(f"profile rec_count {rec} != {self.inp.turns} turns")
        return errors


class Checkpointed:
    name = "checkpointed"
    conversations = 1000

    def __init__(self, spark, inp, workdir: str):
        self.spark, self.inp = spark, inp
        self.out = os.path.join(workdir, "checkpointed")
        self.reference_verdicts = None

    def reference(self) -> list[tuple]:
        """Untimed, once: the verdicts run_checks gives on the same
        input, which every rep's manifest verdicts must equal."""
        from datapatterns_spark.operators.constraints import run_checks

        if self.reference_verdicts is None:
            df = self.spark.read.parquet(self.inp.path)
            verdicts, _ = run_checks(
                df, _suite(), partition_col=PART_COL, key_cols=KEY_COLS, partitions=PARTITIONS
            )
            self.reference_verdicts = verdict_rows(verdicts.collect())
        return self.reference_verdicts

    def _validate(self, df):
        from datapatterns_spark.operators.manifest import run_with_manifest

        return run_with_manifest(
            df,
            _suite(),
            partition_col=PART_COL,
            output_path=f"{self.out}/validate",
            key_cols=KEY_COLS,
            batch_size=BATCH_SIZE,
        ).collect()

    def rep(self, tracer, i: int) -> Rep:
        from datapatterns_spark.operators.incremental import profile_incremental

        shutil.rmtree(self.out, ignore_errors=True)
        start = time.time()
        with tracer.span("rep", i, group=f"rep#{i}"):
            with tracer.span("sources", i, parent="rep", group=f"sources#{i}"):
                df = self.spark.read.parquet(self.inp.path)
                turns = df.count()

            def manifest_branch():
                with tracer.span("manifest", i, parent="rep", group=f"manifest#{i}"):
                    return self._validate(df)

            def incremental_branch():
                with tracer.span("incremental.build", i, parent="rep", group=f"incremental#{i}"):
                    merged = profile_incremental(
                        df,
                        PART_COL,
                        f"{self.out}/state",
                        batch_size=BATCH_SIZE,
                        quantile_delta=QUANTILE_DELTA,
                    )
                with tracer.span("incremental.merge", i, parent="rep", group=f"incremental#{i}"):
                    return merged.collect()

            verdicts, merged = both(manifest_branch, incremental_branch)
        end = time.time()
        return self._finished(start, end, turns, verdicts=verdicts, merged=merged)

    def _finished(self, start: float, end: float, turns: int, **out) -> Rep:
        """Read what the rep left on disk: the commit times (job start,
        then every manifest commit of the validation chain, which bound
        the verdicts a crash loses) and the sizes of its outputs."""
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        manifest = pq.read_table(f"{self.out}/validate/manifest")
        finished = sorted(set(manifest.column("finished_at").to_pylist()))
        files = [
            os.path.join(d, f)
            for d, _, names in os.walk(f"{self.out}/validate")
            for f in names
            if f.startswith("part-")
        ]
        state = f"{self.out}/state/states"
        return Rep(
            start, end, turns, [start] + finished,
            batches=len(set(manifest.column("started_at").to_pylist())),
            output_files=len(files),
            state_rows=ds.dataset(state).count_rows(),
            state_bytes=sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, names in os.walk(state)
                for f in names
                if f.startswith("part-")
            ),
            **out,
        )

    def check(self, rep: Rep) -> list[str]:
        errors = _check_counts(rep, self.inp)
        rec = {r["attribute"]: r["rec_count"] for r in rep.out["merged"]}
        if len(rec) != 6 or any(v != self.inp.turns for v in rec.values()):
            errors.append(f"merged rec_count {rec} != {self.inp.turns} turns")
        if verdict_rows(rep.out["verdicts"]) != self.reference():
            errors.append("manifest verdicts differ from run_checks on the same input")
        return errors

    def resume_check(self, rep: Rep) -> list[str]:
        """Untimed: a second run over the finished output re-runs zero
        partitions and returns identical verdicts."""
        import pyarrow.parquet as pq

        manifest = f"{self.out}/validate/manifest"
        before = pq.read_table(manifest).num_rows
        again = self._validate(self.spark.read.parquet(self.inp.path))
        errors = []
        if pq.read_table(manifest).num_rows != before:
            errors.append("resume re-ran partitions that were COMPLETE")
        if verdict_rows(again) != verdict_rows(rep.out["verdicts"]):
            errors.append("resume returned different verdicts")
        return errors


def _check_counts(rep: Rep, inp) -> list[str]:
    """Per-check summed violation counts against the DuckDB oracle."""
    got, want = violation_sums(rep.out["verdicts"]), inp.oracle
    if got != want:
        return [f"violation counts {got} != oracle {want}"]
    return []


WORKLOADS = {w.name: w for w in (Oneshot, Checkpointed)}
