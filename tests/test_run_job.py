"""End-to-end test of the spark-submit deployment entry
(scripts/run_job.py) — the north_rule's cluster protocol artifact.

Runs the CLI in subprocesses (it owns and stops its SparkSession):
fresh run writes profile + verdicts + violations + manifest; a
``--resume`` run over the same output skips every COMPLETE partition
(no duplicate manifest entries, identical verdicts).
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args: list[str]) -> str:
    out = subprocess.run(
        [sys.executable, f"{REPO}/scripts/run_job.py", *args],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout


def test_run_job_generate_and_resume(tmp_path, spark):
    outdir = str(tmp_path / "job_out")
    stdout = _run(
        ["--generate", "300", "--output", outdir, "--batch-size", "4",
         "--master", "local[8]"]
    )
    assert "profiled+validated" in stdout

    prof = spark.read.parquet(f"{outdir}/profile")
    assert prof.count() >= 6  # conv_id/turn_idx/role/text/tool/ts
    scalars = spark.read.parquet(f"{outdir}/profile_scalars")
    assert "cardinality_breakdown" not in scalars.columns
    verdicts = spark.read.parquet(f"{outdir}/verdicts")
    manifest = spark.read.parquet(f"{outdir}/manifest")
    n_manifest = manifest.count()
    assert n_manifest == 16  # one COMPLETE row per hash partition
    v_before = sorted(map(str, verdicts.collect()))

    # resume over the same output: everything already COMPLETE -> no
    # new manifest rows, verdicts unchanged
    _run(
        ["--generate", "300", "--output", outdir, "--batch-size", "4",
         "--master", "local[8]", "--resume"]
    )
    assert spark.read.parquet(f"{outdir}/manifest").count() == n_manifest
    v_after = sorted(map(str, spark.read.parquet(f"{outdir}/verdicts").collect()))
    assert v_after == v_before


def test_run_job_sigkill_mid_run_resume(tmp_path, spark):
    """SURVEY.md §5's strong resumability claim against a REAL process
    kill: SIGKILL the checkpoint job after the first manifest commit
    (mid-run, arbitrary write window — possibly between a batch's
    result append and its manifest commit), restart with --resume, and
    the final verdicts + manifest are identical to an uninterrupted
    run — no lost partitions, no duplicated rows (the orphan sweep
    removes uncommitted hive-partition directories before re-running
    them)."""
    import glob
    import os
    import signal
    import time

    args = ["--generate", "500", "--batch-size", "2", "--master", "local[8]"]
    ref = str(tmp_path / "ref")
    _run([*args, "--output", ref])

    out = str(tmp_path / "killed")
    proc = subprocess.Popen(
        [sys.executable, f"{REPO}/scripts/run_job.py", *args, "--output", out],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    # kill the moment the first batch commits (manifest parquet lands):
    # with 16 partitions / batch_size 2 the job is mid-flight, in
    # whatever write window it happens to occupy
    deadline = time.time() + 360
    while time.time() < deadline:
        if glob.glob(f"{out}/manifest/*.parquet"):
            break
        if proc.poll() is not None:
            raise AssertionError("job finished before any manifest commit")
        time.sleep(0.05)
    assert proc.poll() is None, "job must still be running at kill time"
    os.kill(proc.pid, signal.SIGKILL)
    proc.wait(timeout=60)

    done_at_kill = sorted(
        r["partition"]
        for r in spark.read.parquet(f"{out}/manifest")
        .filter("status = 'COMPLETE'")
        .collect()
    )
    assert 0 < len(done_at_kill) < 16, done_at_kill

    _run([*args, "--output", out, "--resume"])

    key = ["partition", "check_name", "passed", "violation_count"]
    v_res = sorted(
        map(tuple, spark.read.parquet(f"{out}/verdicts").select(*key).collect())
    )
    v_ref = sorted(
        map(tuple, spark.read.parquet(f"{ref}/verdicts").select(*key).collect())
    )
    assert v_res == v_ref and len(v_res) > 0
    viol_cols = ["partition", "check_name", "key", "detail"]
    w_res = sorted(
        map(
            tuple,
            spark.read.parquet(f"{out}/violations").select(*viol_cols).collect(),
        )
    )
    w_ref = sorted(
        map(
            tuple,
            spark.read.parquet(f"{ref}/violations").select(*viol_cols).collect(),
        )
    )
    assert w_res == w_ref
    # manifest: every partition COMPLETE exactly once, no duplicates
    man = spark.read.parquet(f"{out}/manifest")
    rows = man.select("partition", "status", "n_checks", "n_violations").collect()
    assert len(rows) == 16 and all(r["status"] == "COMPLETE" for r in rows)
    ref_man = {
        (r["partition"], r["n_checks"], r["n_violations"])
        for r in spark.read.parquet(f"{ref}/manifest").collect()
    }
    assert {
        (r["partition"], r["n_checks"], r["n_violations"]) for r in rows
    } == ref_man


def test_run_job_segment_size(tmp_path):
    """The spark-submit entry accepts --segment-size and produces the
    same verdict set as the unsegmented run."""
    import subprocess
    import sys

    outs = []
    for extra in ([], ["--segment-size", "8"]):
        out = str(tmp_path / ("seg" if extra else "plain"))
        r = subprocess.run(
            [sys.executable, "scripts/run_job.py", "--generate", "150",
             "--output", out, "--master", "local[4]"] + extra,
            capture_output=True, text=True, cwd=REPO, timeout=600,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        import duckdb
        rows = duckdb.sql(
            f"SELECT partition, check_name, passed, violation_count "
            f"FROM read_parquet('{out}/verdicts/*/*.parquet', "
            f"hive_partitioning=1) ORDER BY 1, 2"
        ).fetchall()
        outs.append(rows)
    assert outs[0] == outs[1] and len(outs[0]) > 0
