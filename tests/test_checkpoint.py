"""The checkpoint protocol both checkpointed writers share
(operators/manifest.py): crash windows of profile_incremental (a
deterministic uncommitted batch and a real SIGKILL), a corrupt manifest
that must not read as empty, the refused flat layout, read-back that
never touches the session's partition type-inference conf, and NULL
partition values, which both writers must check and commit."""

from __future__ import annotations

import glob
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from datapatterns_spark.operators import constraints as C
from datapatterns_spark.operators.incremental import (
    _state_schema,
    profile_incremental,
    profile_state,
)
from datapatterns_spark.operators.manifest import (
    MANIFEST_SCHEMA,
    completed_partitions,
    run_with_manifest,
)

REPO = Path(__file__).resolve().parents[1]
INFER_KEY = "spark.sql.sources.partitionColumnTypeInference.enabled"

# the table of the crash tests, as selectExpr over spark.range so the
# killed subprocess and this process build identical rows
TABLE_COLS = [
    "cast(id % 8 as string) as part",
    "id * 7 % 1000 as n",
    "concat('v', cast(id % 97 as string)) as s",
]

KILL_SCRIPT = """
import sys
from datapatterns_spark.operators.incremental import profile_incremental
from datapatterns_spark.session import get_spark

spark = get_spark("dp-incremental-kill", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
df = spark.range(int(sys.argv[2])).selectExpr(*sys.argv[3:])
profile_incremental(df, "part", sys.argv[1], batch_size=1)
spark.stop()
"""


def _checks():
    return [
        C.row_rule("v_positive", "v > 0"),
        C.in_domain("part_known", "part", ["0", "1", "01"]),
    ]


def _parts_df(spark):
    rows = [(p, v) for p in ("0", "1", "01") for v in (1, 2, -3)]
    return spark.createDataFrame(rows, "part string, v int")


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_state_schema_matches_profile_state(spark):
    """The explicit read-back schema of the state store is exactly what
    profile_state writes, with and without the KLL sketch column."""
    df = spark.range(50).selectExpr(*TABLE_COLS)
    for k in (None, 100):
        got = profile_state(df, "part", quantile_delta=k).schema
        want = spark.createDataFrame([], _state_schema(k)).schema
        assert got.simpleString() == want.simpleString()


def test_profile_incremental_uncommitted_batch_not_double_counted(spark, tmp_path):
    """A kill between the state append and the manifest commit leaves
    the last batch's states uncommitted; the resume must sweep them and
    re-profile those partitions exactly once (a flat append counted
    them twice: rec_count 1,500)."""
    df = spark.range(1000).selectExpr(
        "cast(id % 4 as string) as part", *TABLE_COLS[1:]
    )
    path = str(tmp_path / "incr")
    profile_incremental(df, "part", path, batch_size=2)
    manifest = spark.read.parquet(f"{path}/manifest").collect()
    last = max(r["started_at"] for r in manifest)
    keep = [tuple(r) for r in manifest if r["started_at"] != last]
    assert len(keep) == 2
    spark.createDataFrame(keep, MANIFEST_SCHEMA).write.mode("overwrite").parquet(
        f"{path}/manifest"
    )
    assert len(completed_partitions(spark, path)) == 2

    merged = profile_incremental(df, "part", path, batch_size=2)
    assert {r["attribute"]: r["rec_count"] for r in merged.collect()} == {
        "n": 1000,
        "s": 1000,
    }
    assert _rows(merged) == _rows(
        profile_incremental(df, "part", str(tmp_path / "fresh"))
    )


def test_profile_incremental_sigkill_mid_run_resume(spark, tmp_path):
    """SIGKILL profile_incremental the moment its first batch commits
    (batch_size 1, 8 partitions: mid-run, in whatever write window it
    occupies), resume, and the merged profile equals an uninterrupted
    run's, with every partition's states and manifest row present
    exactly once."""
    n_rows = 4000
    df = spark.range(n_rows).selectExpr(*TABLE_COLS)
    ref = profile_incremental(df, "part", str(tmp_path / "ref"), batch_size=1)

    out = str(tmp_path / "killed")
    proc = subprocess.Popen(
        [sys.executable, "-c", KILL_SCRIPT, out, str(n_rows), *TABLE_COLS],
        cwd=REPO,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
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
    done_at_kill = completed_partitions(spark, out)
    assert 0 < len(done_at_kill) < 8, done_at_kill

    merged = profile_incremental(df, "part", out, batch_size=1)
    assert _rows(merged) == _rows(ref)
    assert {r["rec_count"] for r in merged.collect()} == {n_rows}
    manifest = spark.read.parquet(f"{out}/manifest").collect()
    assert sorted(r["partition"] for r in manifest) == [str(p) for p in range(8)]
    assert all(r["status"] == "COMPLETE" for r in manifest)
    per_part = (
        spark.read.parquet(f"{out}/states").groupBy("partition").count().collect()
    )
    assert {(str(r["partition"]), r["count"]) for r in per_part} == {
        (str(p), 2) for p in range(8)
    }


def test_corrupt_manifest_raises(spark, tmp_path):
    """A manifest that exists but cannot be read must raise, not read as
    empty: an empty COMPLETE set would make the orphan sweep delete
    every committed partition dir."""
    out = str(tmp_path / "corrupt")
    run_with_manifest(_parts_df(spark), _checks(), "part", out)
    for f in glob.glob(f"{out}/manifest/*.parquet"):
        Path(f).write_bytes(b"not a parquet file" * 8)
    with pytest.raises(Py4JJavaError):
        completed_partitions(spark, out)
    with pytest.raises(Py4JJavaError):
        run_with_manifest(_parts_df(spark), _checks(), "part", out)
    for p in ("0", "1", "01"):
        assert os.path.isdir(f"{out}/verdicts/partition={p}")


@pytest.mark.parametrize("writer", ["run_with_manifest", "profile_incremental"])
def test_flat_layout_refused(spark, tmp_path, writer):
    """A result dir in the flat layout older versions wrote (data files
    straight under it, `partition` a data column) is refused on resume
    with a message naming the dir; nothing is deleted."""
    df = _parts_df(spark)
    out = str(tmp_path / writer)
    if writer == "run_with_manifest":
        sub = "verdicts"

        def run():
            return run_with_manifest(df, _checks(), "part", out)

    else:
        sub = "states"

        def run():
            return profile_incremental(df, "part", out)

    run()
    flat = str(tmp_path / "flat")
    spark.read.parquet(f"{out}/{sub}").write.parquet(flat)
    shutil.rmtree(f"{out}/{sub}")
    shutil.move(flat, f"{out}/{sub}")
    files = sorted(os.listdir(f"{out}/{sub}"))
    msg = re.escape(f"{out}/{sub} ") + ".*fresh output path"
    with pytest.raises(ValueError, match=msg):
        run()
    assert sorted(os.listdir(f"{out}/{sub}")) == files


def test_store_without_format_marker_refused(spark, tmp_path):
    """A state store written before timestamp/date sketches hashed the
    native value has no state_format column; resuming over a grown
    table refuses it with a message naming a fresh state_path, before
    anything is swept or appended."""
    import datetime as dt

    rows = [
        (p, i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i))
        for p in ("0", "1", "2")
        for i in range(3)
    ]
    df = spark.createDataFrame(rows, "part string, n int, ts timestamp")
    out = str(tmp_path / "old")
    profile_incremental(df.filter("part != '2'"), "part", out)
    old = str(tmp_path / "old_states")
    spark.read.parquet(f"{out}/states").drop("state_format").write.partitionBy(
        "partition"
    ).parquet(old)
    shutil.rmtree(f"{out}/states")
    shutil.move(old, f"{out}/states")
    files = sorted(os.listdir(f"{out}/states"))
    with pytest.raises(ValueError, match="state_format.*fresh state_path"):
        profile_incremental(df, "part", out)
    assert sorted(os.listdir(f"{out}/states")) == files


def test_store_of_another_format_refused(spark, tmp_path):
    """A state store whose rows carry another state_format value than
    the one profile_state writes is refused on resume with a message
    naming a fresh state_path, before anything is swept or appended."""
    df = spark.createDataFrame(
        [(p, i) for p in ("0", "1", "2") for i in range(3)], "part string, n int"
    )
    out = str(tmp_path / "other")
    profile_incremental(df.filter("part != '2'"), "part", out)
    other = str(tmp_path / "other_states")
    spark.read.parquet(f"{out}/states").withColumn(
        "state_format", F.lit(1)
    ).write.partitionBy("partition").parquet(other)
    shutil.rmtree(f"{out}/states")
    shutil.move(other, f"{out}/states")
    files = sorted(os.listdir(f"{out}/states"))
    with pytest.raises(ValueError, match="state_format 1, not 2.*fresh state_path"):
        profile_incremental(df, "part", out)
    assert sorted(os.listdir(f"{out}/states")) == files


def test_run_with_manifest_leaves_inference_conf(spark, tmp_path):
    """The verdict read-back keeps "01" and "1" distinct string
    partitions without setting the session-global type-inference conf
    (another writer may be reading concurrently in the same session)."""
    spark.conf.unset(INFER_KEY)
    verdicts = run_with_manifest(
        _parts_df(spark), _checks(), "part", str(tmp_path / "conf")
    )
    assert spark.conf.get(INFER_KEY, None) is None
    assert dict(verdicts.dtypes)["partition"] == "string"
    assert verdicts.columns[0] == "partition"
    assert sorted({r["partition"] for r in verdicts.collect()}) == ["0", "01", "1"]


def _null_parts_df(spark):
    """Four rows; both violations of ``v_positive`` sit in the NULL
    partition."""
    rows = [(None, -1), (None, -2), ("a", 1), ("b", 2)]
    return spark.createDataFrame(rows, "part string, v int")


def _v_positive():
    return [C.row_rule("v_positive", "v > 0")]


def test_run_checks_null_partition(spark):
    """A NULL partition value gets its own verdict, sorted first like
    list_partitions sorts it, with its violations counted."""
    verdicts, violations = C.run_checks(
        _null_parts_df(spark), _v_positive(), partition_col="part"
    )
    got = [(r["partition"], r["violation_count"]) for r in verdicts.collect()]
    assert got == [(None, 2), ("a", 0), ("b", 0)]
    assert violations.filter("partition IS NULL").count() == 2


def test_run_with_manifest_null_partition(spark, tmp_path):
    """The NULL partition is checked, reported as NULL (never the string
    'None'), and committed with its violation count; a resume re-runs
    nothing."""
    df = _null_parts_df(spark)
    out = str(tmp_path / "nullpart")
    verdicts = run_with_manifest(df, _v_positive(), "part", out, batch_size=1)
    got = {r["partition"]: r["violation_count"] for r in verdicts.collect()}
    assert got == {None: 2, "a": 0, "b": 0}
    manifest = {
        r["partition"]: r["n_violations"]
        for r in spark.read.parquet(f"{out}/manifest").collect()
    }
    assert manifest == {None: 2, "a": 0, "b": 0}
    assert (
        spark.read.parquet(f"{out}/violations").filter("partition IS NULL").count()
        == 2
    )
    resumed = run_with_manifest(df, _v_positive(), "part", out, batch_size=1)
    assert _rows(resumed) == _rows(verdicts)
    assert spark.read.parquet(f"{out}/manifest").count() == 3


def test_profile_incremental_null_partition(spark, tmp_path):
    """The NULL partition's rows are profiled into the merged state."""
    merged = profile_incremental(
        _null_parts_df(spark), "part", str(tmp_path / "nullstates"), batch_size=1
    )
    assert {r["attribute"]: r["rec_count"] for r in merged.collect()} == {"v": 4}
