"""Jobs and tasks the library's calls submit.

At the benchmark's sizes the job is bound by per-job driver cost
(planning, code generation, scheduling), so these tests pin the job
counts of the pieces the checkpointed run is built from: one
``run_checks`` batch, the state merge, the state build's plan, a
driver-built frame, and a manifest commit; and of the one-shot
profile in both modes, with the approx py4j command count and the job
names.  Jobs are counted through
``statusTracker`` under a job group set by the test; jobs that lost
the group (submitted from a library thread pool without it) are
counted too, and a separate test asserts there are none.
"""

from __future__ import annotations

import glob
import itertools
import json
import os

import pytest
from py4j import protocol as proto
from pyspark.sql import functions as F

from datapatterns_spark.operators.constraints import run_checks
from datapatterns_spark.operators.incremental import (
    _state_schema,
    merge_states,
    profile_incremental,
    profile_state,
)
from datapatterns_spark.operators.manifest import _read_results
from datapatterns_spark.operators.profile import profile
from datapatterns_spark.plans.local import lit_df
from datapatterns_spark.sources.transcripts import (
    generate_transcripts,
    transcript_check_suite,
)

KEY = ["conv_id", "turn_idx"]
_groups = itertools.count()


def _run_in_group(spark, fn) -> tuple[list[int], list[int]]:
    """Run ``fn`` under a fresh job group; return the group's job ids
    and the ids of jobs submitted meanwhile with no group at all."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    tag = f"job-counts-{next(_groups)}"
    ungrouped = set(st.getJobIdsForGroup(None))
    sc.setJobGroup(tag, tag)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    lost = sorted(set(st.getJobIdsForGroup(None)) - ungrouped)
    return list(st.getJobIdsForGroup(tag)), lost


def _jobs(spark, fn) -> list[int]:
    grouped, lost = _run_in_group(spark, fn)
    return grouped + lost


def _tasks(spark, job_ids: list[int]) -> int:
    st = spark.sparkContext.statusTracker()
    return sum(
        st.getStageInfo(s).numTasks
        for j in job_ids
        for s in st.getJobInfo(j).stageIds
    )


def _transcripts(spark):
    return generate_transcripts(spark, 120, seed=7, violation_rate=0.05).withColumn(
        "part", F.pmod(F.xxhash64("conv_id"), F.lit(4)).cast("string")
    )


def test_run_checks_batch_jobs(spark):
    """One run_checks batch materializes one violation frame and
    collects its verdict aggregation with the stat bin counts in one
    job chain: at most 6 jobs (9 when the row-check and group-check
    rows were materialized and aggregated apart)."""
    df = _transcripts(spark)
    jobs = _jobs(
        spark,
        lambda: run_checks(
            df,
            transcript_check_suite(),
            partition_col="part",
            key_cols=KEY,
            partitions=["0", "1", "2", "3"],
            segment_size=None,
        ),
    )
    assert len(jobs) <= 6, jobs


def test_merge_states_jobs_and_order(spark, tmp_path):
    """Merging stored states is one aggregation: at most 2 jobs, with
    no metadata collect and no range sort, and the rows still come
    back in the input's column order."""
    df = _transcripts(spark)
    path = str(tmp_path / "states")
    profile_state(df, "part").write.partitionBy("partition").parquet(path)
    states = _read_results(spark, path, _state_schema(None))
    rows = []
    jobs = _jobs(spark, lambda: rows.extend(merge_states(states).collect()))
    assert len(jobs) <= 2, jobs
    assert [r["attribute"] for r in rows] == [c for c in df.columns if c != "part"]


def test_profile_state_plan_has_no_join(spark):
    """The attribute metadata is attached without a join, so building a
    batch's states submits no broadcast job."""
    plan = profile_state(_transcripts(spark), "part")._jdf.queryExecution()
    assert "Join" not in plan.optimizedPlan().toString()


def test_lit_df_runs_one_task(spark):
    """A driver-built frame reads in one task, whatever the default
    parallelism."""
    jobs = _jobs(spark, lambda: lit_df(spark, [(1,), (2,)], "x int").collect())
    assert len(jobs) == 1
    assert _tasks(spark, jobs) == 1


def test_manifest_commit_writes_one_part_file(spark, tmp_path):
    """One manifest commit writes one part file (no empty schema file
    beside the one holding the rows)."""
    df = spark.range(40).selectExpr("cast(id % 3 as string) as part", "id as n")
    out = str(tmp_path / "inc")
    profile_incremental(df, "part", out, batch_size=8)
    parts = [f for f in os.listdir(f"{out}/manifest") if f.startswith("part-")]
    assert len(parts) == 1, parts


def test_library_pools_keep_the_callers_job_group(spark):
    """Jobs the library submits from its own thread pools stay in the
    caller's job group: an approx profile and a run_checks call add no
    job without a group."""
    df = _transcripts(spark)

    def calls():
        profile(df.drop("part"), mode="approx").collect()
        run_checks(df, transcript_check_suite(), partition_col="part", key_cols=KEY)

    grouped, lost = _run_in_group(spark, calls)
    assert grouped and lost == []


def test_approx_profile_jobs(spark):
    """An approx profile of the transcript fixture submits at most 4
    jobs: pass 1 and the value histogram, 2 each (6 while given-numeric
    stats had their own aggregate; 20 when it finished with window
    top-k passes, a union of per-attribute value aggregates and a
    broadcast metadata join), and its result is a LocalRelation:
    collecting it submits none."""
    df = _transcripts(spark).drop("part")
    out = []
    jobs = _jobs(spark, lambda: out.append(profile(df, mode="approx")))
    assert len(jobs) <= 4, jobs
    rows = []
    assert _jobs(spark, lambda: rows.extend(out[0].collect())) == []
    assert [r["attribute"] for r in rows] == df.columns


def test_exact_profile_jobs(spark):
    """An exact profile of the transcript fixture submits at most 17
    jobs (17 measured: the checkpointed histogram and the summary, then
    the numeric stats, value and pattern top-k cuts and correlations,
    each fetched; 32 when it finished with cluster-side joins, windows
    and array sorts, 24 of them when its result was collected), and its
    result is a LocalRelation: collecting it submits none."""
    df = _transcripts(spark).drop("part")
    out = []
    jobs = _jobs(spark, lambda: out.append(profile(df, mode="exact")))
    assert len(jobs) <= 17, jobs
    rows = []
    assert _jobs(spark, lambda: rows.extend(out[0].collect())) == []
    assert [r["attribute"] for r in rows] == df.columns


def test_approx_profile_py4j_commands(spark, monkeypatch):
    """One warm approx profile call sends at most 5,900 py4j commands
    (5,628 measured; 7,066 while the melt's generator and the integral
    digit count were built as chained Columns; 11,494 when each
    attribute had its own best-type CASE branch and the result was
    shaped by Spark columns).  Counted as in test_local.py."""
    df = _transcripts(spark).drop("part")
    client = spark.sparkContext._gateway._gateway_client
    calls = []
    send = client.send_command
    release = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME

    def counting(command, *args, **kwargs):
        if not command.startswith(release):
            calls.append(command)
        return send(command, *args, **kwargs)

    profile(df, mode="approx")  # warm any first-use lookups
    monkeypatch.setattr(client, "send_command", counting)
    profile(df, mode="approx")
    monkeypatch.undo()
    assert len(calls) <= 5_900, len(calls)


@pytest.mark.parametrize("mode", ["exact", "approx"])
def test_profile_jobs_carry_a_phase(spark, tmp_path, mode):
    """Every job of a profile runs in a named phase: its ``dp.phase``
    local property and its description are both set.  The job-start
    properties are read from an event log written by a listener
    attached for this call."""
    sc = spark.sparkContext._jsc.sc()
    jvm = spark.sparkContext._jvm
    conf = (
        sc.conf()
        .clone()
        .set("spark.eventLog.compress", "false")
        .set("spark.eventLog.rolling.enabled", "false")
    )
    listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
        "phase-test",
        jvm.scala.Option.empty(),
        jvm.java.net.URI(tmp_path.as_uri()),
        conf,
        sc.hadoopConfiguration(),
    )
    listener.start()
    sc.addSparkListener(listener)
    try:
        profile(_transcripts(spark).drop("part"), mode=mode).collect()
        sc.listenerBus().waitUntilEmpty()
    finally:
        sc.removeSparkListener(listener)
        listener.stop()
    starts = [
        ev.get("Properties") or {}
        for f in glob.glob(str(tmp_path / "*"))
        for ev in map(json.loads, open(f))
        if ev["Event"] == "SparkListenerJobStart"
    ]
    assert starts
    phases = [p.get("dp.phase") for p in starts]
    assert all(ph and ph.startswith("profile.") for ph in phases), phases
    assert [p.get("spark.job.description") for p in starts] == phases


def test_warm_approx_profile_compiles_no_class(spark):
    """The generated-class cache holds a profile's classes across calls:
    an approx profile repeated after an exact one (which generates its
    own classes) compiles nothing.  With Spark's default of 100 cache
    entries the exact profile evicts most of the first call's classes."""
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = cm.METRIC_COMPILATION_TIME()
    df = _transcripts(spark).drop("part")
    profile(df, mode="approx").collect()
    profile(df, mode="exact").collect()
    before = compiled.getCount()
    profile(df, mode="approx").collect()
    assert compiled.getCount() == before
