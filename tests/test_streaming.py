"""Streaming surface: foreachBatch bridges for validation and for the
mergeable incremental profile.

The reference has no streaming operators (SURVEY.md §2.10) — these
tests cover the engine's one supported bridge: an append stream
validated / profiled per micro-batch, with per-batch overwrite writes
so foreachBatch's replay-on-failure stays exactly-once, and the
rolling profile readable at any time without rescanning old batches.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datapatterns_spark.operators import constraints as C
from datapatterns_spark.operators.incremental import merge_states, profile_state
from datapatterns_spark.streaming import (
    profile_state_sink,
    stream_profile,
    validation_sink,
)


@pytest.fixture()
def multi_file_input(spark, tmp_path):
    """A 4-file parquet directory so maxFilesPerTrigger=1 yields
    several micro-batches."""
    path = str(tmp_path / "stream_in")
    df = spark.createDataFrame(
        [
            (f"c{i % 5}", i, "user" if i % 2 else "assistant",
             f"turn text {i}", "", i * 10)
            for i in range(40)
        ],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.repartition(4).write.mode("overwrite").parquet(path)
    return path, spark.read.parquet(path)


def _run_stream(spark, in_path, schema, sink, tmp_path, name):
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_path)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive


def test_stream_profile_equals_batch(spark, tmp_path, multi_file_input):
    in_path, batch_df = multi_file_input
    out = str(tmp_path / "prof_out")
    _run_stream(
        spark, in_path, batch_df.schema,
        profile_state_sink(out), tmp_path, "prof",
    )
    streamed = {
        r["attribute"]: r.asDict()
        for r in stream_profile(spark, out).collect()
    }
    whole = {
        r["attribute"]: r.asDict()
        for r in merge_states(profile_state(batch_df)).collect()
    }
    assert set(streamed) == set(whole)
    # every stat exact vs the batch pass — including cardinality: HLL
    # register-max union is grouping-independent
    for attr, row in whole.items():
        assert streamed[attr] == row, attr


def test_stream_profile_quantile_state(spark, tmp_path, multi_file_input):
    """quantile_delta threads through the sink: the rolling profile
    carries KLL quartiles, and the micro-batch-merged estimate
    stays inside the sketch's rank-error contract vs the batch data."""
    in_path, batch_df = multi_file_input
    out = str(tmp_path / "prof_q_out")
    _run_stream(
        spark, in_path, batch_df.schema,
        profile_state_sink(out, quantile_delta=100.0), tmp_path, "prof_q",
    )
    merged = {
        r["attribute"]: r.asDict()
        for r in stream_profile(spark, out).collect()
    }
    vals = sorted(
        r["turn_idx"] for r in batch_df.select("turn_idx").collect()
        if r["turn_idx"] != 0  # allow_zero=False fill rule
    )
    est = merged["turn_idx"]["numeric_median"]
    rank = sum(1 for v in vals if v <= est) / len(vals)
    assert abs(rank - 0.5) < 0.1
    # non-numeric attrs stay null, not garbage
    assert merged["role"]["numeric_median"] is None


def test_stream_profile_batch_replay_idempotent(spark, tmp_path, multi_file_input):
    """Re-running a batch id (the foreachBatch failure-replay path)
    must not double-count: per-batch overwrite."""
    _, batch_df = multi_file_input
    out = str(tmp_path / "replay_out")
    sink = profile_state_sink(out)
    sink(batch_df, 0)
    before = stream_profile(spark, out).collect()
    sink(batch_df, 0)  # replay
    after = stream_profile(spark, out).collect()
    assert sorted(map(str, before)) == sorted(map(str, after))
    n = [r["rec_count"] for r in after]
    assert all(v == batch_df.count() for v in n)


def test_validation_sink_stream(spark, tmp_path, multi_file_input):
    in_path, batch_df = multi_file_input
    out = str(tmp_path / "val_out")
    checks = [
        C.unique("unique_turn", ["conv_id", "turn_idx"]),
        C.row_rule("text_not_null", "text IS NOT NULL"),
    ]
    _run_stream(
        spark, in_path, batch_df.schema,
        validation_sink(checks, "conv_id", out, key_cols=["conv_id", "turn_idx"]),
        tmp_path, "val",
    )
    verdicts = spark.read.parquet(f"{out}/verdicts")
    # every micro-batch wrote its own verdict rows; the clean input
    # passes everywhere
    assert verdicts.count() > 0
    assert verdicts.filter(~F.col("passed")).count() == 0
    assert {r["check_name"] for r in verdicts.select("check_name").distinct().collect()} == {
        "unique_turn", "text_not_null"
    }


def test_dedup_sink_stream(spark, tmp_path):
    """Incremental exact dedup over a real append stream: duplicates
    arriving in LATER micro-batches classify dup_of_store; exactly one
    survivor per distinct text across the whole stream."""
    from datapatterns_spark.streaming import dedup_sink

    in_path = str(tmp_path / "docs_in")
    rows = [(i, f"document body {i % 25} repeated") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # doc_id-ordered files: copies of each text land in different
    # micro-batches
    df.repartition(4, "doc_id").write.mode("overwrite").parquet(in_path)
    store_p, out_p = str(tmp_path / "fp_store"), str(tmp_path / "ddp_out")
    _run_stream(
        spark, in_path, df.schema,
        dedup_sink(store_p, out_p),
        tmp_path, "ddp",
    )
    decisions = spark.read.parquet(f"{out_p}/decisions")
    assert decisions.count() == 100
    uniques = decisions.filter("status = 'unique'")
    assert uniques.count() == 25  # one survivor per distinct text
    assert spark.read.parquet(store_p).select("fp").distinct().count() == 25
    # survivors map 1:1 onto distinct fingerprints
    assert uniques.select("fp").distinct().count() == 25
