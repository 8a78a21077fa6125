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


def test_sessionize_conversations_equals_batch(spark, tmp_path, multi_file_input):
    """The applyInPandasWithState session summary, driven through a
    real readStream over multiple micro-batches, converges to EXACTLY
    the batch conversation_fingerprints folds (count / bit_xor /
    decimal sum) plus correct first/last timestamps."""
    from datapatterns_spark.operators.dedup import conversation_fingerprints
    from datapatterns_spark.streaming import sessionize_conversations

    in_path, batch_df = multi_file_input
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_path)
    )
    out = sessionize_conversations(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("sess_mem")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive

    rows = spark.sql("select * from sess_mem").collect()
    assert rows and all(not r["closed"] for r in rows)
    # latest update per conversation = the full-session summary
    final = {}
    for r in rows:
        if r["conv"] not in final or r["n_turns"] > final[r["conv"]]["n_turns"]:
            final[r["conv"]] = r
    want = {
        r["conv"]: r
        for r in conversation_fingerprints(batch_df).collect()
    }
    assert set(final) == set(want)
    for conv, w in want.items():
        got = final[conv]
        assert got["n_turns"] == w["n_turns"]
        assert got["fp_xor"] == w["fp_xor"]
        assert got["fp_sum"] == str(w["fp_sum"])  # decimal(38,0) vs str
    # timestamps: min/max of the conversation's ts in millis
    ts = {
        r["conv_id"]: r
        for r in batch_df.groupBy("conv_id")
        .agg(
            (F.min(F.col("ts").cast("double")) * 1000).cast("long").alias("f"),
            (F.max(F.col("ts").cast("double")) * 1000).cast("long").alias("l"),
        )
        .collect()
    }
    for conv, got in final.items():
        assert (got["first_ts"], got["last_ts"]) == (ts[conv]["f"], ts[conv]["l"])


def test_sessionize_conversations_timeout_closes(spark, tmp_path):
    """With timeout_ms set, an idle conversation emits one final
    closed=true row and drops its state (processing-time timeout —
    the bounded-state guarantee).  NOTE: a ProcessingTimeTimeout query
    runs continuous no-data state-cleanup batches, so
    processAllAvailable never settles — the test POLLS the memory
    sink instead (the cleanup batches are also what fire the timeouts
    without any new data arriving)."""
    import time as _time

    from datapatterns_spark.operators.dedup import conversation_fingerprints
    from datapatterns_spark.streaming import sessionize_conversations

    schema = (
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp"
    )
    batch = spark.createDataFrame(
        [
            ("A", 0, "user", "hello", "", None),
            ("A", 1, "assistant", "world", "", None),
            ("B", 0, "user", "x", "", None),
        ],
        schema,
    )
    in_dir = tmp_path / "sess_in"
    batch.coalesce(1).write.mode("overwrite").parquet(str(in_dir / "b1"))
    stream = spark.readStream.schema(schema).parquet(str(in_dir) + "/*")
    out = sessionize_conversations(stream, timeout_ms=500)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("sess_to")
        .option("checkpointLocation", str(tmp_path / "ckpt_to"))
        .start()
    )
    try:
        deadline = _time.time() + 90
        rows = []
        while _time.time() < deadline:
            rows = spark.sql("select * from sess_to").collect()
            if {r["conv"] for r in rows if r["closed"]} >= {"A", "B"}:
                break
            _time.sleep(1.0)
    finally:
        q.stop()
    closed = {r["conv"]: r for r in rows if r["closed"]}
    assert set(closed) == {"A", "B"}, [str(r) for r in rows]
    # the closing summary carries the FULL session fold — equal to the
    # batch fingerprints
    want = {r["conv"]: r for r in conversation_fingerprints(batch).collect()}
    for conv, w in want.items():
        assert closed[conv]["n_turns"] == w["n_turns"]
        assert closed[conv]["fp_xor"] == w["fp_xor"]
        assert closed[conv]["fp_sum"] == str(w["fp_sum"])
    # open (running-summary) rows were emitted before the close
    assert {r["conv"] for r in rows if not r["closed"]} >= {"A", "B"}


def test_minhash_dedup_sink_stream(spark, tmp_path):
    """Incremental NEAR-dup dedup over a real append stream: near-
    copies (one word changed out of 30) arriving in later micro-
    batches classify against the signature store; one survivor per
    near-dup group; the store holds signatures for survivors only."""
    from datapatterns_spark.streaming import minhash_dedup_sink

    rows = []
    for u in range(20):
        words = [f"w{u}word{k}" for k in range(30)]
        rows.append((u * 100, " ".join(words)))
        for c in (1, 2):
            rows.append((u * 100 + c, " ".join(words[:-1] + [f"alt{c}"])))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    in_path = str(tmp_path / "mh_in")
    # doc_id-hashed files scatter each group's copies across batches
    df.repartition(4, "doc_id").write.mode("overwrite").parquet(in_path)
    sig_p, out_p = str(tmp_path / "sig_store"), str(tmp_path / "mh_out")
    _run_stream(
        spark, in_path, df.schema,
        minhash_dedup_sink(sig_p, out_p, threshold=0.8),
        tmp_path, "mhddp",
    )
    decisions = spark.read.parquet(f"{out_p}/decisions")
    assert decisions.count() == 60
    uniques = decisions.filter("status = 'unique'")
    assert uniques.count() == 20  # one survivor per near-dup group
    sigs = spark.read.parquet(sig_p)
    assert sigs.count() == 20  # survivors only
    assert sum(c.startswith("m") for c in sigs.columns) == 64


def test_sessionize_event_time_timeout_closes_with_late_turns(spark, tmp_path):
    """event_timeout_ms closes a conversation when the WATERMARK
    passes its last event + idle budget (event time, not wall clock):
    a late-but-within-watermark turn still folds into the session
    before the close, and the closed row equals the batch
    conversation_fingerprints fold exactly.  EventTimeTimeout settles
    under availableNow (the watermark only advances with data), unlike
    the processing-time variant."""
    from datapatterns_spark.operators.dedup import conversation_fingerprints
    from datapatterns_spark.streaming import sessionize_conversations

    schema = (
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp"
    )

    def mk(rows):
        return spark.createDataFrame(
            [(c, t, "user", x, "", float(ts)) for c, t, x, ts in rows],
            "conv_id string, turn_idx int, role string, text string,"
            " tool string, ts double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    in_dir = tmp_path / "sess_evt_in"
    # b1: A active (last event 12s), B active (11s)
    mk([("A", 0, "hello", 10.0), ("A", 1, "world", 12.0),
        ("B", 0, "hi", 11.0)]).coalesce(1).write.parquet(str(in_dir / "b1"))
    # b2: a LATE turn for A (ts 13s, behind B's 30s but >= watermark)
    # plus B progress that pushes the watermark to 30s
    mk([("A", 2, "late addendum", 13.0),
        ("B", 1, "more", 30.0)]).coalesce(1).write.parquet(str(in_dir / "b2"))
    # b3: fresh conversation C; at this batch's start the watermark
    # (30s) has passed A's last-event(13s)+5s budget -> A closes
    mk([("C", 0, "new", 40.0)]).coalesce(1).write.parquet(str(in_dir / "b3"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*")
    )
    out = sessionize_conversations(
        stream, event_timeout_ms=5_000, watermark_delay="0 seconds"
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("sess_evt")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess_evt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive

    rows = spark.sql("select * from sess_evt").collect()
    closed = {r["conv"]: r for r in rows if r["closed"]}
    assert "A" in closed and "C" not in closed
    a = closed["A"]
    # the close carries the FULL fold, late turn included
    batch_a = mk(
        [("A", 0, "hello", 10.0), ("A", 1, "world", 12.0),
         ("A", 2, "late addendum", 13.0)]
    )
    want = conversation_fingerprints(batch_a).collect()[0]
    assert a["n_turns"] == want["n_turns"] == 3
    assert a["fp_xor"] == want["fp_xor"]
    assert a["fp_sum"] == str(want["fp_sum"])
    assert (a["first_ts"], a["last_ts"]) == (10_000, 13_000)
    # mutually exclusive timeout modes are rejected up front
    with pytest.raises(ValueError, match="not both"):
        sessionize_conversations(stream, timeout_ms=1, event_timeout_ms=1)


def test_sessionize_event_time_closes_null_ts_conversations(spark, tmp_path):
    """A conversation whose every turn has a NULL timestamp (dirty
    data) must still close under event-time mode: without an armed
    timeout its state would live forever and no closed row would ever
    surface.  It arms off the watermark alone."""
    from datapatterns_spark.streaming import sessionize_conversations

    schema = (
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp"
    )

    def mk(rows):
        return spark.createDataFrame(
            [
                (c, t, "user", x, "", float(ts) if ts is not None else None)
                for c, t, x, ts in rows
            ],
            "conv_id string, turn_idx int, role string, text string,"
            " tool string, ts double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    in_dir = tmp_path / "sess_null_in"
    # b1: N has ONLY null-ts turns; B carries the event clock
    mk([("N", 0, "no clock", None), ("N", 1, "still none", None),
        ("B", 0, "hi", 10.0)]).coalesce(1).write.parquet(str(in_dir / "b1"))
    # b2: B pushes the watermark well past N's watermark-anchored budget
    mk([("B", 1, "more", 60.0)]).coalesce(1).write.parquet(str(in_dir / "b2"))
    # b3: keeps the stream moving so b2's watermark fires timeouts
    mk([("B", 2, "again", 90.0)]).coalesce(1).write.parquet(str(in_dir / "b3"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*")
    )
    out = sessionize_conversations(
        stream, event_timeout_ms=5_000, watermark_delay="0 seconds"
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("sess_null")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess_null"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    closed = {
        r["conv"]: r
        for r in spark.sql("select * from sess_null").collect()
        if r["closed"]
    }
    assert "N" in closed
    n = closed["N"]
    assert n["n_turns"] == 2
    assert n["first_ts"] is None and n["last_ts"] is None
