"""Streaming surface.

The reference has **no streaming operators** — every entry point is a
batch macro over a bounded DATASET (SURVEY.md §2.10; checked across
Profile/Cardinality/Benford/Validation/BestRecordStructure).  This
engine is likewise batch-over-table; "resumable from checkpoint" in
the north_rule is *batch* resumability (the per-partition manifest in
``operators.manifest``), not Structured Streaming state.

For pipelines that want rolling validation of an append stream, two
bridges are supported: ``foreachBatch`` (run the batch check suite /
profile-state merge / dedup store per micro-batch) and — round 3 —
a custom STATEFUL operator (``sessionize_conversations``, built on
``applyInPandasWithState``) keeping bounded per-conversation session
state with processing-time timeout close.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def validation_sink(checks, partition_col: str, output_path: str, key_cols=None):
    """Return a ``foreachBatch`` function that runs the batch check
    suite on each micro-batch and appends per-partition verdicts +
    violations.  Usage::

        stream.writeStream.foreachBatch(
            validation_sink(checks, "part", "/out")).start()
    """
    from ..operators.constraints import run_checks

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        verdicts, violations = run_checks(
            batch_df, checks, partition_col=partition_col, key_cols=key_cols
        )
        # per-batch subdirectories + overwrite: foreachBatch replays a
        # micro-batch after a failure, so an append here would double-
        # count — the overwrite makes the replay idempotent
        (
            verdicts.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .parquet(f"{output_path}/verdicts/batch={batch_id}")
        )
        (
            violations.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .parquet(f"{output_path}/violations/batch={batch_id}")
        )

    return _sink


def profile_state_sink(
    state_path: str,
    partition_col=None,
    field_list=None,
    allow_zero: bool = False,
    quantile_delta: float | None = None,
):
    """Return a ``foreachBatch`` function that profiles each
    micro-batch into MERGEABLE state rows (operators/incremental.py) —
    a rolling whole-stream profile without ever re-scanning old data::

        stream.writeStream.foreachBatch(
            profile_state_sink("/out")).trigger(availableNow=True).start()

    Read the running profile at any time with
    :func:`stream_profile`.  Every statistic is exact vs a batch pass
    over everything seen so far except cardinality (HLL union — and
    HLL register-max union is grouping-independent, so the estimate
    equals the single-pass sketch's).  ``quantile_delta`` adds the
    mergeable KLL quantile sketch (``k = quantile_delta``) per state
    row, so the rolling profile also carries quartiles (approximate,
    within KLL's rank error at that k — same contract as the batch
    incremental profile).  Batch writes go
    to per-batch subdirectories with overwrite so foreachBatch's
    replay-on-failure semantics stay exactly-once."""
    from ..operators.incremental import profile_state

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            profile_state(
                batch_df,
                partition_col,
                field_list=field_list,
                allow_zero=allow_zero,
                quantile_delta=quantile_delta,
            )
            .write.mode("overwrite")
            .parquet(f"{state_path}/states/batch={batch_id}")
        )

    return _sink


def stream_profile(spark, state_path: str) -> DataFrame:
    """Fold every state row written by :func:`profile_state_sink` into
    one profile summary row per attribute (no data rescans)."""
    from ..operators.incremental import merge_states

    return merge_states(spark.read.parquet(f"{state_path}/states/batch=*"))


def dedup_sink(
    store_path: str,
    output_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
):
    """Return a ``foreachBatch`` function performing incremental exact
    dedup of an append stream against a persistent fingerprint store::

        stream.writeStream.foreachBatch(
            dedup_sink("/store", "/out")).start()

    Per micro-batch: classify every document as ``unique`` /
    ``dup_in_batch`` / ``dup_of_store``
    (:func:`~datapatterns_spark.operators.dedup.incremental_exact_dedup`),
    write decisions to ``output_path/decisions/batch=N``, and append
    the new unique fingerprints to the store as
    ``store_path/batch=N``.

    Replay-idempotent by construction: both writes OVERWRITE their own
    per-batch directory, and the store read EXCLUDES the current
    batch's partition — so a replayed batch sees exactly the store
    state of its first run and reproduces identical decisions (the
    plain-append formulation would see its own first-run uniques and
    reclassify everything as ``dup_of_store``)."""
    from ..operators.dedup import incremental_exact_dedup

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql.utils import AnalysisException

        spark = batch_df.sparkSession
        try:
            # hive-style batch=N dirs surface as a `batch` column
            store = spark.read.parquet(store_path).filter(
                F.col("batch") != batch_id
            )
            if not store.columns:
                store = None
        except AnalysisException:
            store = None  # first batch: no store yet
        decisions = incremental_exact_dedup(
            batch_df, store, text_col=text_col, id_col=id_col,
            normalize=normalize,
        )
        (
            decisions.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .parquet(f"{output_path}/decisions/batch={batch_id}")
        )
        (
            decisions.filter(F.col("status") == "unique")
            .select("fp")
            .distinct()
            .write.mode("overwrite")
            .parquet(f"{store_path}/batch={batch_id}")
        )

    return _sink


def minhash_dedup_sink(
    sig_store_path: str,
    output_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
):
    """NEAR-dup analogue of :func:`dedup_sink`: incremental MinHash
    dedup of an append stream against a persistent SIGNATURE store
    (64 longs/doc — prior batches' text is never rescanned)::

        stream.writeStream.foreachBatch(
            minhash_dedup_sink("/sigs", "/out")).start()

    Per micro-batch: classify every document as ``unique`` /
    ``dup_in_batch`` / ``dup_of_store`` by signature-estimated Jaccard
    over shared LSH band buckets
    (:func:`~datapatterns_spark.operators.dedup.incremental_minhash_dedup`),
    write decisions to ``output_path/decisions/batch=N``, and append
    the SURVIVORS' signatures to the store as
    ``sig_store_path/batch=N``.

    Replay-idempotent by the same construction as :func:`dedup_sink`:
    per-batch overwrite writes + a store read that EXCLUDES the
    current batch's partition."""
    from ..operators.dedup import incremental_minhash_dedup

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql.utils import AnalysisException

        spark = batch_df.sparkSession
        try:
            store = (
                spark.read.parquet(sig_store_path)
                .filter(F.col("batch") != batch_id)
                .drop("batch")
            )
            if not store.columns:
                store = None
        except AnalysisException:
            store = None  # first batch: no store yet
        decisions, new_sigs = incremental_minhash_dedup(
            batch_df, store, text_col=text_col, id_col=id_col,
            threshold=threshold,
        )
        (
            decisions.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .parquet(f"{output_path}/decisions/batch={batch_id}")
        )
        (
            new_sigs.join(
                decisions.filter(F.col("status") == "unique").select("id"),
                "id",
                "left_semi",
            )
            .write.mode("overwrite")
            .parquet(f"{sig_store_path}/batch={batch_id}")
        )

    return _sink


def sessionize_conversations(
    stream_df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    text_col: str = "text",
    ts_col: str = "ts",
    timeout_ms: int | None = None,
    event_timeout_ms: int | None = None,
    watermark_delay: str = "10 seconds",
):
    """Custom STATEFUL streaming operator (``applyInPandasWithState``
    — the input_hint's sanctioned shape for state Spark can't express
    with windowed aggs): a running per-conversation session summary
    over a turn stream.

    Emits one UPDATE row per conversation per trigger that saw new
    turns: ``(conv, n_turns, fp_xor, fp_sum, first_ts, last_ts,
    closed)`` where the fingerprint folds are EXACTLY
    :func:`~datapatterns_spark.operators.dedup.conversation_fingerprints`'
    batch semantics (count + bit_xor + arbitrary-precision sum over
    ``xxhash64(turn_idx || ':' || text)``) — the equivalence is
    test-pinned, so a downstream conversation-dedup store can be fed
    from the stream OR from batch interchangeably.  With
    ``timeout_ms`` set, a conversation idle for that long (processing
    time) emits one final row with ``closed = true`` and drops its
    state — streaming sessionization with bounded state.

    ``event_timeout_ms`` (mutually exclusive with ``timeout_ms``)
    closes on EVENT time instead: the stream is watermarked on
    ``ts_col`` with ``watermark_delay`` lateness, each update arms a
    timeout at ``last event ts + event_timeout_ms``, and the close
    fires when the WATERMARK passes it — the production shape for a
    transcript stream, where "idle" means the conversation's own
    clock went quiet, not the ingest pipeline's (a backlog replay
    closes nothing spuriously, and late turns within the watermark
    still fold in before the close).  Unlike the processing-time
    variant, the query settles under ``processAllAvailable`` (the
    watermark only advances with data).

    Scale shape: the per-turn hash is computed JVM-side BEFORE the
    stateful exchange (the state function folds pre-hashed longs with
    vectorized/object-int arithmetic — no per-row Python on text);
    state per conversation is five scalars regardless of turn count.

    Returns the output DataFrame; attach ``.writeStream`` in update
    mode.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if timeout_ms is not None and event_timeout_ms is not None:
        raise ValueError(
            "pass either timeout_ms (processing time) or "
            "event_timeout_ms (event time), not both"
        )

    cols = [
        F.col(conv_col).cast("string").alias("conv"),
        F.xxhash64(
            F.concat(
                F.col(turn_col).cast("string"),
                F.lit(":"),
                F.coalesce(F.col(text_col), F.lit("")),
            )
        ).alias("h"),
        (F.col(ts_col).cast("double") * 1000).cast("long").alias("ts_ms"),
    ]
    if event_timeout_ms is not None:
        # event-time mode keeps the raw timestamp column solely to
        # carry the watermark; other modes keep the exchange slim
        cols.append(F.col(ts_col).alias("ts_event"))
    slim = stream_df.select(*cols)
    if event_timeout_ms is not None:
        slim = slim.withWatermark("ts_event", watermark_delay)

    out_schema = (
        "conv string, n_turns long, fp_xor long, fp_sum string, "
        "first_ts long, last_ts long, closed boolean"
    )
    state_schema = (
        "n long, x long, s string, first_ts long, last_ts long"
    )

    def fold(key, pdfs, state: GroupState):
        (conv,) = key
        if state.hasTimedOut:
            n, x, s, f, l = state.get
            state.remove()
            yield pd.DataFrame(
                [(conv, n, x, s, f, l, True)],
                columns=[
                    "conv", "n_turns", "fp_xor", "fp_sum",
                    "first_ts", "last_ts", "closed",
                ],
            )
            return
        if state.exists:
            n, x, s_str, f, l = state.get
            s = int(s_str)
        else:
            n, x, s, f, l = 0, 0, 0, None, None
        import numpy as np

        for pdf in pdfs:
            if not len(pdf):
                continue
            arr = pdf["h"].to_numpy(dtype="int64")
            n += int(arr.size)
            # exact vectorized folds: bitwise-xor reduce is closed over
            # int64; the sum goes through astype(object) -> Python ints
            # (arbitrary precision — matches the batch decimal(38,0))
            x ^= int(np.bitwise_xor.reduce(arr))
            s += int(arr.astype(object).sum())
            ts = pdf["ts_ms"].dropna()
            if len(ts):
                lo, hi = int(ts.min()), int(ts.max())
                f = lo if f is None else min(f, lo)
                l = hi if l is None else max(l, hi)
        state.update((n, x, str(s), f, l))
        if timeout_ms is not None:
            state.setTimeoutDuration(int(timeout_ms))
        elif event_timeout_ms is not None:
            # close when the WATERMARK passes the conversation's own
            # last event + the idle budget; the engine requires the
            # armed timestamp to sit beyond the current watermark, so
            # a conversation already older than the budget (a late
            # straggler group) closes at the next watermark tick.
            # A conversation with NO valid event time yet (all-null
            # ts — dirty data) arms off the watermark alone: without
            # an armed timestamp EventTimeTimeout would never fire and
            # its state would live forever
            anchor = (
                int(l) if l is not None else state.getCurrentWatermarkMs()
            )
            state.setTimeoutTimestamp(
                max(
                    anchor + int(event_timeout_ms),
                    state.getCurrentWatermarkMs() + 1,
                )
            )
        yield pd.DataFrame(
            [(conv, n, x, str(s), f, l, False)],
            columns=[
                "conv", "n_turns", "fp_xor", "fp_sum",
                "first_ts", "last_ts", "closed",
            ],
        )

    if timeout_ms is not None:
        timeout = GroupStateTimeout.ProcessingTimeTimeout
    elif event_timeout_ms is not None:
        timeout = GroupStateTimeout.EventTimeTimeout
    else:
        timeout = GroupStateTimeout.NoTimeout
    return slim.groupBy("conv").applyInPandasWithState(
        fold, out_schema, state_schema, "update", timeout
    )
