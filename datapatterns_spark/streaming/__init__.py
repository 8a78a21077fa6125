"""Streaming surface.

The reference has **no streaming operators** — every entry point is a
batch macro over a bounded DATASET (SURVEY.md §2.10; checked across
Profile/Cardinality/Benford/Validation/BestRecordStructure).  This
engine is likewise batch-over-table; "resumable from checkpoint" in
the north_rule is *batch* resumability (the per-partition manifest in
``operators.manifest``), not Structured Streaming state.

For pipelines that want rolling validation of an append stream, the
bridge is ``foreachBatch``: run the batch check suite
(:func:`validation_sink`), fold each micro-batch into mergeable
profile states (:func:`profile_state_sink`, read back with
:func:`stream_profile`), or exact-dedup against a persistent
fingerprint store (:func:`dedup_sink`).
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
    one profile summary row per attribute (no data rescans).  The
    ``states`` directory is read as a whole: partition discovery adds
    the ``batch`` column, which :func:`merge_states` ignores."""
    from ..operators.incremental import merge_states

    return merge_states(spark.read.parquet(f"{state_path}/states"))


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

