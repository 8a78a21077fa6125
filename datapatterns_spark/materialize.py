"""Lineage-cut materialization for reused intermediates, gated on a
deployment-level switch.

Several operators materialize a shared intermediate once so multiple
consumers (band fan-outs, verdict aggregations, iterative loops) don't
recompute it.  The library default is ``DataFrame.localCheckpoint``:
materialized in one job, freed by the ContextCleaner when the frame is
unreferenced (no CacheManager leak — the round-3 fix), and the cut
lineage also removes per-consumer Catalyst re-optimization of large
expression trees.

The documented trade (Spark's own caveat for ``localCheckpoint``): the
checkpointed partitions live UNREPLICATED in executor storage with the
lineage truncated, so losing an executor mid-job — dynamic allocation
scale-in, spot/preemptible decommission — fails the job instead of
recomputing the lost partitions.  On clusters where that matters, pick
a mode per deployment:

* ``localCheckpoint`` (default) — fastest; right for fixed-size
  on-demand clusters and the single-JVM sandbox.
* ``persist`` — ``MEMORY_AND_DISK`` persist with lineage retained:
  executor loss recomputes the lost partitions from source.  Entries
  stay in the session CacheManager until the job boundary calls
  :func:`release_all` (or ``spark.catalog.clearCache()``) — a
  long-running driver that never releases will accumulate cached
  frames, which is exactly why this is not the default.
* ``checkpoint`` — reliable checkpoint to the configured
  ``spark.sparkContext.setCheckpointDir`` (HDFS/object store):
  survives executor loss AND frees executor memory, at the cost of a
  write+read of the intermediate.  Requires the checkpoint dir to be
  set; right for very long jobs on preemptible fleets.

Select with ``set_materialize_mode(...)`` or the ``DP_MATERIALIZE``
environment variable (read per call, so ``spark-submit --conf
spark.executorEnv...``-style wiring works without imports).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

VALID_MODES = ("localCheckpoint", "persist", "checkpoint")

_mode: str | None = None
_persisted: list[DataFrame] = []


def materialize_mode() -> str:
    """The active mode: ``set_materialize_mode`` wins, then the
    ``DP_MATERIALIZE`` env var, then ``localCheckpoint``."""
    mode = _mode if _mode is not None else os.environ.get(
        "DP_MATERIALIZE", "localCheckpoint"
    )
    if mode not in VALID_MODES:
        raise ValueError(
            f"DP_MATERIALIZE={mode!r} is not one of {VALID_MODES}"
        )
    return mode


def set_materialize_mode(mode: str | None) -> None:
    """Override the materialization mode (``None`` = back to env/default)."""
    if mode is not None and mode not in VALID_MODES:
        raise ValueError(f"mode {mode!r} is not one of {VALID_MODES}")
    global _mode
    _mode = mode


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize a reused intermediate under the active mode.

    ``eager=False`` defers the materializing job to the first consumer
    — for iterative loops where the next aggregation is the natural
    materializer.  Eager ``persist`` runs a ``count()`` to populate the
    cache before parallel consumers race past it."""
    mode = materialize_mode()
    if mode == "persist":
        out = df.persist()
        _persisted.append(out)
        if eager:
            out.count()
        return out
    if mode == "checkpoint":
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def release_all() -> int:
    """Unpersist every frame materialized under ``persist`` mode —
    call at job boundaries (one ingest batch / one profile run).
    Returns the number of frames released.  No-op entries (already
    unpersisted / other modes) are harmless."""
    n = len(_persisted)
    while _persisted:
        _persisted.pop().unpersist()
    return n
