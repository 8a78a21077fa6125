"""Checkpointed per-partition batches behind a parquet manifest: the one
checkpoint protocol of both checkpointed writers.

The north_rule requires runs over 10^12-turn tables to be *resumable*:
a restarted job must skip partitions whose results are already
complete.  The reference has no analogue (its unit of work is one Thor
workunit); this is batch resumability per SURVEY.md §2.10 / §4.3 — a
parquet manifest keyed
``(partition, status, started_at, finished_at, n_checks, snapshot_id)``
— NOT Structured Streaming state.

Two writers share the protocol, each through a per-batch write
function handed to :func:`_run_checkpointed`:

* :func:`run_with_manifest` (validation) writes ``verdicts/`` and
  ``violations/``;
* ``incremental.profile_incremental`` (mergeable profile states)
  writes ``states/``.

Those are the result dirs the protocol owns (:data:`RESULT_DIRS`);
any other sibling under the output path (``scripts/run_job.py`` writes
``profile/`` there concurrently) is never touched.

Protocol:

1. read the COMPLETE set from the manifest;
2. list the distinct partition values ONCE per run, sorted on the
   driver, and drop the COMPLETE ones.  The listing carries the
   writer's per-partition probe when it has one: validation's
   ``segment_size="auto"`` skew probe rides the listing's own query
   (:func:`list_partitions_probed`, one scan).  A resume lists plainly
   (:func:`list_partitions`) and probes only the partitions left to
   do, so a resume with nothing left runs no probe;
3. writer setup, once per run (validation resolves
   ``segment_size="auto"`` from the probe figures of the partitions
   left to do; the incremental profile checks the stored states match
   the run's sketch settings);
4. refuse a result dir in the old flat layout and sweep orphans (below);
5. run the remaining partitions **in bounded batches**: the writer
   appends its results hive-partitioned by ``partition``, then a
   manifest row per partition is appended (THE commit point).
   Validation's ``n_violations`` comes from the batch's verdict rows,
   already on the driver — no job reads the verdicts back;
6. a crash between batches loses at most one batch of work.

Crash consistency (SURVEY.md §5's kill-mid-run claim): every run first
deletes any ``partition=`` directory NOT marked COMPLETE in the
manifest.  A process killed BETWEEN the result append and the manifest
append (the one window where results exist uncommitted) therefore
leaves orphan directories that the resume removes before re-running
those partitions — without the sweep, the re-run would APPEND a second
copy of every orphaned row (for profile states: a double-counted
``rec_count``).  Tested against a real SIGKILL for both writers
(tests/test_run_job.py, tests/test_checkpoint.py).

Reads: every output is read back with an explicit schema
(:func:`_read_results`).  Partition values are strings, and an explicit
schema keeps them verbatim (``"01"`` and ``"1"`` stay distinct, the
NULL partition reads back NULL) without touching the session-global
``partitionColumnTypeInference`` conf — two writers run concurrently
in one session, so a save/set/restore of that conf could interleave.
It also skips the parquet schema-inference job.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..plans.local import lit_df
from .constraints import (
    VERDICT_SCHEMA,
    Check,
    _probe_group,
    _probe_windows,
    _resolve_segment_size,
    _run_checks,
    _segment_size_for,
    partition_order,
)

MANIFEST_SCHEMA = (
    "partition string, status string, started_at double, finished_at double, "
    "n_checks int, n_violations long, snapshot_id string"
)

# result dirs under an output path, each hive-partitioned by
# `partition`: run_with_manifest writes the first two,
# profile_incremental the third
RESULT_DIRS = ("verdicts", "violations", "states")

# (batch rows, batch partitions) -> {partition: n_violations}
WriteBatch = Callable[[DataFrame, list], dict]


def _hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` through the Hadoop API, so the
    protocol works on HDFS/object stores, not just the local disk."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _read_results(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read a parquet output with the explicit DDL ``schema``, columns in
    the schema's order (a hive partition column would otherwise come
    last).  Partition values are cast to the schema's type verbatim,
    with no type inference and no schema-inference job."""
    return spark.read.schema(schema).parquet(path).select(
        *StructType.fromDDL(schema).names
    )


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    """The manifest under ``path``; empty only when no manifest dir
    exists.  Any other read error raises: a corrupt manifest read as
    empty would make the orphan sweep delete every committed result."""
    fs, p = _hadoop_path(spark, f"{path}/manifest")
    if not fs.exists(p):
        return lit_df(spark, [], MANIFEST_SCHEMA)
    return _read_results(spark, f"{path}/manifest", MANIFEST_SCHEMA)


def completed_partitions(spark: SparkSession, path: str) -> set[str]:
    m = read_manifest(spark, path)
    return {
        r["partition"]
        for r in m.filter(F.col("status") == "COMPLETE").select("partition").collect()
    }


def _ordered_partitions(parts: list, partition_col: str) -> list[str | None]:
    """Listed partition values NULL first, then ascending (Spark's
    ascending order).  NULL and ``''`` would both be written to the one
    ``__HIVE_DEFAULT_PARTITION__`` directory, so a crash between their
    commits could keep the other's uncommitted rows; a table holding
    both is refused."""
    if None in parts and "" in parts:
        raise ValueError(
            f"partition_col {partition_col!r} holds both NULL and '': both "
            "map to the __HIVE_DEFAULT_PARTITION__ directory; map one of "
            "them to another value first"
        )
    return sorted(parts, key=partition_order)


def list_partitions(df: DataFrame, partition_col: str) -> list[str | None]:
    """The distinct values of ``partition_col`` as strings, NULL first
    then ascending, sorted on the driver so the listing is one distinct
    job with no range-partition sampling (see
    :func:`_ordered_partitions` for the refused NULL-and-``''`` mix)."""
    parts = [
        r["p"]
        for r in df.select(F.col(partition_col).cast("string").alias("p"))
        .distinct()
        .collect()
    ]
    return _ordered_partitions(parts, partition_col)


def list_partitions_probed(
    df: DataFrame, partition_col: str, windows: list[tuple[str, str]]
) -> dict[str | None, int]:
    """:func:`list_partitions` with ``run_checks``' auto skew probe in
    the same query: ``{partition: sampled row count of its hottest
    group}``, in listing order.  One scan feeds one aggregation keyed
    by ``(partition, sampled group)``: rows the ~1/PROBE_MOD hash-sample
    leaves out all key to a NULL group, which map-side combine
    collapses to one row per partition, so every partition is listed
    while only sampled rows are counted per group.  A group that spans
    partitions is counted per partition; in the transcript job a
    conversation never does, and verdicts never depend on the probe."""
    rows = (
        df.select(
            F.col(partition_col).cast("string").alias("p"),
            _probe_group(windows, outer=True).alias("_g"),
        )
        .groupBy("p", "_g")
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy("p")
        .agg(F.max(F.when(F.col("_g").isNotNull(), F.col("_n"))).alias("_m"))
        .collect()
    )
    hottest = {r["p"]: r["_m"] or 0 for r in rows}
    return {p: hottest[p] for p in _ordered_partitions(list(hottest), partition_col)}


def _in_partitions(partition_col: str, values: list) -> Column:
    """Rows whose ``partition_col`` (as a string) is one of ``values``;
    ``None`` in ``values`` matches the NULL partition, which ``isin``
    alone never does."""
    part = F.col(partition_col).cast("string")
    cond = part.isin([v for v in values if v is not None])
    return cond | part.isNull() if None in values else cond


def _sweep_orphans(spark: SparkSession, path: str, done: set[str]) -> int:
    """Delete, under the :data:`RESULT_DIRS`: (a) hive ``partition=``
    directories whose partition is not COMPLETE in the manifest — the
    leftovers of a run killed between the result append and the
    manifest commit — and (b) any ``_temporary`` job-attempt directory
    — a kill DURING a write can leave committed task files there that
    the next append job's commitJob would otherwise merge into the
    output (FileOutputCommitter shares the ``_temporary/0`` attempt
    path across jobs), duplicating rows despite the partition sweep.
    Safe because the manifest protocol is single-writer per output dir.

    A result dir holding loose data files (the flat layout written
    before results were hive-partitioned) is refused before anything
    is deleted: the sweep cannot tell its committed rows from orphans.

    NULL and empty-string partition values both land in the
    ``__HIVE_DEFAULT_PARTITION__`` directory; that directory is
    committed iff the manifest holds either value — unquoting it to a
    literal never in ``done`` would wrongly sweep COMMITTED results on
    every resume."""
    from urllib.parse import unquote

    listings = []
    for sub in RESULT_DIRS:
        fs, p = _hadoop_path(spark, f"{path}/{sub}")
        if not fs.exists(p):
            continue
        statuses = fs.listStatus(p)
        if any(
            st.isFile() and not st.getPath().getName().startswith(("_", "."))
            for st in statuses
        ):
            raise ValueError(
                f"{path}/{sub} holds data files outside partition= "
                "directories (the flat layout of an older version); "
                "rebuild into a fresh output path"
            )
        listings.append((fs, statuses))

    default_committed = (None in done) or ("" in done)
    removed = 0
    for fs, statuses in listings:
        for st in statuses:
            name = st.getPath().getName()
            if name == "_temporary":
                fs.delete(st.getPath(), True)
                removed += 1
                continue
            if not name.startswith("partition="):
                continue
            # Spark percent-escapes special chars in partition dirs
            val = unquote(name.split("=", 1)[1])
            committed = (
                default_committed
                if val == "__HIVE_DEFAULT_PARTITION__"
                else val in done
            )
            if not committed:
                fs.delete(st.getPath(), True)
                removed += 1
    return removed


def _run_checkpointed(
    df: DataFrame,
    partition_col: str,
    path: str,
    batch_size: int,
    snapshot_id: str,
    n_checks: int,
    start: Callable[[set, dict], WriteBatch],
    probe: Callable[[DataFrame], dict] | None = None,
) -> None:
    """The checkpoint protocol (module docstring), once for every writer.

    ``probe(frame)``, when given, lists the partitions of ``frame`` like
    :func:`list_partitions` with one figure per partition, in one
    query.  A fresh run (nothing COMPLETE) lists with it; a resume lists
    plainly and probes only the partitions left to do, if any.

    ``start(done, todo)`` runs once, after the listing and before the
    sweep, with ``todo`` mapping each partition left to do to its probe
    figure (None without a probe), and returns the per-batch write
    function.  That function appends one batch's results under
    ``path`` hive-partitioned by ``partition`` and returns its
    per-partition violation counts; the batch's manifest rows are
    committed after it returns."""
    spark = df.sparkSession
    done = completed_partitions(spark, path)
    if probe is not None and not done:
        figures = probe(df)
        todo = list(figures)
    else:
        todo = [p for p in list_partitions(df, partition_col) if p not in done]
        figures = (
            probe(df.filter(_in_partitions(partition_col, todo)))
            if probe is not None and todo
            else {}
        )
    write_batch = start(done, {p: figures.get(p) for p in todo})
    _sweep_orphans(spark, path, done)
    for i in range(0, len(todo), batch_size):
        batch = todo[i : i + batch_size]
        started = time.time()
        counts = write_batch(df.filter(_in_partitions(partition_col, batch)), batch)
        finished = time.time()
        manifest_rows = [
            (p, "COMPLETE", started, finished, n_checks, counts.get(p, 0), snapshot_id)
            for p in batch
        ]
        lit_df(spark, manifest_rows, MANIFEST_SCHEMA).write.mode(
            "append"
        ).parquet(f"{path}/manifest")


def run_with_manifest(
    df: DataFrame,
    checks: list[Check],
    partition_col: str,
    output_path: str,
    key_cols: list[str] | None = None,
    batch_size: int = 8,
    snapshot_id: str = "",
    segment_size: int | str | None = "auto",
) -> DataFrame:
    """Run ``checks`` per partition with checkpoint/resume.

    Returns the full verdict DataFrame in the ``run_checks`` verdict
    contract (read back from the output so a resumed run sees prior
    batches too).  Partition batches bound the work lost on a crash;
    each batch appends verdicts, violations and manifest rows, and a
    partition appears in the manifest only after its results landed.
    """
    spark = df.sparkSession
    windows = _probe_windows(df, checks) if segment_size == "auto" else []

    def start(done: set, todo: dict) -> WriteBatch:
        # "auto" resolves from the listing's probe figures: the hottest
        # group of any partition left to do
        seg = (
            _segment_size_for(max(todo.values(), default=0))
            if windows
            else _resolve_segment_size(df, checks, segment_size)
        )

        def write_batch(batch_df: DataFrame, batch: list) -> dict:
            rows, violations = _run_checks(
                batch_df,
                checks,
                partition_col=partition_col,
                key_cols=key_cols,
                partitions=batch,  # known -> no distinct scan per batch
                segment_size=seg,
            )
            lit_df(spark, rows, VERDICT_SCHEMA).write.mode(
                "append"
            ).partitionBy("partition").parquet(f"{output_path}/verdicts")
            violations.write.mode("append").partitionBy("partition").parquet(
                f"{output_path}/violations"
            )
            counts: dict[str | None, int] = {}
            for r in rows:
                counts[r[0]] = counts.get(r[0], 0) + r[3]
            return counts

        return write_batch

    _run_checkpointed(
        df,
        partition_col,
        output_path,
        batch_size,
        snapshot_id,
        len(checks),
        start,
        probe=(
            (lambda frame: list_partitions_probed(frame, partition_col, windows))
            if windows
            else None
        ),
    )
    return _read_results(spark, f"{output_path}/verdicts", VERDICT_SCHEMA)
