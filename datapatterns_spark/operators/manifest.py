"""Checkpointed per-partition lineage + metrics manifest.

The north_rule requires validation runs over 10^12-turn tables to be
*resumable*: a restarted job must skip partitions whose verdicts are
already complete.  The reference has no analogue (its unit of work is
one Thor workunit); this is batch resumability per SURVEY.md §2.10 /
§4.3 — a parquet manifest keyed
``(partition, status, started_at, finished_at, n_checks, snapshot_id)``
— NOT Structured Streaming state.

Protocol:

1. list the distinct partition values ONCE per run
   (:func:`list_partitions`: one distinct scan, sorted on the driver);
2. drop partitions already COMPLETE in the manifest;
3. resolve ``segment_size="auto"`` ONCE per run, with one skew probe
   over the remaining partitions, and pass the result to every batch;
4. run the check suite on the remaining partitions **in bounded
   batches**, appending verdicts/violations + a manifest row per
   finished partition (the manifest append is THE commit point).  Each
   manifest row's ``n_violations`` comes from the batch's verdict rows,
   already on the driver — no job reads the verdicts back;
5. a crash between batches loses at most one batch of work.

Crash consistency (SURVEY.md §5's kill-mid-run claim): verdicts and
violations are written hive-partitioned by ``partition``, and every
run first deletes any ``partition=`` directory NOT marked COMPLETE in
the manifest.  A process killed BETWEEN the result append and the
manifest append (the one window where results exist uncommitted)
therefore leaves orphan directories that the resume removes before
re-running those partitions — without the sweep, the re-run would
APPEND a second copy of every orphaned row.  Tested against a real
SIGKILL in tests/test_run_job.py.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.local import lit_df
from .constraints import VERDICT_SCHEMA, Check, _resolve_segment_size, _run_checks

MANIFEST_SCHEMA = (
    "partition string, status string, started_at double, finished_at double, "
    "n_checks int, n_violations long, snapshot_id string"
)


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    try:
        return spark.read.parquet(f"{path}/manifest")
    except Exception:
        return lit_df(spark, [], MANIFEST_SCHEMA)


def completed_partitions(spark: SparkSession, path: str) -> set[str]:
    m = read_manifest(spark, path)
    return {
        r["partition"]
        for r in m.filter(F.col("status") == "COMPLETE").select("partition").collect()
    }


def list_partitions(df: DataFrame, partition_col: str) -> list[str | None]:
    """The distinct values of ``partition_col`` as strings, NULL first
    then ascending (Spark's ascending order), sorted on the driver so
    the listing is one distinct job with no range-partition sampling.

    NULL and ``''`` would both be written to the one
    ``__HIVE_DEFAULT_PARTITION__`` directory, so a crash between their
    commits could keep the other's uncommitted rows; a table holding
    both is refused."""
    parts = [
        r["p"]
        for r in df.select(F.col(partition_col).cast("string").alias("p"))
        .distinct()
        .collect()
    ]
    if None in parts and "" in parts:
        raise ValueError(
            f"partition_col {partition_col!r} holds both NULL and '': both "
            "map to the __HIVE_DEFAULT_PARTITION__ directory; map one of "
            "them to another value first"
        )
    return sorted(parts, key=lambda p: (p is not None, p or ""))


def _sweep_orphans(spark: SparkSession, path: str, done: set[str]) -> int:
    """Delete, under verdicts/violations: (a) hive ``partition=``
    directories whose partition is not COMPLETE in the manifest — the
    leftovers of a run killed between the result append and the
    manifest commit — and (b) any ``_temporary`` job-attempt directory
    — a kill DURING a write can leave committed task files there that
    the next append job's commitJob would otherwise merge into the
    output (FileOutputCommitter shares the ``_temporary/0`` attempt
    path across jobs), duplicating rows despite the partition sweep.
    Safe because the manifest protocol is single-writer.  Hadoop
    FileSystem API, so the same sweep works on HDFS/object stores, not
    just the local sandbox.

    NULL and empty-string partition values both land in the
    ``__HIVE_DEFAULT_PARTITION__`` directory; that directory is
    committed iff the manifest holds either value — unquoting it to a
    literal never in ``done`` would wrongly sweep COMMITTED results on
    every resume."""
    from urllib.parse import unquote

    default_committed = (None in done) or ("" in done)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    removed = 0
    for sub in ("verdicts", "violations"):
        p = jvm.org.apache.hadoop.fs.Path(f"{path}/{sub}")
        fs = p.getFileSystem(conf)
        if not fs.exists(p):
            continue
        for st in fs.listStatus(p):
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

    Returns the full verdict DataFrame (read back from the output so a
    resumed run sees prior batches too).  Partition batches bound the
    work lost on a crash; each batch appends verdicts, violations and
    manifest rows (parquet append is atomic per task-commit, and a
    partition appears in the manifest only after its results landed).
    """
    spark = df.sparkSession
    done = completed_partitions(spark, output_path)
    _sweep_orphans(spark, output_path, done)
    todo = [p for p in list_partitions(df, partition_col) if p not in done]
    in_todo = F.col(partition_col).cast("string").isin
    if todo:
        segment_size = _resolve_segment_size(
            df.filter(in_todo(todo)), checks, segment_size
        )

    for i in range(0, len(todo), batch_size):
        batch = todo[i : i + batch_size]
        started = time.time()
        rows, violations = _run_checks(
            df.filter(in_todo(batch)),
            checks,
            partition_col=partition_col,
            key_cols=key_cols,
            partitions=batch,  # known -> no distinct scan per batch
            segment_size=segment_size,
        )
        # hive-partitioned by `partition` so an uncommitted batch is a
        # set of whole directories the next run's orphan sweep removes
        lit_df(spark, rows, VERDICT_SCHEMA).write.mode("append").partitionBy(
            "partition"
        ).parquet(f"{output_path}/verdicts")
        violations.write.mode("append").partitionBy("partition").parquet(
            f"{output_path}/violations"
        )
        counts: dict[str | None, int] = {}
        for r in rows:
            counts[r[0]] = counts.get(r[0], 0) + r[3]
        finished = time.time()
        manifest_rows = [
            (p, "COMPLETE", started, finished, len(checks), counts.get(p, 0), snapshot_id)
            for p in batch
        ]
        lit_df(spark, manifest_rows, MANIFEST_SCHEMA).write.mode(
            "append"
        ).parquet(f"{output_path}/manifest")

    # normalize the hive-partitioned read back to the run_checks verdict
    # contract: `partition` a STRING in its original first position.
    # Type inference must be OFF for this read — inferring "01" and
    # "1" as ints would collapse distinct string partitions and drop
    # leading zeros; with it off the hive values round-trip verbatim.
    infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    old = spark.conf.get(infer_key, "true")
    spark.conf.set(infer_key, "false")
    try:
        out = spark.read.parquet(f"{output_path}/verdicts")
    finally:
        spark.conf.set(infer_key, old)
    return out.select(
        F.col("partition").cast("string").alias("partition"),
        *[c for c in out.columns if c != "partition"],
    )
