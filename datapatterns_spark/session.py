"""SparkSession factory tuned for the profiling/validation workload.

Defaults chosen for scale (AQE on, skew handling on) — see SURVEY.md
§4.  Local test runs override parallelism via ``master``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle partition count: at cluster scale this should be ~2-3x total
# cores; AQE coalesces small partitions at runtime so a higher static
# number is safe.  Locally we match the core count.
_DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE", "32")


def get_spark(
    app_name: str = "datapatterns-spark",
    master: str | None = None,
    shuffle_partitions: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    AQE is enabled for runtime re-planning (skew joins, partition
    coalescing), and ANSI mode is disabled so malformed casts yield
    NULL (the engine's "unfilled" semantics) rather than errors.  No
    process state is touched: no operator starts a Python worker, so
    nothing needs the package on a worker's path.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or _DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        # Propagate a bucketed table's SORTED BY order into the scan's
        # outputOrdering (only applies when each bucket is one file,
        # which is how prepare_transcripts_bucketed writes).  With it,
        # group-scope window checks over a CLUSTERED BY conv_id /
        # SORTED BY (conv_id, turn_idx) table plan with no Exchange
        # AND no Sort — the layout a 10^12-row Iceberg deployment
        # (bucket(conv_id) partition transform + sort order) provides.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Generated-class cache (static).  Spark's default of 100 entries
        # is split into 4 LRU segments of about 25; one approx profile
        # generates about 80 distinct classes, so a long-running driver
        # recompiled byte-identical sources on every call.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
