#!/usr/bin/env python3
"""spark-submit entry point for the profile+validate job.

Cluster deployment (the north_rule protocol), from the repository root::

    zip -r /tmp/datapatterns_spark.zip datapatterns_spark
    spark-submit --master <cluster> \
        --py-files /tmp/datapatterns_spark.zip \
        scripts/run_job.py \
        --table <iceberg-table-or-parquet-path> \
        --partition-col <col> \
        --output /path/to/run-output \
        [--baseline /path/to/baseline-profile.parquet] \
        [--resume]

Local sandbox stand-in (no cluster manager available)::

    python scripts/run_job.py --generate 100000 --output /tmp/run1

The job:

1. reads the transcript table through the pluggable source adapter
   (Iceberg if resolvable, parquet fallback);
2. profiles every column in sketch mode (the 10^12-row path);
3. runs the full constraint suite per partition with the
   checkpoint/resume manifest (``--resume`` skips partitions already
   COMPLETE in a previous run's manifest);
4. writes profile + verdicts + violations + manifest under --output.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", help="Iceberg table name or parquet path")
    ap.add_argument("--generate", type=int, default=0,
                    help="generate N synthetic conversations instead of reading --table")
    ap.add_argument("--partition-col", default="part")
    ap.add_argument("--output", required=True)
    ap.add_argument("--resume", action="store_true",
                    help="skip partitions already COMPLETE in the manifest")
    ap.add_argument("--batch-size", type=int, default=8)
    ap.add_argument("--segment-size", type=int, default=None,
                    help="bound group-check window tasks by this many "
                         "turn_idx values per segment (hot-conversation "
                         "skew hardening; see constraints.run_checks). "
                         "Unset, the library probes the hottest group "
                         "and segments automatically when one would "
                         "straggle a window task")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from datapatterns_spark.operators.manifest import run_with_manifest
    from datapatterns_spark.operators.profile import profile
    from datapatterns_spark.session import get_spark
    from datapatterns_spark.sources.tables import read_table, snapshot_id, write_table
    from datapatterns_spark.sources.transcripts import (
        generate_transcripts,
        transcript_check_suite,
    )

    spark = get_spark("datapatterns-job", master=args.master)
    t0 = time.time()

    if args.generate:
        df = generate_transcripts(spark, n_conversations=args.generate, seed=42)
        df = df.withColumn(
            args.partition_col,
            F.pmod(F.xxhash64("conv_id"), F.lit(16)).cast("string"),
        )
        snap = f"generated-{args.generate}-seed42"
    else:
        if not args.table:
            ap.error("--table or --generate required")
        df = read_table(spark, args.table)
        snap = snapshot_id(spark, args.table)
        if args.partition_col not in df.columns:
            df = df.withColumn(
                args.partition_col,
                F.pmod(F.xxhash64("conv_id"), F.lit(16)).cast("string"),
            )

    n = df.count()

    def run_profile():
        # one row per attribute: one file per table (the approx result
        # is a LocalRelation, which writes one file per core otherwise)
        prof = profile(df.drop(args.partition_col), mode="approx").coalesce(1)
        write_table(prof.drop("cardinality_breakdown", "modes",
                              "popular_patterns", "rare_patterns",
                              "correlations"),
                    f"{args.output}/profile_scalars")
        write_table(prof, f"{args.output}/profile")

    if not args.resume:
        # fresh run: a stale manifest would wrongly skip partitions
        import shutil
        for sub in ("manifest", "verdicts", "violations"):
            shutil.rmtree(f"{args.output}/{sub}", ignore_errors=True)

    # profile and validation are independent consumers of the table:
    # run them as concurrent job submissions (see bench.py note)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as ex:
        f_prof = ex.submit(run_profile)
        verdicts = run_with_manifest(
            df,
            transcript_check_suite(),
            partition_col=args.partition_col,
            output_path=args.output,
            key_cols=["conv_id", "turn_idx"],
            batch_size=args.batch_size,
            snapshot_id=snap,
            segment_size=(
                args.segment_size if args.segment_size is not None else "auto"
            ),
        )
        f_prof.result()
    n_fail = verdicts.filter(~F.col("passed")).count()
    el = time.time() - t0
    print(
        f"profiled+validated {n} turns in {el:.1f}s "
        f"({n/el:.0f} turns/sec); {n_fail} failing (partition, check) pairs; "
        f"output at {args.output}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
