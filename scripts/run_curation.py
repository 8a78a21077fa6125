#!/usr/bin/env python3
"""spark-submit entry point for the training-data CURATION pipeline —
the data-processing counterpart of scripts/run_job.py's
profile+validate job.

Cluster deployment::

    cd /root/repo && zip -r /tmp/datapatterns_spark.zip datapatterns_spark
    spark-submit --master <cluster> \
        --py-files /tmp/datapatterns_spark.zip \
        scripts/run_curation.py \
        --docs <parquet-path-with-doc_id,text> \
        --output /path/to/curation-output \
        [--partitions 64] [--min-quality 0.2] [--languages en,de] \
        [--max-top-ngram-frac 0.5] [--redact] [--resume]

The corpus is processed in bounded batches of hash partitions
(``pmod(xxhash64(doc_id), P)``), each batch:

1. annotate + gate (language / quality / Gopher repetition bounds)
   and optionally PII-redact (``operators.curation.curate_documents``);
2. dedup against the run's accumulated FINGERPRINT STORE
   (``operators.dedup.incremental_exact_dedup``) — cross-batch dups
   drop without ever rescanning earlier batches' text; the store read
   EXCLUDES the current batch id, so re-running a failed batch is
   idempotent;
3. write surviving documents + new store fingerprints + a manifest
   row per partition (the commit point — ``--resume`` skips COMPLETE
   partitions, losing at most one batch on a crash).

Outputs under --output: ``data/batch=N`` (curated parquet),
``fps/batch=N`` (fingerprint store), ``manifest``, and a final stats
line on stdout.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", help="parquet path with (doc_id, text)")
    ap.add_argument("--use-testdata", default=None,
                    help="sf dir: read <dir>/documents.parquet instead of --docs")
    ap.add_argument("--output", required=True)
    ap.add_argument("--partitions", type=int, default=16)
    ap.add_argument("--batch-size", type=int, default=4,
                    help="hash partitions per batch (crash-loss bound)")
    ap.add_argument("--min-quality", type=float, default=None)
    ap.add_argument("--languages", default=None,
                    help="comma-separated lang codes to keep")
    ap.add_argument("--max-dup-line-frac", type=float, default=None)
    ap.add_argument("--max-top-ngram-frac", type=float, default=None)
    ap.add_argument("--redact", action="store_true")
    ap.add_argument("--dedup", choices=["exact", "minhash"], default="exact",
                    help="cross-batch dedup mode: exact fingerprint store"
                         " (default) or MinHash near-dup vs a signature"
                         " store under --output/sigs")
    ap.add_argument("--minhash-threshold", type=float, default=0.8,
                    help="signature-estimated Jaccard threshold for"
                         " --dedup minhash")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--overwrite", action="store_true",
                    help="clear a non-empty --output produced with"
                         " DIFFERENT run parameters and start fresh"
                         " (without it such a run refuses, resume or"
                         " not: stale fps/sigs stores and data/batch=N"
                         " partitions from the old parameterization"
                         " would silently leak into this run)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    from datapatterns_spark.operators.curation import curate_documents
    from datapatterns_spark.operators.dedup import (
        incremental_exact_dedup,
        incremental_minhash_dedup,
    )
    from datapatterns_spark.operators.manifest import (
        MANIFEST_SCHEMA,
        completed_partitions,
    )
    from datapatterns_spark.plans.local import lit_df
    from datapatterns_spark.session import get_spark
    from datapatterns_spark.sources.tables import read_table

    spark = get_spark(
        "dp-curation",
        master=args.master,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    src = (
        f"{args.use_testdata}/documents.parquet" if args.use_testdata else args.docs
    )
    if not src:
        ap.error("pass --docs or --use-testdata")
    docs = read_table(spark, src).select("doc_id", "text")
    P = args.partitions
    docs = docs.withColumn(
        "part", F.pmod(F.xxhash64("doc_id"), F.lit(P)).cast("string")
    )
    out = args.output
    # record the run parameters that determine partition identity and
    # dedup-store membership; --resume trusts the manifest's partition
    # labels, so resuming with a different P would remap
    # pmod(xxhash64(doc_id), P) and silently skip documents that now
    # hash into a partition marked COMPLETE under the old P (and
    # double-process others).  Fail fast on any mismatch.
    import json

    params_json = json.dumps(
        {
            "source": src,
            "partitions": P,
            "min_quality": args.min_quality,
            "languages": args.languages,
            "max_dup_line_frac": args.max_dup_line_frac,
            "max_top_ngram_frac": args.max_top_ngram_frac,
            "redact": args.redact,
            "dedup": args.dedup,
            "minhash_threshold": (
                args.minhash_threshold if args.dedup == "minhash" else None
            ),
        },
        sort_keys=True,
    )
    try:
        stored_params = spark.read.parquet(f"{out}/params").collect()[0][
            "params_json"
        ]
    except AnalysisException:
        stored_params = None
    if stored_params is not None and stored_params != params_json:
        # a non-resume run into a parameter-mismatched output is just
        # as wrong as a mismatched --resume: it would inherit the old
        # parameterization's fps/sigs dedup stores, manifest rows and
        # leftover data/batch=N partitions.  Refuse unless --overwrite
        # explicitly clears the old run.
        if args.overwrite and not args.resume:
            import shutil

            print(
                f"[curation] --overwrite: clearing {out} "
                "(previous run used different parameters)"
            )
            for sub in ("data", "fps", "sigs", "manifest", "params"):
                shutil.rmtree(os.path.join(out, sub), ignore_errors=True)
            stored_params = None
        else:
            verb = "--resume" if args.resume else "run into this --output"
            sys.exit(
                f"[curation] refusing to {verb}: it was produced with "
                "different run parameters (partitioning / gates / "
                "redaction), so its dedup stores, manifest rows and "
                "data partitions do not describe the current run.\n"
                f"  stored:  {stored_params}\n"
                f"  current: {params_json}\n"
                "Re-run with the stored flags, start a fresh --output, "
                "or pass --overwrite (non-resume) to clear it."
            )
    if stored_params != params_json:
        lit_df(spark, [(params_json,)], "params_json string").write.mode(
            "overwrite"
        ).parquet(f"{out}/params")
    done = completed_partitions(spark, out) if args.resume else set()
    todo = [str(p) for p in range(P) if str(p) not in done]
    langs = args.languages.split(",") if args.languages else None

    t_start = time.time()
    total_in = total_kept = 0
    for bi in range(0, len(todo), args.batch_size):
        batch = todo[bi : bi + args.batch_size]
        batch_id = int(batch[0])  # stable per batch under resume
        started = time.time()
        sub = docs.filter(F.col("part").isin(batch)).drop("part")
        part_of = F.pmod(F.xxhash64("doc_id"), F.lit(P)).cast("string")
        in_counts = {
            r["p"]: r["n"]
            for r in sub.groupBy(part_of.alias("p"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        n_in = sum(in_counts.values())
        # gates WITHOUT redaction: dedup must fingerprint the RAW
        # normalized text (redact first and distinct docs differing
        # only in PII values collapse); survivors are redacted below
        cur = curate_documents(
            sub,
            min_quality=args.min_quality,
            languages=langs,
            dedup=None,  # dedup handled below against the run store
            redact=False,
            max_dup_line_frac=args.max_dup_line_frac,
            max_top_ngram_char_frac=args.max_top_ngram_frac,
        )
        new_sigs = None
        if args.dedup == "minhash":
            # near-dup mode: classify against the run's accumulated
            # MinHash SIGNATURE store (64 longs/doc — prior batches'
            # text is never rescanned); store read excludes the
            # current batch so re-running a failed batch stays
            # idempotent, exactly like the exact-fp store
            try:
                sig_store = (
                    spark.read.parquet(f"{out}/sigs")
                    .filter(F.col("batch") != batch_id)
                    .drop("batch")
                )
            except AnalysisException:
                sig_store = None
            decisions, new_sigs = incremental_minhash_dedup(
                cur, sig_store, threshold=args.minhash_threshold
            )
            decisions = decisions.cache()
        else:
            try:
                store = spark.read.parquet(f"{out}/fps").filter(
                    F.col("batch") != batch_id
                )
            except AnalysisException:
                store = None
            # slim (id, fp, status) frame cached: the keep-list join,
            # the fps store write, and the kept-count all read it
            # instead of re-running the full gate pipeline per action
            decisions = incremental_exact_dedup(cur, store).cache()
        keep = decisions.filter(F.col("status") == "unique")
        curated = cur.join(
            keep.select(F.col("id").alias("doc_id")), "doc_id", "left_semi"
        )
        if args.redact:
            from datapatterns_spark.operators.textanalysis import (
                PII_PATTERNS,
                redact_pii,
            )

            curated = (
                redact_pii(curated, "text")
                .drop("text", *[f"n_{k}" for k in PII_PATTERNS])
                .withColumnRenamed("redacted", "text")
            )
        curated = curated.cache()
        kept_counts = {
            r["p"]: r["n"]
            for r in curated.groupBy(part_of.alias("p"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        n_kept = sum(kept_counts.values())
        curated.write.mode("overwrite").parquet(f"{out}/data/batch={batch_id}")
        if args.dedup == "minhash":
            # append the SURVIVORS' signatures to the store (the
            # docstring contract of incremental_minhash_dedup)
            new_sigs.join(
                keep.select("id"), "id", "left_semi"
            ).write.mode("overwrite").parquet(f"{out}/sigs/batch={batch_id}")
        else:
            keep.select("fp").distinct().write.mode("overwrite").parquet(
                f"{out}/fps/batch={batch_id}"
            )
        finished = time.time()
        lit_df(
            spark,
            [
                (
                    p,
                    "COMPLETE",
                    started,
                    finished,
                    1,
                    int(in_counts.get(p, 0) - kept_counts.get(p, 0)),
                    "",
                )
                for p in batch
            ],
            MANIFEST_SCHEMA,
        ).write.mode("append").parquet(f"{out}/manifest")
        curated.unpersist()
        decisions.unpersist()
        total_in += n_in
        total_kept += n_kept
        print(f"[curation] batch {batch_id}: {n_in} in -> {n_kept} kept",
              file=sys.stderr)
    el = time.time() - t_start
    print(
        f"curated {total_in} docs -> kept {total_kept} "
        f"({100.0 * total_kept / max(total_in, 1):.1f}%) in {el:.1f}s; "
        f"output at {out}"
    )


if __name__ == "__main__":
    main()
