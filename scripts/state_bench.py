#!/usr/bin/env python3
"""Volume bench for the incremental/state layer — the operators whose
Arrow-batch memory and frame-volume claims the sf1.0 table
(BASELINE.md "10x volume step") did not yet cover.

Usage: python scripts/state_bench.py <cpus> <sf_dir>

Measures, at <sf_dir> scale:

* ``state_build`` — profile_state over orders (HLL + KLL rows,
  quantile_delta=100 as the KLL k) written to a parquet store, per
  partition of o_orderpriority: one scan and one JVM aggregation, the
  quantile sketch being one more column of it;
* ``state_merge`` — merge_states over the stored rows read back (the
  no-rescan fold, incl. the kll_merge_agg_double quartiles);
* ``digest_drift`` — KS between two stores built from the orderkey
  parity halves (stored-state-only drift, no data rescan).

Prints ONE JSON line.  Same steady-state convention as bench.py: a
warm pass at sf0.001 compiles the plan shapes outside the timed
region; `host_probe_s` tags host capacity.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cpus, sf_dir = sys.argv[1], sys.argv[2]
    from bench import _host_probe, build_session

    from pyspark.sql import functions as F

    from datapatterns_spark.operators.incremental import (
        digest_drift,
        merge_states,
        profile_state,
    )

    probe = _host_probe()
    spark = build_session(cpus)
    base = tempfile.mkdtemp(prefix="dp_state_bench_")
    timings: dict[str, float] = {}
    extras: dict[str, int] = {}

    def phase(name, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        print(f"[state-bench] {name}: {timings[name]}s", file=sys.stderr,
              flush=True)
        return out

    # warm: same plan shapes on the small dir (JIT/codegen outside the
    # timed region — at deployment scale this cost is zero)
    warm_orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    attrs = ["o_orderkey", "o_custkey", "o_totalprice"]
    profile_state(
        warm_orders, "o_orderpriority", field_list=attrs, quantile_delta=100.0
    ).write.mode("overwrite").parquet(f"{base}/warm")
    merge_states(spark.read.parquet(f"{base}/warm")).collect()

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    extras["orders_rows"] = orders.count()

    phase(
        "state_build",
        lambda: profile_state(
            orders, "o_orderpriority", field_list=attrs, quantile_delta=100.0
        ).write.mode("overwrite").parquet(f"{base}/store"),
    )
    extras["state_rows"] = spark.read.parquet(f"{base}/store").count()
    phase(
        "state_merge",
        lambda: merge_states(spark.read.parquet(f"{base}/store")).collect(),
    )
    # drift inputs: parity halves, stored separately (the per-ingest
    # shape: drift runs from checkpointed states alone)
    for side, pred in (("even", "pmod(o_orderkey, 2) = 0"),
                       ("odd", "pmod(o_orderkey, 2) = 1")):
        profile_state(
            orders.where(F.expr(pred)), "o_orderpriority",
            field_list=attrs, quantile_delta=100.0,
        ).write.mode("overwrite").parquet(f"{base}/{side}")
    phase(
        "digest_drift",
        lambda: digest_drift(
            spark.read.parquet(f"{base}/even"),
            spark.read.parquet(f"{base}/odd"),
        ).collect(),
    )

    shutil.rmtree(base, ignore_errors=True)
    spark.stop()
    print(json.dumps({
        "host_probe_s": probe,
        "cpus": int(cpus),
        "sf_dir": sf_dir,
        "timings": timings,
        **extras,
    }))


if __name__ == "__main__":
    main()
