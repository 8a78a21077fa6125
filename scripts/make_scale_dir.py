#!/usr/bin/env python3
"""Deterministically scale the driver testdata to a larger sf dir.

The round-4 bench evidence (VERDICT r3 item 5) needs a 10x leg: every
"fixed cost amortizes at scale" claim in BASELINE.md extrapolates from
sf0.1, so we run the same per-entry workloads at sf1.0 and check that
throughput RISES.  The driver only ships sf{0.001,0.01,0.1} and its
generator is not available, so this script synthesises sf1.0 from
sf0.1 with a deterministic replica construction (no external data, no
randomness):

* every table is the UNION of ``factor`` re-keyed replicas — replica 0
  is byte-identical to the source;
* key columns get ``rep * (max_key + 1)`` offsets, with foreign keys
  offset by the OWNING table's domain so cross-table joins stay
  FK-consistent at any factor;
* ``documents.text`` is salted per replica (EVERY token gets an
  ``_r{rep}`` suffix for rep > 0) so replicas are shingle-disjoint:
  cross-replica Jaccard is exactly 0, so the scaled corpus is "factor
  independent shards with sf0.1's internal near-dup structure" and
  per-doc candidate-pair counts stay scale-invariant.  (A first cut
  salted every 8th token, leaving cross-replica Jaccard ~0.35 — still
  INSIDE MinHash band-collision range, which handed every doc ~factor
  artificial near-twin candidates and made the MinHash-LSH entries of
  the time measure a denser corpus than sf0.1, superlinearly: 14.9x
  at factor 10.  Near-dup density, not just row count, is part of
  "the same shape at 10x".);
* ``embeddings.embedding`` gets a per-replica perturbation on one
  hash-chosen dimension so ANN top-k is not dominated by exact-tie
  duplicate vectors;
* ``region``/``nation`` are fixed-domain dimensions (25/5 rows in
  TPC-H at every sf) and are copied 1x.

Output layout matches the testdata dirs (one ``<table>.parquet`` per
table), so ``SPARK_GRAFT_SF_DIR=<out> python bench.py`` runs the whole
headline suite at the scaled sf unchanged.

Usage::

    python scripts/make_scale_dir.py [--src /root/testdata/sf0.1]
        [--out /tmp/dp_bench/sf1.0] [--factor 10]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

# key column -> table that owns its domain (offsets derive from the
# owner's max so FKs stay consistent across scaled tables)
KEY_OWNER = {
    "doc_id": ("documents", "doc_id"),
    "vec_id": ("embeddings", "vec_id"),
    "l_orderkey": ("orders", "o_orderkey"),
    "o_orderkey": ("orders", "o_orderkey"),
    "l_partkey": ("part", "p_partkey"),
    "p_partkey": ("part", "p_partkey"),
    "l_suppkey": ("supplier", "s_suppkey"),
    "s_suppkey": ("supplier", "s_suppkey"),
    "o_custkey": ("customer", "c_custkey"),
    "c_custkey": ("customer", "c_custkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
}
COPY_1X = {"region", "nation"}
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _salted_text(rep_col, text_col="text"):
    """Deterministic per-replica text mutation: suffix EVERY token with
    _r<rep> so replicas share no shingle.  Replica 0 untouched."""
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    salted = F.array_join(
        F.transform(
            toks,
            lambda t: F.concat(t, F.lit("_r"), rep_col.cast("string")),
        ),
        " ",
    )
    return F.when(F.col(text_col).isNull(), F.lit(None)).otherwise(
        F.when(rep_col == 0, F.col(text_col)).otherwise(salted)
    )


def scale_table(
    df: DataFrame, name: str, factor: int, domains: dict[str, int]
) -> DataFrame:
    rep = F.col("__rep")
    out = df.withColumn(
        "__rep", F.explode(F.array(*[F.lit(i) for i in range(factor)]))
    )
    for col in df.columns:
        if col in KEY_OWNER:
            owner_t, owner_c = KEY_OWNER[col]
            out = out.withColumn(
                col, (F.col(col) + rep * F.lit(domains[f"{owner_t}.{owner_c}"])).cast(
                    dict(df.dtypes)[col]
                ),
            )
    if name == "documents":
        out = out.withColumn("text", _salted_text(rep))
        out = out.withColumn(
            "n_chars",
            F.when(F.col("text").isNull(), F.col("n_chars")).otherwise(
                F.length("text").cast("long")
            ),
        )
    if name == "embeddings":
        dim_pick = F.pmod(rep, F.size("embedding"))
        out = out.withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, i: F.when(
                    (rep > 0) & (i == dim_pick),
                    (x + rep.cast("float") / F.lit(1000.0)).cast("float"),
                ).otherwise(x),
            ),
        )
    if name == "customer":
        # keep name uniqueness tracking custkey uniqueness
        out = out.withColumn(
            "c_name",
            F.when(
                rep > 0, F.concat(F.col("c_name"), F.lit("_r"), rep.cast("string"))
            ).otherwise(F.col("c_name")),
        )
    return out.drop("__rep").select(*df.columns)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/dp_bench/sf1.0")
    ap.add_argument("--factor", type=int, default=10)
    args = ap.parse_args()

    from datapatterns_spark.session import get_spark

    spark = get_spark("make-scale-dir")
    src = {t: spark.read.parquet(f"{args.src}/{t}.parquet") for t in TABLES}
    domains = {
        f"{t}.{c}": row[0] + 1
        for t, c in sorted({v for v in KEY_OWNER.values()})
        for row in [src[t].agg(F.max(c)).collect()[0]]
    }
    os.makedirs(args.out, exist_ok=True)
    for t in TABLES:
        dst = f"{args.out}/{t}.parquet"
        if os.path.exists(f"{dst}/_SUCCESS"):
            print(f"[skip] {dst}")
            continue
        if t in COPY_1X:
            out, nfiles = src[t], 1
        else:
            out = scale_table(src[t], t, args.factor, domains)
            # multi-file layout so scans split without balance_scan help
            nfiles = min(64, max(4, args.factor * 4))
        out.repartition(nfiles).write.mode("overwrite").parquet(dst)
        print(f"[done] {dst} rows={spark.read.parquet(dst).count()}")
    spark.stop()


if __name__ == "__main__":
    main()
