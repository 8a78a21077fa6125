"""Invariants of the deterministic scale-dir generator — the tool
behind the BASELINE.md 10x volume evidence.  If these break, the
sf1.0 numbers measure a different-shaped corpus, silently."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
sys.path.insert(0, SCRIPTS)
from make_scale_dir import KEY_OWNER, scale_table  # noqa: E402

SRC = "/root/testdata/sf0.001"
FACTOR = 3


@pytest.fixture(scope="module")
def scaled(spark):
    src = {
        t: spark.read.parquet(f"{SRC}/{t}.parquet")
        for t in ["documents", "orders", "lineitem", "part", "supplier",
                  "customer", "events", "embeddings"]
    }
    domains = {
        f"{t}.{c}": row[0] + 1
        for t, c in sorted({v for v in KEY_OWNER.values()})
        for row in [src[t].agg(F.max(c)).collect()[0]]
    }
    return src, {
        t: scale_table(df, t, FACTOR, domains) for t, df in src.items()
    }


def test_row_counts_and_schema(scaled):
    src, out = scaled
    for t, df in out.items():
        assert df.count() == src[t].count() * FACTOR, t
        assert df.schema == src[t].schema, t


def test_keys_unique_and_fk_consistent(scaled):
    src, out = scaled
    assert out["documents"].select("doc_id").distinct().count() == (
        out["documents"].count()
    )
    li, orders, part = out["lineitem"], out["orders"], out["part"]
    assert li.join(orders, li.l_orderkey == orders.o_orderkey,
                   "left_anti").count() == 0
    assert li.join(part, li.l_partkey == part.p_partkey,
                   "left_anti").count() == 0


def test_replicas_shingle_disjoint(scaled):
    """Cross-replica Jaccard must be exactly 0 (the near-dup density
    invariant BASELINE.md's 10x table depends on): every token of a
    rep>0 document carries its _r<rep> suffix, so no word shingle is
    shared across replicas."""
    src, out = scaled
    d = src["documents"].count()
    docs = out["documents"]
    toks = docs.select(
        (F.col("doc_id") / d).cast("int").alias("rep"),
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    ).where(F.col("tok") != "")
    cross = (
        toks.groupBy("tok")
        .agg(F.count_distinct("rep").alias("nreps"))
        .where(F.col("nreps") > 1)
        .count()
    )
    assert cross == 0
    # replica 0 is byte-identical to the source
    orig = {r["doc_id"]: r["text"] for r in src["documents"].collect()}
    rep0 = {
        r["doc_id"]: r["text"]
        for r in docs.where(F.col("doc_id") < d).collect()
    }
    assert rep0 == orig


def test_embeddings_distinct(scaled):
    _, out = scaled
    emb = out["embeddings"]
    assert emb.select(
        F.col("embedding").cast("string")
    ).distinct().count() == emb.count()


def test_deterministic(scaled, spark):
    src, out = scaled
    domains = {
        f"{t}.{c}": row[0] + 1
        for t, c in sorted({v for v in KEY_OWNER.values()})
        for row in [src[t].agg(F.max(c)).collect()[0]]
    }
    again = scale_table(src["documents"], "documents", FACTOR, domains)
    assert again.exceptAll(out["documents"]).count() == 0
    assert out["documents"].exceptAll(again).count() == 0
