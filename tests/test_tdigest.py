"""Mergeable quantile state of the incremental profile: the KLL
sketch column of profile_state, its merge into quartiles, the
quantile_delta (KLL k) pin on resume, the guard against stores written
in the older t-digest format, and the sketch-based drift screen."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datapatterns_spark.operators.incremental import (
    digest_drift,
    merge_states,
    profile_incremental,
    profile_state,
)


@pytest.fixture(scope="module")
def skew_df(spark):
    # 3 partitions with very different sizes and ranges; f has nulls,
    # s holds numeric-content strings (exercises the try_cast reading)
    rows = []
    for i in range(4000):
        rows.append(("p0", float(i % 1000), str(i % 50), None if i % 7 == 0 else i * 0.5))
    for i in range(400):
        rows.append(("p1", float(2000 + i), "x" + str(i), float(i)))
    rows.append(("p2", 9.0, "42", 1.25))
    return spark.createDataFrame(rows, "part string, n double, s string, f double")


def test_state_quantiles_merge(spark, skew_df):
    states = profile_state(skew_df, "part", quantile_delta=100.0)
    assert "q_sketch" in states.columns
    merged = {r["attribute"]: r.asDict() for r in merge_states(states).collect()}
    pdf = skew_df.toPandas()
    for attr in ("n", "f"):
        vals = pdf[attr].dropna()
        vals = vals[vals != 0.0]  # allow_zero=False fill rule
        n = len(vals)
        for col, q in (
            ("numeric_lower_quartile", 0.25),
            ("numeric_median", 0.5),
            ("numeric_upper_quartile", 0.75),
        ):
            est = merged[attr][col]
            rank = float((vals <= est).mean())
            assert abs(rank - q) < 0.03, (attr, col, est, rank)
    # numeric-content strings get digests too (same reading as profile)
    assert merged["s"]["numeric_median"] is not None


def test_state_quantiles_off_by_default(skew_df):
    states = profile_state(skew_df, "part")
    assert "q_sketch" not in states.columns
    assert "numeric_median" not in merge_states(states).columns


def test_incremental_quantile_pinning(spark, skew_df, tmp_path):
    p = str(tmp_path / "states")
    out = profile_incremental(
        skew_df, "part", p, quantile_delta=100.0, batch_size=2
    )
    rows = {r["attribute"]: r.asDict() for r in out.collect()}
    assert rows["n"]["numeric_median"] is not None
    # param mismatch against the stored states fails fast — presence…
    with pytest.raises(ValueError, match="quantile_delta mismatch"):
        profile_incremental(skew_df, "part", p)
    # …and VALUE (sketches at different compressions merge without
    # error but mix rank-error contracts silently)
    with pytest.raises(ValueError, match="delta=100.0"):
        profile_incremental(skew_df, "part", p, quantile_delta=50.0)


def test_quantile_delta_must_be_kll_k(skew_df, tmp_path):
    """quantile_delta is the KLL k: integral and inside [8, 65535],
    rejected before any work rather than truncated."""
    for bad in (100.5, 7, 65536, float("nan")):
        with pytest.raises(ValueError, match="KLL sketch k"):
            profile_state(skew_df, "part", quantile_delta=bad)
        with pytest.raises(ValueError, match="KLL sketch k"):
            profile_incremental(
                skew_df, "part", str(tmp_path / "s"), quantile_delta=bad
            )
    # an integral float is the same k as the int
    assert "q_sketch" in profile_state(skew_df, "part", quantile_delta=8.0).columns


def test_tdigest_store_refused_on_resume(spark, skew_df, tmp_path):
    """A store whose q_sketch rows are t-digest payloads (magic TD1)
    must never be merged with KLL sketches."""
    src, td = str(tmp_path / "kll"), str(tmp_path / "td")
    profile_incremental(skew_df, "part", src, quantile_delta=100.0)
    td1 = bytearray(b"TD1" + bytes(28))
    spark.read.parquet(f"{src}/states").withColumn(
        "q_sketch",
        F.when(F.col("q_sketch").isNotNull(), F.lit(td1)),
    ).write.parquet(f"{td}/states")
    spark.read.parquet(f"{src}/manifest").write.parquet(f"{td}/manifest")
    with pytest.raises(ValueError, match="t-digest store"):
        profile_incremental(skew_df, "part", td, quantile_delta=100.0)


def test_null_partition_keeps_sketch(spark):
    """A null partition key is a legal state row; its values must
    reach the merged quantiles (a plain equi-join would silently drop
    exactly that sketch while every other statistic keeps the rows)."""
    rows = [(None if i % 2 else "p", float(i + 1)) for i in range(2000)]
    df = spark.createDataFrame(rows, "part string, v double")
    states = profile_state(df, "part", quantile_delta=100.0)
    by_part = {
        r["partition"]: r["q_sketch"]
        for r in states.where(F.col("attribute") == "v").collect()
    }
    assert by_part[None] is not None and by_part["p"] is not None
    med = {
        r["attribute"]: r["numeric_median"]
        for r in merge_states(states).collect()
    }["v"]
    # with both partitions contributing, the median sits near 1000;
    # dropping the null-partition sketch would shift it to ~1001 only
    # slightly — so assert on the sketch join itself above AND on a
    # sane merged value here
    assert 900 < med < 1100


def test_digest_drift_screen(spark):
    base = spark.range(0, 20_000).select(
        F.lit("p").alias("part"),
        (F.col("id") % 1000).cast("double").alias("stable"),
        (F.col("id") % 1000).cast("double").alias("shifted"),
    )
    cur = spark.range(0, 20_000).select(
        F.lit("p").alias("part"),
        (F.col("id") % 1000).cast("double").alias("stable"),
        ((F.col("id") % 1000) + 500).cast("double").alias("shifted"),
    )
    bs = profile_state(base, "part", quantile_delta=100.0)
    cs = profile_state(cur, "part", quantile_delta=100.0)
    ks = {r["attribute"]: r["ks"] for r in digest_drift(bs, cs).collect()}
    assert ks["stable"] < 0.02
    assert ks["shifted"] > 0.3
    with pytest.raises(ValueError, match="q_sketch"):
        digest_drift(bs.drop("q_sketch"), cs)
