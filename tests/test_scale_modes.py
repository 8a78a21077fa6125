"""Exact-vs-sketch tolerance tests (SURVEY.md §5.4): the approx mode's
cardinality (DataSketches HLL, lgK 14, ~0.8% RSE) and
percentile_approx quantiles must track the exact mode within
documented error bounds."""

import pytest

from datapatterns_spark.operators.profile import profile


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")


def _by_attr(df):
    return {r["attribute"]: r.asDict(recursive=True) for r in df.collect()}


def test_hll_cardinality_tolerance(spark, lineitem):
    exact = _by_attr(profile(lineitem, features=("cardinality",), mode="exact"))
    approx = _by_attr(profile(lineitem, features=("cardinality",), mode="approx"))
    for attr, e in exact.items():
        a = approx[attr]["cardinality"]
        if e["cardinality"] == 0:
            assert a == 0
        else:
            rel = abs(a - e["cardinality"]) / e["cardinality"]
            assert rel < 0.05, (attr, e["cardinality"], a)


def test_sketch_quantiles_tolerance(spark, lineitem):
    feats = ("min_max", "mean", "std_dev", "quartiles")
    exact = _by_attr(profile(lineitem, features=feats, mode="exact"))
    approx = _by_attr(profile(lineitem, features=feats, mode="approx"))
    for attr, e in exact.items():
        a = approx[attr]
        # min/max/mean/stddev are exact in both modes
        for k in ("numeric_min", "numeric_max", "numeric_mean", "numeric_std_dev"):
            assert a[k] == pytest.approx(e[k], abs=1e-4), (attr, k)
        # quantiles: sketch within a small value tolerance of the
        # reference's positional quartiles
        spread = (e["numeric_max"] - e["numeric_min"]) or 1.0
        for k in ("numeric_lower_quartile", "numeric_median", "numeric_upper_quartile"):
            assert abs(a[k] - e[k]) <= 0.02 * spread + 1e-9, (attr, k, e[k], a[k])


def test_approx_profile_modes_match_exact_for_low_card(spark, lineitem):
    from datapatterns_spark.operators.profile import ProfileParams

    limit = ProfileParams().approx_mode_card_limit
    exact = _by_attr(profile(lineitem, features=("modes", "cardinality"), mode="exact"))
    approx = _by_attr(profile(lineitem, features=("modes", "cardinality"), mode="approx"))
    for attr in exact:
        if exact[attr]["cardinality"] <= limit * 0.9:
            # low-card attributes: approx modes are exact
            assert exact[attr]["modes"] == approx[attr]["modes"], attr
        elif exact[attr]["cardinality"] > limit * 1.1:
            # high-card attributes are skipped in approx mode
            # (documented deviation)
            assert approx[attr]["modes"] == [], attr


def test_fill_and_lengths_identical_across_modes(spark, lineitem):
    feats = ("fill_rate", "lengths")
    exact = _by_attr(profile(lineitem, features=feats, mode="exact"))
    approx = _by_attr(profile(lineitem, features=feats, mode="approx"))
    assert exact == approx


def test_heavy_pattern_candidate_path(spark):
    """The near-unique pattern space path (sampled candidates + exact
    resolution) must surface dominant patterns with EXACT counts and
    keep rare/popular disjoint."""
    from pyspark.sql import functions as F

    from datapatterns_spark.operators.profile import (
        ProfileParams,
        _profile_flat_approx,
    )
    from datapatterns_spark.plans.schema_walk import walk_schema

    # 800 rows of one dominant pattern, 400 of a second, plus ~1000
    # rows spread over 23*13=299 distinct short letter/digit-run
    # patterns (each unique pattern stays under the 100-char pattern
    # truncation)
    df = spark.range(2200).select(
        F.when(F.col("id") < 800, F.lit("AB12"))
        .when((F.col("id") >= 800) & (F.col("id") < 1200), F.lit("zz zz"))
        .otherwise(
            F.concat(
                F.repeat(F.lit("X"), (F.col("id") % 23 + 1).cast("int")),
                F.repeat(F.lit("7"), (F.col("id") % 13 + 1).cast("int")),
            )
        )
        .alias("t")
    )
    attrs, _ = walk_schema(df.schema, None)
    # limit=10 < the ~19 sampled-distinct-pattern estimate (the 1/16
    # value-hash gate samples whole values, so ~300 true patterns
    # estimate as ~19) -> the column classifies HEAVY and exercises the
    # sampled-candidates + exact-resolution machinery; max_patterns
    # stays well under the candidate count so the rare side is fed
    params = ProfileParams(
        features=("patterns", "fill_rate"),
        mode="approx",
        approx_pattern_limit=10,
        max_patterns=10,
    )
    out = _profile_flat_approx(df, attrs, params, "", "")[0]
    pats = {p["data_pattern"]: p["rec_count"] for p in out["popular_patterns"]}
    # exact resolved counts for the dominant patterns (800 "AB12" rows
    # plus the 3 generated "XX77" values share pattern AA99)
    assert pats["AA99"] == 803
    assert pats["aa aa"] == 400
    # rare patterns disjoint from popular ones (anti-join J3)
    rare = {p["data_pattern"] for p in out["rare_patterns"]}
    assert rare.isdisjoint(set(pats))
    assert len(rare) > 0


def test_nth_digit_integral_fast_path_matches_generic(spark):
    from pyspark.sql import functions as F

    from datapatterns_spark.functions.benford_digit import nth_digit

    df = spark.range(-5000, 5000).select(F.col("id").cast("long").alias("v"))
    for pos in (1, 2, 3, 4):
        mismatch = (
            df.select(
                nth_digit(F.col("v"), pos).alias("slow"),
                nth_digit(F.col("v"), pos, integral=True).alias("fast"),
            )
            .filter(F.col("slow") != F.col("fast"))
            .count()
        )
        assert mismatch == 0, pos


def test_nth_digit_fractional_fast_path_matches_generic(spark):
    from pyspark.sql import functions as F

    from datapatterns_spark.functions.benford_digit import nth_digit

    # dense coverage of renderings: integers-as-double, fractions,
    # sub-1 values with leading zeros, scientific notation (tiny/huge),
    # specials
    df = (
        spark.range(-3000, 3000)
        .select((F.col("id") / 7.0).alias("v"))
        .union(spark.range(1, 200).select((F.lit(1.0) / F.pow(F.lit(10.0), F.col("id") % 12)).alias("v")))
        .union(spark.range(1, 200).select((F.col("id") * F.pow(F.lit(10.0), F.col("id") % 19)).alias("v")))
        .union(
            spark.createDataFrame(
                [(0.0,), (None,), (float("nan"),), (float("inf"),), (float("-inf"),), (1e-300,), (9.99e307,)],
                "v double",
            )
        )
    )
    for pos in (1, 2, 3, 4):
        mismatch = (
            df.select(
                "v",
                nth_digit(F.col("v"), pos).alias("slow"),
                nth_digit(F.col("v"), pos, fractional=True).alias("fast"),
            )
            .filter(
                F.col("slow").eqNullSafe(F.col("fast")) == F.lit(False)
            )
            .collect()
        )
        assert mismatch == [], (pos, mismatch[:5])


def test_approx_patterns_modes_breakdown_match_exact(spark, lineitem):
    """The approx profile's driver finish ranks patterns and values on
    the driver; wherever approx mode is exact by design, it must agree
    with exact mode's cluster-side Window/array_sort rankings, ties
    included: popular and rare patterns of every attribute whose
    pattern space is light (all of lineitem's), the cardinality
    breakdown, and the modes of low-cardinality attributes."""
    from datapatterns_spark.operators.profile import ProfileParams

    limit = ProfileParams().approx_mode_card_limit
    feats = ("patterns", "modes", "cardinality_breakdown", "cardinality")
    exact = _by_attr(profile(lineitem, features=feats, mode="exact"))
    approx = _by_attr(profile(lineitem, features=feats, mode="approx"))
    assert set(exact) == set(approx)
    tied = 0
    for attr, e in exact.items():
        a = approx[attr]
        for k in ("popular_patterns", "rare_patterns", "cardinality_breakdown"):
            assert a[k] == e[k], (attr, k)
        if e["cardinality"] <= limit * 0.9:
            assert a["modes"] == e["modes"], attr
        for k in ("popular_patterns", "rare_patterns", "cardinality_breakdown"):
            counts = [p["rec_count"] for p in e[k]]
            tied += len(counts) - len(set(counts))
    assert tied > 0  # the tie-breaks were exercised


def test_light_pattern_prereduction_matches_full_fetch(spark, lineitem, monkeypatch):
    """Over the driver-row budget, the light-pattern histogram is
    reduced to its top/bottom-k survivors by salted window passes
    before the fetch; the profile is identical either way.  A negative
    budget forces the reduction."""
    from datapatterns_spark.operators import profile as profile_mod

    full = [r.asDict(recursive=True) for r in profile(lineitem, mode="approx").collect()]
    monkeypatch.setattr(profile_mod, "_DRIVER_ROW_BUDGET", -1)
    reduced = [r.asDict(recursive=True) for r in profile(lineitem, mode="approx").collect()]
    assert full == reduced


def test_approx_profile_of_a_date_column(spark):
    """A DateType column takes approx mode's arithmetic temporal path;
    its fill, lengths, patterns and modes equal exact mode's."""
    from pyspark.sql import functions as F

    df = spark.range(300).select(
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.date_add(F.lit("2020-01-01").cast("date"), (F.col("id") % 40).cast("int")))
        .alias("d")
    )
    feats = ("fill_rate", "lengths", "patterns", "modes")
    exact = _by_attr(profile(df, features=feats, mode="exact"))
    approx = _by_attr(profile(df, features=feats, mode="approx"))
    assert approx == exact


def test_sketch_cardinality_zero_for_unfilled_columns(spark):
    """An all-NULL string column and an all-zero numeric column have no
    filled values, so the sketch sees no input: cardinality 0."""
    df = spark.createDataFrame(
        [(None, 0), (None, 0), (None, 0)], "s string, n int"
    )
    approx = _by_attr(profile(df, features=("cardinality",), mode="approx"))
    assert approx["s"]["cardinality"] == 0
    assert approx["n"]["cardinality"] == 0


def test_sketch_cardinality_matches_exact_and_incremental(spark):
    """Both profile paths estimate cardinality with one sketch family at
    one lgK: on the transcript table the one-shot approx estimate is
    within 2% of the exact count and of the merged incremental states'
    estimate, for every column."""
    from datapatterns_spark.operators.incremental import merge_states, profile_state
    from datapatterns_spark.sources.transcripts import generate_transcripts

    df = generate_transcripts(spark, n_conversations=2000, seed=11).cache()
    try:
        exact = _by_attr(profile(df, features=("cardinality",), mode="exact"))
        approx = _by_attr(profile(df, features=("cardinality",), mode="approx"))
        merged = _by_attr(merge_states(profile_state(df)))
    finally:
        df.unpersist()
    assert set(approx) == set(exact) == set(merged)
    for attr, e in exact.items():
        a = approx[attr]["cardinality"]
        for ref in (e["cardinality"], merged[attr]["cardinality"]):
            if ref == 0:
                assert a == 0, attr
            else:
                assert abs(a - ref) / ref < 0.02, (attr, ref, a)


def test_out_of_range_temporal_patterns_join_their_group(spark):
    """Timestamp and date rows outside the 4-digit-year fast range have
    the same finished pattern as the in-range rows of their rendered
    length: approx mode lists that pattern once, with the count and
    least example exact mode gives, not once per range."""
    from pyspark.sql import functions as F

    base = spark.range(20_000).select(
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id") * 61).alias("ts"),
        F.date_add(F.lit("1990-01-01").cast("date"), F.col("id").cast("int")).alias("d"),
    )
    edges = spark.createDataFrame(
        [("9999-12-30 01:02:03", "9999-12-30"), ("0001-01-01 01:02:03", "0001-01-01")],
        "ts string, d string",
    ).select(F.col("ts").cast("timestamp"), F.col("d").cast("date"))
    df = base.unionByName(edges)
    feats = ("patterns",)
    exact = _by_attr(profile(df, features=feats, mode="exact"))
    approx = _by_attr(profile(df, features=feats, mode="approx"))
    assert approx["ts"]["popular_patterns"] == [
        {
            "data_pattern": "9999-99-99 99:99:99",
            "rec_count": 20_002,
            "example": "0001-01-01 01:02:03",
        }
    ]
    assert approx["d"]["popular_patterns"] == [
        {"data_pattern": "9999-99-99", "rec_count": 20_002, "example": "0001-01-01"}
    ]
    assert approx == exact
