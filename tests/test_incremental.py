"""Incremental / mergeable profile: merge-equals-whole exactness,
checkpoint/resume, best-type parity with the main profile, and
all-NaN partitions in the KLL quantile state (the rest of the
quantile-state tests are in test_tdigest.py)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from datapatterns_spark.operators.incremental import (
    merge_states,
    profile_incremental,
    profile_state,
)
from datapatterns_spark.operators.profile import profile


@pytest.fixture(scope="module")
def fixture_df(spark):
    rows = [
        # (part, s: strings w/ dups+empties+numeric-content, n: ints w/
        #  zeros+negatives, f: doubles w/ nulls)
        ("p0", "Dan", 100, 1.5),
        ("p0", "Dan", -250, None),
        ("p0", "", 0, 2.25),
        ("p0", "42", 100, 0.0),
        ("p1", "Ångström", 7, -1.5),
        ("p1", "Dan", 2000, 4.0),
        ("p1", None, 0, 2.25),
        ("p2", "x" * 60, 9, None),
    ]
    return spark.createDataFrame(rows, "part string, s string, n int, f double")


def _by_attr(df):
    return {r["attribute"]: r.asDict() for r in df.collect()}


def test_merge_equals_whole(fixture_df):
    """Per-partition states merged == single whole-input state merged,
    exactly, for every non-sketch statistic."""
    whole = _by_attr(merge_states(profile_state(fixture_df, "part")))
    # merge of 3 per-partition states vs ONE whole-input state
    one = merge_states(profile_state(fixture_df.drop("part"), None))
    one_rows = _by_attr(one)
    for attr, row in whole.items():
        for k, v in row.items():
            if k == "cardinality":
                # HLL union estimate vs single sketch: both estimates,
                # tiny inputs -> must agree exactly at this scale
                assert abs(v - one_rows[attr][k]) <= max(1, 0.02 * v)
            else:
                assert one_rows[attr][k] == v, (attr, k, v, one_rows[attr][k])


def test_decomposable_stats_exact(fixture_df):
    out = _by_attr(merge_states(profile_state(fixture_df, "part")))
    s, n, f = out["s"], out["n"], out["f"]
    # s: 8 rows, filled = non-empty trimmed strings (6: Dan x3, 42,
    # Ångström, xxx...)
    assert s["rec_count"] == 8 and s["fill_count"] == 6
    assert s["min_length"] == 2 and s["max_length"] == 60
    assert s["ave_length"] == (3 + 3 + 2 + 8 + 3 + 60) // 6
    assert s["fill_rate"] == 75.0
    # n: zeros are unfilled (allow_zero=False)
    assert n["rec_count"] == 8 and n["fill_count"] == 6
    assert n["numeric_min"] == -250.0 and n["numeric_max"] == 2000.0
    vals = [100, -250, 100, 7, 2000, 9]
    mean = sum(vals) / len(vals)
    var = sum((x - mean) ** 2 for x in vals) / len(vals)
    assert n["numeric_mean"] == round(mean, 4)
    assert abs(n["numeric_std_dev"] - round(var**0.5, 4)) <= 1e-9
    # f: NULL and 0.0 unfilled -> 5 filled
    assert f["fill_count"] == 5
    assert f["numeric_min"] == -1.5 and f["numeric_max"] == 4.0


def test_cardinality_estimate(fixture_df):
    out = _by_attr(merge_states(profile_state(fixture_df, "part")))
    # exact distinct filled values: s: {Dan, 42, Ångström, x*60} = 4
    # n: {100, -250, 7, 2000, 9} = 5 ; f: {1.5, 2.25, -1.5, 4.0} = 4
    assert out["s"]["cardinality"] == 4
    assert out["n"]["cardinality"] == 5
    assert out["f"]["cardinality"] == 4


def test_best_type_matches_profile(spark, fixture_df):
    """Merged best_attribute_type == the main profile's on the same
    data (flags fold is grouping-independent).  Across every kind, the
    merged states and the approx profile share one fold and one finish:
    counts, lengths, best type, cardinality and the numeric moments of
    attributes judged numeric are equal, timestamps and dates outside
    the 4-digit-year range included."""
    import datetime as dt
    from decimal import Decimal

    merged = _by_attr(merge_states(profile_state(fixture_df, "part")))
    prof = {
        r["attribute"]: r["best_attribute_type"]
        for r in profile(fixture_df.drop("part")).collect()
    }
    for attr in ("s", "n", "f"):
        assert merged[attr]["best_attribute_type"] == prof[attr], attr

    rows = [
        ("p0", "Dan", 100, 5_000_000_000, 1.5, Decimal("1.50"), True,
         dt.datetime(2024, 1, 1, 12, 0, 0, 120000), dt.date(2024, 1, 1),
         ["a", "b"], bytearray(b"10"), "42"),
        ("p0", " 42 ", -250, -3, None, Decimal("0.00"), None,
         dt.datetime(9999, 12, 30, 1, 2, 3), dt.date(9999, 12, 30),
         [], bytearray(b"zz"), " 7.5 "),
        ("p1", "", 0, 0, 2.25, None, False,
         dt.datetime(1, 1, 1, 1, 2, 3), dt.date(1, 1, 1), None, None, None),
        ("p1", "7.5", 7, 12, 0.0, Decimal("-3.25"), True, None, None,
         ["x"], bytearray(b"3.5"), "-3"),
        ("p2", "0012", 7, 12, -4.0, Decimal("2.00"), False,
         dt.datetime(2024, 1, 1, 12, 0, 0), dt.date(2024, 1, 1),
         ["y", "z", "w"], bytearray(b""), "1.25e-3"),
    ]
    df = spark.createDataFrame(
        rows,
        "part string, s string, i int, b bigint, d double, m decimal(10,2), "
        "bo boolean, ts timestamp, dd date, arr array<string>, bin binary, "
        "sn string",
    )
    states = _by_attr(merge_states(profile_state(df, "part")))
    approx = _by_attr(profile(df.drop("part"), mode="approx"))
    assert set(states) == set(approx) == set(df.columns) - {"part"}
    shared = (
        "rec_count", "fill_count", "min_length", "max_length", "ave_length",
        "best_attribute_type", "cardinality",
    )
    moments = ("numeric_min", "numeric_max", "numeric_mean", "numeric_std_dev")
    for attr, a in approx.items():
        keys = shared + (moments if a["is_numeric"] else ())
        assert {k: states[attr][k] for k in keys} == {k: a[k] for k in keys}, attr
    assert [a for a in approx if approx[a]["is_numeric"]] == ["i", "b", "d", "m", "sn"]


def test_unicode_fold(fixture_df):
    """Ångström in p1 only: the unicode bit must survive the merge and
    drive the utf8 best-type branch."""
    states = profile_state(fixture_df, "part")
    uni = {
        (r["partition"], r["attribute"]): r["has_unicode"]
        for r in states.collect()
    }
    assert uni[("p1", "s")] == 1 and uni[("p0", "s")] == 0
    merged = _by_attr(merge_states(states))
    assert merged["s"]["best_attribute_type"].startswith("utf8")


def test_profile_incremental_resume(fixture_df, tmp_path):
    """Second run over a grown table profiles ONLY the new partition;
    merged output equals a fresh full run."""
    path = str(tmp_path / "incr")
    old = fixture_df.filter(F.col("part") != "p2")
    out1 = merge_states(
        profile_incremental(old, "part", path, batch_size=1).sparkSession.read.parquet(
            f"{path}/states"
        )
    )
    assert {r["attribute"] for r in out1.collect()} == {"s", "n", "f"}
    spark = fixture_df.sparkSession
    m1 = spark.read.parquet(f"{path}/manifest")
    assert m1.count() == 2  # p0, p1 complete

    # grow the table by p2; resume profiles only p2
    out2 = profile_incremental(fixture_df, "part", path, batch_size=1)
    m2 = spark.read.parquet(f"{path}/manifest")
    assert m2.count() == 3
    states = spark.read.parquet(f"{path}/states")
    assert states.filter(F.col("partition") == "p2").count() == 3  # one per attr
    assert states.count() == 9  # p0/p1 NOT re-profiled

    # merged result == fresh single-shot run on the full table
    fresh_path = str(tmp_path / "fresh")
    fresh = profile_incremental(fixture_df, "part", fresh_path)
    got = _by_attr(out2)
    want = _by_attr(fresh)
    assert got == want
    shutil.rmtree(path, ignore_errors=True)


def test_binary_numeric_reading_includes_quartiles(spark):
    """A binary column whose bytes decode to numeric strings gets the
    melt's numeric reading (num_n/mean) AND KLL quartiles — quartiles
    are present wherever the numeric statistics are."""
    rows = [
        ("p0", bytearray(b"10"), bytearray(b"zz")),
        ("p0", bytearray(b"20"), bytearray(b"yy")),
        ("p1", bytearray(b"30"), None),
    ]
    df = spark.createDataFrame(rows, "part string, bnum binary, btxt binary")
    out = _by_attr(
        merge_states(profile_state(df, "part", quantile_delta=100.0))
    )
    bnum, btxt = out["bnum"], out["btxt"]
    assert bnum["numeric_mean"] == pytest.approx(20.0)
    # quartiles present wherever num stats are present
    assert bnum["numeric_median"] == pytest.approx(20.0, abs=1e-9)
    assert bnum["numeric_lower_quartile"] is not None
    # non-numeric bytes: no numeric reading, no quartiles
    assert btxt["numeric_mean"] is None and btxt["numeric_median"] is None


def test_state_kinds_array_bool_temporal(spark):
    """SET OF lengths are element counts and never numeric
    (Profile.ecl:819-820, 846-847); booleans are always filled with
    constant length 1; timestamps profile via their rendered string."""
    import datetime as dt

    rows = [
        ("p0", ["a", "b"], True, dt.datetime(2024, 1, 1, 12, 0, 0)),
        ("p0", [], None, dt.datetime(2024, 1, 2, 12, 0, 0)),
        ("p1", ["x", "y", "z", "w"], False, None),
    ]
    df = spark.createDataFrame(
        rows, "part string, arr array<string>, b boolean, ts timestamp"
    )
    out = _by_attr(merge_states(profile_state(df, "part")))
    arr, b, ts = out["arr"], out["b"], out["ts"]
    # empty set unfilled; lengths = element counts 2 and 4
    assert arr["fill_count"] == 2
    assert (arr["min_length"], arr["max_length"]) == (2, 4)
    assert arr["numeric_min"] is None  # never numeric
    # boolean: always filled (NULL canonicalizes to 'false'), len 1
    assert b["fill_count"] == 3
    assert (b["min_length"], b["max_length"]) == (1, 1)
    assert b["cardinality"] == 2  # {true, false-or-null}
    # timestamp: filled when rendered non-empty; 19-char rendering
    assert ts["fill_count"] == 2
    assert (ts["min_length"], ts["max_length"]) == (19, 19)
    assert ts["cardinality"] == 2


# ---------------------------------------------------------------------------
# mergeable quantile state (KLL): all-NaN partitions
# ---------------------------------------------------------------------------
def test_all_nan_partition_merges(spark):
    """KLL skips NaN while count() does not: an all-NaN partition must
    carry a NULL sketch (an empty sketch would fail the quantile read),
    leave the other partition's quartiles intact, and an attribute
    that is NaN everywhere gets NULL quartiles."""
    nan = float("nan")
    rows = [("p0", nan, nan) for _ in range(5)] + [
        ("p1", float(i), nan) for i in range(1, 101)
    ]
    df = spark.createDataFrame(rows, "part string, x double, y double")
    states = profile_state(df, "part", quantile_delta=100.0)
    sk = {
        (r["partition"], r["attribute"]): r["q_sketch"]
        for r in states.collect()
    }
    assert sk[("p0", "x")] is None and sk[("p1", "x")] is not None
    out = _by_attr(merge_states(states))
    x, y = out["x"], out["y"]
    assert (
        x["numeric_lower_quartile"],
        x["numeric_median"],
        x["numeric_upper_quartile"],
    ) == (25.0, 50.0, 75.0)
    assert y["numeric_lower_quartile"] is None
    assert y["numeric_median"] is None and y["numeric_upper_quartile"] is None
