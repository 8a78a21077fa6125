"""Tests for Cardinality / NormalizeProfileResults / Benford /
Validation — golden semantics from the reference's docs and tests."""

import pytest

from datapatterns_spark.operators.benford import benford
from datapatterns_spark.operators.best_record import best_record_structure
from datapatterns_spark.operators.cardinality import cardinality
from datapatterns_spark.operators.normalize import normalize_profile_results
from datapatterns_spark.operators.profile import profile
from datapatterns_spark.operators.validation import fix, validate


# ---------- Cardinality ----------
def test_cardinality_basic(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1), ("a", 1)], "s string, n int"
    )
    rows = [tuple(r) for r in cardinality(df).collect()]
    # sorted by attribute, -rec_count, value (Cardinality.ecl:395)
    assert rows == [
        ("n", "1", 3),
        ("n", "2", 1),
        ("s", "a", 3),
        ("s", "b", 1),
    ]


def test_cardinality_field_list(spark):
    df = spark.createDataFrame([("a", 1)], "s string, n int")
    rows = cardinality(df, field_list="n").collect()
    assert {r["attribute"] for r in rows} == {"n"}


# ---------- NormalizeProfileResults ----------
def test_normalize_profile(spark):
    df = spark.createDataFrame(
        [(s,) for s in ["Dan", "Dan", "Mike"]], "s string"
    )
    prof = profile(df)
    norm = normalize_profile_results(prof)
    kv = {r["key"]: r["value"] for r in norm.collect()}
    assert kv["rec_count"] == "3"
    assert kv["cardinality"] == "2"
    assert kv["modes"] == "Dan:2"
    assert kv["popular_patterns"] == "Aaa:2|Aaaa:1"
    assert kv["is_numeric"] == "false"
    # one row per non-attribute column
    assert norm.count() == len(prof.columns) - 1


def test_compare_profiles(spark):
    from datapatterns_spark.operators.normalize import compare_profiles

    old = profile(
        spark.createDataFrame([(s,) for s in ["Dan", "Dan", "Mike"]], "s string")
    )
    new = profile(
        spark.createDataFrame([(s,) for s in ["Dan", "Dan"]], "s string")
    )
    d = {
        (r["attribute"], r["key"]): r
        for r in compare_profiles(old, new).collect()
    }
    rc = d[("s", "rec_count")]
    assert (rc["value_old"], rc["value_new"], rc["changed"]) == ("3", "2", True)
    card = d[("s", "cardinality")]
    assert (card["value_old"], card["value_new"], card["changed"]) == ("2", "1", True)
    mx = d[("s", "max_length")]
    assert mx["value_old"] == "4" and mx["changed"] is True  # Mike dropped
    mode = d[("s", "modes")]
    assert mode["value_old"] == "Dan:2" and mode["changed"] is False


# ---------- Benford ----------
def test_benford_digit_extraction(spark):
    from pyspark.sql import functions as F

    from datapatterns_spark.functions.benford_digit import nth_digit

    cases = [
        ("123", 1, 1),
        ("123", 2, 2),
        ("0123", 1, 1),
        ("0.05", 1, 5),
        ("0.00", 1, 0),  # decimal point seen -> implied 0
        ("000", 1, 10),  # no digit, no point -> sentinel
        ("", 1, 10),
        ("abc", 1, 10),
        ("10", 2, 0),  # zero after significant digit counts
        ("1", 2, 0),  # implied trailing zero
        ("-250", 1, 2),
        ("7,500", 2, 5),  # punctuation skipped by the scanner
    ]
    df = spark.createDataFrame([(s, p) for s, p, _ in cases], "s string, p int")
    for (s, p, want) in cases:
        got = (
            df.filter((F.col("s") == s) & (F.col("p") == p))
            .select(nth_digit(F.col("s"), p).alias("d"))
            .collect()[0]["d"]
        )
        assert got == want, (s, p, got, want)


def test_benford_output_contract(spark):
    df = spark.createDataFrame([(v,) for v in [1, 1, 1, 2, 3, 9, 0]], "n long")
    rows = benford(df).collect()
    assert rows[0]["attribute"] == "-- EXPECTED DIGIT 1 --"
    assert rows[0]["chi_squared"] == pytest.approx(20.090)
    assert rows[0]["num_values"] == 7
    assert rows[0]["one"] == pytest.approx(30.1)
    r = rows[1]
    assert r["attribute"] == "n"
    # 0 -> sentinel n=0? No: integer 0 has no digits and no '.', so
    # it is filtered (sentinel 10) -> 6 usable values
    assert r["num_values"] == 6
    assert r["one"] == pytest.approx(50.0)
    assert r["zero"] == -1.0
    assert r["chi_squared"] > 0


def test_benford_digit2(spark):
    df = spark.createDataFrame([("10",), ("11",), ("1",)], "s string")
    rows = benford(df, digit=2).collect()
    assert rows[0]["chi_squared"] == pytest.approx(21.666)
    r = rows[1]
    # second digits: 0, 1, 0(implied) -> zero 66.7%, one 33.3%
    assert r["zero"] == pytest.approx(66.7)
    assert r["one"] == pytest.approx(33.3)


# ---------- Validate ----------
def test_validate_basic(spark):
    df = spark.createDataFrame(
        [(1, "US"), (0, "XX"), (-5, "GB")], "v int, code string"
    )
    out = validate(df, "VPos:v > 0; CodeKnown:code IN ('US','GB')")
    got = {
        (r["v"]): (
            r["validation_results"]["num_violations"],
            list(r["validation_results"]["violations"]),
        )
        for r in out.collect()
    }
    assert got[1] == (0, [])
    assert got[0] == (2, ["VPos", "CodeKnown"])
    assert got[-5] == (1, ["VPos"])


def test_validate_helpers(spark):
    df = spark.createDataFrame(
        [("12345", "AB-1"), ("1234", "xy!2")], "fips string, tag string"
    )
    out = validate(
        df,
        "FIPSLength:StrLen(fips) = 5;"
        "FipsDigits:IsOnlyDigits(fips);"
        "TagPattern:Patternize(tag) = 'AA-9'",
    )
    rows = {r["fips"]: list(r["validation_results"]["violations"]) for r in out.collect()}
    assert rows["12345"] == []
    assert rows["1234"] == ["FIPSLength", "TagPattern"]


def test_validate_all_fields_filled(spark):
    df = spark.createDataFrame([("a", "b"), ("", "b")], "x string, y string")
    out = validate(df, "Filled:AllFieldsFilled()")
    rows = {r["x"]: r["validation_results"]["num_violations"] for r in out.collect()}
    assert rows["a"] == 0
    assert rows[""] == 1


# ---------- Fix ----------
def test_fix_assign_swap_skip(spark):
    df = spark.createDataFrame(
        [
            (10, 20, "ok"),  # valid
            (30, 5, "swapped"),  # lo > hi -> swap
            (0, 0, "dead"),  # both zero -> skip
            (-1, 9, "clamped"),  # lo negative -> reassign 0
        ],
        "lo int, hi int, tag string",
    )
    spec = (
        "Ordered:lo <= hi;"
        "LoPos:lo >= 0;"
        "NotDead:lo != 0 OR hi != 0"
    )
    checked = validate(df, spec)
    fixed = fix(
        checked,
        "NotDead:SkipRecord();"
        "Ordered:Swap(lo, hi);"
        "LoPos:lo := 0",
    )
    rows = {r["tag"]: (r["lo"], r["hi"]) for r in fixed.collect()}
    assert "dead" not in rows
    assert rows["ok"] == (10, 20)
    assert rows["swapped"] == (5, 30)
    assert rows["clamped"] == (0, 9)
    assert "validation_results" not in fixed.columns


def test_fix_membership_algebra(spark):
    df = spark.createDataFrame([(1,), (2,)], "v int")
    checked = validate(df, "A:v != 1; B:v != 2")
    out = fix(checked, "A AND NOT B:v := 100")
    rows = sorted(r["v"] for r in out.collect())
    assert rows == [2, 100]


# ---------- BestRecordStructure ----------
def test_best_record_structure(spark):
    df = spark.createDataFrame([("100", "abc")], "n string, s string")
    lines = [r["txt"] for r in best_record_structure(df).collect()]
    assert lines[0] == "NewLayout := RECORD"
    assert lines[-1] == "END;"
    assert any("unsigned" in ln and " n;" in ln for ln in lines)
    assert any("string3 s;" in ln for ln in lines)


def test_best_record_transform_emission(spark):
    """emit_transform appends the reference's rewrite-TRANSFORM block
    (BestRecordStructure.ecl:390-440): coercion assignments only for
    fields whose generic type class changes, then the SELF := r
    passthrough and the sample PROJECT kickoff."""
    df = spark.createDataFrame(
        [("100", "abc", 7)], "n string, s string, k int"
    )
    lines = [
        r["txt"]
        for r in best_record_structure(df, emit_transform=True).collect()
    ]
    assert "NewLayout Make_NewLayout(r) := TRANSFORM" in lines
    # n: string -> unsigned* (class change) gets a coercion; s stays
    # string and k stays numeric -> no assignment
    assert any(ln.strip().startswith("SELF.n := (UNSIGNED") for ln in lines)
    assert not any("SELF.s :=" in ln for ln in lines)
    assert not any("SELF.k :=" in ln for ln in lines)
    assert "    SELF := r;" in lines
    assert lines[-1] == "newDS := PROJECT(oldDS, Make_NewLayout(LEFT));"
    # default output is unchanged (oracle pins it)
    plain = [r["txt"] for r in best_record_structure(df).collect()]
    assert plain == lines[: len(plain)]


def test_apply_best_types(spark):
    """apply_best_types casts columns whose generic class changes to
    the lattice's Spark recommendation and leaves everything else
    stored as-is (width-only changes keep the stored type, mirroring
    SELF := r)."""
    from datapatterns_spark.operators.best_record import apply_best_types

    df = spark.createDataFrame(
        [
            ("123", "-45", "3.5", "0042", "abc", 7),
            ("999", "8", "2.25", "7", "xy", 9),
        ],
        "u string, i string, f string, z string, s string, k int",
    )
    out = apply_best_types(df)
    t = dict(out.dtypes)
    assert t["u"] in ("smallint", "int")      # unsigned3 digits
    assert t["i"] in ("tinyint", "smallint", "int")  # signed
    assert t["f"] in ("float", "double")
    assert t["z"] == "string"                 # leading zeros stay string
    assert t["s"] == "string"
    assert t["k"] == "int"                    # numeric already: untouched
    rows = sorted(
        (r["u"], r["i"], float(r["f"]), r["z"]) for r in out.collect()
    )
    assert rows == [(123, -45, 3.5, "0042"), (999, 8, 2.25, "7")]
    assert out.columns == df.columns


def test_validation_readme_walkthrough(spark):
    """Port of the reference README's complete Validate() + Fix()
    stock-data walkthrough (/root/reference/README.md:594-727), with
    its ECL expressions re-expressed in this engine's Spark-SQL spec
    dialect (custom external functions like IsValidPrice become inline
    expressions).  Note the README's own fix spec references
    'LowPriceLessThanOrEqualToHighPrice' while the check is named
    'LowPriceLessOrEqualToHighPrice' — a reference typo that would
    make the swap never fire; the matching name is used here."""
    from datapatterns_spark.operators.validation import fix, validate

    cols = ("trade_date exchange_code stock_symbol opening_price high_price "
            "low_price closing_price shares_traded share_value").split()
    rows = [
        # clean row
        ("20180102", "N", "AAPL", "172.26", "174.55", "171.96", "172.23", "100", "17223"),
        # low/high flipped
        ("20180102", "N", "AAXX", "5.00", "100.00", "200.00", "5.10", "10", "51"),
        # suspicious round prices >= 10000 (IsValidPrice fails both)
        ("20180102", "N", "AABC", "12300", "45600", "12000", "45600", "5", "228000"),
        # opening price not > 1
        ("20180102", "N", "AAYY", "0.50", "1.10", "0.40", "1.00", "7", "7"),
        # empty field (AllFieldsFilled fails)
        ("20180102", "", "AAZZ", "3.00", "3.50", "2.90", "3.10", "9", "27"),
        # symbol does not start with AA
        ("20180102", "N", "IBM", "150.00", "151.00", "149.00", "150.50", "20", "3010"),
    ]
    df = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in cols))

    checks = (
        "NonZeroLowPrice:cast(low_price as double) > 0"
        "; NonZeroHighPrice:cast(high_price as double) > 0"
        "; LowPriceLessOrEqualToHighPrice:"
        "cast(low_price as double) <= cast(high_price as double)"
        "; OpeningPriceGreaterThanOne:cast(opening_price as double) > 1"
        "; OpeningPriceFormat:Patternize(opening_price) rlike '9+(\\\\.9{1,2})?'"
        "; OpeningPriceValid:NOT((opening_price rlike '^[0-9]+?00$')"
        " AND cast(opening_price as bigint) >= 10000)"
        "; ClosingPriceValid:NOT((closing_price rlike '^[0-9]+?00$')"
        " AND cast(closing_price as bigint) >= 10000)"
        "; SymbolStartsWithAA:substring(stock_symbol, 1, 2) = 'AA'"
        "; EveryFieldPresent:AllFieldsFilled()"
    )
    checked = validate(df, checks)
    out = {
        r["stock_symbol"]: r["validation_results"]
        for r in checked.collect()
    }
    assert out["AAPL"]["num_violations"] == 0
    assert out["AAXX"]["violations"] == ["LowPriceLessOrEqualToHighPrice"]
    assert sorted(out["AABC"]["violations"]) == [
        "ClosingPriceValid", "OpeningPriceValid"
    ]
    assert out["AAYY"]["violations"] == ["OpeningPriceGreaterThanOne"]
    assert out["AAZZ"]["violations"] == ["EveryFieldPresent"]
    assert out["IBM"]["violations"] == ["SymbolStartsWithAA"]

    repairs = (
        "LowPriceLessOrEqualToHighPrice:Swap(high_price, low_price)"
        "; OpeningPriceValid AND ClosingPriceValid:SkipRecord()"
        "; OpeningPriceGreaterThanOne:opening_price := '2'"
    )
    fixed = {r["stock_symbol"]: r for r in fix(checked, repairs).collect()}
    assert "AABC" not in fixed            # SkipRecord dropped it
    assert len(fixed) == 5
    assert fixed["AAXX"]["high_price"] == "200.00"   # swapped
    assert fixed["AAXX"]["low_price"] == "100.00"
    assert fixed["AAYY"]["opening_price"] == "2"     # reassigned
    assert fixed["AAPL"]["opening_price"] == "172.26"  # untouched
    assert "validation_results" not in fix(checked, repairs).columns


@pytest.mark.parametrize("mode", ["APPROX", "exakt", ""])
def test_profile_rejects_an_unknown_mode(spark, mode):
    """A mode other than "exact" or "approx" is refused, not run as
    approx mode without its cardinality sketch."""
    df = spark.createDataFrame([(1, "a")], "n int, s string")
    with pytest.raises(ValueError, match="mode must be 'exact' or 'approx'"):
        profile(df, mode=mode)


def test_profile_breakdown_without_limit_reports_cardinality(spark):
    """The breakdown feature with lcb_limit=0 lists no breakdown but
    still reports cardinality, in exact mode as in approx mode."""
    df = spark.createDataFrame([(1, "a"), (2, "a"), (2, "b")], "n int, s string")
    rows = profile(df, features=("cardinality_breakdown",), lcb_limit=0).collect()
    assert {r["attribute"]: r["cardinality"] for r in rows} == {"n": 2, "s": 2}
    assert "cardinality_breakdown" not in rows[0].asDict()


def test_profile_and_checks_leave_no_cached_frames(spark):
    """profile() and run_checks() must not leave frames in the SQL
    CacheManager after their results are materialized — a long-running
    driver profiling/validating one ingest batch after another would
    otherwise leak one cached intermediate per call for the session's
    lifetime (round-3 fix: eager/lazy localCheckpoint instead of
    persist, same defect class as the round-2 minhash leak)."""
    from datapatterns_spark.operators import constraints as C

    spark.catalog.clearCache()

    def cache_empty():
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    profile(
        docs, field_list=["lang", "source", "text"], features=("patterns",)
    ).collect()
    assert cache_empty(), "profile(patterns) leaked a cached frame"

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    profile(li, mode="approx").collect()
    assert cache_empty(), "profile(approx) leaked a cached frame"

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    verdicts, violations = C.run_checks(
        ev,
        [
            C.unique("u", ["user_id", "ts"]),
            C.row_rule("v", "value >= 0"),
            C.monotonic("m", "ts", "user_id", "event_id"),
        ],
        key_cols=["event_id"],
    )
    verdicts.collect()
    violations.count()
    assert cache_empty(), "run_checks leaked a cached frame"
