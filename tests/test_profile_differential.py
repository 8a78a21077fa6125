"""Seeded exact-vs-approx differential of ``profile``.

Both modes fold the same melt, so wherever approx mode's contract says
exact (record and fill counts, fill rate, lengths, best type,
``is_numeric``) the two must agree on any frame.  Each example draws a
random frame of 1-6 columns over the kinds ``walk_schema`` accepts
(strings with unicode and numeric-looking content, int, bigint, double,
decimal, boolean, timestamps and dates in and out of the 4-digit-year
range, arrays and binary), with NULLs, empty strings and zeros, and
profiles it in both modes, with ``allow_zero`` and the feature set
drawn too.  An empty
frame of every kind is one more example.  Every failure message names
the seed, so any example can be replayed alone.
"""

from __future__ import annotations

import datetime as dt
import decimal
import random

import pytest
from pyspark.sql import types as T

from datapatterns_spark.operators.profile import (
    ALL_FEATURES,
    ProfileParams,
    _output_fields,
    profile,
)

SEEDS = range(5)

# every feature (exact mode folds its value histogram), or only
# features that group no values (exact mode folds the melt rows)
_FEATURE_SETS = (
    ALL_FEATURES,
    ("fill_rate", "best_ecl_types", "lengths", "correlations"),
)

_EXACT_IN_BOTH = (
    "rec_count",
    "fill_count",
    "fill_rate",
    "min_length",
    "max_length",
    "ave_length",
    "best_attribute_type",
    "is_numeric",
)


def _text(r: random.Random) -> str:
    s = "".join(r.choice("abcXYZ ,.-ßü日9") for _ in range(r.randrange(0, 10)))
    return r.choice(["", " ", "  "]) + s if r.random() < 0.2 else s


def _numberish(r: random.Random) -> str:
    return r.choice(
        [
            lambda: str(r.randrange(0, 10 ** r.randrange(1, 12))),
            lambda: str(-r.randrange(1, 10**6)),
            lambda: f"+{r.randrange(0, 10**4)}",
            lambda: "0" + str(r.randrange(0, 10**4)),
            lambda: f"{r.randrange(-999, 999)}.{r.randrange(0, 10**4)}",
            lambda: f"{r.randrange(1, 10)}.{r.randrange(0, 999)}e-{r.randrange(1, 99)}",
            lambda: str(r.randrange(10**20, 10**22)),
            lambda: "0",
            lambda: f" {r.randrange(0, 99)} ",
        ]
    )()


def _ts(r: random.Random):
    if r.random() < 0.25:  # outside the 4-digit-year fast-path range
        return r.choice([dt.datetime(1, 1, 1, 5, 0), dt.datetime(9999, 12, 31, 1, 2, 3, 4)])
    return dt.datetime(
        r.randrange(1970, 2040), r.randrange(1, 13), r.randrange(1, 29),
        r.randrange(24), r.randrange(60), r.randrange(60),
        r.choice([0, 0, 500000, 120000, 7]),
    )


def _date(r: random.Random):
    if r.random() < 0.25:
        return r.choice([dt.date(1, 1, 1), dt.date(1, 1, 2), dt.date(9999, 12, 31)])
    return dt.date(r.randrange(1900, 2100), r.randrange(1, 13), r.randrange(1, 29))


# kind -> (Spark type, value generator); the generators include zeros,
# empty strings and empty arrays, and the frame adds NULLs
_KINDS = {
    "text": (T.StringType(), _text),
    "numstr": (T.StringType(), _numberish),
    "int": (T.IntegerType(), lambda r: r.choice([0, 1, -1, r.randrange(-10**6, 10**6)])),
    "bigint": (T.LongType(), lambda r: r.choice([0, -(2**63), 2**63 - 1, r.randrange(-10**15, 10**15)])),
    "double": (T.DoubleType(), lambda r: r.choice([0.0, -0.0, 1.5, r.uniform(-1e6, 1e6)])),
    "decimal": (
        T.DecimalType(10, 3),
        lambda r: decimal.Decimal(r.randrange(-10**7, 10**7)).scaleb(-3) if r.random() < 0.7
        else decimal.Decimal("0.000"),
    ),
    "bool": (T.BooleanType(), lambda r: r.random() < 0.5),
    "ts": (T.TimestampType(), _ts),
    "date": (T.DateType(), _date),
    "array": (
        T.ArrayType(T.IntegerType()),
        lambda r: [r.choice([None, 0, r.randrange(100)]) for _ in range(r.randrange(0, 4))],
    ),
    "binary": (
        T.BinaryType(),
        lambda r: bytes(r.choice(b" 09az\x00\xff") for _ in range(r.randrange(0, 6))),
    ),
}


def _frame(spark, seed: int):
    r = random.Random(seed)
    kinds = [r.choice(list(_KINDS)) for _ in range(r.randrange(1, 7))]
    schema = T.StructType(
        [T.StructField(f"c{i}_{k}", _KINDS[k][0]) for i, k in enumerate(kinds)]
    )
    null_rate = r.choice([0.0, 0.2, 0.6])
    rows = [
        tuple(None if r.random() < null_rate else _KINDS[k][1](r) for k in kinds)
        for _ in range(r.randrange(1, 40))
    ]
    return spark.createDataFrame(rows, schema), r.random() < 0.5, r.choice(_FEATURE_SETS)


def _empty_frame(spark):
    schema = T.StructType(
        [T.StructField(f"c_{k}", t) for k, (t, _) in _KINDS.items()]
    )
    return spark.createDataFrame([], schema)


def _check(seed, df, allow_zero: bool, features: tuple[str, ...]):
    tag = f"seed={seed} allow_zero={allow_zero} features={features}"
    out = {
        m: profile(df, mode=m, allow_zero=allow_zero, features=features)
        for m in ("exact", "approx")
    }
    fields = [(n, t) for n, t, _ in _output_fields(ProfileParams(features=features))]
    for m, frame in out.items():
        got = [(f.name, f.dataType.simpleString()) for f in frame.schema.fields]
        assert got == fields, f"{tag} mode={m}: schema {got}"
    rows = {m: {r["attribute"]: r.asDict() for r in frame.collect()} for m, frame in out.items()}
    assert list(rows["exact"]) == list(rows["approx"]) == df.columns, tag
    for a in df.columns:
        for stat in _EXACT_IN_BOTH:
            e, x = rows["exact"][a][stat], rows["approx"][a][stat]
            assert e == x, f"{tag} attribute={a} {stat}: exact={e!r} approx={x!r}"


@pytest.mark.parametrize("seed", SEEDS)
def test_exact_and_approx_agree(spark, seed):
    _check(seed, *_frame(spark, seed))


def test_exact_and_approx_agree_on_an_empty_frame(spark):
    _check("empty", _empty_frame(spark), False, ALL_FEATURES)


@pytest.mark.parametrize("mode", ["exact", "approx"])
def test_binary_values_that_are_not_utf8_profile(spark, mode):
    """A binary attribute's canonical form is the string cast of its
    bytes.  Bytes that are not UTF-8 used to fail the driver finish
    (Arrow cannot read such a string into Python); their modes and
    pattern examples now read U+FFFD for each invalid sequence, as
    Spark's ``collect`` does."""
    df = spark.createDataFrame(
        [(b"\xff",), (b"\xff",), (b"ok",)], T.StructType([T.StructField("b", T.BinaryType())])
    )
    row = profile(df, mode=mode).collect()[0]
    assert row["modes"] == [T.Row(value="\ufffd", rec_count=2)]
    assert {p["example"] for p in row["popular_patterns"]} == {"\ufffd", "ok"}
    assert row["cardinality"] == 2


@pytest.mark.parametrize("mode", ["exact", "approx"])
def test_a_value_cut_to_a_number_is_not_numeric(spark, mode):
    """A value whose first ``max_pattern_len`` characters are a number
    and spaces, but which goes on with text, is not numeric.  Exact mode
    used to flag its cut pattern numeric and judged the column ``real8``
    where approx mode said ``string45``; both now read the one melt's
    type-flag pattern."""
    df = spark.createDataFrame([("12.5" + " " * 40 + "x",), ("3.25",)], "s string")
    row = profile(
        df, mode=mode, max_pattern_len=33, features=("best_ecl_types", "lengths", "mean")
    ).collect()[0]
    assert (row["best_attribute_type"], row["is_numeric"]) == ("string45", False)
