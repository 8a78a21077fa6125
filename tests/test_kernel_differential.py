"""Differential tests for the scalar kernels.

The reference implements these as C++ EMBED kernels; we re-express
them as Spark expressions.  Each test runs a seeded random corpus
(plus hand-picked edge cases) through BOTH the Spark expression and a
direct Python transcription of the reference kernel, in one job.

* pattern palette  — /root/reference/Profile.ecl:603-643 (_MapAllStr/_MapAllUni)
* NthDigit         — /root/reference/Benford.ecl:176-209
"""

import random
import unicodedata

from pyspark.sql import functions as F

from datapatterns_spark.functions.benford_digit import nth_digit
from datapatterns_spark.functions.patterns import (
    finish_pattern,
    map_pattern,
    map_pattern_finished,
)

_ALPHABET = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    " .,-_!?/\\'\"()"
    "äöüÄÖÜßéÉçÇñÑ"          # Latin-1 letters (Lu/Ll)
    "ǅǈ"                      # titlecase (Lt)
    "ʰʷ"                      # modifier letters (Lm)
    "中日あア한"                # other letters (Lo)
    "§±µ©"                    # symbols
)

EDGE_CASES = [
    "", "0", "00", "0.00", "-0", ".", "..", "0.103", "-42.7", "1e9",
    "007", "  42  ", "a1b2c3", "no digits here", "....", "0.",
    ".5", "-.5", "1000000", "0,5", "ß", "Ǆǅǆ", "MiXeD CaSe 123",
]


def _corpus(n=800, seed=7):
    rng = random.Random(seed)
    out = list(EDGE_CASES)
    for _ in range(n):
        k = rng.randint(0, 24)
        out.append("".join(rng.choice(_ALPHABET) for _ in range(k)))
    return out


def _py_pattern(s: str) -> str:
    """Direct transcription of _MapAllUni/_MapAllStr + the 0->9 fixup
    (Profile.ecl:626-643, 1306)."""
    out = []
    for ch in s:
        cat = unicodedata.category(ch)
        if cat == "Lu":
            out.append("A")
        elif cat in ("Ll", "Lt", "Lm", "Lo"):
            out.append("a")
        elif "1" <= ch <= "9":
            out.append("9")
        else:
            out.append(ch)
    return "".join(out).replace("0", "9")


def _py_nth_digit(s: str, pos: int) -> int:
    """Direct transcription of the NthDigit kernel
    (Benford.ecl:181-208)."""
    found = 10
    digits = 0
    for ch in s:
        if ch.isdigit() and ch.isascii() and (digits > 0 or ch != "0"):
            digits += 1
            if digits >= pos:
                return ord(ch) - ord("0")
            found = 0
        elif ch == ".":
            found = 0
    return found


def test_pattern_palette_differential(spark):
    rows = [(s,) for s in _corpus()]
    df = spark.createDataFrame(rows, "s string")
    got = {
        r["s"]: r["p"]
        for r in df.select("s", finish_pattern(map_pattern(F.col("s"))).alias("p")).collect()
    }
    for s in got:
        assert got[s] == _py_pattern(s), f"pattern mismatch for {s!r}: {got[s]!r} != {_py_pattern(s)!r}"


def test_pattern_finished_fusion(spark):
    """map_pattern_finished (one fused translate, hot-path kernel)
    must equal finish_pattern(map_pattern(...)) on the random corpus."""
    rows = [(s,) for s in _corpus()]
    df = spark.createDataFrame(rows, "s string")
    bad = df.select(
        "s",
        finish_pattern(map_pattern(F.col("s"))).alias("two_step"),
        map_pattern_finished(F.col("s")).alias("fused"),
    ).filter(F.col("two_step") != F.col("fused"))
    assert bad.count() == 0, bad.limit(5).collect()


def test_nth_digit_differential(spark):
    rows = [(s,) for s in _corpus()]
    df = spark.createDataFrame(rows, "s string")
    sel = df.select(
        "s", *[nth_digit(F.col("s"), p).alias(f"d{p}") for p in (1, 2, 3, 4)]
    )
    for r in sel.collect():
        for p in (1, 2, 3, 4):
            exp = _py_nth_digit(r["s"], p)
            assert r[f"d{p}"] == exp, (
                f"NthDigit({r['s']!r}, {p}) = {r[f'd{p}']} expected {exp}"
            )


def test_nth_digit_decimal_fast_path_differential(spark):
    """The decimal-typed fast path must agree with the generic scanner
    over the decimal's rendered string for every digit position —
    including zeros (whose rendering has a dot iff scale > 0),
    negatives, sub-1 values, and trailing-zero renderings."""
    import decimal as _dec

    vals = [
        "0.000", "0.001", "-0.001", "1.000", "-1.000", "9999.999",
        "0.500", "123.450", "0.007", "7000.000", "-9999.999", "42.000",
    ]
    rows = [(_dec.Decimal(v),) for v in vals] + [(None,)]
    df = spark.createDataFrame(rows, "v decimal(12,3)")
    sel = df.select(
        "v",
        *[
            nth_digit(F.col("v"), p, decimal_scale=3).alias(f"fast{p}")
            for p in (1, 2, 3, 4)
        ],
        *[nth_digit(F.col("v"), p).alias(f"gen{p}") for p in (1, 2, 3, 4)],
    )
    for r in sel.collect():
        for p in (1, 2, 3, 4):
            assert r[f"fast{p}"] == r[f"gen{p}"], (r["v"], p)
    # scale-0 decimals: zero renders WITHOUT a dot -> sentinel 10
    df0 = spark.createDataFrame(
        [(_dec.Decimal(v),) for v in ("0", "5", "-30", "1234")],
        "v decimal(12,0)",
    )
    sel0 = df0.select(
        "v",
        *[
            nth_digit(F.col("v"), p, decimal_scale=0).alias(f"fast{p}")
            for p in (1, 2)
        ],
        *[nth_digit(F.col("v"), p).alias(f"gen{p}") for p in (1, 2)],
    )
    for r in sel0.collect():
        for p in (1, 2):
            assert r[f"fast{p}"] == r[f"gen{p}"], (r["v"], p)


def test_type_flag_py_differential(spark):
    """The best-type flag classifier (besttype.type_flag) must agree
    with its Python transcription (besttype.type_flag_py), the
    reference this test reads the rule chain from, on a random pattern
    corpus."""
    from datapatterns_spark.functions import besttype

    rng = random.Random(11)
    digitish = "09.-+aA "
    pats = list(EDGE_CASES)
    for _ in range(600):
        k = rng.randint(0, 26)
        pats.append("".join(rng.choice(digitish) for _ in range(k)))
    # palette-mapped forms of numeric-looking strings
    pats += ["0999", "-9999", "+99", "9.99", "-9.999", "9.9a-99",
             "9" * 19, "9" * 20, "9" * 21, "0" + "9" * 18, "0" + "9" * 19]
    df = spark.createDataFrame([(p,) for p in pats], "p string")
    got = {
        r["p"]: r["f"]
        for r in df.select(
            "p", besttype.type_flag(F.col("p"), treat_as_is=False).alias("f")
        ).collect()
    }
    for p in pats:
        assert got[p] == besttype.type_flag_py(p), (
            f"flag mismatch for {p!r}: spark={got[p]} py={besttype.type_flag_py(p)}"
        )
