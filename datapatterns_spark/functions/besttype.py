"""Best-type inference lattice.

Reimplements the reference's ``BestTypeFlag`` / ``Len2Size`` /
best-type mapping (/root/reference/Profile.ecl:908-1023) as Spark
Column expressions over the per-value *data pattern* (with literal
'0' preserved and digits 1-9 mapped to '9').

Per-value type flags are AND-folded per attribute
(Profile.ecl:967-992, ``AGGREGATE ... FEW``) — here a ``bit_and``
aggregate — then mapped to an ECL-style type name
(Profile.ecl:1002-1023), including the "variable-length string when
max length exceeds 1000x the min non-zero length" rule.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Flag bits (Profile.ecl:895-903)
AS_IS = 0
SIGNED = 1
UNSIGNED = 2
FLOAT = 4
EXP = 8

# Pattern classifiers (Profile.ecl:908-914).  These run on the pattern
# string where digits 1-9 are already '9' and '0' is literal, so the
# digit class is [09].  Exponent 'e'/'E' has been palette-mapped to
# 'a'/'A'.
_LEADING_ZERO = r"^0[09]{1,18}$"
_SIGNED_INT = r"^\-[09]{1,19}$"
_SHORT_UNSIGNED = r"^[09]{1,19}$"
_UNSIGNED_INT = r"^\+?[09]{1,20}$"
_FLOAT = r"^(\-|\+)?[09]{0,15}\.[09]{1,15}$"
_EXP = r"^(\-|\+)?[09]\.[09]{1,6}[aA]\-[09]{1,3}$"


import re as _re

# Python transcription of :func:`type_flag` — same ordered rule chain,
# same anchored regexes — the reference the kernel differential test
# checks the Spark expression against.
_FLAG_RULES = [
    (_re.compile(_LEADING_ZERO), AS_IS),
    (_re.compile(_SIGNED_INT), SIGNED | FLOAT | EXP),
    (_re.compile(_SHORT_UNSIGNED), SIGNED | UNSIGNED | FLOAT | EXP),
    (_re.compile(_UNSIGNED_INT), UNSIGNED | FLOAT | EXP),
    (_re.compile(_FLOAT), FLOAT | EXP),
    (_re.compile(_EXP), EXP),
]


def type_flag_py(pattern: str) -> int:
    """Per-value type flag, Python edition (Profile.ecl:908-935).

    Matches :func:`type_flag` exactly: ``F.trim`` strips ASCII spaces
    only, so this strips ``' '`` (not all whitespace)."""
    p = pattern.strip(" ")
    for rx, f in _FLAG_RULES:
        if rx.match(p):
            return f
    return AS_IS


def type_flag(pattern: Column, treat_as_is: bool) -> Column:
    """Per-value type flag (Profile.ecl:908-935).

    ``treat_as_is`` is True for attributes whose given type is already
    numeric / boolean / set-of (best type = given type).
    """
    if treat_as_is:
        return F.lit(AS_IS)
    p = F.trim(pattern)
    return (
        F.when(p.rlike(_LEADING_ZERO), F.lit(AS_IS))
        .when(p.rlike(_SIGNED_INT), F.lit(SIGNED | FLOAT | EXP))
        .when(p.rlike(_SHORT_UNSIGNED), F.lit(SIGNED | UNSIGNED | FLOAT | EXP))
        .when(p.rlike(_UNSIGNED_INT), F.lit(UNSIGNED | FLOAT | EXP))
        .when(p.rlike(_FLOAT), F.lit(FLOAT | EXP))
        .when(p.rlike(_EXP), F.lit(EXP))
        .otherwise(F.lit(AS_IS))
    )


def len2size(c: Column) -> Column:
    """Readable digit count -> integer byte size (Profile.ecl:939)."""
    return (
        F.when(c < 3, 1)
        .when(c < 5, 2)
        .when(c < 7, 3)
        .when(c < 9, 4)
        .when(c < 11, 5)
        .when(c < 14, 6)
        .when(c < 16, 7)
        .otherwise(8)
    )


def best_type_by_kind(
    *,
    kind: Column,
    given_type: Column,
    fill_count: Column,
    flags: Column,
    max_len: Column,
    min_len_nonzero: Column,
    is_unicode: Column,
) -> Column:
    """Map folded flags + lengths to an ECL-style best type name
    (Profile.ecl:1002-1023) for rows of any kind: one CASE over the
    fixed set of kinds, keyed on each row's own ``kind`` column, so the
    expression does not grow with the attribute count.  The
    numeric-flag ladder is built once and shared by the kinds that
    read it.  An attribute with no filled value keeps its given type.
    """
    from ..plans.schema_walk import (
        KIND_ARRAY,
        KIND_BINARY,
        KIND_BOOLEAN,
        KIND_NUMERIC,
        KIND_STRING,
        KINDS,
    )

    # "variable length" rule: emit a sized type only when the max
    # length is under 1000x the min non-zero length (Profile.ecl:1012).
    sized_suffix = F.when(
        (max_len > 0) & (max_len < min_len_nonzero * 1000),
        max_len.cast("string"),
    ).otherwise(F.lit(""))
    int_size = len2size(max_len).cast("string")
    real_size = F.when(max_len < 8, F.lit("4")).otherwise(F.lit("8"))
    numeric = (
        F.when(flags.bitwiseAND(F.lit(UNSIGNED)) != 0, F.concat(F.lit("unsigned"), int_size))
        .when(flags.bitwiseAND(F.lit(SIGNED)) != 0, F.concat(F.lit("integer"), int_size))
        .when(flags.bitwiseAND(F.lit(FLOAT)) != 0, F.concat(F.lit("real"), real_size))
        .when(flags.bitwiseAND(F.lit(EXP)) != 0, F.lit("real8"))
    )

    best = None
    for k in KINDS:
        if k in (KIND_ARRAY, KIND_NUMERIC, KIND_BOOLEAN):
            # Sets and given-numeric/boolean types are kept as-is
            # (Profile.ecl:1005-1006).
            bt = given_type
        elif k == KIND_BINARY:
            bt = F.concat(F.lit("data"), sized_suffix)
        elif k == KIND_STRING:
            # Spark strings are UTF-8: true non-ASCII content keeps the
            # utf8 type, pure-ASCII downgrades to string[N]
            # (Profile.ecl:1020-1021).
            bt = numeric.when(is_unicode, F.lit("utf8")).otherwise(
                F.concat(F.lit("string"), sized_suffix)
            )
        else:
            # temporal and anything else profiled via its string form
            bt = numeric.otherwise(F.concat(F.lit("string"), sized_suffix))
        cond = kind == k
        best = F.when(cond, bt) if best is None else best.when(cond, bt)
    return F.when(fill_count == 0, given_type).otherwise(best)
