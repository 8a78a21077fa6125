"""Text-pattern palette and value coercion expressions.

Reimplements the reference's pattern kernels as pure built-in Spark
expressions (JVM-side, whole-stage-codegen) instead of per-row UDFs:

* ``_MapAllStr`` / ``_MapAllUni`` / ``_MapAllUTF8``
  (/root/reference/Profile.ecl:603-643): A-Z -> 'A', a-z -> 'a',
  1-9 -> '9' with '0' kept literal until the final fix-up
  (Profile.ecl:1306 replaces '0' with '9' for the pattern stats while
  the best-type regexes still see the literal '0').  Spark strings are
  UTF-8, so we use the Unicode property classes of the UTF8/UNICODE
  kernels for every string column.
* ``IsUTF8`` (Profile.ecl:540-599): "does this value really contain
  non-ASCII" — :func:`is_non_ascii`, a byte-length against
  char-length test.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Digits 1-9 map to '9'; '0' stays until finish_pattern().
_DIGITS_FROM = "123456789"
_DIGITS_TO = "999999999"

# Unicode uppercase (incl. titlecase handled by Lu per the reference's
# first pass) and lowercase-ish letter classes (Profile.ecl:626-643).
_UPPER_RE = r"\p{Lu}"
_LOWER_RE = r"[\p{Ll}\p{Lt}\p{Lm}\p{Lo}]"

_ASCII_FROM = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz" + _DIGITS_FROM
_ASCII_TO = "A" * 26 + "a" * 26 + _DIGITS_TO


def map_pattern(col: Column) -> Column:
    """Map a string column into the pattern palette (keeps '0').

    Pure-ASCII values (the overwhelming common case) take a single
    ``translate`` table lookup — the direct analogue of the
    reference's ``_MapAllStr`` C++ kernel (Profile.ecl:603-621); only
    values containing multi-byte chars pay the Unicode-property regex
    passes of ``_MapAllUni`` (Profile.ecl:626-643)."""
    ascii_mapped = F.translate(col, _ASCII_FROM, _ASCII_TO)
    uni_mapped = F.regexp_replace(
        F.regexp_replace(ascii_mapped, _UPPER_RE, "A"), _LOWER_RE, "a"
    )
    return F.when(F.octet_length(col) == F.length(col), ascii_mapped).otherwise(
        uni_mapped
    )


def finish_pattern(col: Column) -> Column:
    """Final '0' -> '9' fix-up applied for pattern statistics
    (Profile.ecl:1300-1309)."""
    return F.replace(col, F.lit("0"), F.lit("9"))


_ASCII_FROM_FIN = _ASCII_FROM + "0"
_ASCII_TO_FIN = _ASCII_TO + "9"


def map_pattern_finished(col: Column) -> Column:
    """``finish_pattern(map_pattern(col))`` fused into ONE translate
    (digits 0-9 all -> '9'): the pattern-histogram hot paths pay one
    string copy per row instead of translate + replace.  The type-flag
    ladder keeps :func:`map_pattern`'s literal '0' (leading-zero
    rule)."""
    ascii_mapped = F.translate(col, _ASCII_FROM_FIN, _ASCII_TO_FIN)
    uni_mapped = F.regexp_replace(
        F.regexp_replace(ascii_mapped, _UPPER_RE, "A"), _LOWER_RE, "a"
    )
    return F.when(F.octet_length(col) == F.length(col), ascii_mapped).otherwise(
        uni_mapped
    )


def is_non_ascii(col: Column) -> Column:
    """True when the value contains a non-ASCII character — the Spark
    stand-in for the reference's IsUTF8 multi-byte scan.  UTF-8 encodes
    every non-ASCII char as >1 byte, so byte length != char length is
    the same test without a per-value regex scan (hot-path win)."""
    return F.octet_length(col) != F.length(col)
