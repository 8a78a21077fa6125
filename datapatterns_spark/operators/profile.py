"""Profile() — per-column statistics engine.

Spark-first reimplementation of the reference's ``Profile`` macro
(/root/reference/Profile.ecl:189-1746).  The reference expands one ECL
dataflow per column; here a single DataFrame plan profiles every
column in one scan:

1. **melt** (both modes): one ``inline(array(struct(...)))``
   projection (:func:`melt_slim`) emits one row per column per input
   row with the reference's per-value rules written once per kind:
   length, the filled bit (Profile.ecl:830-844), the non-ASCII bit and
   the type-flag pattern, plus what the features read (a value hash,
   the numeric reading, the uncut value) — all JVM-side expressions,
   no Python in the hot path;
2. **histogram** (exact mode): the melt rows are grouped on
   (attribute, value) and the fields the value determines, reducing
   the data to distinct-value counts *before* any further statistics —
   the reference's own skew/temp-storage trick (Profile.ecl:719-728) —
   with Spark's partial (map-side) aggregation bounding the shuffle.
   The summary is the profile fold (:func:`fold_aggs`) of those rows
   weighted by their counts, which approx mode and the incremental
   states fold unweighted; exact mode adds the exact cardinality, the
   numeric stats (incl. the reference's exact quartile position
   arithmetic), the value histogram and the pattern histogram, on the
   cluster, and correlations run as one ``agg`` of ``corr(x, y)``
   over all numeric pairs on the source frame (Profile.ecl:1213-1245);
3. **driver finish** (both modes): each piece is cut to a bounded size
   on the cluster and fetched as Arrow, and one finish
   (:func:`_driver_finish`) ranks modes (ties, Profile.ecl:1163-1175),
   the cardinality breakdown, popular and rare patterns, and mirrors
   the correlations.  The rows are sorted on the driver, and the
   returned frame is a LocalRelation.

Scale design notes:

* per-group top-k (modes, patterns) never runs a window over whole
  attributes (an attribute is ONE window partition = one task): the
  histograms are cut to their top-k (and bottom-k) rows by a salted
  two-phase ``row_number`` (:func:`_dual_topk_survivors`: bucket-local
  top-k, then final top-k over <= buckets*k rows) before the fetch;
* ``mode="approx"`` is the 10^12-row path: NO raw-value shuffle at
  all — fill/lengths/type-folds/cardinality (DataSketches HLL,
  lgK 14, ~0.8% RSE) aggregate the melt directly,
  quantiles use ``percentile_approx`` sketches, patterns group on the
  (bounded-cardinality) pattern string, and modes/breakdowns are
  computed exactly but only for attributes whose estimated
  cardinality is low (a second bounded pass).  Deviation from the
  always-exact reference is documented per stat;
* exact quartiles keep the reference's cumulative-position windows —
  inherently one ordered pass per numeric attribute (use approx mode
  when that matters).
"""

from __future__ import annotations

import datetime as _dt
import json
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from ..functions import besttype
from ..functions.sketches import LG_CONFIG_K
from ..functions.patterns import is_non_ascii, map_pattern, map_pattern_finished
from ..trace import phase
from ..plans.local import local_df
from ..plans.schema_walk import (
    KIND_ARRAY,
    KIND_BINARY,
    KIND_BOOLEAN,
    KIND_NUMERIC,
    KIND_STRING,
    KIND_TEMPORAL,
    AttrInfo,
    walk_schema,
)

ALL_FEATURES = (
    "fill_rate",
    "best_ecl_types",
    "cardinality",
    "cardinality_breakdown",
    "modes",
    "lengths",
    "patterns",
    "min_max",
    "mean",
    "std_dev",
    "quartiles",
    "correlations",
)

MAX_MODES = 5  # Profile.ecl:233

_MODE_STRUCT = "struct<value:string,rec_count:bigint>"
_PATTERN_STRUCT = "struct<data_pattern:string,rec_count:bigint,example:string>"
_CORR_STRUCT = "struct<attribute:string,corr:double>"

NUMERIC_FEATURES = ("min_max", "mean", "std_dev", "quartiles")

@dataclass
class ProfileParams:
    field_list: list[str] | None = None
    max_patterns: int = 100  # Profile.ecl:192
    max_pattern_len: int = 100  # Profile.ecl:193 (min 33, Profile.ecl:519-520)
    features: tuple[str, ...] = ALL_FEATURES
    sample_size: int = 100  # percent
    lcb_limit: int = 64  # clamped 0..1000, Profile.ecl:229
    allow_zero: bool = False  # zero numerics are nil unless set
    mode: str = "exact"  # "exact" | "approx"
    approx_mode_card_limit: int = 10_000  # approx: modes only for low-card attrs
    # approx: attributes with more estimated distinct patterns than
    # this take the partition-local candidate path instead of the
    # exact pattern histogram (near-unique pattern spaces = free text)
    approx_pattern_limit: int = 200_000

    @property
    def pattern_len(self) -> int:
        return max(33, int(self.max_pattern_len))

    def has(self, feat: str) -> bool:
        return feat in self.features

    # ---- feature-driven plan gating ----
    @property
    def need_numeric(self) -> bool:
        return any(self.has(f) for f in NUMERIC_FEATURES)

    @property
    def need_flags(self) -> bool:
        # best types OR detecting string columns that are best-numeric
        return self.has("best_ecl_types") or self.need_numeric

    @property
    def need_lengths(self) -> bool:
        return self.has("lengths") or self.need_flags

    @property
    def need_patterns(self) -> bool:
        return self.has("patterns") and self.max_patterns > 0

    @property
    def need_cardinality(self) -> bool:
        # the breakdown feature reports cardinality whatever lcb_limit
        return (
            self.has("cardinality")
            or self.has("cardinality_breakdown")
            or self.mode == "approx"  # gates the low-card modes pass
        )


def _value_expr(a: AttrInfo) -> Column:
    c = F.col(a.name)
    if a.kind == KIND_STRING:
        return F.coalesce(F.trim(c), F.lit(""))
    if a.kind == KIND_BOOLEAN:
        return F.when(c, F.lit("true")).when(~c, F.lit("false")).otherwise(F.lit("false"))
    if a.kind == KIND_ARRAY:
        return F.when(
            c.isNull(), F.lit("")
        ).otherwise(F.concat_ws(", ", F.transform(c, lambda e: e.cast("string"))))
    if a.kind == KIND_BINARY:
        return F.coalesce(c.cast("string"), F.lit(""))
    if a.kind == KIND_NUMERIC:
        return F.coalesce(c.cast("string"), F.lit(""))
    # temporal and anything else: profiled via trimmed string form
    return F.coalesce(F.trim(c.cast("string")), F.lit(""))


def _len_expr(a: AttrInfo) -> Column:
    c = F.col(a.name)
    if a.kind == KIND_ARRAY:
        return F.coalesce(F.size(c), F.lit(0))  # element count, Profile.ecl:819-820
    if a.kind == KIND_BINARY:
        return F.coalesce(F.length(c), F.lit(0))  # byte length
    if a.kind == KIND_BOOLEAN:
        return F.lit(1)
    return F.length(_value_expr(a))


# Pass-1 value cap for the slim melt: every pass-1 consumer of the
# value string (pattern mapping, type-flag ladder, numeric parse,
# numeric filled test) is gated to trimmed length <= 40, so 48 chars
# (sign + 38-digit decimal + point headroom) lose nothing.
_SLIM_VALUE_CAP = 48

# Pass 1 estimates each attribute's pattern cardinality over the values
# whose hash is 0 mod this (1/16 of the distinct values).  Every pattern
# has at least one value, so the true pattern count is at most about
# this factor times the estimate.
_PAT_SAMPLE_MOD = 16

# Finished-pattern template for temporal renderings: every character
# of a timestamp/date string form is a digit (-> '9' after the final
# '0'->'9' fix-up) or a literal separator, so the FINISHED pattern is a
# pure function of the rendered LENGTH — a prefix of this template.
_TS_TEMPLATE = "9999-99-99 99:99:99.999999"

# Fast-path validity bounds: the arithmetic rendered-length rule holds
# while the (session-timezone-adjusted) year has exactly 4 digits.  A
# 2-day margin inside [0001-01-01, 9999-12-31] covers any timezone
# offset, so rows between these literals render with a 4-digit year in
# EVERY session timezone; rows outside fall back to formatting (and the
# filters on the native column are parquet-stats prunable).
_TS_LO = _dt.datetime(1, 1, 3)
_TS_HI = _dt.datetime(9999, 12, 29)
_DATE_LO = _dt.date(1, 1, 3)
_DATE_HI = _dt.date(9999, 12, 29)

# Max decimal digits of each integral Spark type (for the digit-count
# comparison ladder).
_INT_MAX_DIGITS = {"tinyint": 3, "smallint": 5, "int": 10, "bigint": 19}


def _is_fast_temporal(a: AttrInfo) -> bool:
    """Temporal attributes whose rendered length is computable without
    formatting (TimestampType / DateType; NTZ lacks ``unix_micros``)."""
    return a.kind == KIND_TEMPORAL and a.given_type in ("timestamp", "date")


def _temporal_bounds(a: AttrInfo) -> tuple[Column, Column]:
    if a.given_type == "date":
        # py4j renders a date literal with an unpadded year ("1-01-03"),
        # which java.sql.Date.valueOf rejects; the ISO string casts
        return F.lit(_DATE_LO.isoformat()).cast("date"), F.lit(_DATE_HI.isoformat()).cast("date")
    return F.lit(_TS_LO), F.lit(_TS_HI)


def _temporal_len_arith(a: AttrInfo) -> Column:
    """Rendered string length of an in-range temporal value, from the
    native micros/days — no datetime->string format.  TimestampType
    renders ``yyyy-MM-dd HH:mm:ss[.SSSSSS]`` with the fraction trimmed
    of trailing zeros (19 or 21..26 chars; timezone offsets are whole
    seconds in the tz database, so the fraction — hence the length —
    is session-timezone independent); DateType renders 10 chars."""
    if a.given_type == "date":
        return F.lit(10)
    frac = F.pmod(F.unix_micros(F.col(a.name)), F.lit(1_000_000))
    tz = (
        F.when(F.pmod(frac, 100_000) == 0, 5)
        .when(F.pmod(frac, 10_000) == 0, 4)
        .when(F.pmod(frac, 1_000) == 0, 3)
        .when(F.pmod(frac, 100) == 0, 2)
        .when(F.pmod(frac, 10) == 0, 1)
        .otherwise(0)
    )
    return F.when(frac == 0, F.lit(19)).otherwise(F.lit(26) - tz)


def _int_len_expr(name: str, max_digits: int) -> Column:
    """Length of an integral column's decimal rendering (digit count +
    sign, 0 for NULL) as one comparison CASE: no string form, and no
    ``abs()`` (which would overflow ANSI-mode on ``Long.MIN_VALUE``).
    Built as one SQL string, so it crosses py4j as one command; the
    column resolves as ``F.col(name)`` does (a dotted name is a nested
    field)."""
    c = ".".join(f"`{p.replace('`', '``')}`" for p in name.split("."))
    rungs = " ".join(
        f"WHEN {c} BETWEEN -{10**d - 1} AND {10**d - 1} THEN {d}"
        for d in range(1, max_digits)
    )
    return F.expr(
        f"CAST(CASE WHEN {c} IS NULL THEN 0 {rungs} ELSE {max_digits} END"
        f" + IF({c} < 0, 1, 0) AS INT)"
    )


def _melt_need(params: ProfileParams, exact: bool = False) -> set[str]:
    """The :func:`melt_slim` fields ``params`` needs: ``uni`` and
    ``fpat`` for the type flags, and then, for approx pass 1 and the
    states, ``vhash`` for cardinality or patterns, ``v`` for a numeric
    feature and ``value`` for patterns.  ``exact`` mode needs no hash or
    numeric reading: its cardinality, numeric stats, modes and patterns
    come from the value histogram, which groups on ``full``."""
    need = {"len", "fil"}
    if params.need_flags:
        need |= {"uni", "fpat"}
    if exact:
        if (
            params.need_cardinality
            or params.has("modes")
            or params.need_patterns
            or params.need_numeric
        ):
            need.add("full")
        return need
    if params.need_cardinality or params.need_patterns:
        need.add("vhash")
    if params.need_numeric:
        need.add("v")
    if params.need_patterns:
        need.add("value")
    return need


# the fields of a melt_slim row after ``attribute``, with their types
_MELT_FIELDS = (
    ("len", "int"),
    ("fil", "int"),
    ("vhash", "bigint"),
    ("uni", "int"),
    ("v", "double"),
    ("fpat", "string"),
    ("value", "string"),
)


def melt_slim(
    df: DataFrame,
    attrs: list[AttrInfo],
    params: ProfileParams,
    part: Column | None = None,
    need: set[str] | None = None,
) -> DataFrame:
    """One scan -> ``(attribute, len, fil, vhash, uni, v, fpat, value)``
    rows (and ``full``, see below), led by a ``_part`` column when
    ``part`` is given: the one melt of the profile, read by the fold
    (:func:`fold_aggs`) of both modes and of
    ``incremental.profile_state``, by exact mode's value histogram and
    by the heavy-pattern path.

    Per row and attribute: ``len`` is the length of the canonical
    string form (element count for arrays, byte length for binary);
    ``fil`` the filled bit (Profile.ecl:830-844); ``vhash`` a 64-bit
    distinctness hash of a filled value; ``uni`` the non-ASCII bit of
    strings; ``v`` the numeric reading; ``fpat`` the type-flag pattern
    ('0' kept literal); ``value`` the pattern-sample source (at most
    48 chars).  A field not in ``need`` (by default :func:`_melt_need`
    of ``params``) is NULL, so a feature subset pays for none of its
    work.  When ``need`` holds ``full``, a ``full`` column follows: the
    canonical string form (:func:`_value_expr`), uncut.

    Every value expression is projected once under the Generate (which
    gets no subexpression elimination), and the generator is one SQL
    string over the projected columns.  Per-kind fast paths keep
    string work off rows that never consume it:

    * **strings/binary**: trim once; the hash rides ``xxhash64`` of the
      full value (identical HLL estimate), so free-text bytes never
      enter the aggregate.  ``v`` (``try_cast``) and ``fpat`` run only
      behind a gate: values longer than 40 chars cannot match a numeric
      rule (19/20-digit, 15.15-float, exp — Profile.ecl:908-935), and a
      castable value starts ``[0-9+-.]``;
    * **numeric**: native hash, native filled bit and ``v`` the native
      double; integral types count digits instead of rendering for
      length, and render only the 1/16 pattern sample;
    * **boolean**: constant length 1, always filled, hash of
      ``coalesce(c, false)`` (the canonical form maps NULL -> 'false');
    * **timestamp/date**: arithmetic rendered length from the native
      value (:func:`_temporal_len_arith`) and native hash (injective
      rendering); only rows outside the 4-digit-year range are
      formatted.  A temporal rendering is never numeric and every type
      rule rejects its '-'/':', so it needs no ``v`` or ``fpat``;
    * **arrays**: SET OF is never numeric (Profile.ecl:846-847).

    With ``full``, every value is rendered anyway, so integral and
    temporal lengths are those of the rendering: the digit count and the
    arithmetic length would only add work.
    """
    need = _melt_need(params) if need is None else need
    proj: list[Column] = [] if part is None else [part.alias("_part")]
    structs: list[str] = []
    for i, a in enumerate(attrs):
        c = F.col(a.name)
        # per field: (SQL over the projected columns, {name: projection})
        f: dict[str, tuple[str, dict[str, Column]]] = {}
        if a.kind == KIND_NUMERIC:
            filled = (
                c.isNotNull()
                if params.allow_zero
                else (c.isNotNull() & (c.cast("double") != 0))
            )
            if a.given_type in _INT_MAX_DIGITS and "full" not in need:
                length = _int_len_expr(a.name, _INT_MAX_DIGITS[a.given_type])
            else:
                length = F.length(_value_expr(a)).cast("int")
            f["len"] = (f"_l{i}", {f"_l{i}": length})
            f["fil"] = (f"_f{i}", {f"_f{i}": filled.cast("int")})
            f["vhash"] = (f"_h{i}", {f"_h{i}": F.xxhash64(c)})
            f["v"] = (f"_d{i}", {f"_d{i}": F.when(filled, c.cast("double"))})
            # string form only on the pattern-cardinality sample (the
            # same predicate as pass 1's `sampled` gate on vhash)
            f["value"] = (
                f"IF(pmod(_h{i}, {_PAT_SAMPLE_MOD}) = 0, CAST(_c{i} AS STRING), NULL)",
                {f"_h{i}": F.xxhash64(c), f"_c{i}": c},
            )
        elif a.kind == KIND_BOOLEAN:
            f["len"] = f["fil"] = ("1", {})
            f["vhash"] = (f"_h{i}", {f"_h{i}": F.xxhash64(F.coalesce(c, F.lit(False)))})
        else:
            if _is_fast_temporal(a) and "full" not in need:
                lo, hi = _temporal_bounds(a)
                in_range = c.between(lo, hi)
                length = (
                    F.when(c.isNull(), 0)
                    .when(in_range, _temporal_len_arith(a))
                    .otherwise(F.length(c.cast("string")))
                    .cast("int")
                )
                f["vhash"] = (f"_h{i}", {f"_h{i}": F.xxhash64(c)})
                out = F.when(c.isNotNull() & ~in_range, c.cast("string"))
                f["value"] = (f"_x{i}", {f"_x{i}": out})
            else:
                # strings, arrays, binary, other temporals, and
                # timestamp/date with `full`: the canonical string form
                v = _value_expr(a)
                length = _len_expr(a).cast("int")
                f["vhash"] = (f"_h{i}", {f"_h{i}": F.xxhash64(v)})
                f["value"] = (f"substring(_v{i}, 1, {_SLIM_VALUE_CAP})", {f"_v{i}": v})
                if a.kind == KIND_STRING:
                    f["uni"] = (f"_u{i}", {f"_u{i}": is_non_ascii(v).cast("int")})
                if a.kind in (KIND_STRING, KIND_BINARY):
                    gate = (length <= 40) & v.rlike("^[0-9+\\-.]")
                    f["v"] = (f"_d{i}", {f"_d{i}": F.when(gate, v.try_cast("double"))})
                    pat = map_pattern(F.substring(v, 1, params.pattern_len))
                    f["fpat"] = (f"_p{i}", {f"_p{i}": F.when(gate, pat)})
            f["len"] = (f"_l{i}", {f"_l{i}": length})
            f["fil"] = (f"CAST(_l{i} > 0 AS INT)", {})
        # the hash of filled values only: an imperative aggregate's
        # input is evaluated per row without code generation
        f["vhash"] = (f"IF({f['fil'][0]} = 1, {f['vhash'][0]}, NULL)", f["vhash"][1])
        fields = []
        projected: dict[str, Column] = {}
        for n, t in _MELT_FIELDS:
            sql, cols = f[n] if n in need and n in f else (f"CAST(NULL AS {t})", {})
            fields.append(f"'{n}', {sql}")
            projected.update(cols)
        if "full" in need:
            # no fold reads it, so it is a column only when needed
            fields.append(f"'full', _v{i}")
            projected[f"_v{i}"] = _value_expr(a)
        proj += [e.alias(n) for n, e in projected.items()]
        name = a.name.replace("\\", "\\\\").replace("'", "\\'")
        structs.append(f"named_struct('attribute', '{name}', {', '.join(fields)})")
    keep = [] if part is None else ["_part"]
    return df.select(*proj).select(
        *keep, F.expr(f"inline(array({', '.join(structs)}))")
    )


def fold_aggs(
    params: ProfileParams | None = None,
    need: set[str] | None = None,
    weight: str | None = None,
) -> list[Column]:
    """The profile fold of :func:`melt_slim` rows: the ``STATE_SCHEMA``
    fold columns of ``incremental.py``, each a built-in aggregate that
    merges associatively (see its module docstring), so one fold serves
    both profile modes (grouped by attribute) and the mergeable states
    (grouped by partition and attribute).  :func:`finish_fold` turns
    the columns into profile statistics, merged or not.

    With ``params``, a column the features do not report is a typed
    NULL literal: one folding a melt field not in ``need`` (by default
    :func:`_melt_need` of ``params``), and the length folds unless
    lengths or type flags are needed.  A feature subset then updates
    none of them per row (the HLL sketch puts the fold in an
    object-hash aggregate, which evaluates every input without code
    generation), and ``finish_fold`` still computes every statistic it
    reports.  The states pass none and keep the full fold.

    ``weight`` names a count column: the rows are then exact mode's
    value histogram, one row per distinct melt row, and the counts and
    sums are weighted by it.  The histogram carries no ``vhash`` or
    ``v``, so ``need`` must hold neither."""
    filled = F.col("fil") == 1
    ln = F.when(filled, F.col("len"))
    v = F.col("v")
    fpat = F.col("fpat")

    def wsum(c: Column) -> Column:
        return F.sum(c if weight is None else c * F.col(weight))

    # per-row AND-fold of type flags (Profile.ecl:967-992); a filled
    # value with no flag pattern is AS_IS (0)
    flag = F.when(filled, F.when(fpat.isNull(), F.lit(besttype.AS_IS)).otherwise(
        besttype.type_flag(fpat, treat_as_is=False)
    ))
    # (name, melt field folded or "lengths", type, aggregate)
    fold = [
        ("rec_count", "fil", "long", F.count(F.lit(1)) if weight is None else F.sum(weight)),
        ("fill_count", "fil", "long", F.coalesce(wsum(F.col("fil")), F.lit(0)).cast("long")),
        ("min_length", "lengths", "int", F.min(ln)),
        ("max_length", "lengths", "int", F.max(ln)),
        ("len_sum", "lengths", "long", wsum(ln).cast("long")),
        ("min_len_nonzero", "lengths", "int", F.min(F.when(ln > 0, ln))),
        ("has_unicode", "uni", "int", F.max(F.when(filled, F.col("uni")))),
        ("type_flags", "fpat", "int", F.bit_and(flag)),
        # DataSketches HLL, lgK 14, ~0.8% RSE (documented deviation:
        # the reference is exact), fed the 64-bit value hash
        ("card_sketch", "vhash", "binary", F.hll_sketch_agg("vhash", LG_CONFIG_K)),
        ("num_n", "v", "long", F.count(v)),
        ("num_sum", "v", "double", F.sum(v)),
        ("num_sumsq", "v", "double", F.sum(v * v)),
        ("num_min", "v", "double", F.min(v)),
        ("num_max", "v", "double", F.max(v)),
    ]
    if params is not None:
        need = _melt_need(params) if need is None else need
        need = need | {"lengths"} if params.need_lengths else need
    return [
        (agg if need is None or field in need else F.lit(None).cast(typ)).alias(name)
        for name, field, typ, agg in fold
    ]


def finish_fold(kind: Column, given: Column) -> dict[str, Column]:
    """Profile statistics from the :func:`fold_aggs` columns, by output
    name, in ``merge_states``' column order: best type and is_numeric
    (Profile.ecl:1002-1023), fill rate (Profile.ecl:1488-1489), average
    length, cardinality (the sketch's estimate), and exact
    min/max/mean/population std-dev (Profile.ecl:1083-1086) of ``v``.
    ``kind`` and ``given`` are each row's attribute kind and given
    type."""
    type_flags = F.coalesce(F.col("type_flags"), F.lit(0))
    best = besttype.best_type_by_kind(
        kind=kind,
        given_type=given,
        fill_count=F.col("fill_count"),
        flags=type_flags,
        max_len=F.coalesce(F.col("max_length"), F.lit(0)),
        min_len_nonzero=F.coalesce(F.col("min_len_nonzero"), F.lit(0)),
        is_unicode=F.coalesce(F.col("has_unicode"), F.lit(0)) == 1,
    )
    numeric_bits = besttype.SIGNED | besttype.UNSIGNED | besttype.FLOAT | besttype.EXP
    is_num = F.coalesce(
        (kind == KIND_NUMERIC)
        | (
            (kind == KIND_STRING)
            & (type_flags.bitwiseAND(F.lit(numeric_bits)) != 0)
            & (F.col("fill_count") > 0)
        ),
        F.lit(False),
    )
    n = F.col("num_n")
    mean = F.col("num_sum") / n
    var = F.greatest(F.col("num_sumsq") / n - mean * mean, F.lit(0.0))
    return {
        "best_attribute_type": best,
        "rec_count": F.col("rec_count"),
        "fill_count": F.col("fill_count"),
        "fill_rate": F.when(
            F.col("rec_count") > 0,
            F.round(F.col("fill_count") / F.col("rec_count") * 100, 6),
        ).otherwise(F.lit(0.0)),
        "cardinality": F.coalesce(F.hll_sketch_estimate("card_sketch"), F.lit(0)),
        "min_length": F.coalesce(F.col("min_length"), F.lit(0)),
        "max_length": F.coalesce(F.col("max_length"), F.lit(0)),
        "ave_length": F.when(
            F.col("fill_count") > 0, F.floor(F.col("len_sum") / F.col("fill_count"))
        ).otherwise(F.lit(0)).cast("long"),
        "numeric_min": F.when(n > 0, F.round(F.col("num_min"), 4)),
        "numeric_max": F.when(n > 0, F.round(F.col("num_max"), 4)),
        "numeric_mean": F.when(n > 0, F.round(mean, 4)),
        "numeric_std_dev": F.when(n > 0, F.round(F.sqrt(var), 4)),
        "is_numeric": is_num,
    }


def _pattern_expr(attrs: list[AttrInfo], plen: int, finished: bool = False) -> Column:
    """Per-attribute pattern mapping (Profile.ecl:771-816) of the
    ``value`` column: numerics map their full string form, booleans are
    'B', everything else maps the trimmed value truncated to the pattern
    length.  ``finished`` fuses the '0'->'9' fix-up into the translate
    table, for the pattern histograms, which only ever consume the
    finished pattern (one string copy per row saved)."""
    mapper = map_pattern_finished if finished else map_pattern
    numeric = [a.name for a in attrs if a.kind == KIND_NUMERIC]
    booleans = [a.name for a in attrs if a.kind == KIND_BOOLEAN]
    att, val = F.col("attribute"), F.col("value")
    expr = F.when(F.lit(False), F.lit(""))
    if booleans:
        expr = expr.when(att.isin(booleans), F.lit("B"))
    if numeric:
        expr = expr.when(att.isin(numeric), mapper(val))
    return expr.otherwise(mapper(F.substring(val, 1, plen)))


def _deterministic_sample(df: DataFrame, pct: int) -> DataFrame:
    """Deterministic ~pct% sample — the Spark analogue of the
    reference's systematic ENTH sample (Profile.ecl:283-288)."""
    pct = max(1, min(100, int(pct)))
    if pct >= 100:
        return df
    h = F.pmod(F.xxhash64(F.struct(*[F.col(c) for c in df.columns])), F.lit(100))
    return df.filter(h < pct)


def profile(
    df: DataFrame,
    field_list: list[str] | str | None = None,
    max_patterns: int = 100,
    max_pattern_len: int = 100,
    features: tuple[str, ...] | str = ALL_FEATURES,
    sample_size: int = 100,
    lcb_limit: int = 64,
    allow_zero: bool = False,
    mode: str = "exact",
) -> DataFrame:
    """Profile every (selected) column of ``df``.

    Returns one row per attribute in schema order, matching the
    reference's ``FinalOutputLayout`` (Profile.ecl:445-496): child
    ArrayType(StructType) columns are exploded and profiled
    independently with dotted names, appended after the top-level
    attributes (Profile.ecl:1672-1739).  ``mode`` is ``"exact"`` or
    ``"approx"``.  In both modes the rows are finished, sorted and
    shaped on the driver, and the returned frame is a LocalRelation:
    collecting it runs no Spark job.
    """
    if mode not in ("exact", "approx"):
        raise ValueError(f"mode must be 'exact' or 'approx', not {mode!r}")
    if isinstance(field_list, str):
        field_list = [f for f in field_list.replace(" ", "").split(",") if f] or None
    if isinstance(features, str):
        features = tuple(f for f in features.replace(" ", "").split(",") if f)
    params = ProfileParams(
        field_list=field_list,
        max_patterns=max_patterns,
        max_pattern_len=max_pattern_len,
        features=tuple(features),
        sample_size=sample_size,
        lcb_limit=min(max(lcb_limit, 0), 1000),
        allow_zero=allow_zero,
        mode=mode,
    )
    attrs, children = walk_schema(df.schema, params.field_list)
    sampled = _deterministic_sample(df, params.sample_size)

    flats = []  # (frame, attrs, name_prefix, sort_prefix)
    if attrs:
        flats.append((sampled, attrs, "", ""))
    for child in children:
        child_fields = None
        if params.field_list:
            prefix = child.name.lower() + "."
            child_fields = [
                f[len(prefix):] for f in params.field_list if f.lower().startswith(prefix)
            ] or None
        exploded = sampled.select(F.explode(F.col(child.name)).alias("_row")).select("_row.*")
        child_attrs, _ = walk_schema(exploded.schema, child_fields)
        if child_attrs:
            flats.append(
                (exploded, child_attrs, f"{child.name}.", f"{child.ordinal:05d}.")
            )
    if not flats:
        raise ValueError("no profilable attributes found")
    flat = _profile_flat if params.mode == "exact" else _profile_flat_approx
    rows = [
        r
        for frame, fattrs, name_prefix, sort_prefix in flats
        for r in flat(frame, fattrs, params, name_prefix, sort_prefix)
    ]
    rows.sort(key=lambda r: r["sort_value"])
    return _rows_frame(df.sparkSession, rows, params)


def _run_jobs(spark: SparkSession, jobs: dict) -> dict:
    """Run the named zero-argument ``jobs`` concurrently, one pool
    thread each (inline when there is at most one), and return their
    results by name.  Each runs in the phase ``profile.<name>``, so
    every Spark job it submits carries that name.

    Each task carries the caller's Spark local properties (job group,
    description), since a pool thread starts with none.  Every task is
    wrapped by its own ``inheritable_thread_target`` call: one wrapper
    hands all its tasks ONE copied property set, so the SQL execution
    id that one task's query writes into it would make a sibling's
    concurrent query a nested execution of the first."""

    def named(name, fn):
        def run():
            with phase(spark, f"profile.{name}"):
                return fn()

        return run

    if len(jobs) <= 1:
        return {name: named(name, fn)() for name, fn in jobs.items()}
    with ThreadPoolExecutor(len(jobs)) as ex:
        futs = {
            name: ex.submit(inheritable_thread_target(spark)(named(name, fn)))
            for name, fn in jobs.items()
        }
        return {name: f.result() for name, f in futs.items()}


def _profile_flat(
    df: DataFrame,
    attrs: list[AttrInfo],
    params: ProfileParams,
    name_prefix: str,
    sort_prefix: str,
) -> list[dict]:
    """Exact profile of a flat (scalar-attribute) frame — the analogue
    of one ``_Inner_Profile`` expansion (Profile.ecl:508-1665).  Returns
    one row dict per attribute, as :func:`_profile_flat_approx` does.

    It reads the one melt (:func:`melt_slim`) and folds it with the
    profile fold (:func:`fold_aggs`, :func:`finish_fold`), as approx
    mode does, but with no value hash or numeric reading.  When a
    feature groups by value, the melt rows are first reduced to the
    distinct-value histogram, grouped on ``attribute``, the uncut value
    and the fields it determines, and the fold reads that weighted by
    its counts; otherwise the fold reads the melt rows.  The exact
    histograms stay on the cluster; what the driver fetches is bounded:

    ========  =============================================  ===========
    phase     fetch                                          rows per
                                                             attribute
    ========  =============================================  ===========
    hist      none: the ``(attribute, value, len, fil, uni,  --
              fpat)`` histogram, checkpointed for the
              passes below
    summary   the fold, with the exact ``count_distinct``    1
              cardinality
    numeric   :func:`_exact_numeric_stats`                   1
    vh        value histogram: the top ``MAX_MODES`` (and    <= 10, or
              bottom), or every value when 0 < cardinality   lcb_limit
              <= ``lcb_limit``
    patterns  pattern histogram: the top and bottom k        <= 2k
    corr      one ``agg`` of every ``corr`` pair             1 in all
    ========  =============================================  ===========

    The summary decides which attributes are numeric and which get a
    breakdown, so the other fetches follow it, concurrently.
    :func:`_driver_finish` turns the fetches into rows."""
    plen = params.pattern_len
    spark = df.sparkSession
    need = _melt_need(params, exact=True)
    rows = melt_slim(df, attrs, params, need=need)
    weight = None
    if "full" in need:
        # distinct-value histogram first (Profile.ecl:719-728): the
        # summary, numeric, value and pattern passes all branch from it,
        # so it is materialized eagerly (lazy caching would let the
        # concurrent passes race past an unpopulated cache and each
        # re-run the melt + groupBy).  localCheckpoint, NOT persist: a
        # persisted frame sits in the session CacheManager until
        # unpersisted, so a long-running driver profiling one batch
        # after another (scripts/run_job.py) would leak one cached melt
        # per call (probe: tests/test_operators.py::
        # test_profile_and_checks_leave_no_cached_frames).  The
        # checkpointed partitions are freed by the ContextCleaner once
        # the frame is unreferenced, and each pass then plans against a
        # leaf scan instead of re-optimizing the melt's expression tree.
        keys = [k for k in ("len", "fil", "uni", "fpat") if k in need]
        hist = rows.groupBy("attribute", F.col("full").alias("value"), *keys).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        rows = _run_jobs(spark, {"hist": lambda: hist.localCheckpoint(eager=True)})["hist"]
        weight = "cnt"
    filled = F.col("fil") == 1

    # --- per-attribute summary: the profile fold, with the exact
    # cardinality in place of the sketch and no moments (the numeric
    # stats are _exact_numeric_stats'); metadata from a literal map ---
    aggs = fold_aggs(params, need, weight)
    if params.need_cardinality:
        aggs.append(F.count_distinct(F.when(filled, F.col("value"))).alias("cardinality"))
    meta = _attr_meta(attrs, name_prefix, sort_prefix)
    stats = finish_fold(meta["_kind"], meta["given_attribute_type"])
    summary = rows.groupBy("attribute").agg(*aggs).select(
        *[meta[c].alias(c) for c in ("attribute", "given_attribute_type", "_kind", "sort_value")],
        F.col("attribute").alias("_local_name"),
        *[
            e.alias(c)
            for c, e in stats.items()
            if c != "cardinality" and c not in _NUMERIC_STATS
        ],
        *(["cardinality"] if params.need_cardinality else []),
    )
    got = _run_jobs(spark, {"summary": summary.collect})
    by_name = {r["_local_name"]: r.asDict() for r in got["summary"]}
    base_rows = [
        by_name.get(a.name) or _unfilled_base_row(a, name_prefix, sort_prefix)
        for a in attrs
    ]

    jobs: dict[str, object] = {}
    # --- numeric stats (A5/A6) of the attributes judged numeric ---
    num_names = [r["_local_name"] for r in base_rows if r["is_numeric"]]
    if params.need_numeric and num_names:
        hnum = rows.filter(filled & F.col("attribute").isin(num_names)).select(
            "attribute", F.col("value").cast("double").alias("v"), "cnt"
        )
        jobs["numeric"] = _exact_numeric_stats(hnum).collect

    # --- value histogram: modes (J2) + low-card breakdown (A9) ---
    lcb_names = sorted(_lcb_names(base_rows, params))
    if params.has("modes") or lcb_names:
        lcb = F.col("attribute").isin(lcb_names)
        vh = rows.filter(filled if params.has("modes") else filled & lcb)
        vh = vh.groupBy("attribute", "value").agg(F.sum("cnt").alias("rec_count"))
        k = F.when(lcb, params.lcb_limit).otherwise(MAX_MODES)
        jobs["vh"] = _arrow(_dual_topk_survivors(vh, k, "value"))

    # --- popular / rare text patterns (A8 + J3) ---
    if params.need_patterns:
        pat = (
            rows.filter(filled)
            .withColumn("data_pattern", _pattern_expr(attrs, plen, finished=True))
            .groupBy("attribute", "data_pattern")
            .agg(
                F.sum("cnt").alias("rec_count"),
                F.min(F.substring(F.col("value"), 1, plen)).alias("example"),
            )
        )
        jobs["patterns"] = _arrow(
            _dual_topk_survivors(pat, int(params.max_patterns), "data_pattern")
        )

    # --- correlations (A12, Profile.ecl:1213-1260) ---
    corr_pairs = _corr_pairs(attrs, params)
    if corr_pairs:
        jobs["corr"] = _corr_agg(df, corr_pairs)

    res = _run_jobs(spark, jobs)
    for r in res.get("numeric", []):
        by_name[r["attribute"]].update({c: r[c] for c in _NUMERIC_STATS})
    return _driver_finish(
        base_rows,
        params,
        name_prefix,
        res.get("patterns"),
        res.get("vh"),
        corr_pairs,
        res.get("corr"),
    )


# the typed key slots of _lowcard_value_hist's melt
_VH_SLOTS = {"l": "BIGINT", "d": "DOUBLE", "s": "STRING"}


def _lowcard_value_hist(
    df: DataFrame, attrs: list[AttrInfo], allow_zero: bool
) -> DataFrame:
    """``(attribute, value, rec_count)`` histogram for low-cardinality
    attributes, as ONE aggregate keyed by (attribute, value).

    A melt emits one ``(i, l, d, s)`` key per attribute per row into
    typed slots, so no per-row string rendering is paid where the
    native value groups the same way: integral numerics, booleans and
    timestamp/date values (as micros/days) group in the long slot ``l``,
    float/double in ``d``, and everything else as its canonical string
    in ``s``.  Unfilled values leave every slot NULL and are dropped
    before the aggregate.  The canonical string form is rendered AFTER
    it, over the bounded distinct rows.  Output is identical to a
    per-attribute ``groupBy`` on the canonical form: filled rows only,
    Profile.ecl:830-844 semantics per kind."""
    proj: list[Column] = []
    keys: list[str] = []
    renders: list[str] = []
    for i, a in enumerate(attrs):
        c = F.col(a.name)
        k = None
        if a.kind == KIND_NUMERIC:
            filled = (
                c.isNotNull() if allow_zero else (c.isNotNull() & (c.cast("double") != 0))
            )
            if a.given_type in _INT_MAX_DIGITS:
                render, slot, k = "long", "l", F.when(filled, c.cast("long"))
            elif a.given_type in ("float", "double"):
                render, slot, k = a.given_type, "d", F.when(filled, c.cast("double"))
            else:
                render, slot, k = "string", "s", F.when(filled, c.cast("string"))
        elif a.kind == KIND_BOOLEAN:
            # canonical form maps NULL -> 'false'; always filled
            render, slot, k = "boolean", "l", F.coalesce(c, F.lit(False)).cast("long")
        elif _is_fast_temporal(a):
            native = F.unix_micros(c) if a.given_type == "timestamp" else F.unix_date(c)
            render, slot, k = a.given_type, "l", native.cast("long")
        elif a.kind == KIND_TEMPORAL:
            render, slot, k = "string", "s", c.cast("string")
        else:
            # the value is projected once: the generator gets no
            # subexpression elimination, and the filled test reads it
            # again (see melt_slim)
            render, slot = "string", "s"
            proj.append(_value_expr(a).alias(f"_v{i}"))
            ln = f"length(_v{i})"
            if a.kind in (KIND_ARRAY, KIND_BINARY):
                proj.append(_len_expr(a).alias(f"_l{i}"))
                ln = f"_l{i}"
            key = f"IF({ln} > 0, _v{i}, NULL)"
        if k is not None:
            proj.append(k.alias(f"_k{i}"))
            key = f"_k{i}"
        renders.append(render)
        slots = {n: f"CAST(NULL AS {t})" for n, t in _VH_SLOTS.items()}
        slots[slot] = key
        fields = ", ".join(f"'{n}', {e}" for n, e in slots.items())
        keys.append(f"named_struct('i', {i}, {fields})")
    hist = (
        df.select(*proj)
        .select(F.expr(f"inline(array({', '.join(keys)}))"))
        .filter("l IS NOT NULL OR d IS NOT NULL OR s IS NOT NULL")
        .groupBy("i", "l", "d", "s")
        .agg(F.count(F.lit(1)).alias("rec_count"))
    )
    render = "array(%s)[i]" % ", ".join(f"'{r}'" for r in renders)
    value = F.expr(
        f"""CASE {render}
        WHEN 'long' THEN CAST(l AS STRING)
        WHEN 'boolean' THEN IF(l = 1, 'true', 'false')
        WHEN 'timestamp' THEN CAST(timestamp_micros(l) AS STRING)
        WHEN 'date' THEN CAST(date_from_unix_date(CAST(l AS INT)) AS STRING)
        WHEN 'double' THEN CAST(d AS STRING)
        WHEN 'float' THEN CAST(CAST(d AS FLOAT) AS STRING)
        ELSE s END"""
    )
    names = F.from_json(F.lit(json.dumps([a.name for a in attrs])), "array<string>")
    return hist.select(
        names[F.col("i")].alias("attribute"), value.alias("value"), "rec_count"
    )


def _light_pattern_hist(
    df: DataFrame, attrs: list[AttrInfo], allow_zero: bool, plen: int
) -> DataFrame:
    """``(attribute, data_pattern, rec_count, example)`` exact pattern
    histogram for bounded-pattern-space attributes — one aggregate
    branch per attribute instead of one melted scan (same shuffle
    volume, no Generate copy of every row, column-pruned scans per
    branch).

    Timestamp/date attributes take an arithmetic fast path: the
    finished pattern of a temporal rendering with a 4-digit year is a
    pure function of its LENGTH (every char is a digit -> '9' or a
    literal separator), so in-range rows group on that length
    (:func:`_temporal_len_arith`; an int key hashes cheaper than the
    pattern) with no per-row formatting or pattern mapping.  Only rows
    outside the range are formatted and mapped, in the same aggregate:
    one whose pattern is a template prefix joins that length's group,
    any other groups on its pattern.  The example is the rendered
    ``min(native)`` of the group: renderings of one pattern have one
    length and layout, so for every year from 0000 up they order
    chronologically and ``min(render) == render(min)``.  A string
    ``min`` would also hold for negative years, but its buffer makes
    Spark sort every row instead of hashing it."""
    cnt = F.count(F.lit(1)).alias("rec_count")
    branches = []
    for a in attrs:
        c = F.col(a.name)
        alit = F.lit(a.name).alias("attribute")
        if _is_fast_temporal(a):
            lo, hi = _temporal_bounds(a)
            in_range = c.between(lo, hi)
            pat = map_pattern_finished(
                F.substring(F.when(~in_range, _value_expr(a)), 1, plen)
            )
            tlen = F.when(in_range, _temporal_len_arith(a)).when(
                pat == F.substring(F.lit(_TS_TEMPLATE), F.lit(1), F.length(pat)),
                F.length(pat),
            )
            template = F.substring(F.lit(_TS_TEMPLATE), F.lit(1), F.col("_l"))
            branches.append(
                df.filter(c.isNotNull())
                .groupBy(tlen.alias("_l"), F.when(tlen.isNull(), pat).alias("_p"))
                .agg(cnt, F.min(c).alias("_m"))
                .select(
                    alit,
                    F.coalesce(template, F.col("_p")).alias("data_pattern"),
                    "rec_count",
                    F.substring(F.col("_m").cast("string"), 1, plen).alias("example"),
                )
            )
            continue
        if a.kind == KIND_NUMERIC:
            filt = (
                c.isNotNull()
                if allow_zero
                else (c.isNotNull() & (c.cast("double") != 0))
            )
            src = df.filter(filt).select(_value_expr(a).alias("value"))
        elif a.kind == KIND_BOOLEAN:
            src = df.select(_value_expr(a).alias("value"))
        else:
            src = df.select(
                _value_expr(a).alias("value"), _len_expr(a).alias("_l")
            ).filter(F.col("_l") > 0)
        # per-kind pattern source mirrors _pattern_expr's dispatch,
        # with the '0'->'9' fix-up fused into the translate table
        if a.kind == KIND_BOOLEAN:
            pat = F.lit("B")
        elif a.kind == KIND_NUMERIC:
            pat = map_pattern_finished(F.col("value"))
        else:
            pat = map_pattern_finished(F.substring(F.col("value"), 1, plen))
        branches.append(
            src.select(
                pat.alias("data_pattern"),
                F.substring(F.col("value"), 1, plen).alias("example"),
            )
            .groupBy("data_pattern")
            .agg(cnt, F.min("example").alias("example"))
            .select(alit, "data_pattern", "rec_count", "example")
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def _dual_topk_survivors(
    frame: DataFrame, k: int | Column, tie: str, count: str = "rec_count"
) -> DataFrame:
    """Per-attribute top-k AND bottom-k rows of a histogram in ONE pass,
    ranked by ``count`` (descending, then ascending) with ``tie``
    ascending as the tie-break: both rankings ride a single Exchange on
    (attribute, salt) — phase 1 keeps k per salt bucket per direction,
    phase 2 ranks the bounded survivors per attribute.  A whole
    attribute is never one window partition (skew note).  ``k`` may be
    a per-row Column (a per-attribute k).  Output: the <= 2k rows per
    attribute that can appear in a top-k or bottom-k, with ``frame``'s
    columns."""
    buckets = 64
    salt = F.pmod(F.xxhash64(tie), F.lit(buckets))
    top, bottom = [F.desc(count), F.asc(tie)], [F.asc(count), F.asc(tie)]
    keep = (F.col("_rd") <= k) | (F.col("_ra") <= k)

    def survivors(f: DataFrame, *part: Column) -> DataFrame:
        w = Window.partitionBy("attribute", *part)
        return (
            f.withColumn("_rd", F.row_number().over(w.orderBy(*top)))
            .withColumn("_ra", F.row_number().over(w.orderBy(*bottom)))
            .filter(keep)
            .drop("_rd", "_ra")
        )

    return survivors(survivors(frame, salt))


def _heavy_pattern_candidates(
    df: DataFrame,
    heavy_attrs: list[AttrInfo],
    params: ProfileParams,
    plen: int,
    total_rows: int,
) -> DataFrame:
    """Frequent/rare-pattern top-k for attributes whose pattern space
    is near-unique (free text) — no full-pattern-space shuffle, and no
    Python anywhere in the path.

    Measured on the flagship transcript input: ``text`` has 18.3M
    distinct finished patterns over 19.2M rows — free text's pattern
    signature is close to injective, so an exact ``groupBy(attribute,
    data_pattern)`` shuffles ~one group per input row (at 10^12 rows, a
    ~data-sized shuffle) to answer a top-/bottom-k question.  Instead:

    1. **candidate generation** over a seeded 1/S Bernoulli sample,
       with S sized so the sampled row count stays near a fixed budget
       at ANY input scale (bounded shuffle; only the sampled fraction
       pays the pattern mapping): the sample is counted exactly per
       64-bit pattern hash, and the global top-2m / bottom-2m hashes
       per attribute survive as candidates (m = 4*maxPatterns, min
       400; per-group top-k via the salted two-phase
       :func:`_dual_topk_survivors`, never a whole-attribute window
       partition).
    2. **resolution**: one column-pruned re-scan recomputes each row's
       pattern hash and keeps only rows matching the <= 4m winning
       hashes per attribute (broadcast semi-join on 8-byte keys), then
       a bounded ``groupBy`` yields the EXACT global count, the pattern
       string and the min example for every candidate.

    Accuracy (documented approx-mode deviation — exact mode keeps the
    reference's full histogram, Profile.ecl:1300-1338): resolved counts
    and examples are exact; only candidate *coverage* is sample-based —
    a true top-k pattern is missed only if its sampled count falls
    below the 2m-th sampled candidate, vanishingly unlikely while its
    true count >> S (any pattern heavy enough to rank top-k in a
    near-unique space); rare-k candidates resolve to exact counts,
    with selection among the (abundant) equal-count ties
    sample-dependent — the same hash-order vs pattern-order tie-break
    caveat as before.  64-bit hash collisions are negligible at this
    key count (~1e-5 at 20M patterns).
    """
    winners = _pattern_sample_winners(df, heavy_attrs, params, plen, total_rows)
    return _resolve_pattern_candidates(df, heavy_attrs, winners, params, plen)


def _pattern_sample_winners(
    df: DataFrame,
    cand_attrs: list[AttrInfo],
    params: ProfileParams,
    plen: int,
    total_rows: int,
) -> DataFrame:
    """Candidate-generation stage of the heavy-pattern path (step 1 of
    :func:`_heavy_pattern_candidates`): the per-attribute top-2m /
    bottom-2m sampled pattern hashes.  Runs speculatively (concurrent
    with pass 1, over every possibly-heavy attribute) on large inputs."""
    m = max(4 * int(params.max_patterns), 400)
    # Sample modulus: bound the candidate shuffle near a fixed PER-
    # ATTRIBUTE row budget regardless of input size; >= 16 keeps the
    # pattern mapping off >90% of rows even on small inputs.
    budget = 4_000_000
    s_mod = max(16, int(total_rows) // budget + 1)
    # bounded (<= ~budget rows per attribute) exact per-hash counts of
    # the sample.  The gate is a seeded per-row Bernoulli (NOT a
    # value-hash gate: a top pattern backed by one hot repeated value
    # would be sampled all-or-nothing by its value hash); selection is
    # deterministic for a given input partitioning — the same caveat
    # as the previous partition-local candidate design.  The gate sits
    # BELOW the melt (on input rows, one draw shared by all heavy
    # attributes — identical per-attribute marginal), so the Generate +
    # trim/len/pattern machinery runs on 1/s_mod of the rows instead of
    # all of them (interleaved A/B at local[32], 19M turns: winners
    # 7.9s -> 5.4s best-of-3).
    sample = df.filter(F.rand(42) < 1.0 / s_mod)
    cand = (
        melt_slim(sample, cand_attrs, params, need={"len", "fil", "full"})
        .filter("fil = 1")
        .select("attribute", F.col("full").alias("value"))
        .select(
            "attribute",
            F.xxhash64(_pattern_expr(cand_attrs, plen, finished=True)).alias("ph"),
        )
        .groupBy("attribute", "ph")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # top-2m AND bottom-2m per attribute in ONE pass over cand (the
    # previous formulation, a localCheckpoint + two top-k window trees,
    # paid an extra checkpoint job + barrier)
    return _dual_topk_survivors(cand, 2 * m, "ph", count="cnt").select("attribute", "ph")


def _resolve_pattern_candidates(
    df: DataFrame,
    heavy_attrs: list[AttrInfo],
    winners: DataFrame,
    params: ProfileParams,
    plen: int,
) -> DataFrame:
    """Resolution stage of the heavy-pattern path (step 2 of
    :func:`_heavy_pattern_candidates`).

    Resolution scan: exact count + pattern string + min example for
    every winning hash, bounded output (<= 4m per attribute).  The
    example substring is cut AFTER the (executor-side broadcast)
    semi-join: only surviving rows allocate it, and the pre-join rows
    carry the melt's existing value pointer — one fewer string copy
    per input row on a full-corpus scan.
    """
    return (
        melt_slim(df, heavy_attrs, params, need={"len", "fil", "full"})
        .filter("fil = 1")
        .select("attribute", F.col("full").alias("value"))
        .select(
            "attribute",
            _pattern_expr(heavy_attrs, plen, finished=True).alias("data_pattern"),
            "value",
        )
        .withColumn("ph", F.xxhash64("data_pattern"))
        .join(F.broadcast(winners), ["attribute", "ph"], "left_semi")
        .groupBy("attribute", "data_pattern")
        .agg(
            F.count(F.lit(1)).alias("rec_count"),
            F.min(F.substring(F.col("value"), 1, plen)).alias("example"),
        )
    )


# Driver-row budget of the light-pattern fetch.  When pass 1's bound
# on the light attributes' pattern rows exceeds it, the salted window
# top-k/bottom-k (_dual_topk_survivors) reduces the histogram on the
# cluster before the fetch.  Every other fetch of approx mode is
# bounded by construction: <= approx_mode_card_limit value rows per
# low-card attribute, <= 4m resolved candidates per heavy attribute.
_DRIVER_ROW_BUDGET = 500_000

_NUMERIC_STATS = (
    "numeric_min",
    "numeric_max",
    "numeric_mean",
    "numeric_std_dev",
    "numeric_lower_quartile",
    "numeric_median",
    "numeric_upper_quartile",
)


def _meta_fields(a: AttrInfo, name_prefix: str, sort_prefix: str) -> dict:
    return {
        "attribute": name_prefix + a.name,
        "given_attribute_type": a.given_type,
        "_kind": a.kind,
        "sort_value": f"{sort_prefix}{a.ordinal:05d}",
    }


def _attr_meta(attrs: list[AttrInfo], name_prefix: str, sort_prefix: str) -> Column:
    """Each aggregated row's attribute metadata, looked up by its local
    ``attribute`` name in a literal map (as ``profile_state`` does): a
    driver-built frame joined in would cost a broadcast job per call.
    The map crosses py4j as one JSON literal that Catalyst folds."""
    meta = {a.name: _meta_fields(a, name_prefix, sort_prefix) for a in attrs}
    return F.from_json(
        F.lit(json.dumps(meta)),
        "map<string,struct<attribute:string,given_attribute_type:string,"
        "_kind:string,sort_value:string>>",
    )[F.col("attribute")]


def _unfilled_base_row(a: AttrInfo, name_prefix: str, sort_prefix: str) -> dict:
    """The pass-1 (or exact summary) row of an attribute with no input
    rows (the aggregate then emits none): zero counts, the given type,
    no numeric stats."""
    zero = (
        "rec_count", "fill_count", "min_length", "max_length", "ave_length",
        "cardinality", "_pat_card_short", "_n_long",
    )
    return {
        **_meta_fields(a, name_prefix, sort_prefix),
        "_local_name": a.name,
        **dict.fromkeys(zero, 0),
        "best_attribute_type": a.given_type,
        "is_numeric": a.kind == KIND_NUMERIC,
        "fill_rate": 0.0,
    }


def _by_attribute(tbl, keys: list[tuple[str, str]]) -> dict:
    """Arrow table ``tbl`` sorted by ``attribute`` then ``keys``, split
    into one slice per attribute.  Arrow compares strings as UTF-8
    bytes, which is Spark's binary string order, so the tie-breaks are
    those of a Spark ``ORDER BY`` on the same keys."""
    import pyarrow.compute as pc

    tbl = tbl.take(pc.sort_indices(tbl, [("attribute", "ascending"), *keys]))
    runs = pc.run_end_encode(tbl["attribute"].combine_chunks())
    out, start = {}, 0
    for a, end in zip(runs.values.to_pylist(), runs.run_ends.to_pylist()):
        out[a] = tbl.slice(start, end - start)
        start = end
    return out


def _popular_rare(pat, k: int) -> tuple[dict, dict]:
    """Popular/rare patterns (A8 + anti-join J3) per attribute from the
    ``(attribute, data_pattern, rec_count, example)`` Arrow table
    ``pat``: the top k by (count desc, pattern asc), and the bottom k by
    (count asc, pattern asc) that are not popular."""
    cols = ["data_pattern", "rec_count", "example"]
    top = _by_attribute(pat, [("rec_count", "descending"), ("data_pattern", "ascending")])
    bottom = _by_attribute(pat, [("rec_count", "ascending"), ("data_pattern", "ascending")])
    popular: dict[str, list] = {}
    rare: dict[str, list] = {}
    for a, t in top.items():
        popular[a] = t.slice(0, k).select(cols).to_pylist()
        seen = {p["data_pattern"] for p in popular[a]}
        rare[a] = [
            p
            for p in bottom[a].slice(0, k).select(cols).to_pylist()
            if p["data_pattern"] not in seen
        ]
    return popular, rare


def _lcb_names(base_rows: list[dict], params: ProfileParams) -> set[str]:
    """The attributes that get a cardinality breakdown (A9,
    Profile.ecl:1178-1192): those with 0 < cardinality <= lcb_limit."""
    if not (params.has("cardinality_breakdown") and params.lcb_limit > 0):
        return set()
    return {
        r["_local_name"] for r in base_rows if 0 < r["cardinality"] <= params.lcb_limit
    }


def _corr_pairs(attrs: list[AttrInfo], params: ProfileParams) -> list[tuple[str, str]]:
    """Every pair of numeric attributes, when correlations are profiled
    (A12, Profile.ecl:1213-1245)."""
    if not params.has("correlations"):
        return []
    num = [a.name for a in attrs if a.kind == KIND_NUMERIC]
    return [(x, y) for i, x in enumerate(num) for y in num[i + 1 :]]


def _arrow(frame: DataFrame):
    """The job fetching ``frame`` as an Arrow table: a zero-argument
    callable.  Its strings are read as Spark's ``collect`` reads them,
    each invalid UTF-8 sequence replaced by U+FFFD: a binary attribute's
    canonical form is the string cast of its bytes, which Arrow cannot
    hand to Python when they are not UTF-8."""
    return frame.select(
        *[
            F.make_valid_utf8(f.name).alias(f.name)
            if isinstance(f.dataType, T.StringType)
            else F.col(f.name)
            for f in frame.schema.fields
        ]
    ).toArrow


def _corr_agg(df: DataFrame, pairs: list[tuple[str, str]]):
    """The job computing every pair's Pearson correlation in ONE
    aggregate (the reference scans once per pair): a zero-argument
    callable returning the one result row."""
    return (
        lambda: df.agg(
            *[
                F.corr(F.col(x).cast("double"), F.col(y).cast("double")).alias(f"c{i}")
                for i, (x, y) in enumerate(pairs)
            ]
        ).collect()[0]
    )


def _driver_finish(
    base_rows: list[dict],
    params: ProfileParams,
    name_prefix: str,
    pat,
    vh,
    corr_pairs: list[tuple[str, str]],
    corr_row,
) -> list[dict]:
    """The profile's rows, in both modes, from the bounded fetches:
    ``base_rows`` (one dict per attribute), the pattern histogram
    ``pat`` (an ``(attribute, data_pattern, rec_count, example)`` Arrow
    table holding at least each attribute's top-k and bottom-k
    patterns), the value histogram ``vh`` (an ``(attribute, value,
    rec_count)`` Arrow table holding at least each attribute's top
    ``MAX_MODES`` values and every value of each breakdown attribute),
    and the correlations of ``corr_pairs`` in ``corr_row``.

    In Python: popular/rare split with the anti-join (J3), mode ties
    (J2, Profile.ecl:1163-1175), cardinality breakdown (A9),
    correlation mirroring (A12) and the per-attribute assembly.
    Cluster-side, those steps were about ten sequential tiny stages of
    pure scheduler latency (24 jobs of an exact profile).  String
    ordering parity: Spark compares strings as binary UTF-8, which is
    the order of Arrow's sorts and of Python's code-point comparison,
    so the tie-breaks are those of :func:`_dual_topk_survivors`' cuts
    and of a Spark ``ORDER BY``."""
    # ---- popular / rare patterns (A8 + anti-join J3) ----
    popular: dict[str, list] = {}
    rare: dict[str, list] = {}
    if pat is not None:
        popular, rare = _popular_rare(pat, int(params.max_patterns))

    # ---- modes (J2) + cardinality breakdown (A9) ----
    modes: dict[str, list] = {}
    lcb: dict[str, list] = {}
    if vh is not None:
        lcb_names = _lcb_names(base_rows, params)
        by_count = _by_attribute(vh, [("rec_count", "descending"), ("value", "ascending")])
        for a, t in by_count.items():
            t = t.select(["value", "rec_count"])
            if params.has("modes"):
                head = t.slice(0, MAX_MODES).to_pylist()
                mx = head[0]["rec_count"]
                if mx > 1:
                    modes[a] = [h for h in head if h["rec_count"] == mx]
            if a in lcb_names:
                lcb[a] = t.to_pylist()

    # ---- correlations (A12, mirrored both directions) ----
    corr: dict[str, list] = {}
    for i, (x, y) in enumerate(corr_pairs):
        c = corr_row[i]
        c = round(float(c), 6) if c is not None else 0.0
        corr.setdefault(x, []).append({"attribute": name_prefix + y, "corr": c})
        corr.setdefault(y, []).append({"attribute": name_prefix + x, "corr": c})
    for lst in corr.values():
        lst.sort(key=lambda d: (-d["corr"], d["attribute"]))

    return [
        {
            **r,
            "popular_patterns": popular.get(r["_local_name"]),
            "rare_patterns": rare.get(r["_local_name"]),
            "modes": modes.get(r["_local_name"]),
            "cardinality_breakdown": lcb.get(r["_local_name"]),
            "correlations": corr.get(r["_local_name"]),
        }
        for r in base_rows
    ]


def _profile_flat_approx(
    df: DataFrame,
    attrs: list[AttrInfo],
    params: ProfileParams,
    name_prefix: str,
    sort_prefix: str,
) -> list[dict]:
    """Sketch-path profile for the 10^12-row tier: ONE full-width pass
    over the input, then only bounded or column-pruned follow-ups, all
    finished on the driver.  Returns one row dict per attribute, in the
    :func:`_output_fields` layout plus ``sort_value``/``_local_name``.

    1. **pass 1 (full width, no raw-value shuffle, slim melt)**: the
       :func:`melt_slim` melt carries at most 48 value chars per row —
       distinctness rides a precomputed 64-bit value hash and the
       non-ASCII probe a precomputed bit, so free-text bytes never
       enter the explode/aggregate path.  It aggregates straight to
       attribute grain with the profile fold the mergeable states use
       (:func:`fold_aggs`: fill/lengths, DataSketches HLL cardinality,
       the type/unicode folds and the moments of the numeric reading,
       native for given-numeric attributes), plus two one-shot columns:
       GK ``percentile_approx`` quartiles, and each attribute's
       *pattern* cardinality (HLL over a 1/16-sampled short-value
       pattern + count of long values) to drive step 2's plan choice.
       :func:`finish_fold` turns the fold into statistics, as
       ``merge_states`` does.  Attribute metadata comes from a literal
       map (:func:`_attr_meta`), so pass 1 is one aggregate and its
       collect.
    2. **patterns, split by pattern-space size** (driver decision from
       pass-1 estimates, mirroring the reference's own lcbLimit gating
       idea, Profile.ecl:178-183): low-card attributes re-aggregate
       their value histogram (step 3); other attributes under
       ``approx_pattern_limit`` distinct patterns take the exact
       per-attribute pattern histogram (column-pruned scans — for
       transcripts this reads the small columns only), fetched whole
       unless it may exceed ``_DRIVER_ROW_BUDGET`` rows;
       near-unique-pattern attributes (free text) take
       the sampled candidate path
       (:func:`_heavy_pattern_candidates`) with NO pattern shuffle.
    3. low-card value histogram for modes/breakdown/derived patterns
       (one aggregate keyed by (attribute, value)) and correlations
       (one agg of all ``corr`` pairs).
    4. the fetches of steps 2-3 run concurrently, as Arrow, and
       :func:`_driver_finish` (shared with exact mode) turns them into
       rows.

    Job map of one call on the transcript table (6 columns, about 38k
    turns, 16 shuffle partitions), each job named by its phase:

    ==========================  ====
    phase                       jobs
    ==========================  ====
    ``profile.pass1``           2
    ``profile.vh``              2
    ``profile.light_patterns``  3 (one branch each for text and ts)
    caller's ``collect``        0
    ==========================  ====

    Deviations from the always-exact reference (documented):
    DataSketches HLL cardinality (lgK 14, ~0.8% RSE), sketch
    quantiles, modes/breakdown only under ``approx_mode_card_limit``,
    and top/rare patterns for near-unique pattern spaces are
    candidate-merged (see :func:`_heavy_pattern_candidates`).
    """
    plen = params.pattern_len
    need_pat_feature = params.need_patterns

    # ---- pass 1: one full-width melt -> attribute-grain fold ----
    # NOTE: a "one wide aggregate over the unmelted frame" variant was
    # A/B-tested in round 1 and is 11-14x SLOWER (drops out of
    # whole-stage codegen); the melt keeps row-shaping in codegen.
    m1 = melt_slim(df, attrs, params)
    extra = []
    if need_pat_feature:
        # pattern-cardinality estimate from a 1/16 deterministic hash
        # sample: a distinct-in-sample count estimates min(true pattern
        # cardinality, sample size), which classifies the pattern space
        # reliably whenever sample size >> approx_pattern_limit — true
        # at the scale tier this mode targets; under that, the exact
        # histogram is the right plan anyway and misclassification only
        # picks the other (still correct) path.  Sampling keeps the
        # pattern mapping off 15/16 of the pass-1 rows (measured ~11s
        # of pass-1 wall at local[16] on 19M turns).  In-range
        # timestamp/date rows (value is NULL in the slim melt) estimate
        # from the length-template FINISHED pattern — what the
        # follow-up histogram groups on, and a tiny space by
        # construction, so they always classify light.
        filled = F.col("fil") == 1
        short = F.col("len") <= 40
        sampled = F.pmod(F.col("vhash"), F.lit(_PAT_SAMPLE_MOD)) == 0
        pat_sample = _pattern_expr(attrs, plen)
        tfast = [a.name for a in attrs if _is_fast_temporal(a)]
        if tfast:
            pat_sample = F.when(
                F.col("attribute").isin(tfast) & F.col("value").isNull(),
                F.substring(F.lit(_TS_TEMPLATE), F.lit(1), F.col("len")),
            ).otherwise(pat_sample)
        # projected before the aggregate: an imperative aggregate's
        # input is evaluated per row without code generation
        m1 = m1.withColumn("_pat_s", F.when(filled & short & sampled, pat_sample))
        extra += [
            F.hll_sketch_estimate(F.hll_sketch_agg("_pat_s", LG_CONFIG_K)).alias(
                "_pat_card_short"
            ),
            F.coalesce(F.sum(F.when(filled & ~short, 1)), F.lit(0)).alias("_n_long"),
        ]
    if params.need_numeric:
        # GK quartiles: the one-shot's accuracy contract (the stored
        # states use a mergeable KLL sketch instead)
        extra.append(F.percentile_approx("v", [0.25, 0.5, 0.75], 10_000).alias("_q"))
    summary = m1.groupBy("attribute").agg(*fold_aggs(params), *extra)

    # ---- pass-1 rows (one per attribute), metadata from a literal map ----
    meta = _attr_meta(attrs, name_prefix, sort_prefix)
    stats = finish_fold(meta["_kind"], meta["given_attribute_type"])
    if params.need_numeric:
        stats.update(
            {name: F.round(F.col("_q")[i], 4) for i, name in enumerate(_NUMERIC_STATS[4:])}
        )
    # numeric stats are folded for every numeric reading; only
    # attributes judged numeric by the type fold report them
    is_num = stats["is_numeric"]
    base = summary.select(
        *[meta[c].alias(c) for c in ("attribute", "given_attribute_type", "_kind", "sort_value")],
        F.col("attribute").alias("_local_name"),
        *[(F.when(is_num, e) if c in _NUMERIC_STATS else e).alias(c) for c, e in stats.items()],
        *[F.col(c) for c in ("_pat_card_short", "_n_long") if need_pat_feature],
    )

    # NOTE: launching the heavy path's candidate-sample job here,
    # speculatively concurrent with pass 1 (it depends on pass 1 only
    # for the heavy/light classification), was A/B-measured on the
    # flagship (interleaved best-of-2, host-probe-tagged): 37.1s
    # speculative vs 36.4s lazy at local[32] on 19M turns — the
    # flagship's concurrent validation passes already saturate the
    # cores during pass 1, so pre-running the sample only adds
    # contention.  The sample therefore stays in the follow-up phase.

    # ONE driver-side collect materializes the whole pass-1 result (one
    # tiny row per attribute) AND gates the follow-up passes.  An
    # attribute has no row only when the input has none.
    got = _run_jobs(df.sparkSession, {"pass1": base.collect})
    by_name = {r["_local_name"]: r.asDict() for r in got["pass1"]}
    base_rows = [
        by_name.get(a.name) or _unfilled_base_row(a, name_prefix, sort_prefix)
        for a in attrs
    ]

    need_vh = params.has("modes") or (
        params.has("cardinality_breakdown") and params.lcb_limit > 0
    )
    low_card: list[str] = []
    heavy: set[str] = set()
    total_rows = 0
    if need_vh or need_pat_feature:
        for r in base_rows:
            total_rows = max(total_rows, r["rec_count"])
            if need_vh and r["cardinality"] <= params.approx_mode_card_limit:
                low_card.append(r["_local_name"])
            if (
                need_pat_feature
                and r["_pat_card_short"] + r["_n_long"] > params.approx_pattern_limit
            ):
                heavy.add(r["_local_name"])

    # ---- popular / rare patterns (split by pattern-space size) ----
    lp = heavy_pat = None
    derive_names: set[str] = set()
    if need_pat_feature:
        # Attributes whose full VALUE histogram is being computed anyway
        # (cardinality <= approx_mode_card_limit -> the vh pass) need no
        # per-row pattern work at all: the pattern is a pure function of
        # the value, so the exact pattern histogram is a tiny
        # re-aggregation of vh's <= card_limit rows per attribute
        # (sum of value counts per pattern; min-example over distinct
        # values == min over all rows).  This drops those columns from
        # the light-pattern melt entirely — one fewer full scan +
        # 19M-row pattern mapping per such attribute at bench scale,
        # and a whole parquet column decode saved at 10^12 rows.
        if need_vh:
            derive_names = set(low_card) - heavy
        light_attrs = [
            a for a in attrs if a.name not in heavy and a.name not in derive_names
        ]
        heavy_attrs = [a for a in attrs if a.name in heavy]
        if light_attrs:
            # exact histogram via per-attribute direct branches: group
            # count bounded by approx_pattern_limit per attribute;
            # temporal attrs aggregate on arithmetic rendered-length
            # (no per-row format/pattern work at all)
            lp = _light_pattern_hist(df, light_attrs, params.allow_zero, plen)
            light_names = {a.name for a in light_attrs}
            light_bound = sum(
                _PAT_SAMPLE_MOD * r["_pat_card_short"] + r["_n_long"]
                for r in base_rows
                if r["_local_name"] in light_names
            )
            if light_bound > _DRIVER_ROW_BUDGET:
                lp = _dual_topk_survivors(lp, int(params.max_patterns), "data_pattern")
        if heavy_attrs:
            heavy_pat = _heavy_pattern_candidates(
                df, heavy_attrs, params, plen, total_rows
            )

    # ---- the fetches, concurrently: the finish's bounded inputs ----
    jobs: dict[str, object] = {}
    if lp is not None:
        jobs["light_patterns"] = _arrow(lp)
    if heavy_pat is not None:
        jobs["heavy_patterns"] = _arrow(heavy_pat)
    if need_vh and low_card:
        # low-card value histogram: modes + cardinality breakdown
        lc_set = set(low_card)
        vh = _lowcard_value_hist(
            df, [a for a in attrs if a.name in lc_set], params.allow_zero
        )
        if derive_names:
            # pattern and example of each DISTINCT value, computed
            # Spark-side over the bounded histogram rows (exact
            # translate/regex semantics, no Python reimplementation),
            # gated to the derive attributes
            derive = F.col("attribute").isin(sorted(derive_names))
            derive_attrs = [a for a in attrs if a.name in derive_names]
            vh = vh.withColumns(
                {
                    "_dp": F.when(derive, _pattern_expr(derive_attrs, plen, finished=True)),
                    "_ex": F.when(derive, F.substring(F.col("value"), 1, plen)),
                }
            )
        jobs["vh"] = _arrow(vh)
    corr_pairs = _corr_pairs(attrs, params)
    if corr_pairs:
        jobs["corr"] = _corr_agg(df, corr_pairs)
    res = _run_jobs(df.sparkSession, jobs)

    # imported here: incremental.py imports this module, and the
    # checkpointed path never fetches Arrow
    import pyarrow as pa
    import pyarrow.compute as pc

    # one pattern table: the light and heavy fetches, and the exact
    # pattern histogram of the vh-covered attributes (sum of value
    # counts per pattern, min example over the values)
    pat_schema = pa.schema(
        [
            ("attribute", pa.string()),
            ("data_pattern", pa.string()),
            ("rec_count", pa.int64()),
            ("example", pa.string()),
        ]
    )
    pats = [
        res[key].select(pat_schema.names).cast(pat_schema)
        for key in ("light_patterns", "heavy_patterns")
        if key in res
    ]
    if derive_names:
        d = res["vh"].filter(pc.is_valid(res["vh"]["_dp"]))
        d = d.group_by(["attribute", "_dp"]).aggregate([("rec_count", "sum"), ("_ex", "min")])
        pats.append(
            d.select(["attribute", "_dp", "rec_count_sum", "_ex_min"])
            .rename_columns(pat_schema.names)
            .cast(pat_schema)
        )
    return _driver_finish(
        base_rows,
        params,
        name_prefix,
        pa.concat_tables(pats) if pats else None,
        res.get("vh"),
        corr_pairs,
        res.get("corr"),
    )


def _exact_numeric_stats(hnum: DataFrame) -> DataFrame:
    """Weighted min/max/mean/population-stddev plus the reference's
    exact quartile position arithmetic (Profile.ecl:1088-1139):
    cumulative counts over value-sorted distinct values, positional
    selection with two-position averaging.  The ordered cumulative
    window is one pass per attribute — inherent to exact quartiles;
    approx mode replaces it with a sketch.

    Scale note (round-1 negative result, kept for the record): a
    distributed two-phase prefix sum (``repartitionByRange(attribute,
    v)`` + ``spark_partition_id`` bucket offsets) was built and A/B'd
    to remove this window's one-task-per-attribute ceiling.  It is
    WRONG under Spark's execution model — the broadcast (offsets) side
    and the main plan re-execute the range exchange with independently
    *sampled* boundaries, so partition ids disagree between executions
    (measured: quartiles off by ~1% at sf0.1) — and the corrected form
    needs a deterministic-boundary job that made it ~20% slower than
    the window at bench scale.  Exact mode is the documented
    golden-parity/test-scale path; the 10^12-row path is approx mode's
    one-pass GK ``percentile_approx`` sketch, which has no
    per-attribute serialization.  That sketch is neither stored nor
    merged: only the incremental states' KLL sketch
    (``profile_state(quantile_delta=)``) is."""
    w_cum = (
        Window.partitionBy("attribute")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("attribute")
    d = hnum.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "total", F.sum("cnt").over(w_all)
    )
    n = F.col("total")
    half = (n / 2).cast("long")  # halfNumRecs := wholeNumRecs DIV 2
    q2p1 = half + n % 2
    q2p2 = q2p1 + (n + 1) % 2
    q1p1 = (half / 2).cast("long") + half % 2
    q1p2 = q1p1 + (half + 1) % 2
    q3p1 = F.greatest(q2p1, q2p2) + (half / 2).cast("long") + half % 2
    q3p2 = q3p1 - (half + 1) % 2

    def pick(pos: Column) -> Column:
        # ECL MIN over an empty set is 0, not NULL (Profile.ecl:1112:
        # MIN(%...%(valueEndPos >= pos), value)); a quartile position
        # can exceed wholeNumRecs (n=2: q3Pos1=3), where the reference
        # therefore yields 0
        return F.coalesce(F.min(F.when(F.col("cum") >= pos, F.col("v"))), F.lit(0.0))

    g = d.groupBy("attribute").agg(
        F.min("v").alias("numeric_min"),
        F.max("v").alias("numeric_max"),
        (F.sum(F.col("v") * F.col("cnt")) / F.sum("cnt")).alias("_mean"),
        F.sum(F.col("v") * F.col("v") * F.col("cnt")).alias("_sumsq"),
        F.sum("cnt").alias("_n"),
        ((pick(q1p1) + pick(q1p2)) / 2).alias("_q1"),
        ((pick(q2p1) + pick(q2p2)) / 2).alias("numeric_median"),
        ((pick(q3p1) + pick(q3p2)) / 2).alias("_q3"),
        F.max(half).alias("_half"),
    )
    return g.select(
        "attribute",
        F.round("numeric_min", 4).alias("numeric_min"),
        F.round("numeric_max", 4).alias("numeric_max"),
        F.round("_mean", 4).alias("numeric_mean"),
        F.round(
            F.sqrt(F.col("_sumsq") / F.col("_n") - F.col("_mean") * F.col("_mean")), 4
        ).alias("numeric_std_dev"),
        F.round(
            F.when(F.col("_half") > 0, F.col("_q1")).otherwise(0.0), 4
        ).alias("numeric_lower_quartile"),
        F.round("numeric_median", 4).alias("numeric_median"),
        F.round(
            F.when(F.col("_half") > 0, F.col("_q3")).otherwise(0.0), 4
        ).alias("numeric_upper_quartile"),
    )


def _output_fields(params: ProfileParams) -> list[tuple[str, str, object]]:
    """The reference's feature-conditional FinalOutputLayout column set
    and order (Profile.ecl:445-496): ``(name, type, fill)`` per column.
    A column with a ``fill`` reads it where its piece has no value, and
    is never NULL."""
    has = params.has
    mode_arr = f"array<{_MODE_STRUCT}>"
    fields: list[tuple[str, str, object]] = [
        ("attribute", "string", None),
        ("given_attribute_type", "string", None),
    ]
    if has("best_ecl_types"):
        fields.append(("best_attribute_type", "string", None))
    fields.append(("rec_count", "bigint", None))
    if has("fill_rate"):
        fields += [("fill_count", "bigint", None), ("fill_rate", "double", None)]
    if has("cardinality") or has("cardinality_breakdown"):
        fields.append(("cardinality", "bigint", None))
    if has("cardinality_breakdown") and params.lcb_limit > 0:
        fields.append(("cardinality_breakdown", mode_arr, []))
    if has("modes"):
        fields.append(("modes", mode_arr, []))
    if has("lengths"):
        fields += [(n, "bigint", None) for n in ("min_length", "max_length", "ave_length")]
    if has("patterns") and params.max_patterns > 0:
        fields += [
            (n, f"array<{_PATTERN_STRUCT}>", [])
            for n in ("popular_patterns", "rare_patterns")
        ]
    numericish = ("min_max", "mean", "std_dev", "quartiles", "correlations")
    if any(has(f) for f in numericish):
        fields.append(("is_numeric", "boolean", None))
    numeric = []
    if has("min_max"):
        numeric += ["numeric_min", "numeric_max"]
    if has("mean"):
        numeric.append("numeric_mean")
    if has("std_dev"):
        numeric.append("numeric_std_dev")
    if has("quartiles"):
        numeric += ["numeric_lower_quartile", "numeric_median", "numeric_upper_quartile"]
    fields += [(n, "double", 0.0) for n in numeric]
    if has("correlations"):
        fields.append(("correlations", f"array<{_CORR_STRUCT}>", []))
    return fields


def _rows_frame(spark: SparkSession, rows: list[dict], params: ProfileParams) -> DataFrame:
    """Driver-assembled profile rows as a frame of the
    :func:`_output_fields` columns, planned as a LocalRelation (reads
    back with no job).  A row without a value for a column with a
    ``fill`` reads the fill."""
    fields = _output_fields(params)
    ddl = T.StructType.fromDDL(", ".join(f"{name} {typ}" for name, typ, _ in fields))
    schema = T.StructType(
        [
            T.StructField(f.name, f.dataType, fill is None)
            for f, (_, _, fill) in zip(ddl.fields, fields)
        ]
    )
    tuples = []
    for r in rows:
        t = []
        for name, typ, fill in fields:
            v = r.get(name)
            if v is None:
                v = fill
            elif typ == "double":
                v = float(v)
            t.append(v)
        tuples.append(tuple(t))
    return local_df(spark, tuples, schema)
