"""Profile() — per-column statistics engine.

Spark-first reimplementation of the reference's ``Profile`` macro
(/root/reference/Profile.ecl:189-1746).  The reference expands one ECL
dataflow per column; here a single DataFrame plan profiles every
column in one scan:

1. **melt**: one ``inline(array(struct(...)))`` projection emits
   ``(attribute, value, len)`` per column per row — all JVM-side
   expressions, no Python in the hot path;
2. **histogram** (exact mode): ``groupBy(attribute, value, len)``
   reduces the data to distinct-value counts *before* any further
   statistics — the reference's own skew/temp-storage trick
   (Profile.ecl:719-728) — with Spark's partial (map-side)
   aggregation bounding the shuffle;
3. every downstream statistic (fill, lengths, cardinality, modes,
   cardinality breakdown, text patterns, best-type inference, numeric
   stats incl. the reference's exact quartile position arithmetic) is
   computed from the tiny weighted histogram;
4. correlations run as one ``agg`` of ``corr(x, y)`` over all numeric
   pairs on the source frame (Profile.ecl:1213-1245).

Scale design notes:

* per-group top-k (modes, patterns) never runs a window over whole
  attributes (an attribute is ONE window partition = one task):
  modes join against a broadcast per-attribute max; pattern top-k is
  a salted two-phase ``row_number`` (bucket-local top-k, then final
  top-k over <= buckets*k rows);
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
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from ..functions import besttype
from ..functions.sketches import LG_CONFIG_K
from ..functions.patterns import (
    finish_pattern,
    is_non_ascii,
    map_pattern,
    map_pattern_finished,
)
from ..materialize import materialize
from ..plans.local import lit_df
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
    # False: skip the eager localCheckpoint materialization of reused
    # intermediates, keeping full lineage in the returned plan (shared
    # passes then re-run per consumer) -- for plan inspection or for
    # embedding the profile inside a larger plan optimized whole
    materialize: bool = True
    extras: dict = field(default_factory=dict)

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
    def need_cardinality(self) -> bool:
        return (
            self.has("cardinality")
            or (self.has("cardinality_breakdown") and self.lcb_limit > 0)
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


def _melt_base(df: DataFrame, attrs: list[AttrInfo]) -> tuple[DataFrame, list[Column], list[Column]]:
    """Project each attribute's canonical string form ONCE, then hand
    (projected frame, per-attr value col, per-attr len col) to a melt.

    The melt's ``inline(array(struct(...)))`` generator gets no
    subexpression elimination, so any value expression mentioned k
    times inside the structs (value, its length, its hash, ...) would
    be evaluated k times per row — for a timestamp that is k full
    datetime->string formats, for free text k trims.  A Project under
    the Generate evaluates each value exactly once per row; the structs
    then reference plain columns."""
    vals: list[Column] = []
    lens: list[Column] = []
    proj: list[Column] = []
    for i, a in enumerate(attrs):
        proj.append(_value_expr(a).alias(f"_v{i}"))
        if a.kind in (KIND_ARRAY, KIND_BINARY, KIND_BOOLEAN):
            # length is NOT the string form's length for these kinds
            # (element count / byte count / constant 1)
            proj.append(_len_expr(a).cast("int").alias(f"_l{i}"))
    base = df.select(*proj)
    for i, a in enumerate(attrs):
        v = F.col(f"_v{i}")
        vals.append(v)
        if a.kind in (KIND_ARRAY, KIND_BINARY, KIND_BOOLEAN):
            lens.append(F.col(f"_l{i}"))
        else:
            lens.append(F.length(v).cast("int"))
    return base, vals, lens


def melt(df: DataFrame, attrs: list[AttrInfo]) -> DataFrame:
    """One scan -> (attribute, value, len) rows for every column."""
    base, vals, lens = _melt_base(df, attrs)
    structs = [
        F.struct(
            F.lit(a.name).alias("attribute"),
            v.alias("value"),
            ln.alias("len"),
        )
        for a, v, ln in zip(attrs, vals, lens)
    ]
    return base.select(F.inline(F.array(*structs)))


# Pass-1 value cap for the slim melt: every pass-1 consumer of the
# value string (pattern mapping, type-flag ladder, numeric parse,
# numeric filled test) is gated to trimmed length <= 40, so 48 chars
# (sign + 38-digit decimal + point headroom) lose nothing.
_SLIM_VALUE_CAP = 48

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


def _temporal_bounds(a: AttrInfo) -> tuple:
    return (_DATE_LO, _DATE_HI) if a.given_type == "date" else (_TS_LO, _TS_HI)


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


def _int_len_expr(c: Column, max_digits: int) -> Column:
    """Length of an integral value's decimal rendering (digit count +
    sign) as a comparison ladder — no string form, and no ``abs()``
    (which would overflow ANSI-mode on ``Long.MIN_VALUE``)."""
    e = F.when(c.between(-9, 9), 1)
    for d in range(2, max_digits):
        hi = 10**d - 1
        e = e.when(c.between(-hi, hi), d)
    e = e.otherwise(max_digits)
    return (e + F.when(c < 0, 1).otherwise(0)).cast("int")


def melt_slim(
    df: DataFrame,
    attrs: list[AttrInfo],
    allow_zero: bool = False,
    lean: bool = False,
) -> DataFrame:
    """One scan -> (attribute, value, len, vhash, uni, fil) rows.

    ``lean=True`` keeps only the ``len``/``fil`` machinery (value,
    vhash and uni are NULL): the fill/lengths-only exact path consumes
    nothing else, and the distinctness hash — xxhash64 over every full
    text value — is the single largest per-row term it would otherwise
    pay.

    The approx pass-1 aggregate needs, per row: the length of the
    canonical string form, a 64-bit distinctness hash, a filled bit,
    the numeric value, and the value STRING only where a downstream
    consumer is gated on (pattern sample / numeric-looking short
    values).  Per-kind fast paths keep string-form work off rows that
    never consume it:

    * **strings**: trim once, hash + length + 48-char value cap —
      distinctness rides ``xxhash64`` of the full value (identical HLL
      estimate: ``hll_sketch_agg`` hashes its input anyway) and
      the non-ASCII probe is a precomputed bit, so free-text bytes
      never enter the explode/aggregate path;
    * **numeric**: native hash (the decimal rendering is injective, so
      distinct-over-hash is identical), native filled bit ``fil``
      (NULL/zero semantics, Profile.ecl:830-844) and the string form
      only on the 1/16 pattern-cardinality sample; integral types also
      take a comparison-ladder digit count instead of rendering for
      length (given-numeric sketch stats come from a direct
      column-pruned aggregation in the caller, not the melt);
    * **boolean**: constant length 1, hash of ``coalesce(c, false)``
      (the canonical form maps NULL -> 'false'), no string at all;
    * **timestamp/date**: arithmetic rendered-length from the native
      value (:func:`_temporal_len_arith`), native hash (injective
      rendering), and NO string form while the year has 4 digits (any
      session timezone — out-of-range rows, none in practice, fall
      back to formatting).  The type-flag ladder is provably ``AS_IS``
      for any temporal rendering (every numeric rule rejects '-'/':'),
      so the flag/parse consumers never need the string either.

    ``fil`` is the filled bit for kinds whose filled test needs the
    native value; NULL for kinds where filled == (len > 0)."""
    proj: list[Column] = []
    per_attr: list[dict] = []
    for i, a in enumerate(attrs):
        c = F.col(a.name)
        p: dict = {"attr": a}
        if a.kind == KIND_NUMERIC:
            filled_nat = (
                c.isNotNull()
                if allow_zero
                else (c.isNotNull() & (c.cast("double") != 0))
            )
            # carry the native column through (free — a reference, not
            # a computation): the struct stage casts it lazily (nv when
            # filled, string form only on the 1/16 sample)
            if not lean:
                proj.append(c.alias(f"_c{i}"))
                proj.append(F.xxhash64(c).alias(f"_h{i}"))
            proj.append(filled_nat.cast("int").alias(f"_f{i}"))
            if a.given_type in _INT_MAX_DIGITS:
                proj.append(
                    F.when(c.isNull(), 0)
                    .otherwise(_int_len_expr(c, _INT_MAX_DIGITS[a.given_type]))
                    .alias(f"_l{i}")
                )
            else:
                # float/double/decimal: rendering length has no cheap
                # arithmetic form — keep the string for length only
                proj.append(_value_expr(a).alias(f"_v{i}"))
                p["float_form"] = True
        elif a.kind == KIND_BOOLEAN:
            if not lean:
                proj.append(F.xxhash64(F.coalesce(c, F.lit(False))).alias(f"_h{i}"))
        elif _is_fast_temporal(a):
            lo, hi = _temporal_bounds(a)
            in_range = c.between(F.lit(lo), F.lit(hi))
            if not lean:
                proj.append(c.alias(f"_c{i}"))
                proj.append(in_range.alias(f"_r{i}"))
                proj.append(F.xxhash64(c).alias(f"_h{i}"))
            proj.append(
                F.when(c.isNull(), 0)
                .when(in_range, _temporal_len_arith(a))
                .otherwise(F.length(c.cast("string")))
                .cast("int")
                .alias(f"_l{i}")
            )
        else:
            # strings, arrays, binary, non-fast temporal: generic
            # string-form path (projected ONCE — the generator gets no
            # subexpression elimination)
            proj.append(_value_expr(a).alias(f"_v{i}"))
            if a.kind in (KIND_ARRAY, KIND_BINARY):
                proj.append(_len_expr(a).cast("int").alias(f"_l{i}"))
        per_attr.append(p)
    base = df.select(*proj)

    null_s = F.lit(None).cast("string")
    null_i = F.lit(None).cast("int")
    null_h = F.lit(None).cast("bigint")
    structs = []
    for i, p in enumerate(per_attr):
        a = p["attr"]
        if lean:
            # len + fil only — value/vhash/uni stay NULL
            if a.kind == KIND_NUMERIC:
                ln = (
                    F.length(F.col(f"_v{i}")).cast("int")
                    if p.get("float_form")
                    else F.col(f"_l{i}")
                )
                s = (null_s, ln, null_h, null_i, F.col(f"_f{i}"))
            elif a.kind == KIND_BOOLEAN:
                s = (null_s, F.lit(1).cast("int"), null_h, null_i,
                     F.lit(1).cast("int"))
            elif _is_fast_temporal(a):
                s = (null_s, F.col(f"_l{i}"), null_h, null_i, null_i)
            else:
                ln = (
                    F.col(f"_l{i}")
                    if a.kind in (KIND_ARRAY, KIND_BINARY)
                    else F.length(F.col(f"_v{i}")).cast("int")
                )
                s = (null_s, ln, null_h, null_i, null_i)
            structs.append(
                F.struct(
                    F.lit(a.name).alias("attribute"),
                    s[0].alias("value"),
                    s[1].alias("len"),
                    s[2].alias("vhash"),
                    s[3].alias("uni"),
                    s[4].alias("fil"),
                )
            )
            continue
        if a.kind == KIND_NUMERIC:
            cn = F.col(f"_c{i}")
            h = F.col(f"_h{i}")
            fil = F.col(f"_f{i}")
            if p.get("float_form"):
                v = F.col(f"_v{i}")
                value = F.when(F.pmod(h, F.lit(16)) == 0, v)
                ln = F.length(v).cast("int")
            else:
                # string form only on the pattern-cardinality sample
                # (same predicate as pass-1's `sampled` gate on vhash)
                value = F.when(F.pmod(h, F.lit(16)) == 0, cn.cast("string"))
                ln = F.col(f"_l{i}")
            s = (value, ln, h, null_i, fil)
        elif a.kind == KIND_BOOLEAN:
            s = (null_s, F.lit(1).cast("int"), F.col(f"_h{i}"), null_i,
                 F.lit(1).cast("int"))
        elif _is_fast_temporal(a):
            cn = F.col(f"_c{i}")
            value = F.when(cn.isNotNull() & ~F.col(f"_r{i}"), cn.cast("string"))
            s = (value, F.col(f"_l{i}"), F.col(f"_h{i}"), null_i, null_i)
        else:
            v = F.col(f"_v{i}")
            if a.kind in (KIND_ARRAY, KIND_BINARY):
                ln = F.col(f"_l{i}")
            else:
                ln = F.length(v).cast("int")
            uni = (
                (F.octet_length(v) != ln).cast("int")
                if a.kind == KIND_STRING
                else null_i
            )
            s = (F.substring(v, 1, _SLIM_VALUE_CAP), ln, F.xxhash64(v), uni,
                 null_i)
        structs.append(
            F.struct(
                F.lit(a.name).alias("attribute"),
                s[0].alias("value"),
                s[1].alias("len"),
                s[2].alias("vhash"),
                s[3].alias("uni"),
                s[4].alias("fil"),
            )
        )
    return base.select(F.inline(F.array(*structs)))


def _filled_expr(attrs: list[AttrInfo], allow_zero: bool) -> Column:
    """Per-attribute filled semantics (Profile.ecl:830-844)."""
    numeric = [a.name for a in attrs if a.kind == KIND_NUMERIC]
    booleans = [a.name for a in attrs if a.kind == KIND_BOOLEAN]
    att, val, ln = F.col("attribute"), F.col("value"), F.col("len")
    expr = F.when(F.lit(False), F.lit(False))
    if booleans:
        expr = expr.when(att.isin(booleans), F.lit(True))
    if numeric:
        numeric_filled = (
            (val != "")
            if allow_zero
            else ((val != "") & (val.cast("double") != 0))
        )
        expr = expr.when(att.isin(numeric), numeric_filled)
    return expr.otherwise(ln > 0)


def _pattern_expr(attrs: list[AttrInfo], plen: int) -> Column:
    """Per-attribute pattern mapping (Profile.ecl:771-816): numerics
    map their full string form, booleans are 'B', everything else maps
    the trimmed value truncated to the pattern length."""
    numeric = [a.name for a in attrs if a.kind == KIND_NUMERIC]
    booleans = [a.name for a in attrs if a.kind == KIND_BOOLEAN]
    att, val = F.col("attribute"), F.col("value")
    expr = F.when(F.lit(False), F.lit(""))
    if booleans:
        expr = expr.when(att.isin(booleans), F.lit("B"))
    if numeric:
        expr = expr.when(att.isin(numeric), map_pattern(val))
    return expr.otherwise(map_pattern(F.substring(val, 1, plen)))


def _pattern_expr_finished(attrs: list[AttrInfo], plen: int) -> Column:
    """:func:`_pattern_expr` with the '0'->'9' fix-up fused into the
    translate table — for the pattern-HISTOGRAM paths, which only ever
    consume the finished pattern (one string copy per row saved)."""
    numeric = [a.name for a in attrs if a.kind == KIND_NUMERIC]
    booleans = [a.name for a in attrs if a.kind == KIND_BOOLEAN]
    att, val = F.col("attribute"), F.col("value")
    expr = F.when(F.lit(False), F.lit(""))
    if booleans:
        expr = expr.when(att.isin(booleans), F.lit("B"))
    if numeric:
        expr = expr.when(att.isin(numeric), map_pattern_finished(val))
    return expr.otherwise(map_pattern_finished(F.substring(val, 1, plen)))


def _deterministic_sample(df: DataFrame, pct: int) -> DataFrame:
    """Deterministic ~pct% sample — the Spark analogue of the
    reference's systematic ENTH sample (Profile.ecl:283-288)."""
    pct = max(1, min(100, int(pct)))
    if pct >= 100:
        return df
    h = F.pmod(F.xxhash64(F.struct(*[F.col(c) for c in df.columns])), F.lit(100))
    return df.filter(h < pct)


def grouped_topk(
    df: DataFrame,
    keys: list[str],
    order: list[Column],
    k: int,
    salt_col: Column,
    buckets: int = 64,
    rank_name: str = "_rn",
) -> DataFrame:
    """Skew-free per-group top-k: a whole group is never one window
    partition.  Phase 1 takes a local top-k inside ``buckets`` salt
    partitions per group; phase 2 ranks the <= buckets*k survivors."""
    salt = F.pmod(salt_col, F.lit(buckets))
    local = df.withColumn("_rn1", F.row_number().over(
        Window.partitionBy(*[F.col(c) for c in keys], salt).orderBy(*order)
    )).filter(F.col("_rn1") <= k).drop("_rn1")
    w2 = Window.partitionBy(*[F.col(c) for c in keys]).orderBy(*order)
    return local.withColumn(rank_name, F.row_number().over(w2)).filter(
        F.col(rank_name) <= k
    )


def _attr_meta_df(df: DataFrame, attrs: list[AttrInfo], sort_prefix: str, name_prefix: str):
    spark = df.sparkSession
    rows = [
        (
            name_prefix + a.name,
            a.name,
            a.given_type,
            a.kind,
            f"{sort_prefix}{a.ordinal:05d}",
        )
        for a in attrs
    ]
    schema = "attribute string, _local_name string, given_attribute_type string, _kind string, sort_value string"
    return lit_df(spark, rows, schema)


def _empty_array(struct_type: str) -> Column:
    return F.expr(f"cast(array() as array<{struct_type}>)")


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
    materialize: bool = True,
) -> DataFrame:
    """Profile every (selected) column of ``df``.

    Returns one row per attribute in schema order, matching the
    reference's ``FinalOutputLayout`` (Profile.ecl:445-496): child
    ArrayType(StructType) columns are exploded and profiled
    independently with dotted names, appended after the top-level
    attributes (Profile.ecl:1672-1739).
    """
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
        materialize=materialize,
    )
    attrs, children = walk_schema(df.schema, params.field_list)
    sampled = _deterministic_sample(df, params.sample_size)

    results = []
    if attrs:
        results.append(_profile_flat(sampled, attrs, params, "", ""))
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
            results.append(
                _profile_flat(
                    exploded,
                    child_attrs,
                    params,
                    name_prefix=f"{child.name}.",
                    sort_prefix=f"{child.ordinal:05d}.",
                )
            )
    if not results:
        raise ValueError("no profilable attributes found")
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out.orderBy("sort_value").drop("sort_value", "_local_name", "_kind")


def _run_jobs(spark: SparkSession, jobs: dict) -> dict:
    """Run the named zero-argument ``jobs`` concurrently, one pool
    thread each (inline when there is at most one), and return their
    results by name.

    Each task carries the caller's Spark local properties (job group,
    description), since a pool thread starts with none.  Every task is
    wrapped by its own ``inheritable_thread_target`` call: one wrapper
    hands all its tasks ONE copied property set, so the SQL execution
    id that one task's query writes into it would make a sibling's
    concurrent query a nested execution of the first."""
    if len(jobs) <= 1:
        return {name: fn() for name, fn in jobs.items()}
    with ThreadPoolExecutor(len(jobs)) as ex:
        futs = {
            name: ex.submit(inheritable_thread_target(spark)(fn))
            for name, fn in jobs.items()
        }
        return {name: f.result() for name, f in futs.items()}


def _materialize(df: DataFrame, n_attrs: int, enabled: bool = True) -> DataFrame:
    """Eagerly materialize a reused profile intermediate.

    Eager — lazy caching would let the final job's parallel branches
    race past an unpopulated cache and recompute the shared melt +
    groupBy.  localCheckpoint, NOT persist: a persisted frame sits in
    the session CacheManager until explicitly unpersisted, so a
    long-running driver profiling one ingest batch after another
    (scripts/run_job.py, the streaming profile sink) would leak one
    cached melt per call for the session's lifetime (round-3 fix —
    the same defect class as the round-2 minhash persist leak; probe:
    tests/test_operators.py::test_profile_leaves_no_cached_frames).
    The checkpointed partitions are freed by the ContextCleaner once
    the returned frame is unreferenced, and cutting lineage also
    removes the per-consumer Catalyst re-optimization of the melt
    expression tree (a serial driver cost, measured dominant at the
    39-type fixture).  Interleaved flagship A/B at 4.8M turns:
    persist 17.9/18.7 s vs localCheckpoint 19.7/16.8 s — identical
    within this host's documented variance window.

    ``enabled=False`` (ProfileParams.materialize) returns the frame
    untouched — full lineage kept, shared passes re-run per consumer;
    for plan inspection (pushdown/pruning tests) or embedding the
    profile inside a larger plan a caller optimizes whole.

    The localCheckpoint-vs-persist executor-loss trade is deployment
    policy, not per-operator choice — see materialize.py
    (DP_MATERIALIZE) for the persist/checkpoint modes."""
    if not enabled:
        return df
    return materialize(df)


def _profile_flat(
    df: DataFrame,
    attrs: list[AttrInfo],
    params: ProfileParams,
    name_prefix: str,
    sort_prefix: str,
) -> DataFrame:
    """Profile a flat (scalar-attribute) frame — the analogue of one
    ``_Inner_Profile`` expansion (Profile.ecl:508-1665)."""
    if params.mode != "exact":
        return _profile_flat_approx(df, attrs, params, name_prefix, sort_prefix)
    plen = params.pattern_len
    exact = True
    meta = _attr_meta_df(df, attrs, sort_prefix, name_prefix)

    string_attrs = [a.name for a in attrs if a.kind == KIND_STRING]
    as_is_attrs = [
        a.name for a in attrs if a.kind in (KIND_NUMERIC, KIND_BOOLEAN, KIND_ARRAY)
    ]

    melted = melt(df, attrs)

    def derive(frame: DataFrame, with_flags: bool, with_pattern: bool) -> DataFrame:
        out = frame.withColumn("filled", _filled_expr(attrs, params.allow_zero))
        if with_pattern:
            out = out.withColumn("pattern", _pattern_expr(attrs, plen))
        att = F.col("attribute")
        if with_flags:
            out = out.withColumn(
                "type_flag",
                F.when(
                    att.isin(as_is_attrs) if as_is_attrs else F.lit(False),
                    F.lit(besttype.AS_IS),
                ).otherwise(besttype.type_flag(F.col("pattern"), treat_as_is=False)),
            ).withColumn(
                "is_uni",
                (
                    att.isin(string_attrs) if string_attrs else F.lit(False)
                ) & is_non_ascii(F.col("value")),
            )
        return out

    need_pattern = params.need_flags or (params.has("patterns") and params.max_patterns > 0)
    # fill/lengths/type-folds are exact either way; the distinct-value
    # histogram only pays off when some stat genuinely groups by value
    needs_value_grouping = (
        params.has("cardinality")
        or (params.has("cardinality_breakdown") and params.lcb_limit > 0)
        or params.has("modes")
        or (params.has("patterns") and params.max_patterns > 0)
        or params.need_numeric
    )

    if needs_value_grouping:
        # distinct-value histogram first: pattern/flag work then runs
        # once per distinct value (cheaper than per row).  Persisted:
        # modes/patterns/numeric-stats all branch from it, and without
        # a persist each branch would re-run the melt + groupBy.
        hist = (
            melted.groupBy("attribute", "value", "len")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # materialized eagerly; at high column counts additionally
        # lineage-truncated — each consumer then plans against a leaf
        # scan instead of re-running Catalyst over the melt expression
        # tree, a measured driver-side serial cost (see _materialize)
        hist = _materialize(derive(hist, params.need_flags, need_pattern), len(attrs), params.materialize)
        stats_src = hist
    elif params.need_flags:
        # fill/lengths/type-folds only: aggregate the melt directly
        stats_src = derive(melted.withColumn("cnt", F.lit(1)), params.need_flags, need_pattern)
    else:
        # fill/lengths ONLY (no flags, no patterns, no value grouping):
        # the slim melt's per-kind fast paths produce the exact `len`
        # and filled bit without rendering any string form for
        # numeric/boolean/timestamp/date attributes (same fast paths
        # the approx pass-1 rides; len/fil are exact there too) — the
        # full melt would format every value per row just to measure it
        stats_src = (
            melt_slim(df, attrs, params.allow_zero, lean=True)
            .withColumn("filled", F.coalesce(F.col("fil") == 1, F.col("len") > 0))
            .withColumn("cnt", F.lit(1))
        )

    filled = F.col("filled")
    w_cnt = F.when(filled, F.col("cnt"))

    # --- per-attribute summary: fill, lengths, cardinality, type fold ---
    agg_exprs = [
        F.sum("cnt").alias("rec_count"),
        F.coalesce(F.sum(w_cnt), F.lit(0)).alias("fill_count"),
    ]
    if params.need_lengths:
        agg_exprs += [
            F.coalesce(F.min(F.when(filled, F.col("len"))), F.lit(0)).alias("min_length"),
            F.coalesce(F.max(F.when(filled, F.col("len"))), F.lit(0)).alias("max_length"),
            F.coalesce(
                F.floor(F.sum(F.when(filled, F.col("len") * F.col("cnt"))) / F.sum(w_cnt)),
                F.lit(0),
            ).alias("ave_length"),
            F.coalesce(
                F.min(F.when(filled & (F.col("len") > 0), F.col("len"))), F.lit(0)
            ).alias("min_len_nonzero"),
        ]
    if params.need_flags:
        # AND-fold of per-value type flags (Profile.ecl:967-992)
        agg_exprs += [
            F.coalesce(F.bit_and(F.when(filled, F.col("type_flag"))), F.lit(0)).alias(
                "type_flags"
            ),
            F.coalesce(F.max(F.when(filled, F.col("is_uni").cast("int"))), F.lit(0)).alias(
                "_uni"
            ),
        ]
    if params.need_cardinality:
        agg_exprs.append(
            F.count_distinct(F.when(filled, F.col("value"))).alias("cardinality")
        )
    summary = stats_src.groupBy("attribute").agg(*agg_exprs)

    fill_defaults = {
        "rec_count": 0,
        "fill_count": 0,
        "min_length": 0,
        "max_length": 0,
        "ave_length": 0,
        "type_flags": 0,
        "min_len_nonzero": 0,
        "_uni": 0,
        "cardinality": 0,
    }
    # meta.attribute carries the (possibly child-dataset-prefixed) full
    # name; the histogram uses local column names -> join on local name.
    base = meta.join(
        summary.withColumnRenamed("attribute", "_local_name"), "_local_name", "left"
    ).na.fill({k: v for k, v in fill_defaults.items() if k in summary.columns or k in ("rec_count",)})

    # --- best type + is_numeric per attribute (Profile.ecl:1002-1023) ---
    base = _attach_best_type(base, attrs, params, name_prefix)
    # base is one tiny row per attribute but costs a full input pass;
    # numeric-attr selection, low-card gating and the final assembly
    # all reuse it (see hist note)
    base = _materialize(base, len(attrs), params.materialize)

    pieces = [base]
    prefixed = F.concat(F.lit(name_prefix), F.col("attribute"))

    # --- numeric stats (A5/A6) ---
    if params.need_numeric:
        num_attr_names = base.filter(F.col("is_numeric")).select(
            F.col("_local_name").alias("attribute")
        )
        src = stats_src.filter(filled).join(F.broadcast(num_attr_names), "attribute")
        hnum = src.select(
            "attribute", F.col("value").cast("double").alias("v"), "cnt"
        )
        numstats = _exact_numeric_stats(hnum)
        numstats = numstats.select(
            F.concat(F.lit(name_prefix), F.col("attribute")).alias("attribute"),
            *[c for c in numstats.columns if c != "attribute"],
        )
        pieces.append(numstats)

    # --- modes (J2: top-5 tied for max, count>1) + low-card breakdown ---
    if params.has("modes") or params.has("cardinality_breakdown"):
        vh = (
            stats_src.filter(filled)
            .groupBy("attribute", "value")
            .agg(F.sum("cnt").alias("rec_count"))
        )
        if params.has("modes"):
            pieces.append(_modes_piece(vh, name_prefix))
        if params.has("cardinality_breakdown") and params.lcb_limit > 0:
            low_attrs = base.filter(
                (F.col("cardinality") > 0) & (F.col("cardinality") <= params.lcb_limit)
            ).select(F.col("_local_name").alias("attribute"))
            pieces.append(_lcb_piece(vh, low_attrs, name_prefix))

    # --- popular / rare text patterns (A8 + J3) ---
    if params.has("patterns") and params.max_patterns > 0:
        # checkpointed: the top-k, bottom-k and anti-join branches
        # would otherwise each recompute the melt + pattern
        # aggregation.  localCheckpoint, not persist — see
        # _materialize (persist leaks a CacheManager entry per call)
        pat = (
            stats_src.filter(filled)
            .withColumn("data_pattern", finish_pattern(F.col("pattern")))
            .groupBy("attribute", "data_pattern")
            .agg(
                F.sum("cnt").alias("rec_count"),
                F.min(F.substring(F.col("value"), 1, plen)).alias("example"),
            )
        )
        if params.materialize:
            pat = materialize(pat)
        pieces.extend(_pattern_pieces(pat, params, name_prefix))

    # --- correlations (A12, Profile.ecl:1213-1260) ---
    if params.has("correlations"):
        num_given = [a.name for a in attrs if a.kind == KIND_NUMERIC]
        corr_df = _correlations(df, num_given, name_prefix)
        if corr_df is not None:
            pieces.append(corr_df)

    out = pieces[0]
    for p in pieces[1:]:
        out = out.join(p, "attribute", "left")

    return _shape_output(out, params)


def _attach_best_type(
    base: DataFrame, attrs: list[AttrInfo], params: ProfileParams, name_prefix: str
) -> DataFrame:
    """Best type + is_numeric per attribute (Profile.ecl:1002-1023) and
    fill_rate (Profile.ecl:1488-1489), from the per-attribute fold
    columns (type_flags, lengths, _uni, fill_count)."""
    if params.need_flags:
        best_cases = None
        numeric_flag_cases = None
        for a in attrs:
            name_c = F.col("attribute") == (name_prefix + a.name)
            bt = besttype.best_type_name(
                kind=a.kind,
                given_type=F.lit(a.given_type),
                flags=F.col("type_flags"),
                max_len=F.col("max_length"),
                min_len_nonzero=F.col("min_len_nonzero"),
                is_unicode=F.col("_uni") == 1,
            )
            bt = F.when(F.col("fill_count") == 0, F.col("given_attribute_type")).otherwise(bt)
            is_num = F.lit(a.kind == KIND_NUMERIC) | (
                F.lit(a.kind == KIND_STRING)
                & (
                    F.col("type_flags").bitwiseAND(
                        F.lit(
                            besttype.SIGNED
                            | besttype.UNSIGNED
                            | besttype.FLOAT
                            | besttype.EXP
                        )
                    )
                    != 0
                )
                & (F.col("fill_count") > 0)
            )
            best_cases = (
                F.when(name_c, bt) if best_cases is None else best_cases.when(name_c, bt)
            )
            numeric_flag_cases = (
                F.when(name_c, is_num)
                if numeric_flag_cases is None
                else numeric_flag_cases.when(name_c, is_num)
            )
        base = base.withColumn("best_attribute_type", best_cases).withColumn(
            "is_numeric", F.coalesce(numeric_flag_cases, F.lit(False))
        )
    else:
        base = base.withColumn(
            "best_attribute_type", F.col("given_attribute_type")
        ).withColumn(
            "is_numeric",
            F.col("_kind") == KIND_NUMERIC,
        )
    return base.withColumn(
        "fill_rate",
        F.when(
            F.col("rec_count") > 0,
            F.round(F.col("fill_count") / F.col("rec_count") * 100, 6),
        ).otherwise(F.lit(0.0)),
    )


def _modes_piece(vh: DataFrame, name_prefix: str) -> DataFrame:
    """Mode tie semantics (J2, Profile.ecl:1163-1175): up to MAX_MODES
    values tied for the max count, only when count>1 — broadcast
    max-join, never a whole-attribute window partition (skew note)."""
    max_cnt = vh.groupBy("attribute").agg(F.max("rec_count").alias("_mx"))
    tied = vh.join(F.broadcast(max_cnt), "attribute").filter(
        (F.col("rec_count") == F.col("_mx")) & (F.col("rec_count") > 1)
    )
    w_tied = Window.partitionBy("attribute").orderBy(F.asc("value"))
    mode_rows = tied.withColumn("_rn", F.row_number().over(w_tied)).filter(
        F.col("_rn") <= MAX_MODES
    )
    modes = mode_rows.groupBy("attribute").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("value").alias("value"),
                    F.col("rec_count").alias("rec_count"),
                )
            )
        ).alias("modes")
    )
    return modes.select(
        F.concat(F.lit(name_prefix), F.col("attribute")).alias("attribute"), "modes"
    )


def _lcb_piece(vh: DataFrame, low_attrs: DataFrame, name_prefix: str) -> DataFrame:
    """Low-cardinality breakdown (A9, Profile.ecl:1178-1192): the full
    value list, count-desc, only for attributes in ``low_attrs``."""
    lcb_rows = vh.join(F.broadcast(low_attrs), "attribute")
    lcb = lcb_rows.groupBy("attribute").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("rec_count")).alias("_k"),
                        F.col("value").alias("value"),
                        F.col("rec_count").alias("rec_count"),
                    )
                )
            ),
            lambda s: F.struct(
                s["value"].alias("value"), s["rec_count"].alias("rec_count")
            ),
        ).alias("cardinality_breakdown")
    )
    return lcb.select(
        F.concat(F.lit(name_prefix), F.col("attribute")).alias("attribute"),
        "cardinality_breakdown",
    )


def _pattern_pieces(
    pat: DataFrame, params: ProfileParams, name_prefix: str
) -> list[DataFrame]:
    """Popular/rare pattern pieces (A8 + anti-join J3) from the
    per-attribute pattern histogram ``pat`` (persisted by the caller:
    top-k, bottom-k and the anti-join all branch from it)."""
    prefixed = F.concat(F.lit(name_prefix), F.col("attribute"))
    k = int(params.max_patterns)
    salt = F.xxhash64("data_pattern")
    top = grouped_topk(
        pat,
        ["attribute"],
        [F.desc("rec_count"), F.asc("data_pattern")],
        k,
        salt,
        rank_name="_rn_top",
    ).drop("_rn_top")
    rare0 = grouped_topk(
        pat,
        ["attribute"],
        [F.asc("rec_count"), F.asc("data_pattern")],
        k,
        salt,
        rank_name="_rn_rare",
    ).drop("_rn_rare")
    rare = rare0.join(
        top.select("attribute", "data_pattern"),
        ["attribute", "data_pattern"],
        "left_anti",
    )
    popular = top.groupBy("attribute").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("rec_count")).alias("_k"),
                        F.col("data_pattern").alias("data_pattern"),
                        F.col("rec_count").alias("rec_count"),
                        F.col("example").alias("example"),
                    )
                )
            ),
            lambda s: F.struct(
                s["data_pattern"].alias("data_pattern"),
                s["rec_count"].alias("rec_count"),
                s["example"].alias("example"),
            ),
        ).alias("popular_patterns")
    )
    rare_agg = rare.groupBy("attribute").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("rec_count").alias("_k"),
                        F.col("data_pattern").alias("data_pattern"),
                        F.col("rec_count").alias("rec_count"),
                        F.col("example").alias("example"),
                    )
                )
            ),
            lambda s: F.struct(
                s["data_pattern"].alias("data_pattern"),
                s["rec_count"].alias("rec_count"),
                s["example"].alias("example"),
            ),
        ).alias("rare_patterns")
    )
    return [
        popular.select(prefixed.alias("attribute"), "popular_patterns"),
        rare_agg.select(prefixed.alias("attribute"), "rare_patterns"),
    ]


def _lowcard_value_hist(
    df: DataFrame, attrs: list[AttrInfo], allow_zero: bool
) -> DataFrame:
    """``(attribute, value, rec_count)`` histogram for low-cardinality
    attributes — a union of per-attribute direct aggregations instead
    of one melted scan.  Each branch is a column-pruned scan feeding a
    ``groupBy`` on the NATIVE value; numeric/boolean/temporal render
    their canonical string form AFTER the aggregate (over the bounded
    distinct rows), so the per-row cast the melt paid is gone, and the
    union's branches schedule as concurrent stages of one job.  Output
    is identical to the melted version: value = the attribute's
    canonical (trimmed) string form, filled rows only
    (Profile.ecl:830-844 semantics per kind)."""
    cnt = F.count(F.lit(1)).alias("rec_count")
    branches = []
    for a in attrs:
        c = F.col(a.name)
        alit = F.lit(a.name).alias("attribute")
        if a.kind == KIND_NUMERIC:
            filt = (
                c.isNotNull()
                if allow_zero
                else (c.isNotNull() & (c.cast("double") != 0))
            )
            b = (
                df.filter(filt)
                .groupBy(c.alias("_nat"))
                .agg(cnt)
                .select(alit, F.col("_nat").cast("string").alias("value"), "rec_count")
            )
        elif a.kind == KIND_BOOLEAN:
            # canonical form maps NULL -> 'false'; always filled
            b = (
                df.groupBy(F.coalesce(c, F.lit(False)).alias("_nat"))
                .agg(cnt)
                .select(
                    alit,
                    F.when(F.col("_nat"), "true").otherwise("false").alias("value"),
                    "rec_count",
                )
            )
        elif a.kind == KIND_TEMPORAL:
            b = (
                df.filter(c.isNotNull())
                .groupBy(c.alias("_nat"))
                .agg(cnt)
                .select(alit, F.col("_nat").cast("string").alias("value"), "rec_count")
            )
        else:
            b = (
                df.select(_value_expr(a).alias("value"), _len_expr(a).alias("_l"))
                .filter(F.col("_l") > 0)
                .groupBy("value")
                .agg(cnt)
                .select(alit, "value", "rec_count")
            )
        branches.append(b)
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def _light_pattern_hist(
    df: DataFrame, attrs: list[AttrInfo], allow_zero: bool, plen: int
) -> DataFrame:
    """``(attribute, data_pattern, rec_count, example)`` exact pattern
    histogram for bounded-pattern-space attributes — per-attribute
    direct branches instead of one melted scan (same shuffle volume,
    no Generate copy of every row, column-pruned scans per branch).

    Timestamp/date attributes take an arithmetic fast path: the
    finished pattern of a temporal rendering is a pure function of its
    LENGTH (every char is a digit -> '9' or a literal separator), so
    the branch aggregates on :func:`_temporal_len_arith` — no per-row
    formatting or pattern mapping — derives the pattern from the
    template, and renders the example from ``min(native)`` per group
    (within one rendered length, ISO strings order chronologically, so
    ``min(render) == render(min)``).  Rows outside the 4-digit-year
    range take a formatted fallback branch whose native-column filter
    is parquet-stats prunable (zero scan cost in practice)."""
    cnt = F.count(F.lit(1)).alias("rec_count")
    branches = []
    for a in attrs:
        c = F.col(a.name)
        alit = F.lit(a.name).alias("attribute")
        if _is_fast_temporal(a):
            lo, hi = _temporal_bounds(a)
            in_range = c.between(F.lit(lo), F.lit(hi))
            branches.append(
                df.filter(c.isNotNull() & in_range)
                .groupBy(_temporal_len_arith(a).cast("int").alias("_l"))
                .agg(cnt, F.min(c).alias("_m"))
                .select(
                    alit,
                    F.substring(
                        F.lit(_TS_TEMPLATE), F.lit(1), F.col("_l")
                    ).alias("data_pattern"),
                    "rec_count",
                    F.substring(F.col("_m").cast("string"), 1, plen).alias("example"),
                )
            )
            src = df.filter(c.isNotNull() & ~in_range).select(
                _value_expr(a).alias("value")
            )
        elif a.kind == KIND_NUMERIC:
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


def _dual_topk_survivors(frame: DataFrame, k: int) -> DataFrame:
    """Per-attribute top-k AND bottom-k pattern survivors in ONE pass:
    both rankings ride a single Exchange on (attribute, salt) — phase 1
    keeps k per salt bucket per direction, phase 2 ranks the bounded
    survivors per attribute.  A whole attribute is never one window
    partition (skew note, same shape as the heavy-candidate winners).
    Output: the <= 2k rows per attribute that can appear in the
    popular/rare top-k, with exact counts."""
    buckets = 64
    salt = F.pmod(F.xxhash64("data_pattern"), F.lit(buckets))
    w1d = Window.partitionBy("attribute", salt).orderBy(
        F.desc("rec_count"), F.asc("data_pattern")
    )
    w1a = Window.partitionBy("attribute", salt).orderBy(
        F.asc("rec_count"), F.asc("data_pattern")
    )
    local = (
        frame.withColumn("_rd", F.row_number().over(w1d))
        .withColumn("_ra", F.row_number().over(w1a))
        .filter((F.col("_rd") <= k) | (F.col("_ra") <= k))
        .drop("_rd", "_ra")
    )
    w2d = Window.partitionBy("attribute").orderBy(
        F.desc("rec_count"), F.asc("data_pattern")
    )
    w2a = Window.partitionBy("attribute").orderBy(
        F.asc("rec_count"), F.asc("data_pattern")
    )
    return (
        local.withColumn("_fd", F.row_number().over(w2d))
        .withColumn("_fa", F.row_number().over(w2a))
        .filter((F.col("_fd") <= k) | (F.col("_fa") <= k))
        .drop("_fd", "_fa")
    )


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
       400; per-group top-k via the salted two-phase ``grouped_topk``,
       never a whole-attribute window partition).
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
    return _resolve_pattern_candidates(
        df, heavy_attrs, winners, plen, params.allow_zero
    )


def _melt_filled(df: DataFrame, attrs: list[AttrInfo], allow_zero: bool) -> DataFrame:
    return (
        melt(df, attrs)
        .withColumn("filled", _filled_expr(attrs, allow_zero))
        .filter(F.col("filled"))
    )


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
    cand = (
        _melt_filled(
            df.filter(F.rand(42) < 1.0 / s_mod), cand_attrs, params.allow_zero
        )
        .select(
            "attribute",
            F.xxhash64(_pattern_expr_finished(cand_attrs, plen)).alias("ph"),
        )
        .groupBy("attribute", "ph")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Top-2m AND bottom-2m in ONE pass over cand: both rankings ride a
    # single Exchange on (attribute, salt) — the two Sort+Window pairs
    # share the partitioning — then a final ranking over the
    # <= 2*buckets*2m survivors per attribute.  Phase-1 keeps 2m per
    # salt bucket, so the global top/bottom-2m always survive to
    # phase 2 (a whole attribute is never one window partition).  The
    # previous formulation (localCheckpoint + two grouped_topk trees)
    # paid an extra checkpoint job + barrier — parallelism-independent
    # time on the flagship.
    buckets = 64
    salt = F.pmod(F.col("ph"), F.lit(buckets))
    w1d = Window.partitionBy("attribute", salt).orderBy(F.desc("cnt"), F.asc("ph"))
    w1a = Window.partitionBy("attribute", salt).orderBy(F.asc("cnt"), F.asc("ph"))
    survivors = (
        cand.withColumn("_rd", F.row_number().over(w1d))
        .withColumn("_ra", F.row_number().over(w1a))
        .filter((F.col("_rd") <= 2 * m) | (F.col("_ra") <= 2 * m))
    )
    w2d = Window.partitionBy("attribute").orderBy(F.desc("cnt"), F.asc("ph"))
    w2a = Window.partitionBy("attribute").orderBy(F.asc("cnt"), F.asc("ph"))
    return (
        survivors.withColumn("_fd", F.row_number().over(w2d))
        .withColumn("_fa", F.row_number().over(w2a))
        .filter((F.col("_fd") <= 2 * m) | (F.col("_fa") <= 2 * m))
        .select("attribute", "ph")
    )


def _resolve_pattern_candidates(
    df: DataFrame,
    heavy_attrs: list[AttrInfo],
    winners: DataFrame,
    plen: int,
    allow_zero: bool,
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
        _melt_filled(df, heavy_attrs, allow_zero)
        .select(
            "attribute",
            _pattern_expr_finished(heavy_attrs, plen).alias("data_pattern"),
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


# Driver-tail guard: estimated low-card value-histogram rows above this
# keep the cluster-side assembly (collecting the histogram to the driver
# would dominate).  Every other driver-tail input is bounded by
# construction (<= 2*max_patterns survivors / <= 4m candidates per attr).
_DRIVER_TAIL_VH_LIMIT = 200_000

def _embed_rows_json(
    spark: SparkSession, recs: list[dict], full_struct: T.StructType
) -> DataFrame:
    """Embed driver rows (with nested array-of-struct cells) as ONE
    JVM-side frame via ``from_json`` over a single JSON literal.  A
    per-cell ``F.lit`` construction costs one py4j round-trip per
    expression node — measured 2.8s for ~12k nodes at 6 attributes x
    100 patterns; one JSON string is one round-trip and a fast Jackson
    parse.  ``allowNonNumericNumbers`` keeps NaN/Infinity doubles
    (json.dumps emits bare NaN tokens) parseable."""
    js = json.dumps(recs, ensure_ascii=True)
    return spark.range(1).select(
        F.inline(
            F.from_json(
                F.lit(js),
                T.ArrayType(full_struct),
                {"allowNonNumericNumbers": "true"},
            )
        )
    )


def _approx_driver_tail(
    df: DataFrame,
    attrs: list[AttrInfo],
    params: ProfileParams,
    name_prefix: str,
    base_schema,
    base_tuples: list[tuple],
    base_rows: list,
    lp: DataFrame | None,
    heavy_pat: DataFrame | None,
    vh: DataFrame | None,
    derive_names: set[str],
    plen: int,
) -> DataFrame:
    """Driver-side finishing of the approx profile.

    Every follow-up input is bounded (pattern-survivor top/bottom-k,
    resolved heavy candidates, low-card value histogram), so each
    concurrent follow-up job ends in a ``collect`` and the remaining
    math — popular/rare split with the anti-join (J3), mode ties (J2,
    Profile.ecl:1163-1175), cardinality breakdown (A9), correlation
    mirroring (A12) and the final per-attribute assembly joins — runs
    in plain Python, re-embedded as one JVM-literal frame.  The
    cluster-side equivalent executed ~10 sequential tiny stages
    (salted top-k trees, anti-join, max-join, per-piece aggregations,
    assembly joins): measured 8.0s of parallelism-INDEPENDENT wall for
    a 6-row result at local[32] on 19M turns — pure scheduler/AQE
    latency that also capped N-vs-4N scaling efficiency.  String
    ordering parity: Spark compares strings as binary UTF-8, which
    equals Python's code-point ordering, so the Python sorts reproduce
    the Window/array_sort tie-breaks exactly."""
    spark = df.sparkSession
    k = int(params.max_patterns)
    need_pat_feature = params.has("patterns") and k > 0
    derive_attrs = [a for a in attrs if a.name in derive_names]

    vh_plan = vh
    if vh is not None and derive_names and need_pat_feature:
        # pattern of each DISTINCT value, computed Spark-side over the
        # bounded histogram rows (exact translate/regex semantics, no
        # Python reimplementation), gated to the derive attributes
        vh_plan = vh.withColumn(
            "_dp",
            F.when(
                F.col("attribute").isin(sorted(derive_names)),
                finish_pattern(_pattern_expr(derive_attrs, plen)),
            ),
        )

    # ---- materialize the bounded follow-ups concurrently; the
    # materializing action IS the collect (no persist+count job) ----
    jobs: dict[str, object] = {}
    if lp is not None:
        jobs["lp"] = lambda: _dual_topk_survivors(lp, k).collect()
    if heavy_pat is not None:
        jobs["hv"] = lambda: heavy_pat.collect()
    if vh_plan is not None:
        jobs["vh"] = lambda: vh_plan.collect()
    num_given = [a.name for a in attrs if a.kind == KIND_NUMERIC]
    corr_pairs = []
    if params.has("correlations") and len(num_given) >= 2:
        corr_pairs = [
            (x, y) for i, x in enumerate(num_given) for y in num_given[i + 1 :]
        ]
        jobs["corr"] = lambda: df.agg(
            *[
                F.corr(F.col(x).cast("double"), F.col(y).cast("double")).alias(f"c{i}")
                for i, (x, y) in enumerate(corr_pairs)
            ]
        ).collect()[0]
    res = _run_jobs(spark, jobs)

    # ---- popular / rare patterns (A8 + anti-join J3) ----
    popular: dict[str, list] = {}
    rare: dict[str, list] = {}
    if need_pat_feature:
        pat_rows: list[tuple] = [
            (r["attribute"], r["data_pattern"], int(r["rec_count"]), r["example"])
            for key in ("lp", "hv")
            for r in res.get(key, [])
        ]
        if derive_names and res.get("vh"):
            derived: dict[tuple, list] = {}
            for r in res["vh"]:
                if r["_dp"] is None:
                    continue
                ex = r["value"][:plen]
                cur = derived.get((r["attribute"], r["_dp"]))
                if cur is None:
                    derived[(r["attribute"], r["_dp"])] = [int(r["rec_count"]), ex]
                else:
                    cur[0] += int(r["rec_count"])
                    if ex < cur[1]:
                        cur[1] = ex
            pat_rows += [(a, p, c, e) for (a, p), (c, e) in derived.items()]
        by_attr: dict[str, list] = {}
        for a, p, c, e in pat_rows:
            by_attr.setdefault(a, []).append((p, c, e))
        for a, lst in by_attr.items():
            top = sorted(lst, key=lambda t: (-t[1], t[0]))[:k]
            pset = {t[0] for t in top}
            bot = sorted(lst, key=lambda t: (t[1], t[0]))[:k]
            popular[a] = top
            rare[a] = [t for t in bot if t[0] not in pset]

    # ---- modes (J2) + cardinality breakdown (A9) from the vh rows ----
    modes: dict[str, list] = {}
    lcb: dict[str, list] = {}
    if res.get("vh"):
        vh_by_attr: dict[str, list] = {}
        for r in res["vh"]:
            vh_by_attr.setdefault(r["attribute"], []).append(
                (r["value"], int(r["rec_count"]))
            )
        if params.has("modes"):
            for a, vals in vh_by_attr.items():
                mx = max(c for _, c in vals)
                if mx > 1:
                    tied = sorted(v for v, c in vals if c == mx)[:MAX_MODES]
                    modes[a] = [(v, mx) for v in tied]
        if params.has("cardinality_breakdown") and params.lcb_limit > 0:
            lcb_names = {
                r["_local_name"]
                for r in base_rows
                if 0 < r["cardinality"] <= params.lcb_limit
            }
            for a in lcb_names:
                vals = vh_by_attr.get(a)
                if vals:
                    lcb[a] = sorted(vals, key=lambda t: (-t[1], t[0]))

    # ---- correlations (A12, mirrored both directions) ----
    corr: dict[str, list] = {}
    if corr_pairs:
        row = res["corr"]
        by_num: dict[str, list] = {n: [] for n in num_given}
        for i, (x, y) in enumerate(corr_pairs):
            c = row[i]
            c = round(float(c), 6) if c is not None else 0.0
            by_num[x].append((name_prefix + y, c))
            by_num[y].append((name_prefix + x, c))
        corr = {
            a: sorted(lst, key=lambda t: (-t[1], t[0])) for a, lst in by_num.items()
        }

    # ---- final per-attribute assembly as ONE literal frame ----
    names = [f.name for f in base_schema.fields]
    arr_fields: list[tuple[str, str]] = []
    if need_pat_feature:
        arr_fields += [
            ("popular_patterns", _PATTERN_STRUCT),
            ("rare_patterns", _PATTERN_STRUCT),
        ]
    if params.has("modes"):
        arr_fields.append(("modes", _MODE_STRUCT))
    if params.has("cardinality_breakdown") and params.lcb_limit > 0:
        arr_fields.append(("cardinality_breakdown", _MODE_STRUCT))
    if params.has("correlations"):
        arr_fields.append(("correlations", _CORR_STRUCT))
    recs = []
    for t in base_tuples:
        d = dict(zip(names, t))
        a = d["_local_name"]
        if need_pat_feature:
            d["popular_patterns"] = [
                {"data_pattern": p, "rec_count": c, "example": e}
                for p, c, e in popular.get(a, [])
            ]
            d["rare_patterns"] = [
                {"data_pattern": p, "rec_count": c, "example": e}
                for p, c, e in rare.get(a, [])
            ]
        if params.has("modes"):
            d["modes"] = [
                {"value": v, "rec_count": c} for v, c in modes.get(a, [])
            ]
        if params.has("cardinality_breakdown") and params.lcb_limit > 0:
            d["cardinality_breakdown"] = [
                {"value": v, "rec_count": c} for v, c in lcb.get(a, [])
            ]
        if params.has("correlations"):
            d["correlations"] = [
                {"attribute": o, "corr": c} for o, c in corr.get(a, [])
            ]
        recs.append(d)
    full_struct = T.StructType(
        list(base_schema.fields)
        + [
            T.StructField(n, T.ArrayType(T.StructType.fromDDL(s)))
            for n, s in arr_fields
        ]
    )
    out = _shape_output(_embed_rows_json(spark, recs, full_struct), params)
    return out


def _profile_flat_approx(
    df: DataFrame,
    attrs: list[AttrInfo],
    params: ProfileParams,
    name_prefix: str,
    sort_prefix: str,
) -> DataFrame:
    """Sketch-path profile for the 10^12-row tier: ONE full-width pass
    over the input, then only bounded or column-pruned follow-ups.

    1. **pass 1 (full width, no raw-value shuffle, slim melt)**: the
       :func:`melt_slim` melt carries at most 48 value chars per row —
       distinctness rides a precomputed 64-bit value hash and the
       non-ASCII probe a precomputed bit, so free-text bytes never
       enter the explode/aggregate path.  The melt
       aggregates straight to attribute grain — fill/lengths,
       DataSketches HLL cardinality (lgK 14), numeric sketch stats
       (min/max/mean/pop-stddev + ``percentile_approx``), AND the
       per-attribute type/unicode folds, so no second full pass is
       needed for them.  The per-row type-flag ladder is gated so it
       is near-free on real data:
       values longer than 40 chars cannot match any numeric rule
       (19/20-digit, 15.15-float, exp — Profile.ecl:908-935) and get
       flag 0 from a length test alone; a one-regex first-char probe
       (``[0-9+-.]`` at position 1) zeroes everything non-numeric before
       the full ladder runs.  The same pass estimates each attribute's
       *pattern* cardinality (HLL over a 1/16-sampled short-value pattern +
       count of long values) to drive step 2's plan choice.
    2. **patterns, split by pattern-space size** (driver decision from
       pass-1 estimates, mirroring the reference's own lcbLimit gating
       idea, Profile.ecl:178-183): attributes under
       ``approx_pattern_limit`` distinct patterns take the exact
       ``groupBy(attribute, data_pattern)`` histogram (bounded shuffle,
       column-pruned scan — for transcripts this reads the small
       columns only); near-unique-pattern attributes (free text) take
       the partition-local candidate path
       (:func:`_heavy_pattern_candidates`) with NO pattern shuffle.
    3. low-card value histogram for modes/breakdown (bounded pass) and
       correlations (one agg of all ``corr`` pairs).

    Deviations from the always-exact reference (documented):
    DataSketches HLL cardinality (lgK 14, ~0.8% RSE), sketch
    quantiles, modes/breakdown only under ``approx_mode_card_limit``,
    and top/rare patterns for near-unique pattern spaces are
    candidate-merged (see :func:`_heavy_pattern_candidates`).
    """
    plen = params.pattern_len
    meta = _attr_meta_df(df, attrs, sort_prefix, name_prefix)
    as_is_attrs = [
        a.name for a in attrs if a.kind in (KIND_NUMERIC, KIND_BOOLEAN, KIND_ARRAY)
    ]
    att = F.col("attribute")
    filled = F.col("filled")
    short = F.col("len") <= 40
    need_pat_feature = params.has("patterns") and params.max_patterns > 0

    # ---- pass 1: one full-width melt -> attribute-grain aggregate ----
    # NOTE: a "one wide aggregate over the unmelted frame" variant was
    # A/B-tested in round 1 and is 11-14x SLOWER (drops out of
    # whole-stage codegen); the melt keeps row-shaping in codegen.
    # Per-kind filled/value/hash work happens inside melt_slim's fast
    # paths (the `fil` bit carries numeric/boolean filled semantics).
    tfast = [a.name for a in attrs if _is_fast_temporal(a)]
    m1 = melt_slim(df, attrs, params.allow_zero).withColumn(
        "filled", F.coalesce(F.col("fil") == 1, F.col("len") > 0)
    )
    if need_pat_feature:
        # pattern-cardinality estimate from a 1/16 deterministic hash
        # sample: a distinct-in-sample count estimates min(true pattern
        # cardinality, sample size), which classifies the pattern space
        # reliably whenever sample size >> approx_pattern_limit — true
        # at the scale tier this mode targets; under that, the exact
        # histogram is the right plan anyway and misclassification only
        # picks the other (still correct) path.  Sampling keeps the
        # pattern mapping off 15/16 of the pass-1 rows (measured ~11s
        # of pass-1 wall at local[16] on 19M turns).  Fast-temporal
        # attributes (value is NULL in the slim melt) estimate from the
        # length-template FINISHED pattern — what the follow-up
        # histogram actually groups on, and a tiny space by
        # construction, so they always classify light.
        sampled = F.pmod(F.col("vhash"), F.lit(16)) == 0
        pat_sample = _pattern_expr(attrs, plen)
        if tfast:
            pat_sample = F.when(
                att.isin(tfast) & F.col("value").isNull(),
                F.substring(F.lit(_TS_TEMPLATE), F.lit(1), F.col("len")),
            ).otherwise(pat_sample)
        m1 = m1.withColumn(
            "_pat_s", F.when(filled & short & sampled, pat_sample)
        )
    if params.need_flags:
        # flag-ladder pattern, gated to numeric-looking short values
        # (length test + one first-char regex) and projected ONCE per
        # row — inlining it into type_flag's CaseWhen would re-derive
        # it in every rlike branch (no CSE across conditional branches)
        gate = (
            filled
            & short
            & ~(att.isin(as_is_attrs) if as_is_attrs else F.lit(False))
            & F.col("value").rlike("^[0-9+\\-.]")
        )
        m1 = m1.withColumn("_pat_f", F.when(gate, _pattern_expr(attrs, plen)))
    if params.need_numeric:
        # These buffers serve STRING values that parse as numbers (the
        # reference profiles numeric-content strings numerically);
        # given-numeric attributes take the direct column-pruned
        # aggregation below instead (their melted value is NULL except
        # the 1/16 pattern sample, so their buffer updates here are the
        # cheap null path).  Len guard: no numeric-flaggable value
        # exceeds ~33 chars, so long text never pays a parse attempt.
        # First-char gate: a castable value must start [0-9+-.] (ECL's
        # numeric lattice admits nothing else — "NaN"/"Infinity" are
        # not best-type numeric, Profile.ecl:908-935), keeping the JVM
        # double-parse off every non-numeric token (measured ~15s of
        # pass-1 wall at local[16] on 19M turns).
        m1 = m1.withColumn(
            "v",
            F.when(
                filled & short & F.col("value").rlike("^[0-9+\\-.]"),
                F.expr("try_cast(value AS double)"),
            ),
        )
    agg_exprs = [
        F.count(F.lit(1)).alias("rec_count"),
        F.coalesce(F.sum(F.when(filled, 1)), F.lit(0)).alias("fill_count"),
    ]
    if params.need_lengths:
        agg_exprs += [
            F.coalesce(F.min(F.when(filled, F.col("len"))), F.lit(0)).alias("min_length"),
            F.coalesce(F.max(F.when(filled, F.col("len"))), F.lit(0)).alias("max_length"),
            F.coalesce(
                F.floor(
                    F.sum(F.when(filled, F.col("len"))) / F.sum(F.when(filled, 1))
                ),
                F.lit(0),
            ).alias("ave_length"),
            F.coalesce(
                F.min(F.when(filled & (F.col("len") > 0), F.col("len"))), F.lit(0)
            ).alias("min_len_nonzero"),
        ]
    if params.need_cardinality:
        # DataSketches HLL, lgK 14, ~0.8% RSE (documented deviation:
        # reference is exact) — the sketch profile_state stores; fed
        # the 64-bit value hash, not the value — identical estimate
        # (see melt_slim)
        agg_exprs.append(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.when(filled, F.col("vhash")), LG_CONFIG_K)
            ).alias("cardinality")
        )
    if params.need_flags:
        # per-row AND/OR folds (Profile.ecl:967-992), gated as per the
        # docstring so the regex ladder runs only on numeric-looking
        # short values
        flag = (
            F.when(~filled, F.lit(None).cast("int"))
            .when(
                att.isin(as_is_attrs) if as_is_attrs else F.lit(False),
                F.lit(besttype.AS_IS),
            )
            .when(F.col("_pat_f").isNull(), F.lit(0))
            .otherwise(besttype.type_flag(F.col("_pat_f"), treat_as_is=False))
        )
        is_uni = F.when(filled, F.col("uni"))  # precomputed in melt_slim
        agg_exprs += [
            F.coalesce(F.bit_and(flag), F.lit(0)).alias("type_flags"),
            F.coalesce(F.max(is_uni), F.lit(0)).alias("_uni"),
        ]
    if need_pat_feature:
        agg_exprs += [
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("_pat_s"), LG_CONFIG_K)
            ).alias("_pat_card_short"),
            F.coalesce(F.sum(F.when(filled & ~short, 1)), F.lit(0)).alias("_n_long"),
        ]
    if params.need_numeric:
        agg_exprs += [
            F.round(F.min("v"), 4).alias("numeric_min"),
            F.round(F.max("v"), 4).alias("numeric_max"),
            F.round(F.avg("v"), 4).alias("numeric_mean"),
            F.round(
                F.sqrt(F.avg(F.col("v") * F.col("v")) - F.avg("v") * F.avg("v")), 4
            ).alias("numeric_std_dev"),
            F.percentile_approx("v", [0.25, 0.5, 0.75], 10_000).alias("_q"),
        ]
    summary = m1.groupBy("attribute").agg(*agg_exprs)
    if params.need_numeric:
        summary = summary.withColumns(
            {
                "numeric_lower_quartile": F.round(F.col("_q")[0], 4),
                "numeric_median": F.round(F.col("_q")[1], 4),
                "numeric_upper_quartile": F.round(F.col("_q")[2], 4),
            }
        ).drop("_q")

    # ---- assembly base (tiny, one row per attribute) ----
    base = meta.join(
        summary.withColumnRenamed("attribute", "_local_name"), "_local_name", "left"
    )
    fill_defaults = {
        "rec_count": 0,
        "fill_count": 0,
        "min_length": 0,
        "max_length": 0,
        "ave_length": 0,
        "type_flags": 0,
        "min_len_nonzero": 0,
        "_uni": 0,
        "cardinality": 0,
        "_pat_card_short": 0,
        "_n_long": 0,
    }
    base = base.na.fill({k: v for k, v in fill_defaults.items() if k in base.columns})
    base = _attach_best_type(base, attrs, params, name_prefix)
    if params.need_numeric:
        # sketch stats were computed for every castable value; only
        # attributes judged numeric by the type fold report them
        for c in (
            "numeric_min",
            "numeric_max",
            "numeric_mean",
            "numeric_std_dev",
            "numeric_lower_quartile",
            "numeric_median",
            "numeric_upper_quartile",
        ):
            base = base.withColumn(c, F.when(F.col("is_numeric"), F.col(c)))
    # Given-numeric attributes' sketch stats come from a DIRECT
    # column-pruned aggregation over the native values — identical
    # results to try_cast of the decimal rendering, but the melt's
    # numeric aggregate buffers never see their 38M-per-column updates
    # (measured: min/max/avg/var + percentile buffer updates were ~8s
    # of pass-1 wall at local[16] on 38.5M turns).  One row out; runs
    # CONCURRENTLY with pass-1's gating collect.
    num_names: set[str] = set()
    num_direct = None
    if params.need_numeric:
        num_attrs = [a for a in attrs if a.kind == KIND_NUMERIC]
        num_names = {a.name for a in num_attrs}
        if num_attrs:
            naggs = []
            for a in num_attrs:
                c = F.col(a.name).cast("double")
                fil_a = (
                    F.col(a.name).isNotNull()
                    if params.allow_zero
                    else (F.col(a.name).isNotNull() & (c != 0))
                )
                nv = F.when(fil_a, c)
                pre = a.name + "||"
                naggs += [
                    F.min(nv).alias(pre + "mn"),
                    F.max(nv).alias(pre + "mx"),
                    F.avg(nv).alias(pre + "av"),
                    F.sqrt(F.avg(nv * nv) - F.avg(nv) * F.avg(nv)).alias(pre + "sd"),
                    F.percentile_approx(nv, [0.25, 0.5, 0.75], 10_000).alias(
                        pre + "q"
                    ),
                ]
            # rounding in a wrapper select so Spark's ROUND semantics
            # match the melt-side F.round exactly
            rounded = []
            for a in num_attrs:
                pre = a.name + "||"
                rounded += [
                    F.round(F.col(f"`{pre}mn`"), 4).alias(pre + "numeric_min"),
                    F.round(F.col(f"`{pre}mx`"), 4).alias(pre + "numeric_max"),
                    F.round(F.col(f"`{pre}av`"), 4).alias(pre + "numeric_mean"),
                    F.round(F.col(f"`{pre}sd`"), 4).alias(pre + "numeric_std_dev"),
                    F.round(F.col(f"`{pre}q`")[0], 4).alias(
                        pre + "numeric_lower_quartile"
                    ),
                    F.round(F.col(f"`{pre}q`")[1], 4).alias(pre + "numeric_median"),
                    F.round(F.col(f"`{pre}q`")[2], 4).alias(
                        pre + "numeric_upper_quartile"
                    ),
                ]
            num_direct = df.agg(*naggs).select(*rounded)

    # NOTE: launching the heavy path's candidate-sample job here,
    # speculatively concurrent with pass 1 (it depends on pass 1 only
    # for the heavy/light classification), was A/B-measured on the
    # flagship (interleaved best-of-2, host-probe-tagged): 37.1s
    # speculative vs 36.4s lazy at local[32] on 19M turns — the
    # flagship's concurrent validation passes already saturate the
    # cores during pass 1, so pre-running the sample only adds
    # contention.  The sample therefore stays in the follow-up phase.

    # ONE driver-side collect materializes the whole pass-1 result (one
    # tiny row per attribute) AND gates the follow-up passes; the rows
    # are re-embedded as a JVM-literal frame (plans.local) so every
    # downstream consumer plans against a LocalRelation — no persist /
    # checkpoint job, no second gating collect, no Catalyst re-walk of
    # the melt subtree per consumer (each was a measured
    # parallelism-independent cost in the 4-vs-16-core flagship).
    base_schema = base.schema
    if num_direct is not None:
        got = _run_jobs(
            df.sparkSession,
            {"base": base.collect, "num": lambda: num_direct.collect()[0]},
        )
        base_rows, _num_row = got["base"], got["num"]
        _stats = (
            "numeric_min",
            "numeric_max",
            "numeric_mean",
            "numeric_std_dev",
            "numeric_lower_quartile",
            "numeric_median",
            "numeric_upper_quartile",
        )
        _idx = {n: i for i, n in enumerate(base.schema.fieldNames())}
        patched = []
        for r in base_rows:  # base_rows stays Rows for the
            t = list(r)  # classification loop below
            a = r["_local_name"]
            # the is_numeric gate already nulled non-numeric attrs'
            # stats; given-numeric attrs judged numeric get the direct
            # values (identical by construction to the melt-side path)
            if a in num_names and r["is_numeric"]:
                for st in _stats:
                    t[_idx[st]] = _num_row[a + "||" + st]
            patched.append(tuple(t))
        base_tuples = patched
    else:
        base_rows = base.collect()
        base_tuples = [tuple(r) for r in base_rows]
    base = lit_df(df.sparkSession, base_tuples, base_schema)

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

    pieces = [base]

    # ---- popular / rare patterns (split by pattern-space size) ----
    pat = None
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
        if heavy_attrs:
            heavy_pat = _heavy_pattern_candidates(
                df, heavy_attrs, params, plen, total_rows
            )

    # ---- low-card value histogram: modes + cardinality breakdown ----
    vh = None
    est_vh_rows = 0
    if need_vh and low_card:
        # per-attribute direct value histograms (column-pruned scans,
        # native groupBy, post-agg rendering — no melt, no per-row
        # casts), unioned into one frame
        lc_set = set(low_card)
        lc_attrs = [a for a in attrs if a.name in lc_set]
        vh = _lowcard_value_hist(df, lc_attrs, params.allow_zero)
        est_vh_rows = sum(
            int(r["cardinality"]) for r in base_rows if r["_local_name"] in lc_set
        )

    # Driver-side finishing (default): every follow-up is bounded, so
    # collect them and run the top-k/mode/breakdown/assembly math in
    # Python — deletes ~10 sequential tiny cluster stages of pure
    # scheduler latency (see _approx_driver_tail).  The cluster tail
    # below remains for oversized low-card histograms.
    if est_vh_rows <= _DRIVER_TAIL_VH_LIMIT:
        return _approx_driver_tail(
            df,
            attrs,
            params,
            name_prefix,
            base_schema,
            base_tuples,
            base_rows,
            lp,
            heavy_pat,
            vh,
            derive_names,
            plen,
        )

    # Materialize the (at most three) bounded follow-up passes
    # CONCURRENTLY as separate jobs: the light-attr pattern histogram,
    # the heavy-attr candidate path (whose sample/top-k/resolution
    # stages have their own driver barriers), and the low-card value
    # histogram are independent; overlapping them keeps executors busy
    # through any one job's driver-side barriers.  All results are tiny
    # and reused by several consumers (top-k/bottom-k/anti-join; modes
    # max-join x2 + breakdown), hence the eager materialization either
    # way.  (A fused tagged-explode single pass was A/B-tested: the
    # per-row struct+array+explode machinery is 5x slower than two
    # direct aggregations — same lesson as the stat-check counters.)
    mats = {k: f for k, f in (("lp", lp), ("hv", heavy_pat), ("vh", vh)) if f is not None}
    mats = _run_jobs(
        df.sparkSession,
        {
            k: (lambda f=f: _materialize(f, len(attrs), params.materialize))
            for k, f in mats.items()
        },
    )
    lp, heavy_pat, vh = mats.get("lp"), mats.get("hv"), mats.get("vh")
    pat_frames = [f for f in (lp, heavy_pat) if f is not None]
    if vh is not None and derive_names:
        # exact pattern histogram for vh-covered attributes, derived
        # from the materialized value histogram (tiny; no extra scan)
        derive_attrs = [a for a in attrs if a.name in derive_names]
        pat_frames.append(
            vh.filter(F.col("attribute").isin(sorted(derive_names)))
            .withColumn(
                "data_pattern", finish_pattern(_pattern_expr(derive_attrs, plen))
            )
            .groupBy("attribute", "data_pattern")
            .agg(
                F.sum("rec_count").alias("rec_count"),
                F.min(F.substring(F.col("value"), 1, plen)).alias("example"),
            )
        )
    if pat_frames:
        pat = pat_frames[0]
        for p in pat_frames[1:]:
            pat = pat.unionByName(p)

    if pat is not None:
        pieces.extend(_pattern_pieces(pat, params, name_prefix))
    if vh is not None:
        if params.has("modes"):
            pieces.append(_modes_piece(vh, name_prefix))
        if params.has("cardinality_breakdown") and params.lcb_limit > 0:
            low_attrs = base.filter(
                (F.col("cardinality") > 0) & (F.col("cardinality") <= params.lcb_limit)
            ).select(F.col("_local_name").alias("attribute"))
            pieces.append(_lcb_piece(vh, low_attrs, name_prefix))

    # ---- correlations ----
    if params.has("correlations"):
        num_given = [a.name for a in attrs if a.kind == KIND_NUMERIC]
        corr_df = _correlations(df, num_given, name_prefix)
        if corr_df is not None:
            pieces.append(corr_df)

    out = pieces[0]
    for p in pieces[1:]:
        out = out.join(p, "attribute", "left")
    out = _shape_output(out, params)
    return out


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
    mergeable ``percentile_approx`` sketch, which has no per-attribute
    serialization."""
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


def _correlations(df: DataFrame, numeric_names: list[str], name_prefix: str):
    """All-pairs Pearson correlation in ONE aggregate pass
    (Profile.ecl:1213-1245 runs one full scan per pair; Catalyst
    computes every ``corr`` in a single job here)."""
    if len(numeric_names) < 2:
        return None
    pairs = [
        (x, y)
        for i, x in enumerate(numeric_names)
        for y in numeric_names[i + 1 :]
    ]
    row = df.agg(
        *[
            F.corr(F.col(x).cast("double"), F.col(y).cast("double")).alias(f"c{i}")
            for i, (x, y) in enumerate(pairs)
        ]
    ).collect()[0]
    by_attr: dict[str, list[tuple[str, float]]] = {n: [] for n in numeric_names}
    for i, (x, y) in enumerate(pairs):
        c = row[i]
        c = round(float(c), 6) if c is not None else 0.0
        by_attr[x].append((y, c))
        by_attr[y].append((x, c))
    spark = df.sparkSession
    # literal JVM-side frame (see plans.local): one struct per attr
    # with its sorted correlation array embedded as array(struct(...))
    attr_structs = [
        F.struct(
            F.lit(name_prefix + attr).alias("attribute"),
            F.array(
                *[
                    F.struct(
                        F.lit(name_prefix + other).alias("attribute"),
                        F.lit(c).cast("double").alias("corr"),
                    )
                    for other, c in sorted(lst, key=lambda t: (-t[1], t[0]))
                ]
            ).alias("correlations"),
        )
        for attr, lst in by_attr.items()
    ]
    return spark.range(1).select(F.inline(F.array(*attr_structs)))


def _shape_output(out: DataFrame, params: ProfileParams) -> DataFrame:
    """Project to the reference's feature-conditional FinalOutputLayout
    column set and order (Profile.ecl:445-496)."""
    has = params.has
    empty_mode = _empty_array(_MODE_STRUCT)
    empty_pat = _empty_array(_PATTERN_STRUCT)
    cols: list[Column] = [
        F.col("attribute"),
        F.col("given_attribute_type"),
    ]
    if has("best_ecl_types"):
        cols.append(F.col("best_attribute_type"))
    cols.append(F.col("rec_count").cast("long").alias("rec_count"))
    if has("fill_rate"):
        cols += [
            F.col("fill_count").cast("long").alias("fill_count"),
            F.col("fill_rate").cast("double").alias("fill_rate"),
        ]
    if has("cardinality") or has("cardinality_breakdown"):
        cols.append(F.col("cardinality").cast("long").alias("cardinality"))
    if has("cardinality_breakdown") and params.lcb_limit > 0:
        c = (
            F.coalesce(F.col("cardinality_breakdown"), empty_mode)
            if "cardinality_breakdown" in out.columns
            else empty_mode
        )
        cols.append(c.alias("cardinality_breakdown"))
    if has("modes"):
        c = F.coalesce(F.col("modes"), empty_mode) if "modes" in out.columns else empty_mode
        cols.append(c.alias("modes"))
    if has("lengths"):
        cols += [
            F.col("min_length").cast("long").alias("min_length"),
            F.col("max_length").cast("long").alias("max_length"),
            F.col("ave_length").cast("long").alias("ave_length"),
        ]
    if has("patterns") and params.max_patterns > 0:
        p = (
            F.coalesce(F.col("popular_patterns"), empty_pat)
            if "popular_patterns" in out.columns
            else empty_pat
        )
        r = (
            F.coalesce(F.col("rare_patterns"), empty_pat)
            if "rare_patterns" in out.columns
            else empty_pat
        )
        cols += [p.alias("popular_patterns"), r.alias("rare_patterns")]
    numericish = ("min_max", "mean", "std_dev", "quartiles", "correlations")
    if any(has(f) for f in numericish):
        cols.append(F.col("is_numeric"))

    def numcol(name: str) -> Column:
        if name in out.columns:
            return F.coalesce(F.col(name), F.lit(0.0)).cast("double").alias(name)
        return F.lit(0.0).alias(name)

    if has("min_max"):
        cols += [numcol("numeric_min"), numcol("numeric_max")]
    if has("mean"):
        cols.append(numcol("numeric_mean"))
    if has("std_dev"):
        cols.append(numcol("numeric_std_dev"))
    if has("quartiles"):
        cols += [
            numcol("numeric_lower_quartile"),
            numcol("numeric_median"),
            numcol("numeric_upper_quartile"),
        ]
    if has("correlations"):
        c = (
            F.coalesce(F.col("correlations"), _empty_array(_CORR_STRUCT))
            if "correlations" in out.columns
            else _empty_array(_CORR_STRUCT)
        )
        cols.append(c.alias("correlations"))
    cols.append(F.col("sort_value"))
    cols.append(F.col("_local_name"))
    cols.append(F.col("_kind"))
    return out.select(*cols)
