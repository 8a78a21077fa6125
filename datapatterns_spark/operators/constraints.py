"""Constraint/validation layer for large-scale tables — the new
capabilities mandated by BASELINE.json §north_star on top of the
reference's row-scope Validate() (SURVEY.md §2.11):

* uniqueness over a key (e.g. ``(conv_id, turn_idx)``),
* referential/domain membership (role/tool domains),
* monotone timestamps within a group (conversation),
* row-level rules (reusing the Validate spec DSL),
* distribution drift vs a stored baseline (PSI on fixed bins, KS on
  binned ECDFs — both mergeable, computed per partition),
* Benford first-digit conformance as a pass/fail check.

Everything emits **per-partition verdict rows**
``(partition, check_name, passed, violation_count, sample_violations)``
plus a violation side-table, mirroring the reference's per-row
violations (Validation.ecl:286-296) lifted to partition grain.

Scale notes: row checks run in ONE narrow pass (no shuffle); all
group-scope checks share ONE shuffle on the group key (window
functions over the same partitioning); both passes' violation rows
are materialized as one frame, and its verdict aggregation (a single
``groupBy(partition, check)``) returns with the stat pass's bin counts
in one collect.  Hot groups are protected by
AQE skew handling; the group key is expected to be high-cardinality
(conversations), so salting is only needed for the histogram path
(done via two-phase aggregation on (partition, check, bin)).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field as dc_field
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .benford import CRITICAL_1, CRITICAL_N, EXPECTED, FRACTIONAL_TYPES, INTEGRAL_TYPES
from ..functions.benford_digit import nth_digit
from ..plans.local import lit_df
from .validation import expand_helpers

SAMPLE_VIOLATIONS = 5
VERDICT_SCHEMA = (
    "partition string, check_name string, passed boolean, "
    "violation_count long, metric double, sample_violations array<string>"
)

# auto-segmentation probe (run_checks segment_size="auto"): sample
# ~1/PROBE_MOD of each group's rows by a deterministic (group, order)
# hash, estimate the hottest group as PROBE_MOD * max sampled count,
# and turn segmentation on past THRESHOLD rows.  The threshold sits
# where a single window task stops being comfortable (a few million
# rows); SIZE bounds each segmented task well under it.
AUTO_SEGMENT_PROBE_MOD = 128
AUTO_SEGMENT_THRESHOLD = 4_000_000
AUTO_SEGMENT_SIZE = 1_000_000

# run_checks refuses to build a per-partition verdict grid past this
# many distinct partition values: the grid is assembled driver-side
# (by design — see the verdict-assembly comment), so an accidental
# high-cardinality partition_col (e.g. a row id) must fail loudly
# instead of OOMing the driver.
MAX_VERDICT_PARTITIONS = 100_000


def partition_order(p: str | None) -> tuple:
    """Sort key for partition values: NULL first, then ascending
    (Spark's ascending order)."""
    return (p is not None, p or "")


# ---------------------------------------------------------------------------
# check definitions
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class Check:
    name: str
    kind: str  # "row" | "group" | "stat"
    params: dict = dc_field(default_factory=dict)


def unique(name: str, cols: list[str]) -> Check:
    """Key-uniqueness check (north_star: uniqueness on
    (conv_id, turn_idx)); violations are every row of a duplicated
    key."""
    return Check(name, "group", {"op": "unique", "cols": cols})


def in_domain(name: str, col: str, values: list[str]) -> Check:
    """Referential/domain check: col must be one of ``values``."""
    qv = ", ".join("'" + v.replace("'", "\\'") + "'" for v in values)
    return Check(name, "row", {"expr": f"`{col}` IN ({qv})", "col": col})


def row_rule(name: str, sql_expr: str) -> Check:
    """Arbitrary row-level rule — TRUE means valid (the Validate()
    contract, Validation.ecl:106)."""
    return Check(name, "row", {"expr": sql_expr})


def monotonic(name: str, ts_col: str, group_by: str, order_by: str) -> Check:
    """ts must be non-decreasing within ``group_by`` when ordered by
    ``order_by`` (north_star: monotone ts within conversation)."""
    return Check(
        name, "group", {"op": "monotonic", "ts": ts_col, "group": group_by, "order": order_by}
    )


def no_consecutive(
    name: str, col: str, group_by: str, order_by: str
) -> Check:
    """Fail rows whose ``col`` equals the previous row's within
    ``group_by`` ordered by ``order_by`` — the transcript alternation
    class (e.g. two consecutive ``user`` turns).  Shares the monotonic
    check's Exchange+Sort when one exists on the same (group, order).
    Does not participate in ``segment_size`` hardening (a consecutive
    pair may straddle a segment boundary), so its window always spans
    the whole group."""
    return Check(
        name,
        "group",
        {
            "op": "no_consecutive",
            "col": col,
            "group": group_by,
            "order": order_by,
        },
    )


def benford_conformance(name: str, col: str, digit: int = 1) -> Check:
    """Benford digit-distribution conformance as a pass/fail check —
    the reference reports chi-squared vs a critical value
    (Benford.ecl:104-114); here the comparison becomes the verdict."""
    return Check(name, "stat", {"op": "benford", "col": col, "digit": digit})


def drift_psi(
    name: str,
    col: str,
    baseline: dict[int, float] | list[float],
    bins: int = 32,
    lo: float | None = None,
    hi: float | None = None,
    threshold: float = 0.2,
    categorical: bool = False,
) -> Check:
    """Population-stability-index drift vs a stored baseline
    distribution.  ``baseline`` maps bin-index (numeric) or is
    produced by :func:`baseline_histogram`.  PSI > threshold fails."""
    return Check(
        name,
        "stat",
        {
            "op": "psi",
            "col": col,
            "baseline": dict(enumerate(baseline)) if isinstance(baseline, list) else baseline,
            "bins": bins,
            "lo": lo,
            "hi": hi,
            "threshold": threshold,
            "categorical": categorical,
        },
    )


def drift_js(
    name: str,
    col: str,
    baseline: dict[int, float] | list[float],
    bins: int = 32,
    lo: float | None = None,
    hi: float | None = None,
    threshold: float = 0.05,
    categorical: bool = False,
) -> Check:
    """Jensen-Shannon divergence drift vs a stored baseline histogram
    (symmetric, bounded by ln 2 — unlike PSI it never explodes on a
    bin the baseline lacks).  JS > threshold fails."""
    return Check(
        name,
        "stat",
        {
            "op": "js",
            "col": col,
            "baseline": dict(enumerate(baseline)) if isinstance(baseline, list) else baseline,
            "bins": bins,
            "lo": lo,
            "hi": hi,
            "threshold": threshold,
            "categorical": categorical,
        },
    )


def drift_ks(
    name: str,
    col: str,
    baseline: dict[int, float] | list[float],
    bins: int = 64,
    lo: float | None = None,
    hi: float | None = None,
    threshold: float = 0.1,
) -> Check:
    """Kolmogorov-Smirnov drift on binned ECDFs vs a baseline."""
    return Check(
        name,
        "stat",
        {
            "op": "ks",
            "col": col,
            "baseline": dict(enumerate(baseline)) if isinstance(baseline, list) else baseline,
            "bins": bins,
            "lo": lo,
            "hi": hi,
            "threshold": threshold,
        },
    )


def schema_baseline(df: DataFrame) -> dict[str, str]:
    """``{column: simpleString type}`` snapshot to store alongside a
    drift baseline — input to :func:`schema_drift_verdicts`."""
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}


def schema_drift_verdicts(
    df: DataFrame,
    baseline: dict[str, str],
    partition: str = "(all)",
) -> DataFrame:
    """Schema drift vs a stored :func:`schema_baseline`: three verdict
    rows (missing columns, added columns, type changes) in the SAME
    frame shape ``run_checks`` emits, so they union with the value
    checks and render through ``report.write_verdicts_report``.
    Pure driver-side metadata comparison — no job runs."""
    cur = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    missing = sorted(set(baseline) - set(cur))
    added = sorted(set(cur) - set(baseline))
    changed = sorted(
        f"{n}: {baseline[n]} -> {cur[n]}"
        for n in set(cur) & set(baseline)
        if cur[n] != baseline[n]
    )
    rows = [
        (partition, "schema_missing_columns", not missing,
         len(missing), float(len(missing)), missing[:5]),
        (partition, "schema_added_columns", not added,
         len(added), float(len(added)), added[:5]),
        (partition, "schema_type_changes", not changed,
         len(changed), float(len(changed)), changed[:5]),
    ]
    return lit_df(df.sparkSession, rows, VERDICT_SCHEMA)


# ---------------------------------------------------------------------------
# baseline helpers (drift)
# ---------------------------------------------------------------------------
def _bin_expr(col: str, bins: int, lo: float, hi: float) -> Column:
    c = F.col(col).cast("double")
    idx = F.floor((c - F.lit(lo)) / F.lit((hi - lo) / bins)).cast("int")
    return F.least(F.greatest(idx, F.lit(0)), F.lit(bins - 1))


def _cat_bin_expr(col: str, bins: int) -> Column:
    return F.pmod(F.xxhash64(F.col(col).cast("string")), F.lit(bins)).cast("int")


def baseline_histogram(
    df: DataFrame,
    col: str,
    bins: int = 32,
    lo: float | None = None,
    hi: float | None = None,
    categorical: bool = False,
) -> tuple[dict[int, float], float, float]:
    """Compute a normalized fixed-bin histogram to store as a drift
    baseline.  Returns (bin->fraction, lo, hi).  Mergeable across
    snapshots by re-normalizing summed counts."""
    if categorical:
        b = _cat_bin_expr(col, bins)
        lo, hi = 0.0, float(bins)
    else:
        if lo is None or hi is None:
            r = df.agg(
                F.min(F.col(col).cast("double")), F.max(F.col(col).cast("double"))
            ).collect()[0]
            lo = float(r[0]) if lo is None else lo
            hi = float(r[1]) if hi is None else hi
            if hi <= lo:
                hi = lo + 1.0
        b = _bin_expr(col, bins, lo, hi)
    counts = df.filter(F.col(col).isNotNull()).groupBy(b.alias("bin")).count().collect()
    total = sum(r["count"] for r in counts) or 1
    return {int(r["bin"]): r["count"] / total for r in counts}, lo, hi


# ---------------------------------------------------------------------------
# the suite runner
# ---------------------------------------------------------------------------
def _probe_windows(df: DataFrame, checks: list[Check]) -> list[tuple[str, str]]:
    """The ``(group, order)`` windows that ``segment_size="auto"``
    probes: those of the monotonic checks with an integral order key
    (the only ones segmentation applies to)."""
    dtypes = dict(df.dtypes)
    return list(
        dict.fromkeys(
            (c.params["group"], c.params["order"])
            for c in checks
            if c.kind == "group"
            and c.params["op"] == "monotonic"
            and dtypes.get(c.params["order"]) in INTEGRAL_TYPES
        )
    )


def _probe_group(windows: list[tuple[str, str]], outer: bool = False) -> Column:
    """The probe's per-row key: the window-tagged group of a row in the
    deterministic ~1/PROBE_MOD hash-sample of ``(group, order)`` pairs,
    NULL for a row sampled out (window-tagged so equal group values in
    different windows never merge).  Several windows explode to one row
    per sampled window — ``outer`` keeps one NULL row for a row no
    window samples, for a caller that must still see every row."""
    tags = [
        F.when(
            F.pmod(F.xxhash64(F.col(g), F.col(o)), F.lit(AUTO_SEGMENT_PROBE_MOD)) == 0,
            F.concat_ws("\x00", F.lit(str(i)), F.col(g).cast("string")),
        )
        for i, (g, o) in enumerate(windows)
    ]
    if len(tags) == 1:
        return tags[0]
    sampled = F.array_compact(F.array(*tags))
    return F.explode_outer(sampled) if outer else F.explode(sampled)


def _segment_size_for(sampled_max: int | None) -> int | None:
    """The auto decision from the hottest group's sampled row count:
    AUTO_SEGMENT_SIZE when its estimate (PROBE_MOD x the count) exceeds
    AUTO_SEGMENT_THRESHOLD, else None (the unsegmented plan)."""
    est_max = (sampled_max or 0) * AUTO_SEGMENT_PROBE_MOD
    return AUTO_SEGMENT_SIZE if est_max > AUTO_SEGMENT_THRESHOLD else None


def _auto_segment_size(
    df: DataFrame, windows: list[tuple[str, str]]
) -> int | None:
    """Decide whether run_checks' window pass needs skew segmentation
    — WITHOUT the caller knowing to ask (a 100x operator won't): for
    each monotonic (group, order) window, estimate the hottest group's
    row count from a deterministic ~1/PROBE_MOD hash-sample of (group,
    order) pairs over a two-column pruned scan (map-side-combining
    groupBy; the probe never materializes a full per-group count for
    small groups that sample to zero).  Returns AUTO_SEGMENT_SIZE when
    any estimated group exceeds AUTO_SEGMENT_THRESHOLD, else None —
    the common case pays one cheap slim probe job and keeps the
    unsegmented single-window plan.  Multiple windows share that SAME
    scan (only the overall max matters)."""
    row = (
        df.select(_probe_group(windows).alias("_g"))
        .filter(F.col("_g").isNotNull())
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.max("_n").alias("_m"))
        .collect()
    )
    return _segment_size_for(row[0]["_m"])


def run_checks(
    df: DataFrame,
    checks: list[Check],
    partition_col: str | Column | None = None,
    key_cols: list[str] | None = None,
    partitions: list[str] | None = None,
    segment_size: int | str | None = "auto",
) -> tuple[DataFrame, DataFrame]:
    """Run every check, returning ``(verdicts, violations)``.

    ``verdicts``: one row per (partition, check) —
    ``partition, check_name, passed, violation_count, metric,
    sample_violations``.
    ``violations``: side-table of violating rows —
    ``partition, check_name, key, detail``.

    ``partition_col`` defaults to a constant (whole-table grain); pass
    an Iceberg partition column (or any expression) for per-partition
    verdicts.  A Column EXPRESSION must be computable from the checks'
    group/order/ts/key columns (true for any bucket transform of the
    group key, e.g. ``pmod(xxhash64(conv_id), N)``) — it is then
    evaluated ABOVE the group-check window so partition bytes never
    enter that pass's Exchange+Sort; a physical column NAME outside
    those columns rides the shuffle as before.  ``key_cols`` identify rows in the violation table.
    ``partitions``: the expected partition values, if the caller knows
    them (an Iceberg partition listing is metadata, not a scan) —
    skips a full-input ``distinct`` pass otherwise needed to emit
    verdict rows for violation-free partitions.

    Scale shape: ALL row checks share ONE narrow pass whose explode
    fans out only failing rows; ALL stat checks (Benford, PSI, KS)
    share ONE pass — checks on the same column share a
    ``groupBy(partition, bucket-ids...)`` whose group count is bounded
    by min(prod(bins), column cardinality), normalized to
    (partition, check, bucket, cnt) by a post-agg melt over the
    bounded rows (the chi²/PSI/KS math then runs driver-side on
    n_partitions x n_buckets ints).  Group checks
    share ONE exchange+sort on the group key over a slim projection —
    a uniqueness check on ``(g, o)`` is rewritten as lag/lead equality
    over ``Window.partitionBy(g).orderBy(o)`` whenever a monotonic
    check already uses that exact window, so both ride the same Window
    operator.  The row-check and group-check violation rows are
    materialized as ONE frame, and its verdict-grain aggregation and
    the stat bin counts come back in ONE collect.

    ``segment_size`` (skew hardening): a window partitioned by
    the bare group key puts EVERY row of a group in one task — a
    pathological group (a viral / runaway-agent conv_id with 10^8+
    turns) becomes an unsplittable straggler that AQE cannot divide
    (skew handling can split shuffle partitions, never one window
    key).  The DEFAULT ``"auto"`` probes the hottest group with a
    cheap deterministic hash-sample (see :func:`_auto_segment_size`)
    and enables segmentation only past ``AUTO_SEGMENT_THRESHOLD``
    estimated rows, so pathological inputs are handled without the
    caller knowing to ask; pass an int to pin S, or ``None`` to force
    the unsegmented plan (and skip the probe job entirely).
    With ``segment_size=S``, every monotonic check whose order
    key is integral — and any uniqueness check fused onto its window —
    partitions by ``(group, floor(order / S))`` instead, bounding each
    task by one segment of the order key; cross-segment adjacency
    (a regression spanning a segment boundary) is reconciled by a
    second branch of the same plan that reduces each segment to its
    first/last ``(order, ts)`` edges with a plain map-side-combining
    ``min/max(struct)`` aggregation (one extra column-pruned scan, no
    sort, near-empty shuffle) and replays the lag comparison over the
    per-group segment list (tiny: one row per non-empty segment).
    Verdicts and violation rows are identical
    to the unsegmented plan for any S ≥ 1 (duplicate order keys always
    share a segment, so the fused uniqueness rewrite is unaffected).
    Rows with a NULL order key share the NULL segment (ordered first,
    like the unsegmented NULLS FIRST sort).  Non-integral order keys
    keep the unsegmented window.
    """
    rows, viol = _run_checks(
        df, checks, partition_col, key_cols, partitions, segment_size
    )
    return lit_df(df.sparkSession, rows, VERDICT_SCHEMA), viol


def _resolve_segment_size(
    df: DataFrame, checks: list[Check], segment_size: int | str | None
) -> int | None:
    """Validate ``segment_size`` and resolve ``"auto"`` to an int or
    None with one :func:`_auto_segment_size` probe over the monotonic
    checks' integral-order windows (none: no probe).  Verdicts do not
    depend on the result, so a caller running ``run_checks`` over
    subsets of ``df`` may resolve once and pass the value to each."""
    if isinstance(segment_size, str) and segment_size != "auto":
        # env-var pass-through without int() is the likely caller error
        raise ValueError(
            "segment_size must be an int, None, or 'auto' — got "
            f"{segment_size!r}"
        )
    if segment_size == "auto":
        windows = _probe_windows(df, checks)
        return _auto_segment_size(df, windows) if windows else None
    if segment_size is not None and segment_size < 1:
        raise ValueError("segment_size must be >= 1")
    return segment_size


def _run_checks(
    df: DataFrame,
    checks: list[Check],
    partition_col: str | Column | None = None,
    key_cols: list[str] | None = None,
    partitions: list[str] | None = None,
    segment_size: int | str | None = "auto",
) -> tuple[list[tuple], DataFrame]:
    """:func:`run_checks` with the verdicts as the sorted driver-side
    rows (``VERDICT_SCHEMA`` order) they are assembled from, for
    callers that also need them in Python."""
    spark = df.sparkSession
    part = (
        F.lit("__all__")
        if partition_col is None
        else (F.col(partition_col) if isinstance(partition_col, str) else partition_col)
    ).cast("string").alias("partition")
    keys = key_cols or []
    key_expr = (
        F.to_json(F.struct(*[F.col(k) for k in keys])) if keys else F.lit("")
    ).alias("key")

    row_checks = [c for c in checks if c.kind == "row"]
    group_checks = [c for c in checks if c.kind == "group"]
    stat_checks = [c for c in checks if c.kind == "stat"]

    # ---- row-check pass: ONE scan; fan-out only on failing rows ----
    # Each rule contributes a struct ONLY when it fails; passing rows
    # collapse to an empty array that ``explode`` drops, so the pass is
    # narrow scan -> (rare) explode -> tiny aggregation regardless of
    # input size.
    fused_entries: list[Column] = []
    for c in row_checks:
        test = F.expr(expand_helpers(c.params["expr"], df.columns))
        ok = F.coalesce(test.cast("boolean"), F.lit(False))
        fused_entries.append(
            F.when(
                ~ok,
                F.struct(
                    F.lit(c.name).alias("check_name"),
                    # key serialization runs only on the failing branch
                    key_expr,
                    F.lit("row rule failed").alias("detail"),
                ),
            )
        )
    fused = None
    if fused_entries:
        fused = (
            df.select(part, F.array_compact(F.array(*fused_entries)).alias("_e"))
            .select("partition", F.explode("_e").alias("_x"))
            .groupBy(
                "partition",
                F.col("_x.check_name").alias("check_name"),
                F.col("_x.key").alias("key"),
                F.col("_x.detail").alias("detail"),
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    # ---- stat pass: bounded multi-key aggregation, ZERO fan-out ----
    # Benford / PSI / KS need per-(partition, check, bucket) counts.  A
    # per-INPUT-row melt/explode formulation emits one row per
    # (row x stat check) — at 10^12 rows that triples the pass and
    # shuffles string-keyed groups.  A wide conditional-counter agg
    # evaluates a CASE-WHEN per (row x bucket) — measured 7.25s vs
    # 0.87s for 105 buckets over 38.5M rows at local[16].  Instead the
    # bucket IDS become groupBy keys (hash-agg probes once per row per
    # column group), bounded as described in the docstring.
    dtypes = dict(df.dtypes)
    stat_agg = None
    if stat_checks:
        bucket_cols: list[Column] = []
        for i, c in enumerate(stat_checks):
            p = c.params
            if p["op"] == "benford":
                digit = min(max(int(p["digit"]), 1), 4)
                b = nth_digit(
                    F.col(p["col"]),
                    digit,
                    integral=dtypes.get(p["col"]) in INTEGRAL_TYPES,
                    fractional=dtypes.get(p["col"]) in FRACTIONAL_TYPES,
                )
                cond = b.isNotNull() & (b != 10)
            else:
                nbuckets = int(p["bins"])
                if p.get("categorical"):
                    b = _cat_bin_expr(p["col"], nbuckets)
                else:
                    b = _bin_expr(p["col"], nbuckets, float(p["lo"]), float(p["hi"]))
                cond = F.col(p["col"]).isNotNull()
            bucket_cols.append(F.when(cond, b.cast("int")).alias(f"_b{i}"))
        # Group the checks BY SOURCE COLUMN: checks sharing a column
        # ride ONE groupBy(partition, b_i, b_j, ...) whose distinct
        # combo count is bounded by min(prod(bins), column cardinality)
        # — tiny either way (bucket ids are clamped by construction; a
        # NULL id means "not counted").  A single groupBy ACROSS
        # columns would cross-multiply independent bucket spaces, and
        # the previous wide conditional-counter shape paid a CASE-WHEN
        # per (row x bucket): measured 7.25s vs 0.87s for 105 buckets
        # over 38.5M rows at local[16].  Each column group's bounded
        # result is melted (tiny — runs over the aggregated rows, not
        # the input) to (partition, check_idx, bucket, cnt) and
        # unioned, so the whole stat pass stays ONE job with one
        # column-pruned scan per distinct checked column.
        by_col: dict[str, list[int]] = {}
        for i, c in enumerate(stat_checks):
            by_col.setdefault(c.params["col"], []).append(i)
        norm_frames: list[DataFrame] = []
        for _col, idxs in by_col.items():
            g = (
                df.select(part, *[bucket_cols[i] for i in idxs])
                .groupBy("partition", *[f"_b{i}" for i in idxs])
                .agg(F.count(F.lit(1)).alias("_n"))
            )
            melts = [
                F.when(
                    F.col(f"_b{i}").isNotNull(),
                    F.struct(
                        F.lit(i).alias("ci"), F.col(f"_b{i}").alias("bb")
                    ),
                )
                for i in idxs
            ]
            norm_frames.append(
                g.select(
                    "partition",
                    F.explode(F.array_compact(F.array(*melts))).alias("_e"),
                    "_n",
                )
                .groupBy(
                    "partition",
                    F.col("_e.ci").alias("ci"),
                    F.col("_e.bb").alias("bb"),
                )
                .agg(F.sum("_n").alias("cnt"))
            )
        stat_agg = norm_frames[0]
        for f_ in norm_frames[1:]:
            stat_agg = stat_agg.unionByName(f_)

    # ---- group checks: shared shuffle on the group key ----
    group_fail_structs: list[Column] = []
    group_check_cols: set[str] = set()
    # windows used by monotonic checks, for exchange-sharing rewrites.
    # maps (group, order) -> ts column: the ts rides the sort as the
    # final tiebreak so rows with DUPLICATE order keys (a planted
    # anomaly) have a DETERMINISTIC lag/lead neighborhood — without it
    # the tie order is shuffle-arrival order and the regression count
    # can differ between runs/engines.  Semantics: monotone iff SOME
    # ordering of tied rows makes ts monotone (a regression between
    # tied rows is the uniqueness check's finding, not this one's).
    mono_windows = {
        (c.params["group"], c.params["order"]): c.params["ts"]
        for c in group_checks
        if c.params["op"] == "monotonic"
    }
    # segment_size mode: (group, order) -> the segment expression that
    # joins the window's partition key (see docstring).  Only integral
    # order keys segment — floor(o / S) must be exact and NULL-safe.
    seg_windows: dict[tuple[str, str], Column] = {}
    segment_size = _resolve_segment_size(df, checks, segment_size)
    if segment_size is not None:
        for g_o in mono_windows:
            if dtypes.get(g_o[1]) in INTEGRAL_TYPES:
                # NULL order keys keep a NULL segment: window hash
                # partitioning groups NULLs together and NULL sorts
                # first in the boundary branch's sort_array — exactly
                # the unsegmented NULLS FIRST order.  (A numeric
                # sentinel would collide with floor(o/S) of negative
                # keys.)
                seg_windows[g_o] = F.floor(
                    F.col(g_o[1]) / F.lit(int(segment_size))
                ).cast("long")

    def _win_parts(g: str, o: str) -> list[Column]:
        segc = seg_windows.get((g, o))
        return [F.col(g)] if segc is None else [F.col(g), segc]

    fail_structs = group_fail_structs
    for c in group_checks:
        p = c.params
        if p["op"] == "unique":
            group_check_cols.update(p["cols"])
        elif p["op"] == "monotonic":
            group_check_cols.update((p["ts"], p["group"], p["order"]))
        elif p["op"] == "no_consecutive":
            group_check_cols.update((p["col"], p["group"], p["order"]))
        if p["op"] == "unique":
            if len(p["cols"]) == 2 and tuple(p["cols"]) in mono_windows:
                # a monotonic check already pays for
                # Exchange(g) + Sort(g, o): detect duplicate (g, o)
                # keys as lag/lead equality on o over the SAME window
                # spec, so Spark plans both in one Window operator —
                # one shuffle instead of two.  (NULL order values are
                # not flagged here; keys with NULLs take the generic
                # count-window path below.)
                g, o = p["cols"]
                # duplicate keys share a segment (same o => same
                # floor(o/S)), so the fused rewrite survives
                # segmentation unchanged
                w = Window.partitionBy(*_win_parts(g, o)).orderBy(
                    o, mono_windows[(g, o)]
                )
                oc = F.col(o)
                dup = (oc == F.lag(oc).over(w)) | (oc == F.lead(oc).over(w))
                detail = F.concat(
                    F.lit("duplicate key ("),
                    F.concat_ws(",", F.col(g).cast("string"), oc.cast("string")),
                    F.lit(")"),
                )
            else:
                w = Window.partitionBy(*[F.col(x) for x in p["cols"]])
                n = F.count(F.lit(1)).over(w)
                dup = n > 1
                detail = F.concat(
                    F.lit("duplicate key ("),
                    F.concat_ws(",", *[F.col(x).cast("string") for x in p["cols"]]),
                    F.lit(") x"),
                    n.cast("string"),
                )
            fail_structs.append(
                F.when(
                    dup,
                    F.struct(
                        F.lit(c.name).alias("check_name"), detail.alias("detail")
                    ),
                )
            )
        elif p["op"] == "monotonic":
            # ts tiebreak: deterministic neighborhoods for duplicate
            # order keys (see mono_windows note above)
            w = Window.partitionBy(
                *_win_parts(p["group"], p["order"])
            ).orderBy(p["order"], p["ts"])
            prev = F.lag(F.col(p["ts"])).over(w)
            detail = F.concat(
                F.lit("ts regression: "),
                F.col(p["ts"]).cast("string"),
                F.lit(" < "),
                prev.cast("string"),
            )
            fail_structs.append(
                F.when(
                    prev.isNotNull() & (F.col(p["ts"]) < prev),
                    F.struct(
                        F.lit(c.name).alias("check_name"), detail.alias("detail")
                    ),
                )
            )
        elif p["op"] == "no_consecutive":
            # unsegmented whole-group window (boundary pairs must stay
            # adjacent); shares the monotonic check's sort — incl. its
            # ts tiebreak — when one exists on the same (group, order)
            tie = mono_windows.get((p["group"], p["order"]))
            order_cols = [p["order"], tie] if tie else [p["order"]]
            w = Window.partitionBy(F.col(p["group"])).orderBy(*order_cols)
            prevv = F.lag(F.col(p["col"])).over(w)
            detail = F.concat(
                F.lit("consecutive "),
                F.col(p["col"]).cast("string"),
                F.lit(" at "),
                F.col(p["order"]).cast("string"),
            )
            fail_structs.append(
                F.when(
                    prevv.isNotNull() & (F.col(p["col"]) == prevv),
                    F.struct(
                        F.lit(c.name).alias("check_name"), detail.alias("detail")
                    ),
                )
            )
        else:  # pragma: no cover
            raise ValueError(f"unknown group op {p['op']}")

    def _to_viol(
        frame: DataFrame, structs: list[Column], part_expr: Column
    ) -> DataFrame:
        arr = F.array_compact(F.array(*structs))
        # key serialization (to_json) runs AFTER the violation filter,
        # so only the tiny failing fraction pays for it
        return (
            frame.select(part_expr, *[F.col(k) for k in keys], arr.alias("_f"))
            .filter(F.size("_f") > 0)
            .select("partition", key_expr, F.explode("_f").alias("_e"))
            .select(
                "partition",
                "key",
                F.col("_e.check_name").alias("check_name"),
                F.col("_e.detail").alias("detail"),
            )
        )

    gviol = None
    if group_fail_structs:
        # group checks force an Exchange+Sort on the group key; feed
        # the Window operator a SLIM projection (group/order/ts/key/
        # partition columns only) so wide payload columns — `text` is
        # most of every row here — never enter the shuffle.  At 10^12
        # rows this is the difference between shuffling key bytes and
        # shuffling the whole table.
        slim_cols = sorted(group_check_cols | set(keys))
        phys = isinstance(partition_col, str) and partition_col not in slim_cols
        if phys:
            # physical partition column: it must ride the shuffle
            slim = df.withColumn("partition", part).select(
                "partition", *[F.col(c) for c in slim_cols]
            )
            gpart = F.col("partition")
        else:
            # derivable partition (None / a check column / a Column
            # expression over check+key columns — e.g. the Iceberg
            # bucket transform pmod(xxhash64(conv_id), N)): evaluate it
            # ABOVE the window, so the pass's one Exchange+Sort carries
            # only the check columns and partition bytes never enter
            # the shuffle
            slim = df.select(*[F.col(c) for c in slim_cols])
            gpart = part
        gviol = _to_viol(slim, group_fail_structs, gpart.alias("partition"))
        # segment_size mode: cross-segment adjacency reconciliation —
        # one extra branch of the SAME plan per segmented check (see
        # _segment_boundary_viol); unioned before the persist so both
        # branches materialize in one action and share the exchange
        for c in group_checks:
            p = c.params
            if p["op"] == "monotonic" and (p["group"], p["order"]) in seg_windows:
                gviol = gviol.unionByName(
                    _segment_boundary_viol(
                        slim,
                        p,
                        seg_windows[(p["group"], p["order"])],
                        c.name,
                        keys,
                        gpart,
                        phys,
                    )
                )

    # ONE materialized violation frame and ONE collect.  The row-check
    # rows (collapsed per (key, detail), with their multiplicity
    # ``cnt``) and the group-check rows (``cnt`` 1) are unioned and
    # materialized once; the verdict-grain aggregation over it and the
    # stat bin counts ride one collect, split on the driver by whether
    # a row carries a stat bucket.  Each further action or
    # materialization would be one more job of parallelism-independent
    # submit/AQE time (NOTES_r2.md), and all results are tiny: the
    # failing fraction + n_partitions x buckets counter rows.
    viol_src = None
    if fused is not None:
        viol_src = fused.select("partition", "key", "check_name", "detail", "cnt")
    if gviol is not None:
        g_src = gviol.withColumn("cnt", F.lit(1).cast("long"))
        viol_src = g_src if viol_src is None else viol_src.unionByName(g_src)
    collect_frames: list[DataFrame] = []
    if viol_src is not None:
        # lazy localCheckpoint, not a bare persist: the frame is
        # consumed twice (the verdict aggregation below + the returned
        # violations frame), and the collect inside THIS call is its
        # materializing action.  A persist here leaked one CacheManager
        # entry per run_checks call for the session lifetime (round-3
        # fix).
        viol_src = viol_src.localCheckpoint(eager=False)
        collect_frames.append(
            viol_src.groupBy("partition", "check_name").agg(
                F.sum("cnt").alias("violation_count"),
                F.slice(F.collect_list("detail"), 1, SAMPLE_VIOLATIONS).alias(
                    "sample_violations"
                ),
            )
        )
    if stat_agg is not None:
        collect_frames.append(stat_agg)
    collected = []
    if collect_frames:
        both = collect_frames[0]
        for f_ in collect_frames[1:]:
            both = both.unionByName(f_, allowMissingColumns=True)
        collected = [r.asDict() for r in both.collect()]
    stat_rows = [r for r in collected if r.get("ci") is not None]
    agg_rows = [r for r in collected if r.get("ci") is None]

    if viol_src is not None:
        # restore per-row multiplicity: rows sharing (key, detail) were
        # collapsed by the fused row-check aggregation
        viol = viol_src.select(
            "partition",
            "key",
            "check_name",
            "detail",
            F.explode(F.sequence(F.lit(1), F.col("cnt"))).alias("_i"),
        ).drop("_i")
    else:
        viol = lit_df(
            spark, [], "partition string, key string, check_name string, detail string"
        )

    # ---- verdict assembly (driver-side) ----
    # Every verdict input is bounded — (partition x check) violation
    # aggregates and (partition x check x bucket) stat bin counts — so
    # the verdict math runs in plain Python on ONE collect each and the
    # result is re-embedded as a JVM-literal frame.  The previous
    # formulation (crossJoin grid + per-check join/window frames,
    # SURVEY A14's chi² included) was measured as ~26s of
    # parallelism-independent driver/tiny-stage time per run — the
    # single largest non-scaling term in the 4-vs-16-core flagship.
    all_check_names = [c.name for c in row_checks + group_checks]
    verdict_rows: list[tuple] = []
    if partitions is not None:
        part_values = [None if p is None else str(p) for p in partitions]
    else:
        # cardinality guard: limit(N+1) bounds what can ever reach the
        # driver, so a mistaken partition_col fails with a clear error
        # after pulling at most N+1 slim rows, never an OOM
        part_rows = (
            df.select(part).distinct().limit(MAX_VERDICT_PARTITIONS + 1).collect()
        )
        if len(part_rows) > MAX_VERDICT_PARTITIONS:
            raise ValueError(
                f"partition_col {partition_col!r} has more than "
                f"{MAX_VERDICT_PARTITIONS} distinct values; per-partition "
                "verdicts are assembled driver-side, so pass a coarser "
                "partition expression (e.g. a bucket transform of the key) "
                "or the expected values via partitions=[...]"
            )
        part_values = [r[0] for r in part_rows]
    if all_check_names:
        vmap = {(r["partition"], r["check_name"]): r for r in agg_rows}
        for prt in part_values:
            for name in all_check_names:
                r = vmap.get((prt, name))
                vc = int(r["violation_count"]) if r is not None else 0
                sv = list(r["sample_violations"]) if r is not None else []
                verdict_rows.append((prt, name, vc == 0, vc, None, sv))

    # ---- stat verdicts from the normalized bin-count rows ----
    if stat_checks:
        counts: dict[str, dict[str, dict[int, int]]] = {}
        for r in stat_rows:
            cname = stat_checks[int(r["ci"])].name
            counts.setdefault(cname, {}).setdefault(r["partition"], {})[
                int(r["bb"])
            ] = int(r["cnt"])
        for c in stat_checks:
            verdict_rows.extend(_stat_verdict_rows(counts.get(c.name, {}), c))

    if not verdict_rows and not (all_check_names or stat_checks):
        raise ValueError("no checks supplied")
    verdict_rows.sort(key=lambda t: (partition_order(t[0]), t[1]))
    return verdict_rows, viol


def _segment_boundary_viol(
    slim: DataFrame,
    p: dict,
    seg: Column,
    check_name: str,
    keys: list[str],
    part_out: Column,
    physical: bool,
) -> DataFrame:
    """Cross-segment reconciliation for ``segment_size`` mode: a
    monotonic window partitioned by ``(group, segment)`` checks only
    within-segment adjacency; the pair spanning each boundary between
    consecutive non-empty segments is checked here.

    Shape: each segment's boundary evidence is just its FIRST edge row
    (the lag neighbor's successor: order-min by ``(o, ts)``, carrying
    the violating row's key/partition context) and its last row's ts
    (order-max by ``(o, ts)``) — both plain ``min/max(struct)``
    aggregates, so this branch is ONE column-pruned scan + a hash
    aggregation with map-side partial combine: no sort, and the
    shuffle carries at most one row per (group, segment) per map task
    (<= rows/segment_size globally).  A windowed formulation was
    rejected measured: it re-sorts and re-shuffles the full slim
    input (rank-limit pushdown can't fire next to the full-frame
    ``last()`` it needs).  Each group's segments then collapse to one
    sorted array and ``zip_with`` replays the adjacent-pair ts
    comparison.  Ties on exact ``(o, ts)`` pick an arbitrary edge row
    — the same nondeterminism class as the main window's tie order,
    and the pair VERDICT depends only on (o, ts) so it is stable.
    Output schema matches the violation side-table."""
    g, o, ts = p["group"], p["order"], p["ts"]
    extra = [k for k in keys if k not in (g, o, ts)]
    if physical:
        extra = ["partition"] + extra
    # (o, ts) lead the struct so min/max rank exactly like the window
    # sort; trailing fields carry the edge row's key/partition context
    edge = F.struct(
        F.col(o).alias(o),
        F.col(ts).alias(ts),
        *[F.col(k).alias(k) for k in extra],
    )
    per_seg = slim.groupBy(F.col(g), seg.alias("_seg")).agg(
        F.min(edge).alias("_f"),
        F.max(F.struct(F.col(o).alias("o"), F.col(ts).alias("t")))["t"].alias(
            "_lts"
        ),
    )
    per_group = per_seg.groupBy(g).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("_seg").alias("s"),
                    F.col("_f").alias("f"),
                    F.col("_lts").alias("lts"),
                )
            )
        ).alias("_a")
    )
    # adjacent (previous segment's last, next segment's first) pairs
    # whose ts decreases; slice+zip_with yield [] for single-segment
    # groups, so the common case explodes nothing
    pairs = F.expr(
        "filter(zip_with(slice(_a, 1, size(_a) - 1), slice(_a, 2, size(_a) - 1),"
        " (p, n) -> struct(n.f AS f, p.lts AS lts)),"
        f" x -> x.f.`{ts}` < x.lts)"
    )
    ctx = per_group.select(F.col(g), F.explode(pairs).alias("_p")).select(
        F.col(g),
        F.col("_p")["lts"].cast("string").alias("_prev_ts"),
        "_p.f.*",
    )
    key_expr = (
        F.to_json(F.struct(*[F.col(k) for k in keys])) if keys else F.lit("")
    ).alias("key")
    detail = F.concat(
        F.lit("ts regression: "),
        F.col(ts).cast("string"),
        F.lit(" < "),
        F.col("_prev_ts"),
    )
    return ctx.select(
        F.col("partition").alias("partition") if physical else part_out,
        key_expr,
        F.lit(check_name).alias("check_name"),
        detail.alias("detail"),
    )


def _round_half_up(x: float, nd: int) -> float:
    """Spark's ROUND on doubles: decimal HALF_UP on the double's
    shortest decimal representation (Python's round() is HALF_EVEN and
    would diverge at .5 boundaries)."""
    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP)
    )


def _stat_verdict_rows(
    per_part: dict[str, dict[int, int]], c: Check
) -> list[tuple]:
    """Finish one stat check in plain Python from its collected
    (partition -> bucket -> count) bin counts — every input is bounded
    by n_partitions x n_buckets, so the chi²/PSI/KS math is driver
    arithmetic (SURVEY A14), not a Spark plan.  Partitions with no
    in-scope rows emit no verdict row (as before)."""
    p = c.params
    rows: list[tuple] = []
    if p["op"] == "benford":
        digit = min(max(int(p["digit"]), 1), 4)
        expected = EXPECTED[digit]
        critical = CRITICAL_1 if digit == 1 else CRITICAL_N
        buckets = [i for i in range(10) if not (i == 0 and digit == 1)]
        for prt, bc in per_part.items():
            tot = sum(bc.values())
            if not tot:
                continue
            chi = sum(
                (_round_half_up(bc.get(b, 0) / tot * 100, 1) - expected[b]) ** 2
                / expected[b]
                for b in buckets
            )
            metric = _round_half_up(chi, 3)
            rows.append((prt, c.name, metric <= critical, 0, metric, []))
        return rows

    bins = int(p["bins"])
    baseline = {int(k): float(v) for k, v in p["baseline"].items()}
    threshold = float(p["threshold"])
    eps = 1e-6
    for prt, bc in per_part.items():
        tot = sum(bc.values())
        if not tot:
            continue
        fracs = [bc.get(b, 0) / tot for b in range(bins)]
        base = [baseline.get(b, 0.0) for b in range(bins)]
        if p["op"] == "psi":
            metric = _round_half_up(
                sum(
                    (max(f, eps) - max(bf, eps)) * math.log(max(f, eps) / max(bf, eps))
                    for f, bf in zip(fracs, base)
                ),
                6,
            )
        elif p["op"] == "js":
            js = 0.0
            for f, bf in zip(fracs, base):
                fa, fb = max(f, eps), max(bf, eps)
                m = 0.5 * (fa + fb)
                js += 0.5 * fa * math.log(fa / m) + 0.5 * fb * math.log(fb / m)
            metric = _round_half_up(js, 6)
        elif p["op"] == "ks":
            cdf_a = cdf_b = 0.0
            worst = 0.0
            for f, bf in zip(fracs, base):
                cdf_a += f
                cdf_b += bf
                worst = max(worst, abs(cdf_a - cdf_b))
            metric = _round_half_up(worst, 6)
        else:  # pragma: no cover
            raise ValueError(f"unknown stat op {p['op']}")
        rows.append((prt, c.name, metric <= threshold, 0, metric, []))
    return rows
