"""Incremental / mergeable profiling over partitioned tables.

At 10^12 rows a whole-table re-profile per ingest batch is not viable:
the daily ingest touches a handful of Iceberg partitions while the
profile must describe the WHOLE table.  This module profiles each
partition ONCE into a compact, MERGEABLE per-(partition, attribute)
state row, checkpoints the states through the one checkpoint protocol
it shares with the validation layer (operators/manifest.py:
hive-partitioned ``states/``, orphan sweep on resume, crash-consistent
under SIGKILL), and folds any subset of states into a table-level
profile without touching the data again.
Re-profiling after an ingest costs one pass over the NEW partitions
plus a merge over (n_partitions x n_attributes) tiny state rows.

Reference analogue: none — the reference re-runs ``Profile()`` over the
full file every time (/root/reference/Profile.ecl:189) and its only
incremental hook is profile-vs-profile diffing via
NormalizeProfileResults (/root/reference/NormalizeProfileResults.ecl:25).
The per-partition states here give that diff at partition grain for
free, and additionally make the whole-table profile incremental.

Every state component merges with an associative+commutative Spark
built-in aggregate (no Python in either pass):

====================================  =================================
state component                       merge operator
====================================  =================================
rec_count / fill_count / len_sum      ``sum``
min_length / max_length /             ``min`` / ``max`` / ``min``
min_len_nonzero
card_sketch (DataSketches HLL)        ``hll_union_agg`` ->
                                      ``hll_sketch_estimate``
type_flags (best-type lattice fold,   ``bit_and``  (AS_IS = 0
Profile.ecl:967-992)                  annihilates, so the fold is
                                      order- and grouping-independent)
has_unicode                           ``max``
num_n / num_sum / num_sumsq /         ``sum`` x3 / ``min`` / ``max``
num_min / num_max                     -> exact mean + POPULATION
                                      std-dev (Profile.ecl:1083-1086)
q_sketch (DataSketches KLL, opt-in    ``kll_merge_agg_double`` ->
via ``quantile_delta`` = KLL ``k``)   ``kll_sketch_get_quantile_double``
====================================  =================================

The state rows are the approx profile's pass-1 fold: the same melt
(``profile.melt_slim``) and aggregate (``profile.fold_aggs``), grouped
by (partition, attribute) instead of by attribute, and
:func:`merge_states` finishes the merged fold with the same
``profile.finish_fold``, so the two paths cannot drift.  Timestamp and
date values are hashed as native values, never formatted per row.
Stores written before that hashed their formatted strings, a different
hash domain that would double-count in a union; they carry no
``state_format`` column, and a resume refuses them, as it refuses rows
of any other ``state_format`` value.

Exactness: every merged statistic except ``cardinality`` and the
quartiles is EXACT and identical to a whole-table pass
(grouping-independence is what the merge-operator table above buys);
``cardinality`` is a DataSketches HLL estimate (lgConfigK 14, ~0.8%
RSE) — the same sketch and documented deviation as the approx profile
mode (``functions/sketches.py``), but unlike approx mode the sketch
itself is stored, so later partitions union in WITHOUT rescans.  The
quartiles carry KLL's rank error at ``k = quantile_delta``
(single-sided normalized rank error ~2.6% at 99% confidence for
k = 100, DataSketches ``getNormalizedRankError(k, false)``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..plans.schema_walk import walk_schema
from .manifest import WriteBatch, _read_results, _run_checkpointed
from .profile import ProfileParams, _attr_meta, finish_fold, fold_aggs, melt_slim

_QUARTILES = (
    ("numeric_lower_quartile", 0.25),
    ("numeric_median", 0.5),
    ("numeric_upper_quartile", 0.75),
)
# digest_drift reads each side's CDF off its quantiles at ranks j/G
_KS_GRID = 200

# DataSketches KLL k range (kll_sketch_agg_double rejects anything else)
_KLL_K_MIN, _KLL_K_MAX = 8, 65535
# serialized-sketch magic of the t-digest the KLL sketch replaced
_TDIGEST_MAGIC = b"TD1"

# one state row per (partition, attribute): the profile fold
# (profile.fold_aggs) and the format marker; profile_state appends
# ``q_sketch binary`` when a quantile sketch is requested
STATE_SCHEMA = (
    "partition string, attribute string, kind string, "
    "given_attribute_type string, ordinal int, rec_count long, "
    "fill_count long, min_length int, max_length int, len_sum long, "
    "min_len_nonzero int, has_unicode int, type_flags int, "
    "card_sketch binary, num_n long, num_sum double, num_sumsq double, "
    "num_min double, num_max double, state_format int"
)
# state_format of every row profile_state writes: timestamp/date
# sketches hash the native value.  Stores without the column hashed
# their formatted strings, and are refused on resume.
_STATE_FORMAT = 2


def _state_schema(k: int | None) -> str:
    return STATE_SCHEMA + ("" if k is None else ", q_sketch binary")


def _kll_k(quantile_delta: float) -> int:
    """``quantile_delta`` as the KLL ``k``: an integral value in
    DataSketches' range, never silently truncated."""
    k = float(quantile_delta)
    if not (k.is_integer() and _KLL_K_MIN <= k <= _KLL_K_MAX):
        raise ValueError(
            "quantile_delta is the KLL sketch k and must be an integer in "
            f"[{_KLL_K_MIN}, {_KLL_K_MAX}], got {quantile_delta!r}"
        )
    return int(k)


def profile_state(
    df: DataFrame,
    partition_col: str | Column | None = None,
    field_list: list[str] | None = None,
    allow_zero: bool = False,
    quantile_delta: float | None = None,
) -> DataFrame:
    """Per-(partition, attribute) mergeable profile state rows.

    One column-pruned scan, one bounded aggregation — the per-partition
    unit of work of :func:`profile_incremental`.  ``partition_col``
    defaults to a whole-input constant.

    ``quantile_delta`` opts into a mergeable DataSketches KLL quantile
    sketch of the numeric reading ``v`` per state row (column
    ``q_sketch``, KLL ``k = quantile_delta``), one more column of the
    same aggregation.  Like the HLL cardinality sketch this is the
    documented approx-mode deviation: the one-shot profile's exact
    positional quartiles cannot merge, the sketch can.  Rows with no
    numeric reading (KLL skips NULL and NaN) carry a NULL sketch."""
    attrs, _children = walk_schema(df.schema, field_list=field_list)
    pname = partition_col if isinstance(partition_col, str) else None
    if pname is not None:
        attrs = [a for a in attrs if a.name != pname]
    if not attrs:
        raise ValueError("no profilable attributes")
    k = None if quantile_delta is None else _kll_k(quantile_delta)
    part = (
        F.lit("__all__")
        if partition_col is None
        else (
            F.col(partition_col)
            if isinstance(partition_col, str)
            else partition_col
        )
    ).cast("string")

    # the fold needs no pattern sample
    params = ProfileParams(allow_zero=allow_zero, max_patterns=0)
    sketch_cols = []
    if k is not None:
        sk = F.kll_sketch_agg_double("v", k)
        # an empty sketch (8 bytes) is not a valid quantile input, and
        # count("v") counts NaN while KLL skips it — gate on the
        # sketch's own n
        sketch_cols.append(
            F.when(F.kll_sketch_get_n_double(sk) > 0, sk).alias("q_sketch")
        )
    state = (
        melt_slim(df, attrs, params, part)
        .groupBy(F.col("_part").alias("partition"), "attribute")
        .agg(*fold_aggs(), *sketch_cols)
    )
    # attribute metadata from a literal map on the aggregated rows: a
    # driver-built frame joined in would cost a broadcast job per call
    meta = _attr_meta(attrs, "", "")
    fixed = {
        "kind": meta["_kind"],
        "given_attribute_type": meta["given_attribute_type"],
        "ordinal": meta["sort_value"].cast("int"),
        "state_format": F.lit(_STATE_FORMAT),
    }
    return state.select(
        *[
            fixed[c].alias(c) if c in fixed else c
            for c in StructType.fromDDL(_state_schema(k)).names
        ]
    )


def merge_states(states: DataFrame) -> DataFrame:
    """Fold state rows (any partition subset, any number of ingest
    batches) into one profile summary row per attribute.

    Pure second-level aggregation over (n_partitions x n_attributes)
    tiny rows — no data rescans.  All output statistics are exact
    except ``cardinality`` (HLL union estimate) and — when the states
    carry a ``q_sketch`` column — the KLL quartiles
    (``numeric_lower_quartile`` / ``numeric_median`` /
    ``numeric_upper_quartile``, same naming as the one-shot approx
    profile), within KLL's rank error at ``k = quantile_delta``.

    The quartiles are not reproducible across sessions: DataSketches
    6.2.0 draws KLL compaction coin flips from ``KllSketch.random``, one
    unseeded JVM-wide ``java.util.Random`` that Spark's SQL surface
    cannot seed, so the same states may merge to quartiles that differ
    between sessions (or after other sketch work in one session) within
    that rank error.  Every other statistic is deterministic."""
    has_q = "q_sketch" in states.columns
    sketch_cols = (
        [F.kll_merge_agg_double("q_sketch").alias("q_sketch")] if has_q else []
    )
    merge = {
        F.first: ("kind", "given_attribute_type", "ordinal"),
        F.sum: ("rec_count", "fill_count", "len_sum", "num_n", "num_sum", "num_sumsq"),
        F.min: ("min_length", "min_len_nonzero", "num_min"),
        F.max: ("max_length", "has_unicode", "num_max"),
        F.bit_and: ("type_flags",),
    }
    merged = states.groupBy("attribute").agg(
        *[op(c).alias(c) for op, cols in merge.items() for c in cols],
        F.hll_union_agg(F.col("card_sketch"), True).alias("card_sketch"),
        *sketch_cols,
    )
    # statistics from the merged folds, keyed on each row's own kind
    # column, so no job reads the states' metadata first
    stats = finish_fold(F.col("kind"), F.col("given_attribute_type"))
    del stats["is_numeric"]
    quartile_cols: list = []
    if has_q:
        merged = merged.withColumn(
            "_qs",
            F.when(
                F.kll_sketch_get_n_double("q_sketch") > 0,
                F.kll_sketch_get_quantile_double(
                    "q_sketch", F.array(*[F.lit(q) for _, q in _QUARTILES])
                ),
            ),
        )
        quartile_cols = [
            F.round(F.col("_qs")[i], 4).alias(name)
            for i, (name, _) in enumerate(_QUARTILES)
        ]
    return (
        merged.select(
            "attribute",
            "given_attribute_type",
            *[e.alias(c) for c, e in stats.items()],
            *quartile_cols,
            "ordinal",
        )
        # one partition sorted in place: the merged frame is one row
        # per attribute, and a global orderBy would add a
        # range-partition sampling job and a shuffle to every read
        .coalesce(1)
        .sortWithinPartitions("ordinal")
        .drop("ordinal")
    )


def digest_drift(base_states: DataFrame, cur_states: DataFrame) -> DataFrame:
    """Per-attribute KS distance between two state stores' merged KLL
    sketches: distribution drift computed from stored profile states
    ALONE — no rescan of either dataset, unlike the value-histogram
    drift in operators/constraints.py (PSI/KS/JS), which needs a pass
    over the current data.  The sup is taken over both sides' quantiles
    at a fixed 1/200 rank grid, so the result is within a few grid
    steps plus both sketches' rank error of the exact KS — the
    10^12-row drift screen: run it per ingest from the checkpointed
    states, rescan only attributes it flags.  ``ks`` is NULL for an
    attribute with no numeric values on either side."""
    sides = {"base_states": base_states, "cur_states": cur_states}
    merged = []
    for name, s in sides.items():
        if "q_sketch" not in s.columns:
            raise ValueError(
                f"{name} has no q_sketch column; build states with "
                "profile_state(..., quantile_delta=...)"
            )
        merged.append(
            s.where(F.col("q_sketch").isNotNull())
            .groupBy("attribute")
            .agg(F.kll_merge_agg_double("q_sketch").alias(name))
        )
    # kll_sketch_get_rank_double only takes literal probe points, so
    # each side's CDF is read off its own quantile grid q_j = Q(j/G),
    # j = 0..G: linear between grid points (the sketch's weighted items
    # are steps of up to 2^levels/n; interpolating keeps two sketches
    # of the same data from reading those steps as drift), 0 below the
    # minimum and 1 from the maximum on
    grid = F.array(*[F.lit(j / _KS_GRID) for j in range(_KS_GRID + 1)])
    quants = [F.kll_sketch_get_quantile_double(name, grid) for name in sides]

    def cdf(q: Column, p: Column) -> Column:
        c = F.size(F.filter(q, lambda y: y <= p))
        lo, hi = F.try_element_at(q, c), F.try_element_at(q, c + 1)
        return (
            F.when(c == 0, F.lit(0.0))
            .when(c > _KS_GRID, F.lit(1.0))
            # NaN only from infinite grid points: read as the lower one
            .otherwise(
                (c - 1 + F.nanvl((p - lo) / (hi - lo), F.lit(0.0))) / _KS_GRID
            )
        )

    ks = F.array_max(
        F.transform(
            F.concat(*quants),
            lambda p: F.abs(cdf(quants[0], p) - cdf(quants[1], p)),
        )
    )
    both = F.kll_sketch_get_n_double("base_states") > 0
    both &= F.kll_sketch_get_n_double("cur_states") > 0
    return (
        merged[0]
        .join(merged[1], "attribute", "full")
        .select("attribute", F.when(both, ks).alias("ks"))
    )


def _check_store(spark: SparkSession, state_path: str, k: int | None) -> None:
    """Refuse to resume a state store written in another format or with
    other sketch settings: a store without the ``state_format`` marker
    (its timestamp/date sketches hash formatted strings, so merging
    them with native-value sketches would double-count) or with rows of
    another ``state_format`` than ``_STATE_FORMAT``, ``q_sketch``
    presence, the KLL ``k``, and the retired t-digest format."""
    # inferred schema on purpose: the guard needs the stored columns
    stored_df = spark.read.parquet(f"{state_path}/states")
    if "state_format" not in stored_df.columns:
        raise ValueError(
            f"states under {state_path!r} have no state_format column: "
            "they were written by an older version whose timestamp/date "
            "cardinality sketches hash formatted strings; rebuild with a "
            "fresh state_path"
        )
    other = (
        stored_df.where(~F.col("state_format").eqNullSafe(_STATE_FORMAT))
        .select("state_format")
        .limit(1)
        .collect()
    )
    if other:
        raise ValueError(
            f"states under {state_path!r} have state_format "
            f"{other[0][0]}, not {_STATE_FORMAT}: rebuild with a fresh "
            "state_path"
        )
    if ("q_sketch" in stored_df.columns) != (k is not None):
        raise ValueError(
            "quantile_delta mismatch with existing states under "
            f"{state_path!r}: stored rows "
            f"{'have' if 'q_sketch' in stored_df.columns else 'lack'} "
            "q_sketch; rerun with the original setting or a fresh "
            "state_path"
        )
    if k is None:
        return
    # pin the VALUE too: sketches at different k merge without error
    # but mix rank-error contracts silently.  k rides every serialized
    # KLL header, so one stored sketch answers for the whole store
    # (profile_state writes a single k per run, and this guard holds
    # inductively).
    row = stored_df.where(F.col("q_sketch").isNotNull()).select("q_sketch").first()
    if row is None:
        return
    stored = bytes(row[0])
    if stored.startswith(_TDIGEST_MAGIC):
        raise ValueError(
            f"q_sketch under {state_path!r} is a t-digest store; rebuild "
            "with a fresh state_path"
        )
    # KLL preamble: k is the little-endian uint16 at bytes 4-5
    stored_k = int.from_bytes(stored[4:6], "little")
    if stored_k != k:
        raise ValueError(
            "quantile_delta mismatch with existing states "
            f"under {state_path!r}: stored sketches use "
            f"delta={float(stored_k)}, run requested "
            f"{float(k)}; rerun with the "
            "original setting or a fresh state_path"
        )


def profile_incremental(
    df: DataFrame,
    partition_col: str,
    state_path: str,
    field_list: list[str] | None = None,
    allow_zero: bool = False,
    batch_size: int = 8,
    snapshot_id: str = "",
    quantile_delta: float | None = None,
) -> DataFrame:
    """Checkpointed incremental profile over a partitioned table.

    Profiles only partitions without a COMPLETE manifest entry under
    ``state_path``, appending their state rows to ``states/``
    hive-partitioned by ``partition``, then returns the merge of ALL
    states — so a run over a grown table costs one pass over the NEW
    partitions plus a tiny merge.  Checkpointing is the protocol of
    operators/manifest.py, shared with ``run_with_manifest``: a crashed
    run loses at most one batch, and the resume deletes the state dirs
    of partitions the crash left uncommitted, so every partition's
    state is merged exactly once.  A store in the older flat layout is
    refused (after the sketch-setting checks below).

    ``quantile_delta`` must match the store: mixing state rows with
    and without ``q_sketch`` would silently drop quantile coverage for
    the sketchless partitions, so a mismatch against existing states
    fails fast.  A store written by the retired t-digest sketch
    (``q_sketch`` starting ``TD1``) is refused, never merged.  The KLL
    quartiles of a rerun over the same store may differ within KLL's
    rank error (see :func:`merge_states`); every other statistic is
    deterministic."""
    k = None if quantile_delta is None else _kll_k(quantile_delta)
    spark = df.sparkSession
    states = f"{state_path}/states"

    def write_batch(batch_df: DataFrame, batch: list) -> dict:
        profile_state(
            batch_df,
            partition_col,
            field_list=field_list,
            allow_zero=allow_zero,
            quantile_delta=quantile_delta,
        ).write.mode("append").partitionBy("partition").parquet(states)
        return {}

    def start(done: set, todo: dict) -> WriteBatch:
        if done:
            _check_store(spark, state_path, k)
        return write_batch

    n_attrs = len(
        [
            a
            for a in walk_schema(df.schema, field_list=field_list)[0]
            if a.name != partition_col
        ]
    )
    _run_checkpointed(
        df, partition_col, state_path, batch_size, snapshot_id, n_attrs, start
    )
    return merge_states(_read_results(spark, states, _state_schema(k)))
