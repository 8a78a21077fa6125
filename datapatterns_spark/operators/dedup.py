"""Exact-hash deduplication operators.

Not present in the reference (DataPatterns profiles, it never dedups);
designed Spark-first:

* :func:`exact_duplicates` / :func:`dedup_exact` — hash-groupBy (skew-
  immune map-side partial agg; never a per-key window) + join-back;
* :func:`incremental_exact_dedup` — classify a new batch against a
  persistent fingerprint store without rescanning prior text;
* :func:`conversation_dedup` — whole-conversation exact dedup by
  commutative fingerprint folds (hot-conversation safe).

All shuffles key on a 64-bit fingerprint, never on raw document text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------
def normalized_text(col: Column) -> Column:
    """Canonical text form for exact duplicate detection: lowercase,
    punctuation stripped, whitespace collapsed."""
    c = F.lower(F.coalesce(col, F.lit("")))
    c = F.regexp_replace(c, r"[\p{Punct}]", " ")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def exact_duplicates(
    df: DataFrame, text_col: str, id_col: str, normalize: bool = True
) -> DataFrame:
    """Rows belonging to a duplicated (normalized) text, with the
    group's canonical (min-id) representative attached.

    Shape chosen for skew: a ``Window.partitionBy(key)`` would gather
    every copy of a hot duplicate (boilerplate text repeated 10^7+
    times in a real corpus) into ONE task.  ``groupBy(key)`` is
    skew-immune (map-side partial aggregation collapses the hot key
    per input partition), and the join back runs on slim (id, key)
    rows with AQE skew-join handling; the aggregate side keeps only
    duplicated keys, so at typical duplication rates it broadcasts at
    runtime."""
    key = normalized_text(F.col(text_col)) if normalize else F.col(text_col)
    slim = df.select(F.col(id_col), F.xxhash64(key).alias("_dup_key"))
    agg = (
        slim.groupBy("_dup_key")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min(id_col).alias("canonical_id"),
        )
        .filter(F.col("group_size") > 1)
    )
    return slim.join(agg, "_dup_key").select(id_col, "canonical_id", "group_size")


def dedup_exact(df: DataFrame, text_col: str, id_col: str, normalize: bool = True) -> DataFrame:
    """Keep one row (min id) per distinct normalized text.

    Winners come from a skew-immune ``groupBy(key).agg(min(id))`` (not
    a per-key ``row_number`` window, which would sort a hot duplicate's
    every copy in one task); the winning ROWS are then recovered with a
    semi-join on the composite ``(key, id)`` — the composite spreads a
    hot key across partitions, and the winner side carries exactly one
    row per distinct text."""
    key = normalized_text(F.col(text_col)) if normalize else F.col(text_col)
    d = df.withColumn("_dup_key", F.xxhash64(key))
    winners = (
        d.select("_dup_key", F.col(id_col))
        .groupBy("_dup_key")
        .agg(F.min(id_col).alias(id_col))
    )
    return d.join(winners, ["_dup_key", id_col], "left_semi").drop("_dup_key")


# ---------------------------------------------------------------------------
# incremental exact dedup against a fingerprint store
# ---------------------------------------------------------------------------
def exact_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """``(id, fp)`` — 64-bit fingerprint of the (normalized) text."""
    txt = F.col(text_col)
    if normalize:
        txt = normalized_text(txt)
    return df.select(
        F.col(id_col).alias("id"), F.xxhash64(txt).alias("fp")
    )


def incremental_exact_dedup(
    new_df: DataFrame,
    store: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Classify a NEW batch of documents against an existing
    fingerprint ``store`` (any frame with an ``fp`` column, or None
    for a first batch): ``(id, fp, status)`` with status in

    * ``dup_of_store`` — the text was already ingested in a prior
      batch;
    * ``dup_in_batch`` — a duplicate of another row in THIS batch
      (the minimum id is the survivor);
    * ``unique`` — first sighting; its fp belongs in the store.

    This is the production shape for continuously-ingested corpora:
    per-batch work is one slim ``groupBy(fp)`` plus one join against
    the store on the fingerprint — at 10^12 stored docs, bucket the
    store by ``fp`` so the join co-locates without a store-side
    shuffle.  The batch never rescans prior text.
    """
    fps = exact_fingerprints(new_df, text_col, id_col, normalize)
    canon = fps.groupBy("fp").agg(F.min("id").alias("_canon"))
    d = fps.join(canon, "fp")
    if store is not None:
        st = store.select("fp").distinct().withColumn("_in_store", F.lit(True))
        d = d.join(st, "fp", "left")
    else:
        d = d.withColumn("_in_store", F.lit(None).cast("boolean"))
    return d.select(
        "id",
        "fp",
        F.when(F.col("_in_store"), F.lit("dup_of_store"))
        .when(F.col("id") != F.col("_canon"), F.lit("dup_in_batch"))
        .otherwise(F.lit("unique"))
        .alias("status"),
    )

# ---------------------------------------------------------------------------
# conversation-grain dedup (the transcript payload's natural unit)
# ---------------------------------------------------------------------------
def conversation_fingerprints(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    text_col: str = "text",
    normalize: bool = False,
) -> DataFrame:
    """``(conv, n_turns, fp_xor, fp_sum)`` — a position-sensitive,
    order-independent fingerprint of each conversation's turn multiset.

    Per turn: ``xxhash64(turn_idx || ':' || text)`` (one string hash —
    the ':' delimiter keeps (1, '2x') distinct from (12, 'x')); per
    conversation: ``bit_xor`` and ``decimal(38,0)``-sum folds plus the
    turn count.  Both folds are commutative ``groupBy`` aggregates —
    map-side combinable, so a 16M-turn hot conversation collapses per
    input partition and NEVER forms one task's ``collect_list`` (the
    skew rule the whole constraint layer follows).  XOR alone cancels
    pairs of identical turns ({x,x,y} vs {y,z,z} both XOR to y); the
    sum fold breaks exactly that tie, and count pins the multiset
    size.  A cross-conversation collision needs all three to agree —
    ~2^-128 for non-adversarial data.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    if normalize:
        txt = normalized_text(txt)
    h = F.xxhash64(
        F.concat(F.col(turn_col).cast("string"), F.lit(":"), txt)
    )
    return df.groupBy(F.col(conv_col).alias("conv")).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.bit_xor(h).alias("fp_xor"),
        F.sum(h.cast("decimal(38,0)")).alias("fp_sum"),
    )


def conversation_dedup(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    text_col: str = "text",
    normalize: bool = False,
) -> DataFrame:
    """Whole-conversation exact dedup: ``(conv, canonical, keep)`` for
    every conversation whose full (turn_idx, text) multiset duplicates
    another's.  ``canonical`` is the group's minimum conv id; ``keep``
    marks it.  Same skew-safe shape as :func:`exact_duplicates` — the
    per-fingerprint group is a hash aggregation over the (tiny)
    fingerprint frame, never a window over raw turns."""
    fps = conversation_fingerprints(df, conv_col, turn_col, text_col, normalize)
    key = ["n_turns", "fp_xor", "fp_sum"]
    groups = (
        fps.groupBy(*key)
        .agg(F.min("conv").alias("canonical"), F.count(F.lit(1)).alias("n_convs"))
        .filter(F.col("n_convs") > 1)
        .drop("n_convs")
    )
    return (
        fps.join(groups, key)
        .select(
            "conv",
            "canonical",
            (F.col("conv") == F.col("canonical")).alias("keep"),
        )
    )
