"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (DataPatterns profiles, it never dedups)
— these are the pipeline capabilities mandated by the build brief,
designed Spark-first:

* :func:`exact_duplicates` / :func:`dedup_exact` — hash-groupBy (skew-
  immune map-side partial agg; never a per-key window) + join-back;
* :func:`ngram_jaccard_pairs` — exact all-pairs Jaccard over shingle
  sets via an inverted-index self-join (explode -> join on shingle ->
  count commons), with a document-frequency cap to kill the
  quadratic-blowup shingles at scale;
* :func:`minhash_lsh_pairs` — MinHash signatures (k seeded xxhash64
  min-hashes) banded into LSH buckets; candidates verified with exact
  Jaccard so the output has no false positives;
* :func:`simhash` / :func:`simhash_pairs` — 64-bit SimHash via
  higher-order expressions (no Python UDF), near-dups by banded
  Hamming distance;
* :func:`embedding_cosine_pairs` — cosine near-dup over an
  ``array<float>`` column, brute-force or random-hyperplane-LSH
  bucketed;
* :func:`connected_components` / :func:`dedup_components` —
  large-star/small-star clustering of near-dup pairs into dedup
  groups with a canonical keep-list;
* :func:`conversation_dedup` — whole-conversation exact dedup by
  commutative fingerprint folds (hot-conversation safe);
* :func:`incremental_exact_dedup` / :func:`incremental_minhash_dedup`
  — classify new batches against a persistent fingerprint/signature
  store without rescanning prior text.

All shuffles key on the candidate-pair structure (shingle / band
bucket / fingerprint), never on raw document text.
"""

from __future__ import annotations

import math
import random
import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datapatterns_spark.materialize import materialize


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
# shingles + exact n-gram Jaccard
# ---------------------------------------------------------------------------
def shingles(col: Column, n: int = 3, words: bool = True, distinct: bool = True) -> Column:
    """Word (or character) n-gram array of the normalized text.

    ``distinct=False`` skips the per-row hash-set dedup — correct for
    min-hash signatures (duplicates don't change a min)."""
    norm = normalized_text(col)
    if words:
        toks = F.split(norm, " ")
        count = F.greatest(F.size(toks) - (n - 1), F.lit(0))
        grams = F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        # short docs: fall back to the whole text as one shingle
        grams = F.when(count > 0, grams).otherwise(F.array(norm))
    else:
        # one-pass codepoint split, then slice-joins — NOT per-index
        # substring, whose UTF8 codepoint seek is O(len) per call and
        # O(len^2) per document (measured 16x on char bigrams)
        chars = F.regexp_extract_all(norm, F.lit("(?s)."), 0)
        count = F.greatest(F.size(chars) - (n - 1), F.lit(0))
        grams = F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.array_join(F.slice(chars, i, n), ""),
        )
        grams = F.when(count > 0, grams).otherwise(F.array(norm))
    return F.array_distinct(grams) if distinct else grams


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 10_000,
) -> DataFrame:
    """Exact all-pairs Jaccard >= threshold via inverted index.

    ``max_shingle_df`` drops shingles shared by more than that many
    documents before pairing — at 100 TB an ultra-common shingle would
    otherwise create a quadratic candidate set.  The default (10_000)
    is large enough that test-scale corpora never hit it (semantics
    stay exact) while a caller who never reads this docstring is still
    safe from the C(df, 2) blowup: one shingle in 10M boilerplate docs
    would otherwise emit ~5*10^13 candidate rows.  Pairs whose EVERY
    common shingle is over-cap are then missed — a deviation from the
    documented 'exact' semantics, so it is never silent: whenever the
    cap drops anything a ``UserWarning`` reports how many shingles
    were dropped (the count is read off the already-materialized
    hot-shingle frame, no extra corpus pass).  Pass ``None`` to
    explicitly opt out and get exact semantics at any document
    frequency."""
    sh = df.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("sh")
    ).withColumn("size", F.size("sh"))
    sizes = sh.select("id", "size")
    inv = sh.select("id", F.explode("sh").alias("g"))
    if max_shingle_df is not None:
        # the ultra-common shingles this guard exists to drop are the
        # ones a Window.partitionBy(g) would gather into one task —
        # count them with a skew-immune groupBy (map-side partial agg)
        # and remove via broadcast anti-join against the tiny (by
        # construction: few shingles exceed the cap) hot-shingle set.
        # inv feeds both the count and the anti-join probe: materialize
        # it so the corpus shingle explode runs once, and materialize
        # the (tiny) hot set so the observability count below is free.
        inv = materialize(inv)
        hot = materialize(
            inv.groupBy("g")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_shingle_df)
            .select("g")
        )
        n_hot = hot.count()
        if n_hot:
            warnings.warn(
                f"ngram_jaccard_pairs: max_shingle_df={max_shingle_df} "
                f"dropped {n_hot} over-cap shingle(s); pairs whose every "
                "common shingle was dropped are missed. Pass "
                "max_shingle_df=None for exact semantics.",
                UserWarning,
                stacklevel=2,
            )
        inv = inv.join(F.broadcast(hot), "g", "left_anti")
    a = inv.alias("a")
    b = inv.alias("b")
    common = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("size", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("size", "size_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


def _winnowed_grams(
    df: DataFrame, id_col: str, grams: Column, w: int
) -> DataFrame:
    """Explode only the winnowing-selected positions of the positioned
    gram array: in every window of ``w`` consecutive gram hashes keep
    the RIGHTMOST minimal one (Schleimer et al. 2003 robust
    winnowing); documents with fewer than ``w`` grams keep their single
    rightmost minimum.  Returns ``(id, p)`` with ``p`` the selected
    ``struct<i,g1,g2>`` rows.

    The gram array, the selected-position array, and the final explode
    are SEPARATE projections so each non-cheap array is evaluated once
    per row (lambda bodies get no subexpression elimination)."""
    staged = df.select(F.col(id_col).alias("id"), grams.alias("_grams"))
    g = F.col("_grams")
    m = F.size(g)
    nw = (m - w + 1).cast("int")
    init = F.struct(
        F.lit(None).cast("bigint").alias("h"), F.lit(0).cast("int").alias("pos")
    )

    def _step(acc: Column, pidx: Column) -> Column:
        # <= keeps the RIGHTMOST minimal hash — the robust-winnowing
        # tie rule, so equal-hash runs select deterministically
        h = F.element_at(g, pidx)["g1"]
        return F.when(
            acc["h"].isNull() | (h <= acc["h"]),
            F.struct(h.alias("h"), pidx.alias("pos")),
        ).otherwise(acc)

    def _argmin(p: Column) -> Column:
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(w - 1)),
            init,
            lambda acc, j: _step(acc, (p + j).cast("int")),
        )["pos"]

    whole = F.aggregate(
        F.sequence(F.lit(1), m.cast("int")),
        init,
        lambda acc, pidx: _step(acc, pidx.cast("int")),
    )["pos"]
    sel = (
        F.when(
            nw >= 1,
            F.array_distinct(F.transform(F.sequence(F.lit(1), nw), _argmin)),
        )
        .when(m >= 1, F.array(whole))
        .otherwise(F.array().cast("array<int>"))
    )
    staged = staged.select("id", "_grams", sel.alias("_sel"))
    return staged.select(
        "id",
        F.explode(
            F.transform(F.col("_sel"), lambda pidx: F.element_at(g, pidx))
        ).alias("p"),
    )


def duplicate_token_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    min_count: int = 2,
    winnow_w: int = 1,
    metrics: dict | None = None,
) -> DataFrame:
    """EXACT-substring duplicate spans (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" —
    their suffix-array pass at a 50-token threshold, re-expressed as
    a distributed n-gram formulation): every maximal token span of a
    document covered by word ``n``-grams occurring at least
    ``min_count`` times ACROSS THE CORPUS.  Downstream curation cuts
    or down-weights these spans (licence boilerplate, templated
    pages, quoted chunks) instead of dropping whole documents.

    Returns ``(id, span_start, span_end, span_tokens)`` — 1-based
    token positions over the normalized text, overlapping/adjacent
    spans merged per document.

    Scale shape: ONE corpus scan explodes positioned n-grams into a
    materialized frame consumed by both the duplicated-gram count and
    the semi-join (without the reuse point the expensive explode would
    evaluate twice); the duplicated-gram set comes from a map-side-
    combinable ``groupBy(gram)`` count (never a self-join), re-joined
    by gram key; span merging is a per-document window — bounded by
    document length, so no hot-key risk at web scale (documents are
    bounded; the corpus-wide work is the two shuffles).  Grams are
    keyed on TWO independently-salted xxhash64s (128 bits): a single
    64-bit key collides at the birthday bound near 10^14 corpus grams
    (~10^8 false pairs, each silently marking both grams "duplicated"
    since a collision alone satisfies min_count=2); the pair is
    collision-free at any realistic corpus size.  Suffix arrays find
    duplicates of ANY length >= threshold; the n-gram formulation
    needs >= n shared tokens to light up — the standard trade for a
    shuffle-native implementation.

    **Volume lever** (``winnow_w > 1``): the materialized positioned-
    gram frame is the engine's largest intermediate (~28 B x corpus
    token count; at 10^12 turns, the dominant shuffle input).
    ``winnow_w=w`` selects gram POSITIONS by the winnowing rule
    (Schleimer et al. 2003): in every window of ``w`` consecutive gram
    hashes, keep the rightmost minimal one.  Selection is
    CONTENT-DEFINED — a duplicated token span selects the same interior
    grams in every copy (a window fully inside the span sees identical
    hashes everywhere), so every true duplicated span of
    ``>= n + w - 1`` tokens still yields at least one corpus-wide
    selected duplicate and is detected.  The frame shrinks to the
    winnowing density ~2/(w+1) of all positions.  Resolution trade
    (documented, not silent): reported span boundaries are recovered
    from selected positions only, so each end can under-reach the true
    boundary by up to ``w - 1`` gram positions, spans shorter than
    ``n + w - 1`` tokens may be missed, and the island-merge slack
    grows from 1 to ``w`` (selected positions inside one duplicated
    region are at most ``w`` apart — two regions separated by a gap
    ``<= w`` merge).  ``winnow_w=1`` (default) is the exact path with a
    byte-identical plan to before the lever existed.

    ``metrics`` (optional dict) receives the materialized-frame
    observability counts — ``{"gram_positions": total corpus gram
    positions, "frame_rows": rows actually materialized}`` — the
    repo's no-silent-caps rule applied to the volume lever (the counts
    cost one cheap job over the already-materialized frame plus one
    scan-side aggregate; skipped entirely when ``metrics is None``)."""
    if winnow_w < 1:
        raise ValueError(f"winnow_w must be >= 1, got {winnow_w}")
    toks = F.split(normalized_text(F.col(text_col)), " ")
    cnt = F.size(toks) - F.lit(n - 1)
    grams = F.when(
        cnt >= 1,
        F.transform(
            F.sequence(F.lit(1), cnt),
            lambda i: F.struct(
                i.alias("i"),
                F.xxhash64(
                    F.concat_ws(" ", F.slice(toks, i, n))
                ).alias("g1"),
                F.xxhash64(
                    F.lit(0x5A17), F.concat_ws(" ", F.slice(toks, i, n))
                ).alias("g2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<i:int,g1:bigint,g2:bigint>>"))
    if winnow_w > 1:
        exploded = _winnowed_grams(df, id_col, grams, winnow_w)
    else:
        exploded = df.select(
            F.col(id_col).alias("id"), F.explode(grams).alias("p")
        )
    pos = materialize(
        exploded.select(
            "id",
            F.col("p.i").alias("i"),
            F.col("p.g1").alias("g1"),
            F.col("p.g2").alias("g2"),
        )
    )
    if metrics is not None:
        # frame_rows is one job over checkpointed blocks; the total
        # position count re-derives from a slim length aggregate (no
        # text shuffled, map-side combined to one row)
        metrics["frame_rows"] = pos.count()
        metrics["gram_positions"] = (
            df.select(
                F.greatest(
                    F.size(F.split(normalized_text(F.col(text_col)), " "))
                    - F.lit(n - 1),
                    F.lit(0),
                ).alias("c")
            )
            .agg(F.sum("c"))
            .collect()[0][0]
            or 0
        )
    # duplicated grams: count >= min_count corpus-wide (partial aggs
    # combine map-side; a boilerplate gram in 10M docs is ONE row out)
    hot = (
        pos.groupBy("g1", "g2")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= F.lit(min_count))
        .select("g1", "g2")
    )
    dup = pos.join(hot, ["g1", "g2"], "left_semi").select(
        "id", "i", (F.col("i") + F.lit(n - 1)).alias("e")
    )
    # gaps-and-islands per doc: a position starts a new span when it
    # clears the running max end of everything before it (+1 merges
    # token-adjacent spans into one contiguous duplicated region)
    from pyspark.sql import Window

    w_prev = (
        Window.partitionBy("id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy("id").orderBy("i").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # slack = winnow_w: under winnowing, selected positions inside one
    # duplicated region are at most w apart, so islands split only on
    # gaps that cannot come from selection thinning.  w=1 -> the exact
    # token-adjacency rule.
    marked = dup.withColumn(
        "_new",
        F.when(
            F.col("i")
            > F.coalesce(F.max("e").over(w_prev), F.lit(-1)) + winnow_w,
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("_isl", F.sum("_new").over(w_run))
    return (
        marked.groupBy("id", "_isl")
        .agg(
            F.min("i").cast("long").alias("span_start"),
            F.max("e").cast("long").alias("span_end"),
        )
        .select(
            "id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def cut_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove the duplicated token spans found by
    :func:`duplicate_token_spans` from each document — span-level
    cutting (keep the document, drop the boilerplate) instead of
    whole-document dedup.

    Returns ``(id, text, n_tokens_cut)`` where ``text`` is the
    NORMALIZED token stream with covered positions removed (positions
    are 1-based over the normalized split, matching the span frame).
    Docs without spans pass through with ``n_tokens_cut = 0``.

    Scale shape: the span list is collected per doc (bounded by
    document length), joined once; the cut itself is a single
    higher-order-expression projection — no extra corpus shuffle
    beyond the span join."""
    toks = F.split(normalized_text(F.col(text_col)), " ")
    sp = spans.groupBy(F.col("id")).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    empty_spans = F.array().cast(
        "array<struct<span_start:bigint,span_end:bigint>>"
    )
    base = df.select(F.col(id_col).alias("id"), toks.alias("_tk")).join(
        sp, "id", "left"
    ).select("id", "_tk", F.coalesce(F.col("_spans"), empty_spans).alias("_spans"))
    n = F.size("_tk")
    indexed = F.when(
        n >= 1,
        F.zip_with(
            F.col("_tk"),
            F.sequence(F.lit(1), n),
            lambda t, i: F.struct(t.alias("t"), i.alias("i")),
        ),
    ).otherwise(F.array().cast("array<struct<t:string,i:int>>"))
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(
            F.col("_spans"),
            lambda b: (s["i"] >= b["span_start"]) & (s["i"] <= b["span_end"]),
        ),
    )
    return base.select(
        "id",
        F.concat_ws(" ", F.transform(kept, lambda s: s["t"])).alias("text"),
        (n - F.size(kept)).cast("long").alias("n_tokens_cut"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
MINHASH_P = (1 << 31) - 1  # Mersenne prime 2^31-1


def minhash_coeffs(
    num_hashes: int, seed: int = 0x5EED, p: int = MINHASH_P
) -> list[tuple[int, int]]:
    """The deterministic Carter-Wegman (a_i, b_i) pairs shared by the
    Spark MinHash signatures and their SQL oracle."""
    rnd = random.Random(seed)
    return [(rnd.randrange(1, p), rnd.randrange(0, p)) for _ in range(num_hashes)]


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """``(id, m0..m{num_hashes-1})`` MinHash signatures — the
    Carter-Wegman construction shared by :func:`minhash_lsh_pairs`
    (one string hash per shingle, affine transforms, ``min``
    aggregates; map-side combinable, shuffle carries hashes not
    text).  Signatures are the parquet-friendly STORE format for
    :func:`incremental_minhash_dedup`."""
    inv = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col(text_col), n, distinct=False)).alias("g"),
    )
    p = MINHASH_P
    ab = minhash_coeffs(num_hashes)
    x = F.pmod(F.xxhash64("g"), F.lit(p))
    inv = inv.select("id", x.alias("x"))
    return inv.groupBy("id").agg(
        *[
            F.min(F.pmod(F.col("x") * F.lit(a) + F.lit(b), F.lit(p))).alias(f"m{i}")
            for i, (a, b) in enumerate(ab)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    bucket_cap: int = 2000,
    metrics: dict | None = None,
) -> DataFrame:
    """Near-duplicate pairs: shingle -> minhash -> band -> bucket-join
    -> exact-Jaccard verification (no false positives; recall is the
    standard LSH S-curve at (bands, rows_per_band)).

    ``metrics`` (optional dict) receives the cap observability counts —
    ``candidate_pairs`` (rows entering exact verification),
    ``capped_buckets`` (band buckets over ``bucket_cap``) and
    ``cap_dropped_pairs`` (sum of C(bsz,2) - (bsz-1) over those
    buckets: the all-pairs edges the star formulation does NOT emit) —
    the repo's no-silent-caps rule made measurable: a run whose
    extrapolation story depends on candidate volume and cap hit rates
    can now record both.  Costs two small jobs when requested (the hot
    aggregate re-runs over the materialized signatures; the candidate
    count reads checkpointed blocks); ``metrics=None`` keeps the plan
    unchanged.

    The signature is computed by exploding shingles and running
    ``min(xxhash64(g, i))`` aggregates — each hash evaluated exactly
    once (an inline array-expression signature gets duplicated into
    every band struct by Catalyst's CollapseProject, multiplying the
    work ~bands-fold), and the shuffle carries hashes, not text.

    **Hot-bucket cap**: a band bucket holding a web-scale boilerplate
    cluster (1M near-identical pages) would emit C(n, 2) ~ 5*10^11
    pairs under a plain self-join.  Buckets over ``bucket_cap`` members
    instead emit STAR edges — every member paired with the bucket's
    minimum id — which is linear in bucket size and exactly the input
    :func:`connected_components` needs to keep the cluster connected.
    Star pairs still pass exact-Jaccard verification; the recall trade
    (a member similar to another member but not to the anchor is
    dropped) only arises in pathological buckets whose members are
    near-identical anyway.  Buckets at or under the cap keep the exact
    all-pairs semantics.
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    # Universal-hash MinHash (Carter-Wegman) via minhash_signatures:
    # ONE string hash per shingle, then num_hashes affine transforms
    # h_i(x) = (a_i*x + b_i) mod p over its 31-bit projection — pure
    # integer arithmetic in whole-stage codegen.  a_i*x <= 2^62 never
    # overflows a signed 64 (ANSI-safe).  The naive form (num_hashes
    # seeded xxhash64 calls per shingle) re-hashes the shingle BYTES
    # per hash function — measured ~60% of this operator's wall at
    # bench scale.  Duplicate shingles don't change a min-hash -> no
    # distinct before the aggregation; the shuffle carries (id, hash)
    # partials, never text.
    # signatures are tiny (num_hashes longs per doc); eager
    # materialize so the band fan-out + self-join don't recompute the
    # corpus scan.  NOT a bare persist(): a persisted frame stays in
    # the CacheManager for the session's lifetime unless explicitly
    # unpersisted — in a long-running curation driver each call would
    # leak a cached frame.  The default (localCheckpoint) is
    # materialized once, cuts lineage, and is freed by the
    # ContextCleaner as soon as the returned frame is no longer
    # referenced; see materialize.py for the executor-loss trade and
    # the persist/checkpoint deployment modes.
    sig = materialize(minhash_signatures(df, text_col, id_col, n, num_hashes))
    buckets = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    # per-bucket size + anchor for the OVER-CAP buckets only: one
    # map-side-combinable aggregation (skew-safe — a hot bucket
    # collapses per input partition), then a BROADCAST of the hot set
    # back onto the bucket rows.  The hot set is bounded by
    # total_bucket_rows / bucket_cap (0.05% at the default cap), so
    # the broadcast stays tiny at any corpus size and the bucket rows
    # are never re-shuffled.  Cost: ~+3s CONSTANT of extra AQE stage
    # latency at bench scale — measured identical across the three
    # capped formulations (meta join-back 4.97s / broadcast-hot 5.19s
    # / window 6.07s vs uncapped 2.25s on the sf0.1 candidate stage,
    # interleaved best-of-2), i.e. stage-count overhead, not
    # data-proportional work; at deployment scale it amortizes to
    # nothing while the cap is what keeps boilerplate clusters from
    # emitting C(n,2) pairs.  Broadcast-hot is kept as the
    # scale-best shape (join-back re-shuffles ALL bucket rows; the
    # window form funnels each hot bucket through one task).
    hot = (
        buckets.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("bsz"), F.min("id").alias("anchor"))
        .filter(F.col("bsz") > F.lit(bucket_cap))
    )
    if metrics is not None:
        # one slim aggregate over the hot set (bounded by
        # total_bucket_rows / bucket_cap, so always tiny)
        row = hot.agg(
            F.count(F.lit(1)).alias("nb"),
            F.coalesce(
                F.sum(
                    F.col("bsz") * (F.col("bsz") - 1) / 2 - (F.col("bsz") - 1)
                ),
                F.lit(0.0),
            ).alias("dropped"),
        ).collect()[0]
        metrics["capped_buckets"] = row["nb"]
        metrics["cap_dropped_pairs"] = int(row["dropped"])
    hot = hot.select("band", "bucket", "anchor")
    marked = buckets.join(F.broadcast(hot), ["band", "bucket"], "left")
    small = marked.filter(F.col("anchor").isNull()).select(
        "id", "band", "bucket"
    )
    left = small.toDF("id_a", "band", "bucket")
    right = small.toDF("id_b", "band_r", "bucket_r")
    all_pairs = left.join(
        right,
        (F.col("band") == F.col("band_r"))
        & (F.col("bucket") == F.col("bucket_r"))
        & (F.col("id_a") < F.col("id_b")),
    ).select("id_a", "id_b")
    # oversized buckets: anchor-star edges, O(members) not O(members^2)
    star = marked.filter(
        F.col("anchor").isNotNull() & (F.col("id") != F.col("anchor"))
    ).select(F.col("anchor").alias("id_a"), F.col("id").alias("id_b"))
    cands = materialize(
        all_pairs.unionAll(star).dropDuplicates(["id_a", "id_b"])
        # the candidate-pair frame is referenced TWICE downstream (the
        # verify join's base + the cand_ids semi-join input):
        # materialized so the band self-join executes once, not per
        # reference.  Its size is bounded by the near-dup candidate
        # count — orders of magnitude under the corpus at any scale
        # (A/B at bench scale: 4.3s -> 3.4s interleaved best-of-3,
        # identical pairs).  Mode trade: see `sig`.
    )
    if metrics is not None:
        metrics["candidate_pairs"] = cands.count()
    # exact-Jaccard verification: recompute distinct shingle sets ONLY
    # for candidate docs (a semi-join-bounded set, tiny vs the corpus)
    cand_ids = cands.select(F.col("id_a").alias("id")).union(
        cands.select(F.col("id_b").alias("id"))
    ).distinct()
    shc = materialize(
        df.select(F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("sh"))
        .join(cand_ids, "id", "left_semi")
        # referenced twice (sh_a / sh_b sides) — materialize the
        # bounded candidate shingle sets so the corpus scan + semi-join
        # run once.  Mode trade: see `sig`.
    )
    sh_a = shc.toDF("id_a", "sh_a")
    sh_b = shc.toDF("id_b", "sh_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        cands.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash(col: Column, seed: int = 0) -> Column:
    """64-bit SimHash of the normalized token stream, as a 16-char hex
    STRING — pure higher-order expressions (token hash bit votes), no
    UDF.  The bit fan-out is unrolled with literal shifts; the votes
    array is referenced exactly once downstream (hex encoding via
    ``conv``) so the aggregate isn't re-evaluated per bit."""
    toks = F.split(normalized_text(col), " ")
    votes = F.aggregate(
        toks,
        F.array(*[F.lit(0)] * 64),
        lambda acc, tok: F.zip_with(
            acc,
            F.array(
                *[
                    F.shiftright(F.xxhash64(tok, F.lit(seed)), b)
                    .bitwiseAND(F.lit(1))
                    .cast("int")
                    * 2
                    - 1
                    for b in range(63, -1, -1)  # MSB first
                ]
            ),
            lambda a, v: a + v,
        ),
    )
    bits = F.array_join(
        F.transform(votes, lambda v: F.when(v > 0, "1").otherwise("0")), ""
    )
    return F.lpad(F.conv(bits, 2, 16), 16, "0")


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 16-hex-char SimHashes: XOR each
    16-bit chunk (safe in a signed long) and popcount."""
    out = F.lit(0)
    for i in range(4):
        ca = F.conv(F.substring(a, i * 4 + 1, 4), 16, 10).cast("long")
        cb = F.conv(F.substring(b, i * 4 + 1, 4), 16, 10).cast("long")
        out = out + F.bit_count(ca.bitwiseXOR(cb))
    return out


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming, found by
    banding the 64-bit hash into 4 x 16-bit chunks (any pair within
    distance 3 shares at least one exact chunk) and verifying."""
    d = df.select(F.col(id_col).alias("id"), simhash(F.col(text_col)).alias("h"))
    chunks = d.select(
        "id",
        "h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.substring("h", i * 4 + 1, 4).alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("id", "h", "c.band", "c.chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col("a.h"), F.col("b.h")).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------
def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float|double> columns.  Terms are
    promoted to double BEFORE multiplying — float*float products lose
    precision that breaks parity with double-based oracles."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    na = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda s, x: s + x.cast("double") * x.cast("double"))
    )
    nb = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda s, x: s + x.cast("double") * x.cast("double"))
    )
    return dot / (na * nb)


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]


def _sign_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: sign bit per plane."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(w) for w in p]),
                    lambda x, w: x.cast("double") * w,
                ),
                F.lit(0.0),
                lambda s, x: s + x,
            )
            > 0,
            F.lit(1 << i),
        ).otherwise(F.lit(0))
        for i, p in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    method: str = "lsh",
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs with cosine >= threshold.

    ``method="brute"`` is the exact baseline (self-join; quadratic —
    test scale only).  ``method="lsh"`` buckets by random-hyperplane
    sign signatures across ``n_tables`` tables, then verifies cosine
    exactly."""
    d = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if method == "brute":
        a, b = d.alias("a"), d.alias("b")
        pairs = a.join(b, F.col("a.id") < F.col("b.id")).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.v").alias("va"),
            F.col("b.v").alias("vb"),
        )
    else:
        if dim is None:
            dim = len(d.select("v").first()["v"])
        buckets = d
        bucket_cols = []
        for t in range(n_tables):
            planes = _hyperplanes(dim, n_planes, seed + t)
            name = f"_b{t}"
            buckets = buckets.withColumn(name, _sign_bucket(F.col("v"), planes))
            bucket_cols.append(name)
        tagged = buckets.select(
            "id",
            "v",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(t).alias("t"), F.col(c).alias("bk"))
                        for t, c in enumerate(bucket_cols)
                    ]
                )
            ).alias("tb"),
        ).select("id", "v", "tb.t", "tb.bk")
        a, b = tagged.alias("a"), tagged.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.t") == F.col("b.t"))
                & (F.col("a.bk") == F.col("b.bk"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.v").alias("va"),
                F.col("b.v").alias("vb"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


# ---------------------------------------------------------------------------
# dedup clustering: connected components over near-dup pairs
# ---------------------------------------------------------------------------
def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Label the connected components of an undirected pair graph —
    the clustering step that turns near-dup PAIRS (MinHash / SimHash /
    winnowing output) into dedup groups with one canonical survivor.

    Algorithm: alternating **large-star / small-star** (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    the standard O(log n)-round formulation for massive graphs.  Each
    round is two bounded shuffles built from ``groupBy(u).min`` +
    a join (never ``collect_list`` of a neighborhood, so a hot node —
    one document near-duplicated millions of times — stays a
    map-side-combinable aggregation, not a task-sized list).
    Convergence is detected by an order-independent edge-set signature
    (count + XOR-fold and wide-decimal sum of pair hashes — both closed
    over their domains, so no ANSI overflow at any edge count); the
    loop stops when two consecutive rounds agree.  The signature
    aggregation is ALSO the action that materializes each round's lazy
    ``localCheckpoint`` — one Spark job per iteration, not a
    materialize job plus a separate convergence job.  Node ids must be
    orderable (the component label is the component's minimum id).

    Returns ``(node, component)`` — every node of any input edge
    (self-loop-only nodes included, labeled as their own singleton
    component), labeled with its component's minimum node id.
    """
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # nodes come from the RAW pairs (before the self-loop filter) so a
    # document appearing only in a self-pair still gets a label; eager
    # materialize instead of a bare persist() — by default materialized
    # once, lineage cut, and freed by the ContextCleaner when
    # unreferenced (a plain persist here leaked a cached frame for the
    # session's lifetime); see materialize.py for the deployment modes
    nodes = materialize(
        raw.select(F.col("u").alias("node"))
        .unionAll(raw.select(F.col("v").alias("node")))
        .distinct()
    )
    e = materialize(
        raw.filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        # eager: the input pair pipeline (often a full LSH run) is
        # evaluated ONCE here; every reference inside the first star
        # round reads the materialized partitions
    )
    if e.isEmpty():
        # no non-self edges: every node (necessarily self-loop-only)
        # is its own singleton component — NOT an empty frame, per the
        # contract above
        return nodes.select(
            "node", F.col("node").alias("component")
        )

    def signature(frame: DataFrame) -> tuple:
        # order-independent and overflow-free: xxhash64 spans the full
        # int64 range, so a plain SUM overflows under ANSI mode on real
        # inputs (the round-1 red row); XOR is closed over int64 and a
        # decimal(38,0) sum holds ~2^63 * 10^19 edges
        h = F.xxhash64("u", "v")
        r = frame.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(h).alias("x"),
            F.sum(h.cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        return (r["n"], r["x"], r["s"])

    prev_sig = None
    converged = False
    for _ in range(max_iter):
        # large-star: connect every neighbor larger than the center to
        # the neighborhood minimum (self included)
        sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star: on canonical (u > v) edges, connect every
        # smaller-or-equal neighbor (and the center) to the minimum
        e2 = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v")).distinct()
        mins2 = e2.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        joined = e2.join(mins2, "u")
        small = (
            joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(joined.select(F.col("u"), F.col("m").alias("v")))
        )
        # cut_lineage: an ITERATIVE DataFrame loop must truncate
        # lineage each round — persist() alone caches data but keeps
        # the logical plan, which doubles per iteration until Catalyst
        # chokes on the tree (measured: a 12-edge chain blew the plan
        # printer before converging) — so persist mode falls back to a
        # real lineage cut here.  LAZY: the signature aggregation right
        # below is the materializing action, so each round runs exactly
        # one Spark job (the agg's full scan computes — and therefore
        # materializes — every partition)
        e = materialize(
            small.filter(F.col("u") != F.col("v"))
            .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
            .distinct(),
            eager=False,
            cut_lineage=True,
        )
        sig = signature(e)
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        warnings.warn(
            f"connected_components: star rounds did not converge within "
            f"max_iter={max_iter}; labels may split true components. "
            f"Re-run with a larger max_iter.",
            RuntimeWarning,
            stacklevel=2,
        )
    # converged edges form stars centered at component minima
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels = sym.groupBy("u").agg(F.min("v").alias("_m"))
    out = (
        nodes.join(labels, nodes["node"] == labels["u"], "left")
        .select(
            "node",
            F.least(F.coalesce(F.col("_m"), F.col("node")), F.col("node")).alias(
                "component"
            ),
        )
    )
    return out


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


def _sig_band_keys(
    sig: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """``(id, band, key)`` — one row per band with the band's raw
    minhash slice as an ``array<long>`` key.  Joining on the raw slice
    (instead of a hash of it) keeps bucket equality EXACT and lets a
    SQL oracle replay it as plain array equality."""
    rpb = num_hashes // bands
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.array(
                            *[F.col(f"m{b * rpb + r}") for r in range(rpb)]
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.key")


def sig_estimated_jaccard(num_hashes: int, a: str = "a", b: str = "b"):
    """Column: fraction of agreeing minhashes between two signature
    row prefixes — the standard unbiased Jaccard estimator."""
    terms = [
        F.when(F.col(f"{a}.m{i}") == F.col(f"{b}.m{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    ]
    s = terms[0]
    for t in terms[1:]:
        s = s + t
    return s / F.lit(float(num_hashes))


def incremental_minhash_dedup(
    new_df: DataFrame,
    sig_store: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    bucket_cap: int = 2000,
    metrics: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """NEAR-dup analogue of :func:`incremental_exact_dedup`: classify
    a new batch against a persistent MinHash SIGNATURE store without
    ever rescanning prior text.

    ``metrics`` (optional dict) receives the cap observability counts
    (no-silent-caps rule): ``batch_capped_buckets`` /
    ``batch_cap_dropped_pairs`` and ``store_capped_buckets`` /
    ``store_cap_dropped_pairs`` (buckets over ``bucket_cap`` on each
    side and the all-pairs edges the anchor-star formulation did not
    emit), plus ``batch_candidate_pairs`` / ``store_candidate_pairs``
    (rows entering the estimated-Jaccard filter).  Requested counts
    run as small extra jobs; ``metrics=None`` keeps plans unchanged.

    Returns ``(decisions, new_sigs)``: decisions are ``(id, status)``
    with status ``dup_of_store`` (signature-estimated Jaccard >=
    threshold against some stored doc sharing an LSH band bucket),
    ``dup_in_batch`` (est-Jaccard >= threshold against a SMALLER-id
    batch doc — the greedy keep-first rule), or ``unique``;
    ``new_sigs`` is the batch's signature frame — append the
    ``unique`` rows to the store.

    Similarity across batches is ESTIMATED from signatures (the store
    holds 64 longs per doc, not shingle sets), the documented accuracy
    trade that makes the store O(1) per doc; the estimator's std-dev
    is ~sqrt(J(1-J)/64) ~ 0.05 at J=0.8.  Hot buckets are capped on
    both sides (anchor-star against the bucket minimum) exactly like
    :func:`minhash_lsh_pairs`, so boilerplate clusters stay linear.
    """
    # eager materialize, not a bare persist(): `sigs` is referenced
    # many times below AND returned to the caller as `new_sigs` — a
    # plain persist would oblige every caller to unpersist or leak a
    # cached frame per batch for the session's lifetime.  The default
    # (localCheckpoint) is materialized once and freed by the
    # ContextCleaner when the caller drops it (no unpersist
    # obligation); see materialize.py for the deployment modes.
    sigs = materialize(minhash_signatures(new_df, text_col, id_col, n, num_hashes))
    nb = _sig_band_keys(sigs, num_hashes, bands)
    est = sig_estimated_jaccard(num_hashes)

    def marked_hot(bk: DataFrame, side: str) -> DataFrame:
        # broadcast only the over-cap buckets (bounded by rows/cap);
        # `anchor` is NULL on rows of normal buckets
        hot = (
            bk.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("bsz"), F.min("id").alias("anchor"))
            .filter(F.col("bsz") > F.lit(bucket_cap))
        )
        if metrics is not None:
            row = hot.agg(
                F.count(F.lit(1)).alias("nb"),
                F.coalesce(
                    F.sum(
                        F.col("bsz") * (F.col("bsz") - 1) / 2
                        - (F.col("bsz") - 1)
                    ),
                    F.lit(0.0),
                ).alias("dropped"),
            ).collect()[0]
            metrics[f"{side}_capped_buckets"] = row["nb"]
            metrics[f"{side}_cap_dropped_pairs"] = int(row["dropped"])
        hot = hot.select("band", "key", "anchor")
        return bk.join(F.broadcast(hot), ["band", "key"], "left")

    nbc = marked_hot(nb, "batch")

    # within-batch: est >= threshold against a smaller id (pairs from
    # shared buckets; over-cap buckets emit anchor-star edges only)
    small = nbc.filter(F.col("anchor").isNull()).select("id", "band", "key")
    pairs_all = (
        small.alias("l")
        .join(
            small.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
    )
    pairs_star = nbc.filter(
        F.col("anchor").isNotNull() & (F.col("id") != F.col("anchor"))
    ).select(F.col("anchor").alias("id_a"), F.col("id").alias("id_b"))
    cand_b = pairs_all.unionAll(pairs_star).dropDuplicates(["id_a", "id_b"])
    if metrics is not None:
        # materialize before counting: the count would otherwise run
        # the band self-join once for the metric and AGAIN for the
        # estimator join below
        cand_b = materialize(cand_b)
        metrics["batch_candidate_pairs"] = cand_b.count()
    dup_in_batch = (
        cand_b.join(sigs.alias("a"), F.col("id_a") == F.col("a.id"))
        .join(sigs.alias("b"), F.col("id_b") == F.col("b.id"))
        .filter(est >= F.lit(threshold))
        .select(F.col("id_b").alias("id"))
        .distinct()
    )

    # vs store: shared band buckets, est >= threshold (store side also
    # anchor-capped per bucket)
    if sig_store is not None:
        sb = marked_hot(_sig_band_keys(sig_store, num_hashes, bands), "store")
        sb = sb.filter(
            F.col("anchor").isNull() | (F.col("id") == F.col("anchor"))
        ).select("id", "band", "key")
        cand_s = (
            nb.alias("l")
            .join(
                sb.alias("r"),
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.key") == F.col("r.key")),
            )
            .select(
                F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b")
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        if metrics is not None:
            cand_s = materialize(cand_s)  # see cand_b note
            metrics["store_candidate_pairs"] = cand_s.count()
        dup_of_store = (
            cand_s.join(sigs.alias("a"), F.col("id_a") == F.col("a.id"))
            .join(sig_store.alias("b"), F.col("id_b") == F.col("b.id"))
            .filter(est >= F.lit(threshold))
            .select(F.col("id_a").alias("id"))
            .distinct()
        )
    else:
        dup_of_store = sigs.select("id").limit(0)
        if metrics is not None:
            # first batch: no store side — keep the documented keys
            # present (and honest) instead of raising on read
            metrics["store_capped_buckets"] = 0
            metrics["store_cap_dropped_pairs"] = 0
            metrics["store_candidate_pairs"] = 0

    decisions = (
        sigs.select("id")
        .join(dup_of_store.withColumn("_st", F.lit(True)), "id", "left")
        .join(dup_in_batch.withColumn("_ba", F.lit(True)), "id", "left")
        .select(
            "id",
            F.when(F.col("_st"), F.lit("dup_of_store"))
            .when(F.col("_ba"), F.lit("dup_in_batch"))
            .otherwise(F.lit("unique"))
            .alias("status"),
        )
    )
    return decisions, sigs


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


def dedup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Near-dup pairs -> ``(node, component, keep)``: one row per
    document appearing in any pair, labeled with its dedup cluster and
    whether it is the cluster's canonical survivor (minimum id — a
    deterministic, join-free keep rule)."""
    cc = connected_components(pairs, src=id_a, dst=id_b)
    return cc.select(
        "node", "component", (F.col("node") == F.col("component")).alias("keep")
    )
