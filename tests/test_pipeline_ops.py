"""Tests for the dedup operator families (operators/dedup.py)."""

import pytest
from pyspark.sql import functions as F

from datapatterns_spark.operators import dedup as D


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "The quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox JUMPS over the lazy dog!!"),  # normalized dup
        (4, "The quick brown fox jumps over the sleepy dog"),  # near dup
        (5, "Completely different content about spark engines"),
        (6, "der schnelle braune fuchs springt und ist nicht da"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark, docs):
    dups = D.exact_duplicates(docs, "text", "doc_id").collect()
    ids = {r["doc_id"] for r in dups}
    assert ids == {1, 2, 3}
    assert all(r["canonical_id"] == 1 and r["group_size"] == 3 for r in dups)
    kept = D.dedup_exact(docs, "text", "doc_id").select("doc_id").collect()
    assert {r["doc_id"] for r in kept} == {1, 4, 5, 6}


def test_ngram_jaccard_pairs(spark, docs):
    pairs = D.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # exact dups have jaccard 1.0; near-dup 1<->4 shares most shingles
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got
    assert (1, 4) in got
    assert not any(5 in p or 6 in p for p in got)
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert j[(1, 2)] == 1.0


def test_minhash_lsh_pairs(spark, docs):
    pairs = D.minhash_lsh_pairs(docs, "text", "doc_id", n=3, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got and (1, 3) in got
    # verification step guarantees no false positives
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert all(v >= 0.5 for v in j.values())


def test_minhash_lsh_hot_bucket_emits_linear_star_edges(spark):
    """A planted hot bucket (one boilerplate cluster of n identical
    docs — every band hashes them to the same bucket) must emit O(n)
    anchor-star pairs, not C(n, 2): the round-1 scale killer.  With
    identical texts every star pair survives Jaccard verification, so
    the output is exactly n-1 rows anchored at the minimum id, and the
    cluster stays fully connected for connected_components."""
    n = 3000
    cap = 100
    rows = [(i, "the same boilerplate page text repeated verbatim " * 4)
            for i in range(n)]
    # a couple of unrelated docs in buckets under the cap keep the
    # all-pairs path exercised in the same run
    rows += [(n + 1, "completely different content about gardens and rivers"),
             (n + 2, "completely different content about gardens and rivers")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    m: dict = {}
    pairs = D.minhash_lsh_pairs(
        df, "text", "doc_id", n=3, threshold=0.8, bucket_cap=cap, metrics=m
    ).collect()
    hot = {(r["id_a"], r["id_b"]) for r in pairs if r["id_b"] <= n}
    assert hot == {(0, i) for i in range(1, n)}  # star at min id, O(n)
    assert (n + 1, n + 2) in {(r["id_a"], r["id_b"]) for r in pairs}
    # cap observability: identical docs share every band's bucket ->
    # 16 capped buckets, each dropping C(n,2)-(n-1) all-pairs edges;
    # candidates = n-1 star pairs + the one under-cap pair
    assert m["capped_buckets"] == 16
    assert m["cap_dropped_pairs"] == 16 * (n * (n - 1) // 2 - (n - 1))
    assert m["candidate_pairs"] == (n - 1) + 1


def test_simhash_pairs(spark, docs):
    pairs = D.simhash_pairs(docs, "text", "doc_id", max_hamming=8).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got and (1, 3) in got  # identical normalized text: distance 0
    h = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert h[(1, 2)] == 0
    assert not any((a == 5 or b == 5) for a, b in got)


def test_minhash_lsh_recall_vs_exact(spark):
    """Measured approximation quality of the LSH scale path on real
    testdata: against exact all-pairs n-gram Jaccard at the same
    threshold, the verified-LSH output must (a) be a SUBSET (the exact-
    Jaccard verification allows no false positives) and (b) recall the
    theoretical S-curve floor — at J=0.7 with 16 bands x 4 rows,
    P(candidate) = 1-(1-0.7^4)^16 ~ 0.99."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.7
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_pairs(
            docs, "text", "doc_id", threshold=0.7
        ).collect()
    }
    assert exact, "fixture should contain near-dup pairs"
    assert lsh <= exact  # no false positives
    assert len(lsh) / len(exact) >= 0.8  # S-curve recall floor


def test_embedding_pairs_brute_vs_lsh(spark):
    import random

    rng = random.Random(7)
    base = [rng.gauss(0, 1) for _ in range(16)]
    near = [x + rng.gauss(0, 0.01) for x in base]
    far = [rng.gauss(0, 1) for _ in range(16)]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "vec_id long, embedding array<float>"
    )
    brute = D.embedding_cosine_pairs(df, "embedding", "vec_id", 0.99, method="brute").collect()
    assert {(r["id_a"], r["id_b"]) for r in brute} == {(1, 2)}
    lsh = D.embedding_cosine_pairs(df, "embedding", "vec_id", 0.99, method="lsh").collect()
    assert {(r["id_a"], r["id_b"]) for r in lsh} == {(1, 2)}


def _py_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_random_graphs(spark):
    """Large-star/small-star labeling matches a union-find oracle on
    random graphs (chains, cliques, singleton-pair mixes)."""
    import random

    from datapatterns_spark.operators.dedup import connected_components

    for seed in (3, 11):
        rnd = random.Random(seed)
        edges = [(rnd.randrange(60), rnd.randrange(60)) for _ in range(70)]
        edges += [(100 + i, 100 + i + 1) for i in range(12)]  # long chain
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: r["component"]
            for r in connected_components(df).collect()
        }
        want = _py_components([(a, b) for a, b in edges if a != b])
        # a node appearing ONLY in self-pairs is its own singleton
        # component (nodes are collected before the self-loop filter)
        for a, b in edges:
            want.setdefault(a, a)
            want.setdefault(b, b)
        assert got == want, f"seed={seed}"


def test_conversation_dedup_random_differential(spark):
    """Random conversation corpora (clones, partial clones, permuted
    rows, duplicate turns) against a pure-Python multiset model."""
    import random

    from datapatterns_spark.operators.dedup import conversation_dedup

    for seed in (3, 17):
        rnd = random.Random(seed)
        convs = {}
        for c in range(30):
            turns = [
                (t, f"w{rnd.randrange(6)}")
                for t in range(rnd.randrange(1, 6))
            ]
            if rnd.random() < 0.3 and turns:
                turns.append(turns[rnd.randrange(len(turns))])  # dup turn
            convs[f"c{c}"] = turns
        for c in list(convs)[:8]:  # clones under new ids, rows shuffled
            cl = list(convs[c])
            rnd.shuffle(cl)
            convs[f"{c}_x"] = cl
        rows = [(c, t, s) for c, ts in convs.items() for t, s in ts]
        rnd.shuffle(rows)
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, text string"
        )
        got = {r["conv"]: r["canonical"]
               for r in conversation_dedup(df).collect()}
        # model: group by exact turn multiset
        groups = {}
        for c, ts in convs.items():
            key = tuple(sorted(ts))
            groups.setdefault(key, []).append(c)
        want = {}
        for members in groups.values():
            if len(members) > 1:
                canon = min(members)
                for m in members:
                    want[m] = canon
        assert got == want, f"seed={seed}"


def test_incremental_exact_dedup(spark, tmp_path):
    """Batch-2 docs matching batch-1 text classify as dup_of_store,
    in-batch copies as dup_in_batch (min id survives), new text as
    unique; the streaming sink's per-batch-overwrite + self-excluding
    store read makes replay idempotent."""
    from datapatterns_spark.operators.dedup import incremental_exact_dedup
    from datapatterns_spark.streaming import dedup_sink

    b1 = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "Alpha TEXT!")],
        "doc_id long, text string",
    )
    d1 = {r["id"]: r["status"]
          for r in incremental_exact_dedup(b1, None).collect()}
    assert d1 == {1: "unique", 2: "unique", 3: "dup_in_batch"}

    store = spark.createDataFrame(
        [(r["fp"],) for r in
         incremental_exact_dedup(b1, None).filter("status='unique'")
         .select("fp").collect()],
        "fp long",
    )
    b2 = spark.createDataFrame(
        [(10, "ALPHA text"), (11, "gamma text"), (12, "gamma  text")],
        "doc_id long, text string",
    )
    d2 = {r["id"]: r["status"]
          for r in incremental_exact_dedup(b2, store).collect()}
    assert d2 == {10: "dup_of_store", 11: "unique", 12: "dup_in_batch"}

    # streaming sink: run batches, then REPLAY batch 1 — decisions
    # must be byte-identical (store read excludes its own partition)
    store_p, out_p = str(tmp_path / "store"), str(tmp_path / "out")
    sink = dedup_sink(store_p, out_p)
    sink(b1, 0)
    sink(b2, 1)
    first = sorted(
        (r["id"], r["status"])
        for r in spark.read.parquet(f"{out_p}/decisions/batch=1").collect()
    )
    assert first == [(10, "dup_of_store"), (11, "unique"),
                     (12, "dup_in_batch")]
    sink(b2, 1)  # replay
    replay = sorted(
        (r["id"], r["status"])
        for r in spark.read.parquet(f"{out_p}/decisions/batch=1").collect()
    )
    assert replay == first
    # store holds exactly the unique fingerprints of both batches
    assert spark.read.parquet(store_p).count() == 3


def test_incremental_minhash_dedup(spark):
    """Near-dup incremental dedup against a signature store: batch-2
    docs near-identical to batch-1 text classify dup_of_store via the
    signature-estimated Jaccard, within-batch near-dups keep the
    smaller id, distinct docs stay unique; signatures round-trip
    through the returned frame as the store format."""
    from datapatterns_spark.operators.dedup import incremental_minhash_dedup

    base = ("the quick brown fox jumps over the lazy dog again and "
            "again every single day of the week without fail")
    other = ("completely different content about gardens rivers and "
             "mountains stretching far beyond the horizon line")
    b1 = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string"
    )
    m0: dict = {}
    d1, sigs1 = incremental_minhash_dedup(b1, None, threshold=0.7, metrics=m0)
    assert {r["id"]: r["status"] for r in d1.collect()} == {
        1: "unique", 2: "unique"
    }
    # first batch (no store): the documented store_* keys are present
    # and zero, never missing
    assert m0["store_capped_buckets"] == 0
    assert m0["store_cap_dropped_pairs"] == 0
    assert m0["store_candidate_pairs"] == 0
    store = sigs1  # both unique -> whole frame is the store

    b2 = spark.createDataFrame(
        [
            (10, base + " ok"),          # near-dup of stored 1
            (11, "entirely new text about astronomy telescopes and "
                 "the motion of planets across the night sky"),
            (12, "entirely new text about astronomy telescopes and "
                 "the motion of planets across the night sky yes"),
        ],
        "doc_id long, text string",
    )
    m: dict = {}
    d2, _ = incremental_minhash_dedup(b2, store, threshold=0.7, metrics=m)
    assert {r["id"]: r["status"] for r in d2.collect()} == {
        10: "dup_of_store", 11: "unique", 12: "dup_in_batch"
    }
    # cap observability: nothing capped at this size, candidates exist
    # on both sides (10 vs stored 1; 12 vs batch 11)
    assert m["batch_capped_buckets"] == 0 and m["batch_cap_dropped_pairs"] == 0
    assert m["store_capped_buckets"] == 0 and m["store_cap_dropped_pairs"] == 0
    assert m["batch_candidate_pairs"] >= 1 and m["store_candidate_pairs"] >= 1


def test_conversation_dedup(spark):
    """Whole-conversation dedup: cloned conversations (same turn
    multiset under a different conv_id) group to the min-id canonical;
    near-miss conversations (one char off, turn renumbered, or the
    XOR-cancellation adversarial pair) stay apart."""
    rows = []
    for conv, turns in {
        "a": [(0, "hello"), (1, "world")],
        "b": [(1, "world"), (0, "hello")],       # clone of a, rows reordered
        "c": [(0, "hello"), (1, "world!")],      # one char off
        "d": [(1, "hello"), (2, "world")],       # same texts, renumbered
        # XOR-cancellation pair: {x,x,y} vs {y,z,z} both XOR to h(y)
        "e": [(0, "x"), (0, "x"), (1, "y")],
        "f": [(1, "y"), (2, "z"), (2, "z")],
        "g": [(0, "x"), (0, "x"), (1, "y")],     # true clone of e
    }.items():
        rows += [(conv, t, s) for t, s in turns]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = {r["conv"]: (r["canonical"], r["keep"])
           for r in D.conversation_dedup(df).collect()}
    assert out == {
        "a": ("a", True), "b": ("a", False),
        "e": ("e", True), "g": ("e", False),
    }


def test_conversation_fingerprints_shape_is_agg_only(spark):
    """The fingerprint pass must be pure hash aggregation (map-side
    combinable — a hot conversation collapses per input partition):
    no Window, no collect_list, no Python eval."""
    df = spark.createDataFrame(
        [("c", 0, "t")], "conv_id string, turn_idx int, text string"
    )
    plan = D.conversation_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "collect_list" not in plan and "collect_set" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_connected_components_self_loops_only(spark):
    """A pair set containing ONLY self-loops still labels every node
    as its own singleton component (the early-return path)."""
    from datapatterns_spark.operators.dedup import connected_components

    df = spark.createDataFrame([(5, 5), (7, 7)], "src long, dst long")
    got = {r["node"]: r["component"]
           for r in connected_components(df).collect()}
    assert got == {5: 5, 7: 7}


def test_connected_components_signature_overflow(spark):
    """Regression for the round-1 red row: the convergence signature
    summed raw ``xxhash64(u, v)`` values, which overflows an int64
    under ANSI mode on real edge sets.  This graph's edge hashes are
    verified to overflow a plain 64-bit sum; the labeling must still
    complete and match union-find."""
    from pyspark.sql import functions as F

    from datapatterns_spark.operators.dedup import connected_components

    # one big clique + chains: enough canonical edges that the int64
    # sum of their hashes overflows (asserted below, not assumed)
    edges = [(a, b) for a in range(40) for b in range(a + 1, 40)]
    edges += [(1000 + i, 1000 + i + 1) for i in range(30)]
    df = spark.createDataFrame(edges, "src long, dst long")
    hashes = [
        r["h"]
        for r in df.select(
            F.xxhash64(
                F.least("src", "dst"), F.greatest("src", "dst")
            ).alias("h")
        ).collect()
    ]
    total = sum(hashes)  # Python int: arbitrary precision
    assert not (-(2**63) <= total < 2**63), (
        "fixture no longer overflows an int64 sum — pick different edges"
    )
    got = {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }
    want = _py_components(edges)
    assert got == want


def test_connected_components_one_action_per_round(spark):
    """Each star round's convergence signature must be the SAME action
    that materializes the round's lazy localCheckpoint — not a
    checkpoint job plus a separate count+hash pass.  Measured as the
    per-round JOB DELTA between runs capped at different round counts
    (self-calibrating: upfront node/edge checkpoints and the final
    collect cancel out).  Under AQE one round's agg plans ~10 stage
    jobs; a reintroduced separate signature pass adds >=2 more per
    round and trips the bound."""
    import warnings as _w

    from datapatterns_spark.operators.dedup import connected_components

    sc = spark.sparkContext
    edges = [(i, i + 1) for i in range(64)]  # chain: needs ~7 rounds
    df = spark.createDataFrame(edges, "src long, dst long")

    def jobs_with_max_iter(mi, tag):
        sc.setJobGroup(tag, tag)
        try:
            with _w.catch_warnings():
                _w.simplefilter("ignore", RuntimeWarning)
                connected_components(df, max_iter=mi).collect()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    j1 = jobs_with_max_iter(1, "cc-jobs-1r")
    j3 = jobs_with_max_iter(3, "cc-jobs-3r")
    per_round = (j3 - j1) / 2
    assert per_round <= 11, f"{per_round} jobs per CC round (expected ~10)"
    from datapatterns_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [("d1", "d2"), ("d2", "d3"), ("d9", "d8")], "id_a string, id_b string"
    )
    out = {r["node"]: (r["component"], r["keep"])
           for r in dedup_components(pairs).collect()}
    assert out == {
        "d1": ("d1", True), "d2": ("d1", False), "d3": ("d1", False),
        "d8": ("d8", True), "d9": ("d8", False),
    }


# ---------------------------------------------------------------------------
# round-3: persist-leak, df-cap default, IVF broadcast-centroid path
# ---------------------------------------------------------------------------
def _sql_cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_minhash_lsh_leaves_no_cached_frames(spark):
    """minhash_lsh_pairs intermediates (signatures, candidate pairs,
    candidate shingle sets) must NOT sit in the SQL CacheManager after
    the call — a plain persist() there would leak one cached frame per
    call for the session's lifetime in a long-running curation driver.
    The eager localCheckpoint shape is invisible to the CacheManager
    and freed by the ContextCleaner when the result is dropped."""
    spark.catalog.clearCache()
    assert _sql_cache_is_empty(spark)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = D.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.7)
    assert out.count() > 0
    assert _sql_cache_is_empty(spark), (
        "minhash_lsh_pairs left a frame in the CacheManager (persist leak)"
    )


def test_incremental_minhash_leaves_no_cached_frames(spark):
    """Same contract for incremental_minhash_dedup: the returned
    new_sigs frame is checkpointed, not persisted — callers have no
    unpersist obligation."""
    spark.catalog.clearCache()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    b1 = docs.filter("doc_id < 100")
    store = D.minhash_signatures(b1, "text", "doc_id")
    # metrics=... exercises the r5 observability path, which adds two
    # materialize() points (cand_b/cand_s) — the leak contract must
    # hold there too
    m: dict = {}
    decisions, sigs = D.incremental_minhash_dedup(
        docs.filter("doc_id >= 100"), store, threshold=0.7, metrics=m
    )
    assert decisions.count() > 0
    assert sigs.count() > 0
    assert m["batch_candidate_pairs"] >= 0
    assert _sql_cache_is_empty(spark)


def test_ngram_jaccard_default_cap_drops_ultra_common_shingle(spark):
    """The DEFAULT max_shingle_df (10k) must protect a caller who
    never reads the docstring: a shingle planted in >10k docs is
    dropped before pairing, so pairs whose ONLY overlap is that
    boilerplate shingle never form (the uncapped alternative would
    emit C(10050, 2) ~ 5*10^7 candidate rows here)."""
    n = 10_050
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("aaa bbb ccc u"), F.col("id").cast("string")).alias("text"),
    )
    # the exactness loss must be OBSERVABLE: the cap warns with the
    # dropped-shingle count the moment it drops anything (the plan is
    # built eagerly enough that the warning fires at call time)
    with pytest.warns(UserWarning, match="dropped 1 over-cap"):
        out = D.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.3)
    assert out.count() == 0
    # counterfactual at small scale: the same shape UNDER the cap DOES
    # pair (proving the big corpus's emptiness came from the cap, not
    # from the threshold)
    small = spark.range(6).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("aaa bbb ccc u"), F.col("id").cast("string")).alias("text"),
    )
    kept = D.ngram_jaccard_pairs(small, "text", "doc_id", n=3, threshold=0.3)
    assert kept.count() > 0
    # explicit opt-out restores exact semantics at any df
    uncapped = D.ngram_jaccard_pairs(
        small, "text", "doc_id", n=3, threshold=0.3, max_shingle_df=None
    )
    assert uncapped.count() == kept.count()


def test_duplicate_token_spans(spark):
    """Exact-substring duplicate spans: a 10-token run shared by two
    docs lights up as one merged span in each (8-grams at positions
    1..3 of the run overlap-merge); unique text emits nothing;
    within-doc repetition counts toward the corpus threshold."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, f"{shared} one two three"),
        (2, f"zero {shared}"),
        (3, "totally unique words nothing repeats here at all ever done"),
        # within-doc repeat: the same 8 tokens twice in ONE doc
        (4, "p q r s t u v w filler p q r s t u v w"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {}
    for r in D.duplicate_token_spans(df, "text", "doc_id", n=8).collect():
        out.setdefault(r["id"], []).append(
            (r["span_start"], r["span_end"], r["span_tokens"])
        )
    # doc 1: shared run at tokens 1-10 -> grams at 1,2,3 merge to [1,10]
    assert out[1] == [(1, 10, 10)]
    # doc 2: same run shifted by the leading token -> [2,11]
    assert out[2] == [(2, 11, 10)]
    assert 3 not in out
    # doc 4: both copies of the 8-token run are duplicated grams
    # (positions 1 and 10); they don't touch, so two spans
    assert sorted(out[4]) == [(1, 8, 8), (10, 17, 8)]


def test_duplicate_token_spans_winnowed(spark):
    """The winnow_w volume lever: planted boilerplate of
    >= n + w - 1 tokens is still recovered at stride w (content-defined
    selection keeps one shared interior gram alive in every copy), the
    recovered span sits within the documented w-1 gram-position
    boundary slack, the materialized frame shrinks to the winnowing
    density, and winnow_w=1 stays byte-identical to the historical
    exact path."""
    n, w = 5, 4
    # boilerplate long enough for the guarantee: n + w - 1 = 8 tokens
    boiler = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12"
    rows = [
        (1, f"u1 u2 u3 {boiler} u4 u5 u6"),
        (2, f"{boiler} v1 v2 v3 v4 v5 v6 v7"),
        (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    m: dict = {}
    out = {}
    for r in D.duplicate_token_spans(
        df, "text", "doc_id", n=n, winnow_w=w, metrics=m
    ).collect():
        out.setdefault(r["id"], []).append((r["span_start"], r["span_end"]))
    # detection: the planted 12-token run recovered in BOTH copies
    assert 1 in out and 2 in out and 3 not in out
    assert len(out[1]) == 1 and len(out[2]) == 1
    # resolution: true boiler spans are doc1 [4,15], doc2 [1,12];
    # recovered ends may under-reach by up to w-1 gram positions at
    # the start and the span never exceeds the true region
    (s1, e1), (s2, e2) = out[1][0], out[2][0]
    assert 4 <= s1 <= 4 + (w - 1) and e1 <= 15 and e1 >= s1 + n - 1
    assert 1 <= s2 <= 1 + (w - 1) and e2 <= 12 and e2 >= s2 + n - 1
    # volume: the frame holds only selected positions — at most the
    # window count + 1 per doc (winnowing density ~2/(w+1)), strictly
    # under the full gram count
    assert 0 < m["frame_rows"] < m["gram_positions"]
    per_doc_grams = [len(t.split()) - n + 1 for _, t in rows]
    assert m["frame_rows"] <= sum(g - w + 2 for g in per_doc_grams)
    # winnow_w=1 (default) unchanged: exact spans, full frame
    m1: dict = {}
    exact = {
        (r["id"], r["span_start"], r["span_end"])
        for r in D.duplicate_token_spans(
            df, "text", "doc_id", n=n, metrics=m1
        ).collect()
    }
    assert exact == {(1, 4, 15), (2, 1, 12)}
    assert m1["frame_rows"] == m1["gram_positions"] == sum(per_doc_grams)


def test_duplicate_token_spans_winnowed_differential(spark):
    """Randomized differential: the winnowed span pipeline (gram hash
    -> rightmost-window-min selection -> corpus count over selected ->
    slack-w islands) vs an independent imperative Python oracle, over
    seeded random corpora with heavy token reuse (alphabet of 6 tokens
    forces duplicated n-grams, repeats, ties, and short docs).  Gram
    hashes are taken from Spark's own xxhash64 (one tiny batch job) so
    the oracle disagrees only if the SELECTION or MERGE logic does."""
    import random

    n, w, min_count = 3, 4, 2
    rng = random.Random(77)
    alphabet = ["ax", "bx", "cx", "dx", "ex", "fx"]
    docs = {
        did: [rng.choice(alphabet) for _ in range(rng.randrange(0, 26))]
        for did in range(1, 41)
    }
    df = spark.createDataFrame(
        [(d, " ".join(t)) for d, t in docs.items()], "doc_id long, text string"
    )
    got = {}
    for r in D.duplicate_token_spans(
        df, "text", "doc_id", n=n, min_count=min_count, winnow_w=w
    ).collect():
        got.setdefault(r["id"], set()).add(
            (r["span_start"], r["span_end"], r["span_tokens"])
        )

    # --- imperative oracle ---
    grams = {
        d: [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]
        for d, t in docs.items()
        if len(t) >= n
    }
    uniq = sorted({g for gs in grams.values() for g in gs})
    hdf = spark.createDataFrame([(g,) for g in uniq], "g string")
    hmap = {
        r["g"]: r["h"]
        for r in hdf.select("g", F.xxhash64("g").alias("h")).collect()
    }

    def select_positions(gs):
        m = len(gs)
        h = [hmap[g] for g in gs]
        if m == 0:
            return set()
        if m < w:
            best = 0
            for j in range(1, m):
                if h[j] <= h[best]:
                    best = j  # rightmost tie
            return {best + 1}
        sel = set()
        for p in range(m - w + 1):
            best = p
            for j in range(p + 1, p + w):
                if h[j] <= h[best]:
                    best = j
            sel.add(best + 1)  # 1-based
        return sel

    selected = {d: select_positions(gs) for d, gs in grams.items()}
    counts: dict = {}
    for d, pos in selected.items():
        for i in pos:
            counts[grams[d][i - 1]] = counts.get(grams[d][i - 1], 0) + 1
    want = {}
    for d, pos in selected.items():
        dup = sorted(i for i in pos if counts[grams[d][i - 1]] >= min_count)
        spans = []
        for i in dup:
            e = i + n - 1
            if spans and i <= spans[-1][1] + w:
                spans[-1][1] = max(spans[-1][1], e)
            else:
                spans.append([i, e])
        if spans:
            want[d] = {(s, e, e - s + 1) for s, e in spans}
    assert got == want
    # sanity: the corpus actually exercised the interesting paths
    assert len(want) > 5 and any(len(v) > 1 for v in want.values())


def test_cut_duplicate_spans(spark):
    """Span-level cutting: the duplicated run is removed from each
    doc's normalized token stream, unique docs pass through unchanged
    (normalized), and cut counts match span lengths."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, f"{shared} one two three"),
        (2, f"zero {shared}"),
        (3, "Totally unique, words - nothing repeats here at all ever done"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = D.duplicate_token_spans(df, "text", "doc_id", n=8)
    out = {r["id"]: r for r in D.cut_duplicate_spans(df, spans).collect()}
    assert out[1]["text"] == "one two three" and out[1]["n_tokens_cut"] == 10
    assert out[2]["text"] == "zero" and out[2]["n_tokens_cut"] == 10
    assert out[3]["text"] == (
        "totally unique words nothing repeats here at all ever done"
    )
    assert out[3]["n_tokens_cut"] == 0


def test_cut_duplicate_spans_null_and_empty_text(spark):
    """Docstring contract: span-free docs pass through with
    n_tokens_cut = 0 — including NULL and empty text (normalized_text
    coalesces, so the empty branch is taken, never a null count)."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b c d")], "doc_id long, text string"
    )
    spans = spark.createDataFrame(
        [], "id long, span_start long, span_end long, span_tokens long"
    )
    out = {r["id"]: r for r in D.cut_duplicate_spans(df, spans).collect()}
    for i in (1, 2, 3):
        assert out[i]["n_tokens_cut"] == 0
        assert out[i]["text"] is not None
    assert out[3]["text"] == "a b c d"
