"""Tests for the exact-hash dedup operators (operators/dedup.py)."""

import pytest

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
