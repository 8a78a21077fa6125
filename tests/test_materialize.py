"""The DP_MATERIALIZE deployment switch: operators must produce
identical results under every mode, and persist mode must retain
lineage (executor-loss recompute) and be releasable at job
boundaries."""

import pytest

from datapatterns_spark import materialize as M
from datapatterns_spark.operators.profile import profile


def _jvm_cache_empty(spark):
    return (
        spark._jsparkSession.sharedState().cacheManager().isEmpty()
    )


@pytest.fixture
def corpus(spark):
    shared = "the quick brown fox jumps over the lazy dog every single day"
    rows = [(i, f"doc {i} {shared}") for i in range(30)] + [
        (100, "completely different text about nothing shared at all here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_invalid_mode_rejected():
    with pytest.raises(ValueError):
        M.set_materialize_mode("cache")
    M.set_materialize_mode(None)


def test_env_mode_validated(monkeypatch):
    monkeypatch.setenv("DP_MATERIALIZE", "bogus")
    with pytest.raises(ValueError):
        M.materialize_mode()


def _text_profile(corpus):
    return profile(
        corpus, field_list=["text"], features=("fill_rate", "patterns")
    ).collect()


def test_persist_mode_equals_default_and_releases(spark, corpus):
    """An exact profile with patterns (three materialize sites: the
    value histogram, the per-attribute base row and the pattern
    aggregation) yields identical rows under persist mode; the
    persisted frames are visible in the CacheManager until
    release_all(), after which the session is clean — the documented
    job-boundary contract."""
    base = _text_profile(corpus)
    M.set_materialize_mode("persist")
    try:
        got = _text_profile(corpus)
        assert got == base
        assert not _jvm_cache_empty(spark)
        assert M.release_all() >= 3
        assert _jvm_cache_empty(spark)
    finally:
        M.set_materialize_mode(None)
        M.release_all()


def test_persist_mode_keeps_lineage(spark, corpus):
    """The point of persist mode: the returned frame still has its
    lineage (storage level set, plan not truncated to an
    ExistingRDD-style scan), so executor loss recomputes instead of
    failing."""
    M.set_materialize_mode("persist")
    try:
        out = M.materialize(corpus.select("doc_id"))
        assert out.storageLevel.useMemory
        assert "LocalTableScan" in out._jdf.queryExecution().optimizedPlan().toString() or (
            "Project" in out._jdf.queryExecution().optimizedPlan().toString()
        )
    finally:
        M.set_materialize_mode(None)
        M.release_all()
