"""Zero-row inputs must degrade gracefully, not crash: a partition-
scoped run over a table whose filter matched nothing is a normal event
at deployment scale (fresh Iceberg partition, all-violations batch,
empty ingest)."""

from __future__ import annotations

from datapatterns_spark.operators import constraints as C
from datapatterns_spark.operators.benford import benford
from datapatterns_spark.operators.cardinality import cardinality
from datapatterns_spark.operators.profile import profile


def _empty(spark):
    return spark.createDataFrame([], "a int, s string, ts timestamp")


def test_profile_empty_both_modes(spark):
    for mode in ("exact", "approx"):
        rows = {r["attribute"]: r for r in profile(_empty(spark), mode=mode).collect()}
        # one row per attribute, zeroed stats
        assert set(rows) == {"a", "s", "ts"}
        assert all(r["rec_count"] == 0 and r["fill_count"] == 0 for r in rows.values())


def test_cardinality_benford_empty(spark):
    assert cardinality(_empty(spark)).collect() == []
    out = benford(_empty(spark), field_list=["a"]).collect()
    # expected-distribution row + the analyzed (empty) field row
    assert len(out) == 2


def test_checks_empty(spark):
    df = _empty(spark).withColumnRenamed("a", "turn_idx")
    verdicts, violations = C.run_checks(df, [C.row_rule("nn", "s IS NOT NULL")])
    assert verdicts.collect() == []
    assert violations.collect() == []

