"""Constraint layer + transcript generator + manifest/resume tests
(SURVEY.md §2.11, §4.3)."""

import pytest
from pyspark.sql import functions as F

from datapatterns_spark.operators import constraints as C
from datapatterns_spark.operators.manifest import run_with_manifest, completed_partitions
from datapatterns_spark.sources.transcripts import (
    ROLE_DOMAIN,
    generate_drifted_transcripts,
    generate_transcripts,
    transcript_check_suite,
)


def test_unique_check(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 1)], "k string, i int"
    )
    verdicts, viol = C.run_checks(df, [C.unique("uq", ["k", "i"])], key_cols=["k", "i"])
    v = verdicts.collect()[0]
    assert v["passed"] is False
    assert v["violation_count"] == 2  # both rows of the dup key
    assert viol.count() == 2


def test_domain_and_rule_checks(spark):
    df = spark.createDataFrame(
        [("user", 5), ("agent", -1), ("tool", 3)], "role string, n int"
    )
    verdicts, viol = C.run_checks(
        df,
        [C.in_domain("dom", "role", ROLE_DOMAIN), C.row_rule("pos", "n > 0")],
        key_cols=["role"],
    )
    out = {r["check_name"]: r for r in verdicts.collect()}
    assert out["dom"]["violation_count"] == 1
    assert out["pos"]["violation_count"] == 1
    assert not out["dom"]["passed"] and not out["pos"]["passed"]


def test_monotonic_check(spark):
    rows = [
        ("c1", 0, 100.0),
        ("c1", 1, 110.0),
        ("c1", 2, 105.0),  # regression
        ("c2", 0, 50.0),
        ("c2", 1, 60.0),
    ]
    df = spark.createDataFrame(rows, "conv string, t int, tsv double").withColumn(
        "ts", F.timestamp_seconds("tsv")
    )
    verdicts, viol = C.run_checks(
        df, [C.monotonic("mono", "ts", "conv", "t")], key_cols=["conv", "t"]
    )
    v = verdicts.collect()[0]
    assert v["violation_count"] == 1
    assert viol.collect()[0]["detail"].startswith("ts regression")


def test_monotonic_duplicate_order_keys_deterministic(spark):
    """Rows sharing an order key sort by ts within the tie, so a
    duplicate key never reads as a ts regression (that's the
    uniqueness check's finding) — and the count is deterministic
    regardless of shuffle arrival order."""
    rows = [
        ("c1", 0, 100.0),
        ("c1", 1, 110.0),
        ("c1", 1, 115.0),  # duplicate key, later ts: NOT a regression
        ("c1", 2, 120.0),
        ("c2", 0, 50.0),
        ("c2", 1, 40.0),  # true regression
    ]
    df = spark.createDataFrame(rows, "conv string, t int, tsv double").withColumn(
        "ts", F.timestamp_seconds("tsv")
    )
    checks = [
        C.unique("uniq", ["conv", "t"]),
        C.monotonic("mono", "ts", "conv", "t"),
    ]
    for _ in range(3):  # stable across repeated plans
        verdicts = {
            r["check_name"]: r["violation_count"]
            for r in C.run_checks(df, checks, key_cols=["conv", "t"])[0].collect()
        }
        assert verdicts == {"uniq": 2, "mono": 1}


def test_per_partition_verdicts(spark):
    df = spark.createDataFrame(
        [("p0", 1), ("p0", 1), ("p1", 2)], "part string, k int"
    )
    verdicts, _ = C.run_checks(
        df, [C.unique("uq", ["k"])], partition_col="part", key_cols=["k"]
    )
    out = {r["partition"]: r["passed"] for r in verdicts.collect()}
    assert out == {"p0": False, "p1": True}


def test_benford_conformance_check(spark):
    import math

    # log-uniform positive values follow Benford; sequential ints don't
    good = spark.range(1, 4000).select(
        F.exp(F.rand(seed=7) * math.log(10_000)).alias("v")
    )
    verdicts, _ = C.run_checks(good, [C.benford_conformance("ben", "v")])
    assert verdicts.collect()[0]["passed"] is True
    bad = spark.range(100000, 104000).select(F.col("id").cast("double").alias("v"))
    verdicts2, _ = C.run_checks(bad, [C.benford_conformance("ben", "v")])
    assert verdicts2.collect()[0]["passed"] is False


def test_drift_psi_and_ks(spark):
    base_df = spark.range(5000).select((F.rand(seed=1) * 100).alias("v"))
    same_df = spark.range(5000).select((F.rand(seed=2) * 100).alias("v"))
    drifted_df = spark.range(5000).select((F.rand(seed=3) * 100 + 50).alias("v"))
    hist, lo, hi = C.baseline_histogram(base_df, "v", bins=32)
    checks = [
        C.drift_psi("psi", "v", hist, bins=32, lo=lo, hi=hi, threshold=0.2),
        C.drift_ks("ks", "v", hist, bins=32, lo=lo, hi=hi, threshold=0.1),
    ]
    checks.append(
        C.drift_js("js", "v", hist, bins=32, lo=lo, hi=hi, threshold=0.05)
    )
    ok = {r["check_name"]: r["passed"] for r in C.run_checks(same_df, checks)[0].collect()}
    assert ok == {"psi": True, "ks": True, "js": True}
    bad = {r["check_name"]: (r["passed"], r["metric"])
           for r in C.run_checks(drifted_df, checks)[0].collect()}
    assert {k: v[0] for k, v in bad.items()} == {
        "psi": False, "ks": False, "js": False
    }
    # JS is bounded by ln 2 even on fully disjoint supports
    assert 0 < bad["js"][1] <= 0.6931


def test_generator_deterministic_and_planted(spark):
    df1 = generate_transcripts(spark, n_conversations=300, seed=42)
    df2 = generate_transcripts(spark, n_conversations=300, seed=42)
    assert df1.count() == df2.count()
    # identical content regardless of plan: sorted hash must match
    h1 = df1.select(F.sum(F.xxhash64(*df1.columns)).alias("h")).collect()[0]["h"]
    h2 = df2.select(F.sum(F.xxhash64(*df2.columns)).alias("h")).collect()[0]["h"]
    assert h1 == h2
    assert df1.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def test_transcript_suite_finds_planted_violations(spark):
    # high violation rate so a small table has plantings
    df = generate_transcripts(spark, n_conversations=400, seed=42, violation_rate=0.01)
    verdicts, viol = C.run_checks(
        df,
        transcript_check_suite(),
        key_cols=["conv_id", "turn_idx"],
    )
    out = {r["check_name"]: r for r in verdicts.collect()}
    assert out["unique_turn"]["violation_count"] > 0
    assert out["role_domain"]["violation_count"] > 0
    assert out["tool_domain"]["violation_count"] > 0
    assert out["ts_monotonic"]["violation_count"] > 0
    # cross-check uniqueness count independently
    dup_rows = (
        df.groupBy("conv_id", "turn_idx")
        .count()
        .filter("count > 1")
        .agg(F.sum("count"))
        .collect()[0][0]
    )
    assert out["unique_turn"]["violation_count"] == dup_rows


def test_no_consecutive_check(spark):
    """Alternation check flags equal adjacent values within a group
    (ordered), and shares the monotonic check's window when both run
    on the same (group, order)."""
    rows = [
        ("c1", 0, "user", 10), ("c1", 1, "assistant", 20),
        ("c1", 2, "assistant", 30),  # violation
        ("c1", 3, "user", 40),
        ("c2", 0, "user", 10), ("c2", 1, "user", 20),  # violation
        ("c2", 2, "assistant", 15),  # ts regression for monotonic
    ]
    df = spark.createDataFrame(rows, "g string, o int, role string, ts long")
    checks = [
        C.no_consecutive("alternate_roles", "role", "g", "o"),
        C.monotonic("ts_mono", "ts", "g", "o"),
    ]
    verdicts, violations = C.run_checks(df, checks, key_cols=["g", "o"])
    v = {r["check_name"]: r for r in verdicts.collect()}
    assert not v["alternate_roles"]["passed"]
    assert v["alternate_roles"]["violation_count"] == 2
    assert not v["ts_mono"]["passed"]
    viols = {(r["check_name"], r["key"]) for r in violations.collect()}
    assert ('alternate_roles', '{"g":"c1","o":2}') in viols
    assert ('alternate_roles', '{"g":"c2","o":1}') in viols
    # both group checks plan into ONE Window operator (shared
    # Exchange+Sort on (g, o [, ts]))
    plan = verdicts._jdf.queryExecution().executedPlan().toString()
    import re
    assert len(re.findall(r"\bWindow\b", plan)) <= 2  # main + maybe AQE echo


def test_schema_drift_verdicts(spark):
    """Missing/added/type-changed columns against a stored schema
    baseline; verdict rows union with run_checks output."""
    base_df = spark.createDataFrame(
        [], "a int, b string, c double"
    )
    baseline = C.schema_baseline(base_df)
    same = C.schema_drift_verdicts(base_df, baseline)
    assert all(r["passed"] for r in same.collect())

    cur = spark.createDataFrame([], "a bigint, c double, d string")
    out = {r["check_name"]: r for r in
           C.schema_drift_verdicts(cur, baseline).collect()}
    assert not out["schema_missing_columns"]["passed"]
    assert out["schema_missing_columns"]["sample_violations"] == ["b"]
    assert not out["schema_added_columns"]["passed"]
    assert out["schema_added_columns"]["sample_violations"] == ["d"]
    assert not out["schema_type_changes"]["passed"]
    assert out["schema_type_changes"]["sample_violations"] == [
        "a: int -> bigint"
    ]
    # unions with the value-check verdict frame
    verdicts, _ = C.run_checks(
        spark.createDataFrame([(1,)], "a int"),
        [C.row_rule("a_pos", "a > 0")],
    )
    both = verdicts.unionByName(
        C.schema_drift_verdicts(cur, baseline)
    )
    assert both.count() == 4


def test_drift_pair_fires_only_for_drifted_columns(spark):
    base = generate_transcripts(spark, 400, seed=42)
    drifted = generate_drifted_transcripts(spark, 400, seed=42, role_shift=0.5)
    role_hist, _, _ = C.baseline_histogram(base, "role", bins=16, categorical=True)
    len_df = base.select(F.length("text").alias("tl"))
    len_hist, lo, hi = C.baseline_histogram(len_df, "tl", bins=32)
    tool_hist, _, _ = C.baseline_histogram(base, "tool", bins=16, categorical=True)
    checks = [
        C.drift_psi("role_drift", "role", role_hist, bins=16, categorical=True, threshold=0.05),
        C.drift_psi("len_drift", "tl", len_hist, bins=32, lo=lo, hi=hi, threshold=0.05),
        C.drift_psi("tool_drift", "tool", tool_hist, bins=16, categorical=True, threshold=0.05),
    ]
    d = drifted.withColumn("tl", F.length("text"))
    out = {r["check_name"]: r["passed"] for r in C.run_checks(d, checks)[0].collect()}
    assert out["role_drift"] is False
    assert out["len_drift"] is False
    assert out["tool_drift"] is True  # undrifted column stays quiet


def test_manifest_sweep_orphans(spark, tmp_path):
    """The resume sweep removes only UNCOMMITTED leftovers: an orphan
    partition dir and a stale _temporary job-attempt dir go; committed
    partition dirs stay — including __HIVE_DEFAULT_PARTITION__ when
    the manifest holds the empty-string partition (NULL/'' both land
    in that dir; unquoting it literally would wrongly sweep committed
    results on every resume)."""
    import os

    from datapatterns_spark.operators.manifest import _sweep_orphans

    out = str(tmp_path / "sweep")
    for d in (
        "verdicts/partition=0",            # committed (in done)
        "verdicts/partition=orphan",       # uncommitted -> swept
        "verdicts/partition=__HIVE_DEFAULT_PARTITION__",  # '' committed
        "verdicts/_temporary",             # killed write -> swept
        "violations/partition=0",
    ):
        os.makedirs(f"{out}/{d}")
    removed = _sweep_orphans(spark, out, {"0", ""})
    assert removed == 2
    assert os.path.isdir(f"{out}/verdicts/partition=0")
    assert os.path.isdir(
        f"{out}/verdicts/partition=__HIVE_DEFAULT_PARTITION__"
    )
    assert not os.path.exists(f"{out}/verdicts/partition=orphan")
    assert not os.path.exists(f"{out}/verdicts/_temporary")
    assert os.path.isdir(f"{out}/violations/partition=0")
    # without '' in the manifest, the default dir IS an orphan
    assert _sweep_orphans(spark, out, {"0"}) == 1
    assert not os.path.exists(
        f"{out}/verdicts/partition=__HIVE_DEFAULT_PARTITION__"
    )


def test_manifest_resume(spark, tmp_path):
    df = generate_transcripts(spark, 200, seed=42, violation_rate=0.01).withColumn(
        "part", F.pmod(F.xxhash64("conv_id"), F.lit(4)).cast("string")
    )
    checks = transcript_check_suite()
    out = str(tmp_path / "run1")
    # first run: only 2 of 4 partitions (simulated crash via batch_size
    # + pre-marking): run on a partition subset
    sub = df.filter(F.col("part").isin(["0", "1"]))
    run_with_manifest(sub, checks, "part", out, key_cols=["conv_id", "turn_idx"])
    assert completed_partitions(spark, out) == {"0", "1"}
    # resume: full table; only the remaining partitions are processed
    verdicts = run_with_manifest(df, checks, "part", out, key_cols=["conv_id", "turn_idx"])
    assert completed_partitions(spark, out) == {"0", "1", "2", "3"}
    # final verdict table covers all 4 partitions x 6 checks exactly once
    assert verdicts.count() == 4 * len(checks)
    # identical to a fresh full run
    fresh = str(tmp_path / "run2")
    v2 = run_with_manifest(df, checks, "part", fresh, key_cols=["conv_id", "turn_idx"])
    a = sorted(map(tuple, verdicts.select("partition", "check_name", "passed", "violation_count").collect()))
    b = sorted(map(tuple, v2.select("partition", "check_name", "passed", "violation_count").collect()))
    assert a == b


def test_manifest_probes_once_per_run(spark, tmp_path, monkeypatch):
    """segment_size="auto" is resolved by ONE probe per run, not one per
    batch, and a resume with nothing left to do runs none.  Manifest
    n_violations (taken from the driver-side verdict rows) still match
    the verdicts written."""
    from datapatterns_spark.operators import manifest as M

    probes = []
    real = M.list_partitions_probed

    def counting(df, partition_col, windows):
        probes.append(windows)
        return real(df, partition_col, windows)

    monkeypatch.setattr(M, "list_partitions_probed", counting)
    df = generate_transcripts(spark, 120, seed=7, violation_rate=0.05).withColumn(
        "part", F.pmod(F.xxhash64("conv_id"), F.lit(4)).cast("string")
    )
    out = str(tmp_path / "probe")
    checks = transcript_check_suite()
    verdicts = run_with_manifest(
        df, checks, "part", out, key_cols=["conv_id", "turn_idx"], batch_size=2
    )
    manifest = spark.read.parquet(f"{out}/manifest")
    assert len(probes) == 1
    assert len({r["started_at"] for r in manifest.collect()}) == 2  # 2 batches
    want = {
        r["partition"]: r["n"]
        for r in verdicts.groupBy("partition")
        .agg(F.sum("violation_count").alias("n"))
        .collect()
    }
    assert {r["partition"]: r["n_violations"] for r in manifest.collect()} == want
    assert sum(want.values()) > 0
    run_with_manifest(df, checks, "part", out, key_cols=["conv_id", "turn_idx"], batch_size=2)
    assert len(probes) == 1


def test_listing_carries_the_probe(spark, tmp_path, monkeypatch):
    """The probed listing lists exactly what list_partitions lists, with
    each partition's sampled hottest-group count, and a fresh
    run_with_manifest resolves segment_size="auto" from it: segmented
    when one partition holds a runaway group, unsegmented otherwise."""
    from datapatterns_spark.operators import manifest as M

    monkeypatch.setattr(C, "AUTO_SEGMENT_THRESHOLD", 1_000)
    monkeypatch.setattr(C, "AUTO_SEGMENT_SIZE", 500)
    balanced = spark.range(400).select(
        F.concat(F.lit("c"), (F.col("id") % 10).cast("string")).alias("conv"),
        (F.col("id") / 10).cast("int").alias("t"),
        F.timestamp_seconds(F.col("id").cast("double")).alias("ts"),
        F.when(F.col("id") % 10 == 0, F.lit(None))
        .otherwise((F.col("id") % 3).cast("string"))
        .alias("p"),
    )
    hot = spark.range(20_000).select(
        F.lit("viral").alias("conv"),
        F.col("id").cast("int").alias("t"),
        F.timestamp_seconds(F.col("id").cast("double") * 2).alias("ts"),
        F.lit("2").alias("p"),
    ).unionByName(balanced)
    windows = [("conv", "t")]
    for df in (balanced, hot):
        probed = M.list_partitions_probed(df, "p", windows)
        assert list(probed) == M.list_partitions(df, "p")
    assert probed["2"] * C.AUTO_SEGMENT_PROBE_MOD > 10_000
    assert max(v for p, v in probed.items() if p != "2") * C.AUTO_SEGMENT_PROBE_MOD < 1_000

    seen = []
    real = M._run_checks

    def recording(*args, **kwargs):
        seen.append(kwargs["segment_size"])
        return real(*args, **kwargs)

    monkeypatch.setattr(M, "_run_checks", recording)
    checks = [C.monotonic("mono", "ts", "conv", "t"), C.unique("uq", ["conv", "t"])]
    for name, df, want in (("bal", balanced, None), ("hot", hot, 500)):
        seen.clear()
        run_with_manifest(df, checks, "p", str(tmp_path / name), key_cols=["conv", "t"])
        assert seen and set(seen) == {want}, (name, seen)


def test_list_partitions_null_and_empty(spark):
    """Partitions list NULL first, then ascending, like Spark's sort; a
    table holding both NULL and '' is refused, because both values are
    written to the one __HIVE_DEFAULT_PARTITION__ directory."""
    from datapatterns_spark.operators.manifest import list_partitions

    df = spark.createDataFrame([("b",), (None,), ("a",), ("b",)], "p string")
    assert list_partitions(df, "p") == [None, "a", "b"]
    assert list_partitions(df.fillna(""), "p") == ["", "a", "b"]
    both = df.unionByName(spark.createDataFrame([("",)], "p string"))
    with pytest.raises(ValueError, match="both NULL and ''"):
        list_partitions(both, "p")


def test_per_turn_text_equality_under_stable_ordering(spark):
    """BASELINE.json input_hint invariant: per-turn text equality under
    stable (conv_id, turn_idx) ordering — two independent builds of the
    same table agree text-for-text, and a validation pass returns rows
    whose per-turn text is byte-identical to its input.  (The generator
    plants duplicate (conv_id, turn_idx) keys, so text joins the sort
    key to keep the order total.)"""
    from datapatterns_spark.operators.validation import validate

    order = ["conv_id", "turn_idx", "text"]
    a = generate_transcripts(spark, n_conversations=120, seed=7, violation_rate=0.01)
    b = generate_transcripts(spark, n_conversations=120, seed=7, violation_rate=0.01)
    ta = [r["text"] for r in a.orderBy(*order).select("text").collect()]
    tb = [r["text"] for r in b.orderBy(*order).select("text").collect()]
    assert ta == tb
    v = validate(a, "RoleFilled:length(trim(role)) > 0").drop("validation_results")
    tv = [r["text"] for r in v.orderBy(*order).select("text").collect()]
    assert tv == ta


def _vv_sets(verdicts, viol):
    v = sorted(
        map(
            tuple,
            verdicts.select(
                "partition", "check_name", "passed", "violation_count"
            ).collect(),
        )
    )
    w = sorted(
        map(tuple, viol.select("partition", "check_name", "key", "detail").collect())
    )
    return v, w


def test_segmented_group_checks_match_unsegmented(spark):
    """segment_size mode (skew hardening for hot groups) must return
    verdicts AND violation rows identical to the unsegmented window for
    any S >= 1 — regressions within a segment, spanning a segment
    boundary, and straddling empty segments, plus fused duplicate-key
    detection, all reconciled."""
    rows = [
        # c1: regression inside a segment (t=1->2) and across the
        # S=4 boundary (t=3 in seg 0 -> t=4 in seg 1)
        ("c1", 0, 100.0), ("c1", 1, 110.0), ("c1", 2, 105.0),
        ("c1", 3, 120.0), ("c1", 4, 115.0), ("c1", 5, 130.0),
        # c2: monotone, spans three segments with a gap (t=0, 9: empty
        # middle segment at S=4)
        ("c2", 0, 50.0), ("c2", 9, 60.0),
        # c3: regression across an EMPTY segment (t=2 -> t=11)
        ("c3", 2, 80.0), ("c3", 11, 70.0),
        # c4: duplicate (g, o) keys (fused uniqueness) + boundary pair
        ("c4", 3, 10.0), ("c4", 3, 10.5), ("c4", 4, 9.0),
        # c5: NULL and negative order keys — NULL segment sorts first
        # (like NULLS FIRST), negative keys floor-divide into negative
        # segments; regression spans the NULL->negative boundary
        ("c5", None, 40.0), ("c5", -6, 30.0), ("c5", -1, 35.0),
        ("c5", 2, 20.0),
    ]
    df = spark.createDataFrame(rows, "conv string, t int, tsv double").withColumn(
        "ts", F.timestamp_seconds("tsv")
    )
    checks = [
        C.monotonic("mono", "ts", "conv", "t"),
        C.unique("uq", ["conv", "t"]),
    ]
    base = _vv_sets(
        *C.run_checks(df, checks, key_cols=["conv", "t"])
    )
    assert sum(r[3] for r in base[0]) > 0  # planted violations found
    for s in (1, 4, 1000):
        seg = _vv_sets(
            *C.run_checks(df, checks, key_cols=["conv", "t"], segment_size=s)
        )
        assert seg == base, f"segment_size={s} diverged"


def test_segment_size_rejects_stray_strings(spark):
    """An un-converted env var ('500') must fail with a message naming
    the accepted values, not a bare TypeError deep in the runner."""
    df = spark.createDataFrame(
        [("c", 0, 1.0), ("c", 1, 2.0)], "conv string, t int, v double"
    )
    checks = [C.monotonic("mono_v", "v", group_by="conv", order_by="t")]
    with pytest.raises(ValueError, match="'auto'"):
        C.run_checks(df, checks, key_cols=["conv", "t"], segment_size="500")


def test_segmented_suite_on_generated_transcripts(spark):
    """The full transcript suite (fused unique+monotonic windows, row
    and stat checks, per-partition grain with a derivable partition
    expression) is segmentation-invariant on generator output with
    planted violations."""
    df = generate_transcripts(spark, n_conversations=300, seed=42, violation_rate=0.01)
    part = F.pmod(F.xxhash64("conv_id"), F.lit(4))
    kw = dict(
        partition_col=part,
        key_cols=["conv_id", "turn_idx"],
        partitions=[str(i) for i in range(4)],
    )
    suite = transcript_check_suite()
    base = _vv_sets(*C.run_checks(df, suite, **kw))
    seg = _vv_sets(*C.run_checks(df, suite, segment_size=8, **kw))
    assert seg == base
    assert sum(r[3] for r in base[0]) > 0


def test_segmented_physical_partition_column(spark):
    """Physical partition columns ride the shuffle; the boundary branch
    must attribute a cross-segment regression to the violating row's
    own partition value."""
    rows = [
        ("p0", "c1", 0, 100.0), ("p0", "c1", 1, 110.0),
        ("p0", "c1", 2, 90.0),   # within-segment regression (S=2: seg 1)
        ("p0", "c1", 3, 120.0),
        ("p0", "c1", 4, 80.0),   # boundary regression into seg 2
    ]
    df = spark.createDataFrame(
        rows, "part string, conv string, t int, tsv double"
    ).withColumn("ts", F.timestamp_seconds("tsv"))
    checks = [C.monotonic("mono", "ts", "conv", "t")]
    kw = dict(partition_col="part", key_cols=["conv", "t"], partitions=["p0"])
    base = _vv_sets(*C.run_checks(df, checks, **kw))
    seg = _vv_sets(*C.run_checks(df, checks, segment_size=2, **kw))
    assert seg == base
    # adjacent-pair regressions: t=2 (90 < 110) and t=4 (80 < 120)
    assert base[0][0][3] == 2


def test_segmented_nonintegral_order_key_falls_back(spark):
    """A non-integral order key cannot segment (floor(o/S) undefined);
    the unsegmented window must be used transparently."""
    rows = [("c1", "a", 100.0), ("c1", "b", 90.0)]
    df = spark.createDataFrame(rows, "conv string, o string, tsv double").withColumn(
        "ts", F.timestamp_seconds("tsv")
    )
    checks = [C.monotonic("mono", "ts", "conv", "o")]
    base = _vv_sets(*C.run_checks(df, checks, key_cols=["conv", "o"]))
    seg = _vv_sets(
        *C.run_checks(df, checks, key_cols=["conv", "o"], segment_size=4)
    )
    assert seg == base
    assert base[0][0][3] == 1


def test_run_checks_randomized_differential(spark):
    """Randomized differential: a pure-Python model of the check
    semantics (domain row rule; fused uniqueness = equal adjacent
    non-NULL order keys; monotonic = adjacent ts regressions in
    (order NULLS FIRST, ts) order) must agree with the engine on
    verdict counts AND violation (check, key) multisets, for the
    unsegmented window and for segment sizes spanning the data."""
    import json
    import random
    from collections import Counter

    domain = ["user", "assistant", "tool"]
    for seed in (1, 7, 42):
        rnd = random.Random(seed)
        rows = []
        for _ in range(180):
            conv = f"c{rnd.randrange(12)}"
            t = rnd.choice([None] + list(range(12)))
            tsv = float(rnd.randrange(50, 200)) if rnd.random() > 0.05 else None
            role = rnd.choice(domain + ["alien", None])
            rows.append((conv, t, tsv, role))
        df = spark.createDataFrame(
            rows, "conv string, t int, tsv double, role string"
        ).withColumn("ts", F.timestamp_seconds("tsv")).drop("tsv")

        # ---- python model ----
        def key_of(conv, t):
            d = {"conv": conv}
            if t is not None:
                d["t"] = t
            return json.dumps(d, separators=(",", ":"))

        py_viol = Counter()
        counts = {"dom": 0, "uq": 0, "mono": 0}
        for conv, t, tsv, role in rows:
            if role not in domain:
                counts["dom"] += 1
                py_viol[("dom", key_of(conv, t))] += 1
        groups = {}
        for conv, t, tsv, role in rows:
            groups.setdefault(conv, []).append((t, tsv))
        for conv, items in groups.items():
            items.sort(key=lambda x: (x[0] is not None, x[0] if x[0] is not None else 0,
                                      x[1] is not None, x[1] if x[1] is not None else 0.0))
            for i, (t, tsv) in enumerate(items):
                dup = (i > 0 and items[i - 1][0] == t and t is not None) or (
                    i + 1 < len(items) and items[i + 1][0] == t and t is not None
                )
                if dup:
                    counts["uq"] += 1
                    py_viol[("uq", key_of(conv, t))] += 1
                if i > 0:
                    pv = items[i - 1][1]
                    if pv is not None and tsv is not None and tsv < pv:
                        counts["mono"] += 1
                        py_viol[("mono", key_of(conv, t))] += 1

        checks = [
            C.in_domain("dom", "role", domain),
            C.unique("uq", ["conv", "t"]),
            C.monotonic("mono", "ts", "conv", "t"),
        ]
        for s in (None, 1, 4):
            v, viol = C.run_checks(
                df, checks, key_cols=["conv", "t"], segment_size=s
            )
            got = {r["check_name"]: r["violation_count"] for r in v.collect()}
            assert got == counts, f"seed={seed} segment_size={s}: {got} != {counts}"
            gv = Counter(
                (r["check_name"], r["key"]) for r in viol.collect()
            )
            assert gv == py_viol, f"seed={seed} segment_size={s} violations diverge"
            viol.unpersist()


def test_auto_segmentation_probes_and_triggers(spark, monkeypatch):
    """The DEFAULT segment_size="auto" must (a) keep the unsegmented
    plan on balanced inputs, (b) detect a pathological hot group from
    its hash-sample probe and segment WITHOUT any caller opt-in, with
    verdicts identical either way."""
    monkeypatch.setattr(C, "AUTO_SEGMENT_THRESHOLD", 1_000)
    monkeypatch.setattr(C, "AUTO_SEGMENT_SIZE", 500)
    # balanced: conversations of <= 40 turns -> probe stays off
    balanced = spark.range(400).select(
        F.concat(F.lit("c"), (F.col("id") % 10).cast("string")).alias("conv"),
        (F.col("id") / 10).cast("int").alias("t"),
        F.timestamp_seconds(F.col("id").cast("double")).alias("ts"),
    )
    assert C._auto_segment_size(balanced, [("conv", "t")]) is None
    # pathological: one 20k-turn conversation among normal ones
    hot = spark.range(20_000).select(
        F.lit("viral").alias("conv"),
        F.col("id").cast("int").alias("t"),
        F.timestamp_seconds(F.col("id").cast("double") * 2).alias("ts"),
    ).unionByName(balanced)
    assert C._auto_segment_size(hot, [("conv", "t")]) == 500
    checks = [C.monotonic("mono", "ts", "conv", "t"), C.unique("uq", ["conv", "t"])]
    auto = _vv_sets(*C.run_checks(hot, checks, key_cols=["conv", "t"]))
    off = _vv_sets(
        *C.run_checks(hot, checks, key_cols=["conv", "t"], segment_size=None)
    )
    pinned = _vv_sets(
        *C.run_checks(hot, checks, key_cols=["conv", "t"], segment_size=500)
    )
    assert auto == off == pinned


def test_partition_cardinality_guard(spark, monkeypatch):
    """A high-cardinality partition_col must fail with a clear error
    (the verdict grid is assembled driver-side), pulling at most
    cap+1 slim rows — never OOM the driver."""
    monkeypatch.setattr(C, "MAX_VERDICT_PARTITIONS", 50)
    df = spark.range(500).select(
        F.col("id").cast("string").alias("rowid"),
        (F.col("id") % 7).alias("v"),
    )
    with pytest.raises(ValueError, match="more than 50 distinct"):
        C.run_checks(
            df,
            [C.row_rule("v_small", "v < 7")],
            partition_col="rowid",
        )
    # passing the expected values explicitly skips the guard (the
    # caller has asserted the grid size)
    verdicts, _ = C.run_checks(
        df,
        [C.row_rule("v_small", "v < 7")],
        partition_col="rowid",
        partitions=[str(i) for i in range(3)],
    )
    assert verdicts.count() == 3
