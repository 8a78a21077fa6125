"""Physical-plan assertions — the scale claims, codified.

Each test inspects ``explain``-level plans the way a reviewer would
(SURVEY.md §4): column pruning must reach the parquet scan, row-scope
validation must be shuffle-free, and no operator may fall back to
per-row Python.
"""

import re

import pytest
from pyspark.sql import functions as F

from datapatterns_spark.operators.profile import profile
from datapatterns_spark.operators.validation import validate

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _new_executions(spark, action) -> list:
    """Spark's SQL status-store entries (``SQLExecutionUIData``) of
    every SQL execution ``action`` runs."""
    sc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()
    sc.listenerBus().waitUntilEmpty()
    before = store.executionsList()
    last = max(
        (before.apply(i).executionId() for i in range(before.size())), default=-1
    )
    action()
    sc.listenerBus().waitUntilEmpty()
    after = store.executionsList()
    return [
        e
        for e in (after.apply(i) for i in range(after.size()))
        if e.executionId() > last
    ]


def _executed_plans(spark, action) -> list[str]:
    """The formatted physical plans of every SQL execution ``action``
    runs, read from Spark's SQL status store (final AQE plans).

    Every entry must hold a plan.  An AQE metric update that reaches
    the store after its execution ended (posted under a wrong execution
    id by a query that ran nested under it) replaces the finished entry
    with a fresh one that has none."""
    plans = [e.physicalPlanDescription() for e in _new_executions(spark, action)]
    assert None not in plans, "a status-store entry lost its plan"
    return plans


_PYTHON_OPS = ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas")


def _profile_plans(spark, df, profiled: set[str], **kw) -> list[str]:
    """The plans of every SQL execution of one ``profile`` call and the
    read-back of its result.  Each must stay JVM-side (no per-row
    Python), and each parquet scan must read only ``profiled`` columns
    (ReadSchema pruning at the scan)."""
    plans = _executed_plans(spark, lambda: profile(df, **kw).collect())
    assert plans
    for plan in plans:
        for op in _PYTHON_OPS:
            assert op not in plan, op
        for schema in re.findall(r"ReadSchema: struct<(.*)>", plan):
            read = set(re.findall(r"(?:^|,)([^,:<>]+):", schema))
            assert read and read <= profiled, read
    return plans


def test_profile_prunes_scan_columns(spark):
    """A 2-column profile of an 11-column parquet table reads only those
    2 columns, in every SQL execution the call runs."""
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    cols = {"l_returnflag", "l_quantity"}
    plans = _profile_plans(
        spark, df, cols, field_list=sorted(cols), features=("fill_rate", "cardinality")
    )
    assert any("ReadSchema" in p for p in plans), "no parquet scan with ReadSchema found"


def test_validate_is_shuffle_free(spark):
    """Validate() is row-local (Validation.ecl:286-296 is one PROJECT);
    its plan must contain no Exchange."""
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    out = validate(df, "positive_qty:l_quantity > 0; has_flag:StrLen(l_returnflag) > 0")
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.parametrize("mode", ["exact", "approx"])
def test_profile_has_no_python_udfs(spark, mode):
    """Every SQL execution of a profile stays JVM-side (input_hint
    mandate: no per-row Python) and reads only the profiled columns."""
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    cols = {"l_returnflag", "l_quantity"}
    _profile_plans(spark, df, cols, field_list=sorted(cols), mode=mode)


def test_bucketed_table_group_checks_need_no_shuffle(spark, tmp_path):
    """The 10^12-row storage layout (CLUSTERED BY group-key, SORTED BY
    (group, order) — Iceberg bucket partitioning with a sort order):
    a group-scope check window over the bucketed table must plan with
    NO Exchange and NO Sort (the scan's bucket spec satisfies the
    window's required distribution and ordering), and the verdicts
    must equal the plain-parquet path's."""
    from pyspark.sql import Window

    from datapatterns_spark.operators import constraints as C
    from datapatterns_spark.sources.transcripts import generate_transcripts

    df = generate_transcripts(spark, n_conversations=300, seed=7)
    name = "dp_test_bucketed_transcripts"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        df.repartition(8, "conv_id")
        .write.bucketBy(8, "conv_id")
        .sortBy("conv_id", "turn_idx")
        .option("path", str(tmp_path / "bucketed"))
        .mode("overwrite")
        .saveAsTable(name)
    )
    bucketed = spark.table(name)

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    windowed = bucketed.select(
        "conv_id", "turn_idx", F.lag("ts").over(w).alias("prev_ts")
    )
    plan = _plan(windowed)
    assert "Exchange" not in plan, plan
    assert "Sort" not in plan.replace("SortedBy", ""), plan

    checks = [
        C.unique("uq", ["conv_id", "turn_idx"]),
        C.monotonic("mono", "ts", "conv_id", "turn_idx"),
    ]
    v_bucketed, _ = C.run_checks(bucketed, checks, key_cols=["conv_id", "turn_idx"])
    v_plain, _ = C.run_checks(df, checks, key_cols=["conv_id", "turn_idx"])
    cols = ["partition", "check_name", "passed", "violation_count"]
    assert sorted(map(tuple, v_bucketed.select(*cols).collect())) == sorted(
        map(tuple, v_plain.select(*cols).collect())
    )
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_profile_assembly_never_rescans_source(spark):
    """In approx mode the final assembly must consume materialized
    intermediates, never re-derive them from the source: the returned
    plan is a pure literal frame — no FileScan at all."""
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    prof = profile(df, field_list=["l_returnflag", "l_quantity"], mode="approx")
    plan = _plan(prof)
    assert "Scan parquet" not in plan and "FileScan" not in plan


def test_approx_profile_executions_are_not_nested(spark):
    """The approx profile runs its independent passes from pool
    threads.  Each pass must be its own root SQL execution: a pass that
    starts under a sibling's execution id is shown nested under it, and
    the sibling's late metric updates land on the wrong execution."""
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    execs = _new_executions(spark, lambda: profile(df, mode="approx").collect())
    assert execs
    nested = [
        (e.executionId(), e.rootExecutionId())
        for e in execs
        if e.rootExecutionId() != e.executionId()
    ]
    assert nested == []


def test_exact_profile_folds_no_sketch(spark):
    """Exact mode reports its own exact cardinality and numeric stats,
    so its fold builds no HLL sketch and no quantile sketch that it
    would then discard: no executed plan of an all-features exact
    profile holds ``hll_sketch_agg`` or ``percentile_approx``."""
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plans = _executed_plans(spark, lambda: profile(df, mode="exact").collect())
    assert plans
    for plan in plans:
        assert "hll_sketch_agg" not in plan
        assert "percentile_approx" not in plan


def _pass1_partial_aggs(spark, df, **kw) -> list[str]:
    """The formatted-explain nodes of the approx profile's pass-1
    partial aggregate (one blank-line-separated section per node)."""
    plans = _executed_plans(spark, lambda: profile(df, mode="approx", **kw).collect())
    assert plans
    nodes = []
    for plan in plans:
        assert "HyperLogLogPlusPlus" not in plan
        assert "approx_count_distinct" not in plan
        nodes += [
            node
            for node in plan.split("\n\n")
            if re.search(r"^Input \[\d+\]: \[.*\bvhash#", node, re.M)
            and re.search(r"^Functions \[\d+\]: \[partial_", node, re.M)
        ]
    assert nodes, "pass-1 partial aggregate not found in the executed plans"
    return nodes


def test_approx_profile_pass1_buffer_stays_narrow(spark):
    """Pass 1 of the approx profile counts distinct values with
    DataSketches HLL, whose state is one binary buffer column.  Spark's
    HLL++ keeps each register as its own long column (889 partial
    aggregate outputs on this table), which bloats the projections
    Spark generates for the aggregate; neither it nor any other wide
    register buffer may come back.  A feature subset folds only what it
    reports: with patterns alone, no type-flag AND-fold and no
    aggregate of the numeric reading ``v``."""
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    widths = [
        int(re.search(r"^Results \[(\d+)\]", node, re.M)[1])
        for node in _pass1_partial_aggs(spark, df)
    ]
    assert max(widths) < 64, widths
    for node in _pass1_partial_aggs(spark, df, features=("patterns",)):
        functions = re.search(r"^Functions \[\d+\]: (.*)$", node, re.M)[1]
        assert "bit_and" not in functions, functions
        assert not re.search(r"\bv#\d+", functions), functions


def test_incremental_state_prunes_and_stays_jvm(spark):
    """The per-partition state pass must read only the profiled columns
    + the partition column, keep every expression JVM-side, and
    aggregate with map-side partials (the merge contract depends on
    partial+final hash agg, not a sort)."""
    from datapatterns_spark.operators.incremental import (
        merge_states,
        profile_state,
    )

    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    st = profile_state(
        df, "o_orderpriority", field_list=["o_orderstatus", "o_custkey"]
    )
    plan = _plan(st)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans
    for ln in scans:
        schema = ln.split("ReadSchema:")[1]
        assert "o_orderstatus" in schema and "o_custkey" in schema
        assert "o_totalprice" not in schema and "o_orderdate" not in schema
    assert "partial" in plan  # map-side combine before the exchange
    merged = merge_states(st)
    mplan = _plan(merged)
    assert "BatchEvalPython" not in mplan and "ArrowEvalPython" not in mplan


def test_digest_pass_slim_shuffle(spark):
    """The KLL quantile state is one more column of the state
    aggregation: profile_state(quantile_delta=...) scans its input
    exactly once, builds sub-sketches map-side so its one shuffle
    moves sketches rather than values, and neither it, merge_states
    nor digest_drift ever leaves the JVM (no Arrow/pickled Python
    operator of any shape)."""
    from datapatterns_spark.operators.incremental import (
        digest_drift,
        merge_states,
        profile_state,
    )

    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    st = profile_state(
        df,
        "o_orderpriority",
        field_list=["o_custkey", "o_totalprice", "o_orderstatus"],
        quantile_delta=100.0,
    )
    plan = _plan(st)
    assert len([ln for ln in plan.splitlines() if "ReadSchema" in ln]) == 1
    assert "kll_sketch_agg_double" in plan
    # one shuffle, hash-partitioned on (partition, attribute), with the
    # partial sketch aggregate below it (plan prints consumers first)
    lines = plan.splitlines()
    exch = [i for i, ln in enumerate(lines) if "Exchange hashpartitioning" in ln]
    assert len(exch) == 1
    partial = next(
        i for i, ln in enumerate(lines) if "partial_kll_sketch_agg_double" in ln
    )
    assert exch[0] < partial
    python_ops = (
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
    )
    for p in (plan, _plan(merge_states(st)), _plan(digest_drift(st, st))):
        for op in python_ops:
            assert op not in p, op
