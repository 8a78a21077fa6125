"""plans.local.lit_df and local_df: driver-side rows become a
JVM-literal frame — exact round trip for every field type the engine's
callers use, FAILFAST on a cell that does not match its field, and a
py4j cost that does not grow with the row count."""

import math
from decimal import Decimal

import pytest
from py4j import protocol as proto
from pyspark.sql import types as T

from datapatterns_spark.operators.constraints import VERDICT_SCHEMA
from datapatterns_spark.plans.local import lit_df, local_df

SCHEMA = (
    "s string, l long, i int, d double, b boolean, "
    "a array<string>, dec decimal(20,4)"
)
ROWS = [
    ('quote " backslash \\ newline \n tab \t emoji 😀 ü', -(2**63), -(2**31), float("nan"),
     True, [], Decimal("1234567890123456.7890")),
    ("", 2**63 - 1, 2**31 - 1, float("inf"), False, [None, "x", ""], Decimal("-0.0001")),
    (None, None, None, float("-inf"), None, None, None),
    ("plain", 0, 0, -0.0, True, ["é", None], Decimal("0")),
    ("tiny", 1, -1, 5e-324, False, ["a\"b"], Decimal("9999999999999999.9999")),
    ("round", 7, 3, 0.1, True, [], Decimal("1E+2")),
]


def _same(a, b) -> bool:
    if isinstance(b, float):
        if math.isnan(b):
            return isinstance(a, float) and math.isnan(a)
        return a == b and math.copysign(1.0, a) == math.copysign(1.0, b)
    return a == b and type(a) is type(b)


def test_lit_df_round_trips_edge_values(spark):
    df = lit_df(spark, ROWS, SCHEMA)
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in T.StructType.fromDDL(SCHEMA).fields
    ]
    got = [tuple(r) for r in df.collect()]
    assert len(got) == len(ROWS)
    for g, want in zip(got, ROWS):
        for a, b in zip(g, want):
            assert _same(a, b), (a, b)
    # an int cell in a double field reads as its value
    assert lit_df(spark, [(3,)], "d double").collect()[0]["d"] == 3.0
    # no rows: the typed empty frame
    empty = lit_df(spark, [], SCHEMA)
    assert empty.schema == df.schema and empty.count() == 0


@pytest.mark.parametrize(
    "cell, ddl",
    [(3.0, "i int"), ("3", "l long"), ("yes", "b boolean"), (2**40, "i int")],
)
def test_lit_df_mismatched_cell_raises(spark, cell, ddl):
    """FAILFAST: a cell whose JSON type does not fit its field raises
    instead of reading as NULL."""
    with pytest.raises(Exception, match="FAILFAST|MALFORMED_RECORD"):
        lit_df(spark, [("ok", cell)], f"s string, {ddl}").collect()


def test_lit_df_py4j_calls_do_not_grow_with_rows(spark, monkeypatch):
    """Building a 1,000-row frame sends the same py4j commands as a
    10-row one: the rows cross as one JSON literal, not a Column per
    cell."""
    client = spark.sparkContext._gateway._gateway_client
    calls = []
    send = client.send_command
    # reference releases of garbage-collected JVM handles ride the same
    # channel whenever Python frees them; they are not this call's cost
    release = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME

    def counting(command, *args, **kwargs):
        if not command.startswith(release):
            calls.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)

    def build(n: int) -> int:
        rows = [(f"p{i}", f"check_{i % 7}", i % 2 == 0, i, i / 3, [f"v{i}"]) for i in range(n)]
        calls.clear()
        lit_df(spark, rows, VERDICT_SCHEMA)
        return len(calls)

    build(10)  # warm any first-use lookups
    small, large = build(10), build(1000)
    assert small == large
    assert small < 40


def test_local_df_is_a_local_relation(spark, monkeypatch):
    """local_df reads back the same edge values with no Spark job, keeps
    a non-nullable field's nullability, raises on a mismatched cell when
    built, and sends the same py4j commands for 10 rows as for 1,000."""
    df = local_df(spark, ROWS, SCHEMA)
    assert "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()
    sc = spark.sparkContext
    sc.setJobGroup("local-df", "local-df")
    try:
        got = [tuple(r) for r in df.collect()]
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup("local-df")) == []
    assert df.schema == lit_df(spark, ROWS, SCHEMA).schema
    for g, want in zip(got, ROWS, strict=True):
        for a, b in zip(g, want):
            assert _same(a, b), (a, b)
    st = T.StructType(
        [
            T.StructField("a", T.ArrayType(T.StructType.fromDDL("v string")), False),
            T.StructField("d", T.DoubleType(), False),
        ]
    )
    assert local_df(spark, [([{"v": "x"}], 1.5)], st).schema == st
    with pytest.raises(ValueError):
        local_df(spark, [(None, 1.5)], st)
    with pytest.raises(Exception, match="FAILFAST|MALFORMED_RECORD|INLINE_TABLE"):
        local_df(spark, [("ok", 3.0)], "s string, i int")

    client = sc._gateway._gateway_client
    calls = []
    send = client.send_command
    release = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME

    def counting(command, *args, **kwargs):
        if not command.startswith(release):
            calls.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)

    def build(n: int) -> int:
        rows = [(f"p{i}", f"check_{i % 7}", i % 2 == 0, i, i / 3, [f"v{i}"]) for i in range(n)]
        calls.clear()
        local_df(spark, rows, VERDICT_SCHEMA)
        return len(calls)

    build(10)
    assert build(10) == build(1000) < 40
