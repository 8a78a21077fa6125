"""JVM-side literal DataFrames for small driver-known tables.

``spark.createDataFrame(rows)`` in classic PySpark produces a
pickled-Python-RDD-backed plan (``Scan ExistingRDD``): every action on
it — and on anything joined with it — must launch Python worker
processes.  In this engine tiny driver-side tables (attribute
metadata, verdict grids, manifest rows, the profile's pass-1 summary,
Benford expected rows) sit inside nearly every plan, so that overhead
would land on every query; measured on the bench host, a 16x6-row
crossJoin of two such frames costs ~20s while the JVM-literal
equivalent runs in ~0.4s.

:func:`lit_df` builds the same table as a pure-JVM plan instead.  The
rows are serialized on the driver into ONE JSON string and the frame
is ``range(1).select(inline(from_json(lit(payload), array<schema>)))``.
Catalyst constant-folds ``from_json`` over a literal, so the optimized
plan is ``Generate inline(<literal array>)`` over a one-row range —
joined broadcast, and no Python worker is ever involved.  The range has
ONE partition: left to ``defaultParallelism`` slices, every read or
write of the frame would run that many tasks, all but one empty (and a
write would leave an empty schema file beside the one holding rows).

Cost: a call crosses py4j a fixed number of times, whatever the row
count — 23 commands for a 6-column verdict grid of 10 or of 1,000
rows.  Building one ``F.lit(v).cast(t)`` Column per cell instead costs
dozens of round trips per row: 2,042 and 202,022 commands for the
same two grids.  Keep frames under a few thousand rows: the payload is
embedded in the plan.

Cells are written per field type (a Decimal as its exact string,
NaN/±Infinity as the non-numeric tokens Spark's JSON reader accepts),
and the parse runs in FAILFAST mode: a cell whose JSON type does not
match its field — ``3.0`` in an ``int`` field, say — raises when the
frame is evaluated.  The default PERMISSIVE mode would read it as a
silent NULL where a cast gives ``3``.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _schema(schema: str | T.StructType) -> T.StructType:
    if isinstance(schema, T.StructType):
        return schema
    return T.StructType.fromDDL(schema)


def _cell(v, t: T.DataType):
    if v is None:
        return None
    if isinstance(t, T.DecimalType):
        # Decimal is not a JSON type; the reader parses the exact string
        return str(v)
    if isinstance(t, T.ArrayType):
        return [_cell(x, t.elementType) for x in v]
    return v


def _row_json(st: T.StructType, row: tuple) -> str:
    return json.dumps(
        {f.name: _cell(v, f.dataType) for f, v in zip(st.fields, row, strict=True)}
    )


def lit_df(
    spark: SparkSession,
    rows: list[tuple],
    schema: str | T.StructType,
) -> DataFrame:
    """A small literal DataFrame evaluated entirely JVM-side."""
    st = _schema(schema)
    if not rows:
        return spark.range(0, 0, 1, 1).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in st.fields]
        )
    payload = "[" + ",".join(_row_json(st, row) for row in rows) + "]"
    return spark.range(0, 1, 1, 1).select(
        F.inline(F.from_json(F.lit(payload), T.ArrayType(st), {"mode": "FAILFAST"}))
    )


def _sql_str(s: str) -> str:
    """A SQL string expression for ``s`` that reads the same under any
    string-literal escaping setting: its UTF-8 bytes as a hex literal."""
    return f"CAST(X'{s.encode('utf-8').hex()}' AS STRING)"


def _non_null_default(t: T.DataType) -> str:
    if isinstance(t, T.ArrayType):
        return f"CAST(array() AS {t.simpleString()})"
    if isinstance(t, T.NumericType):
        return f"CAST(0 AS {t.simpleString()})"
    raise TypeError(f"no non-null fallback for {t.simpleString()}")


def local_df(
    spark: SparkSession,
    rows: list[tuple],
    schema: str | T.StructType,
) -> DataFrame:
    """A small literal DataFrame planned as a ``LocalRelation``.

    Same rows, cell rules and FAILFAST parse as :func:`lit_df`, but the
    rows are parsed when the frame is built, and reading it back runs
    no Spark job.  A cell that does not match its field raises here.
    The frame's schema is ``schema`` including nullability: a
    non-nullable field reads through a ``coalesce`` whose fallback
    never applies, and a None cell in one raises ``ValueError``."""
    st = _schema(schema)
    opts = "map('mode', 'FAILFAST')"
    type_sql = _sql_str(st.json())
    values = ", ".join(
        f"(from_json({_sql_str(_row_json(st, row))}, {type_sql}, {opts}))"
        for row in rows
    ) or f"(from_json('{{}}', {type_sql}, {opts}))"
    cols = []
    for i, f in enumerate(st.fields):
        if not f.nullable and any(row[i] is None for row in rows):
            raise ValueError(f"None in non-nullable field {f.name!r}")
        name = "`" + f.name.replace("`", "``") + "`"
        ref = f"r.{name}"
        if not f.nullable:
            ref = f"coalesce({ref}, {_non_null_default(f.dataType)})"
        cols.append(f"{ref} AS {name}")
    return spark.sql(
        f"SELECT {', '.join(cols)} FROM VALUES {values} AS t(r)"
        + ("" if rows else " LIMIT 0")
    )
