"""Runtime schema walk — the Spark analogue of the reference's
compile-time record introspection (``#EXPORTXML``/``#FOR`` walks,
/root/reference/Profile.ecl:334-393).

Walks ``df.schema`` producing one :class:`AttrInfo` per profilable
scalar attribute:

* nested ``StructType`` fields are flattened into dotted names
  (``parent.child``), mirroring Profile.ecl:349-359;
* ``ArrayType(scalar)`` columns are "SET OF" attributes
  (Profile.ecl:531) profiled as joined strings with element-count
  lengths;
* ``ArrayType(StructType)`` columns are *child datasets*
  (Profile.ecl:356-378): they are returned separately so the caller
  can ``explode()`` and profile them independently.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T

# Attribute "kind" drives value coercion / filled semantics / pattern
# mapping.  The reference dispatches on regexes over the ECL type name
# (Profile.ecl:782-848); we dispatch on the Spark DataType class.
KIND_STRING = "string"
KIND_NUMERIC = "numeric"
KIND_BOOLEAN = "boolean"
KIND_BINARY = "binary"
KIND_ARRAY = "array"  # SET OF <scalar>
KIND_TEMPORAL = "temporal"  # timestamp/date: profiled via string form
# every kind the walk assigns
KINDS = (KIND_STRING, KIND_NUMERIC, KIND_BOOLEAN, KIND_BINARY, KIND_ARRAY, KIND_TEMPORAL)

_NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)


@dataclass(frozen=True)
class AttrInfo:
    """One profilable scalar attribute."""

    name: str  # dotted full name, e.g. "foo.x"
    kind: str
    given_type: str  # Spark simpleString, reported as given_attribute_type
    ordinal: int  # 1-based position in the schema walk (output order)
    element_type: str | None = None  # for KIND_ARRAY: element simpleString

    @property
    def is_given_numeric(self) -> bool:
        return self.kind == KIND_NUMERIC

    @property
    def is_given_boolean(self) -> bool:
        return self.kind == KIND_BOOLEAN


@dataclass(frozen=True)
class ChildDataset:
    """An ArrayType(StructType) column — profiled via explode()."""

    name: str
    ordinal: int
    element: T.StructType


def _kind_of(dt: T.DataType) -> str | None:
    if isinstance(dt, T.StringType):
        return KIND_STRING
    if isinstance(dt, _NUMERIC_TYPES):
        return KIND_NUMERIC
    if isinstance(dt, T.BooleanType):
        return KIND_BOOLEAN
    if isinstance(dt, T.BinaryType):
        return KIND_BINARY
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return KIND_TEMPORAL
    return None


def walk_schema(
    schema: T.StructType,
    field_list: list[str] | None = None,
) -> tuple[list[AttrInfo], list[ChildDataset]]:
    """Return (scalar attributes, child datasets) in schema order.

    ``field_list`` mirrors the reference's ``fieldListStr`` filter
    (Profile.ecl:527): when given, only listed attributes (dotted
    names, case-insensitive) are returned.  A listed ``child.field``
    name retains the child dataset with that field selection.
    """
    wanted = {f.strip().lower() for f in field_list} if field_list else None
    attrs: list[AttrInfo] = []
    children: list[ChildDataset] = []
    ordinal = 0

    def keep(name: str) -> bool:
        return wanted is None or name.lower() in wanted

    def visit(fields: list[T.StructField], prefix: str) -> None:
        nonlocal ordinal
        for f in fields:
            full = f"{prefix}{f.name}"
            dt = f.dataType
            if isinstance(dt, T.StructType):
                visit(dt.fields, f"{full}.")
                continue
            ordinal += 1
            if isinstance(dt, T.ArrayType):
                if isinstance(dt.elementType, T.StructType):
                    # child dataset: keep if any wanted field lives under it
                    if wanted is None or any(
                        w == full.lower() or w.startswith(full.lower() + ".")
                        for w in wanted
                    ):
                        children.append(
                            ChildDataset(full, ordinal, dt.elementType)
                        )
                    continue
                if keep(full):
                    attrs.append(
                        AttrInfo(
                            full,
                            KIND_ARRAY,
                            dt.simpleString(),
                            ordinal,
                            element_type=dt.elementType.simpleString(),
                        )
                    )
                continue
            kind = _kind_of(dt)
            if kind is None:
                continue  # maps & exotic types: not profilable
            if keep(full):
                attrs.append(AttrInfo(full, kind, dt.simpleString(), ordinal))

    visit(schema.fields, "")
    return attrs, children
