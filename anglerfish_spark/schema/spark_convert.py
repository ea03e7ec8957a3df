"""AvroType ↔ Spark ``StructType`` conversion.

The Spark-facing half of the schema front-end (reference interop surface
I1-I3, data/avro/AvroGenericInteropFAlgebras.scala:62-150,296-376, re-aimed
at Catalyst types instead of ``org.apache.avro.Schema``):

* enum → ``StringType`` + metadata carrying the symbol list (decode-time
  domain check happens in the codec layer);
* fixed → ``BinaryType`` + metadata length;
* union ``["null", T]`` → nullable T; any other union → a *tagged struct*
  ``STRUCT<member_a, member_b, …>`` with exactly one non-null member (the
  same encoding spark-avro uses), branch order recorded in metadata;
* recursive references → depth-bounded unrolling: each named type may be
  re-entered ``max_depth`` times, beyond which the branch truncates to
  ``NullType`` (the engine analogue of the reference's recursion truncation
  before export, AvroGenericInteropFAlgebras.scala:63-68).

Catalyst schemas are finite trees, so *some* truncation rule is forced;
depth-bounded unrolling matches spark-avro's ``recursiveFieldMaxDepth``
approach and is documented in SURVEY.md §1.2.
"""

from __future__ import annotations

from pyspark.sql import types as T

from ..errors import InvalidParserStateError
from .model import (
    AvroArray,
    AvroEnum,
    AvroField,
    AvroFixed,
    AvroMap,
    AvroPrimitive,
    AvroRecord,
    AvroRecursionRef,
    AvroType,
    AvroUnion,
    LogicalType,
    NamedType,
    Primitive,
    SortOrder,
)

META_ENUM_SYMBOLS = "anglerfish.enum.symbols"
META_ENUM_NAME = "anglerfish.enum.name"
META_FIXED_LENGTH = "anglerfish.fixed.length"
META_FIXED_NAME = "anglerfish.fixed.name"
META_UNION_BRANCHES = "anglerfish.union.branches"
META_DOC = "anglerfish.doc"
META_ALIASES = "anglerfish.aliases"
META_ORDER = "anglerfish.order"
META_DEFAULT = "anglerfish.default.json"
META_TRUNCATED = "anglerfish.recursion.truncated"
META_LOGICAL = "anglerfish.logicalType"

_PRIM_TO_SPARK = {
    Primitive.NULL: T.NullType(),
    Primitive.BOOLEAN: T.BooleanType(),
    Primitive.INT: T.IntegerType(),
    Primitive.LONG: T.LongType(),
    Primitive.FLOAT: T.FloatType(),
    Primitive.DOUBLE: T.DoubleType(),
    Primitive.BYTES: T.BinaryType(),
    Primitive.STRING: T.StringType(),
}


def _logical_spark_type(logical) -> tuple[T.DataType, dict]:
    """Catalyst type for a logical annotation on a primitive carrier.

    Beyond-reference surface (AvroData.scala:17 TODO): Spark has native
    types for all of them — date/timestamp/timestamp_ntz/time/decimal —
    so the annotation maps to the real type; the original logical name
    rides in field metadata for lossless export.

    A spec-valid decimal precision beyond Catalyst's cap of 38 has no
    native representation — the carrier (``bytes``) is used, annotation
    kept in metadata only."""
    md = {META_LOGICAL: logical.name}
    if logical.name == "date":
        return T.DateType(), md
    if logical.name in ("timestamp-millis", "timestamp-micros"):
        return T.TimestampType(), md
    if logical.name in ("local-timestamp-millis", "local-timestamp-micros"):
        return T.TimestampNTZType(), md
    if logical.name in ("time-millis", "time-micros"):
        return T.TimeType(), md
    if logical.name == "decimal":
        if logical.precision > 38:
            return T.BinaryType(), md
        return T.DecimalType(logical.precision, logical.scale), md
    if logical.name == "uuid":
        return T.StringType(), md
    raise InvalidParserStateError(f"unexpected logical type {logical!r}")


def is_nullable(t: AvroType) -> bool:
    if isinstance(t, AvroPrimitive):
        return t.kind is Primitive.NULL
    if isinstance(t, AvroUnion):
        return t.is_nullable
    if isinstance(t, AvroRecursionRef):
        return True  # may truncate to null at the depth bound
    return False


def union_branch_name(member: AvroType) -> str:
    """Stable tagged-struct field name for a union member.

    Short name for named types (``member_Color`` — FIXTURES.md F3), the
    type name for primitives, the literal ``array``/``map`` otherwise
    (mirroring the branch-key rules of reference
    selectUnionMemberByName, AvroJsonFAlgebras.scala:536-565).
    """
    if isinstance(member, NamedType):
        return f"member_{member.name}"
    if isinstance(member, AvroRecursionRef):
        return f"member_{member.fqn.rsplit('.', 1)[-1]}"
    if isinstance(member, AvroPrimitive):
        return f"member_{member.type_name}"
    if isinstance(member, AvroArray):
        return "member_array"
    if isinstance(member, AvroMap):
        return "member_map"
    raise InvalidParserStateError(f"unexpected union member {member!r}")


def union_field_names(u: AvroUnion) -> list[str]:
    """Tagged-struct field names for a union's non-null members, including
    the collision qualification applied by ``to_struct_type`` — the single
    source of truth for the union encoding's field names."""
    names = [union_branch_name(m) for m in u.non_null_members]
    if len(set(names)) != len(names):  # short-name collision → qualify
        names = [f"member_{i}_{n.removeprefix('member_')}" for i, n in enumerate(names)]
    return names


#: :func:`to_struct_type`'s default unroll bound, shared with the typed
#: decoders' compiled view, whose rows must fit the struct declared here
MAX_DEPTH = 10


class _Converter:
    def __init__(self, env: dict[str, AvroType], max_depth: int):
        self.env = env
        self.max_depth = max_depth
        self.depth: dict[str, int] = {}  # per-FQN re-entry count

    def convert(self, t: AvroType) -> tuple[T.DataType, dict]:
        """Returns (spark type, extra metadata for the enclosing field)."""
        if isinstance(t, AvroPrimitive):
            if t.logical is not None:
                return _logical_spark_type(t.logical)
            return _PRIM_TO_SPARK[t.kind], {}
        if isinstance(t, AvroEnum):
            return T.StringType(), {META_ENUM_NAME: t.fqn, META_ENUM_SYMBOLS: list(t.symbols)}
        if isinstance(t, AvroFixed):
            md = {META_FIXED_NAME: t.fqn, META_FIXED_LENGTH: t.length}
            if t.logical is not None and t.logical.name == "decimal":
                dt, lmd = _logical_spark_type(t.logical)
                return dt, {**md, **lmd}
            return T.BinaryType(), md
        if isinstance(t, AvroArray):
            dt, _ = self.convert(t.items)
            return T.ArrayType(dt, containsNull=is_nullable(t.items)), {}
        if isinstance(t, AvroMap):
            dt, _ = self.convert(t.values)
            return T.MapType(T.StringType(), dt, valueContainsNull=is_nullable(t.values)), {}
        if isinstance(t, AvroRecord):
            return self.convert_record(t), {}
        if isinstance(t, AvroUnion):
            return self.convert_union(t)
        if isinstance(t, AvroRecursionRef):
            return self.convert_ref(t)
        raise InvalidParserStateError(f"unexpected type {t!r}")

    def convert_ref(self, ref: AvroRecursionRef) -> tuple[T.DataType, dict]:
        target = self.env.get(ref.fqn)
        if target is None:
            raise InvalidParserStateError(f"dangling recursion ref {ref.fqn!r}")
        if self.depth.get(ref.fqn, 0) >= self.max_depth:
            # truncate: this branch of the unrolled schema always decodes null
            return T.NullType(), {META_TRUNCATED: True}
        # depth accounting happens in convert_record (a record definition
        # counts as one occurrence; each unroll adds another)
        return self.convert(target)

    def convert_union(self, u: AvroUnion) -> tuple[T.DataType, dict]:
        non_null = u.non_null_members
        if len(non_null) == 0:
            return T.NullType(), {}
        if len(non_null) == 1:
            return self.convert(non_null[0])
        names = union_field_names(u)
        fields = []
        for name, m in zip(names, non_null):
            dt, extra = self.convert(m)
            md = dict(extra)
            fields.append(T.StructField(name, dt, nullable=True, metadata=md))
        return T.StructType(fields), {META_UNION_BRANCHES: names}

    def convert_record(self, r: AvroRecord) -> T.StructType:
        # a record definition itself counts as entering its own FQN, so a
        # self-referencing field sees depth 1..max_depth
        n = self.depth.get(r.fqn, 0)
        self.depth[r.fqn] = n + 1
        try:
            fields = []
            for f in r.fields:
                dt, extra = self.convert(f.type)
                md = dict(extra)
                if f.doc is not None:
                    md[META_DOC] = f.doc
                if f.aliases:
                    md[META_ALIASES] = list(f.aliases)
                if f.order is not SortOrder.ASCENDING:
                    md[META_ORDER] = f.order.value
                if f.has_default:
                    import json as _json

                    md[META_DEFAULT] = _json.dumps(f.default)
                fields.append(
                    T.StructField(f.name, dt, nullable=is_nullable(f.type) or f.has_default, metadata=md)
                )
            return T.StructType(fields)
        finally:
            self.depth[r.fqn] = n


def to_struct_type(
    t: AvroType, env: dict[str, AvroType] | None = None, max_depth: int = MAX_DEPTH
) -> T.DataType:
    """Convert an Avro type tree to a Spark type, unrolling recursion."""
    return _Converter(env or {}, max_depth).convert(t)[0]


# --- Spark → Avro (export direction, I2-analogue for Catalyst schemas) ------

_SPARK_TO_PRIM = {
    T.NullType: Primitive.NULL,
    T.BooleanType: Primitive.BOOLEAN,
    T.IntegerType: Primitive.INT,
    T.ShortType: Primitive.INT,
    T.ByteType: Primitive.INT,
    T.LongType: Primitive.LONG,
    T.FloatType: Primitive.FLOAT,
    T.DoubleType: Primitive.DOUBLE,
    T.BinaryType: Primitive.BYTES,
    T.StringType: Primitive.STRING,
}

#: temporal Spark types export as spec logical types on their carrier
#: (beyond-reference surface — AvroData.scala:17 TODO)
_SPARK_TO_LOGICAL = {
    T.TimestampType: (Primitive.LONG, "timestamp-micros"),
    T.TimestampNTZType: (Primitive.LONG, "local-timestamp-micros"),
    T.DateType: (Primitive.INT, "date"),
    T.TimeType: (Primitive.LONG, "time-micros"),
}


def from_struct_type(
    dt: T.DataType, name: str = "root", namespace: str | None = None
) -> AvroType:
    """Export a Spark type as an Avro type tree (nested structs become
    records named ``<parent>_<field>``)."""
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            ft = from_struct_type(f.dataType, f"{name}_{f.name}", namespace)
            if f.nullable and not (isinstance(ft, AvroPrimitive) and ft.kind is Primitive.NULL):
                ft = AvroUnion((AvroPrimitive(Primitive.NULL), ft))
            fields.append(AvroField(name=f.name, type=ft))
        return AvroRecord(name=name, namespace=namespace, fields=tuple(fields))
    if isinstance(dt, T.ArrayType):
        items = from_struct_type(dt.elementType, f"{name}_item", namespace)
        if dt.containsNull and not (isinstance(items, AvroPrimitive) and items.kind is Primitive.NULL):
            items = AvroUnion((AvroPrimitive(Primitive.NULL), items))
        return AvroArray(items)
    if isinstance(dt, T.MapType):
        if not isinstance(dt.keyType, T.StringType):
            raise InvalidParserStateError("Avro maps require string keys")
        values = from_struct_type(dt.valueType, f"{name}_value", namespace)
        if dt.valueContainsNull and not (
            isinstance(values, AvroPrimitive) and values.kind is Primitive.NULL
        ):
            values = AvroUnion((AvroPrimitive(Primitive.NULL), values))
        return AvroMap(values)
    if isinstance(dt, T.DecimalType):
        return AvroPrimitive(
            Primitive.BYTES,
            logical=LogicalType("decimal", precision=dt.precision, scale=dt.scale),
        )
    logical = _SPARK_TO_LOGICAL.get(type(dt))
    if logical is not None:
        carrier, lname = logical
        return AvroPrimitive(carrier, logical=LogicalType(lname))
    prim = _SPARK_TO_PRIM.get(type(dt))
    if prim is None:
        raise InvalidParserStateError(f"no Avro mapping for Spark type {dt!r}")
    return AvroPrimitive(prim)
