"""Avro schema resolution (reader/writer evolution).

The reference models the ingredients — field aliases in
``AvroRecordFieldMetaData`` (AvroData.scala:62) and field defaults (D8,
AvroJsonFAlgebras.scala:501-506) — but never wires the Avro-spec
resolution rules; its README roadmap points at schema-registry use.  The
engine completes the path, column-level:

decode with the WRITER schema (one parse), then project into the READER
shape with pure ``Column`` expressions — no re-parse, no Python:

* fields match by name, else by a reader-field alias naming the writer
  field;
* writer-only fields are dropped (projection);
* reader-only fields take their default — missing default is a
  resolution-time ``SchemaEvolutionError``, not a runtime surprise;
* primitive promotions per the spec: int→long/float/double,
  long→float/double, float→double, string↔bytes (as casts);
* records resolve recursively; arrays/maps resolve their element/value
  types;
* unions resolve shape-aware: a non-union writer lands in the reader
  union's Spark encoding (bare nullable member, or the ``member_*`` tagged
  struct with the matched branch populated); a writer union resolves
  branch-wise into a superset reader union (each branch routed to its
  first resolvable reader member); an unresolvable branch, or nullability
  narrowing, is a resolution-time ``SchemaEvolutionError``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import SchemaEvolutionError
from ..schema.model import (
    AvroArray,
    AvroEnum,
    AvroFixed,
    AvroMap,
    AvroPrimitive,
    AvroRecord,
    AvroRecursionRef,
    AvroType,
    AvroUnion,
    Primitive,
)


def _check_enum_resolution(w: AvroEnum, r: AvroEnum, path: str) -> None:
    """Spec enum resolution: names must match (reader aliases may absorb a
    writer rename) and every writer symbol must exist in the reader — the
    schema-level strictness mirror of the per-datum "symbol not present"
    error (pre-enum-default Avro, which is the reference's vintage).  The
    decoded representation is the symbol string, so a legal resolution is
    the identity projection.  (r5: found by the can_read↔evolve
    differential — enums previously resolved only via full equality,
    rejecting spec-legal reader-superset widening.)"""
    if w.name != r.name and w.name not in r.aliases and w.fqn not in r.aliases:
        raise SchemaEvolutionError(f"{path}: enum name mismatch {w.fqn} vs {r.fqn}")
    missing = [s for s in w.symbols if s not in r.symbols]
    if missing:
        raise SchemaEvolutionError(
            f"{path}: writer enum symbols {missing} not in reader {r.fqn}"
        )
from ..schema.parser import ParsedSchema, parse_schema
from ..schema.spark_convert import to_struct_type, union_field_names
from .decoder import decode_json
from .logical import py_value_to_carrier
from .pydecode import Decoder as _PyDecoder

#: spec-permitted primitive promotions (writer kind → reader kind)
PROMOTIONS: frozenset[tuple[Primitive, Primitive]] = frozenset(
    {
        (Primitive.INT, Primitive.LONG),
        (Primitive.INT, Primitive.FLOAT),
        (Primitive.INT, Primitive.DOUBLE),
        (Primitive.LONG, Primitive.FLOAT),
        (Primitive.LONG, Primitive.DOUBLE),
        (Primitive.FLOAT, Primitive.DOUBLE),
        (Primitive.STRING, Primitive.BYTES),
        (Primitive.BYTES, Primitive.STRING),
    }
)

_CAST = {
    Primitive.LONG: "long",
    Primitive.FLOAT: "float",
    Primitive.DOUBLE: "double",
    Primitive.BYTES: "binary",
    Primitive.STRING: "string",
}


def _parse(s: ParsedSchema | AvroType | str) -> tuple[AvroType, dict[str, AvroType]]:
    if isinstance(s, str):
        s = parse_schema(s)
    if isinstance(s, ParsedSchema):
        return s.root, s.env
    return s, {}


def _bridge_logical(col: Column, wl, rl, w_kind: Primitive, path: str) -> Column:
    """Writer→reader conversion when the carrier kinds match but the logical
    annotations differ (spec: resolution matches on the underlying type; the
    reader's logical annotation is then applied).  Identity when the two
    effective Catalyst types coincide (e.g. timestamp-millis vs -micros both
    map to TimestampType and the decode already normalized)."""
    from ..schema.spark_convert import _PRIM_TO_SPARK, _logical_spark_type

    from .logical import binary_to_decimal_expr, carrier_to_value_expr, value_to_carrier_expr

    if wl == rl:
        return col
    if wl is not None and rl is not None and wl.name == "decimal" and rl.name == "decimal":
        if wl.precision > 38 and rl.precision > 38:
            return col  # both beyond Catalyst: carrier bytes through
        if wl.precision > 38 or rl.precision > 38:
            raise SchemaEvolutionError(
                f"{path}: decimal precision crosses the Catalyst 38 cap "
                f"({wl.precision} → {rl.precision}); no expression bridge"
            )
        return col.cast(f"decimal({rl.precision},{rl.scale})")
    eff_w = _logical_spark_type(wl)[0] if wl is not None else _PRIM_TO_SPARK[w_kind]
    eff_r = _logical_spark_type(rl)[0] if rl is not None else _PRIM_TO_SPARK[w_kind]
    if eff_w == eff_r:
        return col
    if wl is not None and wl.name == "decimal":
        raise SchemaEvolutionError(f"{path}: no expression bridge from decimal to bare bytes")
    if rl is not None and rl.name == "decimal":
        return binary_to_decimal_expr(col, rl.precision, rl.scale)
    carrier = value_to_carrier_expr(wl, col) if wl is not None else col
    return carrier_to_value_expr(rl, carrier) if rl is not None else carrier


def _resolve(col: Column, w: AvroType, r: AvroType, renv, wenv, max_depth: int, path: str) -> Column:
    if isinstance(w, AvroPrimitive) and isinstance(r, AvroPrimitive):
        if w.kind is r.kind:
            return _bridge_logical(col, w.logical, r.logical, w.kind, path)
        if (w.kind, r.kind) in PROMOTIONS:
            if w.logical is not None or r.logical is not None:
                raise SchemaEvolutionError(
                    f"{path}: promotion {w.kind.value}→{r.kind.value} with logical "
                    "annotations is not supported"
                )
            return col.cast(_CAST[r.kind])
        raise SchemaEvolutionError(f"{path}: cannot promote {w.kind.value} to {r.kind.value}")
    if isinstance(w, AvroRecord) and isinstance(r, AvroRecord):
        return _resolve_record(col, w, r, renv, wenv, max_depth, path)
    if isinstance(w, AvroArray) and isinstance(r, AvroArray):
        return F.transform(col, lambda e: _resolve(e, w.items, r.items, renv, wenv, max_depth, f"{path}[]"))
    if isinstance(w, AvroMap) and isinstance(r, AvroMap):
        return F.map_from_arrays(
            F.map_keys(col),
            F.transform(
                F.map_values(col),
                lambda v: _resolve(v, w.values, r.values, renv, wenv, max_depth, f"{path}.{{}}"),
            ),
        )
    if isinstance(r, AvroUnion) and not isinstance(w, AvroUnion):
        # writer T into reader union — first resolvable non-null member wins
        # (spec: "the first schema in the reader's union that matches")
        return _resolve_into_union(col, w, r, renv, wenv, max_depth, path)
    if isinstance(w, AvroUnion) and isinstance(r, AvroUnion):
        if w == r:
            return col
        return _resolve_union_union(col, w, r, renv, wenv, max_depth, path)
    if isinstance(w, AvroUnion) and not isinstance(r, AvroUnion):
        return _resolve_union_out(col, w, r, renv, wenv, max_depth, path)
    if isinstance(w, AvroFixed) and isinstance(r, AvroFixed):
        # spec: fixed matches on name + size; the reader's (possibly
        # different) decimal annotation is then applied to the raw bytes
        if w.name == r.name and w.length == r.length:
            return _bridge_logical(col, w.logical, r.logical, Primitive.BYTES, path)
        raise SchemaEvolutionError(
            f"{path}: fixed mismatch {w.fqn}[{w.length}] vs {r.fqn}[{r.length}]"
        )
    if isinstance(w, AvroEnum) and isinstance(r, AvroEnum):
        _check_enum_resolution(w, r, path)
        return col  # decoded repr is the symbol string: identity
    if type(w) is type(r) and w == r:
        return col
    raise SchemaEvolutionError(f"{path}: cannot resolve {type(w).__name__} against {type(r).__name__}")


def _best_branch_order(w: AvroType, rn, renv, wenv) -> list[int]:
    """Reader-union member indices in the Avro *reference implementation's*
    resolution order: EXACT matches first (same primitive kind, array/map
    kind, or named type by FQN / reader alias), then the remaining members
    in declaration order for promotion-based matches — the two-pass
    ``bestBranch`` of ``GenericDatumReader`` (``getIndexNamed`` lookup
    before the promotion scan).

    Found by the JVM byte-level differential (seed 2002): a writer ``long``
    resolving into ``["double", R, "long"]`` must select the exact ``long``
    branch; the previous first-readable scan promoted it into ``double``.
    """

    wt = w
    while isinstance(wt, AvroRecursionRef):
        wt = wenv[wt.fqn]

    def exact(m: AvroType) -> bool:
        mt = m
        while isinstance(mt, AvroRecursionRef):
            mt = renv[mt.fqn]
        if isinstance(wt, AvroPrimitive) and isinstance(mt, AvroPrimitive):
            return wt.kind is mt.kind
        if isinstance(wt, AvroArray) and isinstance(mt, AvroArray):
            return True
        if isinstance(wt, AvroMap) and isinstance(mt, AvroMap):
            return True
        for cls in (AvroRecord, AvroEnum, AvroFixed):
            if isinstance(wt, cls) and isinstance(mt, cls):
                return (
                    mt.fqn == wt.fqn
                    or wt.fqn in mt.aliases
                    or wt.name in mt.aliases
                )
        return False

    idx = list(range(len(rn)))
    ex = [i for i in idx if exact(rn[i])]
    return ex + [i for i in idx if i not in ex]


def _resolve_into_union(
    col: Column, w: AvroType, r: AvroUnion, renv, wenv, max_depth: int, path: str
) -> Column:
    """Resolve a non-union writer value into the reader union's Spark shape:
    the bare nullable member when the union has ≤1 non-null branch, else the
    ``member_*`` tagged struct with exactly the matched branch populated
    (previously the bare member column leaked out — ADVICE r1).  Branch
    selection follows :func:`_best_branch_order` (exact before promoted)."""
    rn = r.non_null_members
    errs: list[str] = []
    if len(rn) <= 1:
        for m in rn:
            try:
                return _resolve(col, w, m, renv, wenv, max_depth, path)
            except SchemaEvolutionError as ex:
                errs.append(str(ex))
        raise SchemaEvolutionError(f"{path}: no reader union branch accepts writer type ({errs})")
    names = union_field_names(r)
    for bi in _best_branch_order(w, rn, renv, wenv):
        name, m = names[bi], rn[bi]
        try:
            resolved = _resolve(col, w, m, renv, wenv, max_depth, path)
        except SchemaEvolutionError as ex:
            errs.append(str(ex))
            continue
        fields = [
            resolved.alias(nm)
            if nm == name
            else F.lit(None).cast(to_struct_type(mm, renv, max_depth)).alias(nm)
            for nm, mm in zip(names, rn)
        ]
        return F.when(col.isNull(), F.lit(None)).otherwise(F.struct(*fields))
    raise SchemaEvolutionError(f"{path}: no reader union branch accepts writer type ({errs})")


def _resolve_union_union(
    col: Column, w: AvroUnion, r: AvroUnion, renv, wenv, max_depth: int, path: str
) -> Column:
    """Writer union into a different reader union (the spec's most common
    evolution: the reader adds a branch).  Every writer branch must find a
    home in the reader union — an unresolvable branch is a resolution-time
    ``SchemaEvolutionError`` (strict: the engine refuses plans that could
    fail per-datum, rather than failing at runtime)."""
    if w.is_nullable and not r.is_nullable:
        raise SchemaEvolutionError(f"{path}: writer union is nullable but reader union is not")
    wn = w.non_null_members
    rdt = to_struct_type(r, renv, max_depth)
    if len(wn) == 0:  # null-only writer union; reader nullability checked above
        return F.lit(None).cast(rdt)
    if len(wn) == 1:
        # writer's Spark shape is the bare nullable member
        out = _resolve_into_union(col, wn[0], r, renv, wenv, max_depth, path)
        return F.when(col.isNull(), F.lit(None).cast(rdt)).otherwise(out)
    # writer's shape is a tagged struct: route each branch, keep the one
    # that is populated on each row (exactly one, by construction)
    branches = [
        (
            col[wname],
            _resolve_into_union(col[wname], wm, r, renv, wenv, max_depth, f"{path}<{wname}>"),
        )
        for wname, wm in zip(union_field_names(w), wn)
    ]
    out = F.lit(None).cast(rdt)
    for src, resolved in reversed(branches):
        out = F.when(src.isNotNull(), resolved).otherwise(out)
    return F.when(col.isNull(), F.lit(None).cast(rdt)).otherwise(out)


def _resolve_union_out(
    col: Column, w: AvroUnion, r: AvroType, renv, wenv, max_depth: int, path: str
) -> Column:
    """Writer union into a non-union reader.  Permitted when every writer
    branch resolves into the reader type and the writer cannot produce
    nulls (strict resolution-time check, same rationale as above)."""
    if w.is_nullable:
        raise SchemaEvolutionError(
            f"{path}: nullable writer union cannot resolve into non-union reader"
        )
    wn = w.non_null_members
    if len(wn) == 1:
        return _resolve(col, wn[0], r, renv, wenv, max_depth, path)
    rdt = to_struct_type(r, renv, max_depth)
    out = F.lit(None).cast(rdt)
    for wname, wm in reversed(list(zip(union_field_names(w), wn))):
        resolved = _resolve(col[wname], wm, r, renv, wenv, max_depth, f"{path}<{wname}>")
        out = F.when(col[wname].isNotNull(), resolved).otherwise(out)
    return out


def _lit_value(value, dtype: T.DataType) -> Column:
    """A pydecode value as a literal column of ``dtype`` (field defaults)."""
    if value is None:
        return F.lit(None).cast(dtype)
    if isinstance(dtype, T.ArrayType):
        if not value:
            return F.array().cast(dtype)
        return F.array(*[_lit_value(v, dtype.elementType) for v in value]).cast(dtype)
    if isinstance(dtype, T.MapType):
        if not value:
            return F.map_from_arrays(F.array(), F.array()).cast(dtype)
        pairs = [x for k, v in value.items() for x in (F.lit(k), _lit_value(v, dtype.valueType))]
        return F.create_map(*pairs).cast(dtype)
    if isinstance(dtype, T.StructType):
        return F.struct(
            *[_lit_value(value.get(f.name), f.dataType).alias(f.name) for f in dtype.fields]
        )
    if isinstance(dtype, T.BinaryType):
        return F.lit(bytes(value))
    return F.lit(value).cast(dtype)


def _resolve_record(
    col: Column, w: AvroRecord, r: AvroRecord, renv, wenv, max_depth: int, path: str
) -> Column:
    target = to_struct_type(r, renv, max_depth)
    by_name = {f.name: f for f in w.fields}
    out = []
    for rf in r.fields:
        wf = by_name.get(rf.name)
        if wf is None:
            for alias in rf.aliases:
                if alias in by_name:
                    wf = by_name[alias]
                    break
        fpath = f"{path}.{rf.name}"
        if wf is not None:
            out.append(
                _resolve(col[wf.name], wf.type, rf.type, renv, wenv, max_depth, fpath).alias(rf.name)
            )
        elif rf.has_default:
            decoded = _PyDecoder(renv, max_depth).decode(rf.type, rf.default, f"default({rf.name})")
            out.append(_lit_value(decoded, target[rf.name].dataType).alias(rf.name))
        else:
            raise SchemaEvolutionError(
                f"{fpath}: reader field missing from writer and has no default"
            )
    return F.when(col.isNull(), F.lit(None)).otherwise(F.struct(*out))


def evolve_struct(
    col: Column,
    writer: ParsedSchema | AvroType | str,
    reader: ParsedSchema | AvroType | str,
    max_depth: int = 10,
) -> Column:
    """Project a writer-schema struct column into the reader schema."""
    wroot, wenv = _parse(writer)
    rroot, renv = _parse(reader)
    return _resolve(col, wroot, rroot, renv, wenv, max_depth, "$")


def resolve_datum(
    value,
    writer: AvroType,
    reader: AvroType,
    renv: dict[str, AvroType] | None = None,
    wenv: dict[str, AvroType] | None = None,
    max_depth: int = 10,
    path: str = "$",
):
    """Value-space schema resolution (same rules as :func:`_resolve`, over
    decoded representations instead of Columns).

    Exists for the one case the column projection cannot serve: a source
    whose rows were written under *different* writer schemas (e.g. an OCF
    directory accumulated across schema versions, or a registry-framed
    message stream) being read under one reader schema — each datum
    resolves against its own writer before the rows unify."""
    renv = renv or {}
    wenv = wenv or {}

    if isinstance(writer, AvroRecursionRef):
        return resolve_datum(value, wenv[writer.fqn], reader, renv, wenv, max_depth, path)
    if isinstance(reader, AvroRecursionRef):
        return resolve_datum(value, writer, renv[reader.fqn], renv, wenv, max_depth, path)
    if isinstance(writer, AvroPrimitive) and isinstance(reader, AvroPrimitive):
        if writer.kind is reader.kind:
            return value
        if (writer.kind, reader.kind) not in PROMOTIONS:
            raise SchemaEvolutionError(
                f"{path}: cannot promote {writer.kind.value} to {reader.kind.value}"
            )
        if reader.kind in (Primitive.FLOAT, Primitive.DOUBLE):
            return float(value)
        if reader.kind is Primitive.BYTES and isinstance(value, str):
            return value.encode("utf-8")
        if reader.kind is Primitive.STRING and isinstance(value, (bytes, bytearray)):
            return bytes(value).decode("utf-8")
        return value  # int → long
    if isinstance(writer, AvroRecord) and isinstance(reader, AvroRecord):
        by_name = {f.name: f for f in writer.fields}
        out = {}
        for rf in reader.fields:
            wf = by_name.get(rf.name)
            if wf is None:
                for alias in rf.aliases:
                    if alias in by_name:
                        wf = by_name[alias]
                        break
            if wf is not None:
                out[rf.name] = resolve_datum(
                    value[wf.name], wf.type, rf.type, renv, wenv, max_depth, f"{path}.{rf.name}"
                )
            elif rf.has_default:
                decoded = _PyDecoder(renv, max_depth).decode(
                    rf.type, rf.default, f"default({rf.name})"
                )
                # value-space resolution runs in CARRIER space (inputs come
                # from BinaryCodec.decode); pydecode lifts logical types to
                # semantic values, so defaults must convert back down
                out[rf.name] = carrierize(rf.type, decoded, renv)
            else:
                raise SchemaEvolutionError(
                    f"{path}.{rf.name}: reader field missing from writer and has no default"
                )
        return out
    if isinstance(writer, AvroArray) and isinstance(reader, AvroArray):
        return [
            resolve_datum(v, writer.items, reader.items, renv, wenv, max_depth, f"{path}[]")
            for v in value
        ]
    if isinstance(writer, AvroMap) and isinstance(reader, AvroMap):
        return {
            k: resolve_datum(v, writer.values, reader.values, renv, wenv, max_depth, f"{path}.{{}}")
            for k, v in value.items()
        }
    if isinstance(writer, AvroUnion):
        wn = writer.non_null_members
        if value is None:
            if isinstance(reader, AvroUnion) and reader.is_nullable:
                return None
            raise SchemaEvolutionError(f"{path}: null has no home in non-nullable reader")
        if len(wn) == 1:
            branch_t, branch_v = wn[0], value
        else:
            # tagged-dict repr: exactly one member_* key non-null

            names = union_field_names(writer)
            key = next(k for k in names if value.get(k) is not None)
            branch_t, branch_v = wn[names.index(key)], value[key]
        return _resolve_datum_into(branch_v, branch_t, reader, renv, wenv, max_depth, path)
    if not isinstance(writer, AvroUnion) and isinstance(reader, AvroUnion):
        return _resolve_datum_into(value, writer, reader, renv, wenv, max_depth, path)
    if isinstance(writer, AvroFixed) and isinstance(reader, AvroFixed):
        # spec: fixed matches on name + size; annotations may differ (value
        # stays carrier bytes — the reader's annotation applies at decode)
        if writer.name == reader.name and writer.length == reader.length:
            return value
        raise SchemaEvolutionError(
            f"{path}: fixed mismatch {writer.fqn}[{writer.length}] vs {reader.fqn}[{reader.length}]"
        )
    if isinstance(writer, AvroEnum) and isinstance(reader, AvroEnum):
        _check_enum_resolution(writer, reader, path)
        return value  # symbol string: identity
    if type(writer) is type(reader) and writer == reader:
        return value
    raise SchemaEvolutionError(
        f"{path}: cannot resolve {type(writer).__name__} against {type(reader).__name__}"
    )


def carrierize(t: AvroType, v, env: dict[str, AvroType]):
    """Semantic Python values → carrier representation (the inverse of
    pydecode's logical lift) so value-space resolution output stays
    Avro-JSON-dumpable carrier data throughout; the streaming feed's
    value-space fallback converts parquet's semantic values down with it
    before :func:`resolve_datum`."""

    if v is None:
        return None
    if isinstance(t, AvroRecursionRef):
        return carrierize(env[t.fqn], v, env)
    if isinstance(t, AvroPrimitive):
        return py_value_to_carrier(t.logical, v) if t.logical is not None else v
    if isinstance(t, AvroFixed):
        return (
            py_value_to_carrier(t.logical, v, fixed_length=t.length)
            if t.logical is not None
            else v
        )
    if isinstance(t, AvroArray):
        return [carrierize(t.items, x, env) for x in v]
    if isinstance(t, AvroMap):
        return {k: carrierize(t.values, x, env) for k, x in v.items()}
    if isinstance(t, AvroUnion):
        nn = t.non_null_members
        if len(nn) == 1:
            return carrierize(nn[0], v, env)
        names = union_field_names(t)
        return {n: carrierize(m, v.get(n), env) for n, m in zip(names, nn)}
    if isinstance(t, AvroRecord):
        return {f.name: carrierize(f.type, v.get(f.name), env) for f in t.fields}
    return v  # enum symbols, plain primitives


def _resolve_datum_into(value, w: AvroType, r: AvroType, renv, wenv, max_depth, path):
    """Resolve a non-union writer value into ``r`` (union or not), emitting
    the reader union's decoded shape (bare value or tagged dict)."""
    if not isinstance(r, AvroUnion):
        return resolve_datum(value, w, r, renv, wenv, max_depth, path)
    rn = r.non_null_members
    errs = []
    for i in _best_branch_order(w, rn, renv, wenv):
        try:
            resolved = resolve_datum(value, w, rn[i], renv, wenv, max_depth, path)
        except SchemaEvolutionError as ex:
            errs.append(str(ex))
            continue
        if len(rn) <= 1:
            return resolved
    
        names = union_field_names(r)
        out = {n: None for n in names}
        out[names[i]] = resolved
        return out
    raise SchemaEvolutionError(f"{path}: no reader union branch accepts writer type ({errs})")


def decode_json_evolved(
    df: DataFrame,
    col: str | Column,
    writer: ParsedSchema | AvroType | str,
    reader: ParsedSchema | AvroType | str,
    mode: str = "strict",
    max_depth: int = 10,
    output_col: str = "decoded",
    errors_col: str = "_errors",
) -> DataFrame:
    """Strict decode against the writer schema, evolved into the reader
    shape — one parse, one projection."""
    out = decode_json(
        df, col, writer, mode=mode, max_depth=max_depth,
        output_col=output_col, errors_col=errors_col,
    )
    return out.withColumn(output_col, evolve_struct(F.col(output_col), writer, reader, max_depth))
