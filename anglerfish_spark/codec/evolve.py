"""Avro schema resolution (reader/writer evolution) as one plan.

The reference models the ingredients — field aliases in
``AvroRecordFieldMetaData`` (AvroData.scala:62) and field defaults (D8,
AvroJsonFAlgebras.scala:501-506) — but never wires the Avro-spec
resolution rules; its README roadmap points at schema-registry use.  The
engine completes the path with ONE resolution plan per (writer, reader)
pair (:func:`resolution_plan`, the shape of Avro's ``Resolver`` action
tree, with the rules of Avro's ``SchemaCompatibility``):

* records, enums and fixed match by name or reader alias (fixed also by
  size; an enum needs every writer symbol; the value evaluator reads a
  renamed top-level record); a reader field reads the
  writer field of its name or of one of its aliases, else takes its
  default (decoded once); writer-only fields are dropped;
* primitive promotions per the spec: int→long/float/double,
  long→float/double, float→double, string↔bytes;
* arrays/maps resolve their element/value types; a non-union writer takes
  one reader-union branch (:func:`_best_branch_order`); a writer union
  resolves branch by branch, its null branch only into a nullable reader.

A rule that fails leaves a refusal at its node; a record pair met again
below itself is a back-edge (the walk is coinductive).  Every consumer
evaluates the same plan: :meth:`Plan.refusals` is the verdict
(``schema_registry.can_read``); :func:`evolve_struct` emits ``Column``
projections from a writer-schema decode (one parse, no Python), refusing
any plan with a refusal plus what expressions cannot bridge (logical
promotions, decimals across the 38-digit cap, decimal → bare bytes,
differing recursion references); :func:`resolve_datum` (and
:attr:`Plan.resolve`) resolves carrier-space values, raising only when a
value reaches a refusal; the table feed and the read path take field
sources and decoded defaults from its record nodes.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import SchemaEvolutionError
from ..memo import Memo
from ..schema.model import (
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
    Primitive,
)
from ..schema.parser import ParsedSchema, parse_schema
from ..schema.spark_convert import to_struct_type, union_field_names
from .decoder import decode_json
from .logical import py_value_to_carrier
from .pydecode import compile_decoder

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

_NULL = AvroPrimitive(Primitive.NULL)


def _parse(s: ParsedSchema | AvroType | str) -> tuple[AvroType, dict[str, AvroType]]:
    if isinstance(s, str):
        s = parse_schema(s)
    if isinstance(s, ParsedSchema):
        return s.root, s.env
    return s, {}


def _deref(t: AvroType, env: dict[str, AvroType]) -> AvroType:
    while isinstance(t, AvroRecursionRef):
        t = env[t.fqn]
    return t


@dataclass(eq=False)
class FieldPlan:
    """A reader field's source: the ``writer`` field it reads through
    ``plan``, else its default (``plan`` is then None, or the refusal of a
    field without one)."""

    reader: AvroField
    writer: AvroField | None
    plan: Plan | None
    renv: dict[str, AvroType]

    @cached_property
    def default(self):
        """The reader default, decoded once (pydecode's semantic values)."""
        decode = compile_decoder(self.reader.type, self.renv)
        return decode(self.reader.default, f"default({self.reader.name})")


@dataclass(eq=False)
class Plan:
    """One plan node over writer type ``w`` and reader type ``r``
    (recursion references resolved).  ``kind``: ``prim``, ``enum``,
    ``fixed``, ``record`` (``fields``), ``array``/``map`` (element plan
    ``children[0]``), ``wunion`` (writer union: ``null`` plans its null
    member, ``children`` the others), ``runion`` (non-union writer into
    reader member ``r.non_null_members[branch]`` via ``children[0]``;
    ``branch`` None is the null member) or ``refuse`` (``error``; a
    top-level ``record`` may hold one too).  The root also holds the
    reader's named-type env."""

    kind: str
    w: AvroType | None = None
    r: AvroType | None = None
    error: str | None = None
    fields: list[FieldPlan] = field(default_factory=list)
    children: list[Plan] = field(default_factory=list)
    null: Plan | None = None
    branch: int | None = None
    renv: dict[str, AvroType] | None = None

    def refusals(self, _skip: frozenset[int] = frozenset()) -> list[str]:
        """Every refusal, in field and branch order (nodes in ``_skip``,
        by id, are not entered)."""
        out, seen, todo = [], set(_skip), [self]
        while todo:
            p = todo.pop()
            if p is not None and id(p) not in seen:
                seen.add(id(p))
                out += [p.error] if p.error is not None else []
                todo += reversed([f.plan for f in p.fields] + [p.null] + p.children)
        return out

    @cached_property
    def resolve(self) -> Callable:
        """The compiled value evaluator (see :func:`resolve_datum`)."""
        return _value_fn(self)


def _refuse(error: str) -> Plan:
    return Plan("refuse", error=error)


def _named_match(w: AvroRecord | AvroEnum | AvroFixed, r) -> bool:
    """A reader named type answers to its full name, name and aliases."""
    return bool({w.fqn, w.name} & {r.fqn, r.name, *r.aliases})


#: (writer JSON, reader JSON) -> root Plan
_PLAN_CACHE = Memo(256)


def resolution_plan(
    writer: ParsedSchema | AvroType | str, reader: ParsedSchema | AvroType | str
) -> Plan:
    """The plan for data written under ``writer`` read under ``reader``
    (built once per process for two schema JSON texts)."""

    def build() -> Plan:
        (wroot, wenv), (rroot, renv) = _parse(writer), _parse(reader)
        root = _plan(wroot, rroot, wenv, renv, "$", {})
        root.renv = renv
        return root

    texts = isinstance(writer, str) and isinstance(reader, str)
    return _PLAN_CACHE.get_or((writer, reader) if texts else None, build)


def _plan(w: AvroType, r: AvroType, wenv, renv, path: str, stack: dict) -> Plan:
    """``stack`` maps the (writer, reader) record names open above this
    position to their nodes."""
    w, r = _deref(w, wenv), _deref(r, renv)
    if isinstance(w, AvroUnion):
        wn = w.non_null_members
        names = union_field_names(w) if len(wn) > 1 else None
        node = Plan("wunion", w, r, children=[
            _plan(m, r, wenv, renv, f"{path}<{names[i]}>" if names else path, stack)
            for i, m in enumerate(wn)
        ])
        if w.is_nullable and isinstance(r, AvroUnion) and not r.is_nullable:
            node.null = _refuse(f"{path}: writer union is nullable but reader union is not")
        elif w.is_nullable and not isinstance(r, AvroUnion) and r != _NULL:
            node.null = _refuse(f"{path}: nullable writer union cannot resolve into non-union reader")
        elif w.is_nullable:
            node.null = _plan(_NULL, r, wenv, renv, path, stack)
        return node
    if isinstance(r, AvroUnion):
        if w == _NULL:
            if r.is_nullable:
                return Plan("runion", w, r)
            return _refuse(f"{path}: no reader union branch accepts writer type ([])")
        # the first member in best-branch order whose plan holds no
        # refusal; back-edges to the records open above count as resolvable
        rn, errs = r.non_null_members, []
        open_nodes = frozenset(id(p) for p in stack.values())
        for i in _best_branch_order(w, rn, renv, wenv):
            sub = _plan(w, rn[i], wenv, renv, path, stack)
            bad = sub.refusals(open_nodes)
            if not bad:
                return Plan("runion", w, r, children=[sub], branch=i)
            errs.append(bad[0])
        return _refuse(f"{path}: no reader union branch accepts writer type ({errs})")
    if isinstance(w, AvroPrimitive) and isinstance(r, AvroPrimitive):
        if w.kind is r.kind or (w.kind, r.kind) in PROMOTIONS:
            return Plan("prim", w, r)
        return _refuse(f"{path}: cannot promote {w.kind.value} to {r.kind.value}")
    if isinstance(w, AvroRecord) and isinstance(r, AvroRecord):
        if (w.fqn, r.fqn) in stack:
            return stack[w.fqn, r.fqn]
        # a renamed top-level record (none open above) keeps its fields: its
        # values read under any reader name, as Avro's datum resolver reads
        # them (a writer names it freely; the engine's OCF writer: ``record``)
        error = None if _named_match(w, r) else f"{path}: record name mismatch ({w.fqn} -> {r.fqn})"
        if error and stack:
            return _refuse(error)
        node = Plan("record", w, r, error=error)
        stack = {**stack, (w.fqn, r.fqn): node}
        by_name = {f.name: f for f in w.fields}
        for rf in r.fields:
            wf = next((by_name[n] for n in (rf.name, *rf.aliases) if n in by_name), None)
            fpath = f"{path}.{rf.name}"
            if wf is not None:
                sub = _plan(wf.type, rf.type, wenv, renv, fpath, stack)
            elif rf.has_default:
                sub = None
            else:
                sub = _refuse(f"{fpath}: reader field missing from writer and has no default")
            node.fields.append(FieldPlan(rf, wf, sub, renv))
        return node
    if isinstance(w, AvroArray) and isinstance(r, AvroArray):
        return Plan("array", w, r, children=[_plan(w.items, r.items, wenv, renv, f"{path}[]", stack)])
    if isinstance(w, AvroMap) and isinstance(r, AvroMap):
        values = _plan(w.values, r.values, wenv, renv, f"{path}.{{}}", stack)
        return Plan("map", w, r, children=[values])
    if isinstance(w, AvroEnum) and isinstance(r, AvroEnum):
        # pre-enum-default Avro (the reference's vintage): every writer
        # symbol must exist in the reader; the decoded symbol passes as is
        missing = [s for s in w.symbols if s not in r.symbols]
        if not _named_match(w, r):
            return _refuse(f"{path}: enum name mismatch {w.fqn} vs {r.fqn}")
        if missing:
            return _refuse(f"{path}: writer enum symbols {missing} not in reader {r.fqn}")
        return Plan("enum", w, r)
    if isinstance(w, AvroFixed) and isinstance(r, AvroFixed):
        # the reader's (possibly different) decimal annotation then
        # applies to the raw bytes
        if _named_match(w, r) and w.length == r.length:
            return Plan("fixed", w, r)
        return _refuse(f"{path}: fixed mismatch {w.fqn}[{w.length}] vs {r.fqn}[{r.length}]")
    return _refuse(f"{path}: cannot resolve {type(w).__name__} against {type(r).__name__}")


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

    wt = _deref(w, wenv)

    def exact(m: AvroType) -> bool:
        mt = _deref(m, renv)
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

    return sorted(range(len(rn)), key=lambda i: not exact(rn[i]))  # stable


# ---------------------------------------------------------------------------
# Column evaluator
# ---------------------------------------------------------------------------


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


def _column(p: Plan, col: Column, wt, rt, renv, max_depth: int, path: str) -> Column:
    """``col`` at writer position ``wt`` projected into reader position
    ``rt`` (the schemas' own types there, recursion references kept) along
    a refusal-free plan node."""
    w, r = p.w, p.r
    if p.kind == "wunion":
        # each writer branch into the reader; into a reader union the
        # writer's nulls (checked by the plan) stay null
        if w == r:
            return col
        wn = w.non_null_members
        if len(wn) == 1:
            out = _column(p.children[0], col, wn[0], rt, renv, max_depth, path)
        else:  # a tagged struct (or none): keep the branch populated on each row
            out = F.lit(None).cast(to_struct_type(rt, renv, max_depth))
            for wname, wm, sub in reversed(list(zip(union_field_names(w), wn, p.children))):
                resolved = _column(sub, col[wname], wm, rt, renv, max_depth, f"{path}<{wname}>")
                out = F.when(col[wname].isNotNull(), resolved).otherwise(out)
        if not isinstance(r, AvroUnion) or not wn:
            return out
        null = F.lit(None).cast(to_struct_type(rt, renv, max_depth))
        return F.when(col.isNull(), null).otherwise(out)
    if p.kind == "runion":
        # the reader union's Spark shape: the bare nullable member when it
        # has ≤1 non-null branch, else the ``member_*`` tagged struct with
        # exactly the planned branch populated (ADVICE r1)
        if p.branch is None:  # a null writer
            return F.lit(None).cast(to_struct_type(rt, renv, max_depth))
        rn = r.non_null_members
        resolved = _column(p.children[0], col, wt, rn[p.branch], renv, max_depth, path)
        if len(rn) <= 1:
            return resolved
        fields = [
            resolved.alias(nm) if i == p.branch
            else F.lit(None).cast(to_struct_type(mm, renv, max_depth)).alias(nm)
            for i, (nm, mm) in enumerate(zip(union_field_names(r), rn))
        ]
        return F.when(col.isNull(), F.lit(None)).otherwise(F.struct(*fields))
    if isinstance(wt, AvroRecursionRef) or isinstance(rt, AvroRecursionRef):
        if wt == rt:  # recursion is not resolved column-wise below the root
            return col
        raise SchemaEvolutionError(
            f"{path}: cannot resolve {type(wt).__name__} against {type(rt).__name__}"
        )
    if p.kind == "prim":
        if w.kind is r.kind:
            return _bridge_logical(col, w.logical, r.logical, w.kind, path)
        if w.logical is not None or r.logical is not None:
            raise SchemaEvolutionError(
                f"{path}: promotion {w.kind.value}→{r.kind.value} with logical "
                "annotations is not supported"
            )
        return col.cast(_CAST[r.kind])
    if p.kind == "record":
        target = to_struct_type(r, renv, max_depth)
        out = [
            (
                _column(f.plan, col[f.writer.name], f.writer.type, f.reader.type,
                        renv, max_depth, f"{path}.{f.reader.name}")
                if f.writer is not None
                else _lit_value(f.default, target[f.reader.name].dataType)
            ).alias(f.reader.name)
            for f in p.fields
        ]
        return F.when(col.isNull(), F.lit(None)).otherwise(F.struct(*out))
    if p.kind == "array":
        return F.transform(col, lambda e: _column(
            p.children[0], e, w.items, r.items, renv, max_depth, f"{path}[]"))
    if p.kind == "map":
        return F.map_from_arrays(
            F.map_keys(col),
            F.transform(F.map_values(col), lambda v: _column(
                p.children[0], v, w.values, r.values, renv, max_depth, f"{path}.{{}}")),
        )
    if p.kind == "fixed":
        return _bridge_logical(col, w.logical, r.logical, Primitive.BYTES, path)
    return col  # enum: the decoded symbol string


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


def evolve_struct(
    col: Column,
    writer: ParsedSchema | AvroType | str,
    reader: ParsedSchema | AvroType | str,
    max_depth: int = 10,
) -> Column:
    """Project a writer-schema struct column into the reader schema."""
    plan = resolution_plan(writer, reader)
    refusals = plan.refusals()
    if refusals:
        raise SchemaEvolutionError(refusals[0])
    return _column(plan, col, plan.w, plan.r, plan.renv, max_depth, "$")


# ---------------------------------------------------------------------------
# value evaluator
# ---------------------------------------------------------------------------


def _identity(v):
    return v


def _value_fn(root: Plan) -> Callable:
    """Compile a plan into one closure over carrier-space values (what
    ``BinaryCodec.decode`` yields; the reader's logical annotations apply
    when the result is lifted)."""
    done: dict[int, Callable] = {}

    def comp(p: Plan) -> Callable:
        if id(p) not in done:
            done[id(p)] = lambda v, k=id(p): done[k](v)  # what a back-edge reaches
            done[id(p)] = build(p)
        return done[id(p)]

    def build(p: Plan) -> Callable:
        if p.kind == "refuse":
            def refuse(v):
                raise SchemaEvolutionError(p.error)

            return refuse
        if p.kind == "prim":
            wk, rk = p.w.kind, p.r.kind
            if rk in (Primitive.FLOAT, Primitive.DOUBLE) and wk is not rk:
                return float
            if (wk, rk) == (Primitive.STRING, Primitive.BYTES):
                return lambda v: v.encode("utf-8") if isinstance(v, str) else v
            if (wk, rk) == (Primitive.BYTES, Primitive.STRING):
                return lambda v: bytes(v).decode("utf-8") if isinstance(v, (bytes, bytearray)) else v
            return _identity  # same kind, int → long
        if p.kind == "record":
            getters = [
                (f.reader.name, f.writer and f.writer.name, comp(f.plan) if f.plan else
                 lambda _, d=carrierize(f.reader.type, f.default, f.renv): d)
                for f in p.fields
            ]
            return lambda v: {n: fn(None if src is None else v[src]) for n, src, fn in getters}
        if p.kind == "array":
            item = comp(p.children[0])
            return lambda v: [item(x) for x in v]
        if p.kind == "map":
            value = comp(p.children[0])
            return lambda v: {k: value(x) for k, x in v.items()}
        if p.kind == "wunion":
            null = comp(p.null) if p.null is not None else _identity
            if len(p.children) == 1:
                one = comp(p.children[0])
                return lambda v: null(v) if v is None else one(v)
            keyed = list(zip(union_field_names(p.w), map(comp, p.children)))
            # tagged-dict repr: exactly one member_* key non-null
            return lambda v: null(v) if v is None else next(
                fn(v[k]) for k, fn in keyed if v.get(k) is not None
            )
        if p.kind == "runion":
            if p.branch is None:
                return lambda v: None
            fn, names = comp(p.children[0]), union_field_names(p.r)
            if len(names) <= 1:
                return fn
            return lambda v: {n: fn(v) if i == p.branch else None for i, n in enumerate(names)}
        return _identity  # enum symbol, fixed bytes

    return comp(root)


def resolve_datum(
    value,
    writer: AvroType,
    reader: AvroType,
    renv: dict[str, AvroType] | None = None,
    wenv: dict[str, AvroType] | None = None,
    max_depth: int = 10,
    path: str = "$",
):
    """Value-space schema resolution: the plan's value evaluator, over
    carrier-space decoded representations instead of Columns.

    Exists for the one case the column projection cannot serve: a source
    whose rows were written under *different* writer schemas (e.g. an OCF
    directory accumulated across schema versions, or a registry-framed
    message stream) being read under one reader schema — each datum
    resolves against its own writer before the rows unify.  Loops holding
    schema JSON take ``resolution_plan(writer, reader).resolve`` instead,
    planned and compiled once per process."""
    return _plan(writer, reader, wenv or {}, renv or {}, path, {}).resolve(value)


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
