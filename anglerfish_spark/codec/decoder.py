"""Expression-based strict JSON decoder (the JVM fast path).

Decodes a JSON-text column against a parsed Avro schema with the
reference's strict semantics (D1-D9, SURVEY.md §2.1), entirely with
built-in Catalyst expressions — ``from_json`` does the typed parse and a
composed validation layer supplies the strictness ``FAILFAST`` alone cannot
express:

* extra/missing record fields via ``json_object_keys`` on the raw text
  (reference D6: extra JSON fields are an error, :684,688);
* enum domain membership (D4), fixed base64 length (D4), union single-key
  tagged objects with branch-name resolution (D5/S3);
* D3 numeric rules: int32 range, int64 representability (checked against
  the raw digits, so overflow is caught even where the wire parse nulls),
  float32 exactness.

Everything stays inside whole-stage codegen — no Python UDF on this path.
The *wire schema* (what ``from_json`` parses) differs from the *target
schema* (what the engine returns): bytes/fixed/enum travel as strings,
unions as structs keyed by Avro branch names; the decoder then transforms
wire → target columns.

Raw-text strictness applies at full depth: every record, union and map
node reads its raw text through a ``map<string,string>`` object view
(keys + per-field raw text from one parse) and every array through an
``array<string>`` element view zipped with the typed parse, so
extra-field, overflow and wrong-type detection reach inside collections
too.

Where the views live.  Outside collections each view is its own staged
column, parsed once per row: ``_anglerfish_rmap`` for the root and
``_anglerfish_v<n>`` below it, projected after the first Generate barrier
in dependency order.  The value and error trees only reference those
columns, so outside collections they hold no lambda and evaluate as
generated code.  Inside a
collection the element text is a lambda variable of ``transform`` /
``zip_with`` and cannot be staged; there, and only there, the view is
let-bound (``logical._let``) so each element is still parsed once.

Quoted tokens at typed positions (``"123"`` for ``long``) are rejected on
both paths since r4 — the general path infers quotedness from
typed-wire-null + integral raw digits, the flat path from a staged
``try_parse_json`` variant probe (``schema_of_variant == 'STRING'``).
Residual divergences from ``pydecode``: a QUOTED beyond-int64 literal
classifies ``UnrepresentableError`` (pydecode: ``UnexpectedTypeError`` —
quotedness of overflowed digits is unobservable here), and past the
``RAW_RECURSION_LIMIT`` unroll depth validation falls back to wire-proxy
checks.

Error channel: a nullable string of ``;Code@path`` tags (E1 taxonomy),
each tag carrying its own leading ``;``.  Joins are plain
``concat_ws("")`` / ``array_join("")`` and null or ``''`` both mean
clean, so the channel needs no null folding and no let-binding.
``decode_json`` strips the first ``;`` once, at the top:
``mode="strict"`` raises on a violation (FAILFAST analogue) with the tags
joined by ``;``; ``mode="permissive"`` adds an ``_errors array<string>``
column and never raises.
"""

from __future__ import annotations

import json
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import InvalidParserStateError
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
    type_name,
)
from ..schema.parser import ParsedSchema, parse_schema
from ..schema.spark_convert import to_struct_type, union_field_names
from .logical import _let
from .pydecode import Decoder as _PyDecoder

INT32_MIN, INT32_MAX = -(2**31), 2**31 - 1
_B64_RE = r"^([A-Za-z0-9+/]{4})*([A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$"

#: object view: keys + raw value text per key (records, unions, maps)
_OBJ_VIEW = T.MapType(T.StringType(), T.StringType())
#: element view: raw text per element (arrays)
_ELEM_VIEW = T.ArrayType(T.StringType())


def _empty_errs() -> Column:
    """No-error sentinel of the error channel: a nullable STRING of
    ``;Code@path`` tags, each with its own leading ``;``, where null and
    ``''`` both mean clean.  Strings keep every combinator (``when``,
    ``concat_ws``, ``array_join``) in generated code — an array channel
    would need ``array_compact``/``filter`` lambdas, which Spark evaluates
    interpreted."""
    return F.lit(None).cast("string")


# ---------------------------------------------------------------------------
# wire schema: what from_json parses
# ---------------------------------------------------------------------------


def wire_struct_type(t: AvroType, env: dict[str, AvroType], max_depth: int = 10) -> T.DataType:
    """The from_json parse schema for an Avro type (strings for
    bytes/fixed/enum, widest numerics, branch-keyed structs for unions)."""
    return _Wire(env, max_depth).convert(t)


class _Wire:
    def __init__(self, env: dict[str, AvroType], max_depth: int):
        self.env = env
        self.max_depth = max_depth
        self.depth: dict[str, int] = {}

    def convert(self, t: AvroType) -> T.DataType:
        if isinstance(t, AvroPrimitive):
            return {
                Primitive.NULL: T.StringType(),  # checked via raw path / never non-null
                Primitive.BOOLEAN: T.BooleanType(),
                Primitive.INT: T.LongType(),
                Primitive.LONG: T.LongType(),
                Primitive.FLOAT: T.DoubleType(),
                Primitive.DOUBLE: T.DoubleType(),
                Primitive.BYTES: T.StringType(),
                Primitive.STRING: T.StringType(),
            }[t.kind]
        if isinstance(t, (AvroEnum, AvroFixed)):
            return T.StringType()
        if isinstance(t, AvroArray):
            return T.ArrayType(self.convert(t.items), containsNull=True)
        if isinstance(t, AvroMap):
            return T.MapType(T.StringType(), self.convert(t.values), valueContainsNull=True)
        if isinstance(t, AvroUnion):
            # Avro-JSON encodes every non-null union datum as a tagged
            # single-key object — even for ["null", T] (reference D5,
            # :657-667) — so the wire is always a branch-keyed struct
            non_null = t.non_null_members
            if len(non_null) == 0:
                return T.StringType()
            return T.StructType(
                [T.StructField(type_name(m), self.convert(m), True) for m in non_null]
            )
        if isinstance(t, AvroRecord):
            n = self.depth.get(t.fqn, 0)
            self.depth[t.fqn] = n + 1
            try:
                return T.StructType(
                    [T.StructField(f.name, self.convert(f.type), True) for f in t.fields]
                )
            finally:
                self.depth[t.fqn] = n
        if isinstance(t, AvroRecursionRef):
            if self.depth.get(t.fqn, 0) >= self.max_depth:
                return T.StringType()  # truncated branch; never decoded
            target = self.env.get(t.fqn)
            if target is None:
                raise InvalidParserStateError(f"dangling recursion ref {t.fqn!r}")
            return self.convert(target)
        raise InvalidParserStateError(f"unexpected type {t!r}")


# ---------------------------------------------------------------------------
# target-typed literals (for field defaults)
# ---------------------------------------------------------------------------


def _lit_value(value, dtype: T.DataType) -> Column:
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


# ---------------------------------------------------------------------------
# wire → target transformation + validation expressions
# ---------------------------------------------------------------------------


class _ExprBuilder:
    """Builds (value, errors) column pairs per schema node.

    ``raw`` is the raw JSON *text* of the node (None where it is not
    threaded: beyond ``RAW_RECURSION_LIMIT``, or under a collection whose
    own text is not); ``path`` is used only for error labels.  Record,
    union, map and array nodes read ``raw`` through one parsed view (see
    ``_view``): outside collections it is appended to ``views`` as a
    staged column, inside collections it is let-bound.  The error channel
    is a string of ``;``-prefixed tags (see ``_empty_errs``).
    """

    #: raw-text threading stops after this many re-entries of the same
    #: record (recursion): inside collections every level re-references
    #: its parent's let-bound view, so the analysis-time expression tree
    #: grows with each level — beyond the limit validation falls back to
    #: wire-proxy checks (typed values still decode to the full max_depth
    #: unroll)
    RAW_RECURSION_LIMIT = 3

    def __init__(
        self,
        env: dict[str, AvroType],
        max_depth: int,
        root_map: Optional[Column] = None,
    ):
        self.env = env
        self.max_depth = max_depth
        self.root_map = root_map  # staged map<string,string> of the root text
        self.depth: dict[str, int] = {}
        #: staged views, (level, column name, parse): a level-k view reads
        #: only staged columns of levels < k (level 0 = the first stage)
        self.views: list[tuple[int, str, Column]] = []
        self._level = 0
        self._in_lambda = 0  # > 0 while building a collection lambda body

    # helpers ---------------------------------------------------------------

    @staticmethod
    def _err(cond: Column, code: str, path: str) -> Column:
        return F.when(cond, F.lit(f";{code}@{path}"))

    @staticmethod
    def _cat(*errs: Column) -> Column:
        """Join error channels.  ``concat_ws`` skips nulls and the tags
        carry their own separator, so an all-clean join is ``''`` — which
        the channel reads as clean, like null.  Nothing here needs a
        let-binding or a null fold, so the tree stays in generated code."""
        errs = [e for e in errs if e is not None]
        if not errs:
            return _empty_errs()
        if len(errs) == 1:
            return errs[0]
        return F.concat_ws("", *errs)

    def _view(self, raw: Column, path: str, role: str, body, dtype=_OBJ_VIEW):
        """``body(view, role)`` over ONE parse of ``raw`` as ``dtype``.

        Outside collections the parse becomes a staged column (the root
        object view is the first stage's ``root_map``) and ``body`` runs
        once for both slots.  Inside a collection ``raw`` is a lambda
        variable, so the parse is let-bound instead, separately under each
        output slot: the value tree references only child values and the
        errs tree only child errors, so each stays linear in node count
        (one shared (v, e) pair struct would duplicate per level)."""
        if self._in_lambda:
            view = F.from_json(raw, dtype)
            value = _let(view, lambda m: body(m, "value")[0]) if role != "errs" else F.lit(None)
            errs = _let(view, lambda m: body(m, "errs")[1]) if role != "value" else _empty_errs()
            return value, errs
        if path == "$" and dtype is _OBJ_VIEW and self.root_map is not None:
            return body(self.root_map, role)
        name = f"_anglerfish_v{len(self.views)}"
        self._level += 1
        self.views.append((self._level, name, F.from_json(raw, dtype)))
        try:
            return body(F.col(name), role)
        finally:
            self._level -= 1

    def _each(
        self, t: AvroType, path: str, role: str, wire: Column, raw: Optional[Column]
    ) -> tuple[Column, Column]:
        """(value array, joined errs) over collection elements: ``transform``
        of the typed elements, or ``zip_with`` of typed and raw ones.  A null
        collection yields null for both."""
        def over(slot: int, r: str) -> Column:
            if raw is None:
                return F.transform(wire, lambda w: self.build(t, w, None, path, r)[slot])
            return F.zip_with(wire, raw, lambda w, x: self.build(t, w, x, path, r)[slot])

        self._in_lambda += 1
        try:
            value = over(0, "value") if role != "errs" else F.lit(None)
            errs = F.array_join(over(1, "errs"), "") if role != "value" else _empty_errs()
        finally:
            self._in_lambda -= 1
        return value, errs

    # node dispatch ----------------------------------------------------------

    def build(
        self, t: AvroType, wire: Column, raw: Optional[Column], path: str,
        role: str = "both",
    ) -> tuple[Column, Column]:
        """Build the (value, errors) column pair for a schema node.

        ``role`` controls which slot the caller will actually use —
        collection lambdas build their value and errs trees in separate
        ``"value"`` / ``"errs"`` traversals, which skip the other slot's
        construction at the view and collection nodes, so per-slot
        let-binding costs ONE Python traversal per slot instead of doubling
        per nesting level.  The unused slot is a cheap dummy; leaves build
        both slots (negligible)."""
        if isinstance(t, AvroRecursionRef):
            if self.depth.get(t.fqn, 0) >= self.max_depth:
                # truncated: decodes to null; data beyond the bound is an error
                err = (
                    self._err(raw.isNotNull() & (raw != F.lit("null")), "UnrepresentableError", path)
                    if raw is not None
                    else _empty_errs()
                )
                return F.lit(None), err
            target = self.env.get(t.fqn)
            if target is None:
                raise InvalidParserStateError(f"dangling recursion ref {t.fqn!r}")
            return self.build(target, wire, raw, path, role)
        if isinstance(t, AvroPrimitive):
            value, err = self._prim(t.kind, wire, raw, path)
            if t.logical is not None:
                value, lerr = self._lift_logical(t.logical, value, path)
                err = self._cat(err, lerr)
            return value, err
        if isinstance(t, AvroEnum):
            ok_null = wire.isNull()
            err = self._err(~ok_null & ~wire.isin(*t.symbols), "EnumError", path)
            return wire, err
        if isinstance(t, AvroFixed):
            value = F.unbase64(wire)
            bad_b64 = wire.isNotNull() & ~wire.rlike(_B64_RE)
            bad_len = wire.isNotNull() & (F.length(value) != F.lit(t.length))
            err = self._cat(
                self._err(bad_b64, "UnexpectedTypeError", path),
                self._err(~bad_b64 & bad_len, "FixedError", path),
            )
            if t.logical is not None:  # decimal-annotated fixed
                value, lerr = self._lift_logical(t.logical, value, path)
                err = self._cat(err, lerr)
            return value, err
        if isinstance(t, AvroArray):
            return self._array(t, wire, raw, path, role)
        if isinstance(t, AvroMap):
            return self._map(t, wire, raw, path, role)
        if isinstance(t, AvroUnion):
            return self._union(t, wire, raw, path, role)
        if isinstance(t, AvroRecord):
            return self._record(t, wire, raw, path, role)
        raise InvalidParserStateError(f"unexpected type {t!r}")

    def _lift_logical(self, logical, carrier: Column, path: str) -> tuple[Column, Column]:
        """Carrier column → native Catalyst value (logical-types surface,
        beyond reference — AvroData.scala:17 TODO).  Range violations
        (time-of-day out of a day, decimal beyond the expression fold's
        15-byte bound or the declared precision) flow to the error channel
        as ``UnrepresentableError`` — the converted value is NULL there."""
        from .logical import (
            carrier_to_value_expr,
            decimal_overflow_expr,
            time_range_err_expr,
        )

        errs: list[Column] = []
        if logical.name in ("time-millis", "time-micros"):
            errs.append(self._err(time_range_err_expr(logical, carrier), "UnrepresentableError", path))
        value = carrier_to_value_expr(logical, carrier)
        if logical.name == "decimal" and logical.precision <= 38:
            errs.append(self._err(decimal_overflow_expr(carrier), "UnrepresentableError", path))
            errs.append(
                self._err(
                    carrier.isNotNull()
                    & (F.length(carrier) > 0)
                    & ~decimal_overflow_expr(carrier)
                    & value.isNull(),
                    "UnrepresentableError",
                    path,
                )
            )
        return value, self._cat(*errs) if errs else _empty_errs()

    def _prim(
        self, kind: Primitive, wire: Column, raw: Optional[Column], path: str
    ) -> tuple[Column, Column]:
        # wrong JSON type nulls the wire parse silently (from_json
        # PERMISSIVE); where raw text is addressable, a present-but-unparsed
        # value reveals the mismatch.  (Note: nested raw text for an
        # explicit JSON null is NULL; at the root it is the text 'null' —
        # both excluded here, null-ness belongs to union/record logic.)
        present_text = None if raw is None else (raw.isNotNull() & (raw != F.lit("null")))
        mismatch = (
            self._err(present_text & wire.isNull(), "UnexpectedTypeError", path)
            if raw is not None and kind not in (Primitive.NULL, Primitive.STRING, Primitive.BYTES)
            else None
        )
        if kind is Primitive.NULL:
            err = (
                self._err(present_text, "UnexpectedTypeError", path)
                if raw is not None
                else _empty_errs()
            )
            return F.lit(None), err
        if kind in (Primitive.INT, Primitive.LONG):
            if raw is not None:
                # int64 overflow also nulls the wire; the raw digits reveal
                # it.  try_cast: ANSI casts throw; >38-digit literals must
                # flow to the error channel, not crash permissive mode
                rawd = raw.try_cast("decimal(38,0)")
                integral = raw.rlike(r"^-?[0-9]+$")
                overflow = integral & (
                    rawd.isNull()  # beyond decimal(38) => certainly beyond int64
                    | (rawd > F.lit(2**63 - 1).cast("decimal(38,0)"))
                    | (rawd < F.lit(-(2**63)).cast("decimal(38,0)"))
                )
                # anything else present that the typed parse nulled is a
                # wrong JSON type — including a QUOTED in-range number: the
                # raw object view strips quotes, so integral raw digits with
                # a null wire can only mean the token was a JSON string (a
                # bare in-range integer would have parsed).  Pre-r4 this
                # case slipped through as a silent null (pydecode raises
                # UnexpectedTypeError).
                type_mismatch = self._err(
                    present_text & wire.isNull() & ~overflow, "UnexpectedTypeError", path
                )
                if kind is Primitive.INT:
                    # pydecode D3: fits int64 but not int32 → UnexpectedType;
                    # beyond int64 → Unrepresentable (the digits say which)
                    too_big = wire.isNotNull() & ((wire < INT32_MIN) | (wire > INT32_MAX))
                    return wire.try_cast("int"), self._cat(
                        self._err(too_big, "UnexpectedTypeError", path),
                        self._err(overflow, "UnrepresentableError", path),
                        type_mismatch,
                    )
                return wire, self._cat(
                    self._err(overflow, "UnrepresentableError", path), type_mismatch
                )
            if kind is Primitive.INT:
                too_big = wire.isNotNull() & ((wire < INT32_MIN) | (wire > INT32_MAX))
                # try_cast: under ANSI a plain cast would THROW on overflow
                # even in permissive mode; the range check carries the error
                return wire.try_cast("int"), self._err(too_big, "UnexpectedTypeError", path)
            return wire, _empty_errs()
        if kind in (Primitive.FLOAT, Primitive.DOUBLE):
            # strict D3: JSON integer literals are not acceptable for
            # float/double (reference matches only JSON doubles, :624-633)
            int_literal = (
                self._err(
                    raw.isNotNull() & raw.rlike(r"^-?[0-9]+$"), "UnexpectedTypeError", path
                )
                if raw is not None
                else None
            )
            if kind is Primitive.FLOAT:
                inexact = wire.isNotNull() & (wire.cast("float").cast("double") != wire)
                return wire.cast("float"), self._cat(
                    self._err(inexact, "UnrepresentableError", path), int_literal, mismatch
                )
            return wire, self._cat(int_literal, mismatch)
        if kind is Primitive.BYTES:
            bad = wire.isNotNull() & ~wire.rlike(_B64_RE)
            return F.unbase64(wire), self._err(bad, "UnexpectedTypeError", path)
        # boolean / string: wire type is already the target type
        return wire, (self._cat(mismatch) if mismatch is not None else _empty_errs())

    def _array(
        self, t: AvroArray, wire: Column, raw: Optional[Column], path: str,
        role: str = "both",
    ) -> tuple[Column, Column]:
        """Raw text, when addressable, is parsed once as ``array<string>``
        (same single-pass view as records) and zipped element-wise with the
        typed parse — extra-field / overflow / wrong-type strictness applies
        at full depth inside arrays.  Both arrays come from the same text,
        so lengths always agree when both parse."""
        elem_path = f"{path}[]"
        if raw is None:
            return self._each(t.items, elem_path, role, wire, None)

        def with_view(elems: Column, role: str) -> tuple[Column, Column]:
            value, errs = self._each(t.items, elem_path, role, wire, elems)
            if role == "value":
                return value, errs
            present = raw.isNotNull() & (raw != F.lit("null"))
            # scalar/object at an array position → the raw array parse nulls;
            # an element whose *typed* parse failed nulls the whole wire array
            # (from_json PERMISSIVE) while the raw parse survives — both error
            shape = self._err(present & elems.isNull(), "UnexpectedTypeError", path)
            elem_fail = self._err(
                elems.isNotNull() & wire.isNull(), "UnexpectedTypeError", elem_path
            )
            return value, self._cat(errs, shape, elem_fail)

        return self._view(raw, path, role, with_view, _ELEM_VIEW)

    def _map(
        self, t: AvroMap, wire: Column, raw: Optional[Column], path: str,
        role: str = "both",
    ) -> tuple[Column, Column]:
        """Same raw-threading as ``_array``: the one-pass object view gives
        per-value raw text; key order is identical between the typed and raw
        parses because both stream the same document."""
        val_path = f"{path}.{{}}" if raw is not None else "{}"

        def decode(rmap: Optional[Column], role: str) -> tuple[Column, Column]:
            rvals = F.map_values(rmap) if rmap is not None else None
            value, errs = self._each(t.values, val_path, role, F.map_values(wire), rvals)
            if role != "errs":
                value = F.map_from_arrays(F.map_keys(wire), value)
            if role == "value" or rmap is None:
                return value, errs
            present = raw.isNotNull() & (raw != F.lit("null"))
            shape = self._err(present & rmap.isNull(), "UnexpectedTypeError", path)
            val_fail = self._err(rmap.isNotNull() & wire.isNull(), "UnexpectedTypeError", val_path)
            return value, self._cat(errs, shape, val_fail)

        if raw is None:
            return decode(None, role)
        return self._view(raw, path, role, decode)

    def _union(
        self, t: AvroUnion, wire: Column, raw: Optional[Column], path: str,
        role: str = "both",
    ) -> tuple[Column, Column]:
        if len(t.non_null_members) == 0:
            err = (
                self._err(raw.isNotNull() & (raw != F.lit("null")), "UnionError", path)
                if raw is not None
                else _empty_errs()
            )
            return F.lit(None), err
        if raw is None:
            return self._union_with_map(t, wire, None, None, path, role)
        return self._view(
            raw, path, role, lambda m, r: self._union_with_map(t, wire, raw, m, path, r)
        )

    def _union_with_map(
        self,
        t: AvroUnion,
        wire: Column,
        raw: Optional[Column],
        umap: Optional[Column],
        path: str,
        role: str = "both",
    ) -> tuple[Column, Column]:
        non_null = t.non_null_members
        branch_keys = [type_name(m) for m in non_null]
        field_names = union_field_names(t)
        want_v, want_e = role != "errs", role != "value"
        members = []
        member_errs: list[Column] = []
        for m, key, fname in zip(non_null, branch_keys, field_names):
            sub_raw = umap.getItem(key) if umap is not None else None
            v, e = self.build(m, wire.getField(key), sub_raw, f"{path}.{key}", role)
            if want_v:
                members.append(v.alias(fname))
            if want_e:
                member_errs.append(e)
        checks: list[Column] = []
        if umap is not None:
            keys = F.map_keys(umap)
            is_obj = keys.isNotNull()
            checks.append(
                self._err(raw.isNotNull() & (raw != F.lit("null")) & ~is_obj, "UnionError", path)
            )
            checks.append(self._err(is_obj & (F.size(keys) != 1), "UnionError", path))
            known = F.array(*[F.lit(k) for k in branch_keys])
            checks.append(
                self._err(
                    is_obj & (F.size(keys) == 1) & (F.size(F.array_except(keys, known)) > 0),
                    "UnionResolutionError",
                    path,
                )
            )
            if not t.is_nullable:
                checks.append(self._err(raw.isNull() & wire.isNull(), "UnionError", path))
        if not want_v:
            value = F.lit(None)
        elif len(non_null) == 1:
            # target is the bare nullable value, not a member_* struct
            value = members[0]
        else:
            value = F.when(wire.isNull(), F.lit(None)).otherwise(F.struct(*members))
        if not want_e:
            return value, _empty_errs()
        return value, self._cat(
            F.when(wire.isNotNull(), self._cat(*member_errs)),
            *checks,
        )

    def _record(
        self, t: AvroRecord, wire: Column, raw: Optional[Column], path: str,
        role: str = "both",
    ) -> tuple[Column, Column]:
        """Every field extraction, the key set and the shape check read the
        record's object view — ONE parse per row through ``_view``.  (An
        inline view per reference would embed its own ``from_json`` copy,
        and the copies multiply per nesting level: json_decode_recursive
        once carried 178 of them and spent ~20 s per call in
        analysis+codegen for three rows.)"""
        n = self.depth.get(t.fqn, 0)
        self.depth[t.fqn] = n + 1
        if n >= self.RAW_RECURSION_LIMIT:
            raw = None  # keep the expression tree linear in unroll depth
        try:
            if raw is None:
                return self._record_with_map(t, wire, None, None, path, role)
            return self._view(
                raw, path, role, lambda m, r: self._record_with_map(t, wire, raw, m, path, r)
            )
        finally:
            self.depth[t.fqn] = n

    def _record_with_map(
        self,
        t: AvroRecord,
        wire: Column,
        raw: Optional[Column],
        rmap: Optional[Column],
        path: str,
        role: str = "both",
    ) -> tuple[Column, Column]:
        want_v, want_e = role != "errs", role != "value"
        keys = F.map_keys(rmap) if rmap is not None else None
        shape_err = None
        if want_e and rmap is not None:
            # JSON present but not an object (scalar/array) at a record
            # position; JSON null is the parent's (union) concern
            shape_err = self._err(
                raw.isNotNull() & (raw != F.lit("null")) & rmap.isNull(),
                "UnexpectedTypeError",
                path,
            )
        target = to_struct_type(t, self.env, self.max_depth)  # for default literals

        fields: list[Column] = []
        errs: list[Column] = []
        for f in t.fields:
            fpath = f"{path}.{f.name}"
            fwire = wire.getField(f.name)
            fraw = rmap.getItem(f.name) if rmap is not None else None
            v, e = self.build(f.type, fwire, fraw, fpath, role)
            if keys is not None:
                present = F.array_contains(keys, f.name)
                if f.has_default:
                    if want_v:
                        default_lit = self._default_lit(f, target[f.name].dataType)
                        v = F.when(present, v).otherwise(default_lit)
                    if want_e:
                        e = F.when(present, e)
                elif want_e:
                    errs.append(
                        self._err(keys.isNotNull() & ~present, "RecordError", fpath)
                    )
            else:
                # raw text unaddressable (inside a collection): proxy —
                # required non-nullable field that parsed to null is an
                # error; null with a default takes the default
                if f.has_default:
                    if want_v:
                        default_lit = self._default_lit(f, target[f.name].dataType)
                        v = F.coalesce(v, default_lit) if not _is_null_default(f) else v
                elif want_e and not _field_nullable(f):
                    errs.append(self._err(wire.isNotNull() & fwire.isNull(), "RecordError", fpath))
            if want_v:
                fields.append(v.alias(f.name))
            if want_e:
                errs.append(e)

        if not want_e:
            value = F.when(wire.isNull(), F.lit(None)).otherwise(F.struct(*fields))
            return value, _empty_errs()
        if keys is not None:
            known = F.array(*[F.lit(f.name) for f in t.fields])
            errs.append(
                self._err(
                    keys.isNotNull() & (F.size(F.array_except(keys, known)) > 0),
                    "RecordError",
                    path,
                )
            )
        value = (
            F.when(wire.isNull(), F.lit(None)).otherwise(F.struct(*fields))
            if want_v
            else F.lit(None)
        )
        guarded = [
            F.when(wire.isNotNull(), e) if keys is None else e
            for e in errs
        ]
        if shape_err is not None:
            guarded.append(shape_err)
        return value, self._cat(*guarded)

    def _default_lit(self, f: AvroField, dtype: T.DataType) -> Column:
        decoded = _PyDecoder(self.env, self.max_depth).decode(f.type, f.default, f"default({f.name})")
        return _lit_value(decoded, dtype)

    # flat-record fast path ---------------------------------------------------

    @staticmethod
    def _synth_wire(t: AvroType, rawf: Column) -> Column:
        """Typed 'wire' column synthesized from raw field text, with the
        same acceptance behavior as a from_json parse of the field — what
        lets a flat record decode with ONE JSON parse instead of two."""
        if isinstance(t, (AvroEnum, AvroFixed)):
            return rawf
        assert isinstance(t, AvroPrimitive)
        if t.kind is Primitive.BOOLEAN:
            return F.when(rawf == "true", F.lit(True)).when(rawf == "false", F.lit(False))
        if t.kind in (Primitive.INT, Primitive.LONG):
            return rawf.try_cast("long")
        if t.kind in (Primitive.FLOAT, Primitive.DOUBLE):
            # try_cast accepts the words NaN/Infinity, which JSON numbers
            # cannot be — only a (quote-stripped) string could produce them
            return F.when(
                ~rawf.isin("NaN", "Infinity", "-Infinity", "+Infinity"),
                rawf.try_cast("double"),
            )
        if t.kind is Primitive.NULL:
            return F.lit(None).cast("string")
        return rawf  # STRING / BYTES travel as text

    def build_flat_record(
        self,
        t: AvroRecord,
        rmap: Column,
        raw: Column,
        path: str,
        vprobe: Optional[Column] = None,
    ) -> tuple[Column, Column]:
        """Decode a record whose fields are all primitive/enum/fixed from
        the staged ``map<string,string>`` view alone — identical semantics
        to the general path minus its second (wire-struct) JSON parse.

        ``vprobe`` (a staged ``try_parse_json`` variant of the same text)
        closes the one hole the string map cannot see: the map view strips
        JSON quotes, so a *quoted* number/boolean at a numeric/boolean
        position (``"123"`` for ``long``) is indistinguishable from a bare
        one — ``_synth_wire``'s casts accept it where ``pydecode`` (and the
        general path's typed ``from_json``) reject.  The variant preserves
        the token type: ``schema_of_variant == 'STRING'`` at such a field
        is exactly the quoted case.  When the variant parse fails on
        JSON Jackson tolerates (bare NaN), the probe is null and the check
        silently stands down — strictness never regresses below the map
        view's."""
        keys = F.map_keys(rmap)
        present_text = raw.isNotNull() & (raw != F.lit("null"))
        shape_err = self._err(present_text & rmap.isNull(), "UnexpectedTypeError", path)
        target = to_struct_type(t, self.env, self.max_depth)

        fields: list[Column] = []
        errs: list[Column] = []
        for f in t.fields:
            fpath = f"{path}.{f.name}"
            fraw = rmap.getItem(f.name)
            v, e = self.build(f.type, self._synth_wire(f.type, fraw), fraw, fpath)
            if vprobe is not None and _kind_rejects_json_strings(f.type):
                quoted = (
                    F.schema_of_variant(F.try_variant_get(vprobe, f"$.{f.name}", "variant"))
                    == F.lit("STRING")
                )
                errs.append(self._err(quoted, "UnexpectedTypeError", fpath))
                # A quoted token is ONE violation (pydecode raises exactly one
                # UnexpectedTypeError).  The quote-stripped map view cannot see
                # the quotes, so its own checks may fire too — the int-literal
                # check for "2" at a double position, the cast-null mismatch
                # for "abc" at a long position — producing a duplicate (or a
                # bogus Unrepresentable from a cast of what was a string
                # token).  The probe's verdict wins; stand-down (null probe)
                # keeps the map view's errors.
                e = F.when(~F.coalesce(quoted, F.lit(False)), e)
            present = F.array_contains(keys, f.name)
            if f.has_default:
                default_lit = self._default_lit(f, target[f.name].dataType)
                v = F.when(present, v).otherwise(default_lit)
                e = F.when(present, e)
            else:
                errs.append(self._err(keys.isNotNull() & ~present, "RecordError", fpath))
            fields.append(v.alias(f.name))
            errs.append(e)

        known = F.array(*[F.lit(f.name) for f in t.fields])
        errs.append(
            self._err(
                keys.isNotNull() & (F.size(F.array_except(keys, known)) > 0),
                "RecordError",
                path,
            )
        )
        value = F.when(rmap.isNull(), F.lit(None)).otherwise(F.struct(*fields))
        guarded = [F.when(rmap.isNotNull(), e) for e in errs]
        guarded.append(shape_err)
        return value, self._cat(*guarded)


def _is_flat_record(t: AvroType) -> bool:
    return isinstance(t, AvroRecord) and all(
        isinstance(f.type, (AvroPrimitive, AvroEnum, AvroFixed)) for f in t.fields
    )


def _kind_rejects_json_strings(t: AvroType) -> bool:
    """Primitive kinds for which a JSON string token is a type error that
    the quote-stripping map view cannot detect (numerics + boolean)."""
    return isinstance(t, AvroPrimitive) and t.kind in (
        Primitive.INT,
        Primitive.LONG,
        Primitive.FLOAT,
        Primitive.DOUBLE,
        Primitive.BOOLEAN,
    )


def _field_nullable(f: AvroField) -> bool:
    t = f.type
    if isinstance(t, AvroPrimitive) and t.kind is Primitive.NULL:
        return True
    return isinstance(t, AvroUnion) and t.is_nullable


def _is_null_default(f: AvroField) -> bool:
    return f.has_default and f.default is None


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------

#: (schema JSON string, max_depth, SparkContext) -> (wire_t, flat,
#: needs_vprobe, view_stages, value, errs) — see the cache note inside
#: decode_json.  Least recently used entries are evicted first; the
#: SparkContext in the key keeps trees built under a stopped session (or a
#: relaunched gateway) from ever being reused.  Columns are immutable
#: expression trees, safe to embed in any number of plans.
_DECODE_EXPR_CACHE = Memo(256)

# fixed internal stage-column names: the cached trees reference them
_RAW = "_anglerfish_raw"
_RMAP = "_anglerfish_rmap"
_WIRE = "_anglerfish_wire"
_VPROBE = "_anglerfish_vprobe"
_ERRS = "_anglerfish_errs"


def _with_cols(names: list[str], refs: dict[str, Column], new: dict[str, Column]) -> list[Column]:
    """``withColumns`` as one projection list: a column named like a new
    one is replaced in place, the other new ones are appended."""
    out = [new[n].alias(n) if n in new else refs[n] for n in names]
    return out + [c.alias(n) for n, c in new.items() if n not in names]


def _build_trees(schema: ParsedSchema | AvroType | str, max_depth: int) -> tuple:
    """The cacheable part of ``decode_json``: (wire_t, flat, needs_vprobe,
    view_stages, value, errs), where ``view_stages`` holds the aliased
    view parses of each staging level."""
    if isinstance(schema, str):
        schema = parse_schema(schema)
    if isinstance(schema, ParsedSchema):
        root, env = schema.root, schema.env
    else:
        root, env = schema, {}
    wire_t = wire_struct_type(root, env, max_depth)
    if not isinstance(wire_t, (T.StructType, T.ArrayType, T.MapType)):
        raise InvalidParserStateError(
            "root schema must be a record, array, map, or multi-union"
        )
    flat = _is_flat_record(root)
    needs_vprobe = flat and any(_kind_rejects_json_strings(f.type) for f in root.fields)
    raw, rmap = F.col(_RAW), F.col(_RMAP)
    builder = _ExprBuilder(env, max_depth, root_map=rmap)
    if flat:
        # flat records decode from the map view alone: ONE JSON parse/row
        value, errs = builder.build_flat_record(
            root, rmap, raw, "$", vprobe=F.col(_VPROBE) if needs_vprobe else None
        )
    else:
        value, errs = builder.build(root, F.col(_WIRE), raw, "$")
    levels = sorted({lvl for lvl, _, _ in builder.views})
    view_stages = [[e.alias(n) for lvl, n, e in builder.views if lvl == k] for k in levels]
    # malformed JSON text: get_json_object('$') is null only when the text
    # does not parse at all (from_json PERMISSIVE yields an all-null struct,
    # so the parsed column cannot be used to detect this).  The rmap guard
    # in front short-circuits in codegen (Java &&), so this extra parse
    # only runs for rows whose map parse already failed — rare, unless the
    # root schema is an array (rmap is then always null).
    malformed = raw.isNotNull() & rmap.isNull() & F.get_json_object(raw, "$").isNull()
    errs = F.when(malformed, F.lit(";UnexpectedJsonTypeError@$")).otherwise(errs)
    return wire_t, flat, needs_vprobe, view_stages, value, errs


def decode_json(
    df: DataFrame,
    col: str | Column,
    schema: ParsedSchema | AvroType | str,
    mode: str = "strict",
    max_depth: int = 10,
    output_col: str = "decoded",
    errors_col: str = "_errors",
) -> DataFrame:
    """Decode a JSON-text column against an Avro schema, strictly.

    Engine analogue of reference ``parseDatum`` (AvroJsonFAlgebras.scala:715-723)
    lifted to a whole column.  ``mode``:

    * ``"strict"``   — any violation raises (executor-side, via raise_error);
    * ``"permissive"`` — adds ``errors_col: array<string>`` of ``Code@path``.
    """
    # schema-keyed EXPRESSION cache (r14-opt, the pydecode/avro_binary
    # compile-cache pattern lifted to the Column layer): the trees are pure
    # functions of (schema JSON, max_depth) — they reference only the FIXED
    # internal stage-column names — and building them costs ~0.5 s of py4j
    # round trips per invocation on the flat events schema.  Keyed on the
    # schema STRING (all engine callers pass the JSON literal);
    # ParsedSchema/AvroType callers skip the cache.  Compile cache, never
    # data: the per-row parse still runs at every action.
    cache_key = (
        (schema, max_depth, df.sparkSession.sparkContext) if isinstance(schema, str) else None
    )
    cached = _DECODE_EXPR_CACHE.get_or(cache_key, lambda: _build_trees(schema, max_depth))
    wire_t, flat, needs_vprobe, view_stages, value, errs = cached

    # Each stage below is ONE select over column lists kept in Python
    # (``df.columns`` is read once): every DataFrame op re-analyses the
    # whole plan, so a withColumn chain costs a re-analysis per column.
    names = df.columns
    refs = {c: F.col(c) for c in names}
    raw = (refs[col] if col in refs else F.col(col)) if isinstance(col, str) else col
    # staged projections: the parses are materialized as intermediate
    # columns THROUGH A GENERATE BARRIER so each is evaluated exactly once.
    # A plain projection is not enough: CollapseProject inlines a parse
    # into every downstream reference, and JsonToStructs is
    # CodegenFallback — no codegen subexpression elimination reaches it
    # (measured 246 from_json copies in q_stream_decode's physical plan,
    # ~13x the pipeline's runtime, before the barrier).
    stage = {_RAW: raw, _RMAP: F.from_json(raw, _OBJ_VIEW)}
    if not flat:
        stage[_WIRE] = F.from_json(raw, wire_t)
    if needs_vprobe:
        # quoted-number/boolean detection (see build_flat_record): one
        # variant parse per row, staged through the same barrier — but only
        # for rows that can possibly contain a quoted token.  By JSON
        # grammar a string value is always ':' + optional whitespace + '"',
        # so rows without that byte pattern provably hold no quoted token
        # and skip the second (variant) parse entirely; the per-field
        # checks see a null probe there and stand down, which is exact.
        # Measured (r5 A/B, same session, sf0.1 events): the whole probe
        # apparatus costs ~6% on json_decode_strict (0.68 -> 0.72 s) and
        # the prefilter is neutral-to-slightly-positive on these ~15-byte
        # payloads — its real payoff is numeric-only payloads at realistic
        # row sizes, where it skips a full second parse of the row text.
        stage[_VPROBE] = F.when(raw.rlike(':\\s*"'), F.try_parse_json(raw))
    # Generate barrier: ``inline`` of a one-element array of structs is a
    # row-preserving generator Catalyst cannot collapse a Project through,
    # so every column materializes once and each downstream reference
    # reads the materialized value.  Generate stays in whole-stage codegen.
    every = F.col("*")
    barrier = F.inline(F.array(F.struct(every)))
    staged = df.select(every, *[e.alias(n) for n, e in stage.items()]).select(barrier)
    # nested views, one select per level: a view parses a field of a view
    # one level up and is referenced many times downstream, so (with the
    # barriers keeping parent operators from being pushed through)
    # CollapseProject keeps every level its own Project — it never
    # duplicates a non-cheap expression — and each view is parsed once
    for views in view_stages:
        staged = staged.select(every, *views)

    staged = staged.select(*_with_cols(names, refs, {output_col: value, _ERRS: errs}))
    if output_col not in refs:
        names = [*names, output_col]
    refs[output_col] = F.col(output_col)
    if not flat:
        # second Generate barrier: CollapseProject would otherwise inline
        # the (deep) errs tree into the strict/permissive output column and
        # SimplifyConditionals then grinds the merged tree — measured 2.8 s
        # of the 3 s optimizer time on the depth-5 recursive decode
        # (CollapseProject 1.44 s + SimplifyConditionals 1.36 s via
        # RuleExecutor.dumpTimeSpent; SCALE.md #23).  Behind a barrier both
        # trees stay in their own Project and are optimized once each.
        # Flat records skip it: their trees are small and the extra
        # Generate would tax the hot json_decode_strict path.
        staged = staged.select(barrier)

    # the channel is '' or null when clean, else ';'-prefixed tags: strip
    # the first ';' once, here
    e = F.col(_ERRS)
    tags = F.substr(e, F.lit(2))
    if mode == "permissive":
        err_arr = F.when(e != "", F.split(tags, ";")).otherwise(F.array().cast("array<string>"))
        return staged.select(*_with_cols(names, refs, {errors_col: err_arr}))
    if mode == "strict":
        boom = F.raise_error(F.concat(F.lit("anglerfish strict decode failed: "), tags))
        checked = F.when(e != "", boom).otherwise(refs[output_col])
        return staged.select(*_with_cols(names, refs, {output_col: checked}))
    raise ValueError(f"unknown mode {mode!r} (strict|permissive)")


def decode_json_python(
    df: DataFrame,
    col: str,
    schema: ParsedSchema | AvroType | str,
    mode: str = "strict",
    max_depth: int = 10,
    output_col: str = "decoded",
    errors_col: str = "_errors",
) -> DataFrame:
    """Full-fidelity decode via the pure-Python reference decoder, run as
    an Arrow-batched ``mapInPandas`` stage (the engine's codec extension
    point).  Semantics are exactly ``pydecode`` — including the quoted-
    number distinctions the expression path cannot see — at pandas-UDF
    cost; use :func:`decode_json` (expressions, whole-stage codegen) on
    hot paths.
    """
    import json as _json

    from ..errors import DatumError

    if isinstance(schema, str):
        schema = parse_schema(schema)
    if isinstance(schema, ParsedSchema):
        root, env = schema.root, schema.env
    else:
        root, env = schema, {}
    if mode not in ("strict", "permissive"):
        raise ValueError(f"unknown mode {mode!r} (strict|permissive)")

    target = to_struct_type(root, env, max_depth)
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField(output_col, target, True),
            T.StructField(errors_col, T.ArrayType(T.StringType()), True),
        ]
    )
    strict = mode == "strict"

    def _bad_const(_):
        raise ValueError("non-finite JSON number")

    def run(batches):
        import pandas as pd

        from .pydecode import compile_decoder

        # schema-compiled once per task (r14-opt, guide §4.2) — exception
        # type+message identical to the _PyDecoder reference twin by the
        # differential suite, so the permissive error column is unchanged
        dec_fn = compile_decoder(root, env, max_depth)
        for pdf in batches:
            decoded, errs = [], []
            for txt in pdf[col]:
                if txt is None:
                    decoded.append(None)
                    errs.append([])
                    continue
                try:
                    datum = _json.loads(txt, parse_constant=_bad_const)
                except ValueError:
                    if strict:
                        raise
                    decoded.append(None)
                    errs.append(["UnexpectedJsonTypeError@$"])
                    continue
                try:
                    decoded.append(dec_fn(datum))
                    errs.append([])
                except DatumError as ex:
                    if strict:
                        raise
                    decoded.append(None)
                    errs.append([f"{type(ex).__name__}@{str(ex).split(':')[0]}"])
            out = pdf.copy()
            out[output_col] = pd.Series(decoded, index=pdf.index, dtype="object")
            out[errors_col] = pd.Series(errs, index=pdf.index, dtype="object")
            yield out

    return df.mapInPandas(run, out_schema)
