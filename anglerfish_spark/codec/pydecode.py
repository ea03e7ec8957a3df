"""Pure-Python strict Avro-JSON datum decoder — the reference semantics 1:1.

Engine analogue of ``parseDatum`` / ``parseAvroDatumAlgebra`` (reference
data/avro/AvroJsonFAlgebras.scala:715-723 and :567-709).  This is the
semantic ground truth for the JVM decoder behind ``decoder.py``'s
``decode_json`` (the test suite runs them differentially) and backs
``decode_json_python``, the Arrow-batched reference twin.

Decoded representation mirrors the target Spark schema produced by
``schema.spark_convert.to_struct_type``:

* records → dict (insertion-ordered, schema field order);
* multi-member unions → dict with exactly the chosen ``member_*`` key set,
  others ``None``; ``["null", T]`` unions → the bare value or None;
* bytes/fixed → ``bytes``; enum → the symbol string.

Numeric rules are D3 (reference :604-633): ints accepted for ``int`` iff
they fit int32 and for ``long`` iff int64 (beyond → UnrepresentableError);
doubles accepted for ``float`` only when the float32 round-trip is exact.
"""

from __future__ import annotations

import base64
import binascii
import math
import struct as _struct
from typing import Any

from ..errors import (
    ArrayError,
    DatumError,
    EnumError,
    FixedError,
    RecordError,
    UnexpectedTypeError,
    UnionError,
    UnionResolutionError,
    UnrepresentableError,
)
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
from ..schema.spark_convert import union_field_names
from .logical import py_carrier_to_value

INT32_MIN, INT32_MAX = -(2**31), 2**31 - 1
INT64_MIN, INT64_MAX = -(2**63), 2**63 - 1


def _b64(value: Any, path: str) -> bytes:
    if not isinstance(value, str):
        raise UnexpectedTypeError(f"{path}: expected base64 string, got {type(value).__name__}")
    try:
        return base64.b64decode(value, validate=True)
    except (binascii.Error, ValueError) as exc:
        raise UnexpectedTypeError(f"{path}: invalid base64: {exc}") from exc


def _float_exact(value: float) -> bool:
    """True iff the double survives a float32 round-trip exactly
    (reference exactness rule, AvroJsonFAlgebras.scala:624-629)."""
    if math.isnan(value) or math.isinf(value):
        return True
    return _struct.unpack("f", _struct.pack("f", value))[0] == value


class Decoder:
    """Schema-directed strict decoder over already-json.loads'ed values."""

    def __init__(self, env: dict[str, AvroType], max_depth: int = 10):
        self.env = env
        self.max_depth = max_depth
        self._depth: dict[str, int] = {}

    # -- entry ---------------------------------------------------------------

    def decode(self, t: AvroType, value: Any, path: str = "$") -> Any:
        if isinstance(t, AvroRecursionRef):
            # expand one level (reference expandRecursiveReference, :530-533)
            target = self.env.get(t.fqn)
            if target is None:
                raise DatumError(f"{path}: dangling recursion ref {t.fqn!r}")
            if self._depth.get(t.fqn, 0) >= self.max_depth:
                raise UnrepresentableError(
                    f"{path}: datum exceeds recursion depth bound {self.max_depth} for {t.fqn!r}"
                )
            return self.decode(target, value, path)
        if isinstance(t, AvroPrimitive):
            out = self._prim(t.kind, value, path)
            if t.logical is not None:
                return py_carrier_to_value(t.logical, out, path)
            return out
        if isinstance(t, AvroEnum):
            if not isinstance(value, str):
                raise UnexpectedTypeError(f"{path}: enum expects string, got {type(value).__name__}")
            if value not in t.symbols:
                raise EnumError(f"{path}: {value!r} not in symbols {list(t.symbols)}")
            return value
        if isinstance(t, AvroFixed):
            raw = _b64(value, path)
            if len(raw) != t.length:
                raise FixedError(f"{path}: fixed {t.fqn} expects {t.length} bytes, got {len(raw)}")
            if t.logical is not None:  # decimal-annotated fixed
                return py_carrier_to_value(t.logical, raw, path)
            return raw
        if isinstance(t, AvroArray):
            if not isinstance(value, list):
                raise ArrayError(f"{path}: expected JSON array, got {type(value).__name__}")
            return [self.decode(t.items, v, f"{path}[{i}]") for i, v in enumerate(value)]
        if isinstance(t, AvroMap):
            if not isinstance(value, dict):
                raise UnexpectedTypeError(f"{path}: expected JSON object (map), got {type(value).__name__}")
            return {k: self.decode(t.values, v, f"{path}.{k}") for k, v in value.items()}
        if isinstance(t, AvroUnion):
            return self._union(t, value, path)
        if isinstance(t, AvroRecord):
            return self._record(t, value, path)
        raise DatumError(f"{path}: unexpected schema node {t!r}")

    # -- primitives (D3/D4/D9) ----------------------------------------------

    def _prim(self, kind: Primitive, value: Any, path: str) -> Any:
        if kind is Primitive.NULL:
            if value is not None:
                raise UnexpectedTypeError(f"{path}: expected null, got {type(value).__name__}")
            return None
        if kind is Primitive.BOOLEAN:
            if not isinstance(value, bool):
                raise UnexpectedTypeError(f"{path}: expected boolean, got {type(value).__name__}")
            return value
        if kind is Primitive.INT:
            self._require_integral(value, path)
            if not INT32_MIN <= value <= INT32_MAX:
                if INT64_MIN <= value <= INT64_MAX:
                    raise UnexpectedTypeError(f"{path}: {value} overflows int32")
                raise UnrepresentableError(f"{path}: {value} not representable as int")
            return value
        if kind is Primitive.LONG:
            self._require_integral(value, path)
            if not INT64_MIN <= value <= INT64_MAX:
                raise UnrepresentableError(f"{path}: {value} not representable as long")
            return value
        if kind is Primitive.FLOAT:
            if isinstance(value, bool) or not isinstance(value, float):
                raise UnexpectedTypeError(f"{path}: expected JSON double for float, got {value!r}")
            if not _float_exact(value):
                raise UnrepresentableError(
                    f"{path}: {value!r} is not exactly representable as float32"
                )
            return value
        if kind is Primitive.DOUBLE:
            if isinstance(value, bool) or not isinstance(value, float):
                raise UnexpectedTypeError(f"{path}: expected JSON double, got {value!r}")
            return value
        if kind is Primitive.BYTES:
            return _b64(value, path)
        if kind is Primitive.STRING:
            if not isinstance(value, str):
                raise UnexpectedTypeError(f"{path}: expected string, got {type(value).__name__}")
            return value
        raise DatumError(f"{path}: unhandled primitive {kind}")

    @staticmethod
    def _require_integral(value: Any, path: str) -> None:
        if isinstance(value, bool) or not isinstance(value, int):
            raise UnexpectedTypeError(f"{path}: expected JSON integer, got {value!r}")

    # -- union (D5 + S3 branch naming) ---------------------------------------

    def _union(self, u: AvroUnion, value: Any, path: str) -> Any:
        non_null = u.non_null_members
        multi = len(non_null) > 1
        if value is None:
            if not u.is_nullable:
                raise UnionError(f"{path}: null not permitted by union")
            return None
        if not isinstance(value, dict):
            raise UnionError(
                f"{path}: union datum must be null or a single-key object, got {value!r}"
            )
        if len(value) != 1:
            raise UnionError(f"{path}: union object must have exactly one key, got {sorted(value)}")
        (key, inner), = value.items()
        matches = [m for m in non_null if self._branch_key(m) == key]
        if not matches:
            raise UnionResolutionError(
                f"{path}: no union branch named {key!r}; "
                f"branches: {[self._branch_key(m) for m in non_null]}"
            )
        if len(matches) > 1:
            raise UnionResolutionError(f"{path}: ambiguous union branch {key!r}")
        member = matches[0]
        decoded = self.decode(member, inner, f"{path}.{key}")
        if not multi:
            return decoded
        # keys are the collision-qualified union_field_names — the same
        # names to_struct_type/as_avro_json use (bare names collide)
        names = union_field_names(u)
        out = dict.fromkeys(names)
        out[names[non_null.index(member)]] = decoded
        return out

    def _branch_key(self, m: AvroType) -> str:
        """Branch keys per reference selectUnionMemberByName
        (AvroJsonFAlgebras.scala:536-565): primitives by type name, named
        types by FQN, 'array'/'map' literally."""
        return type_name(m)

    # -- record (D6/D8) ------------------------------------------------------

    def _record(self, r: AvroRecord, value: Any, path: str) -> Any:
        if not isinstance(value, dict):
            raise UnexpectedTypeError(f"{path}: expected JSON object, got {type(value).__name__}")
        extra = set(value) - {f.name for f in r.fields}
        if extra:
            raise RecordError(f"{path}: unexpected fields {sorted(extra)} for record {r.fqn}")
        n = self._depth.get(r.fqn, 0)
        self._depth[r.fqn] = n + 1
        try:
            out: dict[str, Any] = {}
            for f in r.fields:
                fpath = f"{path}.{f.name}"
                if f.name in value:
                    out[f.name] = self.decode(f.type, value[f.name], fpath)
                elif f.has_default:
                    # default decoded against the full field type (D8; the
                    # reference deviates from the Avro spec's
                    # "first-union-member" rule — we follow the reference)
                    out[f.name] = self.decode(f.type, f.default, fpath)
                else:
                    raise RecordError(f"{path}: missing required field {f.name!r} of {r.fqn}")
            return out
        finally:
            self._depth[r.fqn] = n


def decode_datum(
    t: AvroType,
    value: Any,
    env: dict[str, AvroType] | None = None,
    max_depth: int = 10,
) -> Any:
    """Decode one already-parsed JSON value against a schema, strictly."""
    return Decoder(env or {}, max_depth).decode(t, value)


# ---------------------------------------------------------------------------
# schema-compiled decoder (r14-opt, guide §4.2 — the change-#14 pattern)
# ---------------------------------------------------------------------------


def compile_decoder(t: AvroType, env: dict[str, AvroType] | None = None, max_depth: int = 10):
    """Compile a schema into a ``f(value, path="$") -> decoded`` closure
    tree — the bulk twin of :class:`Decoder` for per-row hot loops
    (``decode_json_python``'s mapInPandas stage, the OCF writer's strict
    pre-encode): the per-value isinstance dispatch over schema nodes and
    the per-call attribute walks happen ONCE per schema instead of once
    per value.  :class:`Decoder` stays as the readable REFERENCE
    implementation; the differential suite
    (tests/test_codec_pydecode_compiled.py) pins compiled-vs-interpreted
    output AND exception type + message over every node kind and a
    corruption battery, because the permissive UDFs surface the error
    identity as oracle-checked output.

    Recursion-depth semantics match the reference exactly: one shared
    per-compiled-decoder depth map, record entry/exit bracketed, the
    bound checked at every recursion-ref expansion — so a closure is
    reusable across calls (depth always unwinds) but, like a reused
    :class:`Decoder`, not thread-safe."""
    env = env or {}
    depth: dict[str, int] = {}
    named_cells: dict[str, list] = {}

    def c_prim(kind: Primitive, logical):
        if kind is Primitive.NULL:
            def f(value, path):
                if value is not None:
                    raise UnexpectedTypeError(f"{path}: expected null, got {type(value).__name__}")
                return None
        elif kind is Primitive.BOOLEAN:
            def f(value, path):
                if not isinstance(value, bool):
                    raise UnexpectedTypeError(f"{path}: expected boolean, got {type(value).__name__}")
                return value
        elif kind is Primitive.INT:
            def f(value, path):
                if isinstance(value, bool) or not isinstance(value, int):
                    raise UnexpectedTypeError(f"{path}: expected JSON integer, got {value!r}")
                if not INT32_MIN <= value <= INT32_MAX:
                    if INT64_MIN <= value <= INT64_MAX:
                        raise UnexpectedTypeError(f"{path}: {value} overflows int32")
                    raise UnrepresentableError(f"{path}: {value} not representable as int")
                return value
        elif kind is Primitive.LONG:
            def f(value, path):
                if isinstance(value, bool) or not isinstance(value, int):
                    raise UnexpectedTypeError(f"{path}: expected JSON integer, got {value!r}")
                if not INT64_MIN <= value <= INT64_MAX:
                    raise UnrepresentableError(f"{path}: {value} not representable as long")
                return value
        elif kind is Primitive.FLOAT:
            def f(value, path):
                if isinstance(value, bool) or not isinstance(value, float):
                    raise UnexpectedTypeError(f"{path}: expected JSON double for float, got {value!r}")
                if not _float_exact(value):
                    raise UnrepresentableError(
                        f"{path}: {value!r} is not exactly representable as float32"
                    )
                return value
        elif kind is Primitive.DOUBLE:
            def f(value, path):
                if isinstance(value, bool) or not isinstance(value, float):
                    raise UnexpectedTypeError(f"{path}: expected JSON double, got {value!r}")
                return value
        elif kind is Primitive.BYTES:
            f = _b64
        elif kind is Primitive.STRING:
            def f(value, path):
                if not isinstance(value, str):
                    raise UnexpectedTypeError(f"{path}: expected string, got {type(value).__name__}")
                return value
        else:  # pragma: no cover - parser emits no other kinds
            def f(value, path):
                raise DatumError(f"{path}: unhandled primitive {kind}")
        if logical is None:
            return f
        base = f

        def lifted(value, path):
            return py_carrier_to_value(logical, base(value, path), path)

        return lifted

    def c_node(t):
        if isinstance(t, AvroRecursionRef):
            fqn = t.fqn
            target = env.get(fqn)
            if target is None:
                def dangling(value, path):
                    raise DatumError(f"{path}: dangling recursion ref {fqn!r}")
                return dangling
            cell = named_cells.get(fqn)
            if cell is None:
                cell = named_cells[fqn] = []
                cell.append(c_node(target))

            def ref(value, path):
                if depth.get(fqn, 0) >= max_depth:
                    raise UnrepresentableError(
                        f"{path}: datum exceeds recursion depth bound {max_depth} for {fqn!r}"
                    )
                return cell[0](value, path)

            return ref
        if isinstance(t, AvroPrimitive):
            return c_prim(t.kind, t.logical)
        if isinstance(t, AvroEnum):
            sym_set = frozenset(t.symbols)
            sym_list = list(t.symbols)

            def enum(value, path):
                if not isinstance(value, str):
                    raise UnexpectedTypeError(f"{path}: enum expects string, got {type(value).__name__}")
                if value not in sym_set:
                    raise EnumError(f"{path}: {value!r} not in symbols {sym_list}")
                return value

            return enum
        if isinstance(t, AvroFixed):
            fqn, length, logical = t.fqn, t.length, t.logical

            def fixed(value, path):
                raw = _b64(value, path)
                if len(raw) != length:
                    raise FixedError(f"{path}: fixed {fqn} expects {length} bytes, got {len(raw)}")
                if logical is not None:
                    return py_carrier_to_value(logical, raw, path)
                return raw

            return fixed
        if isinstance(t, AvroArray):
            item = c_node(t.items)

            def arr(value, path):
                if not isinstance(value, list):
                    raise ArrayError(f"{path}: expected JSON array, got {type(value).__name__}")
                return [item(v, f"{path}[{i}]") for i, v in enumerate(value)]

            return arr
        if isinstance(t, AvroMap):
            val = c_node(t.values)

            def mp(value, path):
                if not isinstance(value, dict):
                    raise UnexpectedTypeError(
                        f"{path}: expected JSON object (map), got {type(value).__name__}"
                    )
                return {k: val(v, f"{path}.{k}") for k, v in value.items()}

            return mp
        if isinstance(t, AvroUnion):
            return c_union(t)
        if isinstance(t, AvroRecord):
            return c_record(t)

        def unknown(value, path):
            raise DatumError(f"{path}: unexpected schema node {t!r}")

        return unknown

    def c_union(u: AvroUnion):
        non_null = u.non_null_members
        multi = len(non_null) > 1
        nullable = u.is_nullable
        branch_keys = [type_name(m) for m in non_null]
        names = union_field_names(u) if multi else None
        # key -> (output name | None, member closure); duplicates keep the
        # reference's decode-time ambiguity error
        branch_map: dict[str, Any] = {}
        for i, (key, m) in enumerate(zip(branch_keys, non_null)):
            if key in branch_map:
                branch_map[key] = "ambiguous"
            else:
                branch_map[key] = (names[i] if multi else None, c_node(m))

        def union(value, path):
            if value is None:
                if not nullable:
                    raise UnionError(f"{path}: null not permitted by union")
                return None
            if not isinstance(value, dict):
                raise UnionError(
                    f"{path}: union datum must be null or a single-key object, got {value!r}"
                )
            if len(value) != 1:
                raise UnionError(
                    f"{path}: union object must have exactly one key, got {sorted(value)}"
                )
            (key, inner), = value.items()
            ent = branch_map.get(key)
            if ent is None:
                raise UnionResolutionError(
                    f"{path}: no union branch named {key!r}; branches: {branch_keys}"
                )
            if ent == "ambiguous":
                raise UnionResolutionError(f"{path}: ambiguous union branch {key!r}")
            out_name, member = ent
            decoded = member(inner, f"{path}.{key}")
            if out_name is None:
                return decoded
            out = dict.fromkeys(names)
            out[out_name] = decoded
            return out

        return union

    def c_record(r: AvroRecord):
        fqn = r.fqn
        field_names = frozenset(f.name for f in r.fields)
        # (name, closure, has_default, default) in schema field order
        fields_c = [(f.name, c_node(f.type), f.has_default, f.default) for f in r.fields]

        def rec(value, path):
            if not isinstance(value, dict):
                raise UnexpectedTypeError(f"{path}: expected JSON object, got {type(value).__name__}")
            if not value.keys() <= field_names:
                extra = set(value) - field_names
                raise RecordError(f"{path}: unexpected fields {sorted(extra)} for record {fqn}")
            n = depth.get(fqn, 0)
            depth[fqn] = n + 1
            try:
                out: dict[str, Any] = {}
                for name, dec, has_default, default in fields_c:
                    if name in value:
                        out[name] = dec(value[name], f"{path}.{name}")
                    elif has_default:
                        # decoded per use, never cached: the reference
                        # decodes the default against the CURRENT depth
                        # state and returns a fresh object each time
                        out[name] = dec(default, f"{path}.{name}")
                    else:
                        raise RecordError(f"{path}: missing required field {name!r} of {fqn}")
                return out
            finally:
                depth[fqn] = n

        return rec

    root = c_node(t)

    def decode(value, path="$"):
        return root(value, path)

    return decode
