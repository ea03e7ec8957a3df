"""In-memory generic-object interop — the I4/I5 bridge.

The reference decodes runtime ``GenericData`` objects against a schema by
*reverse-matching union branches on the runtime class* (I4,
AvroGenericInteropFAlgebras.scala:157-289: per-type ``Typeable`` casts
:159-165, union reverse-match :228-286) and re-exports value trees back to
generic Java representations (I5, :383-411).  The Java ``avro`` library's
Python sibling represents datums as plain Python values (dict / list /
int / float / str / bytes / None — no wrapper classes), so the engine's
bridge consumes exactly those: **untagged** generic objects whose union
branches must be recovered from runtime types.

Pipeline: generic object → :func:`tag_generic` (runtime union
reverse-match → spec Avro-JSON with tagged unions) → the differentially
tested strict decoder (``decode_json``'s JVM decoder on executors) →
typed DataFrame.  Reverse: typed rows → decoded representation →
:func:`to_generic` (untag) → plain objects.

Scale note: like the reference's, this is an *in-memory ingestion/export*
surface — objects live on the driver, so use it for metadata-scale data
(requests, fixtures, registry payloads).  The tagging itself is O(n) pure
Python; the decode/validation runs distributed after ``createDataFrame``.
Bulk data belongs on the OCF/binary paths (sources/avro_ocf.py).

Union branch resolution follows declaration order, first runtime match
wins — the Avro spec's resolution rule for writing untyped data (the same
rule ``GenericData#resolveUnion`` applies), with the reference's D3
narrowing for Python's single ``int``/``float`` types: an int matches an
``int`` member only within int32, a float matches a ``float`` member only
when exactly float32-representable.
"""

from __future__ import annotations

import base64
import datetime as _dt
import json
import uuid as _uuid
from decimal import Decimal as _Decimal
from typing import Any

from ..errors import DatumError, UnionResolutionError
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
    type_name,
)
from ..schema.parser import parse_schema
from ..schema.spark_convert import union_field_names
from ..localdata import local_df
from .pydecode import INT32_MAX, INT32_MIN, INT64_MAX, INT64_MIN, _float_exact

__all__ = [
    "tag_generic",
    "to_generic",
    "objects_to_dataframe",
    "dataframe_to_objects",
]


# ---------------------------------------------------------------------------
# runtime type matching (I4 reverse-match, Python-native)
# ---------------------------------------------------------------------------


def _logical_matches(logical, v) -> bool:
    n = logical.name
    if n == "date":
        return isinstance(v, _dt.date) and not isinstance(v, _dt.datetime)
    if n in ("timestamp-millis", "timestamp-micros", "local-timestamp-millis", "local-timestamp-micros"):
        return isinstance(v, _dt.datetime)
    if n in ("time-millis", "time-micros"):
        return isinstance(v, _dt.time)
    if n == "uuid":
        return isinstance(v, (_uuid.UUID, str))
    if n == "decimal":
        return isinstance(v, _Decimal)
    return False


def _runtime_matches(t: AvroType, v: Any, env: dict) -> bool:
    """Would ``v``'s runtime type decode against member ``t``?  (I4's
    Typeable casts, AvroGenericInteropFAlgebras.scala:159-165, with D3
    numeric narrowing for Python's unified int/float.)"""
    if isinstance(t, AvroRecursionRef):
        return _runtime_matches(env[t.fqn], v, env)
    if isinstance(t, AvroPrimitive):
        k = t.kind
        if t.logical is not None and _logical_matches(t.logical, v):
            return True
        if k is Primitive.NULL:
            return v is None
        if k is Primitive.BOOLEAN:
            return isinstance(v, bool)
        if isinstance(v, bool):
            return False  # bool is an int subclass — never a numeric match
        if k is Primitive.INT:
            return isinstance(v, int) and INT32_MIN <= v <= INT32_MAX
        if k is Primitive.LONG:
            return isinstance(v, int) and INT64_MIN <= v <= INT64_MAX
        if k is Primitive.FLOAT:
            return isinstance(v, float) and _float_exact(v)
        if k is Primitive.DOUBLE:
            return isinstance(v, float)
        if k is Primitive.BYTES:
            return isinstance(v, (bytes, bytearray, memoryview))
        if k is Primitive.STRING:
            return isinstance(v, str)
        return False
    if isinstance(t, AvroEnum):
        return isinstance(v, str) and v in t.symbols
    if isinstance(t, AvroFixed):
        if t.logical is not None and _logical_matches(t.logical, v):
            return True
        return isinstance(v, (bytes, bytearray, memoryview)) and len(v) == t.length
    if isinstance(t, AvroArray):
        return isinstance(v, (list, tuple))
    if isinstance(t, AvroMap):
        return isinstance(v, dict)
    if isinstance(t, AvroRecord):
        # a plain dict carries no FQN (unlike GenericData.Record, which the
        # reference matches by schema FQN, :254-270); match by field-name
        # shape: every required field present, no unknown keys
        if not isinstance(v, dict):
            return False
        names = {f.name for f in t.fields}
        required = {f.name for f in t.fields if not f.has_default}
        return required <= set(v) <= names
    return False


# ---------------------------------------------------------------------------
# generic → Avro-JSON (tagging)
# ---------------------------------------------------------------------------


def _carrier_json(t: AvroPrimitive | AvroFixed, v: Any, path: str) -> Any:
    """Semantic logical value → carrier → its Avro-JSON form."""
    from .logical import py_value_to_carrier

    if isinstance(t, AvroFixed):
        v = py_value_to_carrier(t.logical, v, fixed_length=t.length)
    else:
        v = py_value_to_carrier(t.logical, v)
    if isinstance(v, _uuid.UUID):
        return str(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return base64.b64encode(bytes(v)).decode("ascii")
    return v


def tag_generic(t: AvroType, v: Any, env: dict | None = None, path: str = "$") -> Any:
    """Plain generic object → spec *Avro-JSON* structure: union branches
    recovered from runtime types and tagged by branch key (primitives by
    type name, named types by FQN — S3), bytes/fixed as base64, logical
    semantic values down-converted to carriers.  Output feeds the strict
    decoder, which applies the full E1 validation battery."""
    env = env or {}
    if isinstance(t, AvroRecursionRef):
        return tag_generic(env[t.fqn], v, env, path)
    if isinstance(t, AvroPrimitive):
        if t.logical is not None and _logical_matches(t.logical, v):
            return _carrier_json(t, v, path)
        if t.kind is Primitive.BYTES and isinstance(v, (bytes, bytearray, memoryview)):
            return base64.b64encode(bytes(v)).decode("ascii")
        return v  # decoder validates primitives
    if isinstance(t, AvroFixed):
        if t.logical is not None and _logical_matches(t.logical, v):
            return _carrier_json(t, v, path)
        if isinstance(v, (bytes, bytearray, memoryview)):
            return base64.b64encode(bytes(v)).decode("ascii")
        return v
    if isinstance(t, AvroEnum):
        return v
    if isinstance(t, AvroArray):
        if not isinstance(v, (list, tuple)):
            raise DatumError(f"{path}: expected list for array, got {type(v).__name__}")
        return [tag_generic(t.items, x, env, f"{path}[{i}]") for i, x in enumerate(v)]
    if isinstance(t, AvroMap):
        if not isinstance(v, dict):
            raise DatumError(f"{path}: expected dict for map, got {type(v).__name__}")
        return {k: tag_generic(t.values, x, env, f"{path}.{k}") for k, x in v.items()}
    if isinstance(t, AvroUnion):
        if v is None:
            if not t.is_nullable:
                raise UnionResolutionError(f"{path}: null but union has no null member")
            return None
        for m in t.non_null_members:
            if _runtime_matches(m, v, env):
                return {type_name(m): tag_generic(m, v, env, f"{path}.{type_name(m)}")}
        raise UnionResolutionError(
            f"{path}: runtime type {type(v).__name__} matches no union branch "
            f"{[type_name(m) for m in t.non_null_members]}"
        )
    if isinstance(t, AvroRecord):
        if not isinstance(v, dict):
            raise DatumError(f"{path}: expected dict for record {t.fqn}, got {type(v).__name__}")
        extra = set(v) - {f.name for f in t.fields}
        if extra:
            # D6 strictness enforced HERE with the engine's error class:
            # passing extras through would hit json.dumps with a bare
            # TypeError for non-JSON values (bytes/datetime/Decimal)
            from ..errors import RecordError

            raise RecordError(
                f"{path}: unexpected fields {sorted(extra)} for record {t.fqn}"
            )
        return {
            f.name: tag_generic(f.type, v[f.name], env, f"{path}.{f.name}")
            for f in t.fields
            if f.name in v
        }
    raise DatumError(f"{path}: unexpected schema node {t!r}")


# ---------------------------------------------------------------------------
# decoded representation → generic (untagging; I5 analogue)
# ---------------------------------------------------------------------------


def to_generic(t: AvroType, v: Any, env: dict | None = None) -> Any:
    """Decoded representation (tagged member_* unions) → plain generic
    object (untagged unions) — the engine's ``avroValueToGenericRepr``
    (I5, AvroGenericInteropFAlgebras.scala:383-411)."""
    env = env or {}
    if isinstance(t, AvroRecursionRef):
        return to_generic(env[t.fqn], v, env)
    if v is None:
        return None
    if isinstance(t, (AvroPrimitive, AvroEnum, AvroFixed)):
        return bytes(v) if isinstance(v, (bytearray, memoryview)) else v
    if isinstance(t, AvroArray):
        return [to_generic(t.items, x, env) for x in v]
    if isinstance(t, AvroMap):
        return {k: to_generic(t.values, x, env) for k, x in v.items()}
    if isinstance(t, AvroUnion):
        nn = t.non_null_members
        if len(nn) == 1:
            return to_generic(nn[0], v, env)
        if not isinstance(v, dict):
            raise DatumError(f"multi-union decoded repr must be a dict, got {v!r}")
        for name, m in zip(union_field_names(t), nn):
            if v.get(name) is not None:
                return to_generic(m, v[name], env)
        raise DatumError(f"no non-null member key in {sorted(v)}")
    if isinstance(t, AvroRecord):
        return {f.name: to_generic(f.type, v.get(f.name), env) for f in t.fields}
    raise DatumError(f"unexpected schema node {t!r}")


# ---------------------------------------------------------------------------
# DataFrame bridges
# ---------------------------------------------------------------------------


def objects_to_dataframe(spark, objs, schema, mode: str = "strict", max_depth: int = 10):
    """Generic in-memory objects → typed DataFrame (I4 lifted to Spark).

    Tags union branches from runtime types on the driver (O(n) pure
    Python, metadata-scale inputs), then runs the differentially-tested
    strict decoder distributed — all D1-D9/E1 strictness applies."""
    from .decoder import decode_json

    ps = schema if not isinstance(schema, str) else parse_schema(schema)
    rows = []
    for i, o in enumerate(objs):
        tagged = tag_generic(ps.root, o, ps.env)
        try:
            rows.append((json.dumps(tagged),))
        except TypeError:
            # a runtime value of the wrong shape on a logical-less field
            # (e.g. a datetime where a plain long is declared) passes
            # tag_generic untouched — surface it as the engine error class
            # with the field path, not a bare json TypeError
            where = _find_unserializable(tagged) or ("$", "?")
            raise DatumError(
                f"object {i}: value of type {where[1]} at {where[0]} does not "
                f"match the declared Avro type (not JSON-serializable after "
                f"union tagging)"
            ) from None
    df = local_df(spark, rows, "value string")
    return decode_json(df, "value", ps, mode=mode, max_depth=max_depth).select("decoded.*")


def _find_unserializable(v, path: str = "$"):
    """(path, type name) of the first non-JSON-serializable leaf, or None."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return None
    if isinstance(v, list):
        for i, x in enumerate(v):
            hit = _find_unserializable(x, f"{path}[{i}]")
            if hit:
                return hit
        return None
    if isinstance(v, dict):
        for k, x in v.items():
            hit = _find_unserializable(x, f"{path}.{k}")
            if hit:
                return hit
        return None
    return (path, type(v).__name__)


def dataframe_to_objects(df, schema) -> list:
    """Typed DataFrame rows → plain generic objects (I5/I6 lifted: the
    typed downcast is the Row→dict conversion; unions untagged)."""
    ps = schema if not isinstance(schema, str) else parse_schema(schema)
    if not isinstance(ps.root, AvroRecord):
        raise DatumError("dataframe_to_objects requires a record root schema")
    return [to_generic(ps.root, row.asDict(recursive=True), ps.env) for row in df.collect()]
