"""Strict Avro decode in one JVM pass per row, for both wire forms.

Decodes a JSON-text column (:func:`decode_json`) or an Avro binary column
(:func:`binary_decoder`) against a parsed Avro schema with the
reference's strict semantics (D1-D9, SURVEY.md §2.1) through one Java UDF
call per row.  Python compiles the schema into a small JSON *decode
program* (:func:`_program`): the schema unrolled to ``max_depth`` exactly
as ``to_struct_type`` unrolls it, one node per position with its kind, its
error-path label, union branch keys, output field names and wire indexes,
enum names and symbols, fixed sizes, logical annotations and field
defaults (decoded ahead of time by ``pydecode.compile_decoder``).  Two
readers walk the same program (``anglerfish_spark/jvm/DecodeProgram.java``)
and so build the same value of the same type:
``AvroJsonDecoder.java`` parses each text once with Jackson and walks the
tokens; ``AvroBinaryDecoder.java`` walks a raw or single-object-framed
binary body, failing the query on a defective message with the Python
codec's ``DatumError`` text (``functions/avro_binary.py``).
``anglerfish_spark/jvm`` compiles both with Spark's own Janino.

Strictness covers every depth, collections included:

* extra and missing record fields (reference D6: extra JSON fields are an
  error, :684,688);
* enum domain membership and fixed base64 length (D4); union single-key
  tagged objects with branch-name resolution (D5/S3);
* D3 numeric rules: a JSON integer for ``int``/``long`` (int32 range,
  int64 representability), a JSON double for ``float``/``double``
  (float32 exactness), ``true``/``false`` for ``boolean``;
* logical-type range checks (time of day, decimal precision).

Engine conventions where pydecode is stricter: a string/bytes/enum
position reads any JSON token as text (a number or object as its compact
JSON), and JSON ``null`` at a non-union position decodes to null.  A
collection whose typed parse fails (an element or value that cannot take
its type) reports one ``UnexpectedTypeError`` at its element path
(``$.xs[]``, ``$.m.{}``) in place of its elements' tags and decodes to
null.

Error channel: a nullable string of ``;Code@path`` tags (E1 taxonomy),
each tag carrying its own leading ``;``, null when the row is clean.
Per record the tags run in schema field order (a missing-required tag
before the field's own tags), then the extra-key check, then the shape
check; at a union, member tags come before the union's own checks.
``decode_json`` strips the first ``;`` once, at the top:
``mode="strict"`` raises on a violation (FAILFAST analogue) with the tags
joined by ``;``; ``mode="permissive"`` adds an ``_errors array<string>``
column and never raises.
"""

from __future__ import annotations

import base64
import datetime as _dt
import json
from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.classic.column import _to_java_column, _to_seq

from .. import jvm
from ..errors import InvalidParserStateError
from ..memo import Memo
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
    type_name,
)
from ..schema.parser import ParsedSchema, parse_schema
from ..schema.spark_convert import to_struct_type, union_field_names
from .pydecode import compile_decoder

_EPOCH = _dt.datetime(1970, 1, 1)


def _jsonable(v):
    """A pydecode value as the program's default literal: bytes as base64,
    decimals as strings, dates as days and timestamps and times as
    microseconds (``AvroJsonDecoder.literal`` reads them back)."""
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_jsonable(x) for x in v]
    if isinstance(v, bytes):
        return base64.b64encode(v).decode("ascii")
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, _dt.datetime):
        return (v - _EPOCH) // _dt.timedelta(microseconds=1)
    if isinstance(v, _dt.date):
        return (v - _EPOCH.date()).days
    if isinstance(v, _dt.time):
        return ((v.hour * 60 + v.minute) * 60 + v.second) * 1_000_000 + v.microsecond
    return v


def _program(root: AvroType, env: dict[str, AvroType], max_depth: int) -> dict:
    """The decode program of ``root``: one node per schema position of the
    ``to_struct_type`` unroll, ``p`` its error-path label."""
    depth: dict[str, int] = {}

    def logical(lt) -> dict:
        if lt is None or (lt.name == "decimal" and lt.precision > 38):
            return {}  # a decimal beyond Catalyst's 38 digits stays bytes
        return {"l": {"n": lt.name, "p": lt.precision, "s": lt.scale}}

    def node(t: AvroType, path: str) -> dict:
        if isinstance(t, AvroRecursionRef):
            target = env.get(t.fqn)
            if target is None:
                raise InvalidParserStateError(f"dangling recursion ref {t.fqn!r}")
            if depth.get(t.fqn, 0) >= max_depth:
                # the binary reader's error text: pydecode's
                deep = f"{path}: datum exceeds recursion depth bound {max_depth} for {t.fqn!r}"
                return {"k": "truncated", "p": path, "e": deep}
            return node(target, path)
        if isinstance(t, AvroPrimitive):
            return {"k": t.kind.value, "p": path, **logical(t.logical)}
        if isinstance(t, AvroEnum):
            return {"k": "enum", "p": path, "name": t.name, "s": list(t.symbols)}
        if isinstance(t, AvroFixed):
            return {"k": "fixed", "p": path, "size": t.length, **logical(t.logical)}
        if isinstance(t, AvroArray):
            return {"k": "array", "p": path, "t": node(t.items, f"{path}[]")}
        if isinstance(t, AvroMap):
            return {"k": "map", "p": path, "t": node(t.values, f"{path}.{{}}")}
        if isinstance(t, AvroUnion):
            nn = t.non_null_members
            return {"k": "union", "p": path, "nullable": t.is_nullable, "m": [
                {"key": type_name(m), "name": name, "t": node(m, f"{path}.{type_name(m)}")}
                for m, name in zip(nn, union_field_names(t))
            ], "b": [nn.index(m) if m in nn else -1 for m in t.members]}
        if isinstance(t, AvroRecord):
            n = depth.get(t.fqn, 0)
            depth[t.fqn] = n + 1
            try:
                fields = []
                for f in t.fields:
                    spec = {"n": f.name, "t": node(f.type, f"{path}.{f.name}")}
                    if f.has_default:
                        spec["d"] = _jsonable(
                            compile_decoder(f.type, env, max_depth)(f.default, f"default({f.name})")
                        )
                    fields.append(spec)
                return {"k": "record", "p": path, "f": fields}
            finally:
                depth[t.fqn] = n
        raise InvalidParserStateError(f"unexpected type {t!r}")

    return node(root, "$")


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and value nullable and no field
    metadata: the decoded column's type (error rows decode partially, and
    the Python codec's pandas UDFs must declare exactly this: Arrow
    batches carry neither non-null flags nor field metadata)."""
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType), True) for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(dt.keyType, _nullable(dt.valueType), True)
    return dt


def _is_flat_record(t: AvroType) -> bool:
    """A record of primitive, enum and fixed fields only.  As a root, a
    text that is not an object decodes it to null; any other root record
    decodes such a text to its fields' defaults."""
    return isinstance(t, AvroRecord) and all(
        isinstance(f.type, (AvroPrimitive, AvroEnum, AvroFixed)) for f in t.fields
    )


def _decode_program(
    schema: ParsedSchema | AvroType | str, max_depth: int, fingerprint: bytes | None = None
) -> tuple[str, T.DataType]:
    """(the decode program of ``schema`` as the JVM readers' argument, the
    decoded value's type); a ``fingerprint`` makes the binary reader
    expect single-object frames carrying it."""
    if isinstance(schema, str):
        schema = parse_schema(schema)
    if isinstance(schema, ParsedSchema):
        root, env = schema.root, schema.env
    else:
        root, env = schema, {}
    if not (
        isinstance(root, (AvroRecord, AvroArray, AvroMap))
        or (isinstance(root, AvroUnion) and root.non_null_members)
    ):
        raise InvalidParserStateError("root schema must be a record, array, map, or multi-union")
    program = {"flat": _is_flat_record(root), "root": _program(root, env, max_depth)}
    if fingerprint is not None:
        program["fp"] = fingerprint.hex()
    return json.dumps(program), _nullable(to_struct_type(root, env, max_depth))


def _call(spark, udf, col: Column) -> Column:
    """``udf(col)`` for a JVM ``UserDefinedFunction``."""
    return Column(udf.apply(_to_seq(spark.sparkContext, [col], _to_java_column)))


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------

#: (schema JSON string, max_depth, SparkContext[, fingerprint]) -> a JVM
#: decoder: the JSON one with its wrapper columns, or a binary UDF.  Least
#: recently used entries are evicted first; the SparkContext in the key
#: keeps a UDF built under a stopped session (or a relaunched gateway)
#: from ever being reused.
_DECODE_EXPR_CACHE = Memo(256)

# internal column holding the JSON UDF's struct<decoded, errs> result
_RESULT = "_anglerfish_decode"


class _JsonDecoder:
    """The JSON decoder UDF of one schema and the columns ``decode_json``
    reads from its result, built once: they depend only on ``_RESULT``."""

    def __init__(self, spark, schema: ParsedSchema | AvroType | str, max_depth: int):
        program, decoded = _decode_program(schema, max_depth)
        result = T.StructType([T.StructField("decoded", decoded), T.StructField("errs", T.StringType())])
        self.udf = jvm.java_udf(spark, "AvroJsonDecoder", program, result, "avro_json_decode")
        value = F.col(_RESULT).getField("decoded")
        # the channel is null when clean, else ';'-prefixed tags: strip the
        # first ';' once, here (coalesced, so _errors is a non-null column)
        e = F.coalesce(F.col(_RESULT).getField("errs"), F.lit(""))
        tags = F.substr(e, F.lit(2))
        self.permissive = (value, F.when(e != "", F.split(tags, ";")).otherwise(F.array().cast("array<string>")))
        boom = F.raise_error(F.concat(F.lit("anglerfish strict decode failed: "), tags))
        self.strict = F.when(e != "", boom).otherwise(value)


def binary_decoder(spark, schema_json: str, fingerprint: bytes | None = None):
    """The JVM UDF decoding Avro binary written with ``schema_json`` to the
    type :func:`decode_json` decodes its JSON to (at the default
    ``max_depth``), walking the same decode program: a raw body, or with
    ``fingerprint`` a single-object frame that must carry it.  Strict: a
    defective message fails the query with ``DatumError: <text>``, the
    Python codec's text."""

    def build():
        program, decoded = _decode_program(schema_json, 10, fingerprint)
        return jvm.java_udf(spark, "AvroBinaryDecoder", program, decoded, "avro_binary_decode")

    return _DECODE_EXPR_CACHE.get_or((schema_json, 10, spark.sparkContext, fingerprint), build)


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
    if mode not in ("strict", "permissive"):
        raise ValueError(f"unknown mode {mode!r} (strict|permissive)")
    spark = df.sparkSession
    # compile cache, never data: keyed on the schema STRING (all engine
    # callers pass the JSON literal); ParsedSchema/AvroType callers build
    # a fresh UDF per call
    cache_key = (schema, max_depth, spark.sparkContext) if isinstance(schema, str) else None
    dec = _DECODE_EXPR_CACHE.get_or(cache_key, lambda: _JsonDecoder(spark, schema, max_depth))
    raw = F.col(col) if isinstance(col, str) else col
    # decoded and errs are read from one projected result, so the
    # optimized plan holds one decoder call per row (CollapseProject does
    # not inline a UDF call that is read more than once)
    staged = df.select("*", _call(spark, dec.udf, raw).alias(_RESULT))
    if mode == "permissive":
        new = dict(zip((output_col, errors_col), dec.permissive))
    else:
        new = {output_col: dec.strict}
    return staged.withColumns(new).drop(_RESULT)


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
    point).  Semantics are exactly ``pydecode`` — strings and nulls
    included, where :func:`decode_json` follows the engine conventions in
    this module's docstring — at pandas-UDF cost; use :func:`decode_json`
    (one JVM pass per row) on hot paths.
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
