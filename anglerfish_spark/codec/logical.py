"""Logical-type value conversions — carrier ⇄ Catalyst / Python value.

Beyond-reference surface (the reference leaves logical types as a TODO,
AvroData.scala:17).  The *wire* representation of a logical type is always
its carrier primitive (long/int/bytes/string) — both Avro binary and the
engine's Avro-JSON convention stay carrier-level, exactly like the spec's
encodings.  Conversion to the semantic value happens at the typed decode
boundary (``decode_json``'s JVM decoder, ``decode_json_python``) where the
Spark shape from ``to_struct_type`` carries the native Catalyst type, and
symmetrically on encode (``BinaryCodec.encode`` accepts the semantic
Python values).

Two implementations live here, differentially tested:

* Column expressions (:func:`carrier_to_value_expr` /
  :func:`value_to_carrier_expr`) — built-ins only, stay inside
  whole-stage codegen; schema evolution bridges logical annotations
  with them;
* Python values (:func:`py_carrier_to_value` / :func:`py_value_to_carrier`)
  — pydecode / BinaryCodec side.

TIMESTAMP_NTZ note: ``local-timestamp-*`` maps through a
``timestamp → timestamp_ntz`` cast, which is wallclock-exact only when the
session time zone is UTC — the engine pins this
(``session.py``: ``spark.sql.session.timeZone=UTC``).

Decimal-from-binary in expressions folds big-endian two's-complement hex
byte-pairs into a ``decimal(38,0)`` accumulator.  Redundant sign-extension
prefixes are stripped first; a stripped encoding longer than 15 bytes
(unscaled |x| ≥ 2^119, i.e. precision > 35) cannot be accumulated without
overflowing decimal(38) intermediates and yields NULL — the Python path
and the JVM decoder have no such bound.
"""

from __future__ import annotations

import datetime as _dt
from decimal import Decimal as _Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..errors import UnrepresentableError
from ..schema.model import LogicalType

MICROS_PER_DAY = 86_400_000_000
_EPOCH_DATE = _dt.date(1970, 1, 1)
_EPOCH_NAIVE = _dt.datetime(1970, 1, 1)

#: max hex digits the expression-path decimal fold supports (15 bytes)
_MAX_DECIMAL_HEX = 30


# ---------------------------------------------------------------------------
# Column expressions
# ---------------------------------------------------------------------------


def _time_from_micros(us: Column) -> Column:
    hours = F.floor(us / F.lit(3_600_000_000)).cast("int")
    minutes = (F.floor(us / F.lit(60_000_000)) % 60).cast("int")
    secs = (us % F.lit(60_000_000)).cast("decimal(8,0)") / F.lit(1_000_000)
    return F.make_time(hours, minutes, secs)


def _stripped_hex(col: Column) -> Column:
    """Hex digits of the binary with redundant sign-extension prefixes
    stripped (value-preserving): leading ``00`` before a low-high-bit byte,
    leading ``FF`` before a high-high-bit byte."""
    h = F.hex(col)
    h = F.regexp_replace(h, r"^(?:00)+(?=[0-7])", "")
    return F.regexp_replace(h, r"^(?:FF)+(?=[89A-F])", "")


def _let(value: Column, body) -> Column:
    """Expression-level let-binding: evaluate ``value`` exactly once and
    reference it many times via the lambda variable.

    Interpreted evaluation has NO common-subexpression elimination, and the
    fold below lives inside higher-order functions (CodegenFallback), so a
    subtree referenced N times is re-evaluated N times — multiplicatively
    when bindings nest.  Materializing the subtree as a 1-element array and
    binding ``transform``'s lambda variable makes each reference a variable
    lookup.  (Measured on the decimal fold: the logical-type decode queries
    dropped ~2.5-3x at sf0.1 from exactly this.)"""
    return F.element_at(F.transform(F.array(value), body), 1)


def binary_to_decimal_expr(col: Column, precision: int, scale: int) -> Column:
    """Big-endian two's-complement unscaled bytes → decimal(p,s).

    The unscaled integer is folded byte-pair-wise from hex into a
    decimal(38,0) accumulator, then rendered exactly via string surgery
    (placing the decimal point ``scale`` digits from the right) — a decimal
    *division* would hit Spark's precision-cap/rescale rules and round.
    Out-of-bound encodings (> 15 significant bytes) and values that do not
    fit (p,s) yield NULL.  NULL/empty input → NULL.

    The carrier, its stripped hex, the folded unscaled integer, and the
    digit string are each let-bound (:func:`_let`) — every one is
    referenced several times downstream, and unbound they re-evaluate per
    reference (the carrier itself is typically an ``unbase64`` over a
    raw-map extraction, so the blowup multiplies all the way down).
    """
    dt = f"decimal({precision},{scale})"

    def with_hex(c: Column, h: Column) -> Column:
        first = F.conv(F.substring(h, 1, 2), 16, 10).cast("decimal(38,0)")
        first_signed = F.when(first >= 128, first - 256).otherwise(first)
        unscaled = F.when(F.length(h) <= 2, first_signed).otherwise(
            F.aggregate(
                F.sequence(F.lit(3), F.length(h) - 1, F.lit(2)),
                first_signed,
                lambda acc, i: acc * 256
                + F.conv(F.substring(h, i, 2), 16, 10).cast("decimal(38,0)"),
            )
        )

        def with_unscaled(u: Column) -> Column:
            if scale == 0:
                return u.try_cast(dt)
            raw_digits = F.abs(u).cast("string")
            # pad to at least scale+1 digits — NB lpad also truncates longer
            # strings, so it must be guarded behind a length check
            digits = F.when(
                F.length(raw_digits) <= scale, F.lpad(raw_digits, scale + 1, "0")
            ).otherwise(raw_digits)

            def with_digits(dg: Column) -> Column:
                ip = F.substring(dg, F.lit(1), F.length(dg) - scale)
                fp = F.substring(dg, F.length(dg) - scale + 1, F.lit(scale))
                sign = F.when(u < 0, F.lit("-")).otherwise(F.lit(""))
                return F.concat(sign, ip, F.lit("."), fp).try_cast(dt)

            return _let(digits, with_digits)

        value = _let(unscaled, with_unscaled)
        return F.when(
            c.isNull() | (F.length(c) == 0) | (F.length(h) > _MAX_DECIMAL_HEX),
            F.lit(None).cast(dt),
        ).otherwise(value)

    return _let(col, lambda c: _let(_stripped_hex(c), lambda h: with_hex(c, h)))


def time_range_err_expr(logical: LogicalType, col: Column) -> Column:
    """True when a time carrier is outside [0, one day) — spec: micros/millis
    *after midnight*."""
    bound = MICROS_PER_DAY if logical.name == "time-micros" else 86_400_000
    return col.isNotNull() & ((col < 0) | (col >= bound))


def carrier_to_value_expr(logical: LogicalType, col: Column) -> Column:
    """Carrier column (post-decode int/long/binary/string) → native Catalyst
    value per ``spark_convert._logical_spark_type``."""
    n = logical.name
    if n == "date":
        return F.date_from_unix_date(col.cast("int"))
    if n == "timestamp-millis":
        return F.timestamp_millis(col)
    if n == "timestamp-micros":
        return F.timestamp_micros(col)
    if n == "local-timestamp-millis":
        return F.timestamp_millis(col).cast("timestamp_ntz")  # UTC session pinned
    if n == "local-timestamp-micros":
        return F.timestamp_micros(col).cast("timestamp_ntz")  # UTC session pinned
    if n == "time-millis":
        return _time_from_micros(
            F.when(~time_range_err_expr(logical, col), col.cast("long") * 1000)
        )
    if n == "time-micros":
        return _time_from_micros(F.when(~time_range_err_expr(logical, col), col))
    if n == "uuid":
        return col
    if n == "decimal":
        if logical.precision > 38:
            return col  # no native Catalyst shape; carrier bytes pass through
        return binary_to_decimal_expr(col, logical.precision, logical.scale)
    raise ValueError(f"unexpected logical type {logical!r}")


def value_to_carrier_expr(logical: LogicalType, col: Column) -> Column:
    """Native Catalyst value → carrier column (the evolve bridge; decimal
    has no expression-side bytes encoding and is handled by decimal→decimal
    casts in evolve instead)."""
    n = logical.name
    if n == "date":
        return F.unix_date(col)
    if n == "timestamp-millis":
        return F.unix_millis(col)
    if n == "timestamp-micros":
        return F.unix_micros(col)
    if n == "local-timestamp-millis":
        return F.unix_millis(col.cast("timestamp"))  # UTC session pinned
    if n == "local-timestamp-micros":
        return F.unix_micros(col.cast("timestamp"))  # UTC session pinned
    if n == "time-micros":
        return (
            F.hour(col).cast("long") * 3_600_000_000
            + F.minute(col).cast("long") * 60_000_000
            + F.second(col).cast("long") * 1_000_000
            + (F.extract(F.lit("MICROSECOND"), col).cast("long") % 1_000_000)
        )
    if n == "time-millis":
        return (value_to_carrier_expr(LogicalType("time-micros"), col) / 1000).cast("long")
    if n == "uuid":
        return col
    raise ValueError(f"no expression carrier encoding for logical type {logical!r}")


# ---------------------------------------------------------------------------
# Python values (pydecode / BinaryCodec)
# ---------------------------------------------------------------------------


def py_carrier_to_value(logical: LogicalType, v, path: str = "$"):
    """Carrier Python value (int/bytes/str) → semantic Python value matching
    the Catalyst shape (naive-UTC datetimes: the engine pins UTC sessions).
    Range violations raise :class:`UnrepresentableError` (D-taxonomy)."""
    if v is None:
        return None
    n = logical.name
    try:
        if n == "date":
            return _EPOCH_DATE + _dt.timedelta(days=v)
        if n == "timestamp-millis":
            return _EPOCH_NAIVE + _dt.timedelta(milliseconds=v)
        if n == "timestamp-micros":
            return _EPOCH_NAIVE + _dt.timedelta(microseconds=v)
        if n == "local-timestamp-millis":
            return _EPOCH_NAIVE + _dt.timedelta(milliseconds=v)
        if n == "local-timestamp-micros":
            return _EPOCH_NAIVE + _dt.timedelta(microseconds=v)
        if n in ("time-millis", "time-micros"):
            us = v * 1000 if n == "time-millis" else v
            if not 0 <= us < MICROS_PER_DAY:
                raise UnrepresentableError(f"{path}: {v} outside a day for {n}")
            return (_dt.datetime.min + _dt.timedelta(microseconds=us)).time()
        if n == "uuid":
            return v
        if n == "decimal":
            if logical.precision > 38:
                return v  # carrier bytes pass through (no Catalyst shape)
            unscaled = int.from_bytes(v, "big", signed=True) if len(v) else 0
            # spec: the unscaled value must fit in `precision` digits —
            # the JVM decoder rejects it too; mirror it here or the
            # differential diverges
            # (r13 fuzz seed 13777: fixed(1) byte 0xf6 = -10 under
            # decimal(precision=1) decoded here but errored there)
            if abs(unscaled) > 10**logical.precision - 1:
                raise UnrepresentableError(
                    f"{path}: unscaled {unscaled} exceeds decimal precision "
                    f"{logical.precision}"
                )
            return _Decimal(unscaled).scaleb(-logical.scale)
    except OverflowError as ex:
        raise UnrepresentableError(f"{path}: {v} out of range for {n}: {ex}") from None
    raise ValueError(f"unexpected logical type {logical!r}")


def py_value_to_carrier(logical: LogicalType, v, fixed_length: int | None = None):
    """Semantic Python value → carrier value for encoding.  Carrier-typed
    inputs (plain int/bytes) pass through, so carrier-level datums keep
    encoding byte-identically."""
    if v is None:
        return None
    n = logical.name
    if n == "date":
        if isinstance(v, _dt.datetime):
            v = v.date()
        if isinstance(v, _dt.date):
            return (v - _EPOCH_DATE).days
        return v
    if n in ("timestamp-millis", "timestamp-micros", "local-timestamp-millis", "local-timestamp-micros"):
        if isinstance(v, _dt.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            delta = v - _EPOCH_NAIVE
            us = delta // _dt.timedelta(microseconds=1)
            return us // 1000 if n.endswith("millis") else us
        return v
    if n in ("time-millis", "time-micros"):
        if isinstance(v, _dt.time):
            us = ((v.hour * 60 + v.minute) * 60 + v.second) * 1_000_000 + v.microsecond
            return us // 1000 if n == "time-millis" else us
        return v
    if n == "uuid":
        return v
    if n == "decimal":
        if isinstance(v, _Decimal):
            unscaled = int(v.scaleb(logical.scale).to_integral_value())
            if fixed_length is not None:
                return unscaled.to_bytes(fixed_length, "big", signed=True)
            length = max(1, (unscaled.bit_length() + 8) // 8)  # +1 sign bit, round up
            return unscaled.to_bytes(length, "big", signed=True)
        return v
    raise ValueError(f"unexpected logical type {logical!r}")
