"""Logical-types surface (beyond reference — AvroData.scala:17 TODO).

Parse/print round-trip, spec fallback (invalid annotations ignored),
Catalyst mapping both directions, canonical-form stripping (differential
against org.apache.avro), JSON decode on both paths (expression vs
pydecode, differential), binary encode of semantic values, and evolve
bridging between logical annotations.
"""

from __future__ import annotations

import datetime as dt
import json
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from anglerfish_spark.codec.decoder import decode_json, decode_json_python
from anglerfish_spark.codec.evolve import decode_json_evolved
from anglerfish_spark.codec.pydecode import decode_datum
from anglerfish_spark.errors import UnrepresentableError
from anglerfish_spark.functions.avro_binary import BinaryCodec, dumps_avro_json
from anglerfish_spark.schema.fingerprint import parsing_canonical_form, schema_fingerprint
from anglerfish_spark.schema.model import AvroFixed, AvroPrimitive, LogicalType, Primitive
from anglerfish_spark.schema.parser import parse_schema
from anglerfish_spark.schema.printer import to_json
from anglerfish_spark.schema.spark_convert import from_struct_type, to_struct_type

TS = dt.datetime(2024, 3, 1, 12, 30, 45, 123456)
EPOCH = dt.datetime(1970, 1, 1)
US = int((TS - EPOCH).total_seconds()) * 1_000_000 + TS.microsecond

ALL_LOGICAL = json.dumps(
    {
        "type": "record",
        "name": "L",
        "fields": [
            {"name": "d", "type": {"type": "int", "logicalType": "date"}},
            {"name": "tsu", "type": {"type": "long", "logicalType": "timestamp-micros"}},
            {"name": "tsm", "type": {"type": "long", "logicalType": "timestamp-millis"}},
            {"name": "ntz", "type": {"type": "long", "logicalType": "local-timestamp-micros"}},
            {"name": "tu", "type": {"type": "long", "logicalType": "time-micros"}},
            {"name": "tm", "type": {"type": "int", "logicalType": "time-millis"}},
            {"name": "u", "type": {"type": "string", "logicalType": "uuid"}},
            {
                "name": "dec",
                "type": {"type": "bytes", "logicalType": "decimal", "precision": 10, "scale": 2},
            },
            {
                "name": "fdec",
                "type": {
                    "type": "fixed",
                    "name": "Amount",
                    "size": 4,
                    "logicalType": "decimal",
                    "precision": 9,
                    "scale": 3,
                },
            },
        ],
    }
)


def b64(raw: bytes) -> str:
    import base64

    return base64.b64encode(raw).decode()


def datum():
    return {
        "d": 19783,  # 2024-03-01
        "tsu": US,
        "tsm": US // 1000,
        "ntz": US,
        "tu": 45_296_123_456,  # 12:34:56.123456
        "tm": 45_296_123,
        "u": "f81d4fae-7dec-11d0-a765-00a0c91e6bf6",
        "dec": b64((123456).to_bytes(3, "big", signed=True)),  # 1234.56
        "fdec": b64((-7_500).to_bytes(4, "big", signed=True)),  # -7.500
    }


class TestParsePrint:
    def test_roundtrip_preserves_annotations(self):
        ps = parse_schema(ALL_LOGICAL)
        out = to_json(ps.root)
        fields = {f["name"]: f["type"] for f in out["fields"]}
        assert fields["tsu"] == {"type": "long", "logicalType": "timestamp-micros"}
        assert fields["d"] == {"type": "int", "logicalType": "date"}
        assert fields["dec"] == {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": 10,
            "scale": 2,
        }
        assert fields["fdec"]["logicalType"] == "decimal"
        assert fields["fdec"]["size"] == 4
        # reparse is stable
        assert to_json(parse_schema(json.dumps(out)).root) == out

    @pytest.mark.parametrize(
        "bad",
        [
            {"type": "string", "logicalType": "date"},  # wrong carrier
            {"type": "long", "logicalType": "nonsense"},  # unknown name
            {"type": "bytes", "logicalType": "decimal"},  # missing precision
            {"type": "bytes", "logicalType": "decimal", "precision": 0},
            {"type": "bytes", "logicalType": "decimal", "precision": 4, "scale": 5},
        ],
    )
    def test_invalid_annotation_falls_back_to_carrier(self, bad):
        t = parse_schema(json.dumps(bad)).root
        assert isinstance(t, AvroPrimitive) and t.logical is None

    def test_fixed_decimal_capacity_bound(self):
        # 4 bytes hold at most 9 digits (2^31-1); precision 10 is ignored
        t = parse_schema(
            json.dumps(
                {
                    "type": "fixed",
                    "name": "X",
                    "size": 4,
                    "logicalType": "decimal",
                    "precision": 10,
                }
            )
        ).root
        assert isinstance(t, AvroFixed) and t.logical is None

    def test_canonical_form_strips_logical(self, spark):
        bare = ALL_LOGICAL
        for k in ("logicalType", "precision", "scale"):
            assert f'"{k}"' not in parsing_canonical_form(parse_schema(ALL_LOGICAL))
        jvm = spark._jvm
        parsed = jvm.org.apache.avro.Schema.Parser().parse(ALL_LOGICAL)
        assert parsing_canonical_form(parse_schema(bare)) == str(
            jvm.org.apache.avro.SchemaNormalization.toParsingForm(parsed)
        )
        rabin = int.from_bytes(schema_fingerprint(parse_schema(bare), "CRC-64-AVRO"), "little")
        java = int(jvm.org.apache.avro.SchemaNormalization.parsingFingerprint64(parsed))
        assert rabin == java % (1 << 64)


class TestSparkMapping:
    def test_to_struct_type(self):
        st = to_struct_type(parse_schema(ALL_LOGICAL).root)
        by = {f.name: f.dataType for f in st.fields}
        assert by["d"] == T.DateType()
        assert by["tsu"] == T.TimestampType()
        assert by["tsm"] == T.TimestampType()
        assert by["ntz"] == T.TimestampNTZType()
        assert isinstance(by["tu"], T.TimeType) and isinstance(by["tm"], T.TimeType)
        assert by["u"] == T.StringType()
        assert by["dec"] == T.DecimalType(10, 2)
        assert by["fdec"] == T.DecimalType(9, 3)

    def test_beyond_38_stays_binary(self):
        s = json.dumps(
            {"type": "bytes", "logicalType": "decimal", "precision": 50, "scale": 2}
        )
        assert to_struct_type(parse_schema(s).root) == T.BinaryType()

    def test_from_struct_type_exports_logicals(self):
        st = T.StructType(
            [
                T.StructField("ts", T.TimestampType()),
                T.StructField("dte", T.DateType()),
                T.StructField("ntz", T.TimestampNTZType()),
                T.StructField("amt", T.DecimalType(12, 2)),
            ]
        )
        rec = from_struct_type(st, "r")
        by = {f.name: f.type for f in rec.fields}

        def non_null(t):
            return t.non_null_members[0]

        assert non_null(by["ts"]).logical == LogicalType("timestamp-micros")
        assert non_null(by["dte"]).logical == LogicalType("date")
        assert non_null(by["ntz"]).logical == LogicalType("local-timestamp-micros")
        assert non_null(by["amt"]).logical == LogicalType("decimal", 12, 2)
        assert non_null(by["amt"]).kind is Primitive.BYTES
        # and the export round-trips through parse → to_struct_type
        back = to_struct_type(parse_schema(json.dumps(to_json(rec))).root)
        assert {f.name: f.dataType for f in back.fields} == {
            "ts": T.TimestampType(),
            "dte": T.DateType(),
            "ntz": T.TimestampNTZType(),
            "amt": T.DecimalType(12, 2),
        }


EXPECTED = {
    "d": dt.date(2024, 3, 1),
    "tsu": TS,
    "tsm": TS.replace(microsecond=123000),
    "ntz": TS,
    "tu": dt.time(12, 34, 56, 123456),
    "tm": dt.time(12, 34, 56, 123000),
    "u": "f81d4fae-7dec-11d0-a765-00a0c91e6bf6",
    "dec": Decimal("1234.56"),
    "fdec": Decimal("-7.500"),
}


class TestDecode:
    def test_pydecode_values(self):
        ps = parse_schema(ALL_LOGICAL)
        out = decode_datum(ps.root, datum(), ps.env)
        assert out == EXPECTED

    def test_expression_decode_matches_pydecode(self, spark):
        df = spark.createDataFrame([(json.dumps(datum()),)], ["txt"])
        for fn in (decode_json, decode_json_python):
            row = fn(df, "txt", ALL_LOGICAL).select("decoded.*").collect()[0]
            got = row.asDict()
            assert got == EXPECTED, fn.__name__

    def test_permissive_time_out_of_range(self, spark):
        bad = datum()
        bad["tu"] = 86_400_000_000  # one day exactly: out of range
        df = spark.createDataFrame([(json.dumps(bad),)], ["txt"])
        out = decode_json(df, "txt", ALL_LOGICAL, mode="permissive").collect()[0]
        assert any("UnrepresentableError@$.tu" in e for e in out["_errors"])
        assert out["decoded"]["tu"] is None

    def test_pydecode_time_out_of_range_raises(self):
        ps = parse_schema(ALL_LOGICAL)
        bad = datum()
        bad["tm"] = -1
        with pytest.raises(UnrepresentableError):
            decode_datum(ps.root, bad, ps.env)

    def test_decimal_sign_extension_and_negatives(self, spark):
        s = json.dumps(
            {
                "type": "record",
                "name": "D",
                "fields": [
                    {
                        "name": "v",
                        "type": {
                            "type": "bytes",
                            "logicalType": "decimal",
                            "precision": 20,
                            "scale": 4,
                        },
                    }
                ],
            }
        )
        cases = [
            (0).to_bytes(1, "big", signed=True),
            (-1).to_bytes(1, "big", signed=True),
            (12_345_678_901_234_567).to_bytes(8, "big", signed=True),
            (-12_345_678_901_234_567).to_bytes(8, "big", signed=True),
            (42).to_bytes(6, "big", signed=True),  # redundant 00 prefix
            (-42).to_bytes(6, "big", signed=True),  # redundant FF prefix
        ]
        rows = [(json.dumps({"v": b64(c)}),) for c in cases]
        df = spark.createDataFrame(rows, ["txt"])
        got = [r["decoded"]["v"] for r in decode_json(df, "txt", s).collect()]
        want = [
            Decimal(int.from_bytes(c, "big", signed=True)).scaleb(-4) for c in cases
        ]
        assert got == want

    def test_default_with_logical(self, spark):
        s = json.dumps(
            {
                "type": "record",
                "name": "R",
                "fields": [
                    {"name": "k", "type": "string"},
                    {
                        "name": "ts",
                        "type": {"type": "long", "logicalType": "timestamp-micros"},
                        "default": US,
                    },
                ],
            }
        )
        df = spark.createDataFrame([('{"k": "a"}',)], ["txt"])
        row = decode_json(df, "txt", s).collect()[0]
        # a long default must convert as MICROS, not the cast-from-seconds trap
        assert row["decoded"]["ts"] == TS


class TestBinary:
    def test_encode_semantic_values_roundtrip(self, spark):
        codec = BinaryCodec(ALL_LOGICAL)
        blob = codec.encode(EXPECTED)  # semantic values in
        carrier = codec.decode(blob)  # carrier values out
        assert carrier == datum() | {
            "dec": (123456).to_bytes(3, "big", signed=True),
            "fdec": (-7_500).to_bytes(4, "big", signed=True),
        }
        # Avro-JSON of the carrier lifts back to semantic values
        df = spark.createDataFrame([(dumps_avro_json(carrier),)], ["txt"])
        got = decode_json(df, "txt", ALL_LOGICAL).select("decoded.*").collect()[0].asDict()
        assert got == EXPECTED

    def test_encode_carrier_values_identical(self):
        codec = BinaryCodec(ALL_LOGICAL)
        assert codec.encode(EXPECTED) == codec.encode(datum() | {
            "dec": (123456).to_bytes(3, "big", signed=True),
            "fdec": (-7_500).to_bytes(4, "big", signed=True),
        })


class TestEvolve:
    def _evolved(self, spark, writer: dict, reader: dict, data: dict):
        df = spark.createDataFrame([(json.dumps(data),)], ["txt"])
        return (
            decode_json_evolved(df, "txt", json.dumps(writer), json.dumps(reader))
            .select("decoded.*")
            .collect()[0]
        )

    def test_bare_long_reader_adds_timestamp(self, spark):
        w = {"type": "record", "name": "R", "fields": [{"name": "x", "type": "long"}]}
        r = {
            "type": "record",
            "name": "R",
            "fields": [
                {"name": "x", "type": {"type": "long", "logicalType": "timestamp-micros"}}
            ],
        }
        assert self._evolved(spark, w, r, {"x": US})["x"] == TS

    def test_writer_timestamp_reader_bare_long(self, spark):
        w = {
            "type": "record",
            "name": "R",
            "fields": [
                {"name": "x", "type": {"type": "long", "logicalType": "timestamp-micros"}}
            ],
        }
        r = {"type": "record", "name": "R", "fields": [{"name": "x", "type": "long"}]}
        assert self._evolved(spark, w, r, {"x": US})["x"] == US

    def test_millis_micros_same_catalyst_shape(self, spark):
        w = {
            "type": "record",
            "name": "R",
            "fields": [
                {"name": "x", "type": {"type": "long", "logicalType": "timestamp-millis"}}
            ],
        }
        r = {
            "type": "record",
            "name": "R",
            "fields": [
                {"name": "x", "type": {"type": "long", "logicalType": "timestamp-micros"}}
            ],
        }
        assert self._evolved(spark, w, r, {"x": US // 1000})["x"] == TS.replace(
            microsecond=123000
        )

    def test_decimal_rescale(self, spark):
        def dec(p, s):
            return {
                "type": "record",
                "name": "R",
                "fields": [
                    {
                        "name": "x",
                        "type": {
                            "type": "bytes",
                            "logicalType": "decimal",
                            "precision": p,
                            "scale": s,
                        },
                    }
                ],
            }

        data = {"x": b64((123456).to_bytes(3, "big", signed=True))}
        out = self._evolved(spark, dec(10, 2), dec(12, 4), data)
        assert out["x"] == Decimal("1234.5600")


class TestOcfTyped:
    def test_typed_roundtrip_with_nulls(self, spark, tmp_path):
        rows = [
            (1, TS, Decimal("10.50"), "a"),
            (2, None, Decimal("-0.07"), None),
            (3, TS.replace(year=2020), None, "c"),
        ]
        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("ts", T.TimestampNTZType()),
                T.StructField("amt", T.DecimalType(10, 2)),
                T.StructField("tag", T.StringType()),
            ]
        )
        from anglerfish_spark.sources.avro_ocf import (
            read_avro_ocf_typed,
            write_avro_ocf_typed,
        )

        df = spark.createDataFrame(rows, schema)
        out = str(tmp_path / "ocf")
        avsc = write_avro_ocf_typed(df, out)
        back = read_avro_ocf_typed(spark, out, avsc)
        assert back.schema == schema
        assert sorted(tuple(r) for r in back.collect()) == sorted(rows)

    def test_reader_schema_adds_logical_default(self, spark, tmp_path):
        from anglerfish_spark.sources.avro_ocf import (
            read_avro_ocf_typed,
            write_avro_ocf_typed,
        )

        df = spark.createDataFrame([(1,)], T.StructType([T.StructField("id", T.LongType())]))
        out = str(tmp_path / "ocf2")
        write_avro_ocf_typed(df, out)
        reader = json.dumps(
            {
                "type": "record",
                "name": "r",
                "fields": [
                    {"name": "id", "type": ["null", "long"]},
                    {
                        "name": "since",
                        "type": {"type": "int", "logicalType": "date"},
                        "default": 19783,
                    },
                ],
            }
        )
        back = read_avro_ocf_typed(spark, out, reader).collect()
        assert back == [(1, dt.date(2024, 3, 1))] or [tuple(r) for r in back] == [
            (1, dt.date(2024, 3, 1))
        ]


class TestLetBinding:
    """codec/logical._let: the expression-level let that de-duplicates
    subtree evaluation (interpreted eval has no CSE)."""

    def test_evaluates_value_once(self, spark):
        from pyspark.sql import functions as F

        from anglerfish_spark.codec.logical import _let

        # count evaluations via an accumulator-backed row UDF (slow path
        # is fine here — the point is the evaluation COUNT)
        calls = spark.sparkContext.accumulator(0)

        def _probe(x):
            calls.add(1)
            return x

        probe = F.udf(_probe, "long")

        df = spark.range(10).coalesce(1)
        bound = _let(probe(F.col("id")), lambda v: v + v + v)
        out = df.select(bound.alias("r")).collect()
        assert [r["r"] for r in out] == [3 * i for i in range(10)]
        assert calls.value == 10  # one probe evaluation per row, not three

    def test_null_value_flows_through(self, spark):
        from pyspark.sql import functions as F

        from anglerfish_spark.codec.logical import _let

        df = spark.range(3).select(
            F.when(F.col("id") == 1, F.col("id")).alias("x")
        )
        out = df.select(
            _let(F.col("x"), lambda v: F.coalesce(v, F.lit(-1))).alias("r")
        ).collect()
        assert sorted(r["r"] for r in out) == [-1, -1, 1]


class TestDecimalPrecisionParity:
    """r13 (found by the fuzz-seed rotation): an unscaled value with more
    digits than the declared precision is spec-invalid; the expression
    decoder rejects it via the decimal(p,s) cast nulling out, and the
    pure-Python lift must reject IDENTICALLY or the differential
    diverges (pre-fix: fixed(1) byte 0xf6 = -10 under decimal(1,1)
    decoded to -1.0 in pydecode, UnrepresentableError in the engine)."""

    def test_pydecode_rejects_precision_overflow(self):
        import base64
        import json

        import pytest

        from anglerfish_spark.codec.pydecode import decode_datum
        from anglerfish_spark.errors import UnrepresentableError
        from anglerfish_spark.schema.parser import parse_schema

        schema = json.dumps(
            {
                "type": "record",
                "name": "R",
                "fields": [
                    {
                        "name": "d",
                        "type": {
                            "type": "fixed", "name": "Fx1", "size": 1,
                            "logicalType": "decimal", "precision": 1, "scale": 1,
                        },
                    }
                ],
            }
        )
        ps = parse_schema(schema)
        bad = {"d": base64.b64encode((-10).to_bytes(1, "big", signed=True)).decode()}
        with pytest.raises(UnrepresentableError):
            decode_datum(ps.root, bad, ps.env)
        # the boundary value (9 -> 0.9) still decodes
        ok = {"d": base64.b64encode((9).to_bytes(1, "big", signed=True)).decode()}
        from decimal import Decimal

        assert decode_datum(ps.root, ok, ps.env)["d"] == Decimal("0.9")

    def test_both_engine_decoders_agree_on_overflow(self, spark):
        import base64
        import json

        import pytest

        from anglerfish_spark.codec.decoder import decode_json, decode_json_python
        from anglerfish_spark.localdata import local_df

        schema = json.dumps(
            {
                "type": "record",
                "name": "R",
                "fields": [
                    {
                        "name": "d",
                        "type": {
                            "type": "fixed", "name": "Fx1b", "size": 1,
                            "logicalType": "decimal", "precision": 1, "scale": 1,
                        },
                    }
                ],
            }
        )
        bad = json.dumps(
            {"d": base64.b64encode((-10).to_bytes(1, "big", signed=True)).decode()}
        )
        df = local_df(spark, [(bad,)], ["txt"])
        for fn in (decode_json, decode_json_python):
            with pytest.raises(Exception, match="UnrepresentableError"):
                fn(df, "txt", schema).select("decoded.*").collect()
