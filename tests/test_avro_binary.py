"""Avro binary codec: spec edge cases + value round-trip property."""

from __future__ import annotations

import io
import json

from hypothesis import given, settings
from hypothesis import strategies as st

from anglerfish_spark.codec.pydecode import decode_datum
from anglerfish_spark.functions.avro_binary import (
    BinaryCodec,
    read_long,
    write_long,
)
from anglerfish_spark.schema import parse_schema

from .test_codec import F2_PRIMS, F2_OK
from .test_schema import F1_LINKED_LIST, F3_KITCHEN_SINK


class TestVarint:
    @given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
    @settings(max_examples=200, deadline=None)
    def test_roundtrip(self, n):
        out = io.BytesIO()
        write_long(out, n)
        got, pos = read_long(out.getvalue(), 0)
        assert got == n and pos == len(out.getvalue())

    def test_known_encodings(self):
        # Avro spec examples: 0→00, -1→01, 1→02, -2→03, 2→04, -64→7f, 64→80 01
        for n, enc in [(0, b"\x00"), (-1, b"\x01"), (1, b"\x02"), (-2, b"\x03"),
                       (2, b"\x04"), (-64, b"\x7f"), (64, b"\x80\x01")]:
            out = io.BytesIO()
            write_long(out, n)
            assert out.getvalue() == enc, n


class TestValueRoundtrip:
    def test_f2_primitives(self):
        ps = parse_schema(F2_PRIMS)
        codec = BinaryCodec(ps)
        v = decode_datum(ps.root, F2_OK, ps.env)
        back = codec.decode(codec.encode(v))
        assert back["f_int"] == 42 and back["f_string"] == "hi"
        assert bytes(back["f_bytes"]) == b"\x01\x02\x03"
        assert back["f_float"] == 1.5 and back["f_double"] == 1.1

    def test_f3_kitchen_sink(self):
        ps = parse_schema(F3_KITCHEN_SINK)
        codec = BinaryCodec(ps)
        datum = {
            "color": "GREEN",
            "digest": "AAECAwQFBgcICQoLDA0ODw==",
            "tags": ["a", "b", "c"],
            "props": {"x": 1, "y": -2},
            "choice": {"ch.test.Color": "RED"},
            "renamed": -100,
        }
        v = decode_datum(ps.root, datum, ps.env)
        back = codec.decode(codec.encode(v))
        assert back["color"] == "GREEN"
        assert back["tags"] == ["a", "b", "c"]
        assert back["props"] == {"x": 1, "y": -2}
        assert back["choice"]["member_Color"] == "RED"
        assert back["renamed"] == -100
        # null branch + defaults
        v2 = decode_datum(ps.root, dict(datum, choice=None), ps.env)
        assert codec.decode(codec.encode(v2))["choice"] is None

    def test_f1_recursive(self):
        ps = parse_schema(F1_LINKED_LIST)
        codec = BinaryCodec(ps)
        datum = {"value": 1, "tail": {"foo": {"value": 2, "tail": None}}}
        v = decode_datum(ps.root, datum, ps.env)
        back = codec.decode(codec.encode(v))
        assert back["tail"]["value"] == 2 and back["tail"]["tail"] is None


class TestBytesJson:
    """ADVICE r1: bytes/fixed fields must survive the decode→JSON path
    (json.dumps used to raise TypeError on Python bytes)."""

    SCHEMA = """
    {"type":"record","name":"b","fields":[
      {"name":"raw","type":"bytes"},
      {"name":"digest","type":{"type":"fixed","name":"MD5","size":16}}
    ]}
    """

    def test_dumps_and_reencode_roundtrip(self):
        import json as _json

        from anglerfish_spark.functions.avro_binary import dumps_avro_json

        ps = parse_schema(self.SCHEMA)
        codec = BinaryCodec(ps)
        datum = {"raw": "AQID", "digest": "AAECAwQFBgcICQoLDA0ODw=="}
        v = decode_datum(ps.root, datum, ps.env)
        txt = dumps_avro_json(codec.decode(codec.encode(v)))  # must not raise
        # the emitted JSON is valid Avro-JSON input: strict-decode it again
        v2 = decode_datum(ps.root, _json.loads(txt), ps.env)
        assert v2 == v and bytes(v2["raw"]) == b"\x01\x02\x03"


class TestMalformedInput:
    """ADVICE r1: corrupt wire input must raise DatumError, not IndexError."""

    def test_truncated_varint(self):
        import pytest

        from anglerfish_spark.errors import DatumError

        with pytest.raises(DatumError, match="truncated varint"):
            read_long(b"\x80\x80", 0)

    def test_overlong_varint(self):
        import pytest

        from anglerfish_spark.errors import DatumError

        with pytest.raises(DatumError, match="longer than 10"):
            read_long(b"\x80" * 11 + b"\x00", 0)

    def test_bad_union_branch_and_enum_index(self):
        import pytest

        from anglerfish_spark.errors import DatumError

        ps = parse_schema(F3_KITCHEN_SINK)
        codec = BinaryCodec(ps)
        datum = {"color": "RED", "digest": "AAECAwQFBgcICQoLDA0ODw==",
                 "tags": [], "props": {}, "choice": None, "renamed": 0}
        good = codec.encode(decode_datum(ps.root, datum, ps.env))
        # first byte is the enum index varint: 99 → out of range
        bad_enum = io.BytesIO(); write_long(bad_enum, 99)
        with pytest.raises(DatumError, match="enum index"):
            codec.decode(bad_enum.getvalue() + good[1:])
        # corrupt the union branch index (choice is the only union; encode a
        # record up to the union then a bogus branch)
        prefix = good[:-2]  # strip union index byte + renamed varint byte
        bad_union = io.BytesIO(); bad_union.write(prefix); write_long(bad_union, 77)
        with pytest.raises(DatumError):
            codec.decode(bad_union.getvalue())

    def test_truncated_string_slice(self):
        import pytest

        from anglerfish_spark.errors import DatumError

        schema = '{"type":"record","name":"s","fields":[{"name":"t","type":"string"}]}'
        codec = BinaryCodec(parse_schema(schema))
        out = io.BytesIO(); write_long(out, 100); out.write(b"abc")
        with pytest.raises(DatumError, match="overruns"):
            codec.decode(out.getvalue())

    def test_short_reads_and_bad_utf8_dead_letter(self, spark):
        """A double, float or boolean read past the end and invalid UTF-8
        are DatumErrors: the permissive decoder dead-letters those frames
        while the good row of the same batch decodes."""
        from pyspark.sql import functions as F

        from anglerfish_spark.functions.avro_binary import avro_decode_permissive

        schema = (
            '{"type":"record","name":"p","fields":[{"name":"x","type":"double"},'
            '{"name":"f","type":"float"},{"name":"b","type":"boolean"},'
            '{"name":"s","type":"string"}]}'
        )
        good = BinaryCodec(schema).encode({"x": 1.5, "f": 2.5, "b": True, "s": "é"})
        frames = [good, good[:2], good[:9], good[:12], good[:13] + b"\x02\xff"]
        df = spark.createDataFrame([(i, bytearray(f)) for i, f in enumerate(frames)], "i int, m binary")
        rows = df.select("i", avro_decode_permissive("m", schema).alias("d")).orderBy("i").collect()
        assert json.loads(rows[0].d.value) == {"x": 1.5, "f": 2.5, "b": True, "s": "é"}
        assert rows[0].d.error is None
        assert [(r.d.value, r.d.error) for r in rows[1:]] == [
            (None, "DatumError: length 8 at offset 0 overruns buffer of 2"),
            (None, "DatumError: length 4 at offset 8 overruns buffer of 9"),
            (None, "DatumError: length 1 at offset 12 overruns buffer of 12"),
            (None, "DatumError: invalid UTF-8 in string at offset 14"),
        ]


class TestSingleObjectEncoding:
    """Avro spec single-object framing: C3 01 + CRC-64-AVRO fingerprint."""

    SCHEMA = '{"type":"record","name":"r","fields":[{"name":"k","type":"long"}]}'

    def _codec_and_header(self):
        from anglerfish_spark.functions.avro_binary import _single_object_header

        ps = parse_schema(self.SCHEMA)
        return BinaryCodec(ps), ps, _single_object_header(self.SCHEMA)

    def test_header_shape(self):
        from anglerfish_spark.schema.fingerprint import schema_fingerprint

        _, _, header = self._codec_and_header()
        assert header[:2] == b"\xc3\x01" and len(header) == 10
        assert header[2:] == schema_fingerprint(self.SCHEMA, "CRC-64-AVRO")

    def test_spark_roundtrip_and_validation(self, spark):
        import pytest

        from anglerfish_spark.functions.avro_binary import (
            single_object_decode,
            single_object_encode,
        )

        df = spark.createDataFrame([('{"k": 41}',), ('{"k": -3}',)], ["j"])
        enc = df.withColumn("msg", single_object_encode("j", self.SCHEMA))
        back = enc.withColumn("out", single_object_decode("msg", self.SCHEMA))
        rows = {r["j"]: r for r in back.collect()}
        assert rows['{"k": 41}']["msg"][:2] == b"\xc3\x01"
        import json as _json

        assert _json.loads(rows['{"k": -3}']["out"]) == {"k": -3}

        # decoding with a *different* schema must fail on the fingerprint
        other = '{"type":"record","name":"r","fields":[{"name":"k","type":"int"}]}'
        with pytest.raises(Exception, match="fingerprint mismatch|PythonException"):
            enc.withColumn("out", single_object_decode("msg", other)).collect()

    def test_garbage_rejected(self, spark):
        import pytest

        from anglerfish_spark.functions.avro_binary import single_object_decode

        df = spark.createDataFrame([(b"\x00\x01\x02",)], "msg binary")
        with pytest.raises(Exception, match="single-object|PythonException"):
            df.withColumn("out", single_object_decode("msg", self.SCHEMA)).collect()


class TestJavaBinaryDifferential:
    """Cross-implementation wire-format check: bytes produced by the
    engine's BinaryCodec are decoded by org.apache.avro (the exact library
    the reference builds on), re-encoded by Java, and decoded back by the
    engine — full I4/I5 parity through both implementations."""

    def test_roundtrip_through_java(self, spark):
        import pytest

        jvm = spark._jvm
        try:
            jvm.java.lang.Class.forName("org.apache.avro.io.DecoderFactory")
        except Exception:
            pytest.skip("avro-core not on classpath")

        ps = parse_schema(F3_KITCHEN_SINK)
        codec = BinaryCodec(ps)
        datum = {
            "color": "GREEN",
            "digest": "AAECAwQFBgcICQoLDA0ODw==",
            "tags": ["x", "y"],
            "props": {"only": 7},          # single key: canonical map bytes
            "choice": {"string": "pick"},
            "renamed": -12,
        }
        mine = codec.encode(decode_datum(ps.root, datum, ps.env))

        from anglerfish_spark.schema.printer import to_avsc

        jschema = jvm.org.apache.avro.Schema.Parser().parse(to_avsc(ps.root))
        jreader = jvm.org.apache.avro.generic.GenericDatumReader(jschema)
        jdec = jvm.org.apache.avro.io.DecoderFactory.get().binaryDecoder(
            bytearray(mine), None
        )
        rec = jreader.read(None, jdec)
        assert str(rec.get("color")) == "GREEN"
        assert rec.get("renamed") == -12
        assert str(rec.get("choice")) == "pick"
        assert rec.get("tags").size() == 2

        # Java re-encode → engine decode must reproduce the same value
        baos = jvm.java.io.ByteArrayOutputStream()
        jenc = jvm.org.apache.avro.io.EncoderFactory.get().binaryEncoder(baos, None)
        jwriter = jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
        jwriter.write(rec, jenc)
        jenc.flush()
        java_bytes = bytes(baos.toByteArray())
        assert codec.decode(java_bytes) == codec.decode(mine)
        assert java_bytes == mine  # canonical encoding, byte-identical


class TestRegistryDispatch:
    """Fingerprint-dispatched single-object decode: a stream interleaving
    two writer versions reads uniformly under one reader schema."""

    V1 = '{"type":"record","name":"ev","fields":[{"name":"k","type":"int"}]}'
    V2 = """
    {"type":"record","name":"ev","fields":[
      {"name":"k","type":"long"},
      {"name":"tag","type":"string","default":"v2"}
    ]}
    """
    READER = """
    {"type":"record","name":"ev","fields":[
      {"name":"k","type":"double"},
      {"name":"tag","type":"string","default":"legacy"}
    ]}
    """

    def test_mixed_stream_decodes_to_reader_shape(self, spark):
        import json as _json

        from anglerfish_spark.functions.avro_binary import (
            single_object_decode_registry,
            single_object_encode,
        )

        df1 = spark.createDataFrame([('{"k": 1}',), ('{"k": 2}',)], ["j"]).withColumn(
            "msg", single_object_encode("j", self.V1)
        )
        df2 = spark.createDataFrame([('{"k": 30, "tag": "new"}',)], ["j"]).withColumn(
            "msg", single_object_encode("j", self.V2)
        )
        mixed = df1.unionByName(df2)
        out = mixed.withColumn(
            "val", single_object_decode_registry("msg", [self.V1, self.V2], self.READER)
        )
        rows = sorted(
            (_json.loads(r["val"]) for r in out.collect()), key=lambda v: v["k"]
        )
        assert rows == [
            {"k": 1.0, "tag": "legacy"},
            {"k": 2.0, "tag": "legacy"},
            {"k": 30.0, "tag": "new"},
        ]

    def test_unknown_fingerprint_rejected(self, spark):
        import pytest

        from anglerfish_spark.functions.avro_binary import (
            single_object_decode_registry,
            single_object_encode,
        )

        other = '{"type":"record","name":"ev","fields":[{"name":"k","type":"string"}]}'
        df = spark.createDataFrame([('{"k": "x"}',)], ["j"]).withColumn(
            "msg", single_object_encode("j", other)
        )
        with pytest.raises(Exception, match="unknown schema fingerprint|PythonException"):
            df.withColumn(
                "val", single_object_decode_registry("msg", [self.V1], self.READER)
            ).collect()


class TestConfluentFraming:
    """Confluent Schema Registry wire format: magic 0x00 + 4-byte BE schema
    id + Avro body — the framing a real Kafka + registry topic carries
    (reference roadmap /root/reference/README.md:25)."""

    V1 = TestRegistryDispatch.V1
    V2 = TestRegistryDispatch.V2
    READER = TestRegistryDispatch.READER

    def test_header_shape(self):
        import struct

        from anglerfish_spark.functions.avro_binary import confluent_header

        h = confluent_header(1042)
        assert len(h) == 5 and h[0] == 0x00
        assert struct.unpack(">I", h[1:])[0] == 1042

    def test_header_id_range(self):
        import pytest

        from anglerfish_spark.errors import DatumError
        from anglerfish_spark.functions.avro_binary import confluent_header

        with pytest.raises(DatumError):
            confluent_header(-1)
        with pytest.raises(DatumError):
            confluent_header(1 << 32)

    def test_mixed_ids_decode_to_reader_shape(self, spark):
        import json as _json

        from anglerfish_spark.functions.avro_binary import (
            confluent_decode_registry,
            confluent_encode,
        )

        df1 = spark.createDataFrame([('{"k": 1}',), ('{"k": 2}',)], ["j"]).withColumn(
            "msg", confluent_encode("j", self.V1, 7)
        )
        df2 = spark.createDataFrame([('{"k": 30, "tag": "new"}',)], ["j"]).withColumn(
            "msg", confluent_encode("j", self.V2, 12)
        )
        out = df1.unionByName(df2).withColumn(
            "m", confluent_decode_registry("msg", {7: self.V1, 12: self.V2}, self.READER)
        )
        rows = sorted(
            ((r["m"]["schema_id"], _json.loads(r["m"]["json"])) for r in out.collect()),
            key=lambda t: t[1]["k"],
        )
        assert rows == [
            (7, {"k": 1.0, "tag": "legacy"}),
            (7, {"k": 2.0, "tag": "legacy"}),
            (12, {"k": 30.0, "tag": "new"}),
        ]
        # wire shape: magic byte 0x00, then the id big-endian
        msg = df1.select("msg").first()["msg"]
        assert msg[0] == 0x00 and bytes(msg[1:5]) == (7).to_bytes(4, "big")

    def test_unknown_id_rejected_strict_captured_permissive(self, spark):
        import pytest

        from anglerfish_spark.functions.avro_binary import (
            confluent_decode_registry,
            confluent_decode_registry_permissive,
            confluent_encode,
        )

        df = spark.createDataFrame([('{"k": 5}',)], ["j"]).withColumn(
            "msg", confluent_encode("j", self.V1, 99)
        )
        with pytest.raises(Exception, match="not in registry map|PythonException"):
            df.withColumn(
                "m", confluent_decode_registry("msg", {7: self.V1}, self.READER)
            ).collect()
        row = (
            df.withColumn(
                "m",
                confluent_decode_registry_permissive("msg", {7: self.V1}, self.READER),
            )
            .select("m")
            .first()["m"]
        )
        assert row["schema_id"] == 99 and row["json"] is None
        assert "not in registry map" in row["error"]

    def test_garbage_and_truncation_permissive(self, spark):
        from anglerfish_spark.functions.avro_binary import (
            confluent_decode_registry_permissive,
            confluent_header,
        )

        rows = [
            (b"\x01\x00\x00\x00\x07\x02",),  # wrong magic
            (b"\x00\x00",),  # short header
            (confluent_header(7) + b"\x80",),  # truncated varint body
        ]
        df = spark.createDataFrame(rows, "msg binary")
        out = df.withColumn(
            "m", confluent_decode_registry_permissive("msg", {7: self.V1}, self.READER)
        ).collect()
        assert all(r["m"]["json"] is None and r["m"]["error"] is not None for r in out)
        # header parsed on the truncated-body row → id still surfaced
        by_err = {r["m"]["error"]: r["m"]["schema_id"] for r in out}
        assert any("truncated" in e and sid == 7 for e, sid in by_err.items())


class TestAvroDecodeTyped:
    """Connector-aware typed decode: both branches of the spark-avro gate
    must be exercised — the sandbox runs the engine-codec fallback for
    real, and the native branch's argument construction runs against an
    injected from_avro so its first execution isn't on a customer cluster
    (VERDICT r3 item #6)."""

    SCHEMA = """
    {"type":"record","name":"m","namespace":"gate","fields":[
      {"name":"k","type":"long"},
      {"name":"s","type":"string"}
    ]}
    """

    def test_native_branch_builds_from_avro_call(self, spark):
        import json as _json

        from pyspark.sql import functions as F

        from anglerfish_spark.functions.avro_binary import avro_decode_typed
        from anglerfish_spark.schema.printer import to_avsc

        captured = {}

        def fake_from_avro(col, jsonFormatSchema):
            captured["col"] = col
            captured["schema"] = jsonFormatSchema
            return F.lit("native-marker")

        df = spark.createDataFrame([(b"\x00",)], "msg binary")
        out = avro_decode_typed(df, "msg", self.SCHEMA, _from_avro=fake_from_avro)
        # the schema handed to the connector is the engine-normalized avsc
        ps = parse_schema(self.SCHEMA)
        assert _json.loads(captured["schema"]) == _json.loads(to_avsc(ps.root))
        assert "msg" in str(captured["col"])
        assert out.select("decoded").first()["decoded"] == "native-marker"

    def test_probe_true_routes_to_native_import(self, spark, monkeypatch):
        """With the probe forced True, the router must reach for
        pyspark.sql.avro.functions.from_avro (patched here) — proving the
        production wiring, not just the injectable test seam."""
        import pyspark.sql.avro.functions as avro_fns
        from pyspark.sql import functions as F

        import anglerfish_spark.sources.registry as reg
        from anglerfish_spark.functions.avro_binary import avro_decode_typed

        monkeypatch.setattr(reg, "avro_available", lambda s: True)
        monkeypatch.setattr(avro_fns, "from_avro", lambda c, s: F.lit("via-probe"))
        df = spark.createDataFrame([(b"\x00",)], "msg binary")
        out = avro_decode_typed(df, "msg", self.SCHEMA)
        assert out.select("decoded").first()["decoded"] == "via-probe"

    def test_fallback_branch_decodes_for_real(self, spark):
        import pytest

        from anglerfish_spark.functions.avro_binary import (
            avro_decode_typed,
            avro_encode,
        )
        from anglerfish_spark.sources.registry import avro_available

        if avro_available(spark):
            pytest.skip("connector present: fallback branch not selected here")
        df = spark.createDataFrame([('{"k": 7, "s": "hi"}',)], ["j"]).withColumn(
            "msg", avro_encode("j", self.SCHEMA)
        )
        out = avro_decode_typed(df, "msg", self.SCHEMA)
        r = out.select("decoded").first()["decoded"]
        assert r["k"] == 7 and r["s"] == "hi"
        assert "_anglerfish_avro_json" not in out.columns


# --- union short-name collisions -------------------------------------------

#: two named records share the short name X (different namespaces), so the
#: tagged-struct field names must be the collision-qualified
#: union_field_names (member_0_X / member_1_X) everywhere the decoded
#: representation is produced or consumed — ADVICE r2: bare-name lookups in
#: as_avro_json silently emitted null for every value.
F_COLLIDING_UNION = """
{"type": "record", "name": "Top", "namespace": "t", "fields": [
  {"name": "u", "type": [
    "null",
    {"type": "record", "name": "X", "namespace": "a",
     "fields": [{"name": "av", "type": "int"}]},
    {"type": "record", "name": "X", "namespace": "b",
     "fields": [{"name": "bv", "type": "string"}]}
  ]}
]}
"""


class TestCollidingUnion:
    def test_decoded_repr_uses_qualified_names(self):
        ps = parse_schema(F_COLLIDING_UNION)
        v = decode_datum(ps.root, {"u": {"b.X": {"bv": "hi"}}}, ps.env)
        assert set(v["u"]) == {"member_0_X", "member_1_X"}
        assert v["u"]["member_1_X"] == {"bv": "hi"}
        assert v["u"]["member_0_X"] is None

    def test_binary_roundtrip_both_branches(self):
        ps = parse_schema(F_COLLIDING_UNION)
        codec = BinaryCodec(ps)
        for datum in ({"u": {"a.X": {"av": 7}}}, {"u": {"b.X": {"bv": "z"}}}, {"u": None}):
            v = decode_datum(ps.root, datum, ps.env)
            assert codec.decode(codec.encode(v)) == v

    def test_as_avro_json_roundtrips_not_null(self):
        from anglerfish_spark.functions.avro_binary import as_avro_json

        ps = parse_schema(F_COLLIDING_UNION)
        v = decode_datum(ps.root, {"u": {"a.X": {"av": 7}}}, ps.env)
        j = as_avro_json(ps.root, v, ps.env)
        assert j == {"u": {"a.X": {"av": 7}}}


class TestTypedSingleObjectDecode:
    """r5 typed fast path: single_object_decode_typed must return exactly
    what the JSON-hop route (single_object_decode + decode_json) returns,
    for every field shape the message pipelines register — primitives,
    logical timestamp (LTZ), nullable union, array — plus the same
    framing/fingerprint strictness."""

    SCHEMA = """
    {"type":"record","name":"M","namespace":"t","fields":[
      {"name":"id","type":"long"},
      {"name":"name","type":"string"},
      {"name":"score","type":"double"},
      {"name":"ts","type":{"type":"long","logicalType":"timestamp-micros"}},
      {"name":"day","type":{"type":"int","logicalType":"date"}},
      {"name":"tag","type":["null","string"],"default":null},
      {"name":"xs","type":{"type":"array","items":"int"}}
    ]}
    """

    def _messages(self, spark):
        from pyspark.sql import functions as F

        from anglerfish_spark.functions.avro_binary import single_object_encode

        rows = [
            (i, f"n{i}", i / 3.0, 1_700_000_000_000_000 + i, 19700 + i,
             None if i % 2 else f"t{i}", list(range(i % 4)))
            for i in range(50)
        ]
        df = spark.createDataFrame(
            rows, "id long, name string, score double, ts long, day int, "
                  "tag string, xs array<int>"
        )
        # Avro-JSON union values are TAGGED ({"string": ...}); null rides
        # the field's default by omission (to_json drops null fields)
        tagged = F.when(
            F.col("tag").isNotNull(), F.struct(F.col("tag").alias("string"))
        ).alias("tag")
        payload = F.to_json(F.struct("id", "name", "score", "ts", "day", tagged, "xs"))
        return df.select(single_object_encode(payload, self.SCHEMA).alias("value"))

    def test_typed_equals_json_hop(self, spark):
        from pyspark.sql import functions as F

        from anglerfish_spark.codec.decoder import decode_json
        from anglerfish_spark.functions.avro_binary import (
            single_object_decode,
            single_object_decode_typed,
        )
        from anglerfish_spark.session import prepare

        prepare(spark)
        msgs = self._messages(spark)
        typed = msgs.select(single_object_decode_typed("value", self.SCHEMA).alias("m")).select(
            "m.*"
        )
        hop = decode_json(
            msgs.select(single_object_decode("value", self.SCHEMA).alias("json")),
            "json",
            self.SCHEMA,
        ).select("decoded.*")
        t_rows = sorted(map(str, (tuple(r) for r in typed.collect())))
        h_rows = sorted(map(str, (tuple(r) for r in hop.collect())))
        assert t_rows == h_rows
        # and the schemas agree modulo nullability/metadata
        assert [
            (f.name, f.dataType.simpleString()) for f in typed.schema.fields
        ] == [(f.name, f.dataType.simpleString()) for f in hop.schema.fields]

    def test_typed_rejects_bad_framing(self, spark):
        import pytest

        from pyspark.sql import functions as F

        from anglerfish_spark.functions.avro_binary import single_object_decode_typed

        bad = spark.createDataFrame([(bytearray(b"\xde\xad\x00\x01"),)], "value binary")
        with pytest.raises(Exception, match="single-object"):
            bad.select(single_object_decode_typed("value", self.SCHEMA).alias("m")).collect()

    V1 = (
        '{"type":"record","name":"EM","fields":['
        '{"name":"id","type":"long"},{"name":"v","type":"double"}]}'
    )
    V2 = (
        '{"type":"record","name":"EM","fields":['
        '{"name":"id","type":"long"},{"name":"v","type":"double"},'
        '{"name":"kind","type":"string","default":"unknown"}]}'
    )

    def _two_version_messages(self, spark):
        from pyspark.sql import functions as F

        from anglerfish_spark.functions.avro_binary import single_object_encode

        df = spark.createDataFrame(
            [(i, i / 7.0, f"k{i}") for i in range(30)], "id long, v double, kind string"
        )
        v1 = F.to_json(F.struct("id", "v"))
        v2 = F.to_json(F.struct("id", "v", "kind"))
        return df.select(
            F.when(F.col("id") % 2 == 0, single_object_encode(v1, self.V1))
            .otherwise(single_object_encode(v2, self.V2))
            .alias("value")
        )

    def test_registry_typed_equals_json_hop(self, spark):
        from anglerfish_spark.codec.decoder import decode_json
        from anglerfish_spark.functions.avro_binary import (
            single_object_decode_registry,
            single_object_decode_registry_typed,
        )
        from anglerfish_spark.session import prepare

        prepare(spark)
        msgs = self._two_version_messages(spark)
        typed = msgs.select(
            single_object_decode_registry_typed("value", [self.V1, self.V2], self.V2).alias("m")
        ).select("m.*")
        hop = decode_json(
            msgs.select(
                single_object_decode_registry("value", [self.V1, self.V2], self.V2).alias("json")
            ),
            "json",
            self.V2,
        ).select("decoded.*")
        assert sorted(map(str, (tuple(r) for r in typed.collect()))) == sorted(
            map(str, (tuple(r) for r in hop.collect()))
        )

    def test_confluent_typed_equals_json_hop(self, spark):
        from pyspark.sql import functions as F

        from anglerfish_spark.codec.decoder import decode_json
        from anglerfish_spark.functions.avro_binary import (
            confluent_decode_registry,
            confluent_decode_registry_typed,
            confluent_encode,
        )
        from anglerfish_spark.session import prepare

        prepare(spark)
        df = spark.createDataFrame(
            [(i, i / 7.0, f"k{i}") for i in range(30)], "id long, v double, kind string"
        )
        v1 = F.to_json(F.struct("id", "v"))
        v2 = F.to_json(F.struct("id", "v", "kind"))
        msgs = df.select(
            F.when(F.col("id") % 2 == 0, confluent_encode(v1, self.V1, 3))
            .otherwise(confluent_encode(v2, self.V2, 9))
            .alias("value")
        )
        ids = {3: self.V1, 9: self.V2}
        typed = msgs.select(
            confluent_decode_registry_typed("value", ids, self.V2).alias("m")
        ).select("m.schema_id", "m.value.*")
        dec = msgs.select(confluent_decode_registry("value", ids, self.V2).alias("m"))
        hop = decode_json(
            dec.select(F.col("m.schema_id").alias("schema_id"), F.col("m.json").alias("json")),
            "json",
            self.V2,
        ).select("schema_id", "decoded.*")
        assert sorted(map(str, (tuple(r) for r in typed.collect()))) == sorted(
            map(str, (tuple(r) for r in hop.collect()))
        )


class TestNativeAvroDispatch:
    """r13 (VERDICT r12 #6): the encode twin of the decode dispatch —
    native-branch argument wiring exercised without the connector, the
    fallback exercised for real, and a DIFFERENTIAL that runs only
    where spark-avro IS importable (skipped in this sandbox): the
    Python codec and the JVM codec must agree byte-for-byte on the
    round-trip."""

    SCHEMA = json.dumps(
        {
            "type": "record",
            "name": "M",
            "fields": [
                {"name": "k", "type": "long"},
                {"name": "s", "type": "string"},
            ],
        }
    )

    def test_native_encode_branch_wiring(self, spark, monkeypatch):
        import pyspark.sql.avro.functions as avro_fns
        from pyspark.sql import functions as F

        import anglerfish_spark.sources.registry as reg
        from anglerfish_spark.functions.avro_binary import avro_encode_typed

        monkeypatch.setattr(reg, "avro_available", lambda s: True)
        monkeypatch.setattr(avro_fns, "to_avro", lambda c, s: F.lit(b"via-probe"))
        df = spark.createDataFrame([((7, "hi"),)], "v struct<k: bigint, s: string>")
        out = avro_encode_typed(df, "v", self.SCHEMA)
        assert bytes(out.select("encoded").first()["encoded"]) == b"via-probe"

    def test_fallback_encode_round_trips(self, spark):
        import pytest

        from anglerfish_spark.functions.avro_binary import (
            avro_decode_typed,
            avro_encode_typed,
        )
        from anglerfish_spark.sources.registry import avro_available

        if avro_available(spark):
            pytest.skip("connector present: fallback branch not selected here")
        df = spark.createDataFrame([((7, "hi"),)], "v struct<k: bigint, s: string>")
        enc = avro_encode_typed(df, "v", self.SCHEMA)
        dec = avro_decode_typed(enc, "encoded", self.SCHEMA)
        r = dec.select("decoded").first()["decoded"]
        assert r["k"] == 7 and r["s"] == "hi"

    def test_native_differential_when_connector_present(self, spark):
        """GATED: runs only on deployments with spark-avro — the
        cluster-side proof that the JVM fast path and the Python
        reference agree.  Skipped in this sandbox (no connector)."""
        import pytest

        from anglerfish_spark.functions.avro_binary import (
            avro_decode,
            avro_encode_typed,
        )
        from anglerfish_spark.sources.registry import avro_available

        if not avro_available(spark):
            pytest.skip("spark-avro absent: native differential not runnable here")
        df = spark.createDataFrame(
            [((i, f"s{i}"),) for i in range(50)], "v struct<k: bigint, s: string>"
        )
        # native to_avro bytes must decode EXACTLY through the Python
        # codec (wire-format agreement, not just value agreement)
        enc = avro_encode_typed(df, "v", self.SCHEMA)
        back = enc.withColumn("j", avro_decode("encoded", self.SCHEMA))
        rows = back.select("v", "j").collect()
        for r in rows:
            j = json.loads(r["j"])
            assert j == {"k": r["v"]["k"], "s": r["v"]["s"]}


class TestCompiledCodecR13Opt:
    """r13 optimization: the schema-compiled closures (BinaryCodec
    encode/decode fast paths, `_compile_json_view`, `_compile_semantic_view`)
    must be indistinguishable from the retained interpreted walks — same
    values, same exception type AND message (the permissive UDFs surface the
    message text as oracle-checked query output)."""

    LOGICAL = """
    {"type":"record","name":"lg","fields":[
      {"name":"ts","type":{"type":"long","logicalType":"timestamp-micros"}},
      {"name":"d","type":{"type":"int","logicalType":"date"}},
      {"name":"dec","type":{"type":"bytes","logicalType":"decimal","precision":9,"scale":2}},
      {"name":"tm","type":{"type":"long","logicalType":"time-micros"}},
      {"name":"maybe_ts","type":["null",{"type":"long","logicalType":"timestamp-micros"}]}
    ]}
    """
    MULTI = """
    {"type":"record","name":"m","fields":[
      {"name":"u","type":["null","string","long",{"type":"enum","name":"E","symbols":["A","B"]}]},
      {"name":"fx","type":{"type":"fixed","name":"FX","size":4}},
      {"name":"by","type":"bytes"},
      {"name":"fl","type":"float"},
      {"name":"arr","type":{"type":"array","items":"int"}},
      {"name":"mp","type":{"type":"map","values":"string"}}
    ]}
    """

    def _carrier_values(self):
        """(schema_json, carrier value) pairs spanning every node kind:
        recursion, logical types, multi-union (all branches incl. null),
        fixed/bytes/float, empty and multi-block containers."""
        from anglerfish_spark.schema.spark_convert import union_field_names

        out = []
        ps = parse_schema(F2_PRIMS)
        out.append((F2_PRIMS, decode_datum(ps.root, F2_OK, ps.env)))
        ps = parse_schema(F3_KITCHEN_SINK)
        datum = {
            "color": "GREEN",
            "digest": "AAECAwQFBgcICQoLDA0ODw==",
            "tags": ["a", "b", "c"],
            "props": {"x": 1, "y": -2},
            "choice": {"ch.test.Color": "RED"},
            "renamed": -100,
        }
        out.append((F3_KITCHEN_SINK, decode_datum(ps.root, datum, ps.env)))
        out.append((F3_KITCHEN_SINK, decode_datum(ps.root, dict(datum, choice=None), ps.env)))
        ps = parse_schema(F1_LINKED_LIST)
        out.append(
            (
                F1_LINKED_LIST,
                decode_datum(
                    ps.root, {"value": 1, "tail": {"foo": {"value": 2, "tail": None}}}, ps.env
                ),
            )
        )
        ps = parse_schema(self.MULTI)
        names = union_field_names(ps.root.fields[0].type)

        def ud(**kw):
            d = dict.fromkeys(names)
            d.update(kw)
            return d

        base = {"fx": b"abcd", "by": b"\x00\xff", "fl": 1.5, "arr": [1, -2, 3], "mp": {"k": "v"}}
        out.append((self.MULTI, dict(base, u=None)))
        out.append((self.MULTI, dict(base, u=ud(member_string="x"), arr=[], mp={})))
        out.append((self.MULTI, dict(base, u=ud(member_long=-(2**40)))))
        out.append((self.MULTI, dict(base, u=ud(member_E="B"), by=b"")))
        out.append(
            (
                self.LOGICAL,
                {
                    "ts": 1723939200000000,
                    "d": 19000,
                    "dec": b"\x03\xe8",
                    "tm": 12345678,
                    "maybe_ts": None,
                },
            )
        )
        out.append(
            (
                self.LOGICAL,
                {"ts": 0, "d": 0, "dec": b"\x80", "tm": 0, "maybe_ts": 1650000000000000},
            )
        )
        return out

    def test_append_long_matches_write_long(self):
        from anglerfish_spark.functions.avro_binary import _append_long

        for n in [0, -1, 1, 63, 64, -64, -65, 2**31 - 1, -(2**31), 2**62, -(2**63), 2**63 - 1]:
            out = io.BytesIO()
            write_long(out, n)
            ba = bytearray()
            _append_long(ba, n)
            assert bytes(ba) == out.getvalue(), n

    def test_encode_decode_compiled_equals_interpreted(self):
        for sch, v in self._carrier_values():
            codec = BinaryCodec(sch)
            enc_new, enc_old = codec.encode(v), codec.encode_interpreted(v)
            assert enc_new == enc_old, (sch, v)
            dec_new, dec_old = codec.decode(enc_new), codec.decode_interpreted(enc_new)
            assert repr(dec_new) == repr(dec_old), (sch, v)

    def test_views_compiled_equals_interpreted(self):
        from anglerfish_spark.functions.avro_binary import (
            _compile_json_view,
            _compile_semantic_view,
            _semantic_value,
            as_avro_json,
        )

        for sch, v in self._carrier_values():
            ps = parse_schema(sch)
            jv = _compile_json_view(ps.root, ps.env)
            sv = _compile_semantic_view(ps.root, ps.env)
            assert repr(jv(v)) == repr(as_avro_json(ps.root, v, ps.env)), (sch, v)
            assert repr(sv(v)) == repr(_semantic_value(ps.root, v, ps.env)), (sch, v)

    def test_view_error_paths_identical(self):
        from anglerfish_spark.functions.avro_binary import (
            _compile_json_view,
            as_avro_json,
        )
        from anglerfish_spark.schema.spark_convert import union_field_names

        ps = parse_schema(self.MULTI)
        names = union_field_names(ps.root.fields[0].type)
        bad = {
            "u": dict.fromkeys(names),  # all-None member dict: no branch
            "fx": b"abcd",
            "by": b"",
            "fl": 1.0,
            "arr": [],
            "mp": {},
        }
        jv = _compile_json_view(ps.root, ps.env)

        def run(f):
            try:
                return ("ok", repr(f()))
            except Exception as ex:  # noqa: BLE001 — comparing exact outcome
                return (type(ex).__name__, str(ex))

        assert run(lambda: jv(bad)) == run(lambda: as_avro_json(ps.root, bad, ps.env))

    def test_corruption_differential(self):
        """Truncations, bit flips, and trailing garbage must produce the
        SAME outcome (decoded value or exception type+message) from the
        compiled and interpreted decoders."""
        import random

        rng = random.Random(1307)
        cases = 0
        for sch, v in self._carrier_values():
            codec = BinaryCodec(sch)
            good = codec.encode(v)
            for _ in range(400):
                b = bytearray(good)
                op = rng.randrange(3)
                if op == 0 and len(b) > 1:
                    b = b[: rng.randrange(len(b))]
                elif op == 1 and len(b) > 0:
                    b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
                else:
                    b = b + bytes([rng.randrange(256)])
                buf = bytes(b)

                def run(f):
                    try:
                        return ("ok", repr(f(buf)))
                    except Exception as ex:  # noqa: BLE001
                        return (type(ex).__name__, str(ex))

                assert run(codec.decode) == run(codec.decode_interpreted), buf.hex()
                cases += 1
        assert cases >= 4000

    def test_encode_error_paths_identical(self):
        """Union misuse must raise the same UnionResolutionError text from
        the compiled encoder as from the interpreted one."""
        from anglerfish_spark.schema.spark_convert import union_field_names

        ps = parse_schema(self.MULTI)
        codec = BinaryCodec(self.MULTI)
        names = union_field_names(ps.root.fields[0].type)
        base = {"fx": b"abcd", "by": b"", "fl": 1.0, "arr": [], "mp": {}}
        bad_values = [
            dict(base, u=dict.fromkeys(names)),  # no non-null member
            dict(base, u="bare-string"),  # multi-union needs a member dict
        ]

        def run(f, v):
            try:
                return ("ok", f(v).hex())
            except Exception as ex:  # noqa: BLE001
                return (type(ex).__name__, str(ex))

        for v in bad_values:
            assert run(codec.encode, v) == run(codec.encode_interpreted, v), v


# ---------------------------------------------------------------------------
# public decoder surface: every wrapper's output type, good-frame values,
# strict error text and permissive dead-letter rows, pinned exactly
# ---------------------------------------------------------------------------

_PIN = (
    '{"type":"record","name":"pin","namespace":"t","fields":['
    '{"name":"id","type":"long"},'
    '{"name":"ts","type":{"type":"long","logicalType":"timestamp-micros"}},'
    '{"name":"day","type":{"type":"int","logicalType":"date"}},'
    '{"name":"tag","type":["null","string"],"default":null}]}'
)
#: older writer of ``_PIN``: int id, no tag (resolves via promotion + default)
_PIN_V1 = (
    '{"type":"record","name":"pin","namespace":"t","fields":['
    '{"name":"id","type":"int"},'
    '{"name":"ts","type":{"type":"long","logicalType":"timestamp-micros"}},'
    '{"name":"day","type":{"type":"int","logicalType":"date"}}]}'
)
_PIN_OTHER = '{"type":"record","name":"other","fields":[{"name":"x","type":"int"}]}'


def _pin_frames() -> tuple[dict, dict]:
    """(good frames per framing, bad frames per framing and case).  Writer
    ids 1 (``_PIN_V1``) and 2 (``_PIN``) are the id map's and the fake
    registry's (registered in that order)."""
    from anglerfish_spark.functions.avro_binary import _single_object_header, confluent_header

    def enc(schema, datum):
        ps = parse_schema(schema)
        return BinaryCodec(ps).encode(decode_datum(ps.root, datum, ps.env))

    a = enc(_PIN, {"id": 5, "ts": 1_700_000_000_000_001, "day": 19700, "tag": {"string": "a"}})
    b = enc(_PIN, {"id": -2, "ts": 0, "day": 0, "tag": None})
    w = enc(_PIN_V1, {"id": 7, "ts": 5, "day": 1})
    so, so_v1 = _single_object_header(_PIN), _single_object_header(_PIN_V1)
    good = {
        "raw": [a, b],
        "so": [so + a, so + b],
        "so_mixed": [so_v1 + w, so + a],
        "cf": [confluent_header(1) + w, confluent_header(2) + a],
    }
    so_bad = {
        "empty": b"",
        "wrong_magic": b"\xc3\x02" + so[2:] + a,
        "short_header": so[:6],
        "foreign_writer": _single_object_header(_PIN_OTHER) + a,
        "truncated_body": so + a[:-1],
        "trailing_bytes": so + a + b"\x00",
    }
    cf_bad = {
        "empty": b"",
        "wrong_magic": b"\x01" + confluent_header(2)[1:] + a,
        "short_header": b"\x00\x00\x02",
        "foreign_writer": confluent_header(77) + a,
        "truncated_body": confluent_header(2) + a[:-1],
        "trailing_bytes": confluent_header(2) + a + b"\x00",
    }
    bad = {
        "raw": {"empty": b"", "truncated_body": a[:-1], "trailing_bytes": a + b"\x00"},
        "so": so_bad,
        "so_mixed": so_bad,
        "cf": cf_bad,
    }
    return good, bad


def _pin_decoders(url: str) -> dict:
    """name → (framing, strict?, column builder) for every public decoder."""
    from anglerfish_spark.functions import avro_binary as ab

    ids = {1: _PIN_V1, 2: _PIN}
    writers = [_PIN_V1, _PIN]
    return {
        "avro_decode": ("raw", True, lambda c: ab.avro_decode(c, _PIN)),
        "avro_decode_permissive": ("raw", False, lambda c: ab.avro_decode_permissive(c, _PIN)),
        "single_object_decode": ("so", True, lambda c: ab.single_object_decode(c, _PIN)),
        "single_object_decode_permissive": (
            "so", False, lambda c: ab.single_object_decode_permissive(c, _PIN)
        ),
        "single_object_decode_typed": (
            "so", True, lambda c: ab.single_object_decode_typed(c, _PIN)
        ),
        "single_object_decode_registry": (
            "so_mixed", True, lambda c: ab.single_object_decode_registry(c, writers, _PIN)
        ),
        "single_object_decode_registry_typed": (
            "so_mixed", True, lambda c: ab.single_object_decode_registry_typed(c, writers, _PIN)
        ),
        "confluent_decode_registry": (
            "cf", True, lambda c: ab.confluent_decode_registry(c, ids, _PIN)
        ),
        "confluent_decode_registry_permissive": (
            "cf", False, lambda c: ab.confluent_decode_registry_permissive(c, ids, _PIN)
        ),
        "confluent_decode_registry_typed": (
            "cf", True, lambda c: ab.confluent_decode_registry_typed(c, ids, _PIN)
        ),
        "confluent_decode_client": (
            "cf", True, lambda c: ab.confluent_decode_client(c, url, _PIN)
        ),
        "confluent_decode_client_permissive": (
            "cf", False, lambda c: ab.confluent_decode_client(c, url, _PIN, permissive=True)
        ),
    }


def _udf_body(make_column):
    """The Python function a public wrapper hands to ``pandas_udf`` — the
    batch body, callable in-process on a ``pd.Series`` (no Spark job)."""
    import pytest
    import pyspark.sql.functions as psf

    bodies = []
    real = psf.pandas_udf

    def recording(*args, **kwargs):
        wrap = real(*args, **kwargs)
        return lambda f: (bodies.append(f), wrap(f))[1]

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(psf, "pandas_udf", recording)
        make_column("m")
    (body,) = bodies
    return body


def _jvm_error(spark, make_column, frame: bytes) -> str:
    """The ``<Error>: <text>`` a JVM decoder column fails a query with on
    one frame."""
    import re

    import pytest

    df = spark.createDataFrame([(bytearray(frame),)], "m binary")
    with pytest.raises(Exception) as ei:
        df.select(make_column("m")).collect()
    return re.search(r"Caused by: java\.lang\.IllegalArgumentException: ([^\n]*)", str(ei.value)).group(1)


class TestPublicDecoderSurface:
    """Every public decoder × (good frames; empty; wrong magic; short
    header; foreign writer — fingerprint mismatch, unknown fingerprint or
    unknown id; truncated body; trailing bytes): output type, decoded
    values (cast to string, so timestamps render in the session's UTC),
    strict DatumError text (from the batch body in-process, or from the
    failed query for the JVM decoders in ``JVM``), and permissive
    dead-letter rows from one select."""

    JVM = {"single_object_decode_typed"}

    TYPES = {
        "avro_decode": "string",
        "avro_decode_permissive": "struct<value:string,error:string>",
        "confluent_decode_client": "struct<schema_id:int,json:string>",
        "confluent_decode_client_permissive": "struct<schema_id:int,json:string,error:string>",
        "confluent_decode_registry": "struct<schema_id:int,json:string>",
        "confluent_decode_registry_permissive": "struct<schema_id:int,json:string,error:string>",
        "confluent_decode_registry_typed": "struct<schema_id:int,value:struct<id:bigint,ts:timestamp,day:date,tag:string>>",
        "single_object_decode": "string",
        "single_object_decode_permissive": "struct<value:string,error:string>",
        "single_object_decode_registry": "string",
        "single_object_decode_registry_typed": "struct<id:bigint,ts:timestamp,day:date,tag:string>",
        "single_object_decode_typed": "struct<id:bigint,ts:timestamp,day:date,tag:string>",
    }
    GOOD = [
        (
            '{"id": 5, "ts": 1700000000000001, "day": 19700, "tag": {"string": "a"}}',
            '{{"id": 5, "ts": 1700000000000001, "day": 19700, "tag": {"string": "a"}}, null}',
            '{"id": 5, "ts": 1700000000000001, "day": 19700, "tag": {"string": "a"}}',
            '{{"id": 5, "ts": 1700000000000001, "day": 19700, "tag": {"string": "a"}}, null}',
            "{5, 2023-11-14 22:13:20.000001, 2023-12-09, a}",
            '{"id": 7, "ts": 5, "day": 1, "tag": null}',
            "{7, 1970-01-01 00:00:00.000005, 1970-01-02, null}",
            '{1, {"id": 7, "ts": 5, "day": 1, "tag": null}}',
            '{1, {"id": 7, "ts": 5, "day": 1, "tag": null}, null}',
            "{1, {7, 1970-01-01 00:00:00.000005, 1970-01-02, null}}",
            '{1, {"id": 7, "ts": 5, "day": 1, "tag": null}}',
            '{1, {"id": 7, "ts": 5, "day": 1, "tag": null}, null}',
        ),
        (
            '{"id": -2, "ts": 0, "day": 0, "tag": null}',
            '{{"id": -2, "ts": 0, "day": 0, "tag": null}, null}',
            '{"id": -2, "ts": 0, "day": 0, "tag": null}',
            '{{"id": -2, "ts": 0, "day": 0, "tag": null}, null}',
            "{-2, 1970-01-01 00:00:00, 1970-01-01, null}",
            '{"id": 5, "ts": 1700000000000001, "day": 19700, "tag": {"string": "a"}}',
            "{5, 2023-11-14 22:13:20.000001, 2023-12-09, a}",
            '{2, {"id": 5, "ts": 1700000000000001, "day": 19700, "tag": {"string": "a"}}}',
            '{2, {"id": 5, "ts": 1700000000000001, "day": 19700, "tag": {"string": "a"}}, null}',
            "{2, {5, 2023-11-14 22:13:20.000001, 2023-12-09, a}}",
            '{2, {"id": 5, "ts": 1700000000000001, "day": 19700, "tag": {"string": "a"}}}',
            '{2, {"id": 5, "ts": 1700000000000001, "day": 19700, "tag": {"string": "a"}}, null}',
        ),
    ]
    # strict DatumError text, per decoder and bad-frame case
    BODY_ERRORS = {
        "truncated_body": "DatumError: length 1 at offset 14 overruns buffer of 14",
        "trailing_bytes": "DatumError: trailing bytes after decode: 1",
    }
    NOT_SO = "DatumError: not a single-object-encoded Avro message"
    SO_ERRORS = {**BODY_ERRORS, "empty": NOT_SO, "wrong_magic": NOT_SO, "short_header": NOT_SO}
    NOT_CF = "DatumError: not a Confluent-framed message (magic byte != 0x00)"
    CF_ERRORS = {**BODY_ERRORS, "empty": NOT_CF, "wrong_magic": NOT_CF, "short_header": NOT_CF}
    MISMATCH = (
        "DatumError: schema fingerprint mismatch: message d1d6da1fdb7f5ad2, reader f9692a1a60bd3c55"
    )
    UNKNOWN_FP = "DatumError: unknown schema fingerprint d1d6da1fdb7f5ad2"
    UNKNOWN_ID = "DatumError: schema id 77 not in registry map"
    STRICT = {
        "avro_decode": {**BODY_ERRORS, "empty": "DatumError: truncated varint at offset 0"},
        "single_object_decode": {**SO_ERRORS, "foreign_writer": MISMATCH},
        "single_object_decode_typed": {**SO_ERRORS, "foreign_writer": MISMATCH},
        "single_object_decode_registry": {**SO_ERRORS, "foreign_writer": UNKNOWN_FP},
        "single_object_decode_registry_typed": {**SO_ERRORS, "foreign_writer": UNKNOWN_FP},
        "confluent_decode_registry": {**CF_ERRORS, "foreign_writer": UNKNOWN_ID},
        "confluent_decode_registry_typed": {**CF_ERRORS, "foreign_writer": UNKNOWN_ID},
        "confluent_decode_client": {
            **CF_ERRORS,
            "foreign_writer": "DatumError: schema id 77 not in registry",
        },
    }
    PERMISSIVE = {
        "empty": (
            "{null, DatumError: truncated varint at offset 0}",
            "{null, DatumError: not a single-object-encoded Avro message}",
            "{null, null, DatumError: not a Confluent-framed message (magic byte != 0x00)}",
            "{null, null, DatumError: not a Confluent-framed message (magic byte != 0x00)}",
        ),
        "foreign_writer": (
            "{null, DatumError: union branch index 45 out of range}",
            "{null, DatumError: schema fingerprint mismatch: message d1d6da1fdb7f5ad2, reader f9692a1a60bd3c55}",
            "{77, null, DatumError: schema id 77 not in registry map}",
            "{77, null, DatumError: schema id 77 not in registry}",
        ),
        "short_header": (
            "{null, DatumError: union branch index 13 out of range}",
            "{null, DatumError: not a single-object-encoded Avro message}",
            "{null, null, DatumError: not a Confluent-framed message (magic byte != 0x00)}",
            "{null, null, DatumError: not a Confluent-framed message (magic byte != 0x00)}",
        ),
        "trailing_bytes": (
            "{null, DatumError: trailing bytes after decode: 1}",
            "{null, DatumError: trailing bytes after decode: 1}",
            "{2, null, DatumError: trailing bytes after decode: 1}",
            "{2, null, DatumError: trailing bytes after decode: 1}",
        ),
        "truncated_body": (
            "{null, DatumError: length 1 at offset 14 overruns buffer of 14}",
            "{null, DatumError: length 1 at offset 14 overruns buffer of 14}",
            "{2, null, DatumError: length 1 at offset 14 overruns buffer of 14}",
            "{2, null, DatumError: length 1 at offset 14 overruns buffer of 14}",
        ),
        "wrong_magic": (
            "{null, DatumError: union branch index 13 out of range}",
            "{null, DatumError: not a single-object-encoded Avro message}",
            "{null, null, DatumError: not a Confluent-framed message (magic byte != 0x00)}",
            "{null, null, DatumError: not a Confluent-framed message (magic byte != 0x00)}",
        ),
    }

    def _registry(self):
        from tests.fake_schema_registry import fake_registry

        return fake_registry()

    def _register(self, state):
        assert state.register("pin-value", _PIN_V1) == 1
        assert state.register("pin-value", _PIN) == 2

    def test_types_and_good_frames(self, spark):
        from pyspark.sql import functions as F

        good, _ = _pin_frames()
        framings = list(good)
        df = spark.createDataFrame(
            [tuple(good[f][i] for f in framings) for i in range(2)],
            ", ".join(f"{f} binary" for f in framings),
        )
        with self._registry() as (url, state):
            self._register(state)
            out = df.select(
                *(make(fr).alias(name) for name, (fr, _, make) in _pin_decoders(url).items())
            )
            types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
            as_text = out.select(*(F.col(c).cast("string") for c in out.columns))
            rows = [tuple(r) for r in as_text.collect()]
        assert types == self.TYPES
        assert rows == self.GOOD

    def test_strict_messages(self, spark):
        import pandas as pd
        import pytest

        from anglerfish_spark.errors import DatumError

        _, bad = _pin_frames()
        got = {}
        with self._registry() as (url, state):
            self._register(state)
            for name, (framing, strict, make) in _pin_decoders(url).items():
                if not strict:
                    continue
                got[name] = {}
                if name in self.JVM:
                    for case, frame in bad[framing].items():
                        got[name][case] = _jvm_error(spark, make, frame)
                    continue
                body = _udf_body(make)
                for case, frame in bad[framing].items():
                    with pytest.raises(DatumError) as ei:
                        body(pd.Series([frame]))
                    got[name][case] = f"{type(ei.value).__name__}: {ei.value}"
        assert got == self.STRICT

    def test_permissive_rows(self, spark):
        from pyspark.sql import functions as F

        _, bad = _pin_frames()
        cases = list(bad["cf"])
        framings = ["raw", "so", "cf"]
        # raw has no header: its header cases decode the single-object frame
        df = spark.createDataFrame(
            [(case, *(bad[f].get(case, bad["so"][case]) for f in framings)) for case in cases],
            "case string, " + ", ".join(f"{f} binary" for f in framings),
        )
        with self._registry() as (url, state):
            self._register(state)
            decs = {
                name: make(framing)
                for name, (framing, strict, make) in _pin_decoders(url).items()
                if not strict
            }
            out = df.select("case", *(col.cast("string").alias(n) for n, col in decs.items()))
            rows = {r["case"]: tuple(r)[1:] for r in out.collect()}
        assert rows == self.PERMISSIVE


class TestWireCodecEdges:
    """Driver-side validation and the Confluent id range."""

    def test_schema_id_beyond_int32_dead_letters(self, spark):
        import pandas as pd
        import pytest

        from anglerfish_spark.errors import DatumError
        from anglerfish_spark.functions import avro_binary as ab
        from tests.fake_schema_registry import fake_registry

        frame = b"\x00\xff\xff\xff\xff\x02"
        msg = "schema id 4294967295 out of int32 range"
        ids = {3: _PIN}
        out = _udf_body(lambda c: ab.confluent_decode_registry_permissive(c, ids, _PIN))(
            pd.Series([frame])
        )
        assert out["schema_id"].isna().all() and out["json"].isna().all()
        assert list(out["error"]) == [f"DatumError: {msg}"]
        with pytest.raises(DatumError, match=msg):
            _udf_body(lambda c: ab.confluent_decode_registry(c, ids, _PIN))(pd.Series([frame]))
        # the registry client never sees the id
        with fake_registry() as (url, state):
            body = _udf_body(lambda c: ab.confluent_decode_client(c, url, _PIN, permissive=True))
            out = body(pd.Series([frame]))
            assert state.requests == 0
        assert list(out["error"]) == [f"DatumError: {msg}"]
        # producer side: ids are Java ints
        assert ab.confluent_header(0x7FFFFFFF) == b"\x00\x7f\xff\xff\xff"
        with pytest.raises(DatumError, match="out of int32 range"):
            ab.confluent_header(1 << 31)

    def test_bad_reader_schema_fails_at_call_time(self, spark):
        import pytest

        from anglerfish_spark.errors import SchemaError
        from anglerfish_spark.functions.avro_binary import single_object_decode

        with pytest.raises(SchemaError):
            single_object_decode("v", "{not json")

    def test_bad_schema_id_fails_at_call_time(self, spark):
        import pytest

        from anglerfish_spark.errors import DatumError
        from anglerfish_spark.functions.avro_binary import confluent_encode

        with pytest.raises(DatumError, match="schema id -1"):
            confluent_encode("j", _PIN, -1)
