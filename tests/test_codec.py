"""Strict-decode semantics: pure-Python decoder vs FIXTURES.md cases, and
differential tests of the expression decoder against the Python one."""

from __future__ import annotations

import json

import pytest

from anglerfish_spark import errors as E
from anglerfish_spark.codec.decoder import decode_json
from anglerfish_spark.codec.pydecode import decode_datum
from anglerfish_spark.schema import parse_schema

from .test_schema import F1_LINKED_LIST, F3_KITCHEN_SINK

F2_PRIMS = """
{"name": "prims", "type": "record", "fields": [
  {"name": "f_null",    "type": "null"},
  {"name": "f_bool",    "type": "boolean"},
  {"name": "f_int",     "type": "int"},
  {"name": "f_long",    "type": "long"},
  {"name": "f_float",   "type": "float"},
  {"name": "f_double",  "type": "double"},
  {"name": "f_bytes",   "type": "bytes"},
  {"name": "f_string",  "type": "string"}
]}
"""

F2_OK = {
    "f_null": None, "f_bool": True, "f_int": 42, "f_long": 42,
    "f_float": 1.5, "f_double": 1.1, "f_bytes": "AQID", "f_string": "hi",
}


class TestPyDecodePrimitives:
    def setup_method(self):
        ps = parse_schema(F2_PRIMS)
        self.t, self.env = ps.root, ps.env

    def dec(self, datum):
        return decode_datum(self.t, datum, self.env)

    def test_ok(self):
        out = self.dec(F2_OK)
        assert out["f_bytes"] == b"\x01\x02\x03"
        assert out["f_float"] == 1.5
        assert list(out) == list(F2_OK)  # field order preserved

    @pytest.mark.parametrize(
        "field,value,exc",
        [
            ("f_int", 2**31, E.UnexpectedTypeError),      # int32 overflow
            ("f_int", 2**63, E.UnrepresentableError),     # beyond int64
            ("f_long", 10**25, E.UnrepresentableError),
            ("f_float", 1.1, E.UnrepresentableError),     # inexact in float32
            ("f_double", 1, E.UnexpectedTypeError),       # int where double expected
            ("f_bool", "true", E.UnexpectedTypeError),
            ("f_null", 0, E.UnexpectedTypeError),
            ("f_bytes", "!!", E.UnexpectedTypeError),
            ("f_string", 3, E.UnexpectedTypeError),
        ],
    )
    def test_d3_d4_errors(self, field, value, exc):
        datum = dict(F2_OK, **{field: value})
        with pytest.raises(exc):
            self.dec(datum)

    def test_int_accepted_for_long(self):
        assert self.dec(dict(F2_OK, f_long=2**40))["f_long"] == 2**40

    def test_record_strictness(self):
        with pytest.raises(E.RecordError):  # extra field (D6)
            self.dec(dict(F2_OK, surprise=1))
        with pytest.raises(E.RecordError):  # missing required
            self.dec({k: v for k, v in F2_OK.items() if k != "f_int"})


class TestPyDecodeComplex:
    def test_f1_recursive_with_default(self):
        ps = parse_schema(F1_LINKED_LIST)
        datum = {"value": 1, "tail": {"foo": {"value": 2, "tail": {"foo": {"value": 3}}}}}
        out = decode_datum(ps.root, datum, ps.env)
        assert out["value"] == 1
        assert out["tail"]["value"] == 2
        assert out["tail"]["tail"]["value"] == 3
        assert out["tail"]["tail"]["tail"] is None  # default applied
        with pytest.raises(E.UnexpectedTypeError):
            decode_datum(ps.root, {"value": 1, "tail": {"foo": 1}}, ps.env)
        with pytest.raises(E.UnionResolutionError):
            decode_datum(ps.root, {"value": 1, "tail": {"bar": {"value": 2}}}, ps.env)
        with pytest.raises(E.UnrepresentableError):  # deeper than the bound
            deep = {"value": 0}
            for i in range(12):
                deep = {"value": i, "tail": {"foo": deep}}
            decode_datum(ps.root, deep, ps.env, max_depth=10)

    def test_f3_kitchen_sink(self):
        ps = parse_schema(F3_KITCHEN_SINK)
        datum = {
            "color": "RED",
            "digest": "AAECAwQFBgcICQoLDA0ODw==",  # 16 bytes
            "tags": ["a", "b"],
            "props": {"x": 1, "y": 2},
            "choice": {"int": 3},
            "renamed": 7,
        }
        out = decode_datum(ps.root, datum, ps.env)
        assert out["color"] == "RED"
        assert len(out["digest"]) == 16
        assert out["choice"] == {"member_int": 3, "member_string": None, "member_Color": None}

        base = dict(datum)
        with pytest.raises(E.EnumError):
            decode_datum(ps.root, dict(base, color="PURPLE"), ps.env)
        with pytest.raises(E.FixedError):
            decode_datum(ps.root, dict(base, digest="AQID"), ps.env)
        with pytest.raises(E.UnionError):  # two keys
            decode_datum(ps.root, dict(base, choice={"int": 1, "string": "x"}), ps.env)
        # named branch by FQN (S3 rule)
        out2 = decode_datum(ps.root, dict(base, choice={"ch.test.Color": "RED"}), ps.env)
        assert out2["choice"]["member_Color"] == "RED"
        # defaults: absent tags → [] ; absent choice → null
        slim = {k: v for k, v in base.items() if k not in ("tags", "choice")}
        out3 = decode_datum(ps.root, slim, ps.env)
        assert out3["tags"] == [] and out3["choice"] is None


SIMPLE = """
{"name": "ev", "type": "record", "fields": [
  {"name": "k", "type": "long"},
  {"name": "tag", "type": "string", "default": "none"},
  {"name": "color", "type": {"type": "enum", "name": "C", "symbols": ["RED","GREEN"]},
   "default": "RED"}
]}
"""


class TestExprDecoder:
    def test_strict_ok_and_defaults(self, spark):
        ps = parse_schema(SIMPLE)
        df = spark.createDataFrame(
            [('{"k": 1, "tag": "a", "color": "GREEN"}',), ('{"k": 2}',)], ["j"]
        )
        out = decode_json(df, "j", ps, mode="strict").select("decoded.*").collect()
        assert [tuple(r) for r in sorted(out)] == [(1, "a", "GREEN"), (2, "none", "RED")]

    def test_permissive_error_codes(self, spark):
        ps = parse_schema(SIMPLE)
        rows = [
            ('{"k": 1}', []),                              # ok
            ('{"k": 1, "extra": 2}', ["RecordError@$"]),   # extra field
            ('{"tag": "x"}', ["RecordError@$.k"]),         # missing required
            ('{"k": 1, "color": "BLUE"}', ["EnumError@$.color"]),
            ('{"k": 99999999999999999999}', ["UnrepresentableError@$.k"]),
            ("not json", ["UnexpectedJsonTypeError@$"]),
        ]
        df = spark.createDataFrame([(j,) for j, _ in rows], ["j"])
        got = decode_json(df, "j", ps, mode="permissive").select("j", "_errors").collect()
        by_j = {r["j"]: list(r["_errors"]) for r in got}
        for j, want in rows:
            assert by_j[j] == want, f"{j}: {by_j[j]} != {want}"

    def test_strict_raises(self, spark):
        ps = parse_schema(SIMPLE)
        df = spark.createDataFrame([('{"k": 1, "color": "BLUE"}',)], ["j"])
        with pytest.raises(Exception, match="strict decode|EnumError|ASSERT"):
            decode_json(df, "j", ps, mode="strict").collect()

    def test_differential_vs_python(self, spark):
        """Expression decoder agrees with the Python reference decoder."""
        ps = parse_schema(F3_KITCHEN_SINK)
        datums = [
            {
                "color": "RED",
                "digest": "AAECAwQFBgcICQoLDA0ODw==",
                "tags": ["a"],
                "props": {"x": 1},
                "choice": {"string": "s"},
                "renamed": 1,
            },
            {
                "color": "BLUE",
                "digest": "AAECAwQFBgcICQoLDA0ODw==",
                "props": {},
                "choice": None,
                "renamed": 2,
            },
        ]
        df = spark.createDataFrame([(json.dumps(d),) for d in datums], ["j"])
        out = decode_json(df, "j", ps, mode="permissive").select("decoded", "_errors").collect()
        for d, row in zip(datums, out):
            py = None
            try:
                py = decode_datum(ps.root, d, ps.env)
            except E.DatumError:
                assert len(row["_errors"]) > 0, f"python errored, exprs did not: {d}"
            if py is not None:
                assert len(row["_errors"]) == 0, f"exprs errored, python did not: {row['_errors']}"
                got = row["decoded"].asDict(recursive=True)
                # bytes fields come back as bytearray
                assert bytes(got["digest"]) == py["digest"]
                assert got["color"] == py["color"]
                assert (got["choice"] is None) == (py["choice"] is None)
                assert got["tags"] == py["tags"]


NESTED_COLLECTIONS = """
{"name": "nc", "type": "record", "fields": [
  {"name": "recs", "type": {"type": "array", "items":
     {"type": "record", "name": "inner", "fields": [
        {"name": "a", "type": "long"},
        {"name": "c", "type": {"type": "enum", "name": "IC", "symbols": ["X","Y"]},
         "default": "X"}
     ]}}},
  {"name": "m", "type": {"type": "map", "values": "int"}, "default": {}}
]}
"""


class TestCollectionStrictness:
    """Raw-text strictness must reach inside arrays and maps (the gap the
    fixed-JSON-path decoder could not close)."""

    def _errs(self, spark, rows):
        from anglerfish_spark.codec.decoder import decode_json
        from anglerfish_spark.schema import parse_schema

        ps = parse_schema(NESTED_COLLECTIONS)
        df = spark.createDataFrame([(j,) for j in rows], ["j"])
        got = decode_json(df, "j", ps, mode="permissive").select("j", "_errors").collect()
        return {r["j"]: list(r["_errors"]) for r in got}

    def test_extra_field_inside_array(self, spark):
        rows = [
            '{"recs": [{"a": 1}, {"a": 2, "zzz": 9}]}',
            '{"recs": [{"a": 1}]}',
        ]
        by_j = self._errs(spark, rows)
        assert by_j[rows[0]] == ["RecordError@$.recs[]"]
        assert by_j[rows[1]] == []

    def test_missing_required_inside_array(self, spark):
        by_j = self._errs(spark, ['{"recs": [{"c": "Y"}]}'])
        assert by_j['{"recs": [{"c": "Y"}]}'] == ["RecordError@$.recs[].a"]

    def test_enum_domain_inside_array(self, spark):
        by_j = self._errs(spark, ['{"recs": [{"a": 1, "c": "Z"}]}'])
        assert by_j['{"recs": [{"a": 1, "c": "Z"}]}'] == ["EnumError@$.recs[].c"]

    def test_overflow_inside_array(self, spark):
        j = '{"recs": [{"a": 99999999999999999999}]}'
        by_j = self._errs(spark, [j])
        assert by_j[j] == ["UnrepresentableError@$.recs[].a"]

    def test_default_applies_inside_array(self, spark):
        from anglerfish_spark.codec.decoder import decode_json
        from anglerfish_spark.schema import parse_schema

        ps = parse_schema(NESTED_COLLECTIONS)
        df = spark.createDataFrame([('{"recs": [{"a": 7}]}',)], ["j"])
        out = decode_json(df, "j", ps, mode="strict").select("decoded.*").collect()[0]
        assert [tuple(r) for r in out["recs"]] == [(7, "X")]

    def test_scalar_at_array_and_map_positions(self, spark):
        rows = [
            '{"recs": 5}',
            '{"recs": [], "m": "nope"}',
        ]
        by_j = self._errs(spark, rows)
        assert by_j[rows[0]] == ["UnexpectedTypeError@$.recs"]
        assert by_j[rows[1]] == ["UnexpectedTypeError@$.m"]

    def test_wrong_value_type_inside_map(self, spark):
        j = '{"recs": [], "m": {"k": "notint"}}'
        by_j = self._errs(spark, [j])
        assert by_j[j] == ["UnexpectedTypeError@$.m.{}"]


class TestPythonDecodePath:
    """decode_json_python (mapInPandas over pydecode) must agree with the
    expression decoder on values and with pydecode on verdicts."""

    def test_matches_expression_path(self, spark):
        from anglerfish_spark.codec.decoder import decode_json, decode_json_python
        from anglerfish_spark.schema import parse_schema

        ps = parse_schema(NESTED_COLLECTIONS)
        rows = [
            '{"recs": [{"a": 1}, {"a": 2, "c": "Y"}], "m": {"x": 3}}',
            '{"recs": []}',
            '{"recs": [{"a": 1, "zzz": 9}]}',          # extra field in array
            '{"recs": [{"a": 1, "c": "Z"}]}',          # enum violation
            '{"recs": 5}',                             # scalar at array position
            "not json",
        ]
        df = spark.createDataFrame([(i, j) for i, j in enumerate(rows)], ["i", "j"])
        expr = {
            r["i"]: (r["decoded"], len(r["_errors"]) == 0)
            for r in decode_json(df, "j", ps, mode="permissive").select("i", "decoded", "_errors").collect()
        }
        py = {
            r["i"]: (r["decoded"], len(r["_errors"]) == 0)
            for r in decode_json_python(df, "j", ps, mode="permissive").select("i", "decoded", "_errors").collect()
        }
        assert set(expr) == set(py)
        for i in expr:
            assert expr[i][1] == py[i][1], (i, rows[i], expr[i], py[i])
            if expr[i][1]:
                assert expr[i][0] == py[i][0], (i, rows[i])

    def test_strict_raises(self, spark):
        from anglerfish_spark.codec.decoder import decode_json_python
        from anglerfish_spark.schema import parse_schema

        ps = parse_schema(NESTED_COLLECTIONS)
        df = spark.createDataFrame([('{"recs": [{"a": 1, "c": "Z"}]}',)], ["j"])
        with pytest.raises(Exception, match="EnumError|PythonException|enum"):
            decode_json_python(df, "j", ps, mode="strict").collect()


class TestSchemaEvolution:
    WRITER = """
    {"name": "w", "type": "record", "fields": [
      {"name": "k", "type": "int"},
      {"name": "old_name", "type": "string"},
      {"name": "dropped", "type": "long"},
      {"name": "nested", "type": {"type": "record", "name": "n", "fields": [
        {"name": "x", "type": "float"}]}}
    ]}
    """
    READER = """
    {"name": "w", "type": "record", "fields": [
      {"name": "k", "type": "double"},
      {"name": "new_name", "type": "string", "aliases": ["old_name"]},
      {"name": "added", "type": "string", "default": "dflt"},
      {"name": "nested", "type": {"type": "record", "name": "n", "fields": [
        {"name": "x", "type": "double"}]}},
      {"name": "opt", "type": ["null", "long"], "default": null}
    ]}
    """

    def test_evolution_end_to_end(self, spark):
        from anglerfish_spark.codec.evolve import decode_json_evolved

        df = spark.createDataFrame(
            [('{"k": 3, "old_name": "a", "dropped": 9, "nested": {"x": 1.5}}',)], ["j"]
        )
        row = decode_json_evolved(df, "j", self.WRITER, self.READER).select("decoded.*").collect()[0]
        assert row["k"] == 3.0 and isinstance(row["k"], float)
        assert row["new_name"] == "a"
        assert row["added"] == "dflt"
        assert row["nested"]["x"] == 1.5
        assert row["opt"] is None
        assert "dropped" not in row.asDict()

    def test_unresolvable_raises_at_plan_time(self, spark):
        import pytest as _pytest

        from anglerfish_spark.codec.evolve import evolve_struct
        from anglerfish_spark.errors import SchemaEvolutionError

        bad_reader = '{"name":"w","type":"record","fields":[{"name":"nope","type":"long"}]}'
        writer = '{"name":"w","type":"record","fields":[{"name":"k","type":"int"}]}'
        from pyspark.sql import functions as F
        with _pytest.raises(SchemaEvolutionError, match="no default"):
            evolve_struct(F.col("c"), writer, bad_reader)

    def test_illegal_promotion_raises(self, spark):
        import pytest as _pytest

        from anglerfish_spark.codec.evolve import evolve_struct
        from anglerfish_spark.errors import SchemaEvolutionError
        from pyspark.sql import functions as F

        writer = '{"name":"w","type":"record","fields":[{"name":"k","type":"double"}]}'
        reader = '{"name":"w","type":"record","fields":[{"name":"k","type":"int"}]}'
        with _pytest.raises(SchemaEvolutionError, match="promote"):
            evolve_struct(F.col("c"), writer, reader)


class TestUnionEvolution:
    """ADVICE r1: union resolution must honor the tagged-struct Spark shape
    and support widening a writer union into a superset reader union."""

    @staticmethod
    def _rec(field_type: str) -> str:
        return f'{{"name":"w","type":"record","fields":[{{"name":"u","type":{field_type}}}]}}'

    def _evolved(self, spark, writer, reader, datum_json):
        from anglerfish_spark.codec.evolve import decode_json_evolved

        df = spark.createDataFrame([(datum_json,)], ["j"])
        return decode_json_evolved(df, "j", writer, reader).select("decoded.u").collect()[0]["u"]

    def test_nonunion_writer_into_tagged_reader(self, spark):
        # writer int → reader ["null","int","string"]: the reader shape is a
        # member_* struct, not a bare int (the r1 defect returned bare int)
        writer = self._rec('"int"')
        reader = self._rec('["null", "int", "string"]')
        u = self._evolved(spark, writer, reader, '{"u": 7}')
        assert u.asDict() == {"member_int": 7, "member_string": None}

    def test_union_widened_to_superset(self, spark):
        # writer ["int","string"] → reader ["int","string","boolean"]
        writer = self._rec('["int", "string"]')
        reader = self._rec('["int", "string", "boolean"]')
        u = self._evolved(spark, writer, reader, '{"u": {"string": "hi"}}')
        assert u.asDict() == {"member_int": None, "member_string": "hi", "member_boolean": None}
        u2 = self._evolved(spark, writer, reader, '{"u": {"int": 4}}')
        assert u2.asDict() == {"member_int": 4, "member_string": None, "member_boolean": None}

    def test_nullable_single_into_tagged_nullable(self, spark):
        # writer ["null","long"] (bare shape) → reader ["null","long","string"]
        writer = self._rec('["null", "long"]')
        reader = self._rec('["null", "long", "string"]')
        u = self._evolved(spark, writer, reader, '{"u": {"long": 11}}')
        assert u.asDict() == {"member_long": 11, "member_string": None}
        assert self._evolved(spark, writer, reader, '{"u": null}') is None

    def test_enum_widened_to_superset_reader(self, spark):
        # r5 (found by the can_read<->evolve differential): spec-legal enum
        # widening — writer symbols all present in the reader — previously
        # raised because enums only resolved via full schema equality
        writer = self._rec('{"type":"enum","name":"E","symbols":["A","B"]}')
        reader = self._rec('{"type":"enum","name":"E","symbols":["A","B","C"]}')
        assert self._evolved(spark, writer, reader, '{"u": "B"}') == "B"

    def test_enum_narrowed_reader_raises(self, spark):
        import pytest

        from anglerfish_spark.errors import SchemaEvolutionError

        writer = self._rec('{"type":"enum","name":"E","symbols":["A","B","C"]}')
        reader = self._rec('{"type":"enum","name":"E","symbols":["A","B"]}')
        with pytest.raises(SchemaEvolutionError, match="symbols"):
            self._evolved(spark, writer, reader, '{"u": "A"}')

    def test_enum_resolution_value_space(self):
        import pytest

        from anglerfish_spark.codec.evolve import resolve_datum
        from anglerfish_spark.errors import SchemaEvolutionError
        from anglerfish_spark.schema.parser import parse_schema

        w = parse_schema('{"type":"enum","name":"E","symbols":["A","B"]}')
        r = parse_schema('{"type":"enum","name":"E","symbols":["A","B","C"]}')
        assert resolve_datum("B", w.root, r.root, r.env, w.env) == "B"
        with pytest.raises(SchemaEvolutionError, match="symbols"):
            resolve_datum("C", r.root, w.root, w.env, r.env)
        # reader alias absorbs a writer enum rename (spec alias rule)
        r2 = parse_schema(
            '{"type":"enum","name":"E2","aliases":["E"],"symbols":["A","B"]}'
        )
        assert resolve_datum("A", w.root, r2.root, r2.env, w.env) == "A"

    def test_union_with_promotion_into_nonunion(self, spark):
        # writer ["int","long"] → reader plain "double": both branches promote
        writer = self._rec('["int", "long"]')
        reader = self._rec('"double"')
        assert self._evolved(spark, writer, reader, '{"u": {"int": 3}}') == 3.0
        assert self._evolved(spark, writer, reader, '{"u": {"long": 9}}') == 9.0

    def test_nullability_narrowing_raises(self, spark):
        import pytest as _pytest

        from anglerfish_spark.codec.evolve import evolve_struct
        from anglerfish_spark.errors import SchemaEvolutionError
        from pyspark.sql import functions as F

        with _pytest.raises(SchemaEvolutionError, match="nullable"):
            evolve_struct(F.col("c"), self._rec('["null", "int"]'), self._rec('["int", "string"]'))
        with _pytest.raises(SchemaEvolutionError, match="nullable"):
            evolve_struct(F.col("c"), self._rec('["null", "int"]'), self._rec('"int"'))

    def test_unresolvable_branch_raises(self, spark):
        import pytest as _pytest

        from anglerfish_spark.codec.evolve import evolve_struct
        from anglerfish_spark.errors import SchemaEvolutionError
        from pyspark.sql import functions as F

        # writer boolean branch has no home in ["int","string"]
        with _pytest.raises(SchemaEvolutionError, match="no reader union branch"):
            evolve_struct(F.col("c"), self._rec('["int", "boolean"]'), self._rec('["int", "string"]'))


class TestEvolutionProperties:
    """Property-based checks of schema resolution (Hypothesis)."""

    @staticmethod
    def _record_of(prims):
        fields = ",".join(
            f'{{"name":"f{i}","type":"{p}"}}' for i, p in enumerate(prims)
        )
        return f'{{"name":"r","type":"record","fields":[{fields}]}}'

    def test_identity_evolution_is_identity(self, spark):
        """evolve(schema, schema) must be the identity projection for any
        primitive record."""
        import json as _json

        from hypothesis import given, settings
        from hypothesis import strategies as st

        from anglerfish_spark.codec.evolve import decode_json_evolved

        prim = st.sampled_from(["int", "long", "float", "double", "string", "boolean"])

        @settings(max_examples=15, deadline=None)
        @given(st.lists(prim, min_size=1, max_size=4), st.integers(-1000, 1000))
        def prop(prims, seed):
            schema = self._record_of(prims)
            datum = {}
            for i, p in enumerate(prims):
                datum[f"f{i}"] = (
                    bool(seed % 2) if p == "boolean"
                    else f"s{seed}" if p == "string"
                    else float(seed) if p in ("float", "double")
                    else seed
                )
            df = spark.createDataFrame([(_json.dumps(datum),)], ["j"])
            row = (
                decode_json_evolved(df, "j", schema, schema)
                .select("decoded.*")
                .collect()[0]
            )
            for i, p in enumerate(prims):
                assert row[f"f{i}"] == datum[f"f{i}"], (p, datum, row)

        prop()

    def test_promotion_chain_is_transitive(self, spark):
        """int datum promoted through every spec chain lands as the right
        reader type and value."""
        import json as _json

        from anglerfish_spark.codec.evolve import decode_json_evolved

        for reader_t, expect in [("long", 7), ("float", 7.0), ("double", 7.0)]:
            w = self._record_of(["int"])
            r = self._record_of([reader_t])
            df = spark.createDataFrame([('{"f0": 7}',)], ["j"])
            got = (
                decode_json_evolved(df, "j", w, r).select("decoded.f0").collect()[0][0]
            )
            assert got == expect and type(got) is type(expect), (reader_t, got)


class TestResolveDatum:
    """Value-space resolution (the heterogeneous-writer path)."""

    def test_union_value_routing(self):
        from anglerfish_spark.codec.evolve import resolve_datum
        from anglerfish_spark.schema import parse_schema

        w = parse_schema('["int", "string"]')
        r = parse_schema('["int", "string", "boolean"]')
        v = {"member_int": 5, "member_string": None}
        out = resolve_datum(v, w.root, r.root, r.env, w.env)
        assert out == {"member_int": 5, "member_string": None, "member_boolean": None}

        # bare nullable writer into wider union; null stays null
        w2 = parse_schema('["null", "long"]')
        r2 = parse_schema('["null", "long", "string"]')
        assert resolve_datum(11, w2.root, r2.root, r2.env, w2.env) == {
            "member_long": 11, "member_string": None,
        }
        assert resolve_datum(None, w2.root, r2.root, r2.env, w2.env) is None

    def test_bytes_string_promotions(self):
        from anglerfish_spark.codec.evolve import resolve_datum
        from anglerfish_spark.schema import parse_schema

        b = parse_schema('"bytes"').root
        s = parse_schema('"string"').root
        assert resolve_datum("hi", s, b) == b"hi"
        assert resolve_datum(b"hi", b, s) == "hi"

    def test_named_types_match_by_name_or_reader_alias(self):
        import pytest

        from anglerfish_spark.codec.evolve import resolve_datum
        from anglerfish_spark.errors import SchemaEvolutionError
        from anglerfish_spark.schema import parse_schema

        rec = '{"type":"record","name":"R","fields":[{"name":"x","type":%s}]}'
        # a nested record renamed without a reader alias is refused
        w = parse_schema(rec % '{"type":"record","name":"A","fields":[{"name":"a","type":"int"}]}')
        r = parse_schema(rec % '{"type":"record","name":"B","fields":[{"name":"a","type":"int"}]}')
        with pytest.raises(SchemaEvolutionError, match="record name mismatch"):
            resolve_datum({"x": {"a": 1}}, w.root, r.root, r.env, w.env)
        # a fixed renamed with a reader alias is read as is
        w = parse_schema(rec % '{"type":"fixed","name":"F","size":4}')
        r = parse_schema(rec % '{"type":"fixed","name":"G","size":4,"aliases":["F"]}')
        assert resolve_datum({"x": b"abcd"}, w.root, r.root, r.env, w.env) == {"x": b"abcd"}


class TestCollectionDepthStrictness:
    """D6/D3 strictness must reach records nested inside collections: the
    expression decoder zips the typed parse with a same-text raw parse, so
    extra-field / missing-required / overflow are caught per element (the
    pydecode ground truth catches them by construction)."""

    SCHEMA = """
    {"type":"record","name":"R","fields":[
      {"name":"items","type":{"type":"array","items":
        {"type":"record","name":"E","fields":[{"name":"x","type":"long"}]}}}
    ]}
    """

    def test_expression_decoder_checks_array_elements(self, spark):
        from anglerfish_spark.codec.decoder import decode_json

        rows = [
            ('{"items":[{"x":1},{"x":2}]}',),
            ('{"items":[{"x":1,"zzz":9}]}',),
            ('{"items":[{"x":99999999999999999999}]}',),
            ('{"items":[{}]}',),
        ]
        df = spark.createDataFrame(rows, ["j"])
        out = decode_json(df, "j", self.SCHEMA, mode="permissive").collect()
        assert out[0]["_errors"] == []
        assert out[1]["_errors"] == ["RecordError@$.items[]"]
        assert out[2]["_errors"] == ["UnrepresentableError@$.items[].x"]
        assert out[3]["_errors"] == ["RecordError@$.items[].x"]


class TestQuotedTokenStrictness:
    """D3: a JSON *string* token at a numeric/boolean position is a type
    error (pydecode's _require_integral / float / bool checks), but the
    raw object view strips quotes.  The flat fast path detects it via the
    staged variant probe (schema_of_variant == STRING); the general path
    via typed-wire-null + integral raw digits.  Pre-r4 a quoted in-range
    long was silently accepted (flat) or silently NULLED (nested)."""

    FLAT = (
        '{"type":"record","name":"R","fields":['
        '{"name":"x","type":"long"},{"name":"d","type":"double"},'
        '{"name":"b","type":"boolean"},{"name":"s","type":"string"}]}'
    )
    NESTED = (
        '{"type":"record","name":"R","fields":[{"name":"x","type":"long"},'
        '{"name":"n","type":{"type":"record","name":"N","fields":['
        '{"name":"y","type":"long"},{"name":"i","type":"int"}]}}]}'
    )

    def _errs(self, spark, schema, rows):
        from anglerfish_spark.codec.decoder import decode_json

        df = spark.createDataFrame([(r,) for r in rows], ["j"])
        out = decode_json(df, "j", schema, mode="permissive").collect()
        return [r["_errors"] for r in out]

    def test_flat_path_quoted_tokens_error(self, spark):
        errs = self._errs(
            spark,
            self.FLAT,
            [
                '{"x":123,"d":1.5,"b":true,"s":"ok"}',
                '{"x":"123","d":1.5,"b":true,"s":"ok"}',
                '{"x":123,"d":"1.5","b":true,"s":"ok"}',
                '{"x":123,"d":1.5,"b":"true","s":"ok"}',
            ],
        )
        assert errs == [
            [],
            ["UnexpectedTypeError@$.x"],
            ["UnexpectedTypeError@$.d"],
            ["UnexpectedTypeError@$.b"],
        ]

    def test_flat_path_quoted_token_reports_exactly_one_error(self, spark):
        # ADVICE r4: a quoted token is ONE violation (pydecode raises one
        # UnexpectedTypeError).  Pre-r5 the quote-stripped map view's own
        # checks fired *as well* — the int-literal check for "2" at a
        # double position, the cast-null mismatch for "abc" at a long
        # position — duplicating the probe's entry.
        errs = self._errs(
            spark,
            self.FLAT,
            [
                '{"x":123,"d":"2","b":true,"s":"ok"}',     # quoted integral @ double
                '{"x":"abc","d":1.5,"b":true,"s":"ok"}',   # quoted non-numeric @ long
                '{"x":123,"d":1.5,"b":"yes","s":"ok"}',    # quoted non-bool @ boolean
                '{"x":123,"d":"2.50000000001","b":true,"s":"ok"}',  # would be float-inexact if cast
            ],
        )
        assert errs == [
            ["UnexpectedTypeError@$.d"],
            ["UnexpectedTypeError@$.x"],
            ["UnexpectedTypeError@$.b"],
            ["UnexpectedTypeError@$.d"],
        ]

    def test_nested_path_quoted_long_errors_not_silent_null(self, spark):
        errs = self._errs(
            spark,
            self.NESTED,
            [
                '{"x":1,"n":{"y":2,"i":3}}',
                '{"x":"1","n":{"y":2,"i":3}}',
                '{"x":1,"n":{"y":"2","i":3}}',
                '{"x":1,"n":{"y":2,"i":"3"}}',
            ],
        )
        assert errs == [
            [],
            ["UnexpectedTypeError@$.x"],
            ["UnexpectedTypeError@$.n.y"],
            ["UnexpectedTypeError@$.n.i"],
        ]

    def test_int_overflow_classification_matches_pydecode(self, spark):
        # fits int64 but not int32 -> UnexpectedType; beyond int64 ->
        # Unrepresentable (pydecode.py D3 branch order)
        errs = self._errs(
            spark,
            self.NESTED,
            [
                '{"x":1,"n":{"y":2,"i":5000000000}}',
                '{"x":1,"n":{"y":2,"i":99999999999999999999}}',
            ],
        )
        assert errs == [
            ["UnexpectedTypeError@$.n.i"],
            ["UnrepresentableError@$.n.i"],
        ]


class TestRecursionThroughCollections:
    """Recursive references nested under arrays/maps (a tree of children,
    not just the linked-list chain) — the unroll and the decode must both
    follow the ref through the collection type, and the r6 linear-plan
    guarantee (SCALE.md #23) must hold for the branchier shape too."""

    TREE = """
    {"name": "node", "type": "record", "fields": [
      {"name": "v", "type": "int"},
      {"name": "kids", "type": {"type": "array", "items": "node"}, "default": []}
    ]}
    """

    def test_tree_decode(self, spark):
        from pyspark.sql import functions as F

        from anglerfish_spark.codec.decoder import decode_json
        from anglerfish_spark.localdata import local_df

        rows = [
            (1, '{"v": 1, "kids": [{"v": 2, "kids": []}, {"v": 3, "kids": [{"v": 4}]}]}'),
            (2, '{"v": 9}'),
        ]
        df = local_df(spark, rows, ["id", "j"], single_partition=True)
        out = decode_json(df, "j", self.TREE, mode="strict", max_depth=4)
        got = {
            r["id"]: (
                r["v"],
                r["k1"],
                r["k2"],
                r["grand"],
            )
            for r in out.select(
                "id",
                F.col("decoded.v").alias("v"),
                F.try_element_at("decoded.kids", F.lit(1)).getField("v").alias("k1"),
                F.try_element_at("decoded.kids", F.lit(2)).getField("v").alias("k2"),
                F.try_element_at(
                    F.try_element_at("decoded.kids", F.lit(2)).getField("kids"), F.lit(1)
                ).getField("v").alias("grand"),
            ).collect()
        }
        assert got[1] == (1, 2, 3, 4)
        assert got[2] == (9, None, None, None)

    def test_tree_plan_linear_in_depth(self, spark):
        from anglerfish_spark.codec.decoder import decode_json
        from anglerfish_spark.localdata import local_df

        df = local_df(spark, [(1, '{"v": 1}')], ["id", "j"], single_partition=True)
        sizes = []
        for depth in (3, 5):
            out = decode_json(df, "j", self.TREE, mode="strict", max_depth=depth)
            sizes.append(len(out._jdf.queryExecution().optimizedPlan().toString()))
        # two extra unroll levels must not double the plan (pre-r6 the
        # nullif/With inlining made this exponential)
        assert sizes[1] < sizes[0] * 1.9, sizes

    def test_tree_plan_under_hard_budget(self, spark):
        """VERDICT r6 #8: an ABSOLUTE optimized-plan ceiling per unroll
        level, so a future Spark upgrade reintroducing a rewrite
        pathology (e.g. RewriteWithExpression inlining defs into lambdas,
        SCALE.md #23: 484k chars / 2,558 CASE WHENs at depth 5) fails CI
        instead of silently costing 3x plan time.  Measured r7 baseline:
        ~8k + ~1.3k chars and ~9 CASE WHENs per level — the budget is ~2x
        that, far below any exponential blowup."""
        from anglerfish_spark.codec.decoder import decode_json
        from anglerfish_spark.localdata import local_df

        df = local_df(spark, [(1, '{"v": 1}')], ["id", "j"], single_partition=True)
        for depth in (3, 8):
            out = decode_json(df, "j", self.TREE, mode="strict", max_depth=depth)
            plan = out._jdf.queryExecution().optimizedPlan().toString()
            char_budget = 16_000 + 3_000 * depth
            case_budget = 40 + 20 * depth
            assert len(plan) <= char_budget, (depth, len(plan))
            assert plan.count("CASE WHEN") <= case_budget, (
                depth, plan.count("CASE WHEN"),
            )


class TestNestedDecodeStaysCompiled:
    """The nested (non-flat) decode runs as one JVM decoder call per row:
    no JSON parse expressions and no interpreted lambdas in the plan, and
    the UDF's (decoded, errs) result is read without re-invoking it."""

    ORDER = json.dumps({
        "type": "record", "name": "Order", "namespace": "t.bulk", "fields": [
            {"name": "id", "type": "long"},
            {"name": "qty", "type": "int"},
            {"name": "price", "type": "double"},
            {"name": "sku", "type": "string"},
            {"name": "paid", "type": "boolean"},
            {"name": "status", "type": {"type": "enum", "name": "Status",
                                        "symbols": ["NEW", "PAID", "SHIPPED", "LOST"]}},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "attrs", "type": {"type": "map", "values": "long"}},
            {"name": "note", "type": ["null", "string"], "default": None},
            {"name": "ship", "type": ["null", {
                "type": "record", "name": "Ship", "fields": [
                    {"name": "city", "type": "string"},
                    {"name": "zip", "type": ["null", "int"], "default": None},
                ]}], "default": None},
        ]})

    def test_plan_calls_the_decoder_once(self, spark):
        df = spark.createDataFrame([('{"id": 1}',)], "j string")
        for mode in ("strict", "permissive"):
            out = decode_json(df, "j", self.ORDER, mode=mode)
            plan = out._jdf.queryExecution().optimizedPlan().toString()
            assert plan.count("avro_json_decode(") == 1, (mode, plan)
            assert "from_json(" not in plan, mode
            assert "lambdafunction" not in plan, mode


def _chain(n: int, last: str) -> str:
    """A linked-list datum of ``n`` records, the innermost holding ``last``."""
    doc = "{" + last + "}"
    for i in range(n - 1, 0, -1):
        doc = '{"value": %d, "tail": {"foo": %s}}' % (i, doc)
    return doc


LINKED = json.dumps({
    "type": "record", "name": "foo", "fields": [
        {"name": "value", "type": "int"},
        {"name": "tail", "type": ["null", "foo"], "default": None},
    ]})


class TestErrorChannelIdentity:
    """Exact permissive ``_errors`` lists (content and order) and strict
    messages for rows with violations at several depths, on both decode
    paths — the error channel's encoding must never leak into output."""

    NESTED = json.dumps({
        "type": "record", "name": "Doc", "fields": [
            {"name": "id", "type": "long"},
            {"name": "ids", "type": {"type": "array", "items": "long"}},
            {"name": "attrs", "type": {"type": "map", "values": "long"}},
            {"name": "ship", "type": ["null", {
                "type": "record", "name": "Ship", "fields": [
                    {"name": "city", "type": "string"},
                    {"name": "zip", "type": ["null", "int"], "default": None},
                ]}], "default": None},
        ]})
    FLAT = json.dumps({
        "type": "record", "name": "Ev", "fields": [
            {"name": "id", "type": "long"},
            {"name": "qty", "type": "int"},
            {"name": "status", "type": {"type": "enum", "name": "St", "symbols": ["NEW", "PAID"]}},
        ]})

    CASES = {
        "nested": (NESTED, [
            ('{"id": 1, "ids": [1, 2], "attrs": {"a": 1}, '
             '"ship": {"Ship": {"city": "x", "zip": {"int": 7}}}}', []),
            # root extra field, wrong union branch, array element overflow,
            # map value of the wrong type
            ('{"id": 2, "ids": [1, 99999999999999999999], "attrs": {"a": 1, "b": "x"}, '
             '"ship": {"Nope": {"city": "y"}}, "extra": 1}',
             ["UnexpectedTypeError@$.ids[]", "UnexpectedTypeError@$.attrs.{}",
              "UnionResolutionError@$.ship", "RecordError@$"]),
            ('{"id": 3, "ids": [], "attrs": {}, '
             '"ship": {"Ship": {"city": "z", "zip": {"int": 5000000000}, "more": 1}}}',
             ["UnexpectedTypeError@$.ship.Ship.zip.int", "RecordError@$.ship.Ship"]),
            ("not json", ["UnexpectedJsonTypeError@$"]),
            # a quoted beyond-int64 literal is a JSON string at a long
            # position: UnexpectedTypeError, as pydecode classifies it
            ('{"id": "99999999999999999999", "ids": [], "attrs": {}}',
             ["UnexpectedTypeError@$.id"]),
        ]),
        "flat": (FLAT, [
            ('{"id": 1, "qty": 2, "status": "NEW"}', []),
            ('{"id": "12", "qty": 5000000000, "status": "NOPE", "extra": 1}',
             ["UnexpectedTypeError@$.id", "UnexpectedTypeError@$.qty",
              "EnumError@$.status", "RecordError@$"]),
            ("not json", ["UnexpectedJsonTypeError@$"]),
        ]),
        # violations in records nested past three re-entries of the same
        # record are checked like any other (pydecode's verdicts)
        "recursive": (LINKED, [
            (_chain(5, '"value": 5'), []),
            (_chain(5, '"value": 5, "zzz": 1'), ["RecordError@$" + ".tail.foo" * 4]),
            (_chain(5, '"value": "5"'), ["UnexpectedTypeError@$" + ".tail.foo" * 4 + ".value"]),
        ]),
    }

    @pytest.mark.parametrize("path", ["nested", "flat", "recursive"])
    def test_permissive_and_strict_tags(self, spark, path):
        import re

        schema, cases = self.CASES[path]
        df = spark.createDataFrame([(i, j) for i, (j, _) in enumerate(cases)], "i int, j string")
        got = decode_json(df, "j", schema, mode="permissive").orderBy("i").collect()
        assert [r["_errors"] for r in got] == [want for _, want in cases]

        for i, (_, want) in enumerate(cases):
            one = decode_json(df.where(f"i = {i}"), "j", schema, mode="strict")
            if not want:
                assert one.count() == 1
                continue
            with pytest.raises(Exception) as ei:
                one.collect()
            msg = re.search(r"anglerfish strict decode failed: (\S+)", str(ei.value))
            assert msg is not None and msg.group(1) == ";".join(want), str(ei.value)[:400]


class TestBpeEncode:
    """Unit semantics of the leftmost-min-rank BPE apply (q_bpe_encode)."""

    def test_encode_len_basics(self):
        from anglerfish_spark.operators.lm import bpe_encode_len

        ranks = {"lo": 1, "er": 2, "low": 3, "we": 4}
        assert bpe_encode_len("lower", ranks) == 2   # [low, er]
        assert bpe_encode_len("low", ranks) == 1     # [low]
        assert bpe_encode_len("newer", ranks) == 4   # [n, e, w, er]
        assert bpe_encode_len("x", ranks) == 1
        assert bpe_encode_len("zz", {}) == 2         # nothing to merge

    def test_leftmost_tie(self):
        from anglerfish_spark.operators.lm import bpe_encode_len

        # 'abab': 'ab' at positions 0 and 2, same rank — leftmost first:
        # [ab, a, b] -> then 'ab' again at position 1? syms = [ab, a, b];
        # pairs 'aba' (no), 'ab' (yes, rank 1) -> [ab, ab] -> pair 'abab' no
        assert bpe_encode_len("abab", {"ab": 1}) == 2


class TestDecodeJsonExprCacheR14Opt:
    """decode_json's schema-keyed EXPRESSION cache (r14-opt): same-schema
    invocations reuse the built (wire type, value, errs) trees — a compile
    cache, never data; per-row parsing still runs at every action."""

    SCHEMA = """
    {"type":"record","name":"c","fields":[
      {"name":"k","type":"long"},
      {"name":"tag","type":"string","default":"none"}
    ]}
    """

    def test_hit_and_identical_results(self, spark):
        from anglerfish_spark.codec import decoder as D

        D._DECODE_EXPR_CACHE.clear()
        df = spark.createDataFrame(
            [('{"k": 1, "tag": "a"}',), ('{"k": 2}',)], "props string"
        )
        r1 = decode_json(df, "props", self.SCHEMA, mode="permissive").collect()
        assert len(D._DECODE_EXPR_CACHE) == 1  # recorded
        r2 = decode_json(df, "props", self.SCHEMA, mode="permissive").collect()
        assert len(D._DECODE_EXPR_CACHE) == 1  # hit, not re-keyed
        assert [tuple(map(str, r)) for r in r1] == [tuple(map(str, r)) for r in r2]
        assert r1[1]["decoded"]["tag"] == "none"  # default substituted on the hit path too

    def test_distinct_keys_miss(self, spark):
        from anglerfish_spark.codec import decoder as D

        D._DECODE_EXPR_CACHE.clear()
        df = spark.createDataFrame([('{"k": 1}',)], "props string")
        decode_json(df, "props", self.SCHEMA, mode="strict")
        decode_json(df, "props", self.SCHEMA, mode="strict", max_depth=5)
        other = '{"type":"record","name":"d","fields":[{"name":"k","type":"long"}]}'
        decode_json(df, "props", other, mode="strict")
        assert len(D._DECODE_EXPR_CACHE) == 3
        # ParsedSchema callers skip the cache (no canonical key)
        decode_json(df, "props", parse_schema(other), mode="strict")
        assert len(D._DECODE_EXPR_CACHE) == 3

    def test_strict_error_identity_on_hit(self, spark):
        from anglerfish_spark.codec import decoder as D
        from pyspark.errors import PythonException
        import pytest as _pytest

        D._DECODE_EXPR_CACHE.clear()
        bad = spark.createDataFrame([('{"k": "notlong"}',)], "props string")
        msgs = []
        for _ in range(2):  # miss, then hit — identical strict failure
            with _pytest.raises(Exception) as ei:
                decode_json(bad, "props", self.SCHEMA, mode="strict").collect()
            msgs.append("anglerfish strict decode failed" in str(ei.value))
        assert msgs == [True, True]

    def test_lru_eviction_keeps_recent_hit(self, spark, monkeypatch):
        from anglerfish_spark.codec import decoder as D

        monkeypatch.setattr(D._DECODE_EXPR_CACHE, "maxsize", 2)
        D._DECODE_EXPR_CACHE.clear()
        df = spark.createDataFrame([('{"k": 1}',)], "props string")
        a, b, c = (
            '{"type":"record","name":"%s","fields":[{"name":"k","type":"long"}]}' % n
            for n in "abc"
        )
        decode_json(df, "props", a)
        decode_json(df, "props", b)
        decode_json(df, "props", a)  # hit: a is now the most recent
        decode_json(df, "props", c)  # evicts b, the least recently used
        assert [k[0] for k in D._DECODE_EXPR_CACHE] == [a, c]

    def test_concurrent_hits_and_evictions(self, spark, monkeypatch):
        import sys
        import threading

        from anglerfish_spark.codec import decoder as D

        monkeypatch.setattr(D._DECODE_EXPR_CACHE, "maxsize", 2)
        D._DECODE_EXPR_CACHE.clear()
        df = spark.createDataFrame([('{"k": 1}',)], "props string")
        schemas = [
            '{"type":"record","name":"s%d","fields":[{"name":"k","type":"long"}]}' % i
            for i in range(3)
        ]
        failures: list[BaseException] = []

        def work(i: int) -> None:
            try:
                for j in range(4):
                    decode_json(df, "props", schemas[(i + j) % len(schemas)])
            except BaseException as ex:  # noqa: BLE001 - reported below
                failures.append(ex)

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=work, args=(i,)) for i in range(6)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
        finally:
            sys.setswitchinterval(old)
        assert not any(t.is_alive() for t in threads)
        assert failures == []
        assert len(D._DECODE_EXPR_CACHE) <= 2

    def test_key_holds_active_context(self, spark):
        from anglerfish_spark.codec import decoder as D

        D._DECODE_EXPR_CACHE.clear()
        df = spark.createDataFrame([('{"k": 1}',)], "props string")
        decode_json(df, "props", self.SCHEMA)
        # trees built under another (e.g. stopped) context never match
        ((schema, depth, sc),) = D._DECODE_EXPR_CACHE
        assert (schema, depth) == (self.SCHEMA, 10) and sc is spark.sparkContext
