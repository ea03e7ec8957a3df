"""Codec-layer queries — the reference's raison d'être exercised as
driver-checkable queries (SURVEY.md §2.2 'Schema/codec' group).

Each query decodes JSON with the engine's strict schema-directed decoder
(or exercises the schema front-end) and has an exact DuckDB oracle; the
inline-literal queries (union encoding, narrowing ladder, error taxonomy,
round-trips) use ``VALUES``-based oracles so the expected behavior is
pinned row by row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..localdata import local_df
from ..memo import fresh_dir
from ..registry import query
from ..schema import from_struct_type, parse_schema, to_avsc, to_json
from ..session import prepare
from ..sources.registry import load_table
from .decoder import decode_json

# ---------------------------------------------------------------------------
# decode over the events table (real data path)
# ---------------------------------------------------------------------------

_EVENTS_SCHEMA = '{"type":"record","name":"props","fields":[{"name":"k","type":"long"}]}'

_EVENTS_DEFAULTS_SCHEMA = """
{"type":"record","name":"props","fields":[
  {"name":"k","type":"long"},
  {"name":"tag","type":"string","default":"none"}
]}
"""


@query(
    "json_decode_strict",
    oracle="""
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events ORDER BY event_id
""",
    group="codec",
)
def json_decode_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict typed decode of events.props (reference D1/D2 lifted to a
    column; all checks JVM-side, no Python in the row path)."""
    prepare(spark)
    ev = load_table(spark, sf_dir, "events", fanout=True)
    return (
        decode_json(ev, "props", _EVENTS_SCHEMA, mode="strict")
        .select("event_id", F.col("decoded.k").alias("k"))
    )


@query(
    "json_decode_defaults",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       COALESCE(json_extract_string(props, '$.tag'), 'none') AS tag
FROM events ORDER BY event_id
""",
    group="codec",
)
def json_decode_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-default substitution on absent keys (reference D6/D8)."""
    prepare(spark)
    ev = load_table(spark, sf_dir, "events", fanout=True)
    return (
        decode_json(ev, "props", _EVENTS_DEFAULTS_SCHEMA, mode="strict")
        .select("event_id", F.col("decoded.k").alias("k"), F.col("decoded.tag").alias("tag"))
    )


# ---------------------------------------------------------------------------
# union decode (Avro-JSON tagged encoding, inline corpus)
# ---------------------------------------------------------------------------

_UNION_SCHEMA = """
{"type":"record","name":"u","fields":[
  {"name":"v","type":["null","long","string"]}
]}
"""

_UNION_ROWS = [
    (1, '{"v": {"long": 42}}'),
    (2, '{"v": {"string": "hello"}}'),
    (3, '{"v": null}'),
    (4, '{"v": {"long": -7}}'),
]


@query(
    "json_decode_union",
    oracle="""
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), CAST(42 AS BIGINT), CAST(NULL AS VARCHAR), FALSE),
  (2, NULL, 'hello', FALSE),
  (3, NULL, NULL, TRUE),
  (4, -7, NULL, FALSE)
) AS t(id, member_long, member_string, is_null)
ORDER BY id
""",
    group="codec",
)
def json_decode_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union decode with the reference's tagged single-key-object encoding
    and branch-name resolution (D5 + S3)."""
    prepare(spark)
    df = local_df(spark, _UNION_ROWS, ["id", "j"])
    out = decode_json(df, "j", _UNION_SCHEMA, mode="strict")
    return out.select(
        "id",
        F.col("decoded.v.member_long").alias("member_long"),
        F.col("decoded.v.member_string").alias("member_string"),
        F.col("decoded.v").isNull().alias("is_null"),
    ).orderBy("id")


# ---------------------------------------------------------------------------
# numeric narrowing ladder (reference JsonF smallest-fitting-type, F5)
# ---------------------------------------------------------------------------

_NARROW_ROWS = [
    (1, "1"),
    (2, "-128"),
    (3, "300"),
    (4, "70000"),
    (5, "3000000000"),
    (6, "99999999999999999999"),
    (7, "1.5"),
    (8, "-0.25"),
]

_NARROW_VALUES_SQL = ", ".join(f"({i}, '{s}')" for i, s in _NARROW_ROWS)


@query(
    "json_infer_narrow",
    oracle=f"""
WITH vals(id, s) AS (VALUES {_NARROW_VALUES_SQL})
SELECT id, s,
  CASE
    WHEN regexp_matches(s, '^-?[0-9]+$') THEN
      CASE
        WHEN TRY_CAST(s AS DECIMAL(38,0)) IS NULL THEN 'bigint'
        WHEN TRY_CAST(s AS DECIMAL(38,0)) BETWEEN -128 AND 127 THEN 'byte'
        WHEN TRY_CAST(s AS DECIMAL(38,0)) BETWEEN -32768 AND 32767 THEN 'short'
        WHEN TRY_CAST(s AS DECIMAL(38,0)) BETWEEN -2147483648 AND 2147483647 THEN 'int'
        WHEN TRY_CAST(s AS DECIMAL(38,0)) BETWEEN -9223372036854775808 AND 9223372036854775807 THEN 'long'
        ELSE 'bigint'
      END
    ELSE 'double'
  END AS narrowed
FROM vals ORDER BY id
""",
    group="codec",
)
def json_infer_narrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smallest-fitting-type classification of JSON numerics (reference
    numeric narrowing, JsonFAlgebras.scala:25-49 / JsonData.scala:13-19)."""
    prepare(spark)
    df = local_df(spark, _NARROW_ROWS, ["id", "s"])
    s = F.col("s")
    d = s.try_cast("decimal(38,0)")
    integral = s.rlike(r"^-?[0-9]+$")
    narrowed = F.when(
        integral,
        F.when(d.isNull(), "bigint")
        .when((d >= -128) & (d <= 127), "byte")
        .when((d >= -32768) & (d <= 32767), "short")
        .when((d >= -2147483648) & (d <= 2147483647), "int")
        .when(
            (d >= F.lit(-9223372036854775808).cast("decimal(38,0)"))
            & (d <= F.lit(9223372036854775807).cast("decimal(38,0)")),
            "long",
        )
        .otherwise("bigint"),
    ).otherwise("double")
    return df.select("id", "s", narrowed.alias("narrowed")).orderBy("id")


# ---------------------------------------------------------------------------
# E1 error taxonomy in PERMISSIVE mode (inline corpus of bad datums)
# ---------------------------------------------------------------------------

_ERR_SCHEMA = """
{"type":"record","name":"rec","fields":[
  {"name":"k","type":"long"},
  {"name":"color","type":{"type":"enum","name":"C","symbols":["RED","GREEN"]},
   "default":"RED"},
  {"name":"digest","type":["null",{"type":"fixed","name":"D4","size":4}],
   "default":null}
]}
"""

_ERR_ROWS = [
    (1, '{"k": 1}'),
    (2, '{"k": 1, "oops": true}'),
    (3, '{"color": "RED"}'),
    (4, '{"k": 1, "color": "BLUE"}'),
    (5, '{"k": 99999999999999999999}'),
    (6, '{"k": 1, "digest": {"D4": "AQID"}}'),
    (7, "not json at all"),
]


@query(
    "json_errors_permissive",
    oracle="""
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), CAST(NULL AS VARCHAR), CAST(0 AS INT)),
  (2, 'RecordError@$', 1),
  (3, 'RecordError@$.k', 1),
  (4, 'EnumError@$.color', 1),
  (5, 'UnrepresentableError@$.k', 1),
  (6, 'FixedError@$.digest.D4', 1),
  (7, 'UnexpectedJsonTypeError@$', 1)
) AS t(id, first_error, n_errors)
ORDER BY id
""",
    group="codec",
)
def json_errors_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE decode surfacing the E1 error taxonomy as data
    (reference error classes AvroJsonFAlgebras.scala:32-52)."""
    prepare(spark)
    df = local_df(spark, _ERR_ROWS, ["id", "j"])
    out = decode_json(df, "j", _ERR_SCHEMA, mode="permissive")
    return out.select(
        "id",
        F.try_element_at("_errors", F.lit(1)).alias("first_error"),
        F.size("_errors").cast("int").alias("n_errors"),
    ).orderBy("id")


# ---------------------------------------------------------------------------
# schema round-trips (S1/S2/I2/I3 congruence)
# ---------------------------------------------------------------------------

_F3 = """
{"name": "sink", "namespace": "ch.test", "type": "record", "doc": "kitchen sink",
 "aliases": ["old_sink"], "fields": [
  {"name": "color",  "type": {"type": "enum", "name": "Color",
                              "symbols": ["RED", "GREEN", "BLUE"]}},
  {"name": "digest", "type": {"type": "fixed", "name": "MD5", "size": 16}},
  {"name": "tags",   "type": {"type": "array", "items": "string"}, "default": []},
  {"name": "props",  "type": {"type": "map", "values": "long"}},
  {"name": "choice", "type": ["null", "int", "string", "Color"], "default": null},
  {"name": "renamed","type": "int", "aliases": ["old_name"], "order": "descending"}
]}
"""


_FP_CORPUS = {
    "f1_linked_list": """
      {"name": "foo", "type": "record", "fields": [
        {"name": "value", "type": "int"},
        {"name": "tail", "type": ["null", "foo"], "default": null}]}
    """,
    "f3_kitchen_sink": _F3,
    "f4_named_refs": """
      {"name": "pair", "type": "record", "fields": [
        {"name": "a", "type": {"type": "record", "name": "Point", "fields": [
            {"name": "x", "type": "double"}, {"name": "y", "type": "double"}]}},
        {"name": "b", "type": "Point"}]}
    """,
    "primitive_int": '"int"',
    "union_nullable": '["null", "string", "long"]',
}


@query(
    "schema_fingerprint",
    oracle="""
SELECT * FROM (VALUES
  ('f1_linked_list', 109, 'ce8502d0afeda645', '2caafb4d64879cce385199d0d738869a'),
  ('f3_kitchen_sink', 428, 'e8ee858f059c9c75', '4e908c642435c51b8d64f4e49d820917'),
  ('f4_named_refs', 192, '56d35a460ceabbe4', '29d67193d28ecc377506d8a44d5909b9'),
  ('primitive_int', 5, '7275d51a3f395c8f', 'ef524ea1b91e73173d938ade36c1db32'),
  ('union_nullable', 24, '570dcfd8aa7790e1', '17d8f03049134797e49b1eca03274592')
) AS t(schema_name, canonical_len, crc64_avro, md5)
ORDER BY schema_name
""",
    group="codec",
)
def schema_fingerprint_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry-style schema identity: Parsing Canonical Form length +
    CRC-64-AVRO and MD5 fingerprints per schema (Avro spec "Schema
    Fingerprints"; the reference's schema-registry roadmap,
    README.md:24).  The Python implementation is differential-tested
    against org.apache.avro.SchemaNormalization; the oracle pins the
    exact fingerprints so any canonicalization drift fails loudly."""
    from ..schema.fingerprint import parsing_canonical_form, schema_fingerprint

    prepare(spark)
    rows = [
        (
            name,
            len(parsing_canonical_form(avsc)),
            int.from_bytes(schema_fingerprint(avsc, "CRC-64-AVRO"), "little").to_bytes(8, "big").hex(),
            schema_fingerprint(avsc, "MD5").hex(),
        )
        for name, avsc in sorted(_FP_CORPUS.items())
    ]
    return local_df(
        spark, rows, "schema_name string, canonical_len int, crc64_avro string, md5 string"
    ).orderBy("schema_name")


@query(
    "schema_parse_roundtrip",
    oracle="""
SELECT * FROM (VALUES
  ('ch.test.Color', 'enum',   'RED,GREEN,BLUE', TRUE),
  ('ch.test.MD5',   'fixed',  '16',             TRUE),
  ('ch.test.sink',  'record', 'color,digest,tags,props,choice,renamed', TRUE)
) AS t(fqn, kind, detail, roundtrip_identical)
ORDER BY fqn
""",
    group="codec",
)
def schema_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """avsc → type tree → avsc → type tree; asserts the round-trip is the
    identity (the reference's intended-but-disabled congruence property,
    TestJavaImplementationCongruence.scala:16-25) and reports the named
    types discovered."""
    prepare(spark)
    ps1 = parse_schema(_F3)
    ps2 = parse_schema(to_avsc(ps1.root))
    identical = ps1.root == ps2.root

    def detail(t):
        kind = type(t).__name__.removeprefix("Avro").lower()
        if kind == "enum":
            return kind, ",".join(t.symbols)
        if kind == "fixed":
            return kind, str(t.length)
        return kind, ",".join(f.name for f in t.fields)

    rows = [
        (fqn, *detail(t), identical)
        for fqn, t in sorted(ps2.env.items())
    ]
    return local_df(
        spark, rows, ["fqn", "kind", "detail", "roundtrip_identical"]
    ).orderBy("fqn")


@query(
    "schema_compat_check",
    oracle="""
SELECT * FROM (VALUES
  ('01_identity',        TRUE,  0),
  ('02_add_default',     TRUE,  0),
  ('03_add_required',    FALSE, 1),
  ('04_promote_int_dbl', TRUE,  0),
  ('05_narrow_long_int', FALSE, 1),
  ('06_rename_alias',    TRUE,  0),
  ('07_union_widen',     TRUE,  0),
  ('08_union_null_loss', FALSE, 1),
  ('09_enum_widen',      TRUE,  0),
  ('10_enum_narrow',     FALSE, 1),
  ('11_fixed_resize',    FALSE, 1),
  ('12_recursive_self',  TRUE,  0)
) AS t(case_name, compatible, n_reasons)
ORDER BY case_name
""",
    group="codec",
)
def schema_compat_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BACKWARD-compatibility verdicts of the structural schema-resolution
    checker (``sources/schema_registry.can_read`` — the client-side
    pre-check a registry consumer runs before registering; r5, reference
    roadmap /root/reference/README.md:25) over a fixed evolution matrix:
    field add with/without default, primitive promotion vs narrowing,
    alias rename, union widening vs null-loss, enum widening vs
    narrowing, fixed resize, recursive self-compatibility.  The checker
    is differentially pinned to the evolve layer's actual resolution
    behavior in tests/test_schema_registry.py; this query puts its
    verdicts under the driver's oracle hash as well."""
    from ..sources.schema_registry import can_read

    prepare(spark)
    rec = '{"type":"record","name":"R","fields":[%s]}'
    f_long = '{"name":"x","type":"long"}'
    ll = (
        '{"type":"record","name":"Node","fields":[{"name":"head","type":"long"},'
        '{"name":"tail","type":["null","Node"],"default":null}]}'
    )
    enum = '{"name":"e","type":{"type":"enum","name":"E","symbols":[%s]}}'
    fixed = '{"name":"f","type":{"type":"fixed","name":"Fx","size":%d}}'
    cases = [
        ("01_identity", rec % f_long, rec % f_long),
        ("02_add_default", rec % f_long,
         rec % (f_long + ',{"name":"t","type":"string","default":"d"}')),
        ("03_add_required", rec % f_long,
         rec % (f_long + ',{"name":"t","type":"string"}')),
        ("04_promote_int_dbl", rec % '{"name":"x","type":"int"}',
         rec % '{"name":"x","type":"double"}'),
        ("05_narrow_long_int", rec % f_long, rec % '{"name":"x","type":"int"}'),
        ("06_rename_alias", rec % '{"name":"old","type":"long"}',
         rec % '{"name":"new","type":"long","aliases":["old"]}'),
        ("07_union_widen", rec % f_long, rec % '{"name":"x","type":["null","long"]}'),
        ("08_union_null_loss", rec % '{"name":"x","type":["null","long"]}',
         rec % f_long),
        ("09_enum_widen", rec % (enum % '"A","B"'), rec % (enum % '"A","B","C"')),
        ("10_enum_narrow", rec % (enum % '"A","B","C"'), rec % (enum % '"A","B"')),
        ("11_fixed_resize", rec % (fixed % 4), rec % (fixed % 8)),
        ("12_recursive_self", ll, ll),
    ]
    rows = []
    for name, w, r in cases:
        reasons = can_read(w, r)
        rows.append((name, len(reasons) == 0, len(reasons)))
    return local_df(
        spark, rows, "case_name string, compatible boolean, n_reasons int"
    ).orderBy("case_name")


@query(
    "schema_export_spark",
    oracle="""
SELECT * FROM (VALUES
  ('l_orderkey', 'long'), ('l_partkey', 'long'), ('l_suppkey', 'long'),
  ('l_linenumber', 'int'), ('l_quantity', 'double'), ('l_extendedprice', 'double'),
  ('l_discount', 'double'), ('l_tax', 'double'), ('l_returnflag', 'string'),
  ('l_linestatus', 'string'),
  ('l_shipdate', '{"type": "long", "logicalType": "local-timestamp-micros"}')
) AS t(field, avro_type)
ORDER BY field
""",
    group="codec",
)
def schema_export_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export a Spark table schema as Avro (I2-analogue): every parquet
    column becomes a nullable union whose non-null member is reported.
    Temporal columns export as spec logical types on their carrier —
    beyond-reference surface (the reference leaves logical types as a
    TODO, AvroData.scala:17)."""
    import json as _json

    prepare(spark)
    li = load_table(spark, sf_dir, "lineitem")
    rec = from_struct_type(li.schema, "lineitem")
    rows = []
    for f in rec.fields:
        j = to_json(f.type)
        non_null = j[1] if isinstance(j, list) else j
        rows.append(
            (f.name, non_null if isinstance(non_null, str) else _json.dumps(non_null))
        )
    return local_df(spark, rows, ["field", "avro_type"]).orderBy("field")


# ---------------------------------------------------------------------------
# Avro binary round-trip (I4/I5 analogue over the wire format)
# ---------------------------------------------------------------------------


@query(
    "avro_binary_roundtrip",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       CAST(CASE
         WHEN (CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 0
                    THEN 2 * CAST(json_extract_string(props, '$.k') AS BIGINT)
                    ELSE -2 * CAST(json_extract_string(props, '$.k') AS BIGINT) - 1 END) < 128 THEN 1
         WHEN (CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 0
                    THEN 2 * CAST(json_extract_string(props, '$.k') AS BIGINT)
                    ELSE -2 * CAST(json_extract_string(props, '$.k') AS BIGINT) - 1 END) < 16384 THEN 2
         WHEN (CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 0
                    THEN 2 * CAST(json_extract_string(props, '$.k') AS BIGINT)
                    ELSE -2 * CAST(json_extract_string(props, '$.k') AS BIGINT) - 1 END) < 2097152 THEN 3
         ELSE 4 END AS INT) AS n_bytes,
       TRUE AS roundtrip_ok
FROM events ORDER BY event_id
""",
    group="codec",
)
def avro_binary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.props → strict decode → Avro *binary* (spec wire format:
    zigzag varints) → decode → compare: the I4/I5 value-interop analogue.
    The oracle independently predicts the varint byte length of each
    payload, so the binary encoding itself is checked, not just the
    round-trip identity."""
    from ..functions.avro_binary import avro_decode, avro_encode

    prepare(spark)
    ev = load_table(spark, sf_dir, "events", fanout=True)
    enc = ev.withColumn("bin", avro_encode("props", _EVENTS_SCHEMA))
    dec = enc.withColumn("back", avro_decode("bin", _EVENTS_SCHEMA))
    return dec.select(
        "event_id",
        F.get_json_object("back", "$.k").cast("bigint").alias("k"),
        F.octet_length("bin").cast("int").alias("n_bytes"),
        (
            F.get_json_object("back", "$.k") == F.get_json_object("props", "$.k")
        ).alias("roundtrip_ok"),
    )


@query(
    "avro_single_object",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       CAST(10 + CASE
         WHEN (CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 0
                    THEN 2 * CAST(json_extract_string(props, '$.k') AS BIGINT)
                    ELSE -2 * CAST(json_extract_string(props, '$.k') AS BIGINT) - 1 END) < 128 THEN 1
         WHEN (CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 0
                    THEN 2 * CAST(json_extract_string(props, '$.k') AS BIGINT)
                    ELSE -2 * CAST(json_extract_string(props, '$.k') AS BIGINT) - 1 END) < 16384 THEN 2
         WHEN (CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 0
                    THEN 2 * CAST(json_extract_string(props, '$.k') AS BIGINT)
                    ELSE -2 * CAST(json_extract_string(props, '$.k') AS BIGINT) - 1 END) < 2097152 THEN 3
         ELSE 4 END AS INT) AS n_bytes,
       'c301' AS marker,
       TRUE AS roundtrip_ok
FROM events ORDER BY event_id
""",
    group="codec",
)
def avro_single_object(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro single-object encoding (spec: C3 01 marker + CRC-64-AVRO schema
    fingerprint + binary body) — the registry/message-bus framing the
    reference's roadmap targets (README.md:24).  The oracle independently
    predicts total message length (10-byte header + varint body) and the
    marker bytes; the reader validates the embedded fingerprint."""
    from ..functions.avro_binary import single_object_decode, single_object_encode

    prepare(spark)
    ev = load_table(spark, sf_dir, "events", fanout=True)
    enc = ev.withColumn("msg", single_object_encode("props", _EVENTS_SCHEMA))
    dec = enc.withColumn("back", single_object_decode("msg", _EVENTS_SCHEMA))
    return dec.select(
        "event_id",
        F.get_json_object("back", "$.k").cast("bigint").alias("k"),
        F.octet_length("msg").cast("int").alias("n_bytes"),
        F.lower(F.hex(F.substring("msg", 1, 2))).alias("marker"),
        (
            F.get_json_object("back", "$.k") == F.get_json_object("props", "$.k")
        ).alias("roundtrip_ok"),
    )


@query(
    "avro_binary_evolved",
    oracle="""
SELECT event_id,
       CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS DOUBLE) AS k,
       'none' AS tag
FROM events ORDER BY event_id
""",
    group="codec",
)
def avro_binary_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema resolution over the *binary* wire path: data written with the
    writer schema (k: long) is read under an evolved reader (k promoted to
    double, tag added by default) — binary decode against the writer, then
    the same column-level evolution projection the JSON path uses (one
    decode, one projection; resolution is schema-level, format-agnostic —
    exactly the Avro-spec contract)."""
    from ..codec.evolve import decode_json_evolved
    from ..functions.avro_binary import avro_decode, avro_encode

    prepare(spark)
    ev = load_table(spark, sf_dir, "events", fanout=True)
    reader = """
    {"type":"record","name":"props","fields":[
      {"name":"k","type":"double"},
      {"name":"tag","type":"string","default":"none"}
    ]}
    """
    binary = ev.withColumn("bin", avro_encode("props", _EVENTS_SCHEMA))
    as_json = binary.withColumn("avro_json", avro_decode("bin", _EVENTS_SCHEMA))
    out = decode_json_evolved(as_json, "avro_json", _EVENTS_SCHEMA, reader)
    return out.select(
        "event_id",
        F.col("decoded.k").alias("k"),
        F.col("decoded.tag").alias("tag"),
    )


@query(
    "avro_errors_permissive",
    oracle="""
SELECT event_id,
       CASE WHEN event_id % 7 = 0 THEN NULL
            ELSE CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k,
       event_id % 7 = 0 AS has_error
FROM events ORDER BY event_id
""",
    group="codec",
)
def avro_errors_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permissive binary decode: every 7th message is corrupted (final
    byte truncated — the varint body becomes unterminated or empty), and
    must land in the per-row error channel as a DatumError, never fail the
    job.  The binary-path analogue of json_errors_permissive."""
    from ..functions.avro_binary import avro_decode_permissive, avro_encode

    prepare(spark)
    ev = load_table(spark, sf_dir, "events", fanout=True)
    binary = ev.withColumn("bin", avro_encode("props", _EVENTS_SCHEMA))
    corrupted = binary.withColumn(
        "bin",
        F.when(
            F.col("event_id") % 7 == 0,
            F.expr("substring(bin, 1, octet_length(bin) - 1)"),
        ).otherwise(F.col("bin")),
    )
    dec = corrupted.withColumn("out", avro_decode_permissive("bin", _EVENTS_SCHEMA))
    return dec.select(
        "event_id",
        F.get_json_object(F.col("out.value"), "$.k").cast("bigint").alias("k"),
        F.col("out.error").isNotNull().alias("has_error"),
    )


@query(
    "json_variant",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       'OBJECT<k: BIGINT>' AS vtype,
       json_extract_string(props, '$.missing') IS NULL AS missing_is_null
FROM events ORDER BY event_id
""",
    group="codec",
)
def json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType as the engine's ``JsonF`` analogue (SURVEY
    §1.1): ``parse_json`` materializes the untyped JSON tree (the
    reference's ``Fix[JsonF]``), ``variant_get`` is the typed projection
    at a path, ``schema_of_variant`` reifies the inferred one-layer shape.
    Variant's binary encoding scans ~8× faster than re-parsing JSON text
    per access — the right semi-structured storage at 100 TB."""
    prepare(spark)
    ev = load_table(spark, sf_dir, "events", fanout=True)
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k"),
        F.schema_of_variant(v).alias("vtype"),
        F.variant_get(v, "$.missing", "string").isNull().alias("missing_is_null"),
    )


# ---------------------------------------------------------------------------
# sink round-trip (sources surface: write → read back → verify)
# ---------------------------------------------------------------------------


@query(
    "q_sink_roundtrip",
    oracle="""
SELECT l_returnflag, COUNT(*) AS cnt
FROM lineitem WHERE l_quantity > 25
GROUP BY l_returnflag ORDER BY l_returnflag
""",
    group="sources",
)
def q_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writer/reader round-trip: filter lineitem → parquet sink (temp dir,
    partitioned by returnflag) → re-read → aggregate.  Exercises the
    write path incl. hive-style partitioning; the oracle aggregates the
    original table, so any loss/duplication in the sink shows up."""
    prepare(spark)
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 25)
    out_dir = fresh_dir("anglerfish_sink_")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out_dir)
    back = spark.read.parquet(out_dir)
    return (
        back.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("l_returnflag")
    )


@query(
    "avro_ocf_roundtrip",
    oracle=f"""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(COUNT(DISTINCT json_extract_string(props, '$.k')) AS BIGINT) AS n_distinct_k
FROM events
""",
    group="sources",
)
def avro_ocf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro Object Container File round-trip: events.props → OCF files (one
    per partition, executor-side) → distributed binaryFile read → typed
    decode → aggregate.  The reference's unimplemented 'Avro file
    read/write' roadmap item (README.md:23-27), Spark-native."""
    from ..sources.avro_ocf import read_avro_ocf, write_avro_ocf

    prepare(spark)
    ev = load_table(spark, sf_dir, "events", fanout=True)
    out_dir = fresh_dir("anglerfish_ocf_")
    write_avro_ocf(ev, "props", _EVENTS_SCHEMA, out_dir)
    back = read_avro_ocf(spark, out_dir)
    typed = decode_json(back, "value", _EVENTS_SCHEMA, mode="strict")
    return typed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("decoded.k")).alias("sum_k"),
        F.countDistinct("decoded.k").alias("n_distinct_k"),
    )


@query(
    "q_source_formats",
    oracle="""
SELECT 'csv' AS fmt, COUNT(*) AS n_rows,
       CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS BIGINT) AS sum_chars
FROM documents
UNION ALL
SELECT 'json', COUNT(*),
       CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS BIGINT)
FROM documents
UNION ALL
SELECT 'orc', COUNT(*),
       CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS BIGINT)
FROM documents
UNION ALL
SELECT 'xml', COUNT(*),
       CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS BIGINT)
FROM documents
ORDER BY fmt
""",
    group="sources",
)
def q_source_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV, JSON, ORC and XML (Spark 4 native) datasource round-trips:
    documents → write each format → read back with explicit schemas
    (inference would be an extra full pass at scale) → identical
    aggregates per format."""
    from ..sources import registry as R

    prepare(spark)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    base = fresh_dir("anglerfish_fmt_")
    R.write(d, "csv", f"{base}/csv", mode="overwrite", header="true")
    R.write(d, "json", f"{base}/json", mode="overwrite")
    R.write(d, "orc", f"{base}/orc", mode="overwrite")
    R.write(d, "xml", f"{base}/xml", mode="overwrite", rowTag="doc")
    schema = "doc_id BIGINT, lang STRING, n_chars BIGINT"
    back_csv = R.read(spark, "csv", f"{base}/csv", schema=schema, header="true")
    back_json = R.read(spark, "json", f"{base}/json", schema=schema)
    back_orc = R.read(spark, "orc", f"{base}/orc", schema=schema)
    back_xml = R.read(spark, "xml", f"{base}/xml", schema=schema, rowTag="doc")
    agg = lambda df, tag: df.agg(  # noqa: E731
        F.lit(tag).alias("fmt"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("n_chars").cast("decimal(38,0)")).cast("bigint").alias("sum_chars"),
    ).select("fmt", "n_rows", "sum_chars")
    return (
        agg(back_csv, "csv")
        .unionAll(agg(back_json, "json"))
        .unionAll(agg(back_orc, "orc"))
        .unionAll(agg(back_xml, "xml"))
        .orderBy("fmt")
    )


@query(
    "json_decode_python",
    oracle="""
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events ORDER BY event_id
""",
    group="codec",
)
def json_decode_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same decode as json_decode_strict through the Arrow-batched
    pydecode path (mapInPandas) — the full-fidelity fallback for schemas
    whose strictness exceeds what expressions can see; must produce
    identical results to the expression fast path."""
    from .decoder import decode_json_python

    prepare(spark)
    ev = load_table(spark, sf_dir, "events", fanout=True)
    return (
        decode_json_python(ev, "props", _EVENTS_SCHEMA, mode="strict")
        .select("event_id", F.col("decoded.k").alias("k"))
    )


# ---------------------------------------------------------------------------
# recursive schema decode (reference's flagship e2e test, F1 linked list)
# ---------------------------------------------------------------------------

_LINKED_LIST_SCHEMA = """
{"name": "foo", "type": "record", "fields": [
  {"name": "value", "type": "int"},
  {"name": "tail", "type": ["null", "foo"], "default": null}
]}
"""

_LL_ROWS = [
    (1, '{"value": 1, "tail": {"foo": {"value": 2, "tail": {"foo": {"value": 3}}}}}'),
    (2, '{"value": 10}'),
    (3, '{"value": 7, "tail": null}'),
]


@query(
    "json_decode_recursive",
    oracle="""
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), 1, 2, 3, 3),
  (2, 10, NULL, NULL, 1),
  (3, 7, NULL, NULL, 1)
) AS t(id, v0, v1, v2, depth)
ORDER BY id
""",
    group="codec",
)
def json_decode_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive linked-list decode — the reference's only real e2e test
    (TestSchemaSanityCheck.scala:21-83: recursive schema, union-branch
    tagged objects, defaulted tail) as a driver-gated query.  Catalyst has
    no recursive types, so the schema unrolls to the depth bound; the query
    surfaces the first three values and the list depth."""
    prepare(spark)
    # single partition: one copy of the generated code, and the 3-row
    # table rides the Arrow local-table path (SCALE.md #24) — no
    # Python-worker round-trips
    df = local_df(spark, _LL_ROWS, ["id", "j"], single_partition=True)
    # the depth unroll is LINEAR in plan size since the r6 nullif/With
    # fix (SCALE.md #23: ~1.5k plan chars and ~0.1 s analyze+codegen per
    # extra level, measured to depth 8) — depth 8 here demonstrates it;
    # unboundedly deep DATA still belongs to decode_json_python
    # (pydecode is O(depth) per row), the documented Catalyst trade-off
    # for AvroRecursionType (SURVEY §2.1).
    out = decode_json(df, "j", _LINKED_LIST_SCHEMA, mode="strict", max_depth=8)
    v0 = F.col("decoded.value")
    v1 = F.col("decoded.tail.value")
    v2 = F.col("decoded.tail.tail.value")
    depth = (
        F.lit(1)
        + F.when(F.col("decoded.tail").isNotNull(), 1).otherwise(0)
        + F.when(F.col("decoded.tail.tail").isNotNull(), 1).otherwise(0)
    )
    return out.select(
        "id", v0.alias("v0"), v1.alias("v1"), v2.alias("v2"), depth.alias("depth")
    ).orderBy("id")


_READER_SCHEMA = """
{"type":"record","name":"props","fields":[
  {"name":"knum","type":"double","aliases":["k"]},
  {"name":"tag","type":"string","default":"none"}
]}
"""


@query(
    "json_decode_evolved",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS DOUBLE) AS knum,
       'none' AS tag
FROM events ORDER BY event_id
""",
    group="codec",
)
def json_decode_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution end-to-end: decode with the writer schema
    ({k: long}), resolve into a reader schema that renames via alias
    (k -> knum), promotes long -> double, and fills a defaulted field —
    one parse plus a pure column projection (codec/evolve.py)."""
    from .evolve import decode_json_evolved

    prepare(spark)
    ev = load_table(spark, sf_dir, "events", fanout=True)
    return decode_json_evolved(ev, "props", _EVENTS_SCHEMA, _READER_SCHEMA, mode="strict").select(
        "event_id", F.col("decoded.knum").alias("knum"), F.col("decoded.tag").alias("tag")
    )


# ---------------------------------------------------------------------------
# logical types (beyond-reference surface — AvroData.scala:17 TODO)
# ---------------------------------------------------------------------------

_LOGICAL_SCHEMA = """
{"type":"record","name":"o","fields":[
  {"name":"ts","type":{"type":"long","logicalType":"local-timestamp-micros"}},
  {"name":"d","type":{"type":"int","logicalType":"date"}},
  {"name":"amt","type":{"type":"bytes","logicalType":"decimal","precision":12,"scale":2}}
]}
"""

_AMT_CASES = ["1234.56", "-0.07", "0.00", "-9999999999.99"]


def _amt_b64(txt: str) -> str:
    import base64
    from decimal import Decimal

    unscaled = int(Decimal(txt).scaleb(2))
    length = max(1, (unscaled.bit_length() + 8) // 8)
    return base64.b64encode(unscaled.to_bytes(length, "big", signed=True)).decode()


@query(
    "json_decode_logical",
    oracle="""
SELECT o_orderkey,
       o_orderdate AS ts,
       CAST(o_orderdate AS DATE) AS d,
       CAST(CASE CAST(o_orderkey % 4 AS INT)
         WHEN 0 THEN CAST('1234.56' AS DECIMAL(12,2))
         WHEN 1 THEN CAST('-0.07' AS DECIMAL(12,2))
         WHEN 2 THEN CAST('0.00' AS DECIMAL(12,2))
         ELSE CAST('-9999999999.99' AS DECIMAL(12,2)) END AS VARCHAR) AS amt
FROM orders WHERE o_orderkey % 17 = 0 AND o_orderdate IS NOT NULL
ORDER BY o_orderkey
""",
    group="codec",
)
def json_decode_logical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro logical types decoded to native Catalyst types (beyond-reference
    surface; the reference leaves logical types as a TODO, AvroData.scala:17).

    Carrier values are emitted as Avro-JSON (micros/days/two's-complement
    base64 bytes) and strict-decoded against a logical-annotated schema:
    ``local-timestamp-micros`` → TIMESTAMP_NTZ, ``date`` → DATE,
    ``decimal(12,2)`` on bytes → DECIMAL(12,2) — all in whole-stage
    codegen (codec/logical.py), validated against the original columns."""
    prepare(spark)
    # CPU-dense decode (decimal hex fold) over a one-row-group stand-in:
    # fan out so the map stage uses the cores (see load_table docstring)
    o = load_table(spark, sf_dir, "orders", fanout=True).where(
        ((F.col("o_orderkey") % 17) == 0) & F.col("o_orderdate").isNotNull()
    )
    amt = F.element_at(
        F.array(*[F.lit(_amt_b64(t)) for t in _AMT_CASES]),
        (F.col("o_orderkey") % 4).cast("int") + 1,
    )
    txt = F.to_json(
        F.struct(
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("ts"),
            F.unix_date(F.col("o_orderdate").cast("date")).alias("d"),
            amt.alias("amt"),
        )
    )
    decoded = decode_json(o.select("o_orderkey", txt.alias("txt")), "txt", _LOGICAL_SCHEMA)
    # amt stays DECIMAL(12,2) through the decode (that's the operator under
    # test); the projection stringifies it because DECIMAL exports through
    # DuckDB/Arrow as decimal128, which the driver hashes differently than
    # Spark's DECIMAL — VARCHAR is exact and hash-stable in both engines.
    return decoded.select(
        "o_orderkey",
        F.col("decoded.ts").alias("ts"),
        F.col("decoded.d").alias("d"),
        F.col("decoded.amt").cast("string").alias("amt"),
    ).orderBy("o_orderkey")


@query(
    "avro_ocf_typed",
    oracle="""
SELECT o_orderkey,
       o_orderdate AS ts,
       o_orderstatus AS status,
       CAST(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) * 0.01 AS DECIMAL(14,2)) AS VARCHAR) AS amt
FROM orders WHERE o_orderkey % 13 = 0
ORDER BY o_orderkey
""",
    group="sources",
)
def avro_ocf_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed OCF round-trip with logical types: a typed orders slice
    (TIMESTAMP_NTZ, DECIMAL) → writer schema derived via ``from_struct_type``
    (temporal/decimal columns become spec logical types on their carriers)
    → OCF files encoded straight from Arrow batches → distributed read
    lifted back to native Catalyst types.  The ``df.write.format("avro")``
    equivalent without the spark-avro connector, exercising logical types
    at the file-format level (beyond-reference — AvroData.scala:17 TODO)."""
    from ..sources.avro_ocf import read_avro_ocf_typed, write_avro_ocf_typed

    prepare(spark)
    # fanout: a single-row-group orders slice would write ONE OCF file and
    # the read+decode (the CPU-dense stage under test) would run on one
    # core — measured 19 s; fanned out it writes one file per partition
    # and the decode parallelizes (~2 s).  Real tables have many row
    # groups, so the size gate keeps this a stand-in-only concern.
    o = (
        load_table(spark, sf_dir, "orders", fanout=True)
        .where((F.col("o_orderkey") % 13) == 0)
        .select(
            "o_orderkey",
            F.col("o_orderdate").alias("ts"),
            F.col("o_orderstatus").alias("status"),
            (
                F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("decimal(14,0)")
                / 100
            )
            .cast("decimal(14,2)")
            .alias("amt"),
        )
    )
    out_dir = fresh_dir("anglerfish_ocf_typed_")
    schema_json = write_avro_ocf_typed(o, out_dir)
    back = read_avro_ocf_typed(spark, out_dir, schema_json)
    # amt round-trips as DECIMAL (the logical type under test); project it
    # as VARCHAR for the driver hash — decimal128 hashes differently via
    # DuckDB/Arrow than Spark DECIMAL (see operators/common.py).
    return back.select(
        "o_orderkey", "ts", "status", F.col("amt").cast("string").alias("amt")
    ).orderBy("o_orderkey")


@query(
    "avro_ocf_native_interop",
    oracle="""
SELECT d.dir, o_orderkey AS okey, o_orderstatus AS status,
       CAST(o_totalprice AS DOUBLE) AS price
FROM orders
CROSS JOIN (SELECT 'engine_to_native' AS dir
            UNION ALL SELECT 'native_to_engine' AS dir) d
WHERE o_orderkey % 37 = 0
ORDER BY d.dir, okey
""",
    group="sources",
)
def avro_ocf_native_interop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-implementation OCF differential at the *file* level: the same
    orders slice travels engine-writer → JVM-native reader AND JVM-native
    writer (deflate codec) → engine reader, and both directions must equal
    the raw table.  The JVM side is Spark's own Avro file format — since
    Spark 4 its implementation classes ship inside spark-sql but are not
    service-registered, so it is reachable only by FQCN
    (``sources.registry.avro_format_provider``); the engine side is the
    pure-Python OCF datasource.  This puts the engine's container framing,
    writer-schema derivation, deflate block decompression, and
    nullable-union value mapping under a second, independent
    implementation — the file-level analogue of the byte-level
    org.apache.avro differential (tests/test_avro_binary.py).  Where no
    JVM Avro classes exist at all, both directions degrade to
    engine→engine (documented, still a valid round-trip against the
    oracle)."""
    from ..sources.avro_ocf import read_avro_ocf_typed, write_avro_ocf_typed
    from ..sources.ocf_datasource import FORMAT_NAME, register
    from ..sources.registry import avro_format_provider

    prepare(spark)
    register(spark)
    provider = avro_format_provider(spark)
    o = (
        load_table(spark, sf_dir, "orders")
        .where((F.col("o_orderkey") % 37) == 0)
        .select(
            F.col("o_orderkey").alias("okey"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").cast("double").alias("price"),
        )
    )
    base = fresh_dir("anglerfish_native_interop_")

    # engine writer → native reader
    schema_json = write_avro_ocf_typed(o, f"{base}/en")
    if provider is not None:
        a = spark.read.format(provider).load(f"{base}/en")
    else:
        a = read_avro_ocf_typed(spark, f"{base}/en", schema_json)
    a = a.select(F.lit("engine_to_native").alias("dir"), "okey", "status", "price")

    # native writer (deflate blocks) → engine reader
    if provider is not None:
        o.write.format(provider).option("compression", "deflate").save(f"{base}/ne")
    else:
        write_avro_ocf_typed(o, f"{base}/ne")
    b = (
        spark.read.format(FORMAT_NAME)
        .load(f"{base}/ne")
        .select(F.lit("native_to_engine").alias("dir"), "okey", "status", "price")
    )
    return a.unionByName(b).orderBy("dir", "okey")


# ---------------------------------------------------------------------------
# in-memory generic-object interop (I4/I5 bridge — codec/interop.py)
# ---------------------------------------------------------------------------

_INTEROP_SCHEMA = """
{"type":"record","name":"OrderObj","fields":[
  {"name":"okey","type":"long"},
  {"name":"status","type":"string"},
  {"name":"payload","type":["null","int","string"]},
  {"name":"price","type":"double"}
]}
"""


@query(
    "avro_object_interop",
    oracle="""
SELECT o_orderkey AS okey,
       o_orderstatus AS status,
       CASE WHEN o_orderkey % 2 = 0 THEN CAST(o_orderkey % 1000 AS INT) END AS payload_int,
       CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS payload_str,
       CAST(o_totalprice AS DOUBLE) AS price
FROM orders WHERE o_orderkey % 101 = 0
ORDER BY okey
""",
    group="codec",
)
def avro_object_interop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4/I5 bridge: plain in-memory generic objects (runtime-typed union
    branches) → typed DataFrame → back to objects → DataFrame again.

    The double round-trip asserts the reference's intended congruence
    property (decode∘encode = id, TestJavaImplementationCongruence.scala:16-25
    — commented out there, enforced here): union branches are recovered
    purely from runtime types (int vs str → member_int/member_string,
    I4 reverse-match, AvroGenericInteropFAlgebras.scala:228-286).  The
    objects are driver-side by design — this is the reference's in-memory
    interop surface (metadata-scale); bulk data takes the OCF paths."""
    from .interop import dataframe_to_objects, objects_to_dataframe

    prepare(spark)
    slice_rows = (
        load_table(spark, sf_dir, "orders")
        .where((F.col("o_orderkey") % 101) == 0)
        .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
        .collect()
    )
    objs = [
        {
            "okey": r.o_orderkey,
            "status": r.o_orderstatus,
            "payload": int(r.o_orderkey % 1000)
            if r.o_orderkey % 2 == 0
            else r.o_orderpriority,
            "price": float(r.o_totalprice),
        }
        for r in slice_rows
    ]
    df = objects_to_dataframe(spark, objs, _INTEROP_SCHEMA)
    back = dataframe_to_objects(df, _INTEROP_SCHEMA)  # I5: untagged objects
    df2 = objects_to_dataframe(spark, back, _INTEROP_SCHEMA)
    return df2.select(
        "okey",
        "status",
        F.col("payload.member_int").alias("payload_int"),
        F.col("payload.member_string").alias("payload_str"),
        "price",
    ).orderBy("okey")
