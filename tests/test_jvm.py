"""The Java UDF build helper (``anglerfish_spark/jvm``): where the jar
lives, that a SparkContext adds it once, how a source Janino rejects
fails, and that no other module adds jars."""

from __future__ import annotations

import ast
import os
import pathlib
import re

import pytest

from anglerfish_spark import jvm, memo
from anglerfish_spark.codec.decoder import decode_json

_SCHEMA = '{"type":"record","name":"J%d","fields":[{"name":"k","type":"long"}]}'


def _jars(spark) -> list[str]:
    jars = spark.sparkContext._jsc.sc().listJars()  # a Scala Seq
    return [jars.apply(i) for i in range(jars.size())]


def test_jar_lives_under_the_process_root(spark):
    df = spark.createDataFrame([('{"k": 1}',)], "j string")
    assert decode_json(df, "j", _SCHEMA % 1).collect()[0]["decoded"]["k"] == 1
    loader = spark._jsparkSession.sharedState().jarClassLoader()
    ours = [u.getPath() for u in loader.getURLs() if u.getPath().endswith("anglerfish-jvm.jar")]
    assert len(ours) == 1
    root = os.path.dirname(memo.fresh_dir("anglerfish_probe_"))
    assert ours[0].startswith(root + os.sep), (ours, root)


def test_second_decoder_adds_no_jar(spark):
    df = spark.createDataFrame([('{"k": 1}',)], "j string")
    decode_json(df, "j", _SCHEMA % 2).collect()
    before = _jars(spark)
    decode_json(df, "j", _SCHEMA % 3).collect()  # a new UDF, same context
    assert _jars(spark) == before
    assert sum(j.endswith("anglerfish-jvm.jar") for j in before) == 1


def test_rejected_source_names_file_and_line(spark):
    source = "package anglerfish.jvm;\n\nclass Broken {\n    int x = ;\n}\n"
    with pytest.raises(RuntimeError, match=r"File 'Broken\.java', Line 4, Column \d+"):
        jvm.compile_sources(spark, {"Broken.java": source})


def test_only_jvm_package_adds_jars():
    """No module under ``anglerfish_spark/`` outside ``jvm/`` issues
    ``ADD JAR``, calls ``addJar`` or touches ``jarClassLoader``: the jar,
    its lifetime and its class loader have one owner."""
    root = pathlib.Path(__file__).resolve().parent.parent / "anglerfish_spark"
    bad = []
    for path in sorted(root.rglob("*.py")):
        if path.parent == root / "jvm":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr in ("addJar", "jarClassLoader"):
                bad.append(f"{path.relative_to(root)}:{node.lineno} {node.attr}")
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "add jar" in " ".join(node.value.lower().split())
            ):
                bad.append(f"{path.relative_to(root)}:{node.lineno} ADD JAR")
    assert bad == []


# ---------------------------------------------------------------------------
# typed binary decode: the JVM walker against the Python codec's typed path
# ---------------------------------------------------------------------------


def _binary_corpus() -> list[tuple[str, list[bytes]]]:
    """(schema JSON, Avro binary bodies) over the schemas of
    ``test_fuzz_schemas`` and ``test_fuzz_logical``: every datum of their
    seeded corpora that pydecode accepts, encoded with ``BinaryCodec``."""
    from anglerfish_spark.codec.pydecode import decode_datum
    from anglerfish_spark.errors import DatumError
    from anglerfish_spark.functions.avro_binary import BinaryCodec
    from anglerfish_spark.schema import parse_schema

    from . import test_fuzz_logical, test_fuzz_schemas

    schemas = test_fuzz_schemas.corpus()
    schemas += [(s, [("valid", d)]) for s, d, _ in test_fuzz_logical.corpus()]
    out = []
    for schema_json, datums in schemas:
        ps = parse_schema(schema_json)
        codec = BinaryCodec(ps)
        bodies = []
        for _, d in datums:
            try:
                bodies.append(codec.encode(decode_datum(ps.root, d, ps.env)))
            except DatumError:
                continue
        out.append((schema_json, bodies))
    return out


def _python_typed(framing: str, schema_json: str):
    """The Python codec's typed decoder of one framing (a pandas UDF)."""
    from functools import partial

    from anglerfish_spark.functions import avro_binary as ab

    if framing == "raw":
        return ab._decode_udf(ab._unframe_raw, partial(ab._ReaderLookup, schema_json), schema_json, typed=True)
    reader = ab._single_object_reader(schema_json)
    return ab._decode_udf(ab._unframe_single_object, reader, schema_json, typed=True)


def _python_values(schema_json: str, frames: list[bytes]) -> list:
    """What the Python typed decoder's batch body computes per
    single-object frame, before its pandas frame: unframe, check the
    fingerprint, decode, lift to the typed shape."""
    from anglerfish_spark.functions import avro_binary as ab

    lookup = ab._single_object_reader(schema_json)()
    emit = ab._cached_semantic_view(schema_json)
    out = []
    for frame in frames:
        key, body = ab._unframe_single_object(frame)
        _, codec = lookup.get(key)
        out.append(emit(codec.decode(body)))
    return out


def _jvm_typed(framing: str, schema_json: str):
    """The JVM typed decoder of one framing: a column builder."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from anglerfish_spark.codec import decoder
    from anglerfish_spark.functions import avro_binary as ab

    if framing == "so":
        return lambda c: ab.single_object_decode_typed(c, schema_json)
    spark = SparkSession.active()
    return lambda c: decoder._call(spark, decoder.binary_decoder(spark, schema_json), F.col(c))


def _canon(v):
    """A decoded value in one comparable form: rows as dicts, bytes as
    bytes, NaN as a string, instants as naive local datetimes (as
    ``collect`` returns them)."""
    import datetime as dt
    import math

    from pyspark.sql import Row

    if isinstance(v, Row):
        v = v.asDict()
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone().replace(tzinfo=None)
    return v


def test_typed_binary_differential(spark):
    """Every corpus body decodes to the same value through the JVM walker
    (raw and single-object framing, one Spark job) and the Python typed
    path (in-process)."""
    from pyspark.sql import functions as F

    from anglerfish_spark.functions.avro_binary import _single_object_header
    from anglerfish_spark.localdata import local_df

    rows, want, cols = [], {}, []
    for k, (schema_json, bodies) in enumerate(_binary_corpus()):
        frames = [_single_object_header(schema_json) + b for b in bodies]
        for i, v in enumerate(_python_values(schema_json, frames)):
            want[k, i] = _canon(v)
        rows += [(k, i, bytearray(b), bytearray(f)) for i, (b, f) in enumerate(zip(bodies, frames))]
        # a JVM UDF under CASE WHEN runs only on its own schema's rows
        cols += [F.when(F.col("k") == k, _jvm_typed(f, schema_json)(f)).alias(f"{f}{k}") for f in ("raw", "so")]
    df = local_df(spark, rows, "k int, i int, raw binary, so binary", single_partition=True)
    got = {}
    for r in df.select("k", "i", *cols).collect():
        k = r["k"]
        assert r[f"raw{k}"] == r[f"so{k}"]
        got[k, r["i"]] = _canon(r[f"so{k}"])
    assert len(got) == len(want) > 100
    bad = [(key, got[key], want[key]) for key in want if got[key] != want[key]]
    assert bad == [], f"{len(bad)} of {len(want)} rows differ; first: {bad[:2]}"


_ENUM = '{"type":"record","name":"E","fields":[{"name":"e","type":{"type":"enum","name":"Suit","symbols":["A","B"]}}]}'
_LONG = '{"type":"record","name":"L","fields":[{"name":"n","type":"long"}]}'
_ONE = '{"type":"record","name":"One","fields":[{"name":"v","type":"%s"}]}'


def test_typed_binary_error_texts(spark):
    """Bad frames fail the JVM decoders with the Python codec's
    ``DatumError`` text: the raw framing over ``TestPublicDecoderSurface``'s
    bad frames (its single-object ones read as bodies; that class checks
    the single-object framing against the same texts), an out-of-range
    enum index, an over-long varint, double, float and boolean reads past
    the end, and invalid UTF-8 in a string."""
    import pandas as pd

    from anglerfish_spark.errors import DatumError
    from anglerfish_spark.functions.avro_binary import _single_object_header

    from .test_avro_binary import _PIN, _jvm_error, _pin_frames, _udf_body

    _, bad = _pin_frames()
    cases = [("raw", _PIN, case, frame) for case, frame in {**bad["so"], **bad["raw"]}.items()]
    cases += [("raw", _ENUM, "enum", b"\x04"), ("so", _LONG, "varint", _single_object_header(_LONG) + b"\xff" * 11)]
    cases += [
        ("raw", _ONE % "double", "short_double", b"\x00\x00"),
        ("raw", _ONE % "float", "short_float", b"\x00"),
        ("raw", _ONE % "boolean", "short_boolean", b""),
        ("raw", _ONE % "string", "bad_utf8", b"\x02\xff"),
    ]
    got, want = {}, {}
    for framing, schema_json, case, frame in cases:
        with pytest.raises(DatumError) as ei:
            _udf_body(lambda c: _python_typed(framing, schema_json)(c))(pd.Series([frame]))
        want[case] = f"{type(ei.value).__name__}: {ei.value}"
        got[case] = _jvm_error(spark, _jvm_typed(framing, schema_json), frame)
    assert got == want
    assert len(got) == 12


def test_typed_binary_too_deep_is_pydecode_error(spark, tmp_path):
    """A datum nested past the decode depth fails with pydecode's text for
    the same datum: in the JVM reader, the registry typed decoder and the
    ``avro_ocf`` connector (the last two lift through the compiled view)."""
    from anglerfish_spark.codec.pydecode import decode_datum
    from anglerfish_spark.errors import UnrepresentableError
    from anglerfish_spark.functions.avro_binary import (
        BinaryCodec,
        _single_object_header,
        single_object_decode_registry_typed,
    )
    from anglerfish_spark.schema import parse_schema
    from anglerfish_spark.sources.avro_ocf import encode_ocf
    from anglerfish_spark.sources.ocf_datasource import FORMAT_NAME, register

    from .test_avro_binary import _jvm_error
    from .test_schema import F1_LINKED_LIST

    ps = parse_schema(F1_LINKED_LIST)
    value, datum = None, None
    for i in range(11):  # one more record than max_depth=10 keeps
        value = {"value": i, "tail": value}
        datum = {"value": i, "tail": None if datum is None else {"foo": datum}}
    with pytest.raises(UnrepresentableError) as ei:
        decode_datum(ps.root, datum, ps.env)
    text = f"UnrepresentableError: {ei.value}"
    body = BinaryCodec(ps).encode(value)
    assert _jvm_error(spark, _jvm_typed("raw", F1_LINKED_LIST), body) == text

    frame = _single_object_header(F1_LINKED_LIST) + body
    df = spark.createDataFrame([(bytearray(frame),)], "m binary")
    with pytest.raises(Exception, match=re.escape(text)):
        df.select(single_object_decode_registry_typed("m", [F1_LINKED_LIST], F1_LINKED_LIST)).collect()

    (tmp_path / "part-0.avro").write_bytes(encode_ocf([value], F1_LINKED_LIST))
    register(spark)
    with pytest.raises(Exception, match=re.escape(text)):
        spark.read.format(FORMAT_NAME).load(str(tmp_path)).collect()
