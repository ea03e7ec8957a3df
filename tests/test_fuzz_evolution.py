"""Random schema-evolution fuzzer.

Round 5's enum-widening bug (both resolve paths required full schema
equality for enums) was found by *differential* testing of the compat
checker against the evolve layer on a hand-built pair list.  This file
generates the pairs: random writer schemas (reusing the random-schema
generator), random *legal* evolution step sequences (add-with-default,
drop field, primitive promotion, rename-with-alias, enum widening,
nullable wrap, union widening) and random *illegal* ones (add without
default, enum shrink, fixed resize, incompatible type change, union null
drop), then checks:

1. ``can_read`` verdicts match the construction (legal -> compatible,
   illegal -> incompatible);
2. ``can_read`` agrees with ``evolve_struct`` (predicate vs constructor)
   on every generated pair — the invariant the r5 differential pinned,
   now under random composition;
3. value agreement on compatible pairs: every writer-valid datum decodes
   under the writer and resolves into the reader identically on the
   value path (``resolve_datum``) and the expression path
   (``decode_json_evolved``), including default fill, alias matching,
   promotions, and union re-tagging.

Seeded; a failure reproduces exactly.
"""

from __future__ import annotations

import copy
import json
import os
import random

import pytest
from pyspark.sql import functions as F

from anglerfish_spark import errors as E
from anglerfish_spark.codec.decoder import decode_json
from anglerfish_spark.codec.evolve import decode_json_evolved, resolve_datum
from anglerfish_spark.codec.pydecode import decode_datum
from anglerfish_spark.errors import SchemaEvolutionError
from anglerfish_spark.schema import parse_schema
from anglerfish_spark.sources.schema_registry import can_read
from tests.test_fuzz_schemas import SchemaGen, _norm, gen_datum

#: rotate with ANGLERFISH_FUZZ_SEED (offset so the two files never share
#: a generator stream even under rotation)
SEED = int(os.environ.get("ANGLERFISH_FUZZ_SEED", "0")) + 5150
N_WRITERS = 15
DATUMS_PER_PAIR = 5

_PROMOTIONS = {
    # float targets excluded: collect() returns float32-rounded values the
    # float64 value path can't reproduce bit-for-bit (documented envelope)
    "int": ["long", "double"],
    "long": ["double"],
    "float": ["double"],
    "string": ["bytes"],
}

_fresh = [0]


def _name(p: str) -> str:
    _fresh[0] += 1
    return f"{p}{_fresh[0]}"


def _nodes(t, out: list) -> None:
    """Collect mutable schema nodes: records, enums, fixeds, unions."""
    if isinstance(t, list):
        out.append(("union", t))
        for m in t:
            _nodes(m, out)
    elif isinstance(t, dict):
        k = t["type"]
        if k == "record":
            out.append(("record", t))
            for f in t["fields"]:
                _nodes(f["type"], out)
        elif k == "enum":
            out.append(("enum", t))
        elif k == "fixed":
            out.append(("fixed", t))
        elif k == "array":
            _nodes(t["items"], out)
        elif k == "map":
            _nodes(t["values"], out)


def _pick(rng, reader, kinds):
    collected: list = []
    _nodes(reader, collected)
    cands = [n for k, n in collected if k in kinds]
    return rng.choice(cands) if cands else None


# -- legal steps ------------------------------------------------------------


def _step_add_default(rng, reader):
    rec = _pick(rng, reader, {"record"})
    rec["fields"].append({"name": _name("nf"), "type": "long", "default": 11})
    return True


def _step_drop_field(rng, reader):
    rec = _pick(rng, reader, {"record"})
    if len(rec["fields"]) < 2:
        return False
    rec["fields"].pop(rng.randrange(len(rec["fields"])))
    return True


def _step_promote(rng, reader):
    collected: list = []
    _nodes(reader, collected)
    fields = [
        f
        for k, n in collected
        if k == "record"
        for f in n["fields"]
        # defaulted fields excluded: a field an earlier step ADDED with a
        # default would lose reader-side compatibility if the default were
        # dropped, and a promoted type makes the old default ill-typed
        if isinstance(f["type"], str) and f["type"] in _PROMOTIONS and "default" not in f
    ]
    if not fields:
        return False
    f = rng.choice(fields)
    f["type"] = rng.choice(_PROMOTIONS[f["type"]])
    return True


def _step_rename_alias(rng, reader):
    rec = _pick(rng, reader, {"record"})
    f = rng.choice(rec["fields"])
    old = f["name"]
    f["name"] = _name("rn")
    f.setdefault("aliases", []).append(old)
    return True


def _step_widen_enum(rng, reader):
    en = _pick(rng, reader, {"enum"})
    if en is None:
        return False
    en["symbols"] = list(en["symbols"]) + [_name("SW")]
    return True


def _step_wrap_nullable(rng, reader):
    collected: list = []
    _nodes(reader, collected)
    fields = [
        f
        for k, n in collected
        if k == "record"
        for f in n["fields"]
        # defaulted fields excluded (same reason as _step_promote)
        if not isinstance(f["type"], list) and "default" not in f
    ]
    if not fields:
        return False
    f = rng.choice(fields)
    f["type"] = ["null", f["type"]]
    return True


def _step_widen_union(rng, reader):
    u = _pick(rng, reader, {"union"})
    if u is None or "boolean" in u:
        return False
    u.append("boolean")
    return True


_LEGAL = [
    _step_add_default,
    _step_drop_field,
    _step_promote,
    _step_rename_alias,
    _step_widen_enum,
    _step_wrap_nullable,
    _step_widen_union,
]


# -- illegal steps ----------------------------------------------------------


def _step_add_no_default(rng, reader):
    rec = _pick(rng, reader, {"record"})
    rec["fields"].append({"name": _name("bad"), "type": "long"})
    return True


def _step_shrink_enum(rng, reader):
    en = _pick(rng, reader, {"enum"})
    if en is None or len(en["symbols"]) < 2:
        return False
    en["symbols"] = list(en["symbols"])[:-1]
    return True


def _step_resize_fixed(rng, reader):
    fx = _pick(rng, reader, {"fixed"})
    if fx is None:
        return False
    fx["size"] = fx["size"] + 1
    return True


def _step_bad_type_change(rng, reader):
    collected: list = []
    _nodes(reader, collected)
    fields = [
        f
        for k, n in collected
        if k == "record"
        for f in n["fields"]
        if isinstance(f["type"], str) and f["type"] in ("string", "boolean")
    ]
    if not fields:
        return False
    f = rng.choice(fields)
    f["type"] = "long"
    f.pop("default", None)
    return True


def _step_drop_union_null(rng, reader):
    collected: list = []
    _nodes(reader, collected)
    unions = [n for k, n in collected if k == "union" and "null" in n and len(n) > 1]
    if not unions:
        return False
    u = rng.choice(unions)
    u.remove("null")
    return True


_ILLEGAL = [
    _step_add_no_default,
    _step_shrink_enum,
    _step_resize_fixed,
    _step_bad_type_change,
    _step_drop_union_null,
]


def _evolve(rng, writer, steps, n: int):
    """Apply up to n randomly chosen steps from ``steps``; None if none
    could be applied."""
    reader = copy.deepcopy(writer)
    applied = 0
    for _ in range(12):
        if applied >= n:
            break
        if rng.choice(steps)(rng, reader):
            applied += 1
    return reader if applied else None


@pytest.fixture(scope="module")
def evolution_pairs():
    rng = random.Random(SEED)
    pairs = []  # (writer_json, reader_json, expect_legal)
    for _ in range(N_WRITERS):
        g = SchemaGen(rng)
        writer = g.record(2)
        for expect_legal, steps, n in (
            (True, _LEGAL, rng.randint(1, 3)),
            (True, _LEGAL, 1),
            (False, _ILLEGAL, 1),
            (False, _ILLEGAL, 1),
        ):
            reader = _evolve(rng, writer, steps, n)
            if reader is not None:
                pairs.append((json.dumps(writer), json.dumps(reader), expect_legal))
    return pairs


def test_can_read_matches_construction(evolution_pairs):
    bad = []
    for w, r, expect_legal in evolution_pairs:
        verdict = can_read(w, r)
        if (verdict == []) != expect_legal:
            bad.append((w, r, expect_legal, verdict[:3]))
    assert not bad, f"{len(bad)} can_read verdict surprises; first: {bad[:2]}"


def test_can_read_agrees_with_evolve_struct(spark, evolution_pairs):
    bad = []
    for w, r, _ in evolution_pairs:
        compat = can_read(w, r) == []
        try:
            from anglerfish_spark.codec.evolve import evolve_struct

            evolve_struct(F.col("c"), w, r)
            built = True
        except SchemaEvolutionError:
            built = False
        if compat != built:
            bad.append((w, r, compat, can_read(w, r)[:3]))
    assert not bad, f"{len(bad)} predicate/constructor disagreements; first: {bad[:2]}"


#: the drift cases of the engine's former rulebooks (each a full
#: (writer, reader) pair): renamed named types and logical promotions
_REC = '{"type":"record","name":"%s","fields":[{"name":"x","type":%s}]}'
DRIFT_PAIRS = [
    (_REC % ("R", '{"type":"record","name":"A","fields":[{"name":"a","type":"int"}]}'),
     _REC % ("R", '{"type":"record","name":"B","fields":[{"name":"a","type":"int"}]}')),
    (_REC % ("R", '"long"'), _REC % ("S", '"long"')),
    (_REC % ("R", '{"type":"fixed","name":"F","size":4}'),
     _REC % ("R", '{"type":"fixed","name":"G","size":4,"aliases":["F"]}')),
    (_REC % ("R", '{"type":"int","logicalType":"date"}'), _REC % ("R", '"long"')),
    (_REC % ("R", '{"type":"bytes","logicalType":"decimal","precision":40,"scale":2}'),
     _REC % ("R", '{"type":"bytes","logicalType":"decimal","precision":20,"scale":2}')),
]


def test_can_read_matches_avro_schema_compatibility(spark, evolution_pairs):
    """``can_read`` is empty exactly when Avro's own
    ``SchemaCompatibility.checkReaderWriterCompatibility`` says
    COMPATIBLE, over the random corpus plus the drift cases — the plan's
    rulebook pinned to the reference implementation (py4j calls on the
    session JVM, no Spark job)."""
    jvm = spark._jvm
    try:
        jvm.java.lang.Class.forName("org.apache.avro.SchemaCompatibility")
    except Exception:
        pytest.skip("avro-core not on classpath")

    def parse(s):
        return jvm.org.apache.avro.Schema.Parser().parse(s)

    pairs = [(w, r) for w, r, _ in evolution_pairs] + DRIFT_PAIRS
    bad = []
    for w, r in pairs:
        avro = jvm.org.apache.avro.SchemaCompatibility.checkReaderWriterCompatibility(
            parse(r), parse(w)
        ).getType().toString()
        if (can_read(w, r) == []) != (avro == "COMPATIBLE"):
            bad.append((w, r, avro, can_read(w, r)[:3]))
    assert len(pairs) == len(evolution_pairs) + 5
    assert not bad, f"{len(bad)} of {len(pairs)} verdicts differ from Avro; first: {bad[:2]}"


def test_value_and_expression_paths_agree(spark, evolution_pairs):
    rng = random.Random(SEED + 1)
    mismatches = []
    for w, r, expect_legal in evolution_pairs:
        if not expect_legal or can_read(w, r) != []:
            continue
        wps, rps = parse_schema(w), parse_schema(r)
        wdict = json.loads(w)
        datums = [gen_datum(wdict, rng) for _ in range(DATUMS_PER_PAIR)]
        want = []
        for d in datums:
            v = decode_datum(wps.root, d, wps.env)
            want.append(resolve_datum(v, wps.root, rps.root, rps.env, wps.env))
        texts = [json.dumps(d) for d in datums]
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "j"])
        rows = {
            row["i"]: row
            for row in decode_json_evolved(df, "j", wps, rps, mode="permissive")
            .select("i", "decoded", "_errors")
            .collect()
        }
        for i, d in enumerate(datums):
            if rows[i]["_errors"]:
                mismatches.append((w, r, d, "expr_rejected", list(rows[i]["_errors"])[:3]))
                continue
            got = _norm(rows[i]["decoded"].asDict(recursive=True))
            if got != _norm(want[i]):
                mismatches.append((w, r, d, "value", (got, _norm(want[i]))))
    assert not mismatches, (
        f"{len(mismatches)} evolved-value mismatches; first: {mismatches[:2]}"
    )


def test_jvm_resolution_agrees_on_compatible_pairs(spark, evolution_pairs, tmp_path):
    """Third-implementation check: for every compatible random pair, the
    JVM ``org.apache.avro`` resolver (GenericDatumReader with an expected
    reader schema) re-encodes engine-written data under the reader, and
    the engine's decode of THAT must equal ``resolve_datum`` — aliases,
    promotions, default fill, and union re-tagging all cross-validated
    against the reference implementation at the byte level."""
    import os

    from anglerfish_spark.sources.avro_ocf import decode_ocf, encode_ocf

    jvm = spark._jvm
    try:
        jvm.java.lang.Class.forName("org.apache.avro.file.DataFileReader")
    except Exception:
        pytest.skip("avro-core not on classpath")

    rng = random.Random(SEED + 2)
    mismatches = []
    checked = 0
    for k, (w, r, expect_legal) in enumerate(evolution_pairs):
        if not expect_legal or can_read(w, r) != []:
            continue
        wps, rps = parse_schema(w), parse_schema(r)
        wdict = json.loads(w)
        datums = [gen_datum(wdict, rng) for _ in range(3)]
        vals = [decode_datum(wps.root, d, wps.env) for d in datums]
        want = [
            _norm(resolve_datum(v, wps.root, rps.root, rps.env, wps.env)) for v in vals
        ]
        src = str(tmp_path / f"w{k}.avro")
        out = str(tmp_path / f"r{k}.avro")
        with open(src, "wb") as f:
            f.write(encode_ocf(vals, w))
        try:
            gdr = jvm.org.apache.avro.generic.GenericDatumReader()
            dfr = jvm.org.apache.avro.file.DataFileReader(jvm.java.io.File(src), gdr)
            rschema = jvm.org.apache.avro.Schema.Parser().parse(r)
            gdr.setExpected(rschema)
            gdw = jvm.org.apache.avro.generic.GenericDatumWriter(rschema)
            dfw = jvm.org.apache.avro.file.DataFileWriter(gdw)
            dfw.create(rschema, jvm.java.io.File(out))
            while dfr.hasNext():
                dfw.append(dfr.next())
            dfw.close()
            dfr.close()
        except Exception as ex:  # JVM refused a pair can_read accepted
            mismatches.append((w, r, "jvm_rejected", str(ex)[:200]))
            continue
        got = [_norm(v) for v in decode_ocf(open(out, "rb").read())]
        checked += len(got)
        if got != want:
            diffs = [(g, x) for g, x in zip(got, want) if g != x][:2]
            mismatches.append((w, r, "value", diffs))
    assert checked > 0
    assert not mismatches, (
        f"{len(mismatches)} JVM-resolution disagreements; first 2: {mismatches[:2]}"
    )


def test_union_best_branch_prefers_exact_match(spark):
    """Regression pin for the JVM-differential find (seed 2002): a writer
    ``long`` resolving into reader union ``["double", R, "long"]`` must
    select the EXACT ``long`` branch, not promote into the
    first-readable ``double`` — GenericDatumReader's two-pass bestBranch
    (exact getIndexNamed lookup before the promotion scan).  Checked on
    the value path and the expression path."""
    w = json.dumps(
        {
            "type": "record",
            "name": "R8",
            "fields": [
                {
                    "name": "f7",
                    "type": [
                        "double",
                        {
                            "type": "record",
                            "name": "R6",
                            "fields": [{"name": "f4", "type": "bytes"}],
                        },
                        "long",
                    ],
                }
            ],
        }
    )
    # reader widens R6.f4 to nullable — unions otherwise identical
    r = w.replace('{"name": "f4", "type": "bytes"}', '{"name": "f4", "type": ["null", "bytes"]}')
    wps, rps = parse_schema(w), parse_schema(r)
    datum = {"f7": {"long": 853021215777}}
    v = decode_datum(wps.root, datum, wps.env)
    resolved = resolve_datum(v, wps.root, rps.root, rps.env, wps.env)
    assert resolved["f7"]["member_long"] == 853021215777
    assert resolved["f7"]["member_double"] is None

    df = spark.createDataFrame([(json.dumps(datum),)], ["j"])
    row = decode_json_evolved(df, "j", wps, rps, mode="strict").select("decoded").first()
    got = row["decoded"].asDict(recursive=True)
    assert got["f7"]["member_long"] == 853021215777
    assert got["f7"]["member_double"] is None
