"""Random-schema differential fuzzer for the codec core.

The existing differential tests (test_differential.py) pin FIXED schemas;
this file generates random Avro schemas — nested records, arrays, maps,
multi-member unions (incl. the literal "array"/"map" branch keys of
selectUnionMemberByName, AvroJsonFAlgebras.scala:554-555), enums, fixed,
defaults — plus conforming datums and schema-directed corruptions, and
checks three independent implementations against each other:

1. expression decoder (``codec.decoder.decode_json``, permissive) vs
2. pure-Python ground truth (``codec.pydecode.decode_datum``):
   same accept/reject verdict on every datum, same decoded value on every
   accepted datum;
3. Avro binary codec (``functions.avro_binary.BinaryCodec``): for every
   accepted datum, ``decode(encode(v)) == v`` (wire round-trip identity).

Everything is seeded — a failure reproduces exactly.  Generation stays
inside the engines' documented agreement envelope (doubles serialized with
a decimal point; no JSON numbers at string/bytes positions, where the wire
parse coerces by design — see codec/decoder.py module docstring).
"""

from __future__ import annotations

import base64
import copy
import json
import os
import random

import pytest

from anglerfish_spark import errors as E
from anglerfish_spark.codec.decoder import decode_json
from anglerfish_spark.codec.pydecode import decode_datum
from anglerfish_spark.functions.avro_binary import BinaryCodec
from anglerfish_spark.schema import parse_schema

#: rotate with ANGLERFISH_FUZZ_SEED to explore fresh schema space per run;
#: the default pins the committed corpus for reproducibility
SEED = int(os.environ.get("ANGLERFISH_FUZZ_SEED", "20260814"))
N_SCHEMAS = 12
VALID_PER_SCHEMA = 6
MUTANTS_PER_SCHEMA = 6
MAX_DEPTH = 3

_PRIMS = ["boolean", "int", "long", "float", "double", "string", "bytes"]


class SchemaGen:
    """Random avsc generator with globally unique type names."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.n = 0

    def _name(self, prefix: str) -> str:
        self.n += 1
        return f"{prefix}{self.n}"

    def type_(self, depth: int):
        r = self.rng
        opts = list(_PRIMS) + ["enum", "fixed"]
        if depth > 0:
            opts += ["array", "map", "union", "record", "record"]
        k = r.choice(opts)
        if k in _PRIMS:
            return k
        if k == "enum":
            n = r.randint(2, 4)
            return {
                "type": "enum",
                "name": self._name("E"),
                "symbols": [f"S{i}" for i in range(n)],
            }
        if k == "fixed":
            return {"type": "fixed", "name": self._name("X"), "size": r.randint(1, 4)}
        if k == "array":
            return {"type": "array", "items": self.type_(depth - 1)}
        if k == "map":
            return {"type": "map", "values": self.type_(depth - 1)}
        if k == "union":
            return self.union(depth)
        return self.record(depth)

    def union(self, depth: int):
        r = self.rng
        # distinct-kind members per the Avro union rule; named types are
        # always distinguishable (fresh names)
        members = []
        if r.random() < 0.6:
            members.append("null")
        pool = ["boolean", "long", "double", "string"]
        r.shuffle(pool)
        members += pool[: r.randint(1, 2)]
        if depth > 0 and r.random() < 0.4:
            members.append(
                r.choice(
                    [
                        {"type": "array", "items": "long"},
                        {"type": "map", "values": "string"},
                        {
                            "type": "enum",
                            "name": self._name("E"),
                            "symbols": ["A", "B"],
                        },
                        self.record(0),
                    ]
                )
            )
        r.shuffle(members)
        return members

    def record(self, depth: int):
        r = self.rng
        fields = []
        for _ in range(r.randint(1, 3) if depth < MAX_DEPTH else r.randint(2, 5)):
            t = self.type_(depth - 1) if depth > 0 else r.choice(_PRIMS)
            f = {"name": self._name("f"), "type": t}
            # defaults on simple-typed fields only (decoded against the
            # full type, the reference's D8 semantics)
            if isinstance(t, str) and t in ("int", "long", "string", "boolean"):
                if r.random() < 0.25:
                    f["default"] = {
                        "int": 7,
                        "long": 7,
                        "string": "dflt",
                        "boolean": True,
                    }[t]
            fields.append(f)
        return {"type": "record", "name": self._name("R"), "fields": fields}


def _branch_key(member) -> str:
    if isinstance(member, str):
        return member
    t = member["type"]
    if t in ("enum", "fixed", "record"):
        return member["name"]
    return t  # "array" / "map" literal branch keys


def gen_datum(t, rng: random.Random):
    """A conforming Avro-JSON datum for avsc node ``t``."""
    r = rng
    if isinstance(t, list):  # union
        m = r.choice(t)
        if m == "null":
            return None
        return {_branch_key(m): gen_datum(m, r)}
    if isinstance(t, str):
        return {
            "boolean": lambda: r.random() < 0.5,
            "int": lambda: r.randint(-(2**31), 2**31 - 1),
            "long": lambda: r.randint(-(2**40), 2**40),
            # quarters are float32-exact (D3 round-trip rule)
            "float": lambda: r.randint(-64, 64) / 4.0,
            "double": lambda: r.randint(-(2**30), 2**30) / 8.0,
            "string": lambda: "".join(r.choice("abcxyz _-") for _ in range(r.randint(0, 6))),
            "bytes": lambda: base64.b64encode(
                bytes(r.getrandbits(8) for _ in range(r.randint(0, 5)))
            ).decode("ascii"),
        }[t]()
    kind = t["type"]
    if kind == "enum":
        return r.choice(t["symbols"])
    if kind == "fixed":
        return base64.b64encode(bytes(r.getrandbits(8) for _ in range(t["size"]))).decode("ascii")
    if kind == "array":
        return [gen_datum(t["items"], r) for _ in range(r.randint(0, 3))]
    if kind == "map":
        return {
            "".join(r.choice("klmnop") for _ in range(r.randint(1, 4))): gen_datum(t["values"], r)
            for _ in range(r.randint(0, 3))
        }
    # record: every field present, except defaulted fields sometimes omitted
    out = {}
    for f in t["fields"]:
        if "default" in f and r.random() < 0.4:
            continue
        out[f["name"]] = gen_datum(f["type"], r)
    return out


# ---------------------------------------------------------------------------
# schema-directed corruption: walk schema+datum together, collect sites,
# apply one — only at positions where both paths reject deterministically
# (string/bytes positions excluded: the wire parse coerces, by design)
# ---------------------------------------------------------------------------


def _collect_sites(t, value, setter, sites: list) -> None:
    if isinstance(t, list):
        nonnull = [m for m in t if m != "null"]
        sites.append(("union_bare", lambda s=setter: s(5)))
        if isinstance(value, dict):
            k = next(iter(value))
            sites.append(("union_badkey", lambda s=setter, v=value: s({"nope_branch": list(v.values())[0]})))
            sites.append(("union_twokeys", lambda s=setter, v=value: s({**v, "zz_second": 1})))
        for m in nonnull:
            if isinstance(value, dict) and _branch_key(m) in value:
                _collect_sites(
                    m,
                    value[_branch_key(m)],
                    lambda x, v=value, k=_branch_key(m): v.__setitem__(k, x),
                    sites,
                )
        return
    if isinstance(t, str):
        muts = {
            "int": [2**40, 10**25, "x", "7"],
            "long": [10**25, "x", "123"],
            "float": [1.0000001, "x"],
            "double": ["1.5", "x"],
            "boolean": ["true", 1],
        }.get(t)
        if muts:
            for mv in muts:
                sites.append((f"{t}_bad", lambda s=setter, v=mv: s(v)))
        return
    kind = t["type"]
    if kind == "enum":
        sites.append(("enum_bad", lambda s=setter: s("ZZ_NOPE")))
    elif kind == "fixed":
        wrong = base64.b64encode(b"\x00" * (t["size"] + 1)).decode("ascii")
        sites.append(("fixed_len", lambda s=setter, v=wrong: s(v)))
    elif kind == "array":
        sites.append(("array_scalar", lambda s=setter: s(5)))
        for i, el in enumerate(value):
            _collect_sites(t["items"], el, lambda x, v=value, i=i: v.__setitem__(i, x), sites)
    elif kind == "map":
        sites.append(("map_scalar", lambda s=setter: s([1])))
        for k in list(value):
            _collect_sites(t["values"], value[k], lambda x, v=value, k=k: v.__setitem__(k, x), sites)
    elif kind == "record":
        sites.append(("rec_extra", lambda v=value: v.__setitem__("zzz_extra", 1)))
        for fn in [f["name"] for f in t["fields"] if f["name"] in value]:
            sites.append(("rec_drop", lambda v=value, k=fn: v.__delitem__(k)))
        for f in t["fields"]:
            if f["name"] in value:
                _collect_sites(
                    f["type"],
                    value[f["name"]],
                    lambda x, v=value, k=f["name"]: v.__setitem__(k, x),
                    sites,
                )


def mutate(root, datum, rng: random.Random):
    d = copy.deepcopy(datum)
    sites: list = []
    _collect_sites(root, d, lambda x: None, sites)
    if not sites:
        return None, None
    name, apply = rng.choice(sites)
    apply()
    return name, d


# ---------------------------------------------------------------------------
# normalization for cross-implementation value comparison
# ---------------------------------------------------------------------------


def _norm(v):
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def corpus() -> list[tuple[str, list]]:
    """The seeded (schema JSON, [(kind, datum)]) corpus of this module."""
    rng = random.Random(SEED)
    cases = []
    for _ in range(N_SCHEMAS):
        g = SchemaGen(rng)
        root = g.record(MAX_DEPTH)
        datums = []
        for _ in range(VALID_PER_SCHEMA):
            datums.append(("valid", gen_datum(root, rng)))
        for _ in range(MUTANTS_PER_SCHEMA):
            name, d = mutate(root, gen_datum(root, rng), rng)
            if d is not None:
                datums.append((name, d))
        cases.append((json.dumps(root), datums))
    return cases


@pytest.fixture(scope="module")
def fuzz_cases():
    return corpus()


def test_fuzz_expression_vs_python(spark, fuzz_cases):
    """Verdict + value agreement between the expression decoder and
    pydecode over every generated (schema, datum) pair; one Spark job per
    schema."""
    mismatches = []
    for schema_json, datums in fuzz_cases:
        ps = parse_schema(schema_json)
        texts = [json.dumps(d) for _, d in datums]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["i", "j"]
        ).repartition(4)
        rows = {
            r["i"]: r
            for r in decode_json(df, "j", ps, mode="permissive")
            .select("i", "decoded", "_errors")
            .collect()
        }
        for i, (kind, d) in enumerate(datums):
            py_ok, py_val = True, None
            try:
                py_val = decode_datum(ps.root, d, ps.env)
            except E.DatumError:
                py_ok = False
            expr_ok = len(rows[i]["_errors"]) == 0
            if py_ok != expr_ok:
                mismatches.append(
                    (schema_json, kind, d, "py" if py_ok else "expr", rows[i]["_errors"][:3])
                )
                continue
            if py_ok:
                got = _norm(rows[i]["decoded"].asDict(recursive=True))
                want = _norm(py_val)
                if got != want:
                    mismatches.append((schema_json, kind, d, "value", (got, want)))
    assert not mismatches, (
        f"{len(mismatches)} differential mismatches; first 3: {mismatches[:3]}"
    )


def test_fuzz_arrow_python_path(spark, fuzz_cases):
    """The Arrow-batched python decode path (decode_json_python —
    mapInPandas over pydecode) must agree with direct pydecode on every
    random (schema, datum): same verdict, and the SAME VALUE after the
    nested-value -> Arrow -> Row conversion, which is exactly the layer
    the direct comparison cannot see (struct/array/map/bytes transport
    for arbitrary shapes)."""
    from anglerfish_spark.codec.decoder import decode_json_python

    mismatches = []
    for schema_json, datums in fuzz_cases:
        ps = parse_schema(schema_json)
        texts = [json.dumps(d) for _, d in datums]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["i", "j"]
        ).repartition(3)
        rows = {
            r["i"]: r
            for r in decode_json_python(df, "j", ps, mode="permissive")
            .select("i", "decoded", "_errors")
            .collect()
        }
        for i, (kind, d) in enumerate(datums):
            py_ok, py_val = True, None
            try:
                py_val = decode_datum(ps.root, d, ps.env)
            except E.DatumError:
                py_ok = False
            arrow_ok = len(rows[i]["_errors"]) == 0
            if py_ok != arrow_ok:
                mismatches.append((schema_json, kind, d, rows[i]["_errors"][:3]))
            elif py_ok:
                got = _norm(rows[i]["decoded"].asDict(recursive=True))
                if got != _norm(py_val):
                    mismatches.append((schema_json, kind, d, (got, _norm(py_val))))
    assert not mismatches, (
        f"{len(mismatches)} arrow-path mismatches; first 2: {mismatches[:2]}"
    )


def test_fuzz_binary_roundtrip(fuzz_cases):
    """decode(encode(v)) == v for every accepted datum (wire identity);
    pure Python, no Spark."""
    bad = []
    for schema_json, datums in fuzz_cases:
        ps = parse_schema(schema_json)
        codec = BinaryCodec(ps)
        for kind, d in datums:
            try:
                v = decode_datum(ps.root, d, ps.env)
            except E.DatumError:
                continue
            back = codec.decode(codec.encode(v))
            if _norm(back) != _norm(v):
                bad.append((schema_json, d, _norm(back), _norm(v)))
    assert not bad, f"{len(bad)} binary round-trip failures; first: {bad[:2]}"


# ---------------------------------------------------------------------------
# hand-built hostile union shapes the generator does not produce: two
# records with identical field names, two enums with overlapping symbols,
# and bare-name collisions across namespaces (branch keys must be FQNs)
# ---------------------------------------------------------------------------

_HOSTILE = [
    (
        {
            "type": "record",
            "name": "root1",
            "fields": [
                {
                    "name": "u",
                    "type": [
                        {
                            "type": "record",
                            "name": "Ra",
                            "fields": [
                                {"name": "x", "type": "long"},
                                {"name": "y", "type": "string"},
                            ],
                        },
                        {
                            "type": "record",
                            "name": "Rb",
                            "fields": [
                                {"name": "x", "type": "string"},
                                {"name": "y", "type": "long"},
                            ],
                        },
                    ],
                }
            ],
        },
        [
            ("valid", {"u": {"Ra": {"x": 5, "y": "s"}}}),
            ("valid", {"u": {"Rb": {"x": "s", "y": 5}}}),
            ("cross_branch", {"u": {"Ra": {"x": "s", "y": 5}}}),
            ("unknown_branch", {"u": {"Rc": {"x": 1}}}),
        ],
    ),
    (
        {
            "type": "record",
            "name": "root2",
            "fields": [
                {
                    "name": "u",
                    "type": [
                        {"type": "enum", "name": "Ea", "symbols": ["A", "B"]},
                        {"type": "enum", "name": "Eb", "symbols": ["B", "C"]},
                        "null",
                    ],
                }
            ],
        },
        [
            ("valid", {"u": {"Ea": "B"}}),
            ("valid", {"u": {"Eb": "B"}}),
            ("valid", {"u": None}),
            ("out_of_domain", {"u": {"Ea": "C"}}),
            ("untagged", {"u": "B"}),
        ],
    ),
    (
        {
            "type": "record",
            "name": "root3",
            "fields": [
                {
                    "name": "u",
                    "type": [
                        {
                            "type": "record",
                            "name": "T",
                            "namespace": "aa",
                            "fields": [{"name": "x", "type": "long"}],
                        },
                        {
                            "type": "record",
                            "name": "T",
                            "namespace": "bb",
                            "fields": [{"name": "x", "type": "string"}],
                        },
                    ],
                }
            ],
        },
        [
            ("valid", {"u": {"aa.T": {"x": 5}}}),
            ("valid", {"u": {"bb.T": {"x": "s"}}}),
            ("bare_name", {"u": {"T": {"x": 5}}}),
            ("cross_branch", {"u": {"aa.T": {"x": "s"}}}),
        ],
    ),
]


def test_hostile_union_shapes(spark):
    mismatches = []
    for schema, datums in _HOSTILE:
        schema_json = json.dumps(schema)
        ps = parse_schema(schema_json)
        texts = [json.dumps(d) for _, d in datums]
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "j"])
        rows = {
            r["i"]: r
            for r in decode_json(df, "j", ps, mode="permissive")
            .select("i", "decoded", "_errors")
            .collect()
        }
        codec = BinaryCodec(ps)
        for i, (kind, d) in enumerate(datums):
            py_ok, py_val = True, None
            try:
                py_val = decode_datum(ps.root, d, ps.env)
            except E.DatumError:
                py_ok = False
            expr_ok = len(rows[i]["_errors"]) == 0
            if py_ok != expr_ok:
                mismatches.append((schema["name"], kind, d, list(rows[i]["_errors"])[:3]))
            elif py_ok:
                got = _norm(rows[i]["decoded"].asDict(recursive=True))
                want = _norm(py_val)
                if got != want:
                    mismatches.append((schema["name"], kind, "value", got, want))
                back = codec.decode(codec.encode(py_val))
                if _norm(back) != want:
                    mismatches.append((schema["name"], kind, "binary_rt", _norm(back), want))
            # every valid row must decode; every corruption must be rejected
            if (kind == "valid") != py_ok:
                mismatches.append((schema["name"], kind, "expectation", py_ok))
    assert not mismatches, f"hostile-union mismatches: {mismatches}"


# ---------------------------------------------------------------------------
# OCF container layer + JVM cross-checks over the same random schemas
# ---------------------------------------------------------------------------


def test_fuzz_ocf_roundtrip_and_jvm_read(spark, fuzz_cases, tmp_path):
    """For every random schema: (a) the OCF container round-trips every
    accepted datum byte-exactly through encode_ocf/decode_ocf; (b) the JVM
    ``org.apache.avro`` DataFileReader — a fully independent implementation
    — parses the engine-written file, yields the same record count, and
    agrees on the schema via Parsing-Canonical-Form text AND CRC-64-AVRO
    fingerprint (extending the fixed-corpus fingerprint differential to
    generated schemas)."""
    from anglerfish_spark.schema.fingerprint import (
        parsing_canonical_form,
        schema_fingerprint,
    )
    from anglerfish_spark.sources.avro_ocf import decode_ocf_with_schema, encode_ocf

    jvm = spark._jvm
    try:
        jvm.java.lang.Class.forName("org.apache.avro.SchemaNormalization")
        jvm_ok = True
    except Exception:
        jvm_ok = False

    for k, (schema_json, datums) in enumerate(fuzz_cases):
        ps = parse_schema(schema_json)
        vals = []
        for _, d in datums:
            try:
                vals.append(decode_datum(ps.root, d, ps.env))
            except E.DatumError:
                continue
        blob = encode_ocf(vals, schema_json)
        got, wschema = decode_ocf_with_schema(blob)
        assert [_norm(v) for v in got] == [_norm(v) for v in vals], schema_json
        assert parsing_canonical_form(wschema) == parsing_canonical_form(schema_json)
        if not jvm_ok:
            continue
        path = tmp_path / f"fuzz{k}.avro"
        path.write_bytes(blob)
        reader = jvm.org.apache.avro.generic.GenericDatumReader()
        dfr = jvm.org.apache.avro.file.DataFileReader(jvm.java.io.File(str(path)), reader)
        jschema = dfr.getSchema()
        n = 0
        while dfr.hasNext():
            dfr.next()
            n += 1
        dfr.close()
        assert n == len(vals), schema_json
        assert jvm.org.apache.avro.SchemaNormalization.toParsingForm(
            jschema
        ) == parsing_canonical_form(schema_json)
        jfp = jvm.org.apache.avro.SchemaNormalization.parsingFingerprint64(jschema) & (
            2**64 - 1
        )
        ours = int.from_bytes(schema_fingerprint(schema_json, "CRC-64-AVRO"), "little")
        assert jfp == ours, schema_json
