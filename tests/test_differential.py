"""Differential property test: the engine decoder and the pure-Python
decoder must agree — same accept/reject verdict, same values — over
generated record schemas and datums (valid and corrupted), flat and
nested."""

from __future__ import annotations

import json
import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from anglerfish_spark import errors as E
from anglerfish_spark.codec.decoder import decode_json
from anglerfish_spark.codec.pydecode import decode_datum
from anglerfish_spark.schema import parse_schema

# flat record schemas over a representative type mix
_FIELD_TYPES = {
    "f_bool": "boolean",
    "f_int": "int",
    "f_long": "long",
    "f_double": "double",
    "f_str": "string",
    "f_opt": ["null", "long"],
    "f_enum": {"type": "enum", "name": "E", "symbols": ["A", "B", "C"]},
}

_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "rec",
        "fields": [{"name": n, "type": t} for n, t in _FIELD_TYPES.items()],
    }
)

_good_values = {
    "f_bool": st.booleans(),
    "f_int": st.integers(min_value=-(2**31), max_value=2**31 - 1),
    "f_long": st.integers(min_value=-(2**63), max_value=2**63 - 1),
    "f_double": st.floats(allow_nan=False, allow_infinity=False),
    "f_str": st.text(alphabet=st.characters(codec="ascii", exclude_characters='"\\\x00'), max_size=8),
    "f_opt": st.one_of(st.none(), st.fixed_dictionaries({"long": st.integers(-(2**40), 2**40)})),
    "f_enum": st.sampled_from(["A", "B", "C"]),
}

_bad_mutations = st.sampled_from(
    [
        ("f_int", 2**40),              # int32 overflow (but int64-ok)
        ("f_int", "nope"),             # type mismatch
        ("f_int", "7"),                # QUOTED in-range int (r4: was silent)
        ("f_int", 10**25),             # beyond int64 (Unrepresentable, not mismatch)
        ("f_long", 10**25),            # beyond int64
        ("f_long", "123"),             # QUOTED in-range long (r4: was silent null)
        ("f_double", "1.5"),           # QUOTED double
        ("f_bool", 1),                 # int where bool expected
        ("f_bool", "true"),            # QUOTED boolean
        ("f_enum", "Z"),               # out of symbol set
        ("f_opt", {"string": "x"}),    # wrong union branch
        ("f_opt", {"long": 1, "extra": 2}),  # two keys
        ("__extra__", 1),              # extra field
        ("__drop_f_str__", None),      # missing required
    ]
)


def _mutate(datum: dict, mutation) -> dict:
    key, val = mutation
    d = dict(datum)
    if key == "__extra__":
        d["surprise"] = val
    elif key == "__drop_f_str__":
        d.pop("f_str")
    else:
        d[key] = val
    return d


@pytest.fixture(scope="module")
def corpus():
    """Generate the corpus once (hypothesis), decode in one Spark job."""
    cases = []

    @settings(max_examples=40, deadline=None)
    @given(st.fixed_dictionaries(_good_values), st.one_of(st.none(), _bad_mutations))
    def collect(datum, mutation):
        # JSON-encode doubles carefully: ints-as-doubles must stay doubles
        d = dict(datum)
        if mutation is not None:
            d = _mutate(d, mutation)
        cases.append(d)

    collect()
    return cases


def test_differential_verdicts(spark, corpus):
    ps = parse_schema(_SCHEMA)

    def dumps(d):
        # floats serialized with a decimal point so both sides read doubles
        return json.dumps(
            {k: (float(v) if isinstance(v, float) else v) for k, v in d.items()}
        )

    texts = [dumps(d) for d in corpus]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "j"])
    rows = (
        decode_json(df, "j", ps, mode="permissive")
        .select("i", "decoded", "_errors")
        .collect()
    )
    by_i = {r["i"]: r for r in rows}

    mismatches = []
    for i, d in enumerate(corpus):
        py_ok, py_val = True, None
        try:
            py_val = decode_datum(ps.root, d, ps.env)
        except E.DatumError:
            py_ok = False
        expr_ok = len(by_i[i]["_errors"]) == 0
        # known, documented divergence: JSON integer literal for a double
        # field — python raises (strict D3), expression path accepts only
        # when the raw text is non-integral; both reject here because the
        # corpus serializes doubles with a decimal point.
        if py_ok != expr_ok:
            mismatches.append((d, by_i[i]["_errors"], py_ok))
            continue
        if py_ok:
            got = by_i[i]["decoded"].asDict()
            for k in ("f_bool", "f_int", "f_long", "f_str", "f_enum"):
                assert got[k] == py_val[k], (k, d)
            if py_val["f_double"] is not None and not math.isnan(py_val["f_double"]):
                assert got["f_double"] == py_val["f_double"], d
            assert got["f_opt"] == py_val["f_opt"], d
    assert not mismatches, f"{len(mismatches)} verdict mismatches; first: {mismatches[:3]}"


# ---------------------------------------------------------------------------
# nested collections: the raw-text threading must agree with pydecode at
# full depth (extra fields / enum domain / overflow inside arrays + maps)
# ---------------------------------------------------------------------------

_NESTED_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "outer",
        "fields": [
            {
                "name": "arr",
                "type": {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "inner",
                        "fields": [
                            {"name": "a", "type": "long"},
                            {
                                "name": "c",
                                "type": {"type": "enum", "name": "IC", "symbols": ["X", "Y"]},
                                "default": "X",
                            },
                        ],
                    },
                },
            },
            {"name": "m", "type": {"type": "map", "values": "int"}},
        ],
    }
)

_inner_good = st.fixed_dictionaries(
    {"a": st.integers(-(2**40), 2**40)},
    optional={"c": st.sampled_from(["X", "Y"])},
)
_nested_good = st.fixed_dictionaries(
    {
        "arr": st.lists(_inner_good, max_size=3),
        "m": st.dictionaries(
            st.text(alphabet="abcdef", min_size=1, max_size=3),
            st.integers(-(2**31), 2**31 - 1),
            max_size=3,
        ),
    }
)

# mutations hitting the in-collection strictness paths; JSON-number-at-
# string-position is deliberately absent (wire string parses coerce, the
# documented quoted-number ambiguity)
_nested_mutations = st.sampled_from(
    [
        ("inner_extra", None),       # extra field inside array element
        ("inner_drop_a", None),      # missing required inside array element
        ("inner_enum", "Q"),         # enum violation inside array element
        ("inner_overflow", 10**25),  # int64 overflow inside array element
        ("map_value_str", "s"),      # wrong value type inside map
        ("arr_scalar", 5),           # scalar at array position
        ("map_scalar", [1]),         # array at map position
    ]
)


def _nested_mutate(d: dict, mutation) -> dict:
    kind, val = mutation
    d = {"arr": [dict(x) for x in d["arr"]], "m": dict(d["m"])}
    if kind.startswith("inner") and not d["arr"]:
        d["arr"] = [{"a": 1}]
    if kind == "inner_extra":
        d["arr"][0]["zzz"] = 1
    elif kind == "inner_drop_a":
        d["arr"][0].pop("a")
    elif kind == "inner_enum":
        d["arr"][0]["c"] = val
    elif kind == "inner_overflow":
        d["arr"][0]["a"] = val
    elif kind == "map_value_str":
        d["m"]["k"] = val
    elif kind == "arr_scalar":
        d["arr"] = val
    elif kind == "map_scalar":
        d["m"] = val
    return d


@pytest.fixture(scope="module")
def nested_corpus():
    cases = []

    @settings(max_examples=40, deadline=None)
    @given(_nested_good, st.one_of(st.none(), _nested_mutations))
    def collect(datum, mutation):
        cases.append(datum if mutation is None else _nested_mutate(datum, mutation))

    collect()
    return cases


def test_differential_nested_collections(spark, nested_corpus):
    ps = parse_schema(_NESTED_SCHEMA)
    texts = [json.dumps(d) for d in nested_corpus]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "j"])
    rows = (
        decode_json(df, "j", ps, mode="permissive")
        .select("i", "decoded", "_errors")
        .collect()
    )
    by_i = {r["i"]: r for r in rows}

    mismatches = []
    for i, d in enumerate(nested_corpus):
        py_ok, py_val = True, None
        try:
            py_val = decode_datum(ps.root, d, ps.env)
        except E.DatumError:
            py_ok = False
        expr_ok = len(by_i[i]["_errors"]) == 0
        if py_ok != expr_ok:
            mismatches.append((d, list(by_i[i]["_errors"]), py_ok))
            continue
        if py_ok:
            got = by_i[i]["decoded"].asDict(recursive=True)
            assert got["arr"] == py_val["arr"], d
            assert got["m"] == py_val["m"], d
    assert not mismatches, f"{len(mismatches)} verdict mismatches; first: {mismatches[:3]}"


# ---------------------------------------------------------------------------
# unions inside collections: tagged single-key objects threaded through the
# per-element raw text (the deepest decoder path)
# ---------------------------------------------------------------------------

_UNION_IN_ARRAY_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "outer2",
        "fields": [
            {
                "name": "items",
                "type": {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "cell",
                        "fields": [
                            {"name": "v", "type": ["null", "long", "string"], "default": None},
                        ],
                    },
                },
            }
        ],
    }
)

_cell_good = st.one_of(
    st.fixed_dictionaries({}),  # absent v -> default null
    st.fixed_dictionaries({"v": st.none()}),
    st.fixed_dictionaries({"v": st.fixed_dictionaries({"long": st.integers(-(2**40), 2**40)})}),
    st.fixed_dictionaries(
        {"v": st.fixed_dictionaries({"string": st.text(alphabet="abc xyz", max_size=6)})}
    ),
)

_union_mutations = st.sampled_from(
    [
        {"v": {"long": 1, "string": "x"}},   # two keys
        {"v": {"float": 1.5}},               # unknown branch
        {"v": {"long": 10**25}},             # overflow inside branch
        {"v": 5},                            # untagged scalar
    ]
)


@pytest.fixture(scope="module")
def union_corpus():
    cases = []

    @settings(max_examples=30, deadline=None)
    @given(st.lists(_cell_good, max_size=3), st.one_of(st.none(), _union_mutations))
    def collect(cells, bad):
        cases.append({"items": cells + ([bad] if bad is not None else [])})

    collect()
    return cases


def test_differential_union_in_array(spark, union_corpus):
    ps = parse_schema(_UNION_IN_ARRAY_SCHEMA)
    texts = [json.dumps(d) for d in union_corpus]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "j"])
    rows = (
        decode_json(df, "j", ps, mode="permissive")
        .select("i", "decoded", "_errors")
        .collect()
    )
    by_i = {r["i"]: r for r in rows}

    mismatches = []
    for i, d in enumerate(union_corpus):
        py_ok, py_val = True, None
        try:
            py_val = decode_datum(ps.root, d, ps.env)
        except E.DatumError:
            py_ok = False
        expr_ok = len(by_i[i]["_errors"]) == 0
        if py_ok != expr_ok:
            mismatches.append((d, list(by_i[i]["_errors"]), py_ok))
            continue
        if py_ok:
            got = by_i[i]["decoded"].asDict(recursive=True)
            assert got["items"] == py_val["items"], d
    assert not mismatches, f"{len(mismatches)} verdict mismatches; first: {mismatches[:3]}"


def test_python_path_matches_expression_on_union_corpus(spark, union_corpus):
    """decode_json_python must agree with the expression decoder verdict-
    for-verdict on the union-in-array corpus."""
    from anglerfish_spark.codec.decoder import decode_json_python

    ps = parse_schema(_UNION_IN_ARRAY_SCHEMA)
    texts = [json.dumps(d) for d in union_corpus]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "j"])
    expr = {
        r["i"]: len(r["_errors"]) == 0
        for r in decode_json(df, "j", ps, mode="permissive").select("i", "_errors").collect()
    }
    py = {
        r["i"]: len(r["_errors"]) == 0
        for r in decode_json_python(df, "j", ps, mode="permissive").select("i", "_errors").collect()
    }
    assert expr == py


# ---------------------------------------------------------------------------
# nested decode: an Order-shaped record (array, map, nullable union, nested
# record, enum) against pydecode, verdicts and values
# ---------------------------------------------------------------------------

_ORDER_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "Order",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "qty", "type": "int"},
            {"name": "price", "type": "double"},
            {"name": "status", "type": {"type": "enum", "name": "Status", "symbols": ["NEW", "PAID"]}},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "attrs", "type": {"type": "map", "values": "long"}},
            {"name": "note", "type": ["null", "string"], "default": None},
            {
                "name": "ship",
                "type": [
                    "null",
                    {
                        "type": "record",
                        "name": "Ship",
                        "fields": [
                            {"name": "city", "type": "string"},
                            {"name": "zip", "type": ["null", "int"], "default": None},
                        ],
                    },
                ],
                "default": None,
            },
        ],
    }
)

_text = st.text(alphabet="abc xyz-", max_size=6)
_int32 = st.integers(-(2**31), 2**31 - 1)
_ship = st.fixed_dictionaries(
    {"city": _text}, optional={"zip": st.one_of(st.none(), st.fixed_dictionaries({"int": _int32}))}
)
_order_good = st.fixed_dictionaries(
    {
        "id": st.integers(-(2**63), 2**63 - 1),
        "qty": _int32,
        "price": st.floats(allow_nan=False, allow_infinity=False),
        "status": st.sampled_from(["NEW", "PAID"]),
        "tags": st.lists(_text, max_size=3),
        "attrs": st.dictionaries(_text, st.integers(-(2**40), 2**40), max_size=3),
    },
    optional={
        "note": st.one_of(st.none(), st.fixed_dictionaries({"string": _text})),
        "ship": st.one_of(st.none(), st.fixed_dictionaries({"Ship": _ship})),
    },
)

# violations at every depth; string positions read any token as text by
# the engine's convention, so no mutation puts a non-string there
_ORDER_MUTATIONS = [
    ("id", "12"),                                         # quoted long
    ("id", 10**25),                                       # beyond int64
    ("qty", 2**40),                                       # beyond int32
    ("qty", 1.5),                                         # double at int
    ("price", 2),                                         # integer at double
    ("price", "1.5"),                                     # quoted double
    ("price", "NaN"),                                     # quoted non-number
    ("status", "LOST"),                                   # not a symbol
    ("tags", 5),                                          # scalar at array
    ("attrs", {"a": "x"}),                                # map value type
    ("attrs", {"a": 10**25}),                             # map value overflow
    ("attrs", [1]),                                       # array at map
    ("note", "bare"),                                     # untagged union
    ("ship", {"Nope": {"city": "x"}}),                    # unknown branch
    ("ship", {"Ship": {"city": "x"}, "null": None}),      # two keys
    ("ship", {"Ship": {"zip": None}}),                    # missing city
    ("ship", {"Ship": {"city": "x", "more": 1}}),         # extra nested key
    ("ship", {"Ship": {"city": "x", "zip": {"int": "7"}}}),  # quoted int deep
    ("ship", {"Ship": 5}),                                # scalar at record
    ("surprise", 1),                                      # extra root key
    ("id", None),                                         # drop required id
]


@pytest.fixture(scope="module")
def order_corpus():
    """Generated datums, every other one carrying the next mutation kind in
    turn, so each kind meets two different datums."""
    datums = []

    @settings(max_examples=2 * 2 * len(_ORDER_MUTATIONS), deadline=None, database=None, derandomize=True)
    @given(_order_good)
    def collect(datum):
        datums.append(datum)

    collect()
    cases = []
    for i, datum in enumerate(datums):
        d = dict(datum)
        if i % 2:
            key, val = _ORDER_MUTATIONS[(i // 2) % len(_ORDER_MUTATIONS)]
            if val is None:
                d.pop(key)
            else:
                d[key] = val
        cases.append(d)
    return cases


def test_differential_nested_order(spark, order_corpus):
    ps = parse_schema(_ORDER_SCHEMA)
    texts = [json.dumps(d) for d in order_corpus]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "j"])
    rows = decode_json(df, "j", ps, mode="permissive").select("i", "decoded", "_errors").collect()
    by_i = {r["i"]: r for r in rows}

    mismatches, rejected = [], 0
    for i, d in enumerate(order_corpus):
        try:
            want = decode_datum(ps.root, d, ps.env)
        except E.DatumError:
            want = E.DatumError
            rejected += 1
        row = by_i[i]
        got = row["decoded"].asDict(recursive=True) if not row["_errors"] else E.DatumError
        if got != want:
            mismatches.append((d, list(row["_errors"]), want))
    assert 0 < rejected < len(order_corpus)
    assert not mismatches, f"{len(mismatches)} of {len(order_corpus)} differ; first: {mismatches[:3]}"
