"""Seeded fuzzer for the logical-types surface (r6): random
decimal/date/time/timestamp/uuid schemas and carrier-space datums, the
expression decoder and the Arrow/pydecode path compared against the
pure-Python ground truth case by case — the differential trick that
caught bestBranch (r5), pointed at the logical lift (sign extension,
scale application, range checks, carrier widths).

Seed rotates via ANGLERFISH_FUZZ_SEED.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import os
import random
from decimal import Decimal

import pytest

from anglerfish_spark.codec.decoder import decode_json, decode_json_python
from anglerfish_spark.codec.pydecode import decode_datum
from anglerfish_spark.schema.parser import parse_schema

SEED = int(os.environ.get("ANGLERFISH_FUZZ_SEED", "61"))
N_CASES = 30


def _b64(raw: bytes) -> str:
    return base64.b64encode(raw).decode()


def gen_field(rng: random.Random, i: int):
    """One (schema-fragment, carrier-datum, kind) for a random logical."""
    kind = rng.choice(
        [
            "date", "time-millis", "time-micros", "timestamp-millis",
            "timestamp-micros", "local-timestamp-micros", "uuid",
            "decimal-bytes", "decimal-fixed",
        ]
    )
    name = f"f{i}"
    if kind == "date":
        return {"name": name, "type": {"type": "int", "logicalType": "date"}}, rng.choice(
            [0, 1, -1, 19783, -719162, 2932896, rng.randint(-100000, 100000)]
        ), kind
    if kind == "time-millis":
        v = rng.choice([0, 86_399_999, rng.randint(0, 86_399_999)])
        return {"name": name, "type": {"type": "int", "logicalType": "time-millis"}}, v, kind
    if kind == "time-micros":
        v = rng.choice([0, 86_399_999_999, rng.randint(0, 86_399_999_999)])
        return {"name": name, "type": {"type": "long", "logicalType": "time-micros"}}, v, kind
    if kind in ("timestamp-millis", "timestamp-micros", "local-timestamp-micros"):
        # stay in a comfortably representable window (year ~1700-2200)
        unit = 1_000 if kind == "timestamp-millis" else 1_000_000
        # stay in years ~1700-2200; random sub-second remainder
        v = rng.randint(-8_520_336, 7_258_118) * unit + rng.randint(0, unit - 1)
        return {"name": name, "type": {"type": "long", "logicalType": kind}}, v, kind
    if kind == "uuid":
        u = "%08x-%04x-%04x-%04x-%012x" % (
            rng.getrandbits(32), rng.getrandbits(16), rng.getrandbits(16),
            rng.getrandbits(16), rng.getrandbits(48),
        )
        return {"name": name, "type": {"type": "string", "logicalType": "uuid"}}, u, kind
    if kind == "decimal-bytes":
        precision = rng.randint(1, 18)
        scale = rng.randint(0, precision)
        # unscaled value within precision; encode minimal two's complement
        bound = 10**precision - 1
        unscaled = rng.randint(-bound, bound)
        nbytes = max(1, (unscaled.bit_length() + 8) // 8)
        raw = unscaled.to_bytes(nbytes, "big", signed=True)
        # sometimes add redundant sign-extension bytes (legal encoding)
        if rng.random() < 0.3:
            pad = b"\xff" if unscaled < 0 else b"\x00"
            raw = pad * rng.randint(1, 2) + raw
        return (
            {
                "name": name,
                "type": {
                    "type": "bytes", "logicalType": "decimal",
                    "precision": precision, "scale": scale,
                },
            },
            _b64(raw),
            ("decimal", unscaled, scale),
        )
    # decimal-fixed
    size = rng.randint(1, 8)
    precision = min(18, rng.randint(1, max(1, len(str(2 ** (8 * size - 1) - 1)) - 1)))
    scale = rng.randint(0, precision)
    bound = min(10**precision - 1, 2 ** (8 * size - 1) - 1)
    # include the extra two's-complement value (-2^(8s-1)) only when the
    # BYTE width is the binding constraint — when precision binds,
    # -bound-1 needs one more digit and is spec-invalid (caught by the
    # r13 seed rotation: both decoders now reject it)
    lo = -bound - 1 if bound == 2 ** (8 * size - 1) - 1 else -bound
    unscaled = rng.randint(lo, bound)
    raw = unscaled.to_bytes(size, "big", signed=True)
    return (
        {
            "name": name,
            "type": {
                "type": "fixed", "name": f"Fx{i}_{SEED}", "size": size,
                "logicalType": "decimal", "precision": precision, "scale": scale,
            },
        },
        _b64(raw),
        ("decimal", unscaled, scale),
    )


def expected_value(kind, carrier):
    if kind == "date":
        return dt.date(1970, 1, 1) + dt.timedelta(days=carrier)
    if kind == "time-millis":
        us = carrier * 1000
        return dt.time(us // 3_600_000_000, us // 60_000_000 % 60, us // 1_000_000 % 60, us % 1_000_000)
    if kind == "time-micros":
        us = carrier
        return dt.time(us // 3_600_000_000, us // 60_000_000 % 60, us // 1_000_000 % 60, us % 1_000_000)
    if kind in ("timestamp-millis", "timestamp-micros", "local-timestamp-micros"):
        unit = 1_000 if kind == "timestamp-millis" else 1_000_000
        return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=carrier * (1_000_000 // unit))
    if kind == "uuid":
        return carrier
    if isinstance(kind, tuple) and kind[0] == "decimal":
        _, unscaled, scale = kind
        return Decimal(unscaled).scaleb(-scale)
    raise AssertionError(kind)


def corpus() -> list[tuple[str, dict, dict]]:
    """The seeded (schema JSON, carrier datum, kinds) cases of this module."""
    rng = random.Random(SEED * 7 + 5)
    out = []
    for _ in range(N_CASES):
        nf = rng.randint(1, 5)
        fields, datum, kinds = [], {}, {}
        for i in range(nf):
            f, v, k = gen_field(rng, i)
            fields.append(f)
            datum[f["name"]] = v
            kinds[f["name"]] = k
        schema = json.dumps({"type": "record", "name": f"R{SEED}", "fields": fields})
        out.append((schema, datum, kinds))
    return out


@pytest.fixture(scope="module")
def cases():
    return corpus()


class TestFuzzLogical:
    def test_pydecode_ground_truth(self, cases):
        for schema, datum, kinds in cases:
            ps = parse_schema(schema)
            got = decode_datum(ps.root, datum, ps.env)
            want = {n: expected_value(k, datum[n] if not isinstance(k, tuple) else None)
                    for n, k in kinds.items()}
            # decimals carry their expectation inside `kinds`
            for n, k in kinds.items():
                assert got[n] == want[n], (schema, n, got[n], want[n])

    def test_expression_and_arrow_match_pydecode(self, spark, cases):
        from anglerfish_spark.localdata import local_df

        for schema, datum, kinds in cases:
            ps = parse_schema(schema)
            want = decode_datum(ps.root, datum, ps.env)
            df = local_df(spark, [(json.dumps(datum),)], "txt string",
                          single_partition=True)
            for fn in (decode_json, decode_json_python):
                row = fn(df, "txt", schema).select("decoded.*").collect()[0]
                got = row.asDict()
                for n in kinds:
                    g, w = got[n], want[n]
                    if isinstance(w, Decimal):
                        assert Decimal(g) == w, (fn.__name__, schema, n, g, w)
                    else:
                        assert g == w, (fn.__name__, schema, n, g, w)

    def test_out_of_range_time_same_error_both_paths(self, spark):
        from anglerfish_spark.localdata import local_df

        schema = json.dumps(
            {
                "type": "record", "name": "T",
                "fields": [{"name": "t", "type": {"type": "long", "logicalType": "time-micros"}}],
            }
        )
        df = local_df(spark, [(json.dumps({"t": 86_400_000_000}),)], "txt string",
                      single_partition=True)
        out = decode_json(df, "txt", schema, mode="permissive").collect()[0]
        assert any("UnrepresentableError@$.t" in e for e in out["_errors"])
        out2 = decode_json_python(df, "txt", schema, mode="permissive").collect()[0]
        assert any("UnrepresentableError" in e for e in out2["_errors"])
