"""A small, engine-independent Avro writer for the benchmark's generators:
binary encoding of plain Python datums, the Parsing Canonical Form, the
CRC-64-AVRO (Rabin) fingerprint and the single-object header.

It covers the schema shapes the generators emit (primitives, records,
enums, arrays, maps and ``["null", X]`` unions, each named type defined
once).  Being written from the Avro specification rather than taken from
the engine, it also cross-checks the engine's own fingerprints.
"""

from __future__ import annotations

import json
import struct

_EMPTY = 0xC15D213AA4D7A795


def _table() -> list[int]:
    out = []
    for i in range(256):
        fp = i
        for _ in range(8):
            fp = (fp >> 1) ^ (_EMPTY & -(fp & 1))
        out.append(fp)
    return out


_FP_TABLE = _table()


def rabin64(data: bytes) -> int:
    fp = _EMPTY
    for b in data:
        fp = (fp >> 8) ^ _FP_TABLE[(fp ^ b) & 0xFF]
    return fp


def full_name(name: str, ns: str | None) -> str:
    """A named type's full name: ``name`` qualified by namespace ``ns``."""
    return name if "." in name or not ns else f"{ns}.{name}"


def canonical_form(schema) -> str:
    """Parsing Canonical Form (Avro spec, "Transforming into Parsing
    Canonical Form") of a schema given as parsed JSON."""

    def canon(t, ns):
        if isinstance(t, str):
            return json.dumps(t if t in _PRIMS else full_name(t, ns))
        if isinstance(t, list):
            return "[" + ",".join(canon(m, ns) for m in t) + "]"
        kind = t["type"]
        if kind in ("record", "enum", "fixed"):
            ns2 = t.get("namespace", ns)
            full = full_name(t["name"], ns2)
            ns_inner = full.rsplit(".", 1)[0] if "." in full else None
            parts = [f'"name":{json.dumps(full)}', f'"type":"{kind}"']
            if kind == "record":
                fields = ",".join(
                    f'{{"name":{json.dumps(f["name"])},"type":{canon(f["type"], ns_inner)}}}'
                    for f in t["fields"]
                )
                parts.append(f'"fields":[{fields}]')
            elif kind == "enum":
                parts.append('"symbols":' + json.dumps(t["symbols"], separators=(",", ":")))
            else:
                parts.append(f'"size":{t["size"]}')
            return "{" + ",".join(parts) + "}"
        if kind == "array":
            return f'{{"type":"array","items":{canon(t["items"], ns)}}}'
        if kind == "map":
            return f'{{"type":"map","values":{canon(t["values"], ns)}}}'
        return json.dumps(kind)

    return canon(schema, None)


_PRIMS = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}


def fingerprint64(schema) -> int:
    """CRC-64-AVRO fingerprint of the schema's canonical form."""
    return rabin64(canonical_form(schema).encode())


def single_object_header(schema) -> bytes:
    """``C3 01`` marker + little-endian 8-byte fingerprint."""
    return b"\xc3\x01" + struct.pack("<Q", fingerprint64(schema))


def _long(out: bytearray, n: int) -> None:
    n = (n << 1) ^ (n >> 63)
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)


def encode_datum(schema, datum, names: dict[str, dict]) -> bytes:
    """Avro binary encoding of ``datum`` (plain Python values, as the
    generators build them: dicts for records, the symbol string for enums,
    None or the value for ``["null", X]`` unions)."""
    out = bytearray()

    def enc(t, v):
        if isinstance(t, str):
            if t in names:
                return enc(names[t], v)
            if t in ("long", "int"):
                _long(out, v)
            elif t == "string":
                b = v.encode()
                _long(out, len(b))
                out.extend(b)
            elif t == "boolean":
                out.append(1 if v else 0)
            elif t == "double":
                out.extend(struct.pack("<d", v))
            elif t == "float":
                out.extend(struct.pack("<f", v))
            elif t != "null":
                raise ValueError(f"unsupported primitive {t!r}")
            return None
        if isinstance(t, list):
            if v is None:
                _long(out, t.index("null"))
            else:
                branch = 1 - t.index("null")
                _long(out, branch)
                enc(t[branch], v)
            return None
        kind = t["type"]
        if kind == "record":
            for f in t["fields"]:
                enc(f["type"], v[f["name"]])
        elif kind == "enum":
            _long(out, t["symbols"].index(v))
        elif kind == "array":
            if v:
                _long(out, len(v))
                for x in v:
                    enc(t["items"], x)
            _long(out, 0)
        elif kind == "map":
            if v:
                _long(out, len(v))
                for k, x in v.items():
                    enc("string", k)
                    enc(t["values"], x)
            _long(out, 0)
        else:
            raise ValueError(f"unsupported type {kind!r}")
        return None

    enc(schema, datum)
    return bytes(out)
