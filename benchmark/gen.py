"""Seeded input generators.  Nothing here imports the engine: the engine
only ever sees the files these functions write.

Every generator takes a ``numpy.random.Generator`` (or a seed) and is a
pure function of it, so the same seed gives the same bytes and a second
seed gives inputs of the same sizes.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from avrolite import encode_datum, fingerprint64, full_name, single_object_header

# ---------------------------------------------------------------------------
# TPC-H-shaped star schema + events/documents/embeddings (query_mix, table_commits)
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["blue", "green", "red", "black", "white", "small", "large", "shiny"]
_THINGS = ["anvil", "widget", "ring", "gear", "bolt", "spring", "valve", "lever"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ts(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    epoch_us = int(base.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return pa.array(epoch_us + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The ten tables the registry queries read, shaped like the shipped
    TPC-H-ish test data (same columns, types and value domains)."""
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(20, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(50, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_emb = 500
    day_us = 86_400 * 1_000_000
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_COLORS[a]} {_THINGS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(
                dt.datetime(1995, 1, 1), rng.integers(0, 2404, n_ord) * day_us
            ),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(
                dt.datetime(1995, 1, 2), rng.integers(0, 2499, n_line) * day_us
            ),
        }
    )
    gaps = rng.exponential(259e6, n_ev).astype(np.int64) + 1
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(dt.datetime(2024, 1, 1), np.cumsum(gaps)),
            "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_ev).astype(np.int64),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": _money(rng, 0.01, 490.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n_words)))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_doc)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def write_star(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the star tables as one single-row-group parquet file each
    (the shipped layout); return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    tables = star_tables(np.random.default_rng([seed, 1]), sf)
    for name, tb in tables.items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
    return {name: tb.num_rows for name, tb in tables.items()}


# ---------------------------------------------------------------------------
# Avro documents (decode_bulk)
# ---------------------------------------------------------------------------

#: Nested schemas for decode_bulk: records, enums, arrays, maps, nullable
#: unions and a nullable nested record.  The benchmark decodes the first
#: (it holds every construct); every decode is a job whose driver-side
#: planning costs as much as thousands of rows, so each extra schema would
#: mostly add planning time.
BULK_SCHEMAS: list[dict] = [
    {
        "type": "record",
        "name": "Order",
        "namespace": "bench.bulk",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "qty", "type": "int"},
            {"name": "price", "type": "double"},
            {"name": "sku", "type": "string"},
            {"name": "paid", "type": "boolean"},
            {
                "name": "status",
                "type": {"type": "enum", "name": "Status", "symbols": ["NEW", "PAID", "SHIPPED", "LOST"]},
            },
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
    },
    {
        "type": "record",
        "name": "Click",
        "namespace": "bench.bulk",
        "fields": [
            {"name": "user", "type": "long"},
            {"name": "page", "type": "string"},
            {"name": "dwell", "type": "float"},
            {
                "name": "device",
                "type": {"type": "enum", "name": "Device", "symbols": ["WEB", "IOS", "ANDROID"]},
            },
            {"name": "scores", "type": {"type": "array", "items": "long"}},
            {"name": "ref", "type": ["null", "string"], "default": None},
            {"name": "flags", "type": {"type": "map", "values": "boolean"}},
            {"name": "session", "type": ["null", "long"], "default": None},
        ],
    },
    {
        "type": "record",
        "name": "Reading",
        "namespace": "bench.bulk",
        "fields": [
            {"name": "sensor", "type": "string"},
            {"name": "seq", "type": "long"},
            {"name": "values", "type": {"type": "array", "items": "double"}},
            {
                "name": "unit",
                "type": {"type": "enum", "name": "Unit", "symbols": ["C", "F", "K"]},
            },
            {
                "name": "loc",
                "type": [
                    "null",
                    {
                        "type": "record",
                        "name": "Loc",
                        "fields": [
                            {"name": "lat", "type": "double"},
                            {"name": "lon", "type": "double"},
                            {"name": "label", "type": ["null", "string"], "default": None},
                        ],
                    },
                ],
                "default": None,
            },
            {"name": "meta", "type": {"type": "map", "values": "string"}},
        ],
    },
]


def _word(rng: np.random.Generator, lo: int = 3, hi: int = 9) -> str:
    n = int(rng.integers(lo, hi))
    return "".join(string.ascii_lowercase[i] for i in rng.integers(0, 26, n))


def _value(rng: np.random.Generator, t, names: dict[str, dict]):
    """A random datum of Avro type ``t`` (plain Python: dicts for records,
    None / the value itself for unions — unions are wrapped only when the
    datum is rendered as Avro JSON)."""
    if isinstance(t, str):
        if t in names:
            return _value(rng, names[t], names)
        return {
            "long": lambda: int(rng.integers(-(10**12), 10**12)),
            "int": lambda: int(rng.integers(-(10**6), 10**6)),
            "double": lambda: round(float(rng.normal(0, 1000)), 4),
            "float": lambda: float(np.float32(round(float(rng.uniform(0, 100)), 2))),
            "string": lambda: _word(rng),
            "boolean": lambda: bool(rng.integers(0, 2)),
        }[t]()
    if isinstance(t, list):  # nullable union ["null", X]
        return None if rng.random() < 0.3 else _value(rng, t[1], names)
    kind = t["type"]
    if kind == "record":
        return {f["name"]: _value(rng, f["type"], names) for f in t["fields"]}
    if kind == "enum":
        return t["symbols"][int(rng.integers(0, len(t["symbols"])))]
    if kind == "array":
        return [_value(rng, t["items"], names) for _ in range(int(rng.integers(0, 4)))]
    if kind == "map":
        return {_word(rng, 2, 5): _value(rng, t["values"], names) for _ in range(int(rng.integers(0, 3)))}
    raise ValueError(f"unsupported type {t!r}")


def named_types(schema: dict) -> dict[str, dict]:
    """Full name -> definition of every named type in ``schema``."""
    out: dict[str, dict] = {}

    def walk(t, ns):
        if isinstance(t, list):
            for m in t:
                walk(m, ns)
        elif isinstance(t, dict):
            kind = t["type"]
            if kind in ("record", "enum", "fixed"):
                ns = t.get("namespace", ns)
                out[full_name(t["name"], ns)] = t
                out.setdefault(t["name"], t)
                for f in t.get("fields", []):
                    walk(f["type"], ns)
            elif kind == "array":
                walk(t["items"], ns)
            elif kind == "map":
                walk(t["values"], ns)

    walk(schema, None)
    return out


def to_avro_json(t, v, names: dict[str, dict], ns: str | None = None):
    """Render datum ``v`` of type ``t`` in the Avro JSON encoding (unions
    wrapped as ``{branch_full_name: value}``)."""
    if isinstance(t, str):
        return to_avro_json(names[t], v, names, ns) if t in names else v
    if isinstance(t, list):
        if v is None:
            return None
        branch = t[1]
        return {_branch_name(branch, ns): to_avro_json(branch, v, names, ns)}
    kind = t["type"]
    if kind == "record":
        ns = t.get("namespace", ns)
        return {f["name"]: to_avro_json(f["type"], v[f["name"]], names, ns) for f in t["fields"]}
    if kind == "array":
        return [to_avro_json(t["items"], x, names, ns) for x in v]
    if kind == "map":
        return {k: to_avro_json(t["values"], x, names, ns) for k, x in v.items()}
    return v


def _branch_name(t, ns: str | None) -> str:
    if isinstance(t, str):
        return t
    if t["type"] in ("record", "enum", "fixed"):
        return full_name(t["name"], t.get("namespace", ns))
    return t["type"]


def bulk_checksum(t, v, names: dict[str, dict]) -> int:
    """A shallow integer summary of one record datum, mirrored by the
    Spark-side aggregate in decode_bulk: per top-level field, ``1 + value``
    for integers, the size of arrays and maps, 1 for any other non-null
    value, 0 for null."""
    total = 0
    for f in t["fields"]:
        ft, x = f["type"], v[f["name"]]
        if isinstance(ft, list):
            ft = ft[1]
        if isinstance(ft, str) and ft in names:
            ft = names[ft]
        if x is None:
            continue
        if ft in ("long", "int"):
            total += 1 + x
        elif isinstance(ft, dict) and ft["type"] in ("array", "map"):
            total += len(x)
        else:
            total += 1
    return total


def _poison(rng: np.random.Generator, doc: dict, schema: dict) -> dict:
    """One strict-mode violation: a wrong-typed value, a missing required
    field, or an unknown enum symbol."""
    bad = dict(doc)
    kind = int(rng.integers(0, 3))
    fields = schema["fields"]
    if kind == 0:
        f = next(f for f in fields if f["type"] in ("long", "int"))
        bad[f["name"]] = "not-a-number"
    elif kind == 1:
        f = next(f for f in fields if isinstance(f["type"], str))
        del bad[f["name"]]
    else:
        f = next(f for f in fields if isinstance(f["type"], dict) and f["type"]["type"] == "enum")
        bad[f["name"]] = "NO_SUCH_SYMBOL"
    return bad


def write_bulk(
    path: str, seed: int, rows: int, unique: int = 6000, poison_rate: float = 0.01, n_schemas: int = 1
) -> dict:
    """decode_bulk's input: ONE parquet file of Avro documents over
    the first ``n_schemas`` of :data:`BULK_SCHEMAS`, with columns ``schema_id``, ``json`` (clean
    Avro-JSON), ``dirty`` (the same text with a seeded violation in about
    ``poison_rate`` of rows) and ``so`` (the single-object Avro encoding of
    the clean datum).  ``unique`` distinct datums are drawn and the rows
    sample them with replacement, which keeps generation cheap; decode
    work per row is unchanged.  Returns the expected per-schema row
    counts, checksums (of all rows, and of the rows left clean in
    ``dirty``) and violation counts."""
    rng = np.random.default_rng([seed, 2])
    names = [named_types(s) for s in BULK_SCHEMAS]
    headers = [single_object_header(s) for s in BULK_SCHEMAS]
    u_sid = rng.integers(0, n_schemas, unique)
    u_doc, u_json, u_so, u_sum = [], [], [], []
    for sid in u_sid:
        schema, nm = BULK_SCHEMAS[sid], names[sid]
        datum = _value(rng, schema, nm)
        doc = to_avro_json(schema, datum, nm)
        u_doc.append(doc)
        u_json.append(json.dumps(doc, separators=(",", ":")))
        u_so.append(headers[sid] + encode_datum(schema, datum, nm))
        u_sum.append(bulk_checksum(schema, datum, nm))
    pick = rng.integers(0, unique, rows)
    poisoned = rng.random(rows) < poison_rate
    ids = u_sid[pick]
    js = [u_json[i] for i in pick]
    dirty = list(js)
    for r in np.flatnonzero(poisoned):
        i = pick[r]
        dirty[r] = json.dumps(_poison(rng, u_doc[i], BULK_SCHEMAS[u_sid[i]]), separators=(",", ":"))
    n = n_schemas
    expect = {
        "rows": [int((ids == k).sum()) for k in range(n)],
        "checksum": [sum(u_sum[i] for i in pick[ids == k]) for k in range(n)],
        "poisoned": [int((poisoned & (ids == k)).sum()) for k in range(n)],
        "clean_checksum": [sum(u_sum[i] for i in pick[(ids == k) & ~poisoned]) for k in range(n)],
        "json_bytes": sum(len(x) for x in js),
    }
    pq.write_table(
        pa.table(
            {
                "row_id": np.arange(rows, dtype=np.int64),
                "schema_id": pa.array(ids, pa.int32()),
                "json": js,
                "dirty": dirty,
                "so": pa.array([u_so[i] for i in pick], pa.binary()),
            }
        ),
        path,
        row_group_size=max(1, rows // 16),  # splittable, so every core decodes
    )
    return expect


# ---------------------------------------------------------------------------
# random record schemas (schema_churn)
# ---------------------------------------------------------------------------

_PRIMS = ["long", "int", "double", "string", "boolean"]


def _field_types(rng: np.random.Generator, tag: str) -> list:
    """The fixed mix of field types every churn schema carries (in a
    seeded order, with seeded element types): the same decode work per
    schema on every seed, yet no two schemas alike."""
    def prim():
        return _PRIMS[int(rng.integers(0, len(_PRIMS)))]

    types = [
        "long",
        "string",
        prim(),
        {"type": "enum", "name": f"E{tag}", "symbols": [f"S{tag}_{i}" for i in range(int(rng.integers(2, 5)))]},
        {"type": "array", "items": prim()},
        {"type": "map", "values": prim()},
        ["null", prim()],
        {"type": "record", "name": f"R{tag}", "fields": [{"name": f"n{tag}_{i}", "type": prim()} for i in range(2)]},
    ]
    return [types[i] for i in rng.permutation(len(types))]


def random_schema(rng: np.random.Generator, uid: str) -> dict:
    """A record schema no other call produces: the record, its namespace
    and every named type carry ``uid``."""
    return {
        "type": "record",
        "name": f"Subject{uid}",
        "namespace": f"bench.churn.s{uid}",
        "fields": [
            {"name": f"c{i}_{_word(rng, 2, 6)}", "type": t}
            for i, t in enumerate(_field_types(rng, uid))
        ],
    }


def churn_batch(path: str, seed: int, iteration: int, n_schemas: int, rows: int) -> list[dict]:
    """One schema_churn iteration: ``n_schemas`` fresh schemas and one
    parquet file holding ``rows`` Avro-JSON documents for each (columns
    ``schema_id``, ``json``).  Returns per-schema dicts with the schema
    JSON text, its expected fingerprint and the plain datums."""
    rng = np.random.default_rng([seed, 3, iteration])
    out, ids, texts = [], [], []
    for k in range(n_schemas):
        schema = random_schema(rng, f"{seed}i{iteration}k{k}")
        names = named_types(schema)
        datums = [_value(rng, schema, names) for _ in range(rows)]
        for d in datums:
            ids.append(k)
            texts.append(json.dumps(to_avro_json(schema, d, names), separators=(",", ":")))
        out.append(
            {
                "schema": schema,
                "json": json.dumps(schema),
                "fingerprint": fingerprint64(schema),
                "datums": datums,
            }
        )
    pq.write_table(pa.table({"schema_id": pa.array(ids, pa.int32()), "json": texts}), path)
    return out


# ---------------------------------------------------------------------------
# commit batches (table_commits)
# ---------------------------------------------------------------------------


def commit_batch(
    path: str, seed: int, index: int, key_space: int, span: int
) -> dict:
    """Commit ``index``'s source rows: a contiguous key range of ``span``
    keys starting anywhere in ``[0, key_space)`` (so a batch both updates
    existing keys and inserts new ones past the seeded table's end), with
    new prices and priorities.  Written as one parquet file."""
    rng = np.random.default_rng([seed, 4, index])
    lo = int(rng.integers(0, key_space))
    keys = np.arange(lo, lo + span, dtype=np.int64)
    keys = keys[rng.random(span) < 0.9]  # holes, so ranges do not tile exactly
    cents = rng.integers(100_000, 50_000_000, len(keys)).astype(np.int64)
    prio = [PRIORITIES[i] for i in rng.integers(0, 5, len(keys))]
    pq.write_table(
        pa.table({"o_orderkey": keys, "o_totalprice": cents / 100.0, "o_orderpriority": prio}),
        path,
    )
    return {"keys": keys, "cents": cents, "prio": prio}
