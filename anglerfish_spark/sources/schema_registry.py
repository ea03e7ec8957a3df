"""Confluent-style Schema Registry REST client.

The reference roadmap names "Schemaregistry support" as the consumption
surface it never built (/root/reference/README.md:25).  Round 4 added the
*wire framing* (magic 0x00 + 4-byte big-endian schema id,
``_unframe_confluent`` in ``functions/avro_binary.py``) with a static
id→schema map (``confluent_decode_registry``) standing in for the
consumer's cache; this module is the cache's real owner — the client
layer a deserializer calls when an id misses:

* ``schema_by_id`` — ``GET /schemas/ids/{id}``; ids are immutable in the
  registry, so entries cache forever under an LRU byte-count bound;
* ``latest`` — ``GET /subjects/{subject}/versions/latest``; *mutable*
  (producers register new versions), so entries carry a TTL;
* ``register`` — ``POST /subjects/{subject}/versions``; producers call it
  once per schema, consumers never do;
* ``check_compatibility`` — the server-side pre-check
  (``POST /compatibility/subjects/{subject}/versions/latest``) plus a
  client-side structural check (:func:`can_read`, Avro spec "Schema
  Resolution" rules over the engine's schema model) usable offline.

Transient faults (connection errors, HTTP 5xx) are retried with capped
exponential backoff; 404s raise :class:`SchemaNotFoundError` immediately —
an unknown id is a data problem (dead-letter the message), not a network
problem.  All endpoints and payload shapes follow Confluent's public REST
API documentation; there is no network in this sandbox, so tests drive the
client against an in-process fake server (tests/fake_schema_registry.py).
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from dataclasses import dataclass
from typing import Callable

from ..errors import AnglerfishError
from ..memo import Memo
from ..schema.model import (
    AvroArray,
    AvroEnum,
    AvroField,
    AvroFixed,
    AvroMap,
    AvroPrimitive,
    AvroRecord,
    AvroRecursionRef,
    AvroType,
    AvroUnion,
    Primitive,
)
from ..schema.parser import ParsedSchema, parse_schema


class SchemaRegistryError(AnglerfishError):
    """Registry interaction failed (after retries, or a non-retryable 4xx)."""


class SchemaNotFoundError(SchemaRegistryError):
    """404 from the registry: unknown schema id / subject."""


@dataclass(frozen=True)
class RegisteredSchema:
    subject: str
    schema_id: int
    version: int
    schema_json: str


#: HTTP statuses worth retrying — transient server states; 4xx are not
_RETRYABLE = frozenset({500, 502, 503, 504})

_CONTENT_TYPE = "application/vnd.schemaregistry.v1+json"


class SchemaRegistryClient:
    """Caching, retrying REST client.  ``_sleep``/``_clock`` are injectable
    for tests (backoff without real waits, TTL expiry without real time)."""

    def __init__(
        self,
        base_url: str,
        *,
        timeout: float = 5.0,
        retries: int = 3,
        backoff: float = 0.1,
        id_cache_size: int = 1024,
        subject_ttl: float = 60.0,
        _sleep: Callable[[float], None] = time.sleep,
        _clock: Callable[[], float] = time.monotonic,
    ) -> None:
        self.base_url = base_url.rstrip("/")
        self.timeout = timeout
        self.retries = retries
        self.backoff = backoff
        self.id_cache_size = id_cache_size
        self.subject_ttl = subject_ttl
        self._sleep = _sleep
        self._clock = _clock
        self._ids = Memo(id_cache_size)
        self._subjects: dict[str, tuple[float, RegisteredSchema]] = {}
        self.stats = {"hits": 0, "misses": 0, "evictions": 0, "requests": 0}

    # HTTP plumbing --------------------------------------------------------

    def _request(self, method: str, path: str, body: dict | None = None) -> dict:
        data = json.dumps(body).encode() if body is not None else None
        last: Exception | None = None
        for attempt in range(self.retries + 1):
            req = urllib.request.Request(
                self.base_url + path,
                data=data,
                method=method,
                headers={"Content-Type": _CONTENT_TYPE} if data else {},
            )
            self.stats["requests"] += 1
            try:
                with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                    return json.loads(resp.read().decode())
            except urllib.error.HTTPError as ex:
                if ex.code == 404:
                    raise SchemaNotFoundError(f"{method} {path}: not found") from ex
                if ex.code not in _RETRYABLE:
                    raise SchemaRegistryError(f"{method} {path}: HTTP {ex.code}") from ex
                last = ex
            except (urllib.error.URLError, OSError, TimeoutError) as ex:
                last = ex
            if attempt < self.retries:
                self._sleep(self.backoff * (2**attempt))
        raise SchemaRegistryError(
            f"{method} {path}: gave up after {self.retries + 1} attempts: {last}"
        ) from last

    # id -> schema (immutable; LRU) ----------------------------------------

    def schema_by_id(self, schema_id: int) -> str:
        """Writer schema JSON for a registry-assigned id (cached forever —
        registry ids are immutable — under an LRU entry-count bound)."""
        hit = schema_id in self._ids
        self.stats["hits" if hit else "misses"] += 1
        n = len(self._ids)
        schema = self._ids.get_or(
            schema_id, lambda: self._request("GET", f"/schemas/ids/{schema_id}")["schema"]
        )
        if not hit and len(self._ids) == n:
            self.stats["evictions"] += 1
        return schema

    # subject -> latest (mutable; TTL) ---------------------------------------

    def latest(self, subject: str) -> RegisteredSchema:
        """Latest registered version under a subject; cached for
        ``subject_ttl`` seconds (producers may register newer versions)."""
        now = self._clock()
        hit = self._subjects.get(subject)
        if hit is not None and hit[0] > now:
            self.stats["hits"] += 1
            return hit[1]
        self.stats["misses"] += 1
        d = self._request("GET", f"/subjects/{subject}/versions/latest")
        rs = RegisteredSchema(
            subject=subject,
            schema_id=int(d["id"]),
            version=int(d["version"]),
            schema_json=d["schema"],
        )
        self._subjects[subject] = (now + self.subject_ttl, rs)
        # the id mapping is free knowledge — seed the id cache
        self._ids.get_or(rs.schema_id, lambda: rs.schema_json)
        return rs

    # producer side -----------------------------------------------------------

    def register(self, subject: str, schema_json: str) -> int:
        """Register a schema under a subject; returns the assigned id.
        Invalidate the subject's TTL entry — "latest" just changed."""
        d = self._request("POST", f"/subjects/{subject}/versions", {"schema": schema_json})
        self._subjects.pop(subject, None)
        return int(d["id"])

    # compatibility -------------------------------------------------------------

    def check_compatibility(self, subject: str, schema_json: str) -> bool:
        """Server-side BACKWARD pre-check: can ``schema_json`` (as reader)
        read data written under the subject's latest version?"""
        d = self._request(
            "POST",
            f"/compatibility/subjects/{subject}/versions/latest",
            {"schema": schema_json},
        )
        return bool(d["is_compatible"])

    def check_compatibility_local(self, subject: str, schema_json: str) -> list[str]:
        """Client-side structural pre-check against the cached latest —
        usable before hitting the registry (and as a second opinion on its
        verdict): empty list = compatible, else human-readable reasons."""
        return can_read(self.latest(subject).schema_json, schema_json)


#: process-wide client pool: executors (pandas UDFs) share one client per
#: registry URL so the id cache actually amortizes across batches
_POOL = Memo(64)


def process_client(base_url: str) -> SchemaRegistryClient:
    return _POOL.get_or(base_url, lambda: SchemaRegistryClient(base_url))


# ---------------------------------------------------------------------------
# structural compatibility: Avro spec "Schema Resolution" as a checkable
# predicate over the engine's schema model (no Spark, no network)
# ---------------------------------------------------------------------------

#: writer primitive -> reader primitives it may promote to (spec resolution
#: rules; D3's decode-time promotions are the value-level mirror)
_PROMOTIONS: dict[Primitive, frozenset[Primitive]] = {
    Primitive.INT: frozenset({Primitive.LONG, Primitive.FLOAT, Primitive.DOUBLE}),
    Primitive.LONG: frozenset({Primitive.FLOAT, Primitive.DOUBLE}),
    Primitive.FLOAT: frozenset({Primitive.DOUBLE}),
    Primitive.STRING: frozenset({Primitive.BYTES}),
    Primitive.BYTES: frozenset({Primitive.STRING}),
}


def can_read(
    writer: ParsedSchema | AvroType | str, reader: ParsedSchema | AvroType | str
) -> list[str]:
    """Reasons the reader canNOT read the writer's data; empty = compatible.

    Implements the Avro specification's schema-resolution matching rules
    structurally: record field matching by name/alias with default fill,
    primitive promotions, enum symbol coverage, fixed name+size equality,
    union member-wise resolution.  Recursive schemas terminate via the
    assume-compatible-on-revisit rule (coinductive: a cycle is only
    incompatible if some finite unrolling differs, which the first visit
    already checks)."""
    wroot, wenv = _parts(writer)
    rroot, renv = _parts(reader)
    errs: list[str] = []
    _check(wroot, rroot, wenv, renv, "$", errs, set())
    return errs


def _parts(s: ParsedSchema | AvroType | str) -> tuple[AvroType, dict[str, AvroType]]:
    if isinstance(s, str):
        s = parse_schema(s)
    if isinstance(s, ParsedSchema):
        return s.root, s.env
    return s, {}


def _deref(t: AvroType, env: dict[str, AvroType]) -> AvroType:
    while isinstance(t, AvroRecursionRef):
        target = env.get(t.fqn)
        if target is None:
            raise SchemaRegistryError(f"dangling recursion ref {t.fqn!r}")
        t = target
    return t


def _names(t: AvroRecord | AvroEnum | AvroFixed) -> set[str]:
    """Names a reader type answers to: its fullname plus aliases (spec:
    aliases on the READER side map writer names onto reader types)."""
    return {t.fqn, t.name, *t.aliases}


def _check(w: AvroType, r: AvroType, wenv, renv, path: str, errs: list[str], seen) -> None:
    w = _deref(w, wenv)
    r = _deref(r, renv)

    if isinstance(w, AvroRecord) and isinstance(r, AvroRecord):
        key = (w.fqn, r.fqn, "record")
        if key in seen:
            return
        seen = seen | {key}
        if w.fqn != r.fqn and w.name not in _names(r) and w.fqn not in _names(r):
            errs.append(f"{path}: record name mismatch ({w.fqn} -> {r.fqn})")
            return
        wfields = {f.name: f for f in w.fields}
        for rf in r.fields:
            wf = wfields.get(rf.name) or _by_alias(rf, wfields)
            if wf is None:
                if not rf.has_default:
                    errs.append(
                        f"{path}.{rf.name}: reader field missing from writer and has no default"
                    )
                continue
            _check(wf.type, rf.type, wenv, renv, f"{path}.{rf.name}", errs, seen)
        return

    if isinstance(w, AvroEnum) and isinstance(r, AvroEnum):
        if w.fqn != r.fqn and w.name not in _names(r) and w.fqn not in _names(r):
            errs.append(f"{path}: enum name mismatch ({w.fqn} -> {r.fqn})")
            return
        extra = set(w.symbols) - set(r.symbols)
        if extra:
            errs.append(f"{path}: writer enum symbols {sorted(extra)} not in reader")
        return

    if isinstance(w, AvroFixed) and isinstance(r, AvroFixed):
        if w.fqn != r.fqn and w.name not in _names(r) and w.fqn not in _names(r):
            errs.append(f"{path}: fixed name mismatch ({w.fqn} -> {r.fqn})")
        if w.length != r.length:
            errs.append(f"{path}: fixed size {w.length} != reader size {r.length}")
        return

    if isinstance(w, AvroArray) and isinstance(r, AvroArray):
        _check(w.items, r.items, wenv, renv, f"{path}[]", errs, seen)
        return

    if isinstance(w, AvroMap) and isinstance(r, AvroMap):
        _check(w.values, r.values, wenv, renv, f"{path}{{}}", errs, seen)
        return

    if isinstance(w, AvroUnion):
        # every writer member must be readable (data may carry any of them)
        for m in w.members:
            member_errs: list[str] = []
            _check(m, r, wenv, renv, path, member_errs, seen)
            errs.extend(member_errs)
        return

    if isinstance(r, AvroUnion):
        # writer non-union: some reader member must accept it
        for m in r.members:
            trial: list[str] = []
            _check(w, m, wenv, renv, path, trial, seen)
            if not trial:
                return
        errs.append(f"{path}: no reader union member accepts writer {_tname(w)}")
        return

    if isinstance(w, AvroPrimitive) and isinstance(r, AvroPrimitive):
        if w.kind is r.kind or r.kind in _PROMOTIONS.get(w.kind, frozenset()):
            return
        errs.append(f"{path}: {w.kind.value} not readable as {r.kind.value}")
        return

    errs.append(f"{path}: {_tname(w)} not readable as {_tname(r)}")


def _by_alias(rf: AvroField, wfields: dict[str, AvroField]) -> AvroField | None:
    for a in rf.aliases:
        wf = wfields.get(a)
        if wf is not None:
            return wf
    return None


def _tname(t: AvroType) -> str:
    if isinstance(t, AvroPrimitive):
        return t.kind.value
    if isinstance(t, (AvroRecord, AvroEnum, AvroFixed)):
        return f"{type(t).__name__.lower().removeprefix('avro')} {t.fqn}"
    return type(t).__name__.removeprefix("Avro").lower()
