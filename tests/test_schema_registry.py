"""Schema Registry client layer (VERDICT r4 #3): cache hit/miss/eviction,
subject-latest TTL, retry-on-5xx, compatibility pre-checks (server + local
structural can_read), and the client-backed Confluent decode with id-miss
dead-lettering — all against the in-process fake REST server
(tests/fake_schema_registry.py); no network leaves the process.
"""

from __future__ import annotations

import pytest

from anglerfish_spark.sources.schema_registry import (
    SchemaNotFoundError,
    SchemaRegistryClient,
    SchemaRegistryError,
    can_read,
)
from tests.fake_schema_registry import fake_registry

V1 = (
    '{"type":"record","name":"EventMsg","namespace":"stream","fields":['
    '{"name":"event_id","type":"long"},{"name":"value","type":"double"}]}'
)
V2 = (
    '{"type":"record","name":"EventMsg","namespace":"stream","fields":['
    '{"name":"event_id","type":"long"},{"name":"value","type":"double"},'
    '{"name":"event_type","type":"string","default":"unknown"}]}'
)
V_BAD = (  # added field WITHOUT a default: old data has no value for it
    '{"type":"record","name":"EventMsg","namespace":"stream","fields":['
    '{"name":"event_id","type":"long"},{"name":"value","type":"double"},'
    '{"name":"source","type":"string"}]}'
)


class TestClientCaching:
    def test_id_cache_hit_miss(self):
        with fake_registry() as (url, state):
            sid = state.register("events-value", V1)
            c = SchemaRegistryClient(url)
            before = state.requests
            assert c.schema_by_id(sid) == V1
            assert c.schema_by_id(sid) == V1  # served from cache
            assert state.requests == before + 1
            assert c.stats["hits"] == 1 and c.stats["misses"] == 1

    def test_id_cache_lru_eviction(self):
        with fake_registry() as (url, state):
            ids = [state.register(f"s{i}", V1.replace("EventMsg", f"M{i}")) for i in range(3)]
            c = SchemaRegistryClient(url, id_cache_size=2)
            for sid in ids:
                c.schema_by_id(sid)
            assert c.stats["evictions"] == 1
            # ids[0] was evicted (LRU): re-fetch misses again
            misses = c.stats["misses"]
            c.schema_by_id(ids[0])
            assert c.stats["misses"] == misses + 1
            # ids[2] is still resident
            hits = c.stats["hits"]
            c.schema_by_id(ids[2])
            assert c.stats["hits"] == hits + 1

    def test_subject_latest_ttl(self):
        clock = [0.0]
        with fake_registry() as (url, state):
            state.register("events-value", V1)
            c = SchemaRegistryClient(url, subject_ttl=60.0, _clock=lambda: clock[0])
            first = c.latest("events-value")
            assert first.schema_json == V1 and first.version == 1
            # a producer rolls v2; within TTL the client serves the cached v1
            state.register("events-value", V2)
            assert c.latest("events-value").version == 1
            clock[0] = 61.0  # TTL expired -> refetch sees v2
            assert c.latest("events-value").version == 2

    def test_register_invalidates_subject_cache(self):
        with fake_registry() as (url, state):
            state.register("events-value", V1)
            c = SchemaRegistryClient(url)
            assert c.latest("events-value").version == 1
            c.register("events-value", V2)  # own write must not serve stale
            assert c.latest("events-value").version == 2

    def test_latest_seeds_id_cache(self):
        with fake_registry() as (url, state):
            state.register("events-value", V1)
            c = SchemaRegistryClient(url)
            rs = c.latest("events-value")
            before = state.requests
            assert c.schema_by_id(rs.schema_id) == V1
            assert state.requests == before  # no extra round-trip


class TestClientFaults:
    def test_retries_transient_503(self):
        sleeps = []
        with fake_registry() as (url, state):
            sid = state.register("events-value", V1)
            state.fail_next = 2
            c = SchemaRegistryClient(url, retries=3, backoff=0.01, _sleep=sleeps.append)
            assert c.schema_by_id(sid) == V1
            assert len(sleeps) == 2  # two failures, two backoffs
            assert sleeps == [0.01, 0.02]  # exponential

    def test_gives_up_after_retries(self):
        with fake_registry() as (url, state):
            sid = state.register("events-value", V1)
            state.fail_next = 10
            c = SchemaRegistryClient(url, retries=1, backoff=0.0, _sleep=lambda s: None)
            with pytest.raises(SchemaRegistryError, match="gave up after 2 attempts"):
                c.schema_by_id(sid)

    def test_unknown_id_raises_not_found_without_retry(self):
        with fake_registry() as (url, state):
            c = SchemaRegistryClient(url, retries=3, _sleep=lambda s: None)
            before = state.requests
            with pytest.raises(SchemaNotFoundError):
                c.schema_by_id(999)
            assert state.requests == before + 1  # 404 is not retryable


class TestCompatibility:
    def test_server_side_check(self):
        with fake_registry() as (url, state):
            state.register("events-value", V1)
            c = SchemaRegistryClient(url)
            assert c.check_compatibility("events-value", V2) is True
            assert c.check_compatibility("events-value", V_BAD) is False

    def test_local_check_agrees(self):
        with fake_registry() as (url, state):
            state.register("events-value", V1)
            c = SchemaRegistryClient(url)
            assert c.check_compatibility_local("events-value", V2) == []
            reasons = c.check_compatibility_local("events-value", V_BAD)
            assert reasons and "source" in reasons[0]


class TestCanRead:
    """Structural Avro schema-resolution rules (spec 'Schema Resolution')."""

    def test_identity_and_default_fill(self):
        assert can_read(V1, V1) == []
        assert can_read(V1, V2) == []          # new field has a default
        assert can_read(V1, V_BAD) != []       # new field, no default

    def test_dropped_field_is_fine_forward(self):
        # reader with fewer fields reads anything the writer adds
        assert can_read(V2, V1) == []

    def test_primitive_promotions(self):
        mk = lambda t: f'{{"type":"record","name":"R","fields":[{{"name":"x","type":"{t}"}}]}}'
        assert can_read(mk("int"), mk("long")) == []
        assert can_read(mk("int"), mk("double")) == []
        assert can_read(mk("long"), mk("float")) == []
        assert can_read(mk("float"), mk("double")) == []
        assert can_read(mk("string"), mk("bytes")) == []
        assert can_read(mk("long"), mk("int")) != []    # narrowing
        assert can_read(mk("double"), mk("float")) != []
        assert can_read(mk("long"), mk("string")) != [] # unrelated

    def test_union_widening_and_member_check(self):
        plain = '{"type":"record","name":"R","fields":[{"name":"x","type":"long"}]}'
        nullable = '{"type":"record","name":"R","fields":[{"name":"x","type":["null","long"]}]}'
        assert can_read(plain, nullable) == []     # writer long fits reader union
        assert can_read(nullable, plain) != []     # writer null has no reader home

    def test_enum_symbol_coverage(self):
        mk = lambda syms: (
            '{"type":"record","name":"R","fields":[{"name":"e","type":'
            f'{{"type":"enum","name":"E","symbols":{syms}}}}}]}}'
        )
        assert can_read(mk('["A","B"]'), mk('["A","B","C"]')) == []
        assert can_read(mk('["A","B","C"]'), mk('["A","B"]')) != []

    def test_fixed_name_and_size(self):
        mk = lambda n, size: (
            '{"type":"record","name":"R","fields":[{"name":"f","type":'
            f'{{"type":"fixed","name":"{n}","size":{size}}}}}]}}'
        )
        assert can_read(mk("Hash", 16), mk("Hash", 16)) == []
        assert can_read(mk("Hash", 16), mk("Hash", 32)) != []

    def test_reader_field_alias_matches_renamed_writer_field(self):
        w = '{"type":"record","name":"R","fields":[{"name":"old","type":"long"}]}'
        r = (
            '{"type":"record","name":"R","fields":['
            '{"name":"new","type":"long","aliases":["old"]}]}'
        )
        assert can_read(w, r) == []

    def test_recursive_schema_terminates_and_is_self_compatible(self):
        # the reference's flagship recursive linked-list shape
        # (TestSchemaSanityCheck.scala:23-33)
        ll = (
            '{"type":"record","name":"Node","fields":['
            '{"name":"head","type":"long"},'
            '{"name":"tail","type":["null","Node"],"default":null}]}'
        )
        assert can_read(ll, ll) == []


class TestCanReadAgreesWithEvolve:
    """can_read is the *predicate* form of the evolve layer's resolution:
    on logical-annotation-free schemas the two must agree exactly —
    can_read()==[] iff evolve_struct builds without SchemaEvolutionError.
    (Logical types excluded: evolve adds carrier-bridge restrictions that
    are about value conversion, not schema compatibility.)"""

    REC = '{"type":"record","name":"R","fields":[%s]}'
    PAIRS = [
        # (writer fields, reader fields)
        ('{"name":"x","type":"long"}', '{"name":"x","type":"long"}'),
        ('{"name":"x","type":"int"}', '{"name":"x","type":"double"}'),
        ('{"name":"x","type":"double"}', '{"name":"x","type":"float"}'),
        ('{"name":"x","type":"string"}', '{"name":"x","type":"bytes"}'),
        ('{"name":"x","type":"long"}',
         '{"name":"x","type":"long"},{"name":"y","type":"string","default":"d"}'),
        ('{"name":"x","type":"long"}',
         '{"name":"x","type":"long"},{"name":"y","type":"string"}'),
        ('{"name":"old","type":"long"}',
         '{"name":"new","type":"long","aliases":["old"]}'),
        ('{"name":"x","type":"long"}', '{"name":"x","type":["null","long"]}'),
        ('{"name":"x","type":["null","long"]}', '{"name":"x","type":"long"}'),
        ('{"name":"x","type":["null","long"]}', '{"name":"x","type":["null","double"]}'),
        ('{"name":"x","type":{"type":"array","items":"int"}}',
         '{"name":"x","type":{"type":"array","items":"long"}}'),
        ('{"name":"x","type":{"type":"array","items":"long"}}',
         '{"name":"x","type":{"type":"array","items":"int"}}'),
        ('{"name":"x","type":{"type":"map","values":"int"}}',
         '{"name":"x","type":{"type":"map","values":"double"}}'),
        ('{"name":"x","type":{"type":"enum","name":"E","symbols":["A","B"]}}',
         '{"name":"x","type":{"type":"enum","name":"E","symbols":["A","B","C"]}}'),
        ('{"name":"x","type":{"type":"enum","name":"E","symbols":["A","B","C"]}}',
         '{"name":"x","type":{"type":"enum","name":"E","symbols":["A","B"]}}'),
        ('{"name":"x","type":{"type":"fixed","name":"Fx","size":4}}',
         '{"name":"x","type":{"type":"fixed","name":"Fx","size":4}}'),
        ('{"name":"x","type":{"type":"fixed","name":"Fx","size":4}}',
         '{"name":"x","type":{"type":"fixed","name":"Fx","size":8}}'),
        ('{"name":"x","type":"long"}', '{"name":"x","type":"string"}'),
        # named-type renames: a nested record renamed without a reader
        # alias is refused, a fixed renamed with one is read (Avro's rule)
        ('{"name":"x","type":{"type":"record","name":"A","fields":[{"name":"a","type":"int"}]}}',
         '{"name":"x","type":{"type":"record","name":"B","fields":[{"name":"a","type":"int"}]}}'),
        ('{"name":"x","type":{"type":"fixed","name":"F","size":4}}',
         '{"name":"x","type":{"type":"fixed","name":"G","size":4,"aliases":["F"]}}'),
    ]

    @pytest.mark.parametrize("wf,rf", PAIRS)
    def test_agreement(self, spark, wf, rf):
        from pyspark.sql import functions as F

        from anglerfish_spark.codec.evolve import evolve_struct
        from anglerfish_spark.errors import SchemaEvolutionError

        w, r = self.REC % wf, self.REC % rf
        compat = can_read(w, r) == []
        try:
            evolve_struct(F.col("c"), w, r)
            evolved = True
        except SchemaEvolutionError:
            evolved = False
        assert compat == evolved, (
            f"can_read={can_read(w, r)} but evolve_struct "
            f"{'built' if evolved else 'raised'} for writer={wf} reader={rf}"
        )


class TestClientBackedDecode:
    def test_confluent_decode_resolves_ids_via_registry(self, spark):
        from pyspark.sql import functions as F

        from anglerfish_spark.functions.avro_binary import (
            confluent_decode_client,
            confluent_encode,
        )

        with fake_registry() as (url, state):
            id1 = state.register("events-value", V1)
            id2 = state.register("events-value", V2)
            rows = [(i, float(i) / 2, "click" if i % 2 else None) for i in range(40)]
            df = spark.createDataFrame(rows, ["event_id", "value", "event_type"])
            v1_payload = F.to_json(F.struct("event_id", "value"))
            v2_payload = F.to_json(F.struct("event_id", "value", "event_type"))
            framed = df.select(
                "event_id",
                F.when(F.col("event_id") % 2 == 0, confluent_encode(v1_payload, V1, id1))
                .otherwise(confluent_encode(v2_payload, V2, id2))
                .alias("value"),
            )
            out = framed.select(
                "event_id",
                confluent_decode_client("value", url, V2, permissive=True).alias("m"),
            ).collect()
            assert all(r["m"]["error"] is None for r in out)
            got = {r["event_id"]: (r["m"]["schema_id"]) for r in out}
            assert all(sid == (id1 if eid % 2 == 0 else id2) for eid, sid in got.items())
            # v1 messages resolved into the v2 reader get the default fill
            import json as _json

            decoded = {r["event_id"]: _json.loads(r["m"]["json"]) for r in out}
            assert decoded[0]["event_type"] == "unknown"
            assert decoded[1]["event_type"] == "click"

    def test_unknown_id_dead_letters_permissive(self, spark):
        from pyspark.sql import functions as F

        from anglerfish_spark.functions.avro_binary import (
            confluent_decode_client,
            confluent_encode,
        )

        with fake_registry() as (url, state):
            id1 = state.register("events-value", V1)
            df = spark.createDataFrame([(1, 0.5), (2, 1.5)], ["event_id", "value"])
            payload = F.to_json(F.struct("event_id", "value"))
            framed = df.select(
                "event_id",
                F.when(
                    F.col("event_id") == 1, confluent_encode(payload, V1, id1)
                )
                .otherwise(confluent_encode(payload, V1, 4242))  # never registered
                .alias("value"),
            )
            out = {
                r["event_id"]: r["m"]
                for r in framed.select(
                    "event_id",
                    confluent_decode_client("value", url, V1, permissive=True).alias("m"),
                ).collect()
            }
            assert out[1]["error"] is None and out[1]["json"] is not None
            assert out[2]["json"] is None
            assert "4242" in out[2]["error"] and "not in registry" in out[2]["error"]
            # the poisoned frame still surfaces its id for producer routing
            assert out[2]["schema_id"] == 4242
