"""Kafka-shaped streaming ingestion: single-object Avro messages → typed
windowed aggregates.

The reference's roadmap names Kafka + Schema Registry consumption as the
target I/O surface (/root/reference/README.md:21-27, never implemented).
The engine's decode API is already message-bus-shaped — spec single-object
framing (0xC3 0x01 + CRC-64-AVRO fingerprint, ``_unframe_single_object``
and ``single_object_decode`` in functions/avro_binary.py) is exactly what a
registry-aware Kafka consumer sees per record — so this module closes the
loop: a source relation in Kafka's wire shape (``value binary, topic,
partition, offset``) flows through ``single_object_decode_typed`` (the
fingerprint-checked JVM binary decode straight to the typed struct) →
event-time windows, and the SAME pipeline function runs on a batch
DataFrame (driver-checkable against a SQL oracle) or behind
``readStream`` (true streaming path, tests/test_streaming.py).

On a real cluster the source line becomes ``spark.readStream
.format("kafka")...`` — everything downstream of ``value`` is unchanged;
that swap is the design point.  Scale: the decode is one JVM call per
message (no Python worker), then the windowed agg is a
map-side-combinable hash aggregate keyed by (window, type); watermarks
bound streaming state.  The permissive route keeps the JSON hop
(``single_object_decode_permissive`` → the JSON decoder) for its error
channel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..codec.decoder import decode_json
from ..functions.avro_binary import single_object_decode, single_object_encode
from ..operators.common import dsum, dsum_sql
from ..registry import query
from ..session import prepare
from ..sources.registry import load_table, read_parquet
from .windows import tumbling_agg

#: message schema — what a producer would register; ts travels as
#: timestamp-micros on a long carrier (Kafka messages carry their own
#: event time; the broker timestamp is transport metadata)
MESSAGE_SCHEMA = """
{"type":"record","name":"EventMsg","namespace":"stream","fields":[
  {"name":"event_id","type":"long"},
  {"name":"event_type","type":"string"},
  {"name":"value","type":"double"},
  {"name":"ts","type":{"type":"long","logicalType":"timestamp-micros"}}
]}
"""

TOPIC = "events.v1"


def events_as_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table re-shaped as a Kafka-wire relation: one
    single-object-encoded Avro message per event plus transport metadata
    (topic, partition, offset).  Stands in for ``spark.read.format("kafka")``
    in this connector-less sandbox; producers would emit identical bytes.

    The *encode* is the producer's cost, not the consumer's — a real
    Kafka source reads bytes that already exist — so the relation is
    materialized ONCE per (process, sf_dir) and re-read from parquet
    afterwards (VERDICT r4 #2: the bench number must time consumption,
    not stand-in generation).

    ``fanout=True`` on the build: the encode pandas UDF is the build's
    CPU cost, and a small parquet stand-in is one row group — without
    the fan-out the whole codec path runs on one core (measured 19.3 s
    at sf0.1; ~1.5 s fanned out).  The materialized relation inherits
    the fan-out's file count, so consumers read in parallel the way a
    partitioned topic is consumed."""
    from ..memo import materialize_once

    def build(path: str) -> None:
        ev = load_table(spark, sf_dir, "events", fanout=True)
        payload = F.to_json(
            F.struct(
                F.col("event_id"),
                F.col("event_type"),
                F.col("value"),
                F.unix_micros(F.col("ts")).alias("ts"),
            )
        )
        ev.select(
            single_object_encode(payload, MESSAGE_SCHEMA).alias("value"),
            F.lit(TOPIC).alias("topic"),
            F.spark_partition_id().alias("partition"),
            F.col("event_id").alias("offset"),
        ).write.parquet(path)

    return _read_fanned(spark, materialize_once("stream_messages", sf_dir, build))


def _read_fanned(spark: SparkSession, path: str) -> DataFrame:
    """Read a materialized message relation at consumer parallelism.  A
    real topic is consumed across its partitions, so the decode UDF must
    not serialize onto one core.  The scan usually delivers that by
    itself: the stand-in is written as ~defaultParallelism files and
    Spark's split packing floors scan parallelism at
    ``spark.sql.files.minPartitionNum`` (defaults to the session's
    parallelism), so the unconditional ``repartition`` this helper used
    to apply was a redundant exchange — measured 1.35 -> 1.05 s on the
    q_stream_decode shape at sf0.1 (r14-opt, guide §2.4).  The shuffle
    is kept ONLY for the degenerate layout (scan partitions well below
    the session's parallelism, e.g. a single-file stand-in under a
    hostile conf)."""
    df = read_parquet(spark, path)
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        df = df.repartition(target)
    return df


def decode_messages(messages: DataFrame) -> DataFrame:
    """Kafka-wire relation → typed event columns.  Works identically on
    batch and streaming inputs: fingerprint-validated single-object decode
    emitting the typed struct DIRECTLY, one JVM call per message
    (``single_object_decode_typed``; binary decode is schema-directed, so
    the datum is well-typed without a JSON-text round-trip).  The JSON hop
    (``single_object_decode`` + ``decode_json``) remains the route when
    downstream wants the permissive error channel or text auditing —
    see :func:`decode_messages_permissive`."""
    from ..functions.avro_binary import single_object_decode_typed

    # explode over a one-element array is a Generate barrier: the window's
    # isnotnull(ts) filter cannot be pushed below it, so each message is
    # decoded once, after the consumer fan-out, and not again on the scan
    m = single_object_decode_typed("value", MESSAGE_SCHEMA)
    dec = messages.select(F.explode(F.array(m)).alias("m"))
    return dec.select(
        F.col("m.event_id").alias("event_id"),
        F.col("m.event_type").alias("event_type"),
        F.col("m.value").alias("value"),
        F.col("m.ts").cast("timestamp").alias("ts"),
    )


def windowed_counts(events: DataFrame, watermark: str | None = None) -> DataFrame:
    """Hourly tumbling counts/sums per event type over decoded messages."""
    out = tumbling_agg(
        events,
        "ts",
        "1 hour",
        keys=("event_type",),
        aggs=(F.count(F.lit(1)).alias("cnt"), dsum(F.col("value")).alias("sum_value")),
        watermark=watermark,
    )
    return out.drop("window_end")


@query(
    "q_stream_decode",
    oracle=f"""
SELECT CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP)) / 3600) * 3600 AS BIGINT) AS window_start,
       event_type, COUNT(*) AS cnt, {dsum_sql('value')} AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
""",
    group="streaming",
)
def q_stream_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Kafka-shaped consumption pipeline, batch-checkable: events →
    single-object Avro messages (encode) → fingerprint-validated decode →
    typed columns → hourly windows.  The encode∘decode round-trip is the
    identity, so the oracle is plain SQL over events — any framing,
    fingerprint, codec, or logical-type defect breaks the match.  The same
    ``decode_messages``/``windowed_counts`` run behind ``readStream`` in
    tests/test_streaming.py."""
    prepare(spark)
    msgs = events_as_messages(spark, sf_dir)
    return windowed_counts(decode_messages(msgs)).orderBy("window_start", "event_type")


# ---------------------------------------------------------------------------
# schema-registry consumption: interleaved schema versions, one relation
# ---------------------------------------------------------------------------


def _two_version_messages(spark, sf_dir, key, value_expr) -> DataFrame:
    """Stand-in topic interleaving two writer-schema versions (even events
    under v1, odd under v2), materialized once per (process, sf_dir) —
    the producer-side encode is setup, not consumption (VERDICT r4 #2).
    ``value_expr(v1_payload, v2_payload, even)`` builds the framed value
    column (spec single-object or Confluent framing)."""
    from ..memo import materialize_once

    def build(path: str) -> None:
        ev = load_table(spark, sf_dir, "events", fanout=True)
        v1 = F.to_json(F.struct(F.col("event_id"), F.col("value")))
        v2 = F.to_json(F.struct(F.col("event_id"), F.col("value"), F.col("event_type")))
        even = (F.col("event_id") % 2) == 0
        ev.select(value_expr(v1, v2, even)).write.parquet(path)

    return _read_fanned(spark, materialize_once(key, sf_dir, build))

#: writer schema v1 — early producers: no event_type yet
MESSAGE_SCHEMA_V1 = """
{"type":"record","name":"EventMsg","namespace":"stream","fields":[
  {"name":"event_id","type":"long"},
  {"name":"value","type":"double"}
]}
"""

#: reader (= latest writer) schema: event_type added with a default, so
#: v1 messages resolve with the fill-in — the compatible-evolution rule
MESSAGE_SCHEMA_V2 = """
{"type":"record","name":"EventMsg","namespace":"stream","fields":[
  {"name":"event_id","type":"long"},
  {"name":"value","type":"double"},
  {"name":"event_type","type":"string","default":"unknown"}
]}
"""


@query(
    "q_stream_decode_registry",
    oracle=f"""
SELECT CASE WHEN event_id % 2 = 0 THEN 'unknown' ELSE event_type END AS event_type,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       {dsum_sql('value')} AS sum_value
FROM events
GROUP BY 1
ORDER BY event_type
""",
    group="streaming",
)
def q_stream_decode_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full schema-registry consumption path
    (functions/avro_binary.py single_object_decode_registry): a topic
    interleaving messages from TWO schema versions — even events framed
    with writer v1 (no event_type), odd with v2 — reads as ONE uniform
    relation under the v2 reader: each message dispatches to its writer
    schema by the embedded CRC-64-AVRO fingerprint, then resolves into
    the reader (v1 rows get the declared default 'unknown').  This is the
    consumer shape a registry-backed Kafka pipeline runs; the oracle
    derives the same relation from the raw events with plain SQL, so the
    framing, fingerprint dispatch, resolution, and default fill are all
    under the hash check."""
    from ..functions.avro_binary import (
        single_object_decode_registry_typed,
        single_object_encode,
    )

    prepare(spark)
    msgs = _two_version_messages(
        spark,
        sf_dir,
        "registry_messages",
        lambda v1, v2, even: F.when(even, single_object_encode(v1, MESSAGE_SCHEMA_V1))
        .otherwise(single_object_encode(v2, MESSAGE_SCHEMA_V2))
        .alias("value"),
    )
    # typed registry decode (r5): fingerprint dispatch + writer->reader
    # resolution emit the reader struct straight from the Arrow batch
    decoded = msgs.select(
        single_object_decode_registry_typed(
            "value", [MESSAGE_SCHEMA_V1, MESSAGE_SCHEMA_V2], MESSAGE_SCHEMA_V2
        ).alias("m")
    )
    return (
        decoded.select(
            F.col("m.event_type").alias("event_type"),
            F.col("m.value").alias("value"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Confluent Schema Registry framing: what a real Kafka topic carries
# ---------------------------------------------------------------------------

#: the consumer's id cache after resolving against the registry — ids are
#: registry-assigned; 7/12 chosen non-sequential as real registries assign
CONFLUENT_IDS = {7: MESSAGE_SCHEMA_V1, 12: MESSAGE_SCHEMA_V2}


@query(
    "q_stream_decode_confluent",
    oracle=f"""
SELECT CAST(CASE WHEN event_id % 2 = 0 THEN 7 ELSE 12 END AS INTEGER) AS schema_id,
       CASE WHEN event_id % 2 = 0 THEN 'unknown' ELSE event_type END AS event_type,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       {dsum_sql('value')} AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY schema_id, event_type
""",
    group="streaming",
)
def q_stream_decode_confluent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confluent-framed registry consumption (magic 0x00 + 4-byte BE schema
    id + Avro body — functions/avro_binary.py:confluent_*): the framing an
    actual Kafka + Confluent Schema Registry topic carries, vs the Avro-spec
    single-object framing of q_stream_decode_registry.  Even events are
    produced under registered id 7 (writer v1, no event_type), odd under id
    12 (v2); the consumer dispatches each message by its embedded id,
    resolves writer→reader (v2), and surfaces the writer id as a column —
    grouping by (schema_id, event_type) puts the id dispatch, evolution
    default fill, body codec, and 5-byte framing all under the hash check.
    Reference roadmap: "Schemaregistry support"
    (/root/reference/README.md:25)."""
    from ..functions.avro_binary import confluent_decode_registry_typed, confluent_encode

    prepare(spark)
    msgs = _two_version_messages(
        spark,
        sf_dir,
        "confluent_messages",
        lambda v1, v2, even: F.when(even, confluent_encode(v1, MESSAGE_SCHEMA_V1, 7))
        .otherwise(confluent_encode(v2, MESSAGE_SCHEMA_V2, 12))
        .alias("value"),
    )
    # typed Confluent decode (r5): id dispatch + writer->reader resolution,
    # reader struct straight from the Arrow batch, writer id as a column
    dec = msgs.select(
        confluent_decode_registry_typed("value", CONFLUENT_IDS, MESSAGE_SCHEMA_V2).alias("m")
    )
    return (
        dec.select(
            F.col("m.schema_id").alias("schema_id"),
            F.col("m.value.event_type").alias("event_type"),
            F.col("m.value.value").alias("value"),
        )
        .groupBy("schema_id", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .orderBy("schema_id", "event_type")
    )


# ---------------------------------------------------------------------------
# PERMISSIVE streaming decode: poisoned messages → dead-letter, not job death
# ---------------------------------------------------------------------------


def decode_messages_permissive(messages: DataFrame) -> DataFrame:
    """Kafka-wire relation → typed event columns + an ``error`` channel.
    Corrupt frames (bad magic, truncated body, fingerprint mismatch) yield a
    row with null typed columns and a non-null error — the long-running
    consumer's contract: one poisoned message must never kill the stream.
    Works identically on batch and streaming inputs."""
    from ..functions.avro_binary import single_object_decode_permissive

    dec = messages.select(
        single_object_decode_permissive("value", MESSAGE_SCHEMA).alias("d"),
        F.col("offset"),
    )
    # dead-letter rows carry no decodable payload; feed the strict decoder a
    # schema-valid placeholder for them (masked back to null below) so the
    # one decoder plan serves both routes
    placeholder = '{"event_id":0,"event_type":"","value":0.0,"ts":0}'
    good = decode_json(
        dec.select(
            F.when(F.col("d.error").isNull(), F.col("d.value"))
            .otherwise(F.lit(placeholder))
            .alias("json"),
            F.col("d.error").alias("error"),
            "offset",
        ),
        "json",
        MESSAGE_SCHEMA,
    )
    return good.select(
        F.when(F.col("error").isNull(), F.col("decoded.event_id")).alias("event_id"),
        F.when(F.col("error").isNull(), F.col("decoded.event_type")).alias("event_type"),
        F.when(F.col("error").isNull(), F.col("decoded.value")).alias("value"),
        F.when(F.col("error").isNull(), F.col("decoded.ts").cast("timestamp")).alias("ts"),
        F.col("error"),
        F.col("offset"),
    )


@query(
    "q_stream_decode_errors",
    oracle=f"""
SELECT CASE WHEN event_id % 7 = 0 THEN '_dead_letter' ELSE event_type END AS route,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       {dsum_sql('CASE WHEN event_id % 7 = 0 THEN 0.0 ELSE value END')} AS sum_value
FROM events
GROUP BY 1
ORDER BY route
""",
    group="streaming",
)
def q_stream_decode_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode streaming decode with a dead-letter route: every 7th
    message is corrupted in transit (magic bytes replaced — the framing
    check fails deterministically), and the permissive decoder routes it to
    the error channel instead of failing the batch, while healthy messages
    decode normally.  Output is per-route traffic accounting: good rows
    grouped by event_type, poisoned rows under '_dead_letter' (their
    payloads are unreadable, so they contribute 0 to sum_value).  The oracle
    derives the same routing from the raw events by the corruption rule, so
    the permissive contract — exactly the corrupt rows land in the
    dead-letter, everything else decodes intact — is under the hash check.
    The same ``decode_messages_permissive`` runs behind ``readStream`` in
    tests/test_streaming.py with injected corruption."""
    prepare(spark)
    msgs = events_as_messages(spark, sf_dir)
    # corrupt in transit: stamp garbage over the 2-byte magic of every 7th
    # message (offset carries event_id here)
    corrupted = msgs.withColumn(
        "value",
        F.when(
            F.col("offset") % 7 == 0,
            F.concat(F.lit(bytearray(b"\xde\xad")), F.expr("substring(value, 3, length(value))")),
        ).otherwise(F.col("value")),
    )
    typed = decode_messages_permissive(corrupted)
    return (
        typed.select(
            F.when(F.col("error").isNotNull(), F.lit("_dead_letter"))
            .otherwise(F.col("event_type"))
            .alias("route"),
            F.when(F.col("error").isNotNull(), F.lit(0.0))
            .otherwise(F.col("value"))
            .alias("value"),
        )
        .groupBy("route")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .orderBy("route")
    )
