"""True Structured-Streaming path: the same window builders behind
``readStream`` produce the same results as batch."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from anglerfish_spark.sources.registry import load_table
from anglerfish_spark.streaming.windows import tumbling_agg


def test_streaming_tumble_matches_batch(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/src"
        ev.write.json(src)
        schema = ev.schema

        stream = spark.readStream.schema(schema).json(src)
        assert stream.isStreaming
        agg = tumbling_agg(
            stream,
            "ts",
            "1 hour",
            keys=("event_type",),
            aggs=(F.count(F.lit(1)).alias("cnt"),),
            watermark="1 hour",
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("tumble_smoke")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = spark.sql("SELECT * FROM tumble_smoke").collect()
        batch = tumbling_agg(
            ev, "ts", "1 hour", keys=("event_type",), aggs=(F.count(F.lit(1)).alias("cnt"),)
        ).collect()
        # append mode only emits windows the watermark has closed; every
        # emitted row must match its batch counterpart
        batch_map = {(r["window_start"], r["event_type"]): r["cnt"] for r in batch}
        assert len(got) > 0
        for r in got:
            assert batch_map[(r["window_start"], r["event_type"])] == r["cnt"]


def test_approx_distinct_error_bound(spark, sf_dir):
    from anglerfish_spark.operators.relational_ext import q_approx_distinct

    rows = q_approx_distinct(spark, sf_dir).collect()
    assert rows and all(r["approx_ok"] for r in rows), rows


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    """True stream-stream join: both sides watermarked file streams; the
    joined row set must equal the batch interval join."""
    from anglerfish_spark.streaming.joins import interval_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/src"
        ev.write.json(src)
        schema = ev.schema

        def side(kind):
            s = spark.readStream.schema(schema).json(src)
            return s.where(F.col("event_type") == kind).withWatermark("ts", "2 hours")

        joined = interval_join(side("click"), side("purchase"))
        q = (
            joined.select("click_id", "purchase_id")
            .writeStream.format("memory")
            .queryName("ssjoin_smoke")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        got = {
            (r["click_id"], r["purchase_id"])
            for r in spark.sql("SELECT * FROM ssjoin_smoke").collect()
        }
        batch = {
            (r["click_id"], r["purchase_id"])
            for r in interval_join(
                ev.where(F.col("event_type") == "click"),
                ev.where(F.col("event_type") == "purchase"),
            )
            .select("click_id", "purchase_id")
            .collect()
        }
        assert len(batch) > 0
        assert got == batch


def test_streaming_session_window_matches_batch(spark, sf_dir):
    """Session windows behind readStream: every window append-mode emits
    (closed by the watermark) must match its batch counterpart."""
    from anglerfish_spark.streaming.windows import session_agg

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/src"
        ev.write.json(src)
        stream = spark.readStream.schema(ev.schema).json(src)
        agg = session_agg(
            stream, "ts", "30 minutes", keys=("user_id",),
            aggs=(F.count(F.lit(1)).alias("cnt"),), watermark="1 hour",
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("session_smoke")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = spark.sql("SELECT * FROM session_smoke").collect()
        batch = session_agg(
            ev, "ts", "30 minutes", keys=("user_id",),
            aggs=(F.count(F.lit(1)).alias("cnt"),),
        ).collect()
        batch_map = {(r["session_start"], r["user_id"]): r["cnt"] for r in batch}
        assert len(got) > 0
        for r in got:
            assert batch_map[(r["session_start"], r["user_id"])] == r["cnt"]


def test_streaming_dedup_within_watermark(spark, sf_dir):
    """dropDuplicatesWithinWatermark on a keyed stream: one row per key."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    doubled = ev.unionAll(ev)  # duplicate every event
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/src"
        doubled.write.json(src)
        stream = spark.readStream.schema(ev.schema).json(src)
        dedup = stream.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        q = (
            dedup.writeStream.format("memory")
            .queryName("dedup_smoke")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = spark.sql("SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS d FROM dedup_smoke").collect()[0]
        assert got["n"] == got["d"] == ev.count()


def test_foreach_batch_upsert_sink(spark, sf_dir):
    """foreachBatch keyed upsert: streaming per-user aggregates merged
    into a parquet table equal the batch aggregate at the end."""
    from anglerfish_spark.streaming.sinks import start_upsert_sink

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/src"
        # two files → at least two micro-batches under maxFilesPerTrigger=1
        ev.where(F.col("user_id") % 2 == 0).write.json(f"{src}/a")
        ev.where(F.col("user_id") % 2 == 1).write.json(f"{src}/b")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .json(f"{src}/*")
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        table = f"{d}/table"
        q = start_upsert_sink(
            agg.select("user_id", "cnt"),
            table,
            ["user_id"],
            checkpoint=f"{d}/ckpt",
        )
        q.awaitTermination(300)
        final = {r["user_id"]: r["cnt"] for r in spark.read.parquet(table).collect()}
        batch = {
            r["user_id"]: r["cnt"]
            for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        assert final == batch


def test_stream_decode_matches_batch(spark, sf_dir):
    """Kafka-shaped pipeline behind a true readStream: single-object Avro
    messages from files → fingerprint-validated decode → watermarked
    hourly windows; every append-mode emit must match the batch run."""
    from anglerfish_spark.streaming.decode import (
        decode_messages,
        events_as_messages,
        windowed_counts,
    )

    msgs = events_as_messages(spark, sf_dir)
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/src"
        msgs.write.parquet(src)

        stream = spark.readStream.schema(msgs.schema).parquet(src)
        agg = windowed_counts(decode_messages(stream), watermark="1 hour")
        q = (
            agg.writeStream.format("memory")
            .queryName("stream_decode_smoke")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        got = spark.sql("SELECT * FROM stream_decode_smoke").collect()
        batch = windowed_counts(decode_messages(msgs)).collect()
        batch_map = {
            (r["window_start"], r["event_type"]): (r["cnt"], r["sum_value"]) for r in batch
        }
        assert len(got) > 0
        for r in got:
            assert batch_map[(r["window_start"], r["event_type"])] == (
                r["cnt"],
                r["sum_value"],
            )


def test_stream_decode_decodes_each_message_once(spark, sf_dir):
    """The window's isnotnull(ts) filter must not be pushed below the
    decode: the executed plan of q_stream_decode holds one decoder call
    per message, and no Python UDF."""
    from anglerfish_spark.streaming.decode import q_stream_decode

    plan = q_stream_decode(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("avro_binary_decode(") == 1, plan
    assert "ArrowEvalPython" not in plan, plan


def test_stream_decode_confluent_matches_batch(spark, sf_dir):
    """Confluent-framed registry consumption behind a true readStream:
    messages interleaving two schema ids decode to one reader-shaped
    relation with the writer id surfaced; stateless decode in append mode
    must reproduce the batch rows exactly."""
    import json as _json

    from anglerfish_spark.functions.avro_binary import (
        confluent_decode_registry,
        confluent_encode,
    )
    from anglerfish_spark.streaming.decode import (
        CONFLUENT_IDS,
        MESSAGE_SCHEMA_V1,
        MESSAGE_SCHEMA_V2,
    )

    ev = load_table(spark, sf_dir, "events").limit(500)
    even = (F.col("event_id") % 2) == 0
    msgs = ev.select(
        F.when(
            even,
            confluent_encode(
                F.to_json(F.struct("event_id", "value")), MESSAGE_SCHEMA_V1, 7
            ),
        )
        .otherwise(
            confluent_encode(
                F.to_json(F.struct("event_id", "value", "event_type")),
                MESSAGE_SCHEMA_V2,
                12,
            )
        )
        .alias("value")
    )

    def decode(df):
        return df.select(
            confluent_decode_registry("value", CONFLUENT_IDS, MESSAGE_SCHEMA_V2).alias("m")
        ).select("m.schema_id", "m.json")

    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/src"
        msgs.write.parquet(src)
        stream = spark.readStream.schema(msgs.schema).parquet(src)
        q = (
            decode(stream)
            .writeStream.format("memory")
            .queryName("confluent_smoke")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = {
            (r["schema_id"], _json.loads(r["json"])["event_id"])
            for r in spark.sql("SELECT * FROM confluent_smoke").collect()
        }
    batch = {
        (r["schema_id"], _json.loads(r["json"])["event_id"])
        for r in decode(msgs).collect()
    }
    assert len(batch) == 500 and got == batch
    # v1-framed (even) ids carry schema id 7, v2 (odd) carry 12
    assert all(sid == (7 if eid % 2 == 0 else 12) for sid, eid in got)


def test_stream_decode_dead_letter(spark, sf_dir):
    """PERMISSIVE streaming decode: corrupt frames injected into the topic
    route to the dead-letter channel (error non-null, typed columns null)
    while healthy messages decode — the stream survives poisoned input."""
    from anglerfish_spark.streaming.decode import (
        decode_messages_permissive,
        events_as_messages,
    )

    # deterministic subset: limit() on a repartitioned relation picks
    # whichever rows arrive first, so the streamed subset would differ
    # from the recount below; offset (= event_id) is stable
    msgs = events_as_messages(spark, sf_dir).where(F.col("offset") < 700)
    corrupted = msgs.withColumn(
        "value",
        F.when(
            F.col("offset") % 7 == 0,
            F.concat(
                F.lit(bytearray(b"\xde\xad")), F.expr("substring(value, 3, length(value))")
            ),
        ).otherwise(F.col("value")),
    )
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/src"
        corrupted.write.parquet(src)
        stream = spark.readStream.schema(corrupted.schema).parquet(src)
        q = (
            decode_messages_permissive(stream)
            .writeStream.format("memory")
            .queryName("deadletter_smoke")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        rows = spark.sql("SELECT * FROM deadletter_smoke").collect()

    total = corrupted.count()
    expect_dead = corrupted.where(F.col("offset") % 7 == 0).count()
    dead = [r for r in rows if r["error"] is not None]
    good = [r for r in rows if r["error"] is None]
    assert len(rows) == total  # nothing dropped, nothing crashed
    assert len(dead) == expect_dead and expect_dead > 0
    assert all(r["event_id"] is None and r["ts"] is None for r in dead)
    assert all(r["event_id"] is not None and r["event_type"] is not None for r in good)
    # dead-letter rows keep their transport offset for replay/audit
    assert all(r["offset"] % 7 == 0 for r in dead)


def test_stateful_count_on_rocksdb_backend(spark, sf_dir):
    """The production state backend: the same applyInPandasWithState
    pipeline runs on RocksDBStateStoreProvider (what a real cluster uses
    for large state) and must produce the exact batch totals."""
    from anglerfish_spark.streaming.stateful import stateful_user_counts

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")
        with tempfile.TemporaryDirectory(prefix="anglerfish_rocks_") as d:
            src = f"{d}/src"
            ev.write.json(src)
            stream = spark.readStream.schema(ev.schema).json(src)
            q = (
                stateful_user_counts(stream)
                .writeStream.format("memory")
                .queryName("rocks_smoke")
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
        got = {
            r.user_id: r.cnt
            for r in spark.sql(
                "SELECT user_id, MAX(cnt) AS cnt FROM rocks_smoke GROUP BY user_id"
            ).collect()
        }
        batch = {
            r.user_id: r.cnt
            for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        assert got == batch
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


class TestStreamPatternStateMachine:
    """Cross-batch continuation: a match that SPANS a micro-batch
    boundary must be counted once, and only via carried state."""

    def _run(self, batch_lists):
        import pandas as pd

        from anglerfish_spark.streaming.stateful import _match_pattern

        class _FakeState:
            exists = False
            get = None

            def update(self, v):
                self.get = v
                self.exists = True

        st = _FakeState()
        out, t0 = None, 0
        for batch in batch_lists:
            pdf = pd.DataFrame(
                {
                    "ts_us": range(t0, t0 + len(batch)),
                    "event_id": range(t0, t0 + len(batch)),
                    "event_type": batch,
                }
            )
            t0 += len(batch)
            # emulate the engine: one call per batch, state carried over
            (out,) = list(_match_pattern((7,), iter([pdf]), st))
        return out.iloc[0]

    def test_match_spanning_batches(self):
        r = self._run([["view", "click"], ["click", "purchase"]])
        assert (r["n_matches"], r["total_len"], r["max_len"]) == (1, 2, 2)

    def test_interrupted_run_does_not_match(self):
        r = self._run([["view", "click"], ["error", "purchase"]])
        assert r["n_matches"] == 0

    def test_two_matches_and_greedy_runs(self):
        r = self._run(
            [["view", "click", "click", "purchase"], ["view", "click", "purchase"]]
        )
        assert (r["n_matches"], r["total_len"], r["max_len"]) == (2, 3, 2)

    def test_purchase_without_view_prefix(self):
        r = self._run([["click", "click", "purchase"]])
        assert r["n_matches"] == 0


class _FakeState:
    """Minimal GroupState stand-in for driving the pattern UDF directly."""

    def __init__(self, value=None):
        self._v = value

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


class TestPatternChunkOrder:
    """ADVICE r5 (medium): _match_pattern must sort the WHOLE micro-batch,
    not each Arrow chunk — a user whose rows span chunks would otherwise
    feed the state machine out of global (ts_us, event_id) order."""

    def test_interleaved_chunks_sorted_globally(self):
        import pandas as pd

        from anglerfish_spark.streaming.stateful import _match_pattern

        # global order: view(1) click(2) click(3) purchase(4) → 1 match, run 2
        # chunk split interleaves: chunk A holds ts 1,3; chunk B holds 2,4.
        # Per-chunk sorting would see view,click | click,purchase →
        # click run never reaches 2 and ends active from the wrong state.
        a = pd.DataFrame(
            {"ts_us": [1, 3], "event_id": [1, 3], "event_type": ["view", "click"]}
        )
        b = pd.DataFrame(
            {"ts_us": [2, 4], "event_id": [2, 4], "event_type": ["click", "purchase"]}
        )
        state = _FakeState()
        (out,) = list(_match_pattern((7,), iter([a, b]), state))
        assert out["n_matches"][0] == 1
        assert out["total_len"][0] == 2
        assert out["max_len"][0] == 2

    def test_state_carries_across_invocations(self):
        import pandas as pd

        from anglerfish_spark.streaming.stateful import _match_pattern

        state = _FakeState()
        b1 = pd.DataFrame(
            {"ts_us": [1, 2], "event_id": [1, 2], "event_type": ["view", "click"]}
        )
        list(_match_pattern((7,), iter([b1]), state))
        b2 = pd.DataFrame(
            {"ts_us": [3, 4], "event_id": [3, 4], "event_type": ["click", "purchase"]}
        )
        (out,) = list(_match_pattern((7,), iter([b2]), state))
        # the click run started in batch 1 completes in batch 2: one match of run 2
        assert out["n_matches"][0] == 1
        assert out["total_len"][0] == 2

    def test_empty_batch_iterator(self):
        from anglerfish_spark.streaming.stateful import _match_pattern

        state = _FakeState(("click", 1, 2, 2, 0, 0, 0))
        (out,) = list(_match_pattern((7,), iter([]), state))
        assert out["n_matches"][0] == 0
        assert state.get[0] == "click"  # state untouched by an empty batch


class TestPatternSmallArrowChunks:
    """E2E regression for ADVICE r5 (medium): run the REAL q_stream_pattern
    job with arrow.maxRecordsPerBatch=2 so every user's micro-batch spans
    many Arrow chunks — per-chunk sorting would corrupt the automaton's
    input order; the result must still match the batch oracle."""

    def test_stream_pattern_with_tiny_chunks(self, spark, sf_dir):
        from anglerfish_spark.registry import all_queries

        from .oracle_harness import compare, duckdb_conn

        qs = all_queries()
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
        try:
            df = qs["q_stream_pattern"].fn(spark, sf_dir)
            con = duckdb_conn(sf_dir)
            ok, msg = compare(df, con, qs["q_stream_pattern"].oracle)
            assert ok, msg
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


class TestStreamSessionize:
    """q_stream_session's pipeline on synthetic keys whose sessions are
    engineered to SPAN micro-batch segment boundaries: append-mode
    session_window only gets these right if session state merges across
    batches, and each closed session must be emitted exactly once."""

    def _run(self, spark, rows, **kw):
        from anglerfish_spark.localdata import local_df
        from anglerfish_spark.streaming.windows import stream_sessionize

        ev = local_df(spark, rows, "user_id long, ts_us long, value double")
        return stream_sessionize(spark, ev, sink="t_sess_unit", **kw).collect()

    def test_session_spans_all_segments(self, spark):
        # user 1: events every 20 min over 2h -> ONE session across all
        # 4 segments; user 2: a 40-min gap -> exactly two sessions
        m = 60 * 1_000_000
        rows = [(1, i * 20 * m, 1.0) for i in range(7)]
        rows += [(2, 0, 5.0), (2, 10 * m, 5.0), (2, 50 * m, 7.0)]
        out = self._run(spark, rows)
        got = [(r.user_id, r.session_start, r.cnt, r.sum_value) for r in out]
        assert got == [
            (1, 0, 7, 7.0),
            (2, 0, 2, 10.0),
            (2, 50 * 60, 1, 7.0),
        ]

    def test_each_session_emitted_exactly_once(self, spark):
        m = 60 * 1_000_000
        rows = [(u, (u * 7 + i * 45) * m, 1.0) for u in range(5) for i in range(4)]
        out = self._run(spark, rows)
        keys = [(r.user_id, r.session_start) for r in out]
        assert len(keys) == len(set(keys))  # append mode: no dup emissions
        assert sum(r.cnt for r in out) == len(rows)


class TestStreamMV:
    """Streaming MV maintenance: batch/stream agreement and the
    load-bearing replay guard (delta merges are NOT idempotent)."""

    def test_stream_equals_batch_maintenance(self, spark, sf_dir):
        from anglerfish_spark.registry import all_queries

        qs = all_queries()
        a = [tuple(r) for r in qs["q_mv_incremental"].fn(spark, sf_dir).collect()]
        b = [tuple(r) for r in qs["q_stream_mv"].fn(spark, sf_dir).collect()]
        assert a == b

    def test_replayed_epoch_is_skipped(self, spark, sf_dir, tmp_path):
        from anglerfish_spark.operators.history import (
            changelog_deltas,
            mv_build,
            mv_merge,
            orders_changelog,
        )
        from anglerfish_spark.sources.manifest_table import (
            commit,
            current_version,
            snapshot,
            stage_files,
        )
        from anglerfish_spark.sources.registry import load_table
        from anglerfish_spark.streaming.mv import start_mv_maintenance_sink

        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        chg = orders_changelog(orders).localCheckpoint(eager=False)
        t = str(tmp_path)
        files = stage_files(mv_build(orders.where(F.col("o_orderkey") % 4 != 3)), t)
        commit(t, files, expected_version=0, txn_id="mv-init")

        # drive the sink's merge function directly, then REPLAY epoch 0
        sink = start_mv_maintenance_sink.__wrapped__ if hasattr(
            start_mv_maintenance_sink, "__wrapped__"
        ) else None
        from anglerfish_spark.streaming import mv as mvmod

        def merge(epoch):
            txn = f"mv-{epoch}"
            v = current_version(t)
            if mvmod._txn_committed(t, v, txn):
                return False
            merged = mv_merge(snapshot(spark, t, v), changelog_deltas(chg))
            commit(t, stage_files(merged, t), expected_version=v, txn_id=txn)
            return True

        assert merge(0) is True
        after_first = sorted(tuple(r) for r in snapshot(spark, t).collect())
        assert merge(0) is False  # replay: guard refuses the double-apply
        assert sorted(tuple(r) for r in snapshot(spark, t).collect()) == after_first


class TestStreamCdcDeletes:
    """Streaming CDC with DELETE tombstones (VERDICT r6 #6): tombstones
    become O(keys) merge-on-read delete commits; the upsert/delete pair
    is exactly-once per epoch INDEPENDENTLY, so a half-applied crash
    point resumes correctly."""

    def test_replayed_batch_is_noop(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import commit, snapshot, stage_files
        from anglerfish_spark.streaming.deletes import apply_cdc_batch

        t = str(tmp_path)
        base = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        commit(t, stage_files(base, t), expected_version=0, txn_id="init")
        batch = spark.createDataFrame(
            [(100, 0, "I"), (2, 0, "D"), (4, 0, "D")], "k long, v long, op string"
        ).localCheckpoint(eager=False)

        apply_cdc_batch(batch, 0, t, "k")
        after = sorted(r.k for r in snapshot(spark, t).collect())
        assert after == [0, 1, 3, 5, 6, 7, 8, 9, 100]
        # at-least-once redelivery of the same epoch: both commits skipped
        from anglerfish_spark.sources.manifest_table import current_version

        v = current_version(t)
        apply_cdc_batch(batch, 0, t, "k")
        assert current_version(t) == v
        assert sorted(r.k for r in snapshot(spark, t).collect()) == after

    def test_half_applied_epoch_resumes(self, spark, monkeypatch, tmp_path):
        """Crash between the upsert commit and the delete commit: the
        replay must skip the upsert (txn found) and apply the delete."""
        import anglerfish_spark.streaming.deletes as sd
        from anglerfish_spark.sources.manifest_table import commit, snapshot, stage_files

        t = str(tmp_path)
        base = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        commit(t, stage_files(base, t), expected_version=0, txn_id="init")
        batch = spark.createDataFrame(
            [(100, 0, "I"), (2, 0, "D")], "k long, v long, op string"
        ).localCheckpoint(eager=False)

        real_delete = sd.delete_keys

        def crashing_delete(*a, **kw):
            raise RuntimeError("simulated crash before the delete commit")

        monkeypatch.setattr(sd, "delete_keys", crashing_delete)
        import pytest as _pytest

        with _pytest.raises(RuntimeError):
            sd.apply_cdc_batch(batch, 0, t, "k")
        assert 100 in {r.k for r in snapshot(spark, t).collect()}  # upsert landed
        assert 2 in {r.k for r in snapshot(spark, t).collect()}  # delete did not

        monkeypatch.setattr(sd, "delete_keys", real_delete)
        sd.apply_cdc_batch(batch, 0, t, "k")  # redelivery
        got = sorted(r.k for r in snapshot(spark, t).collect())
        assert got == [0, 1, 3, 4, 5, 6, 7, 8, 9, 100]


class TestManifestFeedSource:
    """The manifest table as a Structured Streaming SOURCE (VERDICT r7
    #3): version offsets in Spark's own checkpoint WAL, partitions =
    change files, feed == batch table_changes, restart recovery without
    loss or duplication."""

    def _table(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import delete_keys, upsert

        t = str(tmp_path / "t")
        df = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
        upsert(spark, t, df, ["k"])                                          # v1
        upsert(spark, t, spark.createDataFrame(
            [(3, 33.0), (20, 2.0)], "k long, v double"), ["k"])              # v2
        delete_keys(spark, t, "k", spark.createDataFrame([(5,)], "k long"))  # v3
        return t

    def _drain(self, spark, t, checkpoint, name, starting_version=0):
        from anglerfish_spark.streaming.stateful import await_or_fail
        from anglerfish_spark.streaming.table_feed import read_table_feed

        q = (
            read_table_feed(spark, t, starting_version)
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        await_or_fail(q)
        return sorted(
            tuple(r)
            for r in spark.table(name).select("k", "v", "_change_type").collect()
        )

    def test_feed_equals_batch_logged_changes(self, spark, tmp_path):
        from anglerfish_spark.sources.read_path import table_changes

        t = self._table(spark, tmp_path)
        got = self._drain(spark, t, str(tmp_path / "cp"), "feed_eq")
        batch, mode = table_changes(spark, t, 0, 3)
        assert mode == "logged"
        want = sorted(
            tuple(r)
            for r in batch.select("k", "v", "_change_type").collect()
        )
        assert got == want

    def _drain_files(self, spark, t, checkpoint, out):
        """Drain through a fault-tolerant FILE sink (the memory sink
        refuses checkpoint recovery by design) and return the sink's
        accumulated rows."""
        from anglerfish_spark.streaming.stateful import await_or_fail
        from anglerfish_spark.streaming.table_feed import read_table_feed

        q = (
            read_table_feed(spark, t)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        await_or_fail(q)
        return sorted(
            tuple(r)
            for r in spark.read.parquet(out).select("k", "v", "_change_type").collect()
        )

    def test_checkpoint_recovery_no_loss_no_dup(self, spark, tmp_path):
        """Stop after draining v1..v3, commit v4+v5, restart on the SAME
        checkpoint: exactly the new commits' changes are appended."""
        from anglerfish_spark.sources.manifest_table import delete_keys, upsert

        t = self._table(spark, tmp_path)
        cp, out = str(tmp_path / "cp"), str(tmp_path / "out")
        first = self._drain_files(spark, t, cp, out)
        assert first  # v1..v3 drained
        upsert(spark, t, spark.createDataFrame([(7, 77.0)], "k long, v double"), ["k"])  # v4
        delete_keys(spark, t, "k", spark.createDataFrame([(0,)], "k long"))              # v5
        total = self._drain_files(spark, t, cp, out)
        # v4 = update of k=7 (delete old + insert new); v5 = delete k=0 —
        # appended exactly once on top of the first drain (no re-delivery
        # of v1..v3, no loss of v4/v5)
        second = [
            (0, 0.0, "delete"), (7, 7.0, "delete"), (7, 77.0, "insert"),
        ]
        assert total == sorted(first + second)
        # a FRESH checkpoint re-delivers everything (replay-from-scratch
        # is deterministic: same manifests, same feed)
        replay = self._drain(spark, t, str(tmp_path / "cp2"), "feed_r3")
        assert replay == sorted(first + second)

    def test_unlogged_commit_fails_loudly(self, spark, tmp_path):
        import json

        import pytest as _pytest

        from anglerfish_spark.sources import manifest_table as mt

        t = self._table(spark, tmp_path)
        p = mt._manifest_path(t, 2)
        m = json.load(open(p))
        m["changes"] = None
        json.dump(m, open(p, "w"))
        with _pytest.raises(Exception, match="no change log"):
            self._drain(spark, t, str(tmp_path / "cp"), "feed_unlogged")

    def test_evolved_entries_resolved_in_stream(self, spark, tmp_path):
        """Change files logged under an OLD writer schema resolve in the
        Arrow reader: rename-by-alias + promotion + defaulted field —
        the stream delivers every entry under the CURRENT reader."""
        from anglerfish_spark.sources import manifest_table as mt
        from anglerfish_spark.streaming.stateful import await_or_fail
        from anglerfish_spark.streaming.table_feed import read_table_feed

        V1 = """
        {"type":"record","name":"R","fields":[
          {"name":"k","type":"long"},{"name":"total","type":"long"}]}
        """
        V2 = """
        {"type":"record","name":"R","fields":[
          {"name":"k","type":"long"},
          {"name":"price","type":"double","aliases":["total"]},
          {"name":"status","type":"string","default":"old"}]}
        """
        t = str(tmp_path / "t")
        v1 = spark.range(4).select(F.col("id").alias("k"), (F.col("id") * 10).alias("total"))
        mt.append_evolved(spark, t, v1, V1)
        v2 = spark.range(4, 6).select(
            F.col("id").alias("k"),
            (F.col("id") * 1.0).alias("price"),
            F.lit("new").alias("status"),
        )
        mt.append_evolved(spark, t, v2, V2, reader_schema=V2)
        q = (
            read_table_feed(spark, t)
            .writeStream.format("memory")
            .queryName("feed_evolved")
            .trigger(availableNow=True)
            .start()
        )
        await_or_fail(q)
        rows = sorted(
            (r.k, r.price, r.status, r._change_type, r._commit_version)
            for r in spark.table("feed_evolved").collect()
        )
        assert rows == [
            (0, 0.0, "old", "insert", 1), (1, 10.0, "old", "insert", 1),
            (2, 20.0, "old", "insert", 1), (3, 30.0, "old", "insert", 1),
            (4, 4.0, "new", "insert", 2), (5, 5.0, "new", "insert", 2),
        ]

    def test_unresolvable_evolution_refused(self, spark, tmp_path):
        """A reader field with no writer source and no default is beyond
        the stream's resolution subset: loud refusal, not a misread."""
        import pytest as _pytest

        from anglerfish_spark.sources import manifest_table as mt

        V1 = """
        {"type":"record","name":"R","fields":[
          {"name":"k","type":"long"},{"name":"total","type":"double"}]}
        """
        V2 = """
        {"type":"record","name":"R","fields":[
          {"name":"k","type":"long"},
          {"name":"price","type":"double","aliases":["total"]}]}
        """
        t = str(tmp_path / "t")
        v1 = spark.range(4).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("total"))
        mt.append_evolved(spark, t, v1, V1)
        v2 = spark.range(4, 6).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("price"))
        mt.append_evolved(spark, t, v2, V2, reader_schema=V2)
        # sabotage the reader into a narrowing the spec must refuse:
        # double -> long is not an Avro promotion
        import json

        p = mt._manifest_path(t, 2)
        m = json.load(open(p))
        m["schema"] = m["schema"].replace(
            '"name":"price","type":"double"', '"name":"price","type":"long"'
        )
        json.dump(m, open(p, "w"))
        with _pytest.raises(Exception, match="cannot resolve"):
            self._drain(spark, t, str(tmp_path / "cp"), "feed_bad_evo")


class TestFeedApply:
    """CDC replication through the manifest_feed source: the mirror
    converges to the source snapshot, _commit_version orders
    multi-commit batches, and epoch replay is idempotent."""

    def _source(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import delete_keys, upsert

        t = str(tmp_path / "src")
        upsert(spark, t, spark.range(8).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")), ["k"])  # v1
        upsert(spark, t, spark.createDataFrame(
            [(2, 22.0), (9, 90.0)], "k long, v double"), ["k"])              # v2
        delete_keys(spark, t, "k", spark.createDataFrame([(4,), (9,)], "k long"))  # v3
        return t

    def test_mirror_converges_across_commits(self, spark, tmp_path):
        """One availableNow batch spans all three commits: k=9 is
        inserted in v2 and deleted in v3 — only _commit_version ordering
        resolves it correctly (event counts alone would tie)."""
        from anglerfish_spark.sources.manifest_table import snapshot
        from anglerfish_spark.streaming.stateful import await_or_fail
        from anglerfish_spark.streaming.table_feed import start_feed_apply

        t = self._source(spark, tmp_path)
        mirror = str(tmp_path / "mirror")
        q = start_feed_apply(spark, t, mirror, ["k"], str(tmp_path / "cp"))
        await_or_fail(q)
        want = sorted(tuple(r) for r in snapshot(spark, t).collect())
        got = sorted(tuple(r) for r in snapshot(spark, mirror).collect())
        assert got == want
        assert 9 not in {r[0] for r in got}  # v3's delete beat v2's insert

    def test_epoch_replay_is_idempotent(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import (
            current_version,
            snapshot,
        )
        from anglerfish_spark.streaming.stateful import await_or_fail
        from anglerfish_spark.streaming.table_feed import (
            apply_feed_batch,
            read_table_feed,
            start_feed_apply,
        )

        t = self._source(spark, tmp_path)
        mirror = str(tmp_path / "mirror")
        q = start_feed_apply(spark, t, mirror, ["k"], str(tmp_path / "cp"))
        await_or_fail(q)
        v = current_version(mirror)
        want = sorted(tuple(r) for r in snapshot(spark, mirror).collect())
        # at-least-once delivery: re-apply epoch 0's batch wholesale —
        # the txn guard must skip both commits, not double-apply.
        # Rebuild the batch the stream delivered (the full logged feed):
        from anglerfish_spark.sources.read_path import table_changes

        logged, _ = table_changes(spark, t, 0, None, mode="logged")
        replay = logged.withColumn("_commit_version", F.lit(3).cast("long"))
        # (version constant is fine: replay idempotency is decided by the
        # txn ids, before any per-key resolution matters)
        apply_feed_batch(replay, 0, mirror, ["k"])
        assert current_version(mirror) == v  # no new commits
        assert sorted(tuple(r) for r in snapshot(spark, mirror).collect()) == want

    def test_mor_mirror_equals_cow_mirror(self, spark, tmp_path):
        """VERDICT r8 #2: a merge-on-read mirror (no file ever rewritten
        after the initial load) converges to the same state as the COW
        mirror — and its per-epoch write really is append-only: every
        data file of the mirror's v1 is still referenced byte-for-byte
        by the final manifest."""
        import os as _os

        from anglerfish_spark.sources.manifest_table import read_manifest, snapshot
        from anglerfish_spark.streaming.stateful import await_or_fail
        from anglerfish_spark.streaming.table_feed import start_feed_apply

        t = self._source(spark, tmp_path)
        cow, mor = str(tmp_path / "cow"), str(tmp_path / "mor")
        await_or_fail(start_feed_apply(spark, t, cow, ["k"], str(tmp_path / "cp1")))
        await_or_fail(
            start_feed_apply(spark, t, mor, ["k"], str(tmp_path / "cp2"), mode="mor")
        )
        got_cow = sorted(tuple(r) for r in snapshot(spark, cow).collect())
        got_mor = sorted(tuple(r) for r in snapshot(spark, mor).collect())
        assert got_mor == got_cow
        m1, mf = read_manifest(mor, 1), read_manifest(mor)
        sizes = {f: _os.path.getsize(_os.path.join(mor, f)) for f in m1["files"]}
        assert set(m1["files"]) <= set(mf["files"])  # nothing rewritten
        assert sizes == {
            f: _os.path.getsize(_os.path.join(mor, f)) for f in m1["files"]
        }


class TestFeedEvolutionDifferential:
    """The stream reader's Arrow resolution (rename/promote/default) must
    be row-identical to the batch logged feed, which resolves through
    the codec's evolve_struct — differential over the evolution shapes
    the table layer writes."""

    CASES = [
        # (writer fields, reader fields, v1 spark rows builder)
        ("identity", '{"name":"a","type":"long"}', '{"name":"a","type":"long"}'),
        ("rename", '{"name":"a","type":"long"}',
         '{"name":"b","type":"long","aliases":["a"]}'),
        ("promote_int_double", '{"name":"a","type":"int"}',
         '{"name":"a","type":"double"}'),
        ("promote_long_float", '{"name":"a","type":"long"}',
         '{"name":"a","type":"float"}'),
        ("rename_and_promote", '{"name":"a","type":"int"}',
         '{"name":"b","type":"double","aliases":["a"]}'),
        ("default_string", '{"name":"a","type":"long"}',
         '{"name":"a","type":"long"},{"name":"s","type":"string","default":"x"}'),
        ("default_bool", '{"name":"a","type":"long"}',
         '{"name":"a","type":"long"},{"name":"f","type":"boolean","default":true}'),
        ("nullable_option", '{"name":"a","type":["null","long"]}',
         '{"name":"a","type":["null","double"]}'),
    ]

    def test_stream_matches_batch_logged(self, spark, tmp_path):
        import pytest as _pytest

        from anglerfish_spark.sources import manifest_table as mt
        from anglerfish_spark.sources.read_path import table_changes
        from anglerfish_spark.streaming.stateful import await_or_fail
        from anglerfish_spark.streaming.table_feed import read_table_feed

        spark_types = {"long": "long", "int": "int"}
        for i, (label, wf, rf) in enumerate(self.CASES):
            W = f'{{"type":"record","name":"R","fields":[{wf}]}}'
            R = f'{{"type":"record","name":"R","fields":[{rf}]}}'
            t = str(tmp_path / f"t{i}")
            wtype = "int" if '"int"' in wf else "long"
            v1 = spark.range(3).select(F.col("id").cast(wtype).alias("a"))
            mt.append_evolved(spark, t, v1, W)
            # second commit under the reader itself, so both spec=None
            # and spec-resolved partitions appear in one drain
            mt.append_evolved(
                spark, t,
                mt.snapshot(spark, t).limit(0),
                W, reader_schema=R,
            )
            batch, mode = table_changes(spark, t, 0, None, mode="logged")
            want = sorted(str(tuple(r)) for r in batch.drop("_change_type").collect())
            q = (
                read_table_feed(spark, t)
                .writeStream.format("memory")
                .queryName(f"diffevo_{i}")
                .trigger(availableNow=True)
                .start()
            )
            await_or_fail(q)
            got = sorted(
                str(tuple(r))
                for r in spark.table(f"diffevo_{i}")
                .drop("_change_type", "_commit_version", "_commit_timestamp")
                .collect()
            )
            assert got == want, f"case {label}: {got} != {want}"

    # --- r9 value-space fallback: shapes beyond the flat subset ---

    N_REC = '{"type":"record","name":"N","fields":[{"name":"x","type":"long"}]}'
    N_REC_EVO = (
        '{"type":"record","name":"N","fields":['
        '{"name":"y","type":"long","aliases":["x"]},'
        '{"name":"z","type":"string","default":"d"}]}'
    )
    COMPLEX_CASES = [
        (
            "nested_record_rename_default",
            f'{{"name":"n","type":{N_REC}}}',
            f'{{"name":"n","type":{N_REC_EVO}}}',
            lambda spark: spark.range(3).select(
                F.struct(F.col("id").alias("x")).alias("n")
            ),
        ),
        (
            "enum_symbol_widening",
            '{"name":"e","type":{"type":"enum","name":"E","symbols":["A","B"]}}',
            '{"name":"e","type":{"type":"enum","name":"E","symbols":["A","B","C"]}}',
            lambda spark: spark.range(3).select(
                F.when(F.col("id") % 2 == 0, "A").otherwise("B").alias("e")
            ),
        ),
        (
            "union_branch_promotion",
            '{"name":"u","type":["long","string"]}',
            '{"name":"u","type":["double","string"]}',
            lambda spark: spark.range(4).select(
                F.when(
                    F.col("id") % 2 == 0,
                    F.struct(
                        F.col("id").cast("long").alias("member_long"),
                        F.lit(None).cast("string").alias("member_string"),
                    ),
                )
                .otherwise(
                    F.struct(
                        F.lit(None).cast("long").alias("member_long"),
                        F.concat(F.lit("s"), F.col("id")).alias("member_string"),
                    )
                )
                .alias("u")
            ),
        ),
        (
            "array_of_record_promote",
            '{"name":"a","type":{"type":"array","items":'
            '{"type":"record","name":"I","fields":[{"name":"x","type":"int"}]}}}',
            '{"name":"a","type":{"type":"array","items":'
            '{"type":"record","name":"I","fields":[{"name":"x","type":"long"}]}}}',
            lambda spark: spark.range(3).select(
                F.array(
                    F.struct(F.col("id").cast("int").alias("x")),
                    F.struct((F.col("id") + 10).cast("int").alias("x")),
                ).alias("a")
            ),
        ),
    ]

    def test_value_space_fallback_matches_batch(self, spark, tmp_path):
        """VERDICT r8 #6: evolution shapes the flat Arrow plan refuses
        (nested records, enums, multi-branch unions, arrays of records)
        stream through the value-space fallback and must be row-identical
        to the batch logged feed (which resolves via evolve_struct)."""
        from anglerfish_spark.sources import manifest_table as mt
        from anglerfish_spark.sources.read_path import table_changes
        from anglerfish_spark.streaming.stateful import await_or_fail
        from anglerfish_spark.streaming.table_feed import read_table_feed

        for i, (label, wf, rf, mk) in enumerate(self.COMPLEX_CASES):
            W = f'{{"type":"record","name":"R","fields":[{wf}]}}'
            R = f'{{"type":"record","name":"R","fields":[{rf}]}}'
            t = str(tmp_path / f"vc{i}")
            mt.append_evolved(spark, t, mk(spark), W)
            mt.append_evolved(
                spark, t, mt.snapshot(spark, t).limit(0), W, reader_schema=R
            )
            batch, mode = table_changes(spark, t, 0, None, mode="logged")
            assert mode == "logged"
            want = sorted(str(tuple(r)) for r in batch.drop("_change_type").collect())
            q = (
                read_table_feed(spark, t)
                .writeStream.format("memory")
                .queryName(f"vsevo_{i}")
                .trigger(availableNow=True)
                .start()
            )
            await_or_fail(q)
            got = sorted(
                str(tuple(r))
                for r in spark.table(f"vsevo_{i}")
                .drop("_change_type", "_commit_version", "_commit_timestamp")
                .collect()
            )
            assert got == want, f"case {label}: {got} != {want}"

    def _feed_equals_batch(self, spark, tmp_path, name, W, R, df):
        from anglerfish_spark.sources import manifest_table as mt
        from anglerfish_spark.sources.read_path import table_changes
        from anglerfish_spark.streaming.stateful import await_or_fail
        from anglerfish_spark.streaming.table_feed import read_table_feed

        t = str(tmp_path / name)
        mt.append_evolved(spark, t, df, W)
        mt.append_evolved(spark, t, mt.snapshot(spark, t).limit(0), W, reader_schema=R)
        batch, mode = table_changes(spark, t, 0, None, mode="logged")
        assert mode == "logged"
        want = sorted(str(tuple(r)) for r in batch.drop("_change_type").collect())
        q = (
            read_table_feed(spark, t)
            .writeStream.format("memory")
            .queryName(f"lg_{name}")
            .trigger(availableNow=True)
            .start()
        )
        await_or_fail(q)
        got = sorted(
            str(tuple(r))
            for r in spark.table(f"lg_{name}")
            .drop("_change_type", "_commit_version", "_commit_timestamp")
            .collect()
        )
        assert got == want, f"{name}: {got} != {want}"

    def test_logical_typed_nested_evolution_resolves(self, spark, tmp_path):
        """VERDICT r9 #3: the pre-r10 loud refusal — a logical-typed
        field inside an evolving record — now resolves (vectorized
        struct rebuild: the unchanged timestamp child passes through as
        a column) and is pinned feed == batch."""
        W = (
            '{"type":"record","name":"R","fields":['
            '{"name":"n","type":{"type":"record","name":"N","fields":['
            '{"name":"ts","type":{"type":"long","logicalType":"timestamp-micros"}}]}}]}'
        )
        R = (
            '{"type":"record","name":"R","fields":['
            '{"name":"n","type":{"type":"record","name":"N","fields":['
            '{"name":"ts","type":{"type":"long","logicalType":"timestamp-micros"}},'
            '{"name":"z","type":"string","default":"d"}]}}]}'
        )
        df = spark.sql(
            "SELECT named_struct('ts', TIMESTAMP'2024-01-01 00:00:00') AS n"
            " UNION ALL SELECT named_struct('ts', TIMESTAMP'2025-06-30 12:34:56.789')"
        )
        self._feed_equals_batch(spark, tmp_path, "lognest", W, R, df)

    def test_logical_typed_fallback_bridges_carrier_space(self, spark, tmp_path):
        """VERDICT r9 #3, the hard half: a timestamp- AND decimal-typed
        history whose shape forces the VALUE-SPACE fallback (array of
        records with a rename) — parquet hands the worker semantic
        values, the bridge converts to carrier space for resolve_datum
        and lifts the resolved rows back; pinned feed == batch."""
        W = (
            '{"type":"record","name":"R","fields":['
            '{"name":"a","type":{"type":"array","items":'
            '{"type":"record","name":"I","fields":['
            '{"name":"ts","type":{"type":"long","logicalType":"timestamp-micros"}},'
            '{"name":"d","type":{"type":"bytes","logicalType":"decimal",'
            '"precision":10,"scale":2}},'
            '{"name":"x","type":"int"}]}}}]}'
        )
        R = (
            '{"type":"record","name":"R","fields":['
            '{"name":"a","type":{"type":"array","items":'
            '{"type":"record","name":"I","fields":['
            '{"name":"ts","type":{"type":"long","logicalType":"timestamp-micros"}},'
            '{"name":"d","type":{"type":"bytes","logicalType":"decimal",'
            '"precision":10,"scale":2}},'
            '{"name":"y","type":"long","aliases":["x"]},'
            '{"name":"z","type":"string","default":"zz"}]}}}]}'
        )
        df = spark.sql(
            "SELECT array(named_struct("
            "'ts', TIMESTAMP'2024-01-01 08:30:00',"
            "'d', CAST('12345.67' AS DECIMAL(10,2)),"
            "'x', CAST(7 AS INT)), named_struct("
            "'ts', TIMESTAMP'2023-12-31 23:59:59.999',"
            "'d', CAST('-0.05' AS DECIMAL(10,2)),"
            "'x', CAST(-3 AS INT))) AS a"
        )
        self._feed_equals_batch(spark, tmp_path, "logfall", W, R, df)

    def test_date_keyed_fallback(self, spark, tmp_path):
        """Date logical through the fallback (enum sibling forces it)."""
        W = (
            '{"type":"record","name":"R","fields":['
            '{"name":"dt","type":{"type":"int","logicalType":"date"}},'
            '{"name":"e","type":{"type":"enum","name":"E","symbols":["A","B"]}}]}'
        )
        R = (
            '{"type":"record","name":"R","fields":['
            '{"name":"dt","type":{"type":"int","logicalType":"date"}},'
            '{"name":"e","type":{"type":"enum","name":"E","symbols":["A","B","C"]}}]}'
        )
        df = spark.sql(
            "SELECT DATE'2024-02-29' AS dt, 'A' AS e"
            " UNION ALL SELECT DATE'1969-07-20', 'B'"
        )
        self._feed_equals_batch(spark, tmp_path, "logdate", W, R, df)


class TestResolutionPlanner:
    """_plan_resolution op selection (VERDICT r9 #5): unchanged subtrees
    pass through, one-level record changes vectorize as struct rebuilds,
    only genuinely exotic CHANGED shapes take the per-row fallback."""

    def _plan(self, wf, rf):
        from anglerfish_spark.streaming.table_feed import _plan_resolution

        return _plan_resolution(
            f'{{"type":"record","name":"R","fields":[{wf}]}}',
            f'{{"type":"record","name":"R","fields":[{rf}]}}',
        )

    def test_flat_rename_vectorizes(self):
        p = self._plan('{"name":"a","type":"long"}',
                       '{"name":"b","type":"long","aliases":["a"]}')
        assert p["op"] == "vector" and p["fields"][0]["op"] == "same"

    def test_nested_record_change_vectorizes_as_struct(self):
        N = '{"type":"record","name":"N","fields":[{"name":"x","type":"long"}]}'
        NE = ('{"type":"record","name":"N","fields":['
              '{"name":"y","type":"long","aliases":["x"]},'
              '{"name":"z","type":"string","default":"d"}]}')
        p = self._plan(f'{{"name":"n","type":{N}}}', f'{{"name":"n","type":{NE}}}')
        assert p["op"] == "vector"
        e = p["fields"][0]
        assert e["op"] == "struct"
        assert [c["op"] for c in e["children"]] == ["same", "default"]

    def test_unchanged_exotic_subtree_passes_through(self):
        # an ARRAY of records field, untouched, next to a flat rename:
        # vector path with a whole-column passthrough (pre-r10: per-row)
        A = ('{"type":"array","items":{"type":"record","name":"I",'
             '"fields":[{"name":"x","type":"long"}]}}')
        p = self._plan(
            f'{{"name":"a","type":{A}}},{{"name":"k","type":"long"}}',
            f'{{"name":"a","type":{A}}},{{"name":"kk","type":"long","aliases":["k"]}}',
        )
        assert p["op"] == "vector"
        assert [e["op"] for e in p["fields"]] == ["same", "same"]

    def test_changed_array_of_record_falls_back(self):
        p = self._plan(
            '{"name":"a","type":{"type":"array","items":{"type":"record",'
            '"name":"I","fields":[{"name":"x","type":"int"}]}}}',
            '{"name":"a","type":{"type":"array","items":{"type":"record",'
            '"name":"I","fields":[{"name":"x","type":"long"}]}}}',
        )
        assert p["op"] == "pydatum"

    def test_illegal_evolution_refuses_at_planning(self):
        import pytest as _pytest

        from anglerfish_spark.errors import AnglerfishError

        with _pytest.raises(AnglerfishError, match="cannot resolve"):
            self._plan('{"name":"a","type":"string"}',
                       '{"name":"b","type":"long"}')


def test_feed_rate_limit_option_refused(spark, tmp_path):
    """maxVersionsPerTrigger must refuse loudly: the Python data source
    API cannot cap offsets relative to the checkpoint, and a reader-side
    cap was MEASURED to re-deliver rows after restart."""
    import pytest as _pytest

    from anglerfish_spark.sources import manifest_table as mt
    from anglerfish_spark.streaming.table_feed import register_manifest_feed

    t = str(tmp_path / "t")
    mt.upsert(spark, t, spark.createDataFrame([(1, 1.0)], "k long, v double"), ["k"])
    register_manifest_feed(spark)
    stream = (
        spark.readStream.format("manifest_feed")
        .option("table", t)
        .option("maxVersionsPerTrigger", "2")
        .load()
    )
    with _pytest.raises(Exception, match="maxVersionsPerTrigger"):
        q = stream.writeStream.format("memory").queryName("rl_refused").trigger(
            availableNow=True
        ).start()
        try:
            q.awaitTermination(60)
        finally:
            q.stop()


class TestBackfillFeed:
    """VERDICT r8 #4: bounded-window backfill through batch table_changes
    — equals the stream drain, resumes across crashes without loss or
    duplication, and hands off to the live stream."""

    def _backlog(self, spark, tmp_path, n_commits=10):
        from anglerfish_spark.sources.manifest_table import delete_keys, upsert

        t = str(tmp_path / "src")
        upsert(spark, t, spark.range(12).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")), ["k"])
        for i in range(1, n_commits - 1):
            upsert(spark, t, spark.createDataFrame(
                [(i % 12, 100.0 + i), (12 + i, float(i))], "k long, v double"), ["k"])
        delete_keys(spark, t, "k", spark.createDataFrame([(3,), (13,)], "k long"))
        return t

    def test_windowed_backfill_equals_stream_drain(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import current_version, snapshot
        from anglerfish_spark.streaming.stateful import await_or_fail
        from anglerfish_spark.streaming.table_feed import (
            backfill_feed_apply,
            start_feed_apply,
        )

        t = self._backlog(spark, tmp_path)
        assert current_version(t) == 10
        streamed = str(tmp_path / "streamed")
        await_or_fail(start_feed_apply(spark, t, streamed, ["k"], str(tmp_path / "cp")))
        backfilled = str(tmp_path / "backfilled")
        drained = backfill_feed_apply(spark, t, backfilled, ["k"], window=3)
        assert drained == 10
        a = sorted(tuple(r) for r in snapshot(spark, streamed).collect())
        b = sorted(tuple(r) for r in snapshot(spark, backfilled).collect())
        assert a == b

    def test_crash_between_windows_resumes_exactly_once(self, spark, tmp_path):
        """Simulate a crash after two windows (end_version=6), then a full
        re-invocation from scratch: replayed windows must no-op via the
        txn guards (version count pins 'no duplication'), and the final
        state must equal the direct drain ('no loss')."""
        from anglerfish_spark.sources.manifest_table import (
            current_version,
            snapshot,
        )
        from anglerfish_spark.streaming.table_feed import backfill_feed_apply

        t = self._backlog(spark, tmp_path)
        mirror = str(tmp_path / "mirror")
        backfill_feed_apply(spark, t, mirror, ["k"], window=3, end_version=6)
        v_mid = current_version(mirror)
        # "crash": restart from scratch with the same grid
        drained = backfill_feed_apply(spark, t, mirror, ["k"], window=3)
        assert drained == 10
        # windows (0,3],(3,6] replayed as pure no-ops: every commit the
        # resume added belongs to the NEW windows
        direct = str(tmp_path / "direct")
        backfill_feed_apply(spark, t, direct, ["k"], window=3)
        a = sorted(tuple(r) for r in snapshot(spark, mirror).collect())
        b = sorted(tuple(r) for r in snapshot(spark, direct).collect())
        assert a == b
        assert current_version(mirror) > v_mid  # new windows applied…
        # …and replaying EVERYTHING once more adds zero commits
        v_done = current_version(mirror)
        backfill_feed_apply(spark, t, mirror, ["k"], window=3)
        assert current_version(mirror) == v_done

    def test_partial_window_superset_resume(self, spark, tmp_path):
        """A partial final window (9,10] applied, then the backlog grows
        and the resume window becomes the superset (9,12]: last-writer-
        wins convergence, no stale overwrite."""
        from anglerfish_spark.sources.manifest_table import snapshot, upsert
        from anglerfish_spark.streaming.table_feed import backfill_feed_apply

        t = self._backlog(spark, tmp_path)
        mirror = str(tmp_path / "mirror")
        backfill_feed_apply(spark, t, mirror, ["k"], window=3)  # drains to 10
        upsert(spark, t, spark.createDataFrame([(0, 999.0)], "k long, v double"), ["k"])
        upsert(spark, t, spark.createDataFrame([(1, 888.0)], "k long, v double"), ["k"])
        backfill_feed_apply(spark, t, mirror, ["k"], window=3)  # (9,12]
        want = sorted(tuple(r) for r in snapshot(spark, t).collect())
        got = sorted(tuple(r) for r in snapshot(spark, mirror).collect())
        assert got == want

    def test_handoff_to_live_stream(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import snapshot, upsert
        from anglerfish_spark.streaming.stateful import await_or_fail
        from anglerfish_spark.streaming.table_feed import (
            backfill_feed_apply,
            start_feed_apply,
        )

        t = self._backlog(spark, tmp_path)
        mirror = str(tmp_path / "mirror")
        drained = backfill_feed_apply(spark, t, mirror, ["k"], window=4)
        upsert(spark, t, spark.createDataFrame([(50, 50.0)], "k long, v double"), ["k"])
        q = start_feed_apply(
            spark, t, mirror, ["k"], str(tmp_path / "cp"),
            starting_version=drained,
        )
        await_or_fail(q)
        want = sorted(tuple(r) for r in snapshot(spark, t).collect())
        got = sorted(tuple(r) for r in snapshot(spark, mirror).collect())
        assert got == want

    def test_metadata_columns_match_stream(self, spark, tmp_path):
        """table_changes(with_metadata=True) carries the same metadata
        triple values the manifest_feed stream emits."""
        from anglerfish_spark.sources.read_path import table_changes
        from anglerfish_spark.streaming.stateful import await_or_fail
        from anglerfish_spark.streaming.table_feed import read_table_feed

        t = self._backlog(spark, tmp_path, n_commits=4)
        batch, mode = table_changes(spark, t, 0, None, mode="logged", with_metadata=True)
        assert mode == "logged"
        sink = "bf_meta_sink"
        spark.catalog.dropTempView(sink)
        q = (
            read_table_feed(spark, t)
            .writeStream.format("memory").queryName(sink)
            .trigger(availableNow=True).start()
        )
        await_or_fail(q)
        streamed = spark.table(sink)
        cols = sorted(batch.columns)
        assert cols == sorted(streamed.columns)
        a = sorted(map(str, (tuple(r) for r in batch.select(*cols).collect())))
        b = sorted(map(str, (tuple(r) for r in streamed.select(*cols).collect())))
        assert a == b

    def test_with_metadata_requires_logged(self, spark, tmp_path):
        import pytest as _pytest

        from anglerfish_spark.sources.read_path import table_changes

        t = self._backlog(spark, tmp_path, n_commits=3)
        with _pytest.raises(ValueError, match="with_metadata"):
            table_changes(spark, t, 0, None, mode="diff", with_metadata=True)


class TestCompositeKeyMirror:
    """apply_feed_batch with a composite key: deletes match the full key
    tuple via a delete-only MERGE (pre-r9 this was refused)."""

    def test_composite_key_apply(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import snapshot, upsert
        from anglerfish_spark.streaming.table_feed import apply_feed_batch
        from anglerfish_spark.localdata import local_df

        mirror = str(tmp_path / "m")
        base = local_df(
            spark,
            [(1, "a", 10.0), (1, "b", 11.0), (2, "a", 20.0), (2, "b", 21.0)],
            ["k1", "k2", "v"],
        )
        upsert(spark, mirror, base, ["k1", "k2"])
        # epoch: update (1,'a'), delete (2,'b') — (1,'b') and (2,'a')
        # share a key prefix with the changed rows and MUST survive
        batch = local_df(
            spark,
            [(1, "a", 99.0, "insert", 2), (2, "b", 21.0, "delete", 2)],
            ["k1", "k2", "v", "_change_type", "_commit_version"],
        ).select("k1", "k2", "v", "_change_type",
                 F.col("_commit_version").cast("long"),
                 F.lit(None).cast("timestamp").alias("_commit_timestamp"))
        apply_feed_batch(batch, "e1", mirror, ["k1", "k2"])
        got = sorted(tuple(r) for r in snapshot(spark, mirror).collect())
        assert got == [(1, "a", 99.0), (1, "b", 11.0), (2, "a", 20.0)]
        # replay idempotent
        apply_feed_batch(batch, "e1", mirror, ["k1", "k2"])
        assert sorted(tuple(r) for r in snapshot(spark, mirror).collect()) == got

    def test_composite_key_apply_mor(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import read_manifest, snapshot, upsert
        from anglerfish_spark.streaming.table_feed import apply_feed_batch
        from anglerfish_spark.localdata import local_df
        import os as _os

        mirror = str(tmp_path / "m")
        base = local_df(
            spark, [(1, "a", 10.0), (2, "b", 21.0)], ["k1", "k2", "v"]
        )
        upsert(spark, mirror, base, ["k1", "k2"])
        m1 = read_manifest(mirror)
        batch = local_df(
            spark,
            [(1, "a", 99.0, "insert", 2), (2, "b", 21.0, "delete", 2)],
            ["k1", "k2", "v", "_change_type", "_commit_version"],
        ).select("k1", "k2", "v", "_change_type",
                 F.col("_commit_version").cast("long"),
                 F.lit(None).cast("timestamp").alias("_commit_timestamp"))
        apply_feed_batch(batch, "e1", mirror, ["k1", "k2"], mode="mor")
        got = sorted(tuple(r) for r in snapshot(spark, mirror).collect())
        assert got == [(1, "a", 99.0)]
        # MoR: the original files are still referenced byte-for-byte
        mf = read_manifest(mirror)
        assert set(m1["files"]) <= set(mf["files"])


class TestFeedPhaseSplit:
    def test_query_records_the_phase_split_of_its_last_run(self, spark):
        import os

        from anglerfish_spark import memo
        from anglerfish_spark.registry import all_queries
        from tests.conftest import SF_DIR

        sf_dir = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01")
        memo.STAGE_SECONDS["stream_table_feed"] = {"stale": 1.0}
        rows = all_queries()["q_stream_table_feed"].fn(spark, sf_dir).collect()
        assert sorted(r["change_type"] for r in rows) == ["delete", "insert"]
        assert set(memo.STAGE_SECONDS["stream_table_feed"]) == {
            "construct", "start", "drain", "agg_plan"
        }


class TestFeedPartialFoldR14Opt:
    """r14-opt: q_stream_table_feed consumes the feed as per-micro-batch
    PARTIAL aggregates (count + exact DECIMAL(38,10) sum) re-aggregated
    at the end, instead of draining full rows into a memory sink.  The
    availableNow drain the query runs is a single micro-batch, so this
    pins the property the reshape relies on across MULTIPLE batches:
    folding each batch separately and re-aggregating the partials is
    row-identical to the one-shot aggregate over the whole feed."""

    def test_multibatch_partials_equal_oneshot(self, spark, tmp_path):
        from anglerfish_spark.localdata import local_df
        from anglerfish_spark.operators.common import dsum
        from anglerfish_spark.sources.manifest_table import delete_keys, upsert
        from anglerfish_spark.sources.read_path import table_changes
        from anglerfish_spark.streaming.stateful import await_or_fail
        from anglerfish_spark.streaming.table_feed import read_table_feed

        t = str(tmp_path / "t")
        # values with a fractional part that is inexact in binary double:
        # partial-vs-oneshot FLOAT summation would differ, decimal must not
        df = spark.range(200).select(
            F.col("id").alias("k"), (F.col("id") * 0.1 + 0.01).alias("v")
        )
        upsert(spark, t, df, ["k"])                                          # v1
        partials: list = []

        def fold(batch, epoch):
            partials.extend(
                batch.groupBy("_change_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("v").cast("decimal(38,10)")).alias("s"),
                )
                .collect()
            )

        cp = str(tmp_path / "cp")

        def drain():
            q = (
                read_table_feed(spark, t)
                .select("_change_type", "v")
                .writeStream.foreachBatch(fold)
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            await_or_fail(q)

        drain()                                                              # batch 1: v1
        upsert(spark, t, spark.createDataFrame(
            [(3, 33.3), (500, 5.55)], "k long, v double"), ["k"])            # v2
        delete_keys(spark, t, "k", spark.createDataFrame([(7,)], "k long"))  # v3
        drain()                                                              # batch 2: v2+v3
        assert len(partials) >= 3  # both drains contributed partial rows

        got = sorted(
            tuple(r)
            for r in local_df(
                spark,
                [(r["_change_type"], r["n"], r["s"]) for r in partials],
                "change_type string, n bigint, s decimal(38,10)",
            )
            .groupBy("change_type")
            .agg(
                F.sum("n").cast("bigint").alias("n_rows"),
                F.sum("s").cast("double").alias("total"),
            )
            .collect()
        )
        feed, mode = table_changes(spark, t, 0, 3)
        assert mode == "logged"
        want = sorted(
            tuple(r)
            for r in feed.groupBy(F.col("_change_type").alias("change_type"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                dsum(F.col("v")).alias("total"),
            )
            .collect()
        )
        assert got == want
