"""The avro_ocf Python DataSource (sources/ocf_datasource.py)."""

from __future__ import annotations

import math
import os
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from anglerfish_spark.sources.ocf_datasource import FORMAT_NAME, register


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register(spark)


def test_roundtrip_nan_null_distinct(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5, None), (2, "b", float("nan"), "x"), (3, None, -2.25, "y")],
        "id bigint, s string, x double, u string",
    )
    d = str(tmp_path / "t")
    df.write.format(FORMAT_NAME).mode("overwrite").save(d)
    rows = spark.read.format(FORMAT_NAME).load(d).orderBy("id").collect()
    assert rows[0].s == "a" and rows[2].s is None
    assert math.isnan(rows[1].x) and rows[1].u == "x"


def test_schema_inferred_from_header(spark, tmp_path):
    df = spark.createDataFrame([(1, "x")], "id bigint, s string")
    d = str(tmp_path / "t")
    df.write.format(FORMAT_NAME).mode("append").save(d)
    back = spark.read.format(FORMAT_NAME).load(d)
    assert isinstance(back.schema["id"].dataType, T.LongType)
    assert isinstance(back.schema["s"].dataType, T.StringType)


def test_one_partition_one_file_read_parallelism(spark, tmp_path):
    df = spark.range(100).select(F.col("id")).repartition(4)
    d = str(tmp_path / "t")
    df.write.format(FORMAT_NAME).mode("append").save(d)
    files = [f for f in os.listdir(d) if f.endswith(".avro")]
    assert len(files) == 4  # one OCF file per partition
    back = spark.read.format(FORMAT_NAME).load(d)
    assert back.rdd.getNumPartitions() == 4  # one task per file
    assert sorted(r.id for r in back.collect()) == list(range(100))


def test_overwrite_replaces_files(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.range(10).coalesce(1).write.format(FORMAT_NAME).mode("append").save(d)
    spark.range(3).coalesce(1).write.format(FORMAT_NAME).mode("overwrite").save(d)
    assert spark.read.format(FORMAT_NAME).load(d).count() == 3


def test_heterogeneous_dir_resolves_to_reader_schema(spark, tmp_path):
    """Two schema versions in one directory read as one relation under an
    explicit reader_schema (per-file writer → reader resolution)."""
    d = str(tmp_path / "t")
    spark.createDataFrame([(1,)], "id bigint").coalesce(1).write.format(
        FORMAT_NAME
    ).mode("append").save(d)
    spark.createDataFrame([(2, "x")], "id bigint, s string").coalesce(1).write.format(
        FORMAT_NAME
    ).mode("append").save(d)
    reader = """
    {"type":"record","name":"record","fields":[
      {"name":"id","type":["null","long"]},
      {"name":"s","type":["null","string"],"default":null}
    ]}
    """
    rows = (
        spark.read.format(FORMAT_NAME)
        .option("reader_schema", reader)
        .load(d)
        .orderBy("id")
        .collect()
    )
    assert [(r.id, r.s) for r in rows] == [(1, None), (2, "x")]


def test_date_and_decimal_logical_roundtrip(spark, tmp_path):
    import datetime as dt
    from decimal import Decimal

    df = spark.createDataFrame(
        [(1, dt.date(2024, 2, 29), Decimal("12.34"))],
        "id bigint, d date, amt decimal(10,2)",
    )
    d = str(tmp_path / "t")
    df.write.format(FORMAT_NAME).mode("append").save(d)
    back = spark.read.format(FORMAT_NAME).load(d)
    assert isinstance(back.schema["d"].dataType, T.DateType)
    assert isinstance(back.schema["amt"].dataType, T.DecimalType)
    r = back.collect()[0]
    assert r.d == dt.date(2024, 2, 29) and r.amt == Decimal("12.34")


def test_stream_write_then_batch_read(spark, sf_dir):
    """writeStream.format('avro_ocf'): one OCF segment per micro-batch
    partition; the directory then reads back (batch) to the same rows."""
    from anglerfish_spark.sources.registry import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    with tempfile.TemporaryDirectory(prefix="anglerfish_dsw_") as d:
        src, out, ckpt = f"{d}/src", f"{d}/out", f"{d}/ckpt"
        ev.write.json(src)
        stream = spark.readStream.schema(ev.schema).json(src)
        q = (
            stream.writeStream.format(FORMAT_NAME)
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        back = spark.read.format(FORMAT_NAME).load(out)
        assert sorted(r.event_id for r in back.collect()) == sorted(
            r.event_id for r in ev.collect()
        )


def test_stream_read_picks_up_new_files(spark):
    """readStream.format('avro_ocf'): the seen-file-set offset makes each
    new OCF file a micro-batch; two sequential availableNow runs sharing a
    checkpoint process exactly the new files the second time (OCF source
    AND sink, checkpoint-recoverable end to end)."""
    with tempfile.TemporaryDirectory(prefix="anglerfish_dsr_") as d:
        src, out, ckpt = f"{d}/src", f"{d}/out", f"{d}/ckpt"
        spark.range(5).coalesce(1).write.format(FORMAT_NAME).mode("append").save(src)

        def run_once():
            stream = spark.readStream.format(FORMAT_NAME).load(src)
            q = (
                stream.writeStream.format(FORMAT_NAME)
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
            return {r.id for r in spark.read.format(FORMAT_NAME).load(out).collect()}

        assert run_once() == set(range(5))
        spark.range(5, 8).coalesce(1).write.format(FORMAT_NAME).mode("append").save(src)
        # same checkpoint -> the second run appends ONLY the new files
        assert run_once() == set(range(8))


class TestOffsetCompaction:
    """mtime-watermark offset compaction (VERDICT r4 #5): a long-lived
    stream's checkpoint offset stays O(files in the lag window), and a
    compacted offset resumes IDENTICALLY — batches are computed from the
    offsets alone, surviving a JSON checkpoint round-trip."""

    SCHEMA = '{"type":"record","name":"R","fields":[{"name":"id","type":"long"}]}'

    def _reader(self, path, lag):
        from anglerfish_spark.sources.ocf_datasource import _OcfStreamReader

        return _OcfStreamReader(path, self.SCHEMA, compaction_lag=lag)

    def _mkfile(self, d, name, mtime):
        p = os.path.join(d, name)
        with open(p, "wb") as f:
            f.write(b"")
        os.utime(p, (mtime, mtime))
        return p

    def test_compacted_offset_resumes_identically(self, tmp_path):
        import json

        d = str(tmp_path)
        t0 = 1_700_000_000.0
        old = [self._mkfile(d, f"old{i}.avro", t0 + i) for i in range(5)]
        fresh = self._mkfile(d, "fresh.avro", t0 + 1000)

        r = self._reader(d, lag=60.0)
        o1 = r.latestOffset()
        # compaction: the 5 old segments collapse into the watermark
        assert set(o1["seen"]) == {fresh}
        assert o1["wm"] == t0 + 1000 - 60.0
        # first batch from the initial offset still covers EVERYTHING
        # explicit in o1; the old files predate the stream (wm of the
        # initial offset is None, but they are not in o1's seen set —
        # the documented contract: compaction treats them as seen)
        first = {p.value for p in r.partitions(r.initialOffset(), o1)}
        assert first == {fresh}

        # new segments arrive with fresh mtimes
        new1 = self._mkfile(d, "new1.avro", t0 + 1010)
        new2 = self._mkfile(d, "new2.avro", t0 + 1020)
        o2 = r.latestOffset()
        # resume from the COMPACTED o1 after a checkpoint JSON round-trip:
        # exactly the new files, never the watermark-implied old ones
        o1_rt = json.loads(json.dumps(o1))
        o2_rt = json.loads(json.dumps(o2))
        got = {p.value for p in r.partitions(o1_rt, o2_rt)}
        assert got == {new1, new2}
        # and the offset stayed bounded: old segments never re-enter
        assert set(o2["seen"]) == {fresh, new1, new2}
        assert all(f not in o2["seen"] for f in old)

    def test_backdated_file_is_skipped_by_design(self, tmp_path):
        d = str(tmp_path)
        t0 = 1_700_000_000.0
        self._mkfile(d, "a.avro", t0 + 1000)
        r = self._reader(d, lag=60.0)
        o1 = r.latestOffset()
        # a file published with an mtime older than newest-lag (preserved
        # timestamps) falls under the watermark: the documented trade-off
        self._mkfile(d, "backdated.avro", t0)
        in_lag = self._mkfile(d, "inlag.avro", t0 + 990)
        o2 = r.latestOffset()
        got = {p.value for p in r.partitions(o1, o2)}
        assert got == {in_lag}

    def test_disabled_compaction_keeps_exact_seen_set(self, tmp_path):
        d = str(tmp_path)
        t0 = 1_700_000_000.0
        a = self._mkfile(d, "a.avro", t0)
        b = self._mkfile(d, "b.avro", t0 + 100000)
        r = self._reader(d, lag=None)
        o1 = r.latestOffset()
        assert set(o1["seen"]) == {a, b} and o1["wm"] is None
        # even an ANCIENT new arrival is picked up — exact semantics
        c = self._mkfile(d, "c.avro", 0.0)
        got = {p.value for p in r.partitions(o1, r.latestOffset())}
        assert got == {c}

    def test_precompaction_checkpoint_format_resumes(self, tmp_path):
        """Offsets written before compaction existed ({path: True}, no wm)
        must keep working as the start of the next batch."""
        d = str(tmp_path)
        t0 = 1_700_000_000.0
        a = self._mkfile(d, "a.avro", t0)
        r = self._reader(d, lag=60.0)
        legacy = {"seen": {a: True}}
        b = self._mkfile(d, "b.avro", t0 + 10)
        got = {p.value for p in r.partitions(legacy, r.latestOffset())}
        assert got == {b}

    def test_streaming_end_to_end_with_compaction(self, spark):
        """The option wired through readStream: with a generous lag the
        two-run checkpoint-resume behavior is unchanged."""
        with tempfile.TemporaryDirectory(prefix="anglerfish_dsc_") as d:
            src, out, ckpt = f"{d}/src", f"{d}/out", f"{d}/ckpt"
            spark.range(5).coalesce(1).write.format(FORMAT_NAME).mode("append").save(src)

            def run_once():
                stream = (
                    spark.readStream.format(FORMAT_NAME)
                    .option("compaction_lag_sec", "3600")
                    .load(src)
                )
                q = (
                    stream.writeStream.format(FORMAT_NAME)
                    .option("path", out)
                    .option("checkpointLocation", ckpt)
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination(300)
                return {r.id for r in spark.read.format(FORMAT_NAME).load(out).collect()}

            assert run_once() == set(range(5))
            spark.range(5, 8).coalesce(1).write.format(FORMAT_NAME).mode("append").save(src)
            assert run_once() == set(range(8))


def test_instants_read_back_utc_in_any_worker_time_zone(tmp_path, monkeypatch):
    """A TIMESTAMP read under a worker time zone ahead of UTC comes back
    as the instant written: the read goes through the conversion the
    worker applies to a reader's output, no Spark job."""
    import datetime as dt
    import time

    from pyspark.sql.datasource import InputPartition
    from pyspark.sql.worker.plan_data_source_read import records_to_arrow_batches

    from anglerfish_spark.sources.avro_ocf import encode_ocf
    from anglerfish_spark.sources.ocf_datasource import AvroOcfDataSource

    schema = (
        '{"type":"record","name":"r","fields":['
        '{"name":"ts","type":{"type":"long","logicalType":"timestamp-micros"}}]}'
    )
    noon = dt.datetime(2024, 3, 1, 12, tzinfo=dt.timezone.utc)
    f = tmp_path / "part-0.avro"
    f.write_bytes(encode_ocf([{"ts": noon}], schema))
    monkeypatch.setenv("TZ", "Asia/Kolkata")
    time.tzset()
    try:
        ds = AvroOcfDataSource({"path": str(tmp_path)})
        out = ds.reader(ds.schema()).read(InputPartition(str(f)))
        (batch,) = records_to_arrow_batches(out, 100, ds.schema(), ds)
        got = batch.column("ts")[0].as_py()
    finally:
        monkeypatch.undo()
        time.tzset()
    assert got.astimezone(dt.timezone.utc) == noon


def test_schema_inference_reads_headers_only(tmp_path, monkeypatch):
    """Planning a read without a ``reader_schema`` option parses the
    first file's header, never its data: no datum is decoded on the
    driver around ``reader(schema())``."""
    from anglerfish_spark.functions.avro_binary import BinaryCodec
    from anglerfish_spark.sources.avro_ocf import encode_ocf
    from anglerfish_spark.sources.ocf_datasource import AvroOcfDataSource

    schema = '{"type":"record","name":"r","fields":[{"name":"x","type":"long"}]}'
    (tmp_path / "part-0.avro").write_bytes(encode_ocf([{"x": i} for i in range(1000)], schema))
    decodes = []
    decode_fn = BinaryCodec.decode_fn

    def counting(self):
        fn = decode_fn(self)
        return lambda buf, pos: decodes.append(1) or fn(buf, pos)

    monkeypatch.setattr(BinaryCodec, "decode_fn", counting)
    ds = AvroOcfDataSource({"path": str(tmp_path)})
    reader = ds.reader(ds.schema())
    assert reader.reader_schema_json == schema
    assert len(decodes) == 0


def test_staged_tmp_files_are_invisible_to_readers(spark, tmp_path):
    """The two-phase write protocol: a dead task's .avro.tmp staging file
    must never be listed by batch or streaming reads."""
    df = spark.createDataFrame([(1,)], "id bigint")
    d = str(tmp_path / "t")
    df.write.format(FORMAT_NAME).mode("append").save(d)
    with open(os.path.join(d, "part-deadtask.avro.tmp"), "wb") as f:
        f.write(b"truncated garbage from a lost executor")
    assert spark.read.format(FORMAT_NAME).load(d).count() == 1


def test_stream_sink_segments_named_by_batch_id(spark):
    """Committed stream segments carry the batch id (idempotent replay
    renames onto the same names instead of appending duplicates)."""
    with tempfile.TemporaryDirectory(prefix="anglerfish_dsb_") as d:
        src, out, ckpt = f"{d}/src", f"{d}/out", f"{d}/ckpt"
        spark.range(4).coalesce(1).write.format(FORMAT_NAME).mode("append").save(src)
        q = (
            spark.readStream.format(FORMAT_NAME)
            .load(src)
            .writeStream.format(FORMAT_NAME)
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        names = sorted(os.listdir(out))
        assert names and all(n.startswith("part-") and n.endswith(".avro") for n in names)
        assert all(n.split("-")[1].isdigit() for n in names)  # batchId component
        assert spark.read.format(FORMAT_NAME).load(out).count() == 4


class TestStreamWriterReplayIdempotency:
    """ADVICE r3: a replayed micro-batch with FEWER partitions than the
    crashed first attempt must not leave the first attempt's higher-index
    part-<batchId>-<i>.avro files visible as duplicate segments."""

    def test_commit_removes_stale_batch_files(self, tmp_path):
        import os

        from anglerfish_spark.sources.ocf_datasource import (
            _OcfCommit,
            _OcfStreamWriter,
        )

        d = str(tmp_path)
        # first attempt committed 3 partitions for batch 7
        for i in range(3):
            with open(os.path.join(d, f"part-{7:010d}-{i:05d}.avro"), "wb") as f:
                f.write(b"old")
        # replay stages only 1 partition
        staged = os.path.join(d, "part-replay.avro.tmp")
        with open(staged, "wb") as f:
            f.write(b"new")
        w = _OcfStreamWriter(d, "{}")
        w.commit([_OcfCommit(staged, 1)], batchId=7)
        remaining = sorted(p for p in os.listdir(d) if p.endswith(".avro"))
        assert remaining == [f"part-{7:010d}-{0:05d}.avro"]
        with open(os.path.join(d, remaining[0]), "rb") as f:
            assert f.read() == b"new"
