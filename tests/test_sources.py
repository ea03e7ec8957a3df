"""Catalog loader invariants — regression tests for the events.ts
canonicalization (round-2 defect: parquet TIMESTAMP(MICROS,
isAdjustedToUTC=false) reads as TIMESTAMP_NTZ and broke every
epoch-arithmetic site) and the typed-OCF NaN/null distinction.
"""

from __future__ import annotations

import math
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from anglerfish_spark.sources.registry import load_table
from tests.conftest import SF_DIR


class TestEventsTsCanonicalization:
    def test_driver_parquet_ts_is_timestamp_type(self, spark):
        """Whatever the parquet stores, load_table must emit LTZ micros."""
        ev = load_table(spark, SF_DIR, "events")
        assert isinstance(ev.schema["ts"].dataType, T.TimestampType)

    def test_epoch_arithmetic_analyzes(self, spark):
        """The exact expressions that failed at analysis time in round 2."""
        ev = load_table(spark, SF_DIR, "events")
        row = ev.select(
            F.unix_micros("ts").alias("us"),
            F.window("ts", "1 hour").start.cast("long").alias("ws"),
        ).first()
        assert row.us is not None and row.ws is not None

    @pytest.mark.parametrize("store", ["ntz", "ltz"])
    def test_all_storage_forms_same_wall_clock(self, spark, store, tmp_path):
        """µs-NTZ and µs-LTZ storage of the same instant load identically
        (session tz is UTC, so the NTZ→LTZ cast preserves the wall clock)."""
        sf = str(tmp_path / store)
        os.makedirs(sf)
        tz = "UTC" if store == "ltz" else None
        tbl = pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([1_700_000_000_000_000], pa.timestamp("us", tz=tz)),
            }
        )
        pq.write_table(tbl, os.path.join(sf, "events.parquet"))
        ev = load_table(spark, sf, "events")
        assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
        assert ev.select(F.unix_micros("ts")).first()[0] == 1_700_000_000_000_000


class TestTypedOcfNanNull:
    def test_nan_survives_and_null_stays_null(self, spark, tmp_path):
        """Avro doubles support NaN: a NaN value must round-trip as NaN,
        a SQL NULL as null — the Arrow write path keeps them distinct
        (pandas float64 cannot)."""
        from anglerfish_spark.sources.avro_ocf import (
            read_avro_ocf_typed,
            write_avro_ocf_typed,
        )

        df = spark.createDataFrame(
            [(1, float("nan")), (2, None), (3, 2.5)], "id bigint, x double"
        )
        out = str(tmp_path)
        schema_json = write_avro_ocf_typed(df, out)
        back = {r.id: r.x for r in read_avro_ocf_typed(spark, out, schema_json).collect()}
        assert math.isnan(back[1])
        assert back[2] is None
        assert back[3] == 2.5


class TestAvroFormatProvider:
    """The three-state JVM Avro file gate (sources/registry.py): Spark 4's
    pip distribution bundles the file-format classes inside spark-sql
    WITHOUT service-registering 'avro' — Class.forName(AvroFileFormat) is
    True while format("avro") and to_avro both fail, which is why
    avro_available probes the expression class and file IO has its own
    provider probe."""

    def test_sandbox_state(self, spark):
        from anglerfish_spark.sources.registry import (
            AVRO_FILE_FORMAT_FQCN,
            avro_available,
            avro_format_provider,
        )

        provider = avro_format_provider(spark)
        # wherever this runs, the two probes must be individually honest:
        # from_avro usable iff the expression class loads
        if avro_available(spark):
            from pyspark.sql import functions as F
            from pyspark.sql.avro.functions import to_avro

            spark.range(1).select(to_avro(F.struct("id"))).collect()
        else:
            assert provider in (None, AVRO_FILE_FORMAT_FQCN)

    def test_generic_io_resolves_avro(self, spark, tmp_path):
        import pytest

        from anglerfish_spark.sources.registry import (
            avro_format_provider,
            read,
            write,
        )

        df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "s"])
        if avro_format_provider(spark) is None:
            with pytest.raises(ValueError, match="avro_ocf"):
                write(df, "avro", str(tmp_path / "t"))
            return
        write(df, "avro", str(tmp_path / "t"))
        back = sorted(read(spark, "avro", str(tmp_path / "t")).collect())
        assert [(r["k"], r["s"]) for r in back] == [(1, "a"), (2, "b")]

    def test_engine_reads_jvm_deflate_ocf(self, spark, tmp_path):
        """JVM Avro writer (deflate blocks) → pure-Python OCF datasource:
        the deflate decompressor added to decode_ocf_with_schema must see
        identical rows."""
        import pytest

        from anglerfish_spark.sources.ocf_datasource import register
        from anglerfish_spark.sources.registry import avro_format_provider, write

        provider = avro_format_provider(spark)
        if provider is None:
            pytest.skip("no JVM avro file format on this classpath")
        df = spark.createDataFrame(
            [(i, f"s{i}", float(i) / 3.0) for i in range(100)], ["k", "s", "x"]
        )
        write(df, "avro", str(tmp_path / "t"), compression="deflate")
        register(spark)
        back = spark.read.format("avro_ocf").load(str(tmp_path / "t"))
        assert sorted((r["k"], r["s"], r["x"]) for r in back.collect()) == sorted(
            (r["k"], r["s"], r["x"]) for r in df.collect()
        )

    def test_jvm_reads_engine_ocf(self, spark, tmp_path):
        """Engine OCF writer → JVM Avro reader (the opposite direction)."""
        import pytest

        from anglerfish_spark.sources.avro_ocf import write_avro_ocf_typed
        from anglerfish_spark.sources.registry import avro_format_provider

        provider = avro_format_provider(spark)
        if provider is None:
            pytest.skip("no JVM avro file format on this classpath")
        df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "s"])
        write_avro_ocf_typed(df, str(tmp_path / "t"))
        back = spark.read.format(provider).load(str(tmp_path / "t"))
        assert sorted((r["k"], r["s"]) for r in back.collect()) == [(1, "a"), (2, "b")]


class TestOcfDeflateCodec:
    def test_deflate_block_roundtrip_pure_python(self):
        """A hand-framed deflate OCF blob decodes identically to the null
        blob (raw RFC-1951 payload per the Avro spec)."""
        import io
        import zlib

        from anglerfish_spark.functions.avro_binary import write_long
        from anglerfish_spark.sources.avro_ocf import (
            decode_ocf_with_schema,
            encode_ocf,
        )

        schema = '{"type":"record","name":"r","fields":[{"name":"k","type":"long"}]}'
        values = [{"k": i} for i in range(50)]
        null_blob = encode_ocf(values, schema)
        assert decode_ocf_with_schema(null_blob)[0] == values

        # re-frame with deflate: header (codec=deflate) + compressed block
        from anglerfish_spark.functions.avro_binary import BinaryCodec

        codec = BinaryCodec(schema)
        payload = b"".join(codec.encode(v) for v in values)
        out = io.BytesIO()
        out.write(b"Obj\x01")
        meta = {"avro.schema": schema.encode(), "avro.codec": b"deflate"}
        write_long(out, len(meta))
        for mk, mv in meta.items():
            kk = mk.encode()
            write_long(out, len(kk)); out.write(kk)
            write_long(out, len(mv)); out.write(mv)
        write_long(out, 0)
        sync = b"\x07" * 16
        out.write(sync)
        comp = zlib.compress(payload, 9)[2:-4]  # raw deflate: strip zlib wrapper
        write_long(out, len(values))
        write_long(out, len(comp))
        out.write(comp)
        out.write(sync)
        got, wjson = decode_ocf_with_schema(out.getvalue())
        assert got == values and "\"name\"" in wjson

    def test_unknown_codec_rejected(self):
        from anglerfish_spark.sources.avro_ocf import _block_decompressor

        import pytest

        with pytest.raises(ValueError, match="unsupported OCF codec"):
            _block_decompressor(b"zstandard-bogus")


class TestDriverMemDefault:
    def test_env_override_wins(self, monkeypatch):
        from anglerfish_spark import session

        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
        assert session._default_driver_mem() == "2g"

    def test_capped_at_half_host_ram(self, monkeypatch):
        from anglerfish_spark import session

        monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
        got = session._default_driver_mem()
        assert got.endswith("m")
        mb = int(got[:-1])
        import os as _os

        total_mb = _os.sysconf("SC_PAGE_SIZE") * _os.sysconf("SC_PHYS_PAGES") // (1 << 20)
        assert 1024 <= mb <= min(8192, total_mb // 2)


class TestReadParquetSchemaCacheR14Opt:
    """read_parquet's per-file-state schema cache (r14-opt): identical
    frames to plain spark.read.parquet, keyed on file METADATA so a
    rewrite re-infers — never a result/data cache (the scan re-reads the
    parquet at every action)."""

    def test_identical_schema_and_rows(self, spark, tmp_path):
        from anglerfish_spark.sources.registry import read_parquet

        p = str(tmp_path / "t.parquet")
        pq.write_table(
            pa.table({"a": pa.array([1, 2], pa.int64()), "b": ["x", "y"]}), p
        )
        plain = spark.read.parquet(p)
        cached_first = read_parquet(spark, p)   # infers + records
        cached_hit = read_parquet(spark, p)     # explicit-schema path
        assert cached_first.schema == plain.schema == cached_hit.schema
        assert sorted(map(tuple, cached_hit.collect())) == sorted(
            map(tuple, plain.collect())
        )

    def test_rewrite_invalidates(self, spark, tmp_path):
        import time as _t

        from anglerfish_spark.sources.registry import read_parquet

        p = str(tmp_path / "t.parquet")
        pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), p)
        assert read_parquet(spark, p).schema["a"].dataType == T.LongType()
        _t.sleep(0.01)  # ensure a distinct mtime_ns on coarse filesystems
        pq.write_table(pa.table({"a": pa.array(["s"], pa.string())}), p)
        assert read_parquet(spark, p).schema["a"].dataType == T.StringType()

    def test_multi_file_key_orders_and_dirs(self, spark, tmp_path):
        import time as _t

        from anglerfish_spark.sources.registry import read_parquet

        d = tmp_path / "dir"
        d.mkdir()
        pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), str(d / "1.parquet"))
        assert read_parquet(spark, str(d)).count() == 1
        _t.sleep(0.01)
        # adding a file to the directory changes the entry key -> re-read
        pq.write_table(pa.table({"a": pa.array([2], pa.int64())}), str(d / "2.parquet"))
        assert read_parquet(spark, str(d)).count() == 2

    def test_deep_partition_rewrite_and_conf_flip_miss(self, spark, tmp_path):
        """A file replaced in place two partition levels down (root and
        _SUCCESS untouched) re-infers; so does a flip of the one inference
        conf in the key."""
        import os
        import time as _t

        from anglerfish_spark.sources import registry as R

        d = str(tmp_path / "t")
        spark.createDataFrame([(1, "x", 10)], "p1 int, p2 string, v bigint").write.partitionBy(
            "p1", "p2"
        ).parquet(d)
        assert R.read_parquet(spark, d).columns == ["v", "p1", "p2"]
        leaf = os.path.join(d, "p1=1", "p2=x")
        (part,) = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
        _t.sleep(0.05)
        # in place, and drop Hadoop's now-stale checksum of the old bytes
        pq.write_table(pa.table({"v": [10], "w": ["new"]}), os.path.join(leaf, part))
        os.remove(os.path.join(leaf, f".{part}.crc"))
        assert R.read_parquet(spark, d).columns == ["v", "w", "p1", "p2"]

        conf = "spark.sql.legacy.parquet.nanosAsLong"
        old = spark.conf.get(conf, "false")
        R._SCHEMA_CACHE.clear()
        R.read_parquet(spark, d)
        spark.conf.set(conf, "false" if old == "true" else "true")
        try:
            R.read_parquet(spark, d)
        finally:
            spark.conf.set(conf, old)
        assert len(R._SCHEMA_CACHE) == 2

    def test_data_never_cached(self, spark, tmp_path):
        """Same file state, different CONTENT bytes is impossible without a
        stat change on a real write path; what matters is that the action
        re-reads the file — prove it by swapping content with identical
        schema (stat changes, but the point is row values flow from disk)."""
        import time as _t

        from anglerfish_spark.sources.registry import read_parquet

        p = str(tmp_path / "t.parquet")
        pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), p)
        df = read_parquet(spark, p)
        assert df.collect()[0][0] == 1
        _t.sleep(0.01)
        pq.write_table(pa.table({"a": pa.array([7], pa.int64())}), p)
        # the PREVIOUSLY constructed frame re-scans at action time
        assert read_parquet(spark, p).collect()[0][0] == 7
