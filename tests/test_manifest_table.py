"""Mocked lakehouse commit protocol (VERDICT r4 missing #3): snapshot
atomicity, optimistic-concurrency conflict, txn-id replay idempotency,
crash-orphan invisibility + vacuum, time travel, and the manifest-backed
keyed-upsert streaming sink."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from anglerfish_spark.sources.manifest_table import (
    ConcurrentCommitError,
    commit,
    current_version,
    delete_groups,
    read_manifest,
    snapshot,
    stage_files,
    start_manifest_upsert_sink,
    upsert,
    vacuum,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_asof_demo_table_is_built_once_under_the_root(spark, sf_dir):
    from anglerfish_spark import memo
    from anglerfish_spark.sources.manifest_table import _asof_table

    t = _asof_table(spark, sf_dir)
    assert t.startswith(memo._root() + os.sep) and current_version(t) == 2
    assert _asof_table(spark, sf_dir) == t


class TestCommitProtocol:
    def test_staged_files_invisible_until_commit(self, spark, tmp_path):
        t = str(tmp_path / "t")
        df = spark.createDataFrame([(1, "a")], ["k", "v"])
        files = stage_files(df, t)
        assert files
        # no snapshot exists yet: the data files are not reachable
        assert current_version(t) == 0
        with pytest.raises(FileNotFoundError):
            snapshot(spark, t)
        commit(t, files, expected_version=0)
        assert current_version(t) == 1
        assert _rows(snapshot(spark, t)) == [(1, "a")]

    def test_concurrent_commit_conflict(self, spark, tmp_path):
        t = str(tmp_path / "t")
        df = spark.createDataFrame([(1, "a")], ["k", "v"])
        f1 = stage_files(df, t)
        f2 = stage_files(df, t)
        commit(t, f1, expected_version=0)
        # the second writer based its commit on version 0 too -> conflict
        with pytest.raises(ConcurrentCommitError):
            commit(t, f2, expected_version=0)
        # rebase on the new snapshot and retry: wins as version 2
        assert commit(t, f2, expected_version=1) == 2

    def test_upsert_replaces_keys_and_time_travels(self, spark, tmp_path):
        t = str(tmp_path / "t")
        upsert(spark, t, spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), ["k"])
        upsert(spark, t, spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"]), ["k"])
        assert _rows(snapshot(spark, t)) == [(1, "a"), (2, "B"), (3, "c")]
        # AS OF version 1: the pre-merge world is still readable
        assert _rows(snapshot(spark, t, version=1)) == [(1, "a"), (2, "b")]

    def test_txn_replay_is_noop(self, spark, tmp_path):
        t = str(tmp_path / "t")
        b = spark.createDataFrame([(1, "a")], ["k", "v"])
        v1 = upsert(spark, t, b, ["k"], txn_id="batch-7")
        # foreachBatch redelivers the same epoch after a crash:
        v2 = upsert(spark, t, b, ["k"], txn_id="batch-7")
        assert v1 == v2 == 1
        assert read_manifest(t)["txn_id"] == "batch-7"
        assert _rows(snapshot(spark, t)) == [(1, "a")]

    def test_txn_replay_after_interleaved_commit_is_still_noop(self, spark, tmp_path):
        """A replayed batch must be recognized even when OTHER commits
        landed after its original — the txn check scans history, not just
        the latest manifest."""
        t = str(tmp_path / "t")
        upsert(spark, t, spark.createDataFrame([(1, "a")], ["k", "v"]), ["k"], txn_id="batch-1")
        upsert(spark, t, spark.createDataFrame([(2, "b")], ["k", "v"]), ["k"], txn_id="batch-2")
        # crash-recovery redelivers batch-1 after batch-2 already committed
        v = upsert(
            spark, t, spark.createDataFrame([(1, "a")], ["k", "v"]), ["k"], txn_id="batch-1"
        )
        assert v == 2  # no third version
        assert _rows(snapshot(spark, t)) == [(1, "a"), (2, "b")]

    def test_vacuum_removes_only_orphans(self, spark, tmp_path):
        t = str(tmp_path / "t")
        df = spark.createDataFrame([(1, "a")], ["k", "v"])
        committed = stage_files(df, t)
        commit(t, committed, expected_version=0)
        orphans = stage_files(df, t)  # a crashed writer's leftovers
        assert vacuum(t) == []  # default grace: young files never reclaimed
        removed = vacuum(t, min_age_ms=0)
        assert sorted(removed) == sorted(orphans)
        assert _rows(snapshot(spark, t)) == [(1, "a")]  # snapshot intact


class TestManifestUpsertSink:
    def test_streaming_upsert_commits_per_batch(self, spark, tmp_path):
        t = str(tmp_path / "table")
        with tempfile.TemporaryDirectory() as d:
            src = f"{d}/src"
            spark.createDataFrame(
                [(1, "a"), (2, "b"), (2, "b2")], ["k", "v"]
            ).write.json(src)
            stream = spark.readStream.schema("k long, v string").json(src)
            q = start_manifest_upsert_sink(
                stream, t, ["k"], checkpoint=f"{d}/ckpt"
            )
            q.awaitTermination(300)
        assert current_version(t) >= 1
        got = {r["k"]: r["v"] for r in snapshot(spark, t).collect()}
        assert set(got) == {1, 2}
        assert read_manifest(t)["txn_id"].startswith("batch-")


class TestCompaction:
    def test_compact_preserves_rows_and_shrinks_files(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import (
            compact_table,
            current_version,
            read_manifest,
            snapshot,
            upsert,
            vacuum,
        )

        t = str(tmp_path / "t")
        df = spark.range(0, 1000, 1, 16).selectExpr("id AS k", "id * 2 AS v")
        upsert(spark, t, df, ["k"])
        n_before = len(read_manifest(t, 1)["files"])
        assert n_before > 1  # small-files state to fix

        before = sorted(tuple(r) for r in snapshot(spark, t).collect())
        v2 = compact_table(spark, t, target_file_bytes=1 << 30)
        assert v2 == 2
        m2 = read_manifest(t, 2)
        assert len(m2["files"]) == 1
        after = sorted(tuple(r) for r in snapshot(spark, t).collect())
        assert after == before  # logically a no-op

        # time travel still reads the PRE-compaction layout...
        old = sorted(tuple(r) for r in snapshot(spark, t, 1).collect())
        assert old == before
        # ...and vacuum keeps both snapshots' files while history remains
        assert vacuum(t) == []
        assert current_version(t) == 2

    def test_compact_conflicts_like_any_writer(self, spark, tmp_path):
        import pytest as _pytest

        from anglerfish_spark.sources.manifest_table import (
            ConcurrentCommitError,
            commit,
            compact_table,
            current_version,
            snapshot,
            stage_files,
            upsert,
        )

        t = str(tmp_path / "t")
        upsert(spark, t, spark.range(10).selectExpr("id AS k", "id AS v"), ["k"])
        # another writer takes v2 first
        files = stage_files(snapshot(spark, t), t)
        commit(t, files, expected_version=1)

        v = current_version(t)
        snap_files = stage_files(snapshot(spark, t, 1), t)
        with _pytest.raises(ConcurrentCommitError):
            commit(t, snap_files, expected_version=1)
        # rebased compaction (reads current version) succeeds
        assert compact_table(spark, t) == v + 1


class TestUpsertSinkRetry:
    """ADVICE r5: the foreachBatch upsert must survive losing the O_EXCL
    commit race to a concurrent writer — retry against the re-read
    snapshot instead of failing the stream permanently."""

    def test_foreachbatch_retries_on_concurrent_commit(self, spark, tmp_path, monkeypatch):
        import anglerfish_spark.sources.manifest_table as mt

        table = str(tmp_path / "t")
        batch = spark.createDataFrame([(1, "a")], ["k", "v"])

        calls = {"n": 0}
        real_upsert = mt.upsert

        def flaky_upsert(sp, tbl, b, keys, txn_id=None):
            calls["n"] += 1
            if calls["n"] == 1:
                raise mt.ConcurrentCommitError("lost the race (simulated)")
            return real_upsert(sp, tbl, b, keys, txn_id=txn_id)

        monkeypatch.setattr(mt, "upsert", flaky_upsert)
        # drive the foreachBatch function directly (the wiring around it is
        # exercised by the existing streaming sink test)
        sink_fn = None

        class _FakeWriter:
            def outputMode(self, *_):
                return self

            def foreachBatch(self, fn):
                nonlocal sink_fn
                sink_fn = fn
                return self

            def option(self, *_):
                return self

            def trigger(self, **_):
                return self

            def start(self):
                return None

        class _FakeStream:
            writeStream = _FakeWriter()

        mt.start_manifest_upsert_sink(_FakeStream(), table, ["k"])
        sink_fn(batch, 0)
        assert calls["n"] == 2  # one loss + one successful retry
        assert mt.current_version(table) == 1


class TestSchemaEvolution:
    """VERDICT r5 #4: evolution resolved by the engine's own can_read /
    evolve_struct — compatible changes read across filesets, incompatible
    ones fail AT COMMIT, and time travel keeps each version's schema."""

    V1 = """
    {"type":"record","name":"t","fields":[
      {"name":"k","type":"long"},
      {"name":"total","type":"double"}
    ]}
    """
    V2 = """
    {"type":"record","name":"t","fields":[
      {"name":"k","type":"long"},
      {"name":"price","type":"double","aliases":["total"]},
      {"name":"status","type":"string","default":"legacy"}
    ]}
    """

    def _mk(self, spark, tmp_path):
        import anglerfish_spark.sources.manifest_table as mt

        t = str(tmp_path / "t")
        v1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], ["k", "total"])
        mt.append_evolved(spark, t, v1, self.V1)
        v2 = spark.createDataFrame([(3, 30.0, "live")], ["k", "price", "status"])
        mt.append_evolved(spark, t, v2, self.V2, reader_schema=self.V2)
        return mt, t

    def test_evolved_read_renames_and_fills_default(self, spark, tmp_path):
        mt, t = self._mk(spark, tmp_path)
        rows = {r["k"]: (r["price"], r["status"])
                for r in mt.snapshot_evolved(spark, t).collect()}
        assert rows == {1: (10.0, "legacy"), 2: (20.0, "legacy"), 3: (30.0, "live")}

    def test_time_travel_keeps_old_schema(self, spark, tmp_path):
        mt, t = self._mk(spark, tmp_path)
        v1 = mt.snapshot_evolved(spark, t, version=1)
        assert v1.columns == ["k", "total"]
        assert {tuple(r) for r in v1.collect()} == {(1, 10.0), (2, 20.0)}

    def test_incompatible_evolution_fails_at_commit(self, spark, tmp_path):
        import pytest

        from anglerfish_spark.errors import SchemaEvolutionError
        import anglerfish_spark.sources.manifest_table as mt

        t = str(tmp_path / "t")
        v1 = spark.createDataFrame([(1, 10.0)], ["k", "total"])
        mt.append_evolved(spark, t, v1, self.V1)
        # dropping `total` without the reader providing a default for a
        # field the writer lacks -> new field `mandatory` has no default
        bad = """
        {"type":"record","name":"t","fields":[
          {"name":"k","type":"long"},
          {"name":"mandatory","type":"string"}
        ]}
        """
        batch = spark.createDataFrame([(2, "x")], ["k", "mandatory"])
        with pytest.raises(SchemaEvolutionError):
            mt.append_evolved(spark, t, batch, bad, reader_schema=bad)
        assert mt.current_version(t) == 1  # nothing was committed

    def test_type_narrowing_rejected(self, spark, tmp_path):
        import pytest

        from anglerfish_spark.errors import SchemaEvolutionError
        import anglerfish_spark.sources.manifest_table as mt

        t = str(tmp_path / "t")
        mt.append_evolved(
            spark, t, spark.createDataFrame([(1, 10.0)], ["k", "total"]), self.V1
        )
        narrowed = """
        {"type":"record","name":"t","fields":[
          {"name":"k","type":"long"},
          {"name":"total","type":"float"}
        ]}
        """
        with pytest.raises(SchemaEvolutionError):
            mt.append_evolved(
                spark, t,
                spark.createDataFrame([(2, 1.0)], ["k", "total"]),
                narrowed, reader_schema=narrowed,
            )


class TestMergeOnReadDeletes:
    """Equality-delete files: O(keys) deletes, anti-join reads, time
    travel intact, copy-on-write compaction folds them in."""

    def _table(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import delete_keys

        t = str(tmp_path / "t")
        df = spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        upsert(spark, t, df, ["k"], txn_id="v1")
        doomed = spark.range(0, 10, 2).select(F.col("id").alias("k"))
        delete_keys(spark, t, "k", doomed, txn_id="v2")
        return t

    def test_delete_is_o_keys_not_a_rewrite(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        m1, m2 = read_manifest(t, 1), read_manifest(t, 2)
        assert m2["files"] == m1["files"]  # data untouched
        groups = delete_groups(m2)
        assert groups and groups[0]["key"] == "k" and groups[0]["files"]

    def test_read_applies_deletes_history_does_not(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        assert sorted(r.k for r in snapshot(spark, t).collect()) == [1, 3, 5, 7, 9]
        assert len(snapshot(spark, t, 1).collect()) == 10  # time travel

    def test_compaction_folds_deletes_physically(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import compact_table

        t = self._table(spark, tmp_path)
        compact_table(spark, t)
        m3 = read_manifest(t, 3)
        assert not delete_groups(m3)
        assert sorted(r.k for r in snapshot(spark, t, 3).collect()) == [1, 3, 5, 7, 9]

    def test_mixed_delete_keys_compose(self, spark, tmp_path):
        """VERDICT r6 #7: a table may carry delete groups on MULTIPLE keys
        (one anti-join per key at read time); time travel preserved."""
        from anglerfish_spark.sources.manifest_table import delete_groups, delete_keys

        t = self._table(spark, tmp_path)  # evens already deleted on k
        delete_keys(spark, t, "v", spark.createDataFrame([(30,)], "v long"))
        assert sorted(r.k for r in snapshot(spark, t).collect()) == [1, 5, 7, 9]
        groups = delete_groups(read_manifest(t))
        assert sorted(g["key"] for g in groups) == ["k", "v"]
        # pre-delete versions still read everything
        assert len(snapshot(spark, t, 1).collect()) == 10

    def test_repeated_deletes_accumulate(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import delete_keys

        t = self._table(spark, tmp_path)
        delete_keys(spark, t, "k", spark.range(1, 2).select(F.col("id").alias("k")))
        assert sorted(r.k for r in snapshot(spark, t).collect()) == [3, 5, 7, 9]
        # since r8, each delete commit is its OWN group (it carries its
        # sequence number); the lossy single-group legacy mirror is
        # withheld and the format version fences legacy readers out
        from anglerfish_spark.sources.manifest_table import delete_groups

        m = read_manifest(t)
        assert len([g for g in delete_groups(m) if g["key"] == "k"]) == 2
        # since r10 (format 3: manifest list + segments) the mirror
        # fields are gone entirely and the version fence is 3
        assert "deletes" not in m and m["min_reader_format"] == 3

    def test_vacuum_keeps_delete_files(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        removed = vacuum(t)
        assert removed == []
        assert sorted(r.k for r in snapshot(spark, t).collect()) == [1, 3, 5, 7, 9]

    def test_delete_replay_is_noop(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import delete_keys

        t = self._table(spark, tmp_path)
        v = current_version(t)
        doomed = spark.range(0, 10, 2).select(F.col("id").alias("k"))
        assert delete_keys(spark, t, "k", doomed, txn_id="v2") == v  # replay

    def test_upsert_after_delete_does_not_resurrect(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        batch = spark.range(100, 101).select(F.col("id").alias("k"), F.lit(0).alias("v"))
        upsert(spark, t, batch, ["k"])
        assert sorted(r.k for r in snapshot(spark, t).collect()) == [1, 3, 5, 7, 9, 100]
        # r9 file-targeted COW: the delete group carries forward (untouched
        # files still hold masked rows) but cannot apply to the upsert's
        # new fileset (strictly-older seq rule); compact_deletes folds it
        from anglerfish_spark.sources.manifest_table import compact_deletes, delete_groups

        assert delete_groups(read_manifest(t))  # carried, not silently dropped
        compact_deletes(spark, t)
        m = read_manifest(t)
        assert not delete_groups(m) and not m.get("pos_deletes")
        assert sorted(r.k for r in snapshot(spark, t).collect()) == [1, 3, 5, 7, 9, 100]

    def test_upsert_deleted_key_reinserts_visibly(self, spark, tmp_path):
        """Re-upserting a previously-deleted key must be visible (the new
        fileset's seq is newer than the carried delete group's)."""
        t = self._table(spark, tmp_path)  # keys 0..9, evens deleted
        batch = spark.range(4, 5).select(F.col("id").alias("k"), F.lit(77).alias("v"))
        upsert(spark, t, batch, ["k"])
        got = {(r.k, r.v) for r in snapshot(spark, t).collect()}
        assert (4, 77) in got
        assert sorted(k for k, _ in got) == [1, 3, 4, 5, 7, 9]


class TestExpireSnapshots:
    """Retention: expired manifests make their exclusive data files
    vacuum-able; the retained window still reads; expired versions fail
    loudly."""

    def test_expire_then_vacuum_reclaims(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import expire_snapshots

        t = str(tmp_path / "t")
        upsert(spark, t, spark.createDataFrame([(1, "a")], ["k", "v"]), ["k"])
        # REPLACE key 1 twice: each upsert rewrites the file holding it,
        # so the superseded copies are exclusive to the expired versions
        # (an insert-only upsert would keep every old file referenced —
        # the r9 file-targeted COW contract)
        upsert(spark, t, spark.createDataFrame([(1, "b"), (2, "b")], ["k", "v"]), ["k"])
        upsert(spark, t, spark.createDataFrame([(1, "c"), (3, "c")], ["k", "v"]), ["k"])
        assert vacuum(t) == []  # full history retained: nothing orphaned
        assert expire_snapshots(t, keep_last=1) == [1, 2]
        removed = vacuum(t, min_age_ms=0)
        assert removed  # v1/v2-only files reclaimed
        # the current snapshot is untouched
        assert sorted(r.k for r in snapshot(spark, t).collect()) == [1, 2, 3]
        # expired versions fail loudly, not silently-empty
        with pytest.raises(FileNotFoundError):
            read_manifest(t, 1)

    def test_keep_last_validated(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import expire_snapshots

        t = str(tmp_path / "t")
        upsert(spark, t, spark.createDataFrame([(1, "a")], ["k", "v"]), ["k"])
        with pytest.raises(ValueError):
            expire_snapshots(t, keep_last=0)
        assert expire_snapshots(t, keep_last=3) == []  # window > history: no-op


class TestTimeTravelAddressing:
    """VERDICT r7 #4: snapshots addressable by commit TIMESTAMP and by
    named TAG, not just integer version — the forms users write
    (`AS OF TIMESTAMP`, write-audit-publish)."""

    def _table(self, spark, tmp_path):
        t = str(tmp_path / "t")
        for i in range(1, 4):
            upsert(spark, t, spark.createDataFrame([(i, i * 10)], ["k", "v"]), ["k"])
        return t

    def test_commit_times_strictly_monotonic(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        ats = [read_manifest(t, v)["committed_at_ms"] for v in (1, 2, 3)]
        assert ats[0] < ats[1] < ats[2]

    def test_as_of_ts_resolves_newest_at_or_before(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import resolve_as_of

        t = self._table(spark, tmp_path)
        a1, a2, a3 = (read_manifest(t, v)["committed_at_ms"] for v in (1, 2, 3))
        assert resolve_as_of(t, a1) == 1            # exact hit
        assert resolve_as_of(t, a2 - 1) == 1        # between commits -> older
        assert resolve_as_of(t, a3 + 10_000) == 3   # after everything -> latest
        assert sorted(r.k for r in snapshot(spark, t, as_of_ts=a2).collect()) == [1, 2]
        from anglerfish_spark.errors import AnglerfishError

        with pytest.raises(AnglerfishError):
            resolve_as_of(t, a1 - 1)  # before all retained history

    def test_addressings_mutually_exclusive(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        with pytest.raises(ValueError):
            snapshot(spark, t, version=1, as_of_ts=0)

    def test_tags_pin_and_resolve(self, spark, tmp_path):
        from anglerfish_spark.errors import AnglerfishError
        from anglerfish_spark.sources.manifest_table import delete_tag, tag, tags

        t = self._table(spark, tmp_path)
        assert tag(t, "gold", 2) == 2
        assert tags(t) == {"gold": 2}
        assert sorted(r.k for r in snapshot(spark, t, tag="gold").collect()) == [1, 2]
        with pytest.raises(AnglerfishError):
            tag(t, "gold", 3)  # create-once: re-pointing is delete + tag
        with pytest.raises(AnglerfishError):
            tag(t, "nope", 9)  # no such manifest
        delete_tag(t, "gold")
        with pytest.raises(AnglerfishError):
            snapshot(spark, t, tag="gold")

    def test_tag_pins_against_expiration(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import (
            delete_tag,
            expire_snapshots,
            tag,
        )

        t = self._table(spark, tmp_path)
        tag(t, "audit", 1)
        assert expire_snapshots(t, keep_last=1) == [2]  # v1 pinned, v2 goes
        assert sorted(r.k for r in snapshot(spark, t, tag="audit").collect()) == [1]
        delete_tag(t, "audit")
        assert expire_snapshots(t, keep_last=1) == [1]  # unpinned -> reclaimed


class TestCompactDeletes:
    """VERDICT r7 #2: targeted (minor) delete compaction — rewrite ONLY
    the files the delete state touches, keep everything else verbatim,
    clear the folded delete entries."""

    def _sizes(self, t, files):
        return {f: os.path.getsize(os.path.join(t, f)) for f in files}

    def test_pos_delete_rewrites_only_named_files(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import (
            compact_deletes,
            delete_where,
        )

        t = str(tmp_path / "t")
        df = spark.range(40).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        ).repartitionByRange(4, "k")
        upsert(spark, t, df, ["k"])
        before = _rows(snapshot(spark, t))
        delete_where(spark, t, F.col("k") >= 35)  # hits only the top-range file
        m2 = read_manifest(t)
        expect = _rows(snapshot(spark, t))
        untouched = None
        sizes_before = self._sizes(t, m2["files"])
        v3, report = compact_deletes(spark, t)
        assert v3 == 3 and report["rewritten"]
        # only a strict subset of files was rewritten; the rest are the
        # SAME paths with the SAME bytes on disk (never rewritten)
        untouched = [f for f in m2["files"] if f not in report["rewritten"]]
        assert untouched and set(report["rewritten"]) < set(m2["files"])
        m3 = read_manifest(t)
        assert set(untouched) <= set(m3["files"])
        assert self._sizes(t, untouched) == {f: sizes_before[f] for f in untouched}
        # delete state cleared, rows identical, history intact
        assert not m3.get("pos_deletes") and not m3.get("delete_groups")
        assert _rows(snapshot(spark, t)) == expect
        assert _rows(snapshot(spark, t, 1)) == before
        # the feed over a compaction step is empty (logged no-op)
        from anglerfish_spark.sources.read_path import table_changes

        feed, mode = table_changes(spark, t, 2, 3)
        assert mode == "logged" and feed.count() == 0

    def test_equality_delete_targeted(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import (
            compact_deletes,
            delete_keys,
        )

        t = str(tmp_path / "t")
        df = spark.range(40).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        ).repartitionByRange(4, "k")
        upsert(spark, t, df, ["k"])
        m1 = read_manifest(t)
        delete_keys(spark, t, "k", spark.createDataFrame([(2,), (3,)], "k long"))
        expect = _rows(snapshot(spark, t))
        v3, report = compact_deletes(spark, t)
        m3 = read_manifest(t)
        # keys 2,3 live in one range file: the other three stay verbatim
        assert len(report["rewritten"]) < len(m1["files"])
        assert not m3.get("delete_groups") and m3.get("deletes") is None
        assert _rows(snapshot(spark, t)) == expect
        assert len(_rows(snapshot(spark, t, 1))) == 40

    def test_nothing_to_fold_is_noop(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import compact_deletes

        t = str(tmp_path / "t")
        upsert(spark, t, spark.createDataFrame([(1, "a")], ["k", "v"]), ["k"])
        v, report = compact_deletes(spark, t)
        assert v == 1 and report["rewritten"] == []
        assert current_version(t) == 1  # no new commit


class TestCommitValidation:
    """VERDICT r7 #7: Iceberg-style semantic validation when a writer
    loses the version CAS — append/equality-delete rebase cleanly,
    positional deletes over a concurrent rewrite must FAIL, not
    silently anti-join nothing."""

    def _base(self, spark, tmp_path):
        t = str(tmp_path / "t")
        df = spark.range(6).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
        upsert(spark, t, df, ["k"])
        return t

    def test_append_rebases_over_append(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import commit_rebased

        t = self._base(spark, tmp_path)
        mine = stage_files(
            spark.createDataFrame([(100, 1.0)], "k long, v double"), t
        )
        # concurrent writer lands v2 first
        upsert(spark, t, spark.createDataFrame([(200, 2.0)], "k long, v double"), ["k"])
        with pytest.raises(ConcurrentCommitError):
            commit(t, read_manifest(t, 1)["files"] + mine, expected_version=1)
        v = commit_rebased(t, 1, "append", files=mine)
        assert v == 3
        ks = sorted(r.k for r in snapshot(spark, t).collect())
        assert 100 in ks and 200 in ks and len(ks) == 8

    def test_append_rebases_over_delete_seq_rule(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import (
            commit_rebased,
            delete_keys,
        )

        t = self._base(spark, tmp_path)
        mine = stage_files(spark.createDataFrame([(2, 9.0)], "k long, v double"), t)
        delete_keys(spark, t, "k", spark.createDataFrame([(2,)], "k long"))  # v2
        v = commit_rebased(t, 1, "append", files=mine)
        rows = {r.k: r.v for r in snapshot(spark, t, v).collect()}
        assert rows[2] == 9.0  # re-appended key visible: delete has older seq

    def test_equality_delete_rebases_over_upsert(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import commit_rebased

        t = self._base(spark, tmp_path)
        kf = stage_files(spark.createDataFrame([(4,)], "k long"), t)
        upsert(spark, t, spark.createDataFrame([(4, 44.0), (7, 7.0)], "k long, v double"), ["k"])
        v = commit_rebased(t, 1, "equality_delete", delete_group={"key": "k", "files": kf})
        ks = sorted(r.k for r in snapshot(spark, t, v).collect())
        # like Iceberg: the retried delete's NEW seq suppresses even the
        # concurrently upserted image of k=4
        assert ks == [0, 1, 2, 3, 5, 7]

    def test_pos_delete_conflicts_with_compaction(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import (
            CommitConflictError,
            commit_rebased,
            compact_table,
        )
        from anglerfish_spark.sources.read_path import read_table

        t = self._base(spark, tmp_path)
        pre, _ = read_table(spark, t, 1, with_positions=True)
        hits = pre.where(F.col("k") >= 4).select(
            F.col("_fp").alias("file"), F.col("_ri").alias("pos")
        )
        pfiles = stage_files(hits, t)
        compact_table(spark, t)  # concurrent rewrite supersedes the files
        with pytest.raises(CommitConflictError, match="re-derive"):
            commit_rebased(t, 1, "pos_delete", pos_delete_files=pfiles)

    def test_pos_delete_rebases_over_pure_append(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import (
            commit_rebased,
        )
        from anglerfish_spark.sources.read_path import read_table

        t = self._base(spark, tmp_path)
        pre, _ = read_table(spark, t, 1, with_positions=True)
        hits = pre.where(F.col("k") >= 4).select(
            F.col("_fp").alias("file"), F.col("_ri").alias("pos")
        )
        pfiles = stage_files(hits, t)
        # concurrent APPEND keeps the named files intact -> rebase lands
        mine = stage_files(spark.createDataFrame([(9, 9.0)], "k long, v double"), t)
        commit(t, read_manifest(t, 1)["files"] + mine, expected_version=1)
        v = commit_rebased(t, 1, "pos_delete", pos_delete_files=pfiles)
        ks = sorted(r.k for r in snapshot(spark, t, v).collect())
        assert ks == [0, 1, 2, 3, 9]

    def test_rebase_without_race_is_an_error(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import commit_rebased

        t = self._base(spark, tmp_path)
        with pytest.raises(ValueError, match="nothing to rebase"):
            commit_rebased(t, 1, "append", files=[])


class TestRebasedChangeLogging:
    """ADVICE r8 low #2: rebased deletes with a session derive exact
    change images against the CURRENT snapshot, so the history stays
    manifest_feed-streamable; without a session they record None."""

    def _base(self, spark, tmp_path):
        t = str(tmp_path / "t")
        df = spark.range(6).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
        upsert(spark, t, df, ["k"])
        return t

    def test_rebased_equality_delete_logs_exact_images(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import commit_rebased
        from anglerfish_spark.sources.read_path import table_changes

        t = self._base(spark, tmp_path)
        kf = stage_files(spark.createDataFrame([(4,)], "k long"), t)
        # concurrent upsert lands v2 first (updates k=4 to 44.0)
        upsert(spark, t, spark.createDataFrame([(4, 44.0)], "k long, v double"), ["k"])
        v = commit_rebased(
            t, 1, "equality_delete", delete_group={"key": "k", "files": kf}, spark=spark
        )
        m = read_manifest(t, v)
        assert m["changes"] is not None
        # images must be the CURRENT (v2) image of k=4, not the stale v1 one
        logged, mode = table_changes(spark, t, v - 1, v, mode="logged")
        assert mode == "logged"
        evs = sorted(tuple(r) for r in logged.collect())
        assert evs == [(4, 44.0, "delete")]
        # and logged equals the independent diff
        diff, _ = table_changes(spark, t, v - 1, v, mode="diff")
        assert evs == sorted(tuple(r) for r in diff.collect())

    def test_rebased_pos_delete_logs_exact_images(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import commit_rebased
        from anglerfish_spark.sources.read_path import read_table, table_changes

        t = self._base(spark, tmp_path)
        pre, _ = read_table(spark, t, 1, with_positions=True)
        hits = pre.where(F.col("k") >= 4).select(
            F.col("_fp").alias("file"), F.col("_ri").alias("pos")
        )
        pfiles = stage_files(hits, t)
        mine = stage_files(spark.createDataFrame([(9, 9.0)], "k long, v double"), t)
        commit(
            t,
            read_manifest(t, 1)["files"] + mine,
            expected_version=1,
            changes={"inserted": [{"files": mine, "schema": None}], "deleted": []},
        )
        v = commit_rebased(t, 1, "pos_delete", pos_delete_files=pfiles, spark=spark)
        logged, mode = table_changes(spark, t, v - 1, v, mode="logged")
        assert mode == "logged"
        evs = sorted(tuple(r) for r in logged.collect())
        assert evs == [(4.0, 4.0, "delete"), (5.0, 5.0, "delete")] or evs == [
            (4, 4.0, "delete"),
            (5, 5.0, "delete"),
        ]
        diff, _ = table_changes(spark, t, v - 1, v, mode="diff")
        assert evs == sorted(tuple(r) for r in diff.collect())

    def test_rebased_delete_without_session_records_none(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import commit_rebased

        t = self._base(spark, tmp_path)
        kf = stage_files(spark.createDataFrame([(4,)], "k long"), t)
        upsert(spark, t, spark.createDataFrame([(0, 0.5)], "k long, v double"), ["k"])
        v = commit_rebased(t, 1, "equality_delete", delete_group={"key": "k", "files": kf})
        assert read_manifest(t, v)["changes"] is None


class TestTornRefTolerance:
    """ADVICE r8 low #4: a torn tag / staged-ref file is skipped with a
    warning instead of breaking tags()/vacuum/expire for the table."""

    def test_torn_tag_file_is_skipped(self, spark, tmp_path):
        import warnings as _w

        from anglerfish_spark.sources.manifest_table import (
            _TAGS_DIR,
            expire_snapshots,
            tag,
            tags,
        )

        t = str(tmp_path / "t")
        upsert(spark, t, spark.createDataFrame([(1, "a")], ["k", "v"]), ["k"])
        tag(t, "good")
        # simulate a crash mid-write: a zero-byte tag file
        open(os.path.join(t, _TAGS_DIR, "torn.json"), "w").close()
        with _w.catch_warnings(record=True) as rec:
            _w.simplefilter("always")
            got = tags(t)
        assert got == {"good": 1}
        assert any("torn" in str(w.message) for w in rec)
        # ADVICE r9 medium #3: READS skip the torn tag, but RETENTION
        # must refuse — the torn file may be a pin, and expiring past it
        # would permanently delete a snapshot the user pinned
        from anglerfish_spark.errors import AnglerfishError

        with pytest.raises(AnglerfishError, match="unparseable tag"):
            expire_snapshots(t, keep_last=1)
        # operator deletes the torn file explicitly -> retention works
        os.remove(os.path.join(t, _TAGS_DIR, "torn.json"))
        assert expire_snapshots(t, keep_last=1) == []

    def test_torn_staged_ref_is_skipped(self, spark, tmp_path):
        import warnings as _w

        from anglerfish_spark.sources.manifest_table import _MANIFEST_DIR
        from anglerfish_spark.sources.wap import stage_append, staged_refs

        t = str(tmp_path / "t")
        upsert(spark, t, spark.createDataFrame([(1, "a")], ["k", "v"]), ["k"])
        stage_append(spark, t, spark.createDataFrame([(2, "b")], ["k", "v"]), "ok")
        open(os.path.join(t, _MANIFEST_DIR, "staged-torn.json"), "w").close()
        with _w.catch_warnings(record=True) as rec:
            _w.simplefilter("always")
            refs = staged_refs(t)
        assert set(refs) == {"ok"}
        assert any("torn" in str(w.message) for w in rec)
        assert vacuum(t) == []  # the live ref's files stay referenced


class TestKeyedWriteStats:
    """Keyed writes self-maintain key-column footer stats, so the
    touched-file probe prunes even on tables that never had explicit
    stats (at 100 TB a stats-less probe is a key-column table scan)."""

    def test_upsert_records_key_stats_and_prunes(self, spark, tmp_path):
        from anglerfish_spark.sources.read_path import read_table

        t = str(tmp_path / "t")
        df = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        ).repartitionByRange(8, "k")
        upsert(spark, t, df, ["k"])
        m = read_manifest(t)
        assert m["stats"] and all("k" in (s.get("cols") or {}) for s in m["stats"].values())
        # probe-style read with a narrow key box prunes files
        _, rep = read_table(spark, t, predicates={"k": (3, 5)})
        assert rep["files_kept"] < rep["files_total"]
        # a second upsert's NEW fileset is stat'ed too
        upsert(spark, t, spark.createDataFrame([(3, 9.9)], "k long, v double"), ["k"])
        m2 = read_manifest(t)
        assert all("k" in (s.get("cols") or {}) for s in m2["stats"].values())

    def test_merge_records_key_stats(self, spark, tmp_path):
        from anglerfish_spark.localdata import local_df
        from anglerfish_spark.sources.merge import merge_into

        t = str(tmp_path / "t")
        src = local_df(spark, [(1, 1.0), (2, 2.0)], ["k", "v"])
        merge_into(spark, t, src, ["k"])
        m = read_manifest(t)
        assert m["stats"] and all("k" in (s.get("cols") or {}) for s in m["stats"].values())
        merge_into(
            spark, t, local_df(spark, [(2, 22.0), (3, 3.0)], ["k", "v"]), ["k"],
            when_matched_update={"v": "s.v"}, mode="mor",
        )
        m2 = read_manifest(t)
        assert all("k" in (s.get("cols") or {}) for s in m2["stats"].values())


class TestStalePosDeleteCompaction:
    """Seed-10 model-fuzz find (r10): a carried positional delete whose
    target files a later COW write REWROTE references paths no longer in
    the manifest — compact_deletes must treat them as untouched (they
    match nothing at read time) instead of crashing on an empty file
    selection, and must still clear the stale delete state."""

    def test_compact_deletes_after_cow_rewrote_pos_targets(self, spark, tmp_path):
        from anglerfish_spark.sources.manifest_table import (
            compact_deletes,
            delete_where,
        )

        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(k, float(k)) for k in range(10)], "k long, v double"
        ).coalesce(1)
        upsert(spark, t, df, ["k"])
        # v2: positional delete on the single data file
        delete_where(spark, t, F.col("v") >= 8.0)
        # v3: a COW upsert rewrites that file (all keys touched) — the
        # pos-delete file now names only superseded paths
        upsert(
            spark, t,
            spark.createDataFrame([(k, float(k) + 100.0) for k in range(8)],
                                  "k long, v double"),
            ["k"],
        )
        m3 = read_manifest(t)
        assert m3.get("pos_deletes")  # carried, stale
        assert not (set(m3["files"]) & self._pos_targets(spark, t, m3))
        before = sorted(tuple(r) for r in snapshot(spark, t).collect())
        v, report = compact_deletes(spark, t)
        assert report["rewritten"] == []  # nothing to rewrite
        m4 = read_manifest(t)
        assert not m4.get("pos_deletes") and not delete_groups(m4)
        assert sorted(tuple(r) for r in snapshot(spark, t).collect()) == before

    @staticmethod
    def _pos_targets(spark, t, m):
        import os as _os

        pd_df = spark.read.parquet(*[_os.path.join(t, f) for f in m["pos_deletes"]])
        return {r.file for r in pd_df.select("file").distinct().collect()}


class TestRestore:
    """restore_table (r10): ROLLBACK as one CAS commit carrying the old
    snapshot's full state, with an exact O(changed rows) change log."""

    def _mk(self, spark, tmp_path):
        import anglerfish_spark.sources.manifest_table as mt

        t = str(tmp_path / "t")
        df = spark.createDataFrame([(1, 10.0), (2, 20.0)], ["k", "v"])
        mt.upsert(spark, t, df, ["k"])
        mt.upsert(
            spark, t,
            spark.createDataFrame([(2, 99.0), (3, 30.0)], ["k", "v"]),
            ["k"],
        )
        return mt, t

    def test_restore_reverts_membership_and_values(self, spark, tmp_path):
        mt, t = self._mk(spark, tmp_path)
        v = mt.restore_table(spark, t, 1)
        assert v == 3
        got = {(r.k, r.v) for r in mt.snapshot(spark, t).collect()}
        assert got == {(1, 10.0), (2, 20.0)}
        # the undone version stays time-travelable
        assert {(r.k, r.v) for r in mt.snapshot(spark, t, 2).collect()} == {
            (1, 10.0), (2, 99.0), (3, 30.0),
        }

    def test_restore_change_log_is_exact_reverse(self, spark, tmp_path):
        from anglerfish_spark.sources.read_path import table_changes

        mt, t = self._mk(spark, tmp_path)
        mt.restore_table(spark, t, 1)
        logged, mode = table_changes(spark, t, 2, 3, mode="logged")
        assert mode == "logged"
        evs = sorted((r.k, r.v, r["_change_type"]) for r in logged.collect())
        assert evs == [
            (2, 20.0, "insert"),   # old image restored
            (2, 99.0, "delete"),   # v2's update undone
            (3, 30.0, "delete"),   # v2's insert undone
        ]

    def test_restore_is_metadata_only_and_guarded(self, spark, tmp_path):
        import os as _os

        import pytest as _pytest

        mt, t = self._mk(spark, tmp_path)
        files_before = set(mt.read_manifest(t, 1)["files"])
        mt.restore_table(spark, t, 1, record_changes=False)
        m = mt.read_manifest(t)
        assert set(m["files"]) == files_before  # same data files, no rewrite
        assert m.get("changes") is None  # loudly unrecorded
        # restore to head is a no-op; missing version raises
        assert mt.restore_table(spark, t, 3) == 3
        with _pytest.raises(mt.AnglerfishError):
            mt.restore_table(spark, t, 99)
        # txn replay guard
        v = mt.restore_table(spark, t, 2, txn_id="rb")
        assert mt.restore_table(spark, t, 2, txn_id="rb") == v
        assert _os.path.exists(mt._manifest_path(t, v))

    def test_restore_across_schema_evolution_requires_optout(self, spark, tmp_path):
        import pytest as _pytest

        import anglerfish_spark.sources.manifest_table as mt

        S1 = ('{"type":"record","name":"t","fields":[{"name":"k","type":"long"},'
              '{"name":"v","type":"double"}]}')
        S2 = ('{"type":"record","name":"t","fields":[{"name":"k","type":"long"},'
              '{"name":"v","type":"double"},'
              '{"name":"tag","type":"string","default":"x"}]}')
        t = str(tmp_path / "t")
        mt.append_evolved(spark, t, spark.createDataFrame([(1, 1.0)], ["k", "v"]), S1)
        mt.append_evolved(
            spark, t, spark.createDataFrame([(2, 2.0, "y")], ["k", "v", "tag"]),
            S2, reader_schema=S2,
        )
        with _pytest.raises(ValueError):
            mt.restore_table(spark, t, 1)
        v = mt.restore_table(spark, t, 1, record_changes=False)
        assert mt.snapshot_evolved(spark, t, v).columns == ["k", "v"]


class TestRestoreReverseLogs:
    """r11 (VERDICT r10 #3): restore_table derives its change log by
    composing the undone commits' own logs in reverse — O(changed rows),
    no snapshot diff — falling back to the two-snapshot exceptAll only
    when an undone commit predates change logging."""

    def _mk(self, spark, tmp_path):
        import anglerfish_spark.sources.manifest_table as mt

        t = str(tmp_path / "t")
        mt.upsert(spark, t, spark.createDataFrame([(1, 10.0), (2, 20.0)], ["k", "v"]), ["k"])
        mt.upsert(spark, t, spark.createDataFrame([(2, 99.0), (3, 30.0)], ["k", "v"]), ["k"])
        mt.delete_keys(spark, t, "k", spark.createDataFrame([(1,)], "k long"))
        return mt, t

    def test_composed_path_never_reads_snapshots(self, spark, tmp_path, monkeypatch):
        from anglerfish_spark.sources.read_path import table_changes

        mt, t = self._mk(spark, tmp_path)

        def boom(*a, **k):
            raise AssertionError("reverse-log restore must not diff snapshots")

        monkeypatch.setattr(mt, "snapshot", boom)
        v = mt.restore_table(spark, t, 1)
        monkeypatch.undo()
        assert v == 4
        got = {(r.k, r.v) for r in mt.snapshot(spark, t).collect()}
        assert got == {(1, 10.0), (2, 20.0)}
        # the restore's own log is the exact reverse of the undone range
        logged, mode = table_changes(spark, t, 3, 4, mode="logged")
        assert mode == "logged"
        evs = sorted((r.k, r.v, r["_change_type"]) for r in logged.collect())
        assert evs == [
            (1, 10.0, "insert"),   # v3's delete undone
            (2, 20.0, "insert"),   # v2's update undone (old image back)
            (2, 99.0, "delete"),
            (3, 30.0, "delete"),   # v2's insert undone
        ]

    def test_falls_back_to_diff_when_a_log_is_missing(self, spark, tmp_path):
        import json

        from anglerfish_spark.sources.read_path import table_changes

        mt, t = self._mk(spark, tmp_path)
        # erase v2's change log (simulates a pre-CDF / rebased commit)
        p = mt._manifest_path(t, 2)
        with open(p) as f:
            m = json.load(f)
        m["changes"] = None
        with open(p, "w") as f:
            json.dump(m, f)
        v = mt.restore_table(spark, t, 1)
        assert v == 4
        got = {(r.k, r.v) for r in mt.snapshot(spark, t).collect()}
        assert got == {(1, 10.0), (2, 20.0)}
        # the diff-derived log still nets to the same exact reverse
        logged, _ = table_changes(spark, t, 3, 4, mode="logged", net=True)
        evs = sorted((r.k, r.v, r["_change_type"]) for r in logged.collect())
        assert evs == [
            (1, 10.0, "insert"),
            (2, 20.0, "insert"),
            (2, 99.0, "delete"),
            (3, 30.0, "delete"),
        ]

    def test_schemaless_physical_column_mismatch_is_friendly(self, spark, tmp_path):
        """ADVICE r10 #4: a schema-less table whose snapshots have
        different physical columns must raise the same 'pass
        record_changes=False' ValueError, not an opaque
        AnalysisException from select()."""
        import pytest as _pytest

        import anglerfish_spark.sources.manifest_table as mt

        t = str(tmp_path / "t")
        f1 = mt.stage_files(spark.createDataFrame([(1, 1.0)], ["k", "v"]), t)
        mt.commit(t, f1, expected_version=0, changes=None)
        f2 = mt.stage_files(spark.createDataFrame([(2, "x")], ["k", "w"]), t)
        mt.commit(t, f2, expected_version=1, changes=None)
        with _pytest.raises(ValueError, match="record_changes=False"):
            mt.restore_table(spark, t, 1)
        assert mt.restore_table(spark, t, 1, record_changes=False) == 3
