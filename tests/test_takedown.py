"""CDC-driven index takedowns (operators/takedown.py, VERDICT r10 #1):
deleted docs stop matching in incremental dedup and persisted BM25, the
BM25 statistics corrections are EXACT (not stale), maintenance cost is
batch-sized, and the probe plans keep their scale shapes."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from anglerfish_spark import memo
from anglerfish_spark.operators.takedown import _takedown_assets
from anglerfish_spark.operators.text import (
    _bm25_from_persisted,
    _invidx_side_names,
    build_persisted_index,
    invidx_tombstone_table,
)
from anglerfish_spark.sources.manifest_table import snapshot


def _assets(spark, sf_dir):
    t, inv = _takedown_assets(spark, sf_dir)
    ts = spark.table(invidx_tombstone_table(inv)).select("doc_id")
    return t, inv, ts


class TestTakedownCorrectness:
    def test_retired_docs_never_match_and_hits_shrink(self, spark, sf_dir):
        from anglerfish_spark.operators.dedup import dedup_index_tables, lsh_bands
        from anglerfish_spark.operators.text import tokens
        from anglerfish_spark.sources.registry import load_table

        t, inv, ts = _assets(spark, sf_dir)
        # built once, under the per-process root; the second call is a hit
        assert t.startswith(memo._root() + os.sep)
        assert _takedown_assets(spark, sf_dir) == (t, inv)
        docs = load_table(spark, sf_dir, "documents", fanout=True)
        fp = F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(tokens()))).cast("binary")
        )
        new_fps = docs.where(F.col("doc_id") % 10 == 0).select("doc_id", fp.alias("fp"))
        fp_t, band_t = dedup_index_tables(spark, sf_dir)

        def hits(retired: bool) -> tuple[set, set]:
            idx = spark.table(fp_t)
            bidx = spark.table(band_t)
            if retired:
                idx = idx.join(F.broadcast(ts), "doc_id", "left_anti")
                bidx = bidx.join(F.broadcast(ts), "doc_id", "left_anti")
            e = {
                r.doc_id
                for r in new_fps.join(idx.select("fp"), "fp", "left_semi")
                .select("doc_id").distinct().collect()
            }
            bn = lsh_bands(docs).where(F.col("doc_id") % 10 == 0)
            n = {
                r.doc_id
                for r in bn.join(
                    bidx.select("band_id", "band_key"), ["band_id", "band_key"], "left_semi"
                ).select("doc_id").distinct().collect()
            }
            return e, n

        e0, n0 = hits(False)
        e1, n1 = hits(True)
        assert e1 <= e0 and n1 <= n0
        # the takedown demo must actually FLIP at least one probe doc —
        # otherwise the query would pass with a broken retirement
        assert (e0 - e1) or (n0 - n1), "no probe doc depended on a retired doc"

    def test_bm25_statistics_exact_not_stale(self, spark, sf_dir):
        """The retired index's BM25 must equal a FRESH index built over
        the live corpus — score-exact, proving the negative-fragment df
        correction and the negative consts row (a tombstone-only design
        ranks with stale collection statistics and fails here)."""
        t, inv, ts = _assets(spark, sf_dir)
        got = [
            (r.rank, r.doc_id, r.score)
            for r in _bm25_from_persisted(spark, inv, tombstones=ts).collect()
        ]
        ref_name = f"{inv}_ref"
        build_persisted_index(spark, snapshot(spark, t), ref_name)
        want = [
            (r.rank, r.doc_id, r.score)
            for r in _bm25_from_persisted(spark, ref_name).collect()
        ]
        assert got == want
        # and no tombstoned doc appears in the ranking
        dead = {r.doc_id for r in ts.collect()}
        assert not dead & {d for _, d, _ in got}


class TestTakedownMaintenanceShape:
    def test_writes_are_batch_sized_and_consts_sum_to_live(self, spark, sf_dir):
        t, inv, ts = _assets(spark, sf_dir)
        live = snapshot(spark, t)
        n_live = live.count()
        n_dead = ts.count()
        assert n_dead > 0
        # tombstones: exactly the deleted keys
        head = {r.doc_id for r in live.select("doc_id").collect()}
        dead = {r.doc_id for r in ts.collect()}
        assert not head & dead
        # consts rows SUM to the live collection stats (negative row)
        _dl, cs = _invidx_side_names(inv)
        s = spark.table(cs).agg(
            F.sum("n_docs").alias("n"), F.sum("total_len").alias("tl")
        ).first()
        assert s.n == n_live
        from anglerfish_spark.operators.text import tokens

        assert s.tl == live.select(
            F.sum(F.size(tokens())).cast("bigint").alias("t")
        ).first().t
        # negative fragments carry empty postings (pure df correction)
        neg = spark.table(inv).where(F.col("df") < 0)
        assert neg.count() > 0
        assert neg.where(F.size("postings") != 0).count() == 0


class TestTakedownPlans:
    def test_bm25_probe_reads_no_corpus_and_broadcasts_tombstones(self, spark, sf_dir):
        t, inv, ts = _assets(spark, sf_dir)
        df = _bm25_from_persisted(spark, inv, tombstones=ts)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "documents.parquet" not in plan, plan  # never rescans the corpus
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


class TestTakedownLifecycle:
    """Isolated LSM lifecycle on a fresh index: ingest -> append ->
    takedown (docs from BOTH fragments) -> compact.  Probe results must
    be identical at every stage boundary, and compaction must leave one
    positive row per term, an empty tombstone table, and one consts row."""

    def _mk(self, spark):
        import uuid

        from anglerfish_spark.localdata import local_df
        from anglerfish_spark.operators.text import (
            _SEARCH_TERMS,
            build_persisted_index,
            inverted_index_append,
            inverted_index_takedown,
        )

        t0, t1, t2 = _SEARCH_TERMS
        rows = [
            (i, f"{t0} alpha {t1} beta {t2} gamma doc{i} " * (1 + i % 3))
            for i in range(20)
        ]
        docs = local_df(spark, rows, ["doc_id", "text"]).select(
            F.col("doc_id").cast("long"), "text"
        )
        name = f"ang_tdnlife_{uuid.uuid4().hex[:8]}"
        build_persisted_index(spark, docs.where("doc_id < 12"), name)
        inverted_index_append(spark, name, docs.where("doc_id >= 12"))
        # takedown hits BOTH fragments: docs 3 (initial) and 15 (appended)
        inverted_index_takedown(
            spark, name, docs.where(F.col("doc_id").isin(3, 7, 15))
        )
        return name

    def _probes(self, spark, name, ts):
        from anglerfish_spark.operators.text import (
            _bm25_from_persisted,
            _probe_boolean,
            phrase_search,
        )

        idx = spark.table(name)
        if ts is not None:
            # pre-compaction: postings of retired docs are inert only
            # through the tombstone filter
            b = _probe_boolean(
                idx.withColumn(
                    "postings",
                    F.filter("postings", lambda p: ~p["doc_id"].isin(3, 7, 15)),
                )
            )
        else:
            b = _probe_boolean(idx)
        boolean = sorted((r.doc_id, r.tf_total) for r in b.collect())
        bm25 = [
            (r.rank, r.doc_id, r.score)
            for r in _bm25_from_persisted(spark, name, tombstones=ts).collect()
        ]
        return boolean, bm25

    def test_compaction_preserves_probes_and_folds_state(self, spark):
        from anglerfish_spark.operators.text import (
            _invidx_side_names,
            inverted_index_compact,
            invidx_tombstone_table,
            phrase_search,
        )

        name = self._mk(spark)
        ts = spark.table(invidx_tombstone_table(name)).select("doc_id")
        before_bool, before_bm25 = self._probes(spark, name, ts)
        assert before_bool and before_bm25  # probes actually return rows
        ph_before = sorted(
            (r.doc_id, r.n_occ)
            for r in phrase_search(
                spark.table(name).withColumn(
                    "postings",
                    F.filter("postings", lambda p: ~p["doc_id"].isin(3, 7, 15)),
                ),
                ["alpha"],
            ).collect()
        )
        inverted_index_compact(spark, name)
        after_bool, after_bm25 = self._probes(spark, name, None)
        assert after_bool == before_bool
        assert after_bm25 == before_bm25
        ph_after = sorted(
            (r.doc_id, r.n_occ)
            for r in phrase_search(spark.table(name), ["alpha"]).collect()
        )
        assert ph_after == ph_before
        # folded state: one positive row per (term, canonical shard) —
        # the r12 bounded-postings layout (VERDICT r11 #1) — empty
        # tombstones, exactly one consts row summing to the live
        # collection
        idx = spark.table(name)
        assert idx.where(F.col("df") <= 0).count() == 0
        assert idx.groupBy("term", "shard").count().where("count > 1").count() == 0
        assert spark.table(invidx_tombstone_table(name)).count() == 0
        _dl, cs = _invidx_side_names(name)
        assert spark.table(cs).count() == 1
        s = spark.table(cs).first()
        assert s.n_docs == 17  # 20 ingested - 3 taken down
        # no retired doc anywhere in the postings
        dead = (
            idx.select(F.explode("postings").alias("p"))
            .where(F.col("p.doc_id").isin(3, 7, 15))
            .count()
        )
        assert dead == 0


class TestStreamingTakedown:
    """Continuous maintenance: the corpus table's change feed drives
    index takedowns batch by batch; a checkpoint restart consumes only
    NEW delete commits, and the final index equals a fresh build over
    the live corpus."""

    def test_feed_driven_takedown_with_restart(self, spark, tmp_path):
        import uuid

        from anglerfish_spark.localdata import local_df
        from anglerfish_spark.operators.takedown import start_index_takedown_feed
        from anglerfish_spark.operators.text import (
            _SEARCH_TERMS,
            _bm25_from_persisted,
            build_persisted_index,
            invidx_tombstone_table,
        )
        from anglerfish_spark.sources.manifest_table import delete_keys, upsert

        t0, t1, t2 = _SEARCH_TERMS
        rows = [
            (i, f"{t0} red {t1} blue {t2} green doc{i} " * (1 + i % 4))
            for i in range(24)
        ]
        docs = local_df(spark, rows, ["doc_id", "text"]).select(
            F.col("doc_id").cast("long"), "text"
        )
        t = str(tmp_path / "corpus")
        upsert(spark, t, docs, ["doc_id"], txn_id="v1")
        name = f"ang_tdnstream_{uuid.uuid4().hex[:8]}"
        build_persisted_index(spark, snapshot(spark, t, 1), name)
        # two takedown commits, then drain the feed from v1 onward
        delete_keys(spark, t, "doc_id", docs.where("doc_id in (2, 9)").select("doc_id"))
        delete_keys(spark, t, "doc_id", docs.where("doc_id = 17").select("doc_id"))
        ckpt = str(tmp_path / "ckpt")
        q = start_index_takedown_feed(spark, t, name, ckpt, starting_version=1)
        q.awaitTermination(120)
        ts = spark.table(invidx_tombstone_table(name))
        assert {r.doc_id for r in ts.collect()} == {2, 9, 17}
        # restart on the same checkpoint after one MORE delete commit:
        # only the new version arrives (no double-applied corrections)
        delete_keys(spark, t, "doc_id", docs.where("doc_id = 5").select("doc_id"))
        q = start_index_takedown_feed(spark, t, name, ckpt, starting_version=1)
        q.awaitTermination(120)
        ts = spark.table(invidx_tombstone_table(name))
        assert sorted(r.doc_id for r in ts.collect()) == [2, 5, 9, 17]
        # the continuously maintained index serves EXACT live-corpus BM25
        got = [
            (r.rank, r.doc_id, r.score)
            for r in _bm25_from_persisted(
                spark, name, tombstones=ts.select("doc_id")
            ).collect()
        ]
        ref = f"{name}_ref"
        build_persisted_index(spark, snapshot(spark, t), ref)
        want = [
            (r.rank, r.doc_id, r.score)
            for r in _bm25_from_persisted(spark, ref).collect()
        ]
        assert got == want and got


class TestTakedownDifferential:
    """Model-based differential for the index-maintenance surface:
    random sequences of APPEND / TAKEDOWN / REINGEST / COMPACT against
    a plain Python dict of live docs — after every op, boolean search
    and BM25 over the maintained index must equal a FRESH index built
    over the live docs.  REINGEST re-creates a previously-taken-down
    doc with NEW content and no compaction in between (the r13
    generation mechanism).  Seeds rotate with ANGLERFISH_FUZZ_SEED."""

    def test_random_maintenance_sequences_match_fresh_build(self, spark):
        import os
        import random
        import uuid

        from anglerfish_spark.localdata import local_df
        from anglerfish_spark.operators.text import (
            _SEARCH_TERMS,
            _bm25_from_persisted,
            boolean_search,
            build_persisted_index,
            inverted_index_append,
            inverted_index_compact,
            inverted_index_takedown,
            invidx_tombstone_table,
        )

        seed = int(os.environ.get("ANGLERFISH_FUZZ_SEED", "0")) + 777_000
        rng = random.Random(seed)
        t0, t1, t2 = _SEARCH_TERMS
        vocab = [t0, t1, t2, "kappa", "lam", "mu", "nu"]

        def text_of(i: int, v: int = 0) -> str:
            r = random.Random(seed * 1_000_003 + i * 101 + v)
            return " ".join(r.choice(vocab) for _ in range(r.randrange(4, 16)))

        def docs_df(id_vers):
            rows = [(i, text_of(i, v)) for i, v in sorted(id_vers.items())]
            if not rows:  # a run can take down EVERY live doc
                return spark.createDataFrame([], "doc_id long, text string")
            return local_df(spark, rows, ["doc_id", "text"]).select(
                F.col("doc_id").cast("long"), "text"
            )

        name = f"ang_tdnfuzz_{uuid.uuid4().hex[:8]}"
        live: dict[int, int] = {i: 0 for i in range(10)}  # id -> content version
        dead: dict[int, int] = {}  # id -> last indexed version
        next_id = 10
        build_persisted_index(spark, docs_df(live), name)

        def probes(idx_name, ts):
            b = sorted(
                (r.doc_id, r.tf_total)
                for r in boolean_search(
                    spark.table(idx_name), _SEARCH_TERMS[:2], _SEARCH_TERMS[2:],
                    tombstones=ts,
                ).collect()
            )
            s = [
                (r.rank, r.doc_id, r.score)
                for r in _bm25_from_persisted(spark, idx_name, tombstones=ts).collect()
            ]
            return b, s

        for step in range(8):
            op = rng.choice(["append", "takedown", "takedown", "reingest", "compact"])
            if op == "reingest" and dead:
                # re-create a taken-down doc with NEW content, no
                # compaction first — generations must mask only the old
                pick = rng.choice(sorted(dead))
                newv = dead.pop(pick) + 1
                inverted_index_append(spark, name, docs_df({pick: newv}))
                live[pick] = newv
            elif op == "append" or (op == "reingest" and not dead):
                new = {i: 0 for i in range(next_id, next_id + rng.randrange(2, 5))}
                next_id = max(new) + 1
                inverted_index_append(spark, name, docs_df(new))
                live.update(new)
            elif op == "takedown" and live:
                picks = rng.sample(sorted(live), min(len(live), rng.randrange(1, 4)))
                batch = {i: live[i] for i in picks}
                inverted_index_takedown(spark, name, docs_df(batch))
                for i in picks:
                    dead[i] = live.pop(i)
            else:
                inverted_index_compact(spark, name)
                dead = {}
            ts_name = invidx_tombstone_table(name)
            ts = (
                spark.table(ts_name).select("doc_id", "gen")
                if spark.catalog.tableExists(ts_name)
                and spark.table(ts_name).limit(1).count()
                else None
            )
            got = probes(name, ts)
            ref = f"{name}_s{step}"
            build_persisted_index(spark, docs_df(live), ref)
            want = probes(ref, None)
            assert got == want, f"seed {seed} step {step} op {op}"


class TestAnnTakedown:
    """The ANN/IVF half of the takedown story: deleted vectors stop
    appearing as neighbors, the demo actually flips results, and the
    tombstone anti-join preserves the partition-pruned probe plan."""

    def test_retired_vectors_leave_the_ranking(self, spark, sf_dir):
        from anglerfish_spark.operators.similarity import ivf_probe_persisted
        from anglerfish_spark.operators.takedown import _ann_takedown_assets

        _t, ts_name = _ann_takedown_assets(spark, sf_dir)
        ts = spark.table(ts_name).select("vec_id")
        dead = {r.vec_id for r in ts.collect()}
        assert dead
        before = [(r.query_id, r.vec_id) for r in ivf_probe_persisted(spark, sf_dir).collect()]
        after = [
            (r.query_id, r.vec_id)
            for r in ivf_probe_persisted(spark, sf_dir, tombstones=ts).collect()
        ]
        # the takedown demo must actually change some ranking, and no
        # retired vector may survive in it
        assert any(v in dead for _q, v in before), "no retired vec was a neighbor"
        assert not any(v in dead for _q, v in after)
        assert before != after

    def test_probe_plan_keeps_partition_pruning_and_broadcasts(self, spark, sf_dir):
        from anglerfish_spark.operators.similarity import ivf_probe_persisted
        from anglerfish_spark.operators.takedown import _ann_takedown_assets

        _t, ts_name = _ann_takedown_assets(spark, sf_dir)
        ts = spark.table(ts_name).select("vec_id")
        df = ivf_probe_persisted(spark, sf_dir, tombstones=ts)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "PartitionFilters" in plan, plan[:2000]
        pf = plan.split("PartitionFilters", 1)[1][:200]
        assert "cell" in pf, pf  # probe cells still prune at scan time
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
        assert "SortMergeJoin" not in plan, plan


class TestTransactionalFeed:
    """r12 (VERDICT r11 #3 + ADVICE r11 #1): the feed's batch apply is
    exactly-once via partition-keyed transactional writes — a crash AFTER
    the index artifacts land but BEFORE the streaming WAL commits the
    batch must not double-count negative df on replay — and update pairs
    (delete+insert of the same doc_id within a batch) are netted out, so
    a live-but-updated doc is never tombstoned."""

    def _corpus(self, spark, n=24):
        from anglerfish_spark.localdata import local_df
        from anglerfish_spark.operators.text import _SEARCH_TERMS

        t0, t1, t2 = _SEARCH_TERMS
        rows = [
            (i, f"{t0} red {t1} blue {t2} green doc{i} " * (1 + i % 4))
            for i in range(n)
        ]
        return local_df(spark, rows, ["doc_id", "text"]).select(
            F.col("doc_id").cast("long"), "text"
        )

    def test_crash_between_apply_and_wal_commit_is_exactly_once(
        self, spark, tmp_path, monkeypatch
    ):
        import uuid

        import pytest

        import anglerfish_spark.operators.takedown as td
        from anglerfish_spark.operators.text import (
            _bm25_from_persisted,
            _invidx_side_names,
            build_persisted_index,
            invidx_tombstone_table,
        )
        from anglerfish_spark.sources.manifest_table import delete_keys, snapshot, upsert

        docs = self._corpus(spark)
        t = str(tmp_path / "corpus")
        upsert(spark, t, docs, ["doc_id"], txn_id="v1")
        name = f"ang_tdntxn_{uuid.uuid4().hex[:8]}"
        build_persisted_index(spark, snapshot(spark, t, 1), name)
        delete_keys(spark, t, "doc_id", docs.where("doc_id in (2, 9, 17)").select("doc_id"))

        real = td.inverted_index_takedown
        calls = {"n": 0}

        def crash_after_apply(spark_, name_, deleted_, txn=None, gen=None):
            out = real(spark_, name_, deleted_, txn=txn, gen=gen)
            calls["n"] += 1
            if calls["n"] == 1:
                # the VERDICT r11 #3 window: artifacts applied, batch not
                # yet committed to the streaming WAL
                raise RuntimeError("crash after apply, before WAL commit")
            return out

        monkeypatch.setattr(td, "inverted_index_takedown", crash_after_apply)
        ckpt = str(tmp_path / "ckpt")
        q = td.start_index_takedown_feed(spark, t, name, ckpt, starting_version=1)
        with pytest.raises(Exception):
            q.awaitTermination(120)
            q.processAllAvailable()
        assert calls["n"] == 1  # artifacts really were applied once already

        # restart on the same checkpoint: the batch REPLAYS and rewrites
        # its own txn partitions — converging, not double-applying
        q = td.start_index_takedown_feed(spark, t, name, ckpt, starting_version=1)
        q.awaitTermination(120)
        assert calls["n"] == 2

        ts = spark.table(invidx_tombstone_table(name))
        # no duplicated tombstones (total == distinct == the deleted set)
        assert sorted(r.doc_id for r in ts.collect()) == [2, 9, 17]
        # collection statistics exact: a double-applied negative consts
        # row would undercount n_docs by 3
        _dl, cs = _invidx_side_names(name)
        s = spark.table(cs).agg(
            F.sum("n_docs").alias("n"), F.sum("total_len").alias("l")
        ).first()
        assert s.n == 24 - 3
        # score-exact BM25 vs a fresh build over the live corpus (catches
        # double-counted negative df even where counts happen to survive)
        got = [
            tuple(r)
            for r in _bm25_from_persisted(spark, name, tombstones=ts.select("doc_id")).collect()
        ]
        ref = f"{name}_ref"
        build_persisted_index(spark, snapshot(spark, t), ref)
        want = [tuple(r) for r in _bm25_from_persisted(spark, ref).collect()]
        assert got == want and got

    def test_update_pairs_are_netted_not_tombstoned(self, spark, tmp_path):
        import uuid

        from anglerfish_spark.localdata import local_df
        from anglerfish_spark.operators.takedown import start_index_takedown_feed
        from anglerfish_spark.operators.text import (
            _invidx_side_names,
            boolean_search,
            build_persisted_index,
            invidx_tombstone_table,
        )
        from anglerfish_spark.sources.manifest_table import delete_keys, snapshot, upsert

        docs = self._corpus(spark, n=10)
        t = str(tmp_path / "corpus")
        upsert(spark, t, docs, ["doc_id"], txn_id="v1")
        name = f"ang_tdnnet_{uuid.uuid4().hex[:8]}"
        build_persisted_index(spark, snapshot(spark, t, 1), name)
        # v2: UPDATE doc 3 (upsert new content → delete+insert pair in
        # the feed) and DELETE doc 5 in the same commit
        upd = local_df(spark, [(3, "updated fresh content")], ["doc_id", "text"]).select(
            F.col("doc_id").cast("long"), "text"
        )
        upsert(spark, t, upd, ["doc_id"], txn_id="v2")
        delete_keys(spark, t, "doc_id", docs.where("doc_id = 5").select("doc_id"))
        ckpt = str(tmp_path / "ckpt")
        q = start_index_takedown_feed(spark, t, name, ckpt, starting_version=1)
        q.awaitTermination(120)
        ts = spark.table(invidx_tombstone_table(name))
        # ADVICE r11 #1: the update's delete image is NOT a takedown —
        # only the true delete lands in the tombstones
        assert sorted(r.doc_id for r in ts.collect()) == [5]
        # the updated doc stays live in the index (serving its indexed
        # content until re-indexed), and statistics reflect ONE removal
        hits = boolean_search(
            spark.table(name), ["red"], tombstones=ts.select("doc_id")
        )
        ids = {r.doc_id for r in hits.collect()}
        assert 3 in ids and 5 not in ids
        _dl, cs = _invidx_side_names(name)
        assert spark.table(cs).agg(F.sum("n_docs")).first()[0] == 10 - 1

    def test_update_then_delete_across_commits_still_retires(self, spark, tmp_path):
        """ADVICE r12 #1: an update of doc X in commit N plus a GENUINE
        delete of X in commit N+1, drained together in one catch-up
        batch, must retire X — the r12 batch-wide anti-join netted the
        delete away (silent RTBF loss).  The drifted delete image
        (fingerprint mismatch vs the indexed content) routes through the
        MASKED path: membership and consts exact immediately, df healed
        by the compaction fold."""
        import uuid

        from anglerfish_spark.localdata import local_df
        from anglerfish_spark.operators.takedown import start_index_takedown_feed
        from anglerfish_spark.operators.text import (
            _bm25_from_persisted,
            _invidx_side_names,
            boolean_search,
            build_persisted_index,
            inverted_index_compact,
            invidx_tombstone_table,
        )
        from anglerfish_spark.sources.manifest_table import delete_keys, snapshot, upsert

        docs = self._corpus(spark, n=10)
        t = str(tmp_path / "corpus")
        upsert(spark, t, docs, ["doc_id"], txn_id="v1")
        name = f"ang_tdnlww_{uuid.uuid4().hex[:8]}"
        build_persisted_index(spark, snapshot(spark, t, 1), name)
        # commit 2: UPDATE doc 4; commit 3: genuine DELETE of doc 4 —
        # both drained in ONE batch
        upd = local_df(spark, [(4, "totally different text")], ["doc_id", "text"]).select(
            F.col("doc_id").cast("long"), "text"
        )
        upsert(spark, t, upd, ["doc_id"], txn_id="v2")
        delete_keys(spark, t, "doc_id", docs.where("doc_id = 4").select("doc_id"))
        ckpt = str(tmp_path / "ckpt")
        q = start_index_takedown_feed(spark, t, name, ckpt, starting_version=1)
        q.awaitTermination(120)
        ts = spark.table(invidx_tombstone_table(name))
        assert sorted(r.doc_id for r in ts.collect()) == [4]
        # membership exact immediately; consts subtract the STORED length
        ids = {
            r.doc_id
            for r in boolean_search(
                spark.table(name), ["red"], tombstones=ts.select("doc_id", "gen")
            ).collect()
        }
        assert 4 not in ids and ids
        _dl, cs = _invidx_side_names(name)
        assert spark.table(cs).agg(F.sum("n_docs")).first()[0] == 9
        # the fold heals df: post-compaction BM25 equals a fresh build
        inverted_index_compact(spark, name)
        got = [tuple(r) for r in _bm25_from_persisted(spark, name).collect()]
        ref = f"{name}_ref"
        build_persisted_index(spark, docs.where("doc_id <> 4"), ref)
        want = [tuple(r) for r in _bm25_from_persisted(spark, ref).collect()]
        assert got == want and got


class TestReingestGuard:
    """r13 (VERDICT r12 #2): generations retire the r12 ValueError wall
    — a doc re-ingested AFTER its takedown lands correctly with NO
    compaction in between (its generation outranks the tombstone), while
    appends of currently-LIVE docs stay loudly refused (the one
    genuinely corrupting case)."""

    def _docs_df(self, spark, rows):
        from anglerfish_spark.localdata import local_df

        return local_df(spark, rows, ["doc_id", "text"]).select(
            F.col("doc_id").cast("long"), "text"
        )

    def test_reingest_after_takedown_needs_no_compaction(self, spark):
        import uuid

        from anglerfish_spark.operators.text import (
            _bm25_from_persisted,
            _invidx_side_names,
            boolean_search,
            build_persisted_index,
            inverted_index_append,
            inverted_index_compact,
            inverted_index_takedown,
            invidx_tombstone_table,
        )

        def docs_df(rows):
            return self._docs_df(spark, rows)

        name = f"ang_reingest_{uuid.uuid4().hex[:8]}"
        build_persisted_index(
            spark, docs_df([(i, f"alpha beta doc{i}") for i in range(8)]), name
        )
        inverted_index_takedown(spark, name, docs_df([(3, "alpha beta doc3")]))
        # the r13 headline: straight re-ingest, no compaction first
        inverted_index_append(spark, name, docs_df([(3, "alpha reborn")]))
        ts = spark.table(invidx_tombstone_table(name)).select("doc_id", "gen")
        # probes equal a FRESH build over the live corpus, score-exactly
        live = docs_df(
            [(i, f"alpha beta doc{i}") for i in range(8) if i != 3]
            + [(3, "alpha reborn")]
        )
        ref = f"{name}_ref"
        build_persisted_index(spark, live, ref)
        got = sorted(
            (r.doc_id, r.tf_total)
            for r in boolean_search(spark.table(name), ["alpha"], tombstones=ts).collect()
        )
        want = sorted(
            (r.doc_id, r.tf_total)
            for r in boolean_search(spark.table(ref), ["alpha"]).collect()
        )
        assert got == want and got
        s_got = [
            tuple(r)
            for r in _bm25_from_persisted(spark, name, tombstones=ts).collect()
        ]
        s_want = [tuple(r) for r in _bm25_from_persisted(spark, ref).collect()]
        assert s_got == s_want
        # the re-ingested doc serves its NEW content, old content is dead
        assert {r.doc_id for r in boolean_search(
            spark.table(name), ["reborn"], tombstones=ts).collect()} == {3}
        assert not {r.doc_id for r in boolean_search(
            spark.table(name), ["doc3"], tombstones=ts).collect()}
        # consts exact pre-compaction
        _dl, cs = _invidx_side_names(name)
        assert spark.table(cs).agg(F.sum("n_docs")).first()[0] == 8
        # compaction folds generations away; probes identical after
        inverted_index_compact(spark, name)
        assert spark.table(invidx_tombstone_table(name)).count() == 0
        after = sorted(
            (r.doc_id, r.tf_total)
            for r in boolean_search(spark.table(name), ["alpha"]).collect()
        )
        assert after == want
        d3 = (
            spark.table(name)
            .select("term", F.explode("postings").alias("p"))
            .where(F.col("p.doc_id") == 3)
        )
        # only the reborn content survives the fold: terms {alpha, reborn}
        assert sorted(r.term for r in d3.collect()) == ["alpha", "reborn"]

    def test_append_of_live_doc_raises(self, spark):
        import uuid

        import pytest

        from anglerfish_spark.operators.text import (
            build_persisted_index,
            inverted_index_append,
        )

        name = f"ang_liveguard_{uuid.uuid4().hex[:8]}"
        build_persisted_index(
            spark,
            self._docs_df(spark, [(i, f"alpha beta doc{i}") for i in range(4)]),
            name,
        )
        # double-indexing a live doc corrupts df/consts — loudly refused
        with pytest.raises(ValueError, match="LIVE"):
            inverted_index_append(spark, name, self._docs_df(spark, [(2, "new text")]))


class TestIvfMaintenance:
    """r12 (VERDICT r11 #6): one call composes the IVF tombstone fold
    (and optionally the scheduled re-train) — post-fold probes with
    ``tombstones=None`` are identical, the rewritten layout keeps
    partition pruning, and the retrained cells equal a scratch
    reassignment under the returned quantizer."""

    def _rows(self, df):
        return [tuple(r) for r in df.collect()]

    def test_fold_pins_probes_and_clears_tombstone_debt(self, spark, sf_dir):
        from anglerfish_spark.operators.similarity import (
            ivf_index_maintain,
            ivf_probe_persisted,
        )
        from anglerfish_spark.operators.takedown import _ann_takedown_assets

        _t, ts_name = _ann_takedown_assets(spark, sf_dir)
        ts = spark.table(ts_name).select("vec_id")
        before = self._rows(ivf_probe_persisted(spark, sf_dir, tombstones=ts))
        new_path, cents = ivf_index_maintain(spark, sf_dir, ts)
        after = self._rows(ivf_probe_persisted(spark, sf_dir, cells_path=new_path))
        assert after == before and after
        # the fold is physical: no retired vector remains in the files
        live = spark.read.parquet(new_path)
        assert live.join(ts, "vec_id", "left_semi").count() == 0
        # and the rewritten layout still prunes partitions at scan time
        df = ivf_probe_persisted(spark, sf_dir, cells_path=new_path)
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = [
            ln for ln in plan.splitlines() if "PartitionFilters" in ln and "cell" in ln
        ]
        assert lines, f"no partition-pruned scan over cell:\n{plan}"

    def test_retrain_matches_scratch_reassignment(self, spark, sf_dir):
        from anglerfish_spark.operators.similarity import (
            _cell_ranking,
            ivf_index_maintain,
            ivf_probe_persisted,
        )
        from anglerfish_spark.operators.takedown import _ann_takedown_assets
        from anglerfish_spark.sources.registry import load_table

        _t, ts_name = _ann_takedown_assets(spark, sf_dir)
        ts = spark.table(ts_name).select("vec_id")
        path, cents = ivf_index_maintain(spark, sf_dir, ts, retrain=True)
        # scratch reassignment of the live corpus under the RETURNED
        # quantizer must equal the rewritten cells exactly
        e = load_table(spark, sf_dir, "embeddings").join(
            ts, "vec_id", "left_anti"
        )
        best = F.element_at(_cell_ranking(F.col("embedding"), cents), -1)
        want = sorted(
            (r.vec_id, r.cell)
            for r in e.select("vec_id", (best["nc"] * -1).alias("cell")).collect()
        )
        got = sorted(
            (r.vec_id, r.cell)
            for r in spark.read.parquet(path).select("vec_id", "cell").collect()
        )
        assert got == want and got
        # probing the retrained layout under its quantizer serves only
        # live vectors
        res = ivf_probe_persisted(spark, sf_dir, cells_path=path, centroids=cents)
        dead = {r.vec_id for r in ts.collect()}
        assert res.count() > 0
        assert not any(r.vec_id in dead for r in res.collect())


class TestMaintenanceFeed:
    """r13 full CDC maintenance: the index is built AND maintained
    entirely from the change feed — inserts ingest, UPDATES RE-INDEX in
    the same batch (VERDICT r12 #1: exact retirement of the old content
    + generation-stamped ingest of the new), deletes retire exactly,
    re-creations after deletion land without compaction (ADVICE r12 #3)
    — and the whole batch apply is replay-stable: a crash after a
    partial apply converges on restart (classification and generation
    allocation filter the batch's own partitions, writes overwrite
    their own partitions)."""

    def _fixture(self, spark, tmp_path):
        import uuid

        from anglerfish_spark.localdata import local_df
        from anglerfish_spark.operators.text import (
            _SEARCH_TERMS,
            build_persisted_index,
        )
        from anglerfish_spark.sources.manifest_table import upsert
        import pyspark.sql.types as T

        t0, t1, t2 = _SEARCH_TERMS

        def text_of(i, v=0):
            s = f"mark{v} " if v else ""
            return f"{t0} red {t1} blue {t2} green {s}doc{i} " * (1 + i % 4)

        def df_of(pairs):
            return local_df(spark, pairs, ["doc_id", "text"]).select(
                F.col("doc_id").cast("long"), "text"
            )

        t = str(tmp_path / "corpus")
        upsert(spark, t, df_of([(i, text_of(i)) for i in range(20)]),
               ["doc_id"], txn_id="v1")
        name = f"ang_maintfeed_{uuid.uuid4().hex[:8]}"
        empty = spark.createDataFrame(
            [], T.StructType([T.StructField("doc_id", T.LongType()),
                              T.StructField("text", T.StringType())]))
        build_persisted_index(spark, empty, name)
        # final live corpus: updates RE-INDEX (r13), so 9 serves its
        # UPDATED content; 3 (updated then deleted) and 25 are gone;
        # 5 was deleted then RE-CREATED with fresh content
        live = [(i, text_of(i)) for i in range(30) if i not in (3, 5, 9, 25)] + [
            (9, text_of(9, v=7)), (5, text_of(5, v=9))]
        return t, name, df_of, text_of, df_of(live)

    def _probes(self, spark, name):
        from anglerfish_spark.operators.text import (
            _bm25_from_persisted,
            _SEARCH_TERMS,
            boolean_search,
            invidx_tombstone_table,
        )

        ts_name = invidx_tombstone_table(name)
        ts = (
            spark.table(ts_name).select("doc_id", "gen")
            if spark.catalog.tableExists(ts_name)
            and spark.table(ts_name).limit(1).count()
            else None
        )
        b = sorted(
            (r.doc_id, r.tf_total)
            for r in boolean_search(
                spark.table(name), _SEARCH_TERMS[:2], _SEARCH_TERMS[2:],
                tombstones=ts,
            ).collect()
        )
        s = [tuple(r) for r in _bm25_from_persisted(spark, name, tombstones=ts).collect()]
        return b, s

    def test_lifecycle_with_crash_replay_equals_fresh_build(
        self, spark, tmp_path, monkeypatch
    ):
        import uuid

        import pytest

        import anglerfish_spark.operators.takedown as td
        from anglerfish_spark.operators.text import (
            _invidx_side_names,
            boolean_search,
            build_persisted_index,
            inverted_index_compact,
            invidx_tombstone_table,
        )

        from anglerfish_spark.sources.manifest_table import delete_keys, upsert

        t, name, df_of, text_of, live = self._fixture(spark, tmp_path)
        ckpt = str(tmp_path / "ckpt")
        # drain 1: initial load ingests docs 0..19 (original content)
        td.start_index_maintenance_feed(spark, t, name, ckpt).awaitTermination(120)

        # v2: ten NEW docs + content UPDATES of two indexed docs; the
        # drain of this batch CRASHES after the whole apply (old content
        # retired AND new content appended) but before the WAL commit —
        # the replay-stability worst case
        v2 = [(i, text_of(i)) for i in range(20, 30)] + [
            (3, text_of(3, v=7)), (9, text_of(9, v=7))]
        upsert(spark, t, df_of(v2), ["doc_id"], txn_id="v2")
        real_append = td.inverted_index_append
        calls = {"n": 0}

        def crash_after_append(spark_, name_, docs_, txn=None, gen=None):
            real_append(spark_, name_, docs_, txn=txn, gen=gen)
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("crash after full batch apply, before WAL")

        monkeypatch.setattr(td, "inverted_index_append", crash_after_append)
        q = td.start_index_maintenance_feed(spark, t, name, ckpt)
        with pytest.raises(Exception):
            q.awaitTermination(120)
            q.processAllAvailable()
        assert calls["n"] == 1
        q = td.start_index_maintenance_feed(spark, t, name, ckpt)
        q.awaitTermination(120)
        assert calls["n"] == 2  # the batch replayed and re-applied

        # the UPDATE is live pre-compaction under its NEW terms, old
        # content retired (VERDICT r12 #1's done-bar)
        ts_now = spark.table(invidx_tombstone_table(name)).select("doc_id", "gen")
        assert {r.doc_id for r in boolean_search(
            spark.table(name), ["mark7"], tombstones=ts_now).collect()} == {3, 9}

        # v3: deletes — 5 and 25 unmodified (exact path), 3 updated in
        # v2 and RE-INDEXED, so its delete image matches the stored
        # fingerprint and takes the exact path too
        delete_keys(spark, t, "doc_id",
                    df_of([(3, ""), (5, ""), (25, "")]).select("doc_id"),
                    txn_id="v3")
        td.start_index_maintenance_feed(spark, t, name, ckpt).awaitTermination(120)
        # v4: RE-CREATE doc 5 with fresh content — lands straight through
        # the feed, no compaction needed (ADVICE r12 #3)
        upsert(spark, t, df_of([(5, text_of(5, v=9))]), ["doc_id"], txn_id="v4")
        td.start_index_maintenance_feed(spark, t, name, ckpt).awaitTermination(120)

        # exactly-once despite the replay: consts sum to the live
        # collection (30 - 3 deleted + 1 re-created)
        ts = spark.table(invidx_tombstone_table(name))
        assert sorted(set(r.doc_id for r in ts.collect())) == [3, 5, 9, 25]
        _dl, cs = _invidx_side_names(name)
        assert spark.table(cs).agg(F.sum("n_docs")).first()[0] == 28
        # every retirement was exact (update images match stored fps), so
        # the maintained index equals a FRESH build over the CURRENT
        # corpus score-exactly BEFORE any compaction...
        got_pre = self._probes(spark, name)
        ref = f"{name}_ref_{uuid.uuid4().hex[:6]}"
        build_persisted_index(spark, live, ref)
        want = self._probes(spark, ref)
        assert got_pre == want and got_pre[1]
        # ...and still after the fold
        inverted_index_compact(spark, name)
        got = self._probes(spark, name)
        assert got == want
        # updated doc 9 serves new content; deleted 3/25 gone; 5 reborn
        ids = {d for d, _ in got[0]}
        assert 9 in ids and 5 in ids and 3 not in ids and 25 not in ids
        assert {r.doc_id for r in boolean_search(
            spark.table(name), ["mark9"]).collect()} == {5}


class TestIvfIngest:
    def test_append_equals_rebuild_and_probes_see_new_vectors(self, spark, sf_dir, tmp_path):
        """r12 ingest half of ANN maintenance: appending new vectors into
        the cell layout under the current quantizer equals a from-scratch
        assignment of the union, and probes pick the new vectors up."""
        from anglerfish_spark.operators.similarity import (
            _cell_ranking,
            _centroids,
            ivf_index_append,
            ivf_probe_persisted,
        )
        from anglerfish_spark.sources.registry import load_table

        e = load_table(spark, sf_dir, "embeddings")
        base = e.where(F.col("vec_id") % 4 != 0)
        newv = e.where(F.col("vec_id") % 4 == 0).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "label", "embedding"
        )
        cents = _centroids(e)
        best = F.element_at(_cell_ranking(F.col("embedding"), cents), -1)
        path = str(tmp_path / "cells")
        base.select(
            "vec_id", "label", "embedding", (best["nc"] * -1).alias("cell")
        ).write.partitionBy("cell").parquet(path)

        ivf_index_append(spark, sf_dir, newv, cells_path=path, centroids=cents)

        got = sorted(
            (r.vec_id, r.cell)
            for r in spark.read.parquet(path).select("vec_id", "cell").collect()
        )
        want = sorted(
            (r.vec_id, r.cell)
            for r in base.unionByName(newv)
            .select("vec_id", (best["nc"] * -1).alias("cell"))
            .collect()
        )
        assert got == want and got
        # probing the appended layout surfaces appended vectors: the
        # shifted ids duplicate existing embeddings, so each query's
        # top-k must now contain at least one 100000+ id
        res = ivf_probe_persisted(spark, sf_dir, cells_path=path, centroids=cents)
        assert any(r.vec_id >= 100000 for r in res.collect())


class TestCorpusFeed:
    """r13 (VERDICT r12 #3): the UNIFIED feed maintains all three
    persisted index families from one change feed — and the whole
    multi-family batch apply is exactly-once under crash replay (the
    fault lands after the inverted-index append applied, i.e. after
    FOUR of the batch's six transactional writes)."""

    def test_three_families_converge_under_crash_replay(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        import uuid

        import pytest

        import anglerfish_spark.operators.takedown as td
        from anglerfish_spark.operators.takedown import (
            corpus_ann_probe,
            corpus_dedup_probe,
            corpus_family_names,
            corpus_index_bootstrap,
        )
        from anglerfish_spark.operators.text import (
            _bm25_from_persisted,
            _invidx_side_names,
            _mask_retired,
            build_persisted_index,
            invidx_tombstone_table,
        )
        from anglerfish_spark.operators.similarity import _centroids
        from anglerfish_spark.sources.manifest_table import delete_keys, upsert
        from anglerfish_spark.sources.registry import load_table
        from anglerfish_spark.streaming.stateful import await_or_fail

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        emb = load_table(spark, sf_dir, "embeddings")
        corpus = docs.join(
            emb.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id"
        )
        cents = _centroids(emb, sf_dir)
        name = f"ang_corpustest_{uuid.uuid4().hex[:8]}"
        corpus_index_bootstrap(spark, name)
        t = str(tmp_path / "corpus")
        cells_path = str(tmp_path / "cells")
        ckpt = str(tmp_path / "ckpt")

        def drain():
            await_or_fail(
                td.start_corpus_maintenance_feed(
                    spark, t, name, cells_path, cents, ckpt
                ),
                300,
            )

        upsert(spark, t, corpus.where("doc_id % 10 <> 0"), ["doc_id"], txn_id="v1")
        drain()
        # v2: new docs + updates — CRASH after the invidx append applied
        updated = corpus.where("doc_id % 13 = 0 AND doc_id % 10 <> 0").select(
            "doc_id",
            F.concat(F.lit("updated "), F.col("text")).alias("text"),
            F.transform("embedding", lambda x: -x).alias("embedding"),
        )
        upsert(
            spark, t,
            corpus.where("doc_id % 10 = 0").unionByName(updated),
            ["doc_id"], txn_id="v2",
        )
        real_append = td.inverted_index_append
        calls = {"n": 0}

        def crash_after_append(spark_, name_, docs_, txn=None, gen=None):
            real_append(spark_, name_, docs_, txn=txn, gen=gen)
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("crash mid multi-family batch")

        monkeypatch.setattr(td, "inverted_index_append", crash_after_append)
        q = td.start_corpus_maintenance_feed(spark, t, name, cells_path, cents, ckpt)
        with pytest.raises(Exception):
            q.awaitTermination(120)
            q.processAllAvailable()
        assert calls["n"] == 1
        drain()
        assert calls["n"] == 2  # replayed, every family rewrote its partitions
        # v3: deletes
        delete_keys(
            spark, t, "doc_id",
            corpus.where("doc_id % 7 = 0").select("doc_id"), txn_id="v3",
        )
        drain()

        live = docs.withColumn(
            "text",
            F.when(
                (F.col("doc_id") % 13 == 0) & (F.col("doc_id") % 10 != 0),
                F.concat(F.lit("updated "), F.col("text")),
            ).otherwise(F.col("text")),
        ).where("doc_id % 7 <> 0")
        n_live = live.count()
        ts = spark.table(invidx_tombstone_table(name)).select("doc_id", "gen")

        # 1. exactly-once statistics despite the replay
        _dl, cs = _invidx_side_names(name)
        assert spark.table(cs).agg(F.sum("n_docs")).first()[0] == n_live
        # 2. inverted index: score-exact vs fresh build over live corpus
        ref = f"{name}_ref"
        build_persisted_index(spark, live, ref)
        got = [tuple(r) for r in _bm25_from_persisted(spark, name, tombstones=ts).collect()]
        want = [tuple(r) for r in _bm25_from_persisted(spark, ref).collect()]
        assert got == want and got
        # 3. dedup family: exact-match hits equal a RECOMPUTE over the
        # live corpus (content fps are not unique per doc — duplicate
        # texts exist by construction — so equality against the live
        # fingerprint SET is the correct check, probed with updated,
        # original, and deleted docs' content)
        from anglerfish_spark.operators.takedown import _corpus_fp

        live_fps = live.select(_corpus_fp().alias("fp")).distinct()

        def expected_exact(probe):
            return {
                r.doc_id
                for r in probe.select("doc_id", _corpus_fp().alias("fp"))
                .join(live_fps, "fp", "left_semi")
                .select("doc_id")
                .distinct()
                .collect()
            }

        for probe in (
            live.where("doc_id % 13 = 0 AND doc_id % 10 <> 0"),  # updated, new text
            docs.where("doc_id % 13 = 0 AND doc_id % 10 <> 0"),  # updated, OLD text
            docs.where("doc_id % 7 = 0"),  # deleted docs' content
        ):
            ex, _ = corpus_dedup_probe(spark, name, probe, ts)
            assert {r.doc_id for r in ex.collect()} == expected_exact(probe)
        # the update actually flipped something: at least one updated
        # doc's new text matches and old text (if unique) does not
        upd_new = live.where("doc_id % 13 = 0 AND doc_id % 10 <> 0")
        if upd_new.limit(1).count():
            ex_new, _ = corpus_dedup_probe(spark, name, upd_new, ts)
            assert ex_new.count() == upd_new.select("doc_id").distinct().count()
        # 4. IVF family: no retired vector ranks; some results exist
        ann = corpus_ann_probe(spark, sf_dir, cells_path, cents, ts)
        res = [(r.query_id, r.vec_id) for r in ann.collect()]
        assert res
        dead = {r.doc_id for r in corpus.where("doc_id % 7 = 0").select("doc_id").collect()}
        live_cells = _mask_retired(
            spark.read.parquet(cells_path).select("vec_id", "gen"),
            ts.select(F.col("doc_id").alias("vec_id"), "gen"),
            key="vec_id",
        )
        assert not any(v in dead for _q, v in res)
        # one live cells row per live doc (updates masked their old row)
        assert live_cells.count() == n_live
        assert live_cells.groupBy("vec_id").count().where("count > 1").count() == 0


class TestCorpusProbePlans:
    """The unified-feed dedup probes keep the blessed scale shape: the
    index side reads co-located buckets with NO exchange (the only
    hash exchange on the join key is the batch side shuffling into the
    bucket layout), and the generation mask is a broadcast join."""

    def test_fp_and_band_probes_keep_bucketed_index_side(self, spark, sf_dir):
        from anglerfish_spark.operators.takedown import (
            _corpus_assets,
            corpus_dedup_probe,
        )
        from anglerfish_spark.operators.text import invidx_tombstone_table
        from anglerfish_spark.sources.registry import load_table

        name, _cells, _cents = _corpus_assets(spark, sf_dir)
        ts = spark.table(invidx_tombstone_table(name)).select("doc_id", "gen")
        probe = (
            load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") % 11 == 0)
            .select("doc_id", "text")
        )
        exact, near = corpus_dedup_probe(spark, name, probe, ts)
        for df, key in ((exact, "fp"), (near, "band_id")):
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "simple"
                )
            )
            assert "Bucketed: true" in plan, plan
            key_exch = [
                ln
                for ln in plan.splitlines()
                if "Exchange hashpartitioning" in ln and f"{key}#" in ln
            ]
            # exactly the batch side shuffles into the bucket layout
            assert len(key_exch) == 1, plan
            assert "BroadcastHashJoin" in plan, plan  # the gen mask
