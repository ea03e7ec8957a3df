"""The two 100 TB claims as tested code paths (VERDICT r4 #4).

(a) IVF probe against cell-partitioned persisted index: the scan must
    PRUNE partitions (PartitionFilters on ``cell``) and the pruned probe
    must return exactly what the in-memory IVF query returns.
(b) Incremental-dedup probe joins against the bucketed persisted index:
    with broadcast ruled out (the batch is not always small), the index
    side — the big side, everything ever ingested — must join with NO
    exchange; only the batch shuffles into the bucket layout.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import functions as F


@contextlib.contextmanager
def _no_broadcast(spark):
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _executed(df) -> str:
    df.count()  # force execution so AQE finalizes the plan
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df):
    return sorted(map(str, (tuple(r) for r in df.collect())))


class TestIvfPersistedCells:
    def test_probe_scan_prunes_cell_partitions(self, spark, sf_dir):
        from anglerfish_spark.operators.similarity import ivf_probe_persisted

        plan = _executed(ivf_probe_persisted(spark, sf_dir))
        # the candidate scan must carry the cell IN-list as a PARTITION
        # filter (pruned at file listing), not a post-scan predicate
        scan_lines = [
            ln for ln in plan.splitlines() if "PartitionFilters" in ln and "cell" in ln
        ]
        assert scan_lines, f"no partition-pruned scan over cell in plan:\n{plan}"
        assert any("cell" in ln.split("PartitionFilters:", 1)[1] for ln in scan_lines), (
            f"PartitionFilters does not constrain cell:\n{plan}"
        )

    def test_pruned_probe_matches_in_memory_ivf(self, spark, sf_dir):
        from anglerfish_spark.operators.similarity import ivf_probe_persisted
        from anglerfish_spark.registry import all_queries

        expected = _rows(all_queries()["q_similarity_ann_ivf"].fn(spark, sf_dir))
        got = _rows(ivf_probe_persisted(spark, sf_dir))
        assert got == expected


class TestDedupBucketedIndex:
    def test_fp_probe_has_no_index_side_exchange(self, spark, sf_dir):
        from anglerfish_spark.operators.dedup import dedup_index_tables, tokens
        from anglerfish_spark.sources.registry import load_table

        fps_t, _ = dedup_index_tables(spark, sf_dir)
        d = load_table(spark, sf_dir, "documents")
        fp = F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(tokens()))).cast("binary")
        )
        batch = d.where(F.pmod(F.col("doc_id"), F.lit(10)) == 0).select(
            "doc_id", fp.alias("fp")
        )
        with _no_broadcast(spark):
            probe = batch.join(spark.table(fps_t).select("fp"), "fp", "left_semi")
            plan = _executed(probe)
        assert "Bucketed: true" in plan, f"index scan not bucketed:\n{plan}"
        # exactly one exchange: the batch side shuffling into the bucket
        # layout; the index side must read co-located buckets directly
        n_exch = plan.count("Exchange hashpartitioning")
        assert n_exch == 1, f"expected 1 exchange (batch side), got {n_exch}:\n{plan}"

    def test_band_probe_has_no_index_side_exchange(self, spark, sf_dir):
        from anglerfish_spark.operators.dedup import dedup_index_tables, lsh_bands
        from anglerfish_spark.sources.registry import load_table

        _, bands_t = dedup_index_tables(spark, sf_dir)
        d = load_table(spark, sf_dir, "documents")
        batch = (
            lsh_bands(d)
            .where(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
            .select("doc_id", "band_id", "band_key")
        )
        with _no_broadcast(spark):
            probe = batch.join(
                spark.table(bands_t).select("band_id", "band_key"),
                ["band_id", "band_key"],
                "left_semi",
            )
            plan = _executed(probe)
        assert "Bucketed: true" in plan, f"index scan not bucketed:\n{plan}"
        n_exch = plan.count("Exchange hashpartitioning")
        assert n_exch == 1, f"expected 1 exchange (batch side), got {n_exch}:\n{plan}"

    def test_bucketed_index_probe_matches_query_semantics(self, spark, sf_dir):
        """The bucketed index must give q_dedup_incremental's exact_dup
        verdicts: probing it is a physical change, not a semantic one."""
        from anglerfish_spark.operators.dedup import dedup_index_tables, tokens
        from anglerfish_spark.registry import all_queries
        from anglerfish_spark.sources.registry import load_table

        fps_t, _ = dedup_index_tables(spark, sf_dir)
        d = load_table(spark, sf_dir, "documents")
        fp = F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(tokens()))).cast("binary")
        )
        batch = d.where(F.pmod(F.col("doc_id"), F.lit(10)) == 0).select(
            "doc_id", fp.alias("fp")
        )
        hits = {
            r["doc_id"]
            for r in batch.join(spark.table(fps_t).select("fp"), "fp", "left_semi")
            .select("doc_id")
            .collect()
        }
        expected = {
            r["doc_id"]
            for r in all_queries()["q_dedup_incremental"].fn(spark, sf_dir).collect()
            if r["exact_dup"]
        }
        assert hits == expected


class TestInvertedIndexPersisted:
    """VERDICT r6 #4: the inverted-index search must run against the
    PERSISTED bucketed index — no corpus-cardinality scan, bucket-pruned
    index access — and match the rebuild-per-run query's semantics."""

    def test_probe_prunes_buckets_and_never_scans_corpus(self, spark, sf_dir):
        from anglerfish_spark.operators.text import (
            _SEARCH_TERMS,
            inverted_index_table,
        )

        idx = spark.table(inverted_index_table(spark, sf_dir))
        probe = idx.where(F.col("term").isin(*_SEARCH_TERMS)).select("term", "df")
        plan = _executed(probe)
        assert "Bucketed: true" in plan, f"index scan not bucketed:\n{plan}"
        # the term IN-list prunes buckets at plan time
        import re

        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, f"no bucket pruning in plan:\n{plan}"
        assert int(m.group(1)) < int(m.group(2)), f"no buckets pruned:\n{plan}"
        # the probe must not scan the documents parquet (corpus) at all
        assert "documents" not in plan, f"corpus scan in probe plan:\n{plan}"

    def test_search_has_no_corpus_scan(self, spark, sf_dir):
        from anglerfish_spark.registry import all_queries

        df = all_queries()["q_inverted_search_persisted"].fn(spark, sf_dir)
        plan = _executed(df)
        assert plan.count("FileScan") == 1, f"expected only the index scan:\n{plan}"
        assert "Bucketed: true" in plan

    def test_boolean_semantics_match_conjunctive_plus_or(self, spark, sf_dir):
        """AND pair ∪ OR term: cross-check against the per-run index query
        (pure-AND) plus a direct corpus recount of the OR term."""
        from anglerfish_spark.operators.text import _SEARCH_TERMS, tokens
        from anglerfish_spark.registry import all_queries
        from anglerfish_spark.sources.registry import load_table

        t0, t1, t2 = _SEARCH_TERMS
        got = {
            r.doc_id: r.tf_total
            for r in all_queries()["q_inverted_search_persisted"].fn(spark, sf_dir).collect()
        }
        d = load_table(spark, sf_dir, "documents")
        toks = d.select("doc_id", F.explode(tokens()).alias("term")).where(
            F.col("term").isin(t0, t1, t2)
        )
        per = (
            toks.groupBy("doc_id")
            .agg(
                F.sum(F.when(F.col("term").isin(t0, t1), 1).otherwise(0)).alias("andtf"),
                F.count_distinct(F.when(F.col("term").isin(t0, t1), F.col("term"))).alias("nand"),
                F.sum(F.when(F.col("term") == t2, 1).otherwise(0)).alias("ortf"),
            )
        )
        expected = {
            r.doc_id: r.andtf + r.ortf
            for r in per.where((F.col("nand") == 2) | (F.col("ortf") > 0)).collect()
        }
        assert got == expected


class TestInvertedIndexIncremental:
    def test_fragmented_index_equals_rebuild(self, spark, sf_dir):
        """Appending posting fragments must be search-lossless: the
        incremental query's results equal the one-shot persisted query's
        (same corpus, same boolean search)."""
        from anglerfish_spark.registry import all_queries

        qs = all_queries()
        a = _rows(qs["q_inverted_search_persisted"].fn(spark, sf_dir))
        b = _rows(qs["q_inverted_search_incremental"].fn(spark, sf_dir))
        assert a == b

    def test_fragments_exist_and_probe_stays_bucketed(self, spark, sf_dir):
        from anglerfish_spark.operators.text import _SEARCH_TERMS, _incremental_index

        name = _incremental_index(spark, sf_dir)
        idx = spark.table(name)
        # at least one term really is fragmented across ingests
        frag = (
            idx.groupBy("term").count().where(F.col("count") > 1).limit(1).count()
        )
        assert frag == 1, "no term has multiple posting fragments"
        probe = idx.where(F.col("term").isin(*_SEARCH_TERMS)).select("term", "df")
        plan = _executed(probe)
        assert "Bucketed: true" in plan
        assert "SelectedBucketsCount" in plan


class TestPhraseAndBm25Persisted:
    """r8 positional postings: phrase search runs against the PERSISTED
    positional index with bucket pruning intact, and fragmented ingest
    stays phrase-lossless."""

    def test_phrase_over_persisted_index_prunes_buckets(self, spark, sf_dir):
        from anglerfish_spark.operators.text import (
            _PHRASE_2,
            inverted_index_table,
            phrase_search,
        )

        idx = spark.table(inverted_index_table(spark, sf_dir))
        res = phrase_search(idx, list(_PHRASE_2))
        plan = _executed(res)
        assert "Bucketed: true" in plan
        assert "SelectedBucketsCount" in plan
        assert "documents" not in plan, f"corpus scan in phrase plan:\n{plan}"
        # and the persisted answer equals the rebuild-per-run registered
        # query's rows for the same phrase
        from anglerfish_spark.operators.text import build_positional_index
        from anglerfish_spark.sources.registry import load_table

        fresh = phrase_search(
            build_positional_index(load_table(spark, sf_dir, "documents")),
            list(_PHRASE_2),
        )
        assert _rows(res) == _rows(fresh)

    def test_phrase_over_fragmented_index_equals_rebuild(self, spark, sf_dir):
        from anglerfish_spark.operators.text import (
            _PHRASE_2,
            _incremental_index,
            phrase_search,
        )

        name = _incremental_index(spark, sf_dir)
        frag = phrase_search(spark.table(name), list(_PHRASE_2))
        from anglerfish_spark.operators.text import build_positional_index
        from anglerfish_spark.sources.registry import load_table

        fresh = phrase_search(
            build_positional_index(load_table(spark, sf_dir, "documents")),
            list(_PHRASE_2),
        )
        assert _rows(frag) == _rows(fresh)

    def test_bm25_scores_are_integers_and_ranked(self, spark, sf_dir):
        from anglerfish_spark.registry import all_queries

        rows = all_queries()["q_inverted_bm25"].fn(spark, sf_dir).collect()
        assert rows, "bm25 returned nothing"
        scores = [r.score for r in rows]
        assert all(isinstance(s, int) for s in scores)
        assert scores == sorted(scores, reverse=True)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))

    def test_persisted_bm25_never_scans_corpus(self, spark, sf_dir):
        """VERDICT r8 #3: ranked search is served entirely from the
        persisted index + its build-time side tables — the optimized
        plan bucket-prunes the postings scan and contains NO scan of
        the documents corpus."""
        from anglerfish_spark.registry import all_queries

        df = all_queries()["q_inverted_bm25_persisted"].fn(spark, sf_dir)
        plan = _executed(df)
        assert "Bucketed: true" in plan
        assert "SelectedBucketsCount" in plan
        assert "documents" not in plan, f"corpus scan in persisted-bm25 plan:\n{plan}"

    def test_persisted_phrase_never_scans_corpus(self, spark, sf_dir):
        from anglerfish_spark.registry import all_queries

        df = all_queries()["q_inverted_phrase_persisted"].fn(spark, sf_dir)
        plan = _executed(df)
        assert "Bucketed: true" in plan
        assert "SelectedBucketsCount" in plan
        assert "documents" not in plan, f"corpus scan in persisted-phrase plan:\n{plan}"

    def test_incremental_bm25_equals_oneshot(self, spark, sf_dir):
        """The fragmented index + appended side tables rank identically
        to the one-shot build (both oracle-checked, but the pairwise
        equality also pins fragment df-merge and consts summing)."""
        from anglerfish_spark.registry import all_queries

        qs = all_queries()
        a = _rows(qs["q_inverted_bm25_persisted"].fn(spark, sf_dir))
        b = _rows(qs["q_inverted_bm25_incremental"].fn(spark, sf_dir))
        assert a == b


class TestPostingsSharding:
    """r12 (VERDICT r11 #1): the PERSISTED postings layout shards a term's
    postings by doc range — a stop-word-frequency term can never
    concentrate a corpus-sized array into one row (the 2 GB single-row /
    single-task ceiling at 100x scale) — and shards are invisible to every
    probe: boolean, phrase, and BM25 results are shard-width-invariant."""

    def _docs(self, spark):
        from anglerfish_spark.localdata import local_df
        from anglerfish_spark.operators.text import _SEARCH_TERMS

        t0, t1, t2 = _SEARCH_TERMS
        rows = [
            (
                i,
                "hot doc "
                + (f"{t0} {t1} " if i % 3 == 0 else "")
                + (f"{t2} " if i % 5 == 0 else "")
                + f"hot tail{i % 7}",
            )
            for i in range(120)
        ]
        return local_df(spark, rows, ["doc_id", "text"]).select(
            F.col("doc_id").cast("long"), "text"
        )

    def test_hot_term_bounded_rows_and_shard_width_invariance(
        self, spark, monkeypatch
    ):
        import uuid

        from anglerfish_spark.operators.text import (
            _SEARCH_TERMS,
            bm25_index_search,
            boolean_search,
            build_persisted_index,
            build_positional_index,
            phrase_search,
        )

        docs = self._docs(spark)
        monkeypatch.setattr("anglerfish_spark.operators.text.POSTINGS_SHARD_DOCS", 16)
        name = f"ang_shardidx_{uuid.uuid4().hex[:8]}"
        build_persisted_index(spark, docs, name)
        monkeypatch.setattr("anglerfish_spark.operators.text.POSTINGS_SHARD_DOCS", 1000000)
        wide = f"ang_wideidx_{uuid.uuid4().hex[:8]}"
        build_persisted_index(spark, docs, wide)

        idx, idx_wide = spark.table(name), spark.table(wide)
        # the hot term (every doc) really is sharded, every row bounded
        assert idx.where(F.col("term") == "hot").count() >= 120 // 16
        assert idx.select(F.max(F.size("postings"))).first()[0] <= 16
        assert idx_wide.where(F.col("term") == "hot").count() == 1

        def rows(df):
            return sorted(tuple(r) for r in df.collect())

        # shards are probe-invisible: narrow == wide == in-memory build
        mem = build_positional_index(docs)
        a, o = _SEARCH_TERMS[:2], _SEARCH_TERMS[2:]
        assert rows(boolean_search(idx, a, o)) == rows(boolean_search(mem, a, o))
        assert rows(boolean_search(idx, a, o)) == rows(boolean_search(idx_wide, a, o))
        assert rows(phrase_search(idx, ["hot", "doc"])) == rows(
            phrase_search(mem, ["hot", "doc"])
        )
        assert rows(bm25_index_search(spark, name, ("hot", *a))) == rows(
            bm25_index_search(spark, wide, ("hot", *a))
        )

    def test_compaction_folds_to_canonical_bounded_shards(self, spark, monkeypatch):
        import uuid

        from anglerfish_spark.operators.text import (
            _SEARCH_TERMS,
            bm25_index_search,
            build_persisted_index,
            inverted_index_append,
            inverted_index_compact,
            inverted_index_takedown,
            invidx_tombstone_table,
        )

        monkeypatch.setattr("anglerfish_spark.operators.text.POSTINGS_SHARD_DOCS", 16)
        docs = self._docs(spark)
        name = f"ang_shardlife_{uuid.uuid4().hex[:8]}"
        build_persisted_index(spark, docs.where("doc_id < 70"), name)
        inverted_index_append(spark, name, docs.where("doc_id >= 70"))
        inverted_index_takedown(spark, name, docs.where("doc_id % 10 = 0"))
        ts = spark.table(invidx_tombstone_table(name)).select("doc_id")
        terms = ("hot", *_SEARCH_TERMS[:2])
        before = sorted(
            tuple(r) for r in bm25_index_search(spark, name, terms, tombstones=ts).collect()
        )
        inverted_index_compact(spark, name)
        after = sorted(
            tuple(r) for r in bm25_index_search(spark, name, terms).collect()
        )
        assert after == before
        idx = spark.table(name)
        # canonical fold: one row per (term, shard), every row bounded,
        # no negative fragments left
        assert idx.groupBy("term", "shard").count().where("count > 1").count() == 0
        assert idx.select(F.max(F.size("postings"))).first()[0] <= 16
        assert idx.where(F.col("df") <= 0).count() == 0


class TestDedupIndexCompaction:
    """r12 (VERDICT r11 #5): the persisted fp/band dedup index gets the
    same physical tombstone fold the inverted index has — probe results
    pinned across the fold, tombstone table truncated, bucketed layout
    (and thus the zero-exchange probe plan) preserved."""

    def _mk(self, spark, tmp_path):
        import os
        import uuid

        from anglerfish_spark.localdata import local_df
        from anglerfish_spark.operators.dedup import INDEX_BUCKETS, lsh_bands, tokens

        # texts repeat every 6 ids -> batch docs have exact+near matches
        rows = [(i, f"alpha beta gamma delta{i % 6} epsilon zeta") for i in range(30)]
        docs = local_df(spark, rows, ["doc_id", "text"]).select(
            F.col("doc_id").cast("long"), "text"
        )
        tag = uuid.uuid4().hex[:8]
        fp_t, band_t, ts_t = f"cfp_{tag}", f"cband_{tag}", f"cts_{tag}"
        fp = F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(tokens()))).cast("binary")
        )
        idx = docs.where("doc_id >= 10")  # index side; 0..9 are the probe batch
        (
            idx.select("doc_id", fp.alias("fp"))
            .write.mode("overwrite")
            .option("path", os.path.join(str(tmp_path), fp_t))
            .bucketBy(INDEX_BUCKETS, "fp")
            .sortBy("fp")
            .saveAsTable(fp_t)
        )
        (
            lsh_bands(idx)
            .select("doc_id", "band_id", "band_key")
            .write.mode("overwrite")
            .option("path", os.path.join(str(tmp_path), band_t))
            .bucketBy(INDEX_BUCKETS, "band_id", "band_key")
            .sortBy("band_id", "band_key")
            .saveAsTable(band_t)
        )
        # retire every index doc congruent to 4 mod 6: batch doc 4's ONLY
        # exact match set (ids 10..29 with i%6==4 -> 16, 22, 28)
        docs.where("doc_id >= 10 and doc_id % 6 = 4").select("doc_id").write.mode(
            "overwrite"
        ).option("path", os.path.join(str(tmp_path), ts_t)).saveAsTable(ts_t)
        batch = docs.where("doc_id < 10").select("doc_id", fp.alias("fp"))
        batch_bands = lsh_bands(docs.where("doc_id < 10"))
        return fp_t, band_t, ts_t, batch, batch_bands

    def _probes(self, spark, fp_t, band_t, batch, batch_bands, ts):
        fp_idx = spark.table(fp_t)
        band_idx = spark.table(band_t)
        if ts is not None:
            fp_idx = fp_idx.join(F.broadcast(ts), "doc_id", "left_anti")
            band_idx = band_idx.join(F.broadcast(ts), "doc_id", "left_anti")
        exact = sorted(
            r.doc_id
            for r in batch.join(fp_idx.select("fp"), "fp", "left_semi").collect()
        )
        near = sorted(
            r.doc_id
            for r in batch_bands.join(
                band_idx.select("band_id", "band_key"),
                ["band_id", "band_key"],
                "left_semi",
            )
            .select("doc_id")
            .distinct()
            .collect()
        )
        return exact, near

    def test_fold_pins_probes_truncates_ts_keeps_bucketed_plan(
        self, spark, tmp_path
    ):
        from anglerfish_spark.operators.dedup import dedup_index_compact

        fp_t, band_t, ts_t, batch, batch_bands = self._mk(spark, tmp_path)
        ts = spark.table(ts_t).select("doc_id")
        before = self._probes(spark, fp_t, band_t, batch, batch_bands, ts)
        # the tombstones actually change the outcome (doc 4's only match
        # group was retired), or this test pins nothing
        unfiltered = self._probes(spark, fp_t, band_t, batch, batch_bands, None)
        assert before != unfiltered
        assert 4 not in before[0] and 4 in unfiltered[0]

        dedup_index_compact(spark, fp_t, band_t, tombstone_table=ts_t)
        after = self._probes(spark, fp_t, band_t, batch, batch_bands, None)
        assert after == before
        # tombstones truncated; probes run tombstone-free again
        assert spark.table(ts_t).count() == 0
        # retired docs are physically gone
        assert spark.table(fp_t).where("doc_id % 6 = 4").count() == 0
        # bucketed layout preserved: the probe join still reads the index
        # side with NO exchange (write-time bucket contract)
        with _no_broadcast(spark):
            probe = batch.join(spark.table(fp_t).select("fp"), "fp", "left_semi")
            plan = _executed(probe)
        assert "Bucketed: true" in plan, f"compacted index scan not bucketed:\n{plan}"
        n_exch = plan.count("Exchange hashpartitioning")
        assert n_exch == 1, f"expected 1 exchange (batch side), got {n_exch}:\n{plan}"
