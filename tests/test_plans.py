"""Plan-shape regressions: the scale claims in SCALE.md, enforced.

Each assertion pins a physical-plan property that must survive refactors:
filters reach the parquet scan, projections prune columns, dimension joins
broadcast, top-k compiles to heap-based operators, and the decode path
stays Python-free.
"""

from __future__ import annotations

from anglerfish_spark.registry import all_queries

QUERIES = all_queries()


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_flagship_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan
    # 11-column table, 7-column read: projection reached the scan
    read = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "l_comment" not in read and "l_orderkey" not in read, read


def test_dim_joins_broadcast(spark, sf_dir):
    import re

    plan = _plan(spark, sf_dir, "q_join_broadcast")
    ops = re.findall(r"\(\d+\) (\w+)", plan)
    assert ops.count("BroadcastHashJoin") == 2, plan
    # non-broadcast exchanges: one for the aggregation, one for the tiny
    # presentation sort of the 5-row result — never a join shuffle
    assert ops.count("Exchange") <= 2, plan


def test_topk_uses_heap_not_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_topk")
    assert "TakeOrderedAndProject" in plan, plan


def test_topk_per_group_uses_window_group_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_topk_per_group")
    assert "WindowGroupLimit" in plan, plan


def test_decode_path_is_python_free(spark, sf_dir):
    plan = _plan(spark, sf_dir, "json_decode_strict")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "codegen id" in plan, plan  # formatted mode's codegen marker


def test_asof_join_single_data_shuffle(spark, sf_dir):
    import re

    plan = _plan(spark, sf_dir, "q_join_asof")
    ops = re.findall(r"\(\d+\) (\w+)", plan)
    assert ops.count("Exchange") == 1, plan  # one shuffle on user_id; both windows share it


def test_events_scan_is_vectorized(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_tumble")
    assert "Batched: true" in plan, plan


def test_shipping_priority_topk_is_heap(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_shipping_priority")
    assert "TakeOrderedAndProject" in plan, plan
    # the segment filter reaches the customer scan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan, plan


def test_exists_subquery_is_semi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_exists_subquery")
    assert "LeftSemi" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_minhash_signatures_have_no_shuffle(spark, sf_dir):
    """The r2 map-only signature pipeline: no exchange may appear below
    the band self-join's inputs — signatures are computed in the scan
    stage (modulo the small-input fan-out repartition)."""
    import re

    from anglerfish_spark.operators.dedup import minhash_signatures
    from anglerfish_spark.sources.registry import load_table

    sig = minhash_signatures(load_table(spark, sf_dir, "documents"))
    plan = sig._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    ops = re.findall(r"\(\d+\) (\w+)", plan)
    assert ops.count("Exchange") == 0, plan


def test_simhash_is_map_plus_one_agg_shuffle(spark, sf_dir):
    import re

    plan = _plan(spark, sf_dir, "q_dedup_simhash")
    ops = re.findall(r"\(\d+\) (\w+)", plan)
    # one exchange for groupBy(simhash), one for the presentation sort,
    # plus the opt-in fan-out repartition — never a per-token shuffle
    assert ops.count("Exchange") <= 3, plan


def test_kmeans_step_broadcasts_centroids(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_kmeans_step")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_tpch_q7_dims_broadcast_facts_hash(spark, sf_dir):
    import re

    plan = _plan(spark, sf_dir, "q_volume_shipping")
    ops = re.findall(r"\(\d+\) (\w+)", plan)
    # supplier + two nation aliases broadcast; orders/customer join the
    # lineitem side as shuffle-hash (facts must never broadcast at scale)
    assert ops.count("BroadcastHashJoin") == 3, plan
    assert ops.count("ShuffledHashJoin") == 2, plan
    assert "SortMergeJoin" not in ops, plan
    assert "GreaterThanOrEqual(l_shipdate" in plan, plan  # date filter at the scan


def test_tpch_q17_join_back_no_extra_exchange(spark, sf_dir):
    import re

    plan = _plan(spark, sf_dir, "q_small_qty_revenue")
    ops = re.findall(r"\(\d+\) (\w+)", plan)
    # per-part limits join back to lineitem: the agg shuffle doubles as the
    # join partitioning, so exchanges stay at 3 (agg, join-back, final agg)
    assert ops.count("Exchange") <= 3, plan
    assert "EqualTo(p_brand,Brand#23)" in plan, plan  # brand filter at the part scan


def test_tpch_q6_single_stage(spark, sf_dir):
    import re

    plan = _plan(spark, sf_dir, "q_forecast_revenue")
    ops = re.findall(r"\(\d+\) (\w+)", plan)
    assert ops.count("Exchange") == 1, plan  # only the 1-row final agg exchange
    assert "GreaterThanOrEqual(l_shipdate" in plan, plan


def test_ngram_jaccard_length_band_in_join_keys(spark, sf_dir):
    """The r3 length-band refinement must appear as an equi-join key (lb),
    not a post-join filter — that is what bounds the quadratic term."""
    plan = _plan(spark, sf_dir, "q_dedup_ngram_jaccard")
    assert "lb" in plan, plan
    import re

    joins = [l for l in plan.splitlines() if "HashJoin" in l or "SortMergeJoin" in l]
    assert joins, plan  # both same-band and adjacent-band are equi-joins
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_log_compact_uses_rank_limit_pushdown(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_log_compact")
    assert "WindowGroupLimit" in plan, plan


def test_scd2_single_window_shuffle(spark, sf_dir):
    import re

    plan = _plan(spark, sf_dir, "q_scd2_history")
    ops = re.findall(r"\(\d+\) (\w+)", plan)
    # one hash exchange for the user_id window + the presentation sort's
    # range exchange; row_number and lead share a single Window operator
    assert ops.count("Window") == 1, plan
    assert ops.count("Exchange") <= 2, plan


def test_tfidf_no_cartesian_and_broadcast_count(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_tfidf")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan  # the 1-row n_docs broadcast


def test_partitioned_write_prunes_partitions_on_read(spark, sf_dir, tmp_path):
    """Hive-style partitioned sink + partition-predicate read: the scan
    must show the predicate as a PartitionFilter (pruned at listing time,
    zero data read from other partitions) — the 100 TB layout lever."""
    from anglerfish_spark.sources.registry import load_table, write

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    d = str(tmp_path / "part")
    write(ev, "parquet", d, mode="overwrite", partition_by=["event_type"])
    df = spark.read.parquet(d).where("event_type = 'click'")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pf = next(line for line in plan.splitlines() if "PartitionFilters" in line)
    assert "event_type" in pf, plan
    # the predicate must NOT degrade to a post-scan data filter
    assert df.count() == ev.where("event_type = 'click'").count()


def test_chunking_is_map_only_fanout(spark, sf_dir):
    """Chunking must be a pure 1→N map: no exchange other than the opt-in
    fan-out repartition and the presentation sort."""
    import re

    plan = _plan(spark, sf_dir, "q_chunk_documents")
    ops = re.findall(r"\(\d+\) (\w+)", plan)
    assert ops.count("Exchange") <= 2, plan
    assert "Generate" in ops, plan  # the explode fan-out


def test_chunk_dedup_single_agg_shuffle(spark, sf_dir):
    import re

    plan = _plan(spark, sf_dir, "q_dedup_chunks")
    ops = re.findall(r"\(\d+\) (\w+)", plan)
    # fan-out repartition + one hash-agg exchange + presentation sort
    assert ops.count("Exchange") <= 3, plan
    assert ops.count("HashAggregate") >= 2, plan  # partial + final (combinable)


def test_semantic_dedup_centroids_broadcast_no_cartesian(spark, sf_dir):
    """SemDeDup's coarse-quantizer assignment is corpus × K-centroids: the
    centroid side must arrive by broadcast (BroadcastNestedLoopJoin over a
    metadata-scale relation), never a partitioned CartesianProduct — and
    the within-cell pair scoring must be an equi-join on cell_id, not a
    second all-pairs product."""
    plan = _plan(spark, sf_dir, "q_dedup_semantic")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dedup_substrings_no_all_pairs(spark, sf_dir):
    """ExactSubstr dedup must find cross-document repeats through the
    positional n-gram hash-agg + equi-join, never by comparing documents
    pairwise."""
    plan = _plan(spark, sf_dir, "q_dedup_substrings")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "HashAggregate" in plan, plan  # the n-gram occurrence count


def test_pattern_match_single_user_partitioning(spark, sf_dir):
    """Both window passes and both aggregations key on user_id; the plan
    must shuffle the events exactly once for them (plus the tiny
    presentation sort)."""
    import re

    plan = _plan(spark, sf_dir, "q_pattern_match")
    ops = re.findall(r"\(\d+\) (\w+)", plan)
    assert ops.count("Exchange") <= 2, plan


def test_pq_topk_broadcasts_luts_and_moves_no_vectors(spark, sf_dir):
    """ADC search: lookup tables broadcast, and NO float vector crosses a
    shuffle — every Exchange's input carries codes/scores only."""
    import re

    plan = _plan(spark, sf_dir, "q_pq_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    for b in blocks:
        if b.startswith("(") and ") Exchange" in b.splitlines()[0]:
            inp = next(line for line in b.splitlines() if line.startswith("Input"))
            assert "embedding" not in inp, b


def test_importance_resampling_model_broadcasts(spark, sf_dir):
    """The 256-bucket model joins back by broadcast — the corpus-scale
    occurrence relation is never shuffled for the model join."""
    plan = _plan(spark, sf_dir, "q_importance_resampling")
    assert "BroadcastHashJoin" in plan, plan


def test_bloom_probe_stage_has_no_benchmark_join(spark, sf_dir):
    """The Bloom probe itself is a map (bitset literal tests) — the only
    join in the plan is the broadcast exact-accounting join."""
    import re

    plan = _plan(spark, sf_dir, "q_bloom_decontaminate")
    ops = re.findall(r"\(\d+\) (\w+)", plan)
    joins = [o for o in ops if "Join" in o]
    assert joins == ["BroadcastHashJoin"], plan


def test_mv_incremental_merge_side_is_checkpoint_not_rescan(spark, sf_dir):
    """The stored-MV side of the maintenance merge must come from the
    checkpoint barrier, NOT a second scan of the base facts: exactly the
    changelog-derivation scan of orders may appear in the plan."""
    import re

    plan = _plan(spark, sf_dir, "q_mv_incremental")
    assert "Scan ExistingRDD" in plan, plan  # the checkpointed MV
    # exactly one parquet scan node (the numbered detail entries)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_keyed_write_probe_pushes_key_filter_and_broadcasts(spark, sf_dir, tmp_path):
    """The file-targeted COW probe (SCALE.md #37): the candidate read's
    key-range residual reaches the parquet scan as a pushed filter, and
    the key semi-join is a broadcast — no shuffle of table-scale data
    anywhere in a keyed write's read side."""
    from pyspark.sql import functions as F

    from anglerfish_spark.sources.manifest_table import upsert
    from anglerfish_spark.sources.read_path import read_table

    t = str(tmp_path / "t")
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    ).repartitionByRange(8, "k")
    upsert(spark, t, df, ["k"])
    # the probe's candidate read: key box predicate + positions
    pre, rep = read_table(spark, t, predicates={"k": (100, 120)}, with_positions=True)
    assert rep["files_kept"] < rep["files_total"]  # stats pruned files
    keys = spark.createDataFrame([(105,), (110,)], "k long")
    probe = pre.join(F.broadcast(keys), ["k"], "left_semi").select("_fp").distinct()
    plan = probe._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters: [IsNotNull(k), GreaterThanOrEqual(k,100), LessThanOrEqual(k,120)" in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_url_dedup_is_codegen_only(spark, sf_dir):
    """q_dedup_urls (r10): canonicalization must stay in whole-stage
    codegen — no Python evaluation node anywhere in the plan (a URL-
    parsing UDF is the 10-100x-slower wrong design the docstring bans)."""
    from anglerfish_spark.registry import all_queries

    df = all_queries()["q_dedup_urls"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "MapInPandas" not in plan, plan
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_multimodal_sniff_is_single_arrow_map_pass(spark, sf_dir):
    """q_multimodal_sniff (r10): synthesis and sniffing are two chained
    mapInPandas stages over one scan — map-only until the final sort, no
    join, no aggregation exchange."""
    from anglerfish_spark.registry import all_queries

    df = all_queries()["q_multimodal_sniff"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert "HashAggregate" not in plan, plan


def test_length_quantiles_window_runs_over_histogram(spark, sf_dir):
    """q_length_quantiles (r11, VERDICT r10 what's-wrong #1): the
    nearest-rank window must run over the per-(lang, cnt) HISTOGRAM, not
    the raw documents — i.e. an Aggregate sits BETWEEN the Window and the
    scan, so no task ever sorts a whole language's documents (the r10
    version's skew cliff: one task per language at an English-heavy mix)."""
    from anglerfish_spark.registry import all_queries

    df = all_queries()["q_length_quantiles"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    i_window = next(i for i, ln in enumerate(lines) if "Window" in ln)
    # the histogram aggregate is deeper than (printed after) the window
    assert any(
        "Aggregate" in ln for ln in lines[i_window + 1 :]
    ), plan
    # and the physical plan keeps a partial (map-side combinable) agg
    phys = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "HashAggregate" in phys, phys
