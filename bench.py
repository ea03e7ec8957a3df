#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully executed (collected to a count via a no-op sink
``df.write.format("noop")``) so the measured time includes the whole plan,
not just planning.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: headline set: one per operator family — aggregation, multi-join, window,
#: top-k, dedup, similarity, text, streaming-window analogue, codec.
#: The first 14 are the r1 set (kept stable so per-query deltas track across
#: rounds); the tail widens coverage to the r3/r4 surface (DataSource scan,
#: TF-IDF, chunk dedup, SCD2, Kafka-shaped stream decode, profiling).
HEADLINE = [
    "q1_pricing_summary",
    "q_join_inner",
    "q_join_left",
    "q_window_running",
    "q_topk_per_group",
    "q_agg_distinct",
    "q_tumble",
    "q_session",
    "json_decode_strict",
    "q_text_stats",
    "q_dedup_minhash_lsh",
    "q_dedup_simhash",
    "q_similarity_topk",
    "q_join_asof",
    # r4 widening (VERDICT r3 item #3)
    "avro_ocf_datasource",
    "q_tfidf",
    "q_dedup_chunks",
    "q_scd2_history",
    "q_stream_decode",
    "q_profile_stats",
    # r5-continuation widening: the composed curation run + the new
    # LLM-curation/ANN operators (DSIR selection, Bloom decontamination,
    # PQ/ADC search) — the per-query deltas of everything above stay
    # comparable across rounds
    "q_curation_full",
    "q_importance_resampling",
    "q_bloom_decontaminate",
    "q_pq_topk",
    # r7 widening: the composed table read (evolution+deletes+pruning),
    # the persisted-index keyword search, and the banded-LSH ANN (now
    # recall-gated).  One-time table/index builds are absorbed by the
    # first pass; min-of-5 reflects the steady state.
    "q_table_composed",
    "q_inverted_search_persisted",
    "q_similarity_ann_lsh",
    # r8 widening: the logged change feed over an upsert-rewrite history
    # (O(changed rows), previously a two-snapshot diff), the streaming
    # manifest_feed source drain, and the BM25-ranked index search
    "q_table_changes",
    "q_stream_table_feed",
    "q_inverted_bm25",
    # r9 widening: ranked search served purely from the persisted index +
    # its build-time side tables (no corpus re-tokenize per query), and
    # MERGE INTO under file-targeted copy-on-write
    "q_inverted_bm25_persisted",
    "q_table_merge",
    # r10 widening: the clustering lifecycle (MoR -> zorder -> targeted
    # COW) and the metadata-only DESCRIBE HISTORY read
    "q_table_clustered",
    "q_table_history",
    # r11 widening: the CDC-driven takedown composition (change feed ->
    # index retirement -> exact post-takedown probes) and the
    # histogram-based per-language length quantiles
    "q_index_takedown",
    "q_length_quantiles",
    # r12 widening: the parameterized BM25 API under a second term set
    # (sharded persisted postings) and the REAL stdlib WAV decode sweep
    "q_inverted_bm25_terms",
    "q_multimodal_wav_decode",
    # r13 widening: the two REAL entropy-decode sweeps (baseline JPEG
    # Huffman+IDCT, GIF LZW) — the heaviest Python map stages in the
    # multimodal family, tracked so a constant-factor regression in the
    # Arrow mapInPandas path is visible round-over-round
    "q_multimodal_jpeg_decode",
    "q_multimodal_gif_decode",
    # r13 widening (cont.): the two JVM-only curation map stages (Luhn-
    # gated PII scrub, density-classified boilerplate removal) — cheap,
    # and they pin the higher-order-expression codegen path
    "q_text_pii_scrub",
    "q_text_boilerplate",
]


def _run_calibrators(spark) -> dict[str, float]:
    """Build the frozen calibration dataset once (setup, excluded) and
    time each calibrator job as min-of-3 (the ambient-noise floor is the
    signal here; medians would fold noise INTO the yardstick)."""
    from pyspark.sql import functions as F

    from anglerfish_spark.memo import fresh_dir

    root = fresh_dir("anglerfish_cal_")
    base = os.path.join(root, "cal.parquet")
    (
        spark.range(2_000_000)
        .select(
            F.col("id"),
            (F.col("id") % 100_000).alias("k"),
            # bounded so ANSI-mode sums can never overflow BIGINT
            F.pmod(F.xxhash64("id"), F.lit(1_000_000)).alias("h"),
        )
        .write.mode("overwrite")
        .parquet(base)
    )

    def scan_agg():
        df = spark.read.parquet(base)
        (
            df.where(F.col("h") % 3 != 0)
            .groupBy(F.col("k") % 1024)
            .agg(F.sum("h"), F.count(F.lit(1)))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    def shuffle_join():
        df = spark.read.parquet(base)
        a = df.select("k", "h").where(F.col("id") % 2 == 0)
        b = df.select(F.col("k").alias("k2"), F.col("h").alias("h2")).where(
            F.col("id") % 2 == 1
        )
        (
            a.join(b.hint("merge"), a.k == b.k2)
            .groupBy(a.k % 64)
            .count()
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    def arrow_udf():
        import pandas as pd

        def fold(batches):
            for pdf in batches:
                yield pd.DataFrame({"s": [int(pdf["h"].sum())], "n": [len(pdf)]})

        df = spark.read.parquet(base).limit(500_000)
        (
            df.mapInPandas(fold, "s long, n long")
            .groupBy()
            .sum("s", "n")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    out: dict[str, float] = {}
    for name, job in (
        ("cal_scan_agg", scan_agg),
        ("cal_shuffle_join", shuffle_join),
        ("cal_arrow_udf", arrow_udf),
    ):
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            try:
                job()
            except Exception:  # noqa: BLE001 - calibration must not kill the bench
                break
            ts.append(time.perf_counter() - t0)
        if ts:
            out[name] = round(min(ts), 3)
    return out


def main() -> None:
    from anglerfish_spark.registry import all_queries
    from anglerfish_spark.session import get_spark

    # box noise next to the numbers it affects (1-minute load average)
    load1_start = round(os.getloadavg()[0], 2)
    spark = get_spark("anglerfish-bench")
    qs = all_queries()
    names = [n for n in HEADLINE if n in qs]
    # fall back to everything registered if a headline entry is missing
    names = names or sorted(qs)

    # PREBUILD pass (VERDICT r13 #5, measurement fix — disclosed in
    # OPTIMIZATION_r14.md): one untimed pass over every headline query
    # BEFORE the 5 timed passes, so the one-time per-process asset builds
    # (persisted inverted/dedup/IVF indexes, manifest-table demo
    # histories, OCF/stream stand-in generation — the steady-state
    # serving state a real consumer builds once, not per probe) land
    # here instead of inside timed pass 1.  Per-query prebuild seconds
    # are reported in the detail payload (`prebuild_sec`) so the build
    # cost stays visible — it moves out of `queries_spread.first`, it is
    # not hidden.  This also subsumes the old single-query JVM warm-up.
    # The headline `value` was ALREADY the median of warm passes (pass 1
    # excluded since r11), so totals stay comparable across rounds; only
    # the meaning of `first` changes (now a warm pass too).  Nothing is
    # cached across bench invocations, and the 5 timed passes still
    # compute every query from the parquet inputs.
    prebuild: dict[str, float] = {}
    for name in names:
        t0 = time.perf_counter()
        try:
            qs[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 - timed passes record the error
            pass
        prebuild[name] = round(time.perf_counter() - t0, 3)

    # ENGINE-INDEPENDENT calibrators (VERDICT r11 #2): three fixed jobs
    # over frozen, sf-independent data — a parquet scan+agg, a shuffle
    # join, an Arrow-batched mapInPandas pass.  Their wall time tracks the
    # MACHINE (ambient load, JVM, IO), never the engine, so a reader can
    # separate baseline drift from engine regression without re-running:
    # if headline queries and calibrators move together across rounds,
    # the box drifted; if queries move alone, the engine did.
    calibrators = _run_calibrators(spark)

    # five passes per query; the HEADLINE per-query number is the MEDIAN
    # of the four warm passes (pass 1 pays one-off JIT/codegen/footer
    # costs that say nothing about throughput) — r10's verdict showed
    # that a point estimate cannot answer "did we regress?" when ambient
    # load adds ±30-50% one-sided noise, so the median plus the reported
    # [min, max] spread make cross-round deltas interpretable (VERDICT
    # r10 #6).  Each pass runs the queries in a rotated order so
    # adjacency effects (a heavy neighbor's GC debt, AQE state) cannot
    # bias the same query every pass.  Per-query fault tolerance: one
    # broken query must never zero out the whole round's perf signal —
    # record its error and keep going.
    import statistics

    samples: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for p in range(5):
        k = (p * 7) % max(len(names), 1)
        for name in names[k:] + names[:k]:
            if name in errors:
                continue
            t0 = time.perf_counter()
            try:
                qs[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 - harness must survive
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                samples.pop(name, None)
                continue
            samples.setdefault(name, []).append(round(time.perf_counter() - t0, 3))
    # times/errors are mutually exclusive BY CONSTRUCTION (ADVICE r11 #5):
    # the first error pops the query's samples and the `name in errors`
    # guard above skips it for every remaining pass, so an errored query
    # can never re-accumulate a truncated sample set whose ts[0] is not
    # the cold run — the assert pins the invariant against regressions
    times = {
        n: round(statistics.median(ts[1:] if len(ts) > 1 else ts), 3)
        for n, ts in samples.items()
    }
    assert not set(times) & set(errors), "a query is in both times and errors"
    spread = {
        n: {
            "min": min(ts),
            "median": times[n],
            "max": max(ts),
            "first": ts[0],
        }
        for n, ts in samples.items()
    }

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    payload = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "", 1).isdigit() else sf,
        # VERDICT r13 #1: echo the APPLIED parallelism so the driver's
        # scaling comparison can verify $SPARK_GRAFT_CPUS is honored
        # (master local[N] → defaultParallelism == N) instead of
        # inferring it from per-query ratios that sit on the scheduling
        # floor at sf0.1's single-row-group inputs
        "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "parallelism": spark.sparkContext.defaultParallelism,
        # cross-round continuity + noise band: per-query [min, median,
        # max, first-run] over the 5 passes, plus the min-based total the
        # r1-r10 BENCH files reported ("value" is median-based since r11)
        "queries_spread": spread,
        "min_total_sec": round(sum(s["min"] for s in spread.values()), 3),
        "first_run_total_sec": round(sum(s["first"] for s in spread.values()), 3),
        # the untimed pass-0 per-query seconds: one-time asset builds +
        # first-touch JIT/codegen live here (see the prebuild comment)
        "prebuild_sec": prebuild,
        "prebuild_total_sec": round(sum(prebuild.values()), 3),
        "load1": {"start": load1_start, "end": round(os.getloadavg()[0], 2)},
    }
    # calibration block (VERDICT r11 #2): machine yardstick + each
    # headline query as a RATIO to it — cross-round deltas in the ratio
    # isolate engine changes from box drift
    if calibrators:
        cal_total = round(sum(calibrators.values()), 3)
        payload["calibrators"] = calibrators
        payload["cal_total_sec"] = cal_total
        payload["queries_vs_cal"] = {
            n: round(t / cal_total, 3) for n, t in times.items()
        }
    # memo.STAGE_SECONDS: scope "setup" holds the build-once assets, setup
    # a real consumer never pays, materialized once per process
    # (memo.materialize_once) and excluded from best-of-N since only the
    # first pass pays them (VERDICT r4 #2): the stand-ins (Kafka-message
    # encode, OCF producer writes, IVF cells), the demo tables and the
    # indexes.  The query scopes hold the per-stage split of each query's
    # last timed pass, so a regression points at a stage
    from anglerfish_spark.memo import STAGE_SECONDS

    if "setup" in STAGE_SECONDS:
        payload["setup_sec"] = dict(sorted(STAGE_SECONDS["setup"].items()))
    stages = {
        scope: dict(sorted(STAGE_SECONDS[scope].items()))
        for scope, query in (
            ("curation", "q_curation_full"),
            ("stream_table_feed", "q_stream_table_feed"),
        )
        if query in times and scope in STAGE_SECONDS
    }
    if stages:
        payload["stages_sec"] = stages
    if errors:
        payload["errors"] = errors
    # VERDICT r12 #4: the driver records only the TAIL of stdout (~2000
    # chars), so the full payload (spread, calibrator ratios, stage
    # breakdowns) goes to a side file and the LAST printed line is a
    # compact core that fits the capture window — BENCH_r{N}.json then
    # parses without reconstruction
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
    except OSError:
        detail_path = None
    compact = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": "sec",
        "queries": {n: round(t, 2) for n, t in times.items()},
        "sf": payload["sf"],
        "min_total_sec": payload["min_total_sec"],
        "cpus": payload["cpus"],
        "parallelism": payload["parallelism"],
    }
    if calibrators:
        compact["cal_total_sec"] = payload["cal_total_sec"]
    if errors:
        compact["errors"] = {n: str(e)[:40] for n, e in errors.items()}
    if detail_path:
        compact["detail"] = "BENCH_DETAIL.json"
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # stay under the driver's tail window, always
        del compact["queries"]
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
