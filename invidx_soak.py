#!/usr/bin/env python
"""Hot-term postings soak (VERDICT r11 #1): a synthetic corpus where ONE
term ('hot') appears in 50% of documents — the stop-word shape that used
to concentrate a corpus-sized postings array into a single row/task.

At N and 5N docs it builds the sharded persisted index and reports:

* ``max_postings``   — largest postings array in any row (must stay at the
  shard bound, never grow with the corpus);
* ``hot_rows``       — rows holding the hot term (grows ~N/shard: the
  compaction/assembly reducer parallelism — 'no single-task stage');
* ``probe_hot_sec``  / ``probe_cold_sec`` — BM25 probe wall time for a
  hot-term query and a cold-term query (min of 3); the cold probe must
  stay flat as the hot term's postings grow;
* ``compact_sec``    — takedown of ~2% of docs + full physical fold.

Prints one JSON line per scale.  ``text.POSTINGS_SHARD_DOCS`` is pinned
to SHARD_DOCS = 4096 so the 5N corpus really exercises multi-shard hot
terms.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
#: postings shard width for the soak (the engine default is 8192)
SHARD_DOCS = 4096

N_BASE = int(os.environ.get("ANGLERFISH_SOAK_DOCS", "20000"))


def corpus(spark, n: int):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.when(F.col("id") % 2 == 0, F.lit("hot")).otherwise(F.lit("warm")),
            F.concat(F.lit("w"), (F.col("id") % 37).cast("string")),
            F.lit("alpha beta gamma"),
            F.concat(F.lit("x"), (F.col("id") % 211).cast("string")),
        ).alias("text"),
    )


def run(spark, n: int) -> dict:
    from pyspark.sql import functions as F

    from anglerfish_spark.operators.text import (
        bm25_index_search,
        inverted_index_compact,
        inverted_index_takedown,
    )
    from anglerfish_spark.operators.text import build_persisted_index

    d = corpus(spark, n).localCheckpoint(eager=True)
    name = f"ang_soak_hot_{uuid.uuid4().hex[:8]}"
    t0 = time.perf_counter()
    build_persisted_index(spark, d, name)
    build_sec = time.perf_counter() - t0

    idx = spark.table(name)
    max_postings = idx.select(F.max(F.size("postings"))).first()[0]
    hot_rows = idx.where(F.col("term") == "hot").count()

    def best_of(fn, k=3):
        ts = []
        for _ in range(k):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return min(ts)

    probe_hot = best_of(
        lambda: bm25_index_search(spark, name, ("hot", "alpha")).collect()
    )
    probe_cold = best_of(
        lambda: bm25_index_search(spark, name, ("w3", "x7")).collect()
    )

    doomed = d.where(F.col("doc_id") % 50 == 0)  # ~2% takedown batch
    t0 = time.perf_counter()
    inverted_index_takedown(spark, name, doomed)
    takedown_sec = time.perf_counter() - t0
    t0 = time.perf_counter()
    inverted_index_compact(spark, name)
    compact_sec = time.perf_counter() - t0
    idx = spark.table(name)
    shard_bound = SHARD_DOCS
    post_max = idx.select(F.max(F.size("postings"))).first()[0]
    assert post_max <= shard_bound, (post_max, shard_bound)
    dup = idx.groupBy("term", "shard").count().where("count > 1").count()
    assert dup == 0, "compaction left non-canonical shards"

    return {
        "n_docs": n,
        "shard_docs": shard_bound,
        "build_sec": round(build_sec, 3),
        "max_postings": max_postings,
        "hot_rows": hot_rows,
        "probe_hot_sec": round(probe_hot, 3),
        "probe_cold_sec": round(probe_cold, 3),
        "takedown_sec": round(takedown_sec, 3),
        "compact_sec": round(compact_sec, 3),
        "post_compact_max_postings": post_max,
    }


def main() -> None:
    from anglerfish_spark.operators import text
    from anglerfish_spark.session import get_spark

    text.POSTINGS_SHARD_DOCS = SHARD_DOCS

    spark = get_spark("anglerfish-invidx-soak")
    for n in (N_BASE, 5 * N_BASE):
        print(json.dumps(run(spark, n)))
    spark.stop()


if __name__ == "__main__":
    main()
