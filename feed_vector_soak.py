#!/usr/bin/env python
"""Nested-evolution feed read: vectorized struct rebuild vs the per-row
value-space fallback (VERDICT r9 #5 "Done" criterion — the vectorized
path must be ≥5× on a nested-evolution backlog).

A table logs N rows of a nested record under writer W; the reader R
renames the nested child and adds a defaulted one — the exact shape that
pre-r10 routed every row through resolve_datum.  The manifest_feed
reader plans the backlog's partitions once; their change files are then
read in-process twice: once under the planned (vectorized) spec, once
under the value-space fallback spec, and the wall ratio is printed.

Usage: python feed_vector_soak.py [out_json]   Env: FEED_SOAK_ROWS
"""

from __future__ import annotations

import copy
import json
import os
import sys
import time

_N_CHILD = 16
_W_CHILDREN = ",".join(
    f'{{"name":"x{i}","type":"long"}}' for i in range(_N_CHILD)
)
_R_CHILDREN = ",".join(
    ['{"name":"y0","type":"long","aliases":["x0"]}']
    + [f'{{"name":"x{i}","type":"long"}}' for i in range(1, _N_CHILD)]
    + ['{"name":"z","type":"string","default":"d"}']
)
W = (
    '{"type":"record","name":"R","fields":['
    '{"name":"k","type":"long"},'
    f'{{"name":"n","type":{{"type":"record","name":"N","fields":[{_W_CHILDREN}]}}}}]}}'
)
R = (
    '{"type":"record","name":"R","fields":['
    '{"name":"k","type":"long"},'
    f'{{"name":"n","type":{{"type":"record","name":"N","fields":[{_R_CHILDREN}]}}}}]}}'
)


def read_all(reader, parts) -> tuple[float, int]:
    """Wall seconds and rows to read every partition through ``reader``."""
    t0 = time.perf_counter()
    n = sum(b.num_rows for p in parts for b in reader.read(p))
    return time.perf_counter() - t0, n


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from anglerfish_spark.memo import fresh_dir
    from anglerfish_spark.sources import manifest_table as mt
    from anglerfish_spark.streaming import table_feed as tf

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    rows = int(os.environ.get("FEED_SOAK_ROWS", "200000"))
    t = fresh_dir("anglerfish_feedsoak_")
    df = spark.range(rows).select(
        F.col("id").alias("k"),
        F.struct(
            *[(F.col("id") + i).alias(f"x{i}") for i in range(_N_CHILD)]
        ).alias("n"),
    )
    mt.append_evolved(spark, t, df, W)
    mt.append_evolved(spark, t, mt.snapshot(spark, t).limit(0), W, reader_schema=R)

    reader = tf.ManifestFeedStreamReader(None, {"table": t})
    parts = reader.partitions(reader.initialOffset(), reader.latestOffset())
    assert any(p.spec and p.spec["op"] == "vector" for p in parts), parts
    fallback = []
    for p in parts:
        p = copy.copy(p)
        if p.spec is not None:
            p.spec = {"op": "pydatum", "writer": p.spec["writer"], "reader": p.spec["reader"]}
        fallback.append(p)

    read_all(reader, parts)  # warm: imports, schema parse, page cache
    wall_vec, n_vec = read_all(reader, parts)
    wall_py, n_py = read_all(reader, fallback)
    assert n_vec == n_py == rows, (n_vec, n_py, rows)
    out = {
        "rows": rows,
        "vectorized_wall_sec": round(wall_vec, 2),
        "pydatum_wall_sec": round(wall_py, 2),
        "speedup": round(wall_py / wall_vec, 2),
    }
    print(json.dumps(out, indent=1))
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
