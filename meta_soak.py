#!/usr/bin/env python
"""Metadata-payload soak (VERDICT r9 #1 "Done" criterion): measure that a
keyed commit's MANIFEST payload is O(changed filesets), not O(table
files), by running the same clustered 100-key upsert against tables of
F and 10F data files and recording bytes written under ``_manifests``
(lists + content-addressed segment chunks), the manifest-list size, and
the segment loads a point read plans with.

Usage: python meta_soak.py [out_json]
Env:   META_SOAK_FILES (default "500,5000").  The segment chunk target
       (``manifest_table._SEG_TARGET_FILES``) is set to SEG_TARGET = 64
       so chunking engages at sandbox file counts.
"""

from __future__ import annotations

import json
import os
import sys
import time

#: files per manifest segment chunk for the soak (the engine default is 512)
SEG_TARGET = 64


def _meta_files(table: str) -> dict[str, int]:
    out = {}
    root = os.path.join(table, "_manifests")
    for dirpath, _d, names in os.walk(root):
        for n in names:
            full = os.path.join(dirpath, n)
            out[os.path.relpath(full, table)] = os.path.getsize(full)
    return out


def measure(spark, n_files: int, tmp: str) -> dict:
    from pyspark.sql import functions as F

    from anglerfish_spark.sources import manifest_table as mt
    from anglerfish_spark.sources.read_path import read_table

    t = os.path.join(tmp, f"t{n_files}")
    rows = n_files * 20
    df = spark.range(rows).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    ).repartitionByRange(n_files, "k")
    mt.upsert(spark, t, df, ["k"])
    before = _meta_files(t)
    segs_before = sum(v for p, v in before.items() if "/segments/" in p)

    # clustered 100-key batch: the steady-state keyed write
    batch = spark.range(100).select(
        F.col("id").alias("k"), F.lit(9.9).alias("v")
    )
    t0 = time.time()
    mt.upsert(spark, t, batch, ["k"])
    upsert_wall = time.time() - t0
    after = _meta_files(t)
    written = sum(v for p, v in after.items() if p not in before)
    m2 = mt.read_manifest_light(t)
    list_bytes = after[os.path.join("_manifests", f"v{m2['version']:010d}.json")]

    # read-plan segment loads for a point probe
    loads: list[str] = []
    real = mt._load_segment

    def counting(table, rel):
        loads.append(rel)
        return real(table, rel)

    mt._load_segment = counting
    mt._SEG_CACHE.clear()
    try:
        out_df, rep = read_table(spark, t, predicates={"k": (rows // 2, rows // 2)})
        n = out_df.count()
    finally:
        mt._load_segment = real
    total_chunks = sum(len(ss["chunks"]) for ss in m2["segsets"])

    # retention metadata cost (SCALE #47): grow some history, then count
    # the segment parses vacuum's reference collection performs — each
    # DISTINCT content-addressed chunk once, vs the naive per-version
    # full materialization (sum of chunk pointers over all versions)
    for i in range(5):
        mt.upsert(
            spark, t,
            spark.range(i * 10, i * 10 + 10).select(
                F.col("id").alias("k"), F.lit(float(i)).alias("v")
            ),
            ["k"],
        )
    vloads: list[str] = []

    def vcounting(table, rel):
        vloads.append(rel)
        return real(table, rel)

    mt._load_segment = vcounting
    mt._SEG_CACHE.clear()
    t0 = time.time()
    try:
        removed = mt.vacuum(t)  # grace window: young files stay, full ref walk runs
    finally:
        mt._load_segment = real
    vacuum_wall = time.time() - t0
    naive_parses = 0
    for v in range(1, mt.current_version(t) + 1):
        ml = mt.read_manifest_light(t, v)
        naive_parses += sum(len(ss["chunks"]) for ss in ml.get("segsets") or [])
    return {
        "n_files": n_files,
        "upsert_wall_sec": round(upsert_wall, 2),
        "meta_bytes_written_by_upsert": written,
        "full_segment_bytes": segs_before,
        "written_over_full": round(written / max(1, segs_before), 4),
        "list_bytes": list_bytes,
        "point_read_segment_loads": len(set(loads)),
        "total_chunks": total_chunks,
        "point_read_files_kept": rep["files_kept"],
        "point_read_files_total": rep["files_total"],
        "point_read_rows": n,
        "vacuum_wall_sec": round(vacuum_wall, 2),
        "vacuum_chunk_parses": len(set(vloads)),
        "vacuum_chunk_parses_naive": naive_parses,
        "vacuum_removed": len(removed),
    }


def main() -> None:
    import tempfile

    from pyspark.sql import SparkSession

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from anglerfish_spark.sources import manifest_table as mt

    mt._SEG_TARGET_FILES = SEG_TARGET
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    tmp = tempfile.mkdtemp(prefix="anglerfish_metasoak_")
    sizes = [int(x) for x in os.environ.get("META_SOAK_FILES", "500,5000").split(",")]
    results = [measure(spark, n, tmp) for n in sizes]
    out = {"seg_target": SEG_TARGET, "runs": results}
    print(json.dumps(out, indent=1))
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
