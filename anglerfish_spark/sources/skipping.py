"""File-level statistics, data-skipping scans, and Z-order clustering for
the manifest-committed table.

This is the scan-avoidance half of the table format story
(`manifest_table` supplies the transactional half).  What Delta/Iceberg
publicly document, distilled to the three mechanisms a 100 TB table needs:

1. **Stats come from parquet FOOTERS, not data scans.**  Each committed
   file's per-column min/max/null-count is read from its parquet metadata
   (one footer read per file, zero data pages touched) and recorded in the
   manifest — so planning a query costs O(files) metadata, never O(rows).
2. **Pruning is manifest-side, before Spark ever sees a path.**  A
   conjunctive range predicate keeps only files whose [min, max] interval
   intersects every bound; the surviving list feeds an ordinary parquet
   scan (row-level pushdown still applies *within* the kept files).  At
   100 TB with daily ingest this is the difference between scanning the
   lake and scanning a morning's worth of files.
3. **Z-order clustering makes multi-column pruning effective.**  A linear
   sort gives tight file ranges on ONE column; interleaving the bits of
   k rank-normalized columns (the Z-/Morton curve, a space-filling curve
   per the public Delta OPTIMIZE ZORDER BY design) gives files whose
   min/max boxes are ~k-th-root-tight on EVERY indexed column, so a
   predicate on any of them skips most files.

The whole module is expression-only Spark: the Z-value is 32 integer
bit-ops folded into one column, the clustering write is a single
``repartitionByRange`` exchange (one shuffle, the same cost as any sort),
and stats collection is driver-side footer reads bounded by file count —
no data-cardinality work happens anywhere off the executors.

Reference anchor: the reference's manifest/table layer does not exist
(its roadmap stops at file I/O intentions, /root/reference/README.md);
this mirrors the public Delta Lake / Apache Iceberg data-skipping designs
instead, implemented Spark-first.
"""

from __future__ import annotations

import datetime as _dt
import os
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import materialize_once
from ..registry import query
from ..session import prepare
from .manifest_table import (
    commit,
    current_version,
    read_manifest,
    snapshot,
    stage_files,
)

# ---------------------------------------------------------------------------
# footer stats
# ---------------------------------------------------------------------------


def _enc(v: Any) -> Any:
    """JSON-encode a stats value so that the encoded ordering equals the
    value ordering within a column: numbers stay numbers; dates and
    timestamps become fixed-width ISO strings (lexical == chronological);
    Decimals become floats (ordering preserved to double precision)."""
    import decimal

    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (int, float, str)):
        return v
    return None  # unsupported type → no stats → never pruned on


def collect_file_stats(
    table: str, files: list[str], stat_cols: list[str]
) -> dict[str, dict]:
    """Per-file column stats from the parquet footer — ``pyarrow``
    metadata only, no data pages read (how the real formats collect
    stats at commit time).  A column whose footer lacks usable min/max
    (e.g. INT96 timestamps) is recorded as ``None`` → never pruned on."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for rel in files:
        md = pq.ParquetFile(os.path.join(table, rel)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        cols: dict[str, dict | None] = {}
        for c in stat_cols:
            if c not in idx:
                cols[c] = None
                continue
            vmin = vmax = None
            nulls = 0
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                lo, hi = _enc(st.min), _enc(st.max)
                if lo is None or hi is None:
                    ok = False
                    break
                vmin = lo if vmin is None else min(vmin, lo)
                vmax = hi if vmax is None else max(vmax, hi)
                nulls += st.null_count or 0
            cols[c] = {"min": vmin, "max": vmax, "nulls": nulls} if ok else None
        out[rel] = {"n_rows": md.num_rows, "cols": cols}
    return out


def commit_with_stats(
    spark: SparkSession,
    table: str,
    files: list[str],
    stat_cols: list[str],
    expected_version: int,
    txn_id: str | None = None,
    schema: str | None = None,
    changes: dict | None = None,
) -> int:
    """Commit ``files`` with footer stats recorded in the manifest.
    ``schema`` preserves an evolved table's reader schema across the
    rewrite (one fileset under that schema); ``changes`` passes the
    commit-time change log through (see ``manifest_table.commit``)."""
    stats = collect_file_stats(table, files, stat_cols)
    return commit(
        table,
        files,
        expected_version,
        txn_id=txn_id,
        stats=stats,
        schema=schema,
        filesets=(
            [{"files": files, "schema": schema, "seq": expected_version + 1}]
            if schema
            else None
        ),
        changes=changes,
    )


# ---------------------------------------------------------------------------
# pruned scans
# ---------------------------------------------------------------------------


def _file_may_match(fstats: dict | None, predicates: dict[str, tuple]) -> bool:
    """Conservative intersection test: False ONLY when the file's stats
    prove no row can satisfy the conjunction (missing stats keep the
    file — pruning must never lose rows)."""
    if not fstats:
        return True
    for c, (lo, hi) in predicates.items():
        cs = (fstats.get("cols") or {}).get(c)
        if not cs or cs["min"] is None:
            continue
        lo_e, hi_e = _enc(lo), _enc(hi)
        if lo_e is not None and cs["max"] < lo_e:
            return False
        if hi_e is not None and cs["min"] > hi_e:
            return False
    return True


def prune_files(
    table: str, predicates: dict[str, tuple], version: int | None = None
) -> tuple[list[str], int]:
    """Manifest-side file pruning: (kept relative paths, total files).
    Predicate names are stats-key (writer/physical) names; evolved
    tables go through ``read_path.read_table``, which re-keys reader
    names per fileset before calling :func:`_file_may_match`."""
    m = read_manifest(table, version)
    stats = m.get("stats") or {}
    kept = [f for f in m["files"] if _file_may_match(stats.get(f), predicates)]
    return kept, len(m["files"])


def scan_pruned(
    spark: SparkSession,
    table: str,
    predicates: dict[str, tuple],
    version: int | None = None,
) -> tuple[DataFrame, dict]:
    """Read a snapshot under a conjunctive range predicate, skipping every
    file whose stats exclude it.  ``predicates`` maps column → inclusive
    ``(lo, hi)`` (either side ``None`` = unbounded).  The residual row
    filter is ALWAYS applied (file granularity over-approximates), so the
    result equals an unpruned filtered scan by construction.  Returns
    ``(df, report)`` with ``report = {"files_kept": k, "files_total": n}``.

    Delegates to the composed read path (read_path.read_table), so a
    pruned scan over a table carrying schema evolution or merge-on-read
    deletes stays correct (pre-r7 this path read ``m['files']`` raw and
    would have resurrected deleted rows — ADVICE r6)."""
    from .read_path import read_table

    return read_table(spark, table, version, predicates=predicates)


# ---------------------------------------------------------------------------
# Z-order clustering
# ---------------------------------------------------------------------------

_Z_BITS = 16  # rank resolution per column; 2 cols → 32-bit Z-value


def _as_double(df: DataFrame, c: str) -> Column:
    """Order-preserving numeric view of a column for rank normalization
    (ANSI mode forbids direct date/timestamp → double casts)."""
    dt = dict(df.dtypes)[c]
    col = F.col(c)
    if dt == "date":
        return F.unix_date(col).cast("double")
    if dt.startswith("timestamp"):
        return F.unix_micros(col).cast("double")
    return col.cast("double")


def zvalue(df: DataFrame, cols: list[str]) -> Column:
    """Z-/Morton-curve value over ``cols``: each column is min/max
    rank-normalized to ``_Z_BITS`` bits (one tiny agg → literal bounds,
    no sort), then the bits are interleaved column-major.  Pure integer
    expressions — whole-stage-codegen'd, no UDF, no extra shuffle."""
    bounds = df.agg(
        *[F.min(_as_double(df, c)).alias(f"lo_{c}") for c in cols],
        *[F.max(_as_double(df, c)).alias(f"hi_{c}") for c in cols],
    ).first()
    n = len(cols)
    top = (1 << _Z_BITS) - 1
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        lo, hi = bounds[f"lo_{c}"], bounds[f"hi_{c}"]
        span = (hi - lo) or 1.0
        r = F.least(
            F.lit(top),
            ((_as_double(df, c) - F.lit(lo)) / F.lit(span) * F.lit(top))
            .cast("long"),
        )
        for i in range(_Z_BITS):
            z = z + (
                F.shiftright(r, i).bitwiseAND(F.lit(1)).cast("long")
                * F.lit(1 << (i * n + (n - 1 - j)))
            )
    return z


def zorder_compact(
    spark: SparkSession,
    table: str,
    zorder_by: list[str],
    n_files: int,
    stat_cols: list[str] | None = None,
) -> int:
    """OPTIMIZE ZORDER BY: rewrite the current snapshot into ``n_files``
    files range-partitioned on the Z-value of ``zorder_by``, then commit
    with footer stats on those columns — after which a range predicate on
    ANY indexed column prunes most files via ``scan_pruned``.

    Cost shape: one ``repartitionByRange`` exchange (a single shuffle of
    the snapshot — same cost as any global sort-and-rewrite OPTIMIZE) and
    O(n_files) driver-side footer reads.  Logically a no-op; time travel
    to pre-compaction versions is preserved like any other commit.

    A PARTITIONED table z-clusters WITHIN its layout (the Iceberg
    sort-order model): the rewrite re-stages through the partition spec
    with a within-partition sort on the Z-value, so every new file keeps
    its partition tuple (pruning survives OPTIMIZE ZORDER — the r9
    inheritance rule only protects CARRIED files, not rewritten ones)
    and parquet row groups carry tight stats on the indexed columns;
    ``n_files`` is honored there too (ADVICE r10 #3): the rewrite
    range-partitions on (tuple, z) so hot tuples split across
    ~n_files/n_tuples files instead of one giant file per tuple."""
    v = current_version(table)
    snap = snapshot(spark, table, v)
    m = read_manifest(table, v)
    schema = m.get("schema")
    if m.get("partition_spec"):
        from .partitioning import remap_spec_cols, stage_files_partitioned

        # spec column names are frozen at write time; remap through
        # reader aliases like compact_table does (the full rewrite
        # restamps every tuple, so committing renamed names is exact)
        files, parts, spec = stage_files_partitioned(
            spark, snap, table,
            remap_spec_cols(m["partition_spec"], schema),
            sort_within=[zvalue(snap, zorder_by)],
            # honor the caller's file-count target on partitioned tables
            # too (ADVICE r10 #3): range-split hot tuples over
            # ~n_files/n_tuples files instead of one giant file per tuple
            n_files=n_files,
        )
        return commit(
            table,
            files,
            expected_version=v,
            txn_id=f"zorder-v{v}",
            schema=schema,
            stats=collect_file_stats(table, files, stat_cols or zorder_by),
            filesets=[{"files": files, "schema": schema, "seq": v + 1}] if schema else None,
            partition_spec=spec,
            partitions=parts,
            changes={"inserted": [], "deleted": []},
        )
    clustered = (
        snap.withColumn("_z", zvalue(snap, zorder_by))
        .repartitionByRange(n_files, "_z")
        .drop("_z")
    )
    files = stage_files(clustered, table)
    return commit_with_stats(
        spark,
        table,
        files,
        stat_cols or zorder_by,
        expected_version=v,
        txn_id=f"zorder-v{v}",
        # rewrite resolves evolution + folds deletes in (snapshot reads
        # the composed path) — preserve the reader schema, drop deletes
        schema=schema,
        # logically a no-op → explicitly empty change log
        changes={"inserted": [], "deleted": []},
    )


# ---------------------------------------------------------------------------
# registered query
# ---------------------------------------------------------------------------

#: the predicate window the query (and the oracle) both use: one year of
#: ship dates × one octile of the part-key domain (the key domain scales
#: with sf, so the octile is computed from the data — integer-exact on
#: both engines: [ (mx+1)//4, (mx+1)*3//8 - 1 ])
_SHIP_LO, _SHIP_HI = _dt.date(1997, 1, 1), _dt.date(1997, 12, 31)


def _part_window(table: str) -> tuple[int, int]:
    """Part-key octile bounds derived from the MANIFEST stats (max over
    per-file maxima) — planning metadata answers the question, no scan."""
    m = read_manifest(table)
    mx = max(
        s["cols"]["l_partkey"]["max"]
        for s in (m.get("stats") or {}).values()
        if s["cols"].get("l_partkey")
    )
    return (mx + 1) // 4, (mx + 1) * 3 // 8 - 1


def _skip_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process per sf_dir) the Z-ordered demo table: v1
    commits lineitem in arbitrary file layout WITH stats; v2 is the
    Z-order compaction on (l_shipdate, l_partkey).  ``l_shipdate`` is
    stored as DATE (its INT96/timestamp parquet encoding carries no
    footer stats; DATE does — the same reason the real formats store
    partition/stat columns in stats-friendly physical types)."""
    from .registry import load_table

    def build(t: str) -> None:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_partkey",
            F.col("l_shipdate").cast("date").alias("l_shipdate"),
            "l_quantity",
            "l_extendedprice",
        )
        files = stage_files(li.repartition(16), t)
        commit_with_stats(
            spark, t, files, ["l_shipdate", "l_partkey"], expected_version=0,
            txn_id="skip-v1",
        )
        zorder_compact(spark, t, ["l_shipdate", "l_partkey"], n_files=16)

    return materialize_once("skip", sf_dir, build)


@query(
    "q_table_skipping",
    oracle="""
WITH b AS (SELECT MAX(l_partkey) + 1 AS m FROM lineitem)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
         AS revenue,
       CAST(MIN(l_partkey) AS BIGINT) AS min_part,
       CAST(MAX(l_partkey) AS BIGINT) AS max_part
FROM lineitem, b
WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
  AND l_partkey BETWEEN m // 4 AND m * 3 // 8 - 1
""",
    group="sources",
)
def q_table_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping scan over the Z-ordered manifest table: a two-column
    range predicate (one ship-date year × one part-key octile) resolved
    by manifest-side min/max pruning, then an ordinary parquet scan of
    only the surviving files.  The result must equal the full-scan
    filter (the oracle runs one) — pruning is a pure optimization whose
    correctness contract is 'never lose a row'.

    Scale shape: planning cost is O(files) manifest metadata on the
    driver (no Spark job, no data read); the scan touches ~the files a
    year×octile box intersects on the Z-curve instead of the whole
    table.  At 100 TB this IS the query-latency story for any selective
    scan — and the build demonstrates WHY clustering matters: v1 commits
    the same rows in arbitrary layout (every file spans the whole domain
    → stats keep all 16) while the Z-ordered v2 keeps ~2-3 of 16 on the
    same predicate (tests assert both).
    """
    prepare(spark)
    from ..operators.common import dsum

    t = _skip_table(spark, sf_dir)
    p_lo, p_hi = _part_window(t)
    df, _report = scan_pruned(
        spark,
        t,
        {"l_shipdate": (_SHIP_LO, _SHIP_HI), "l_partkey": (p_lo, p_hi)},
    )
    return df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        dsum(F.col("l_extendedprice")).alias("revenue"),
        F.min("l_partkey").cast("bigint").alias("min_part"),
        F.max("l_partkey").cast("bigint").alias("max_part"),
    )
