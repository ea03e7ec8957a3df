"""Streaming incremental materialized-view maintenance.

The streaming form of ``operators/history.q_mv_incremental``: a CDC
changelog arrives as a stream, and each micro-batch's retraction deltas
are merged into a manifest-committed MV table via ``foreachBatch`` —
the Flink-style "upsert sink on a changelog" pattern expressed with the
engine's own table layer:

* per batch: roll the batch up to signed per-group deltas
  (`changelog_deltas` — batch-cardinality work only), read the current
  MV snapshot (group-cardinality), merge, and commit the new MV state
  transactionally (`manifest_table.upsert` with ``txn_id=mv-{epoch}``);
* a replayed epoch (foreachBatch's at-least-once) is detected in the
  manifest history and skipped — the MV is effectively-once even though
  the delta merge is NOT idempotent (applying a delta twice would
  double-count, so the txn guard is load-bearing, and a test replays a
  batch to prove it);
* the stored state keeps totals as DECIMAL(38,10), so merges compose
  exactly across any batch split — the final MV equals the one-shot
  batch maintenance (and the full recompute) bit-for-bit.

Scale shape: the stream side never touches base facts; per micro-batch
cost is O(batch) + a group-cardinality table rewrite.  At 100 TB the MV
table is the small side by construction (it's an aggregate); the
changelog is the only thing that scales, and it is consumed once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.history import (
    changelog_deltas,
    mv_build,
    mv_finalize,
    mv_merge,
    orders_changelog,
)
from ..memo import fresh_dir
from ..registry import query
from ..session import prepare
from ..sources.manifest_table import (
    _txn_committed,
    commit,
    current_version,
    snapshot,
    stage_files,
)
from ..sources.registry import load_table
from .segments import chronological_segments
from .stateful import await_or_fail


def start_mv_maintenance_sink(
    stream: DataFrame, mv_table: str, checkpoint: str | None = None
):
    """Maintain the MV at ``mv_table`` from a changelog stream (columns
    ``o_orderpriority, op, o_totalprice``).  Returns the StreamingQuery."""

    def _merge(batch: DataFrame, epoch: int) -> None:
        spark = batch.sparkSession
        txn = f"mv-{epoch}"
        v = current_version(mv_table)
        if _txn_committed(mv_table, v, txn):
            return  # replayed epoch: the delta is already in the MV
        merged = mv_merge(snapshot(spark, mv_table, v), changelog_deltas(batch))
        # full-state commit, not upsert-by-key: a group whose count hits
        # zero must VANISH from the stored MV, not linger as a stale row
        commit(mv_table, stage_files(merged, mv_table), expected_version=v, txn_id=txn)

    w = stream.writeStream.foreachBatch(_merge).trigger(availableNow=True)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()


@query(
    "q_stream_mv",
    oracle="""
WITH final AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderkey % 8 = 0 THEN o_totalprice + 500.0
              ELSE o_totalprice END AS p
  FROM orders WHERE o_orderkey % 4 IN (0, 2, 3)
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(CAST(p AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS total
FROM final GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    group="streaming",
)
def q_stream_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MV maintenance as a REAL streaming job: the CDC
    changelog (same ops as ``q_mv_incremental``) arrives over three
    chronological micro-batch segments; each batch's deltas merge into
    the manifest-committed MV transactionally.  The final MV must equal
    the full recompute over the final state (the oracle) bit-for-bit —
    which only holds if every batch's retractions applied exactly once
    across the batch boundaries (see module docstring; delta merges are
    not idempotent, so the manifest txn guard is doing real work).
    """
    prepare(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    chg = orders_changelog(orders)
    mv_table = fresh_dir("anglerfish_mv_")
    files = stage_files(mv_build(orders.where(F.col("o_orderkey") % 4 != 3)), mv_table)
    commit(mv_table, files, expected_version=0, txn_id="mv-init")
    with chronological_segments(spark, chg, ts_col="o_orderkey", n=3) as stream:
        q = start_mv_maintenance_sink(stream, mv_table)
        await_or_fail(q)
    return mv_finalize(snapshot(spark, mv_table))
