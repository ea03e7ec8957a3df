"""Streaming CDC apply with merge-on-read deletes (VERDICT r6 #6).

A CDC changelog stream carries inserts (``op='I'``) and delete
tombstones (``op='D'``).  Each micro-batch applies to a
manifest-committed table as TWO transactional commits:

* inserts → ``manifest_table.upsert`` (``txn_id=cdc-up-{epoch}``) — the
  keyed MERGE;
* tombstones → ``manifest_table.delete_keys``
  (``txn_id=cdc-del-{epoch}``) — an equality-delete commit whose cost is
  O(deleted keys), never a table rewrite (the Iceberg v2 delete-file
  shape; see ``manifest_table.delete_keys``).

Exactly-once under foreachBatch's at-least-once replay comes from the
manifest txn guard, per commit: a replayed epoch whose upsert landed but
whose delete crashed re-skips the upsert and applies only the delete —
the two txn ids make the pair of commits idempotent INDEPENDENTLY, so
any crash point resumes correctly (tested by replaying a half-applied
batch).

Scale shape: per micro-batch, the tombstone side writes kilobytes (the
keys) and the table's data files are untouched — at 100 TB this is the
only viable streaming-DELETE path (a rewrite per batch would be a table
scan per batch).  Reads stay one broadcast anti-join per delete key
until compaction folds the deletes in (``read_path.read_table``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import fresh_dir
from ..registry import query
from ..session import prepare
from ..sources.manifest_table import (
    commit,
    delete_keys,
    snapshot,
    stage_files,
    upsert,
)
from ..sources.registry import load_table
from .segments import chronological_segments
from .stateful import await_or_fail


def apply_cdc_batch(batch: DataFrame, epoch: int, table: str, key_col: str) -> None:
    """Apply one CDC micro-batch (columns: ``key_col``, payload columns,
    ``op`` ∈ {'I','D'}) to ``table``.  Upserts first, tombstones second —
    within an epoch a key that is both inserted and deleted ends deleted
    (CDC last-wins for the delete, the conservative reading)."""
    spark = batch.sparkSession
    ups = batch.where(F.col("op") == "I").drop("op")
    if ups.limit(1).count():
        upsert(spark, table, ups, [key_col], txn_id=f"cdc-up-{epoch}")
    dels = batch.where(F.col("op") == "D").select(key_col)
    if dels.limit(1).count():
        delete_keys(spark, table, key_col, dels, txn_id=f"cdc-del-{epoch}")


def start_cdc_delete_sink(
    stream: DataFrame, table: str, key_col: str, checkpoint: str | None = None
):
    """foreachBatch sink applying a CDC changelog (with DELETE tombstones)
    to a manifest table; returns the StreamingQuery."""

    def _apply(batch: DataFrame, epoch: int) -> None:
        apply_cdc_batch(batch, epoch, table, key_col)

    w = stream.writeStream.foreachBatch(_apply).trigger(availableNow=True)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()


_DSUM = "CAST(CAST(SUM(CAST(p AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"


@query(
    "q_stream_deletes",
    oracle=f"""
WITH final AS (
  SELECT o_orderpriority, o_totalprice AS p
  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 6 <> 0
  UNION ALL
  SELECT o_orderpriority, o_totalprice + 1000.0
  FROM orders WHERE o_orderkey % 3 = 1
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_DSUM} AS total
FROM final GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    group="streaming",
)
def q_stream_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC deletes: a changelog whose DELETE tombstones become
    merge-on-read equality-delete commits, applied over three
    chronological micro-batches.  The base table holds the %3==0 orders;
    the stream inserts the %3==1 orders (price +1000) and deletes the
    %6==0 keys.  The final read must equal the oracle's recomputation of
    the end state — which only holds if every epoch's upsert AND delete
    each applied exactly once across batch boundaries and replays (the
    per-commit txn guard; a replayed-epoch test drives the half-applied
    case directly).

    Scale shape in the module docstring: tombstones cost O(keys) per
    batch, data files untouched; the final read is one scan + broadcast
    anti-join."""
    prepare(spark)
    from ..operators.common import dsum

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    k = F.col("o_orderkey")
    table = fresh_dir("anglerfish_cdc_")
    base = orders.where(k % 3 == 0)
    commit(table, stage_files(base, table), expected_version=0, txn_id="cdc-init")

    chg = (
        orders.where(k % 3 == 1)
        .withColumn("op", F.lit("I"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
        .unionByName(orders.where(k % 6 == 0).withColumn("op", F.lit("D")))
    )
    with chronological_segments(spark, chg, ts_col="o_orderkey", n=3) as stream:
        q = start_cdc_delete_sink(stream, table, "o_orderkey")
        await_or_fail(q)

    return (
        snapshot(spark, table)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice")).alias("total"),
        )
        .orderBy("o_orderpriority")
    )
