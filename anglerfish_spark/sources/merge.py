"""Row-level MERGE INTO over the manifest table: the general
matched-update / matched-delete / not-matched-insert statement every
Delta/Iceberg user runs, built on the same commit machinery as
``upsert`` (which is the degenerate merge: update-all-columns +
insert).

Reference parity: the reference never had a table layer (it is a codec
library, ``/root/reference/README.md:8-9``); this is part of the engine
surface the SURVEY's derived plan calls for (scans/sources/sinks group).
The semantics follow Delta Lake's MERGE (clause precedence: a matched
row is tested against WHEN MATCHED DELETE first, then WHEN MATCHED
UPDATE, else carried unchanged) and Iceberg's copy-on-write MERGE
physical shape.

Physical plan — the low-shuffle merge shape (what Delta's
"low shuffle merge" optimization does), because at 100 TB the naive
``target FULL OUTER JOIN source`` shuffles the whole table on the key:

* **the target is never shuffled — and (r9) never scanned whole.**  A
  stats-pruned file probe (``manifest_table._probe_touched_files``)
  finds the data files containing source keys; matched rows = one
  broadcast INNER join over ONLY those files; kept rows in them = one
  broadcast ANTI-join; insert candidates = source anti-joined against
  the (batch-bounded) matched keys.  Each is a pruned scan + broadcast
  hash join — no exchange of table-scale data.
* **clause evaluation is one projection** over the matched join: the
  action column (delete/update/keep) and the new row image are computed
  together, and the batch-bounded matched set is localCheckpoint'ed so
  the join runs ONCE for the survivors, the change images, and the
  matched-key list.
* **the commit-time change log is exact**: deletes log the old images,
  updates log delete-of-old + insert-of-new with NO-OP updates
  cancelled (``exceptAll`` both ways, the ``upsert`` pattern), inserts
  log the new images — so ``table_changes(mode='logged')`` stays
  O(changed rows) over merge commits.

Two physical write strategies (``mode=``), both Iceberg-documented:
file-targeted copy-on-write (default — rewrite ONLY the files the
source keys touch, commit every untouched fileset verbatim) and
merge-on-read (rewrite NOTHING — positional-delete files for matched
old rows + an appended fileset; ``compact_deletes`` folds them later).
The new fileset's sequence number = the new version, so carried
equality-delete groups do not suppress rows this merge re-inserts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import AnglerfishError
from ..memo import materialize_once
from ..registry import query
from ..session import prepare
from .manifest_table import (
    _carry_filesets,
    _merged_partitions,
    _probe_touched_files,
    _restat,
    _stage_with_layout,
    _txn_committed,
    commit,
    current_version,
    delete_groups,
    read_manifest,
    snapshot,
    stage_files,
)


#: mode='auto' switches a merge to merge-on-read when the touched-file
#: probe keeps at least this fraction of the table's data files — the
#: point where "file-targeted" COW stops being targeted (VERDICT r9 #4).
#: The policy lives in manifest_table (shared with upsert's warning);
#: re-exported here for backward compatibility.
from .manifest_table import (  # noqa: E402
    AUTO_MOR_MIN_FILES,
    AUTO_MOR_TOUCHED_FRACTION,
)


class AmbiguousMergeError(AnglerfishError):
    """A TARGET row is matched by more than one source row, so its
    post-merge image depends on evaluation order.  Delta raises the same
    way (DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW) — and, like
    Delta, duplicate source keys that match NO target row are legal: an
    insert-only merge may insert several rows per key (ADVICE r8 low #1;
    the pre-r9 guard refused those too)."""


def merge_into(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    key_cols: list[str],
    when_matched_update: dict[str, str] | None = None,
    when_matched_delete: str | None = None,
    insert_not_matched: bool = True,
    txn_id: str | None = None,
    broadcast_source: bool = True,
    mode: str = "cow",
) -> int:
    """MERGE ``source`` into ``table`` on ``key_cols`` equality.

    * ``when_matched_delete`` — SQL condition over ``t.*`` (target row)
      and ``s.*`` (source row); matched rows satisfying it are deleted.
      Evaluated FIRST (Delta clause order).
    * ``when_matched_update`` — ``{target_col: sql_expr}`` over ``t.*``
      / ``s.*``; matched rows not deleted get those columns replaced
      (unlisted columns keep their target values).  ``None`` = matched
      rows carry through unchanged (insert-only merge).
    * ``insert_not_matched`` — source rows matching no target key are
      inserted (the source must carry every target column).

    Null keys never match (SQL equality), mirroring MERGE ON semantics.
    Duplicate source keys raise :class:`AmbiguousMergeError` before any
    write.  ``broadcast_source=False`` lets Spark pick the join strategy
    for a source too large to broadcast (the target then shuffles — at
    that point the merge IS a table-scale join and there is no cheaper
    correct plan).

    With ``txn_id``, replays of an already-committed merge are no-ops
    (foreachBatch at-least-once → effectively-once), the same guard as
    ``upsert``/``delete_keys``.  Returns the table version after the
    call.

    ``mode`` picks the physical write strategy (same logical result,
    same change log, both Iceberg-documented):

    * ``"cow"`` (default) — **file-targeted copy-on-write** (VERDICT r8
      #1): :func:`manifest_table._probe_touched_files` finds the data
      files whose visible rows contain source keys (stats box prune +
      one broadcast semi-join); ONLY those are rewritten (kept rows +
      clause survivors + inserts as one new fileset at seq = new
      version); every untouched fileset commits VERBATIM.  Pre-r9 this
      staged the full table — 100% write amplification.
    * ``"mor"`` — **merge-on-read** (VERDICT r8 #2): NO data file is
      rewritten.  Matched deleted/updated rows emit a positional-delete
      file at their ``(_fp, _ri)`` identity; updated images + inserts
      append as a new fileset.  Per-commit write cost is O(changed
      rows) exactly — the shape a per-epoch streaming mirror needs —
      at the price of one more broadcast anti-join per read until
      ``compact_deletes`` folds the deletes in.
    * ``"auto"`` — COW unless the touched-file probe fails to prune
      (touched ≥ ``AUTO_MOR_TOUCHED_FRACTION`` of the table's files),
      then MoR (VERDICT r9 #4): a uniform-random key batch's min/max
      box covers the whole table, and COW would silently degrade toward
      a full rewrite — on a key-clustered table the probe keeps COW.
      An EXPLICIT ``mode="cow"`` in the same situation proceeds but
      logs a documented warning."""
    if mode not in ("cow", "mor", "auto"):
        raise AnglerfishError(
            f"merge_into mode must be 'cow', 'mor' or 'auto', got {mode!r}"
        )
    if not key_cols:
        raise AnglerfishError("merge_into requires at least one key column")
    if when_matched_update is None and when_matched_delete is None and not insert_not_matched:
        raise AnglerfishError("merge_into with no clauses would be a no-op")
    v = current_version(table)
    if txn_id is not None and _txn_committed(table, v, txn_id):
        return v

    if v == 0:
        if not insert_not_matched:
            raise FileNotFoundError(
                f"manifest table {table!r} has no committed snapshot and "
                "the merge has no insert clause"
            )
        from .skipping import collect_file_stats

        files = stage_files(source, table)
        return commit(
            table,
            files,
            expected_version=0,
            txn_id=txn_id,
            stats=collect_file_stats(table, files, key_cols),
            changes={"inserted": [{"files": files, "schema": None}], "deleted": []},
        )

    from .read_path import read_table

    m = read_manifest(table, v)
    schema = m.get("schema")
    cols = snapshot(spark, table, v).columns
    if insert_not_matched:
        missing = [c for c in cols if c not in source.columns]
        if missing:
            raise AnglerfishError(
                f"insert clause needs every target column in the source; missing {missing}"
            )
    bad = [c for c in (when_matched_update or {}) if c not in cols]
    if bad:
        raise AnglerfishError(f"update clause names unknown target columns {bad}")

    # file-targeting probe: every matched row lives in a touched file by
    # construction, so both the matched join and (in COW) the rewrite
    # read only those files — the table is never scanned whole, let
    # alone rewritten whole
    keys = source.select(*key_cols).dropDuplicates()
    touched = _probe_touched_files(spark, table, v, keys, key_cols)
    # COW degradation guard (VERDICT r9 #4): when the stats box fails to
    # prune — non-clustered keys — COW approaches a full rewrite.
    # mode='auto' routes to MoR (O(changed rows) regardless of layout);
    # an explicit 'cow' proceeds with a warning so the operator sees the
    # write amplification instead of discovering it in the bill.
    frac = len(touched) / max(1, len(m["files"]))
    if mode == "auto":
        # tiny tables (a handful of files) stay COW: "touched most files"
        # means nothing at that scale and COW leaves no delete debt
        mode = (
            "mor"
            if frac >= AUTO_MOR_TOUCHED_FRACTION
            and len(m["files"]) >= AUTO_MOR_MIN_FILES
            else "cow"
        )
    elif (
        mode == "cow"
        and frac >= AUTO_MOR_TOUCHED_FRACTION
        and len(m["files"]) >= AUTO_MOR_MIN_FILES
    ):
        import warnings

        warnings.warn(
            f"merge_into(mode='cow') on {table!r}: source keys touch "
            f"{len(touched)}/{len(m['files'])} data files "
            f"({frac:.0%}) — the copy-on-write rewrite approaches a full "
            "table rewrite; mode='mor' (or 'auto') writes O(changed rows)",
            stacklevel=2,
        )
    pos_cols = ["_fp", "_ri"] if mode == "mor" else []
    if touched:
        tpart, _ = read_table(
            spark, table, v, only_files=touched, with_positions=bool(pos_cols)
        )
    else:
        tpart = snapshot(spark, table, v).limit(0)
        if pos_cols:
            tpart = tpart.withColumns(
                {"_fp": F.lit(None).cast("string"), "_ri": F.lit(None).cast("bigint")}
            )

    src = F.broadcast(source) if broadcast_source else source
    join_cond = [F.col(f"t.{k}") == F.col(f"s.{k}") for k in key_cols]
    del_cond = F.expr(when_matched_delete) if when_matched_delete else F.lit(False)
    act = F.when(del_cond, F.lit("delete"))
    act = (
        act.when(F.lit(True), F.lit("update"))
        if when_matched_update
        else act.otherwise(F.lit("keep"))
    )

    def new_image(c: str):
        if when_matched_update and c in when_matched_update:
            return F.expr(when_matched_update[c])
        return F.col(f"t.{c}")

    # one projection computes old image + new image + action; the matched
    # set is batch-bounded (≤ |source| rows), so localCheckpoint makes the
    # broadcast join run once for all four consumers below
    matched = (
        tpart.alias("t")
        .join(src.alias("s"), join_cond, "inner")
        .select(
            *[F.col(f"t.{c}").alias(f"_old_{c}") for c in cols],
            *[new_image(c).alias(c) for c in cols],
            *[F.col(f"t.{c}") for c in pos_cols],
            act.alias("_act"),
        )
        .localCheckpoint(eager=True)
    )
    # ambiguity guard (Delta semantics, ADVICE r8 low #1): ambiguous iff
    # a DUPLICATED source key matches at least one target row — duplicate
    # unmatched keys are a legal insert-only merge.  dup_src is one agg
    # over the batch-bounded source; the probe reuses the materialized
    # matched checkpoint, so the target is not rescanned.
    dup_src = (
        source.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > 1)
        .drop("_n")
    )
    dup = (
        matched.select(*[F.col(f"_old_{k}").alias(k) for k in key_cols])
        .join(F.broadcast(dup_src), key_cols, "left_semi")
        .limit(1)
        .count()
    )
    if dup:
        raise AmbiguousMergeError(
            f"merge source matches at least one target row more than once "
            f"on key {key_cols!r}; aggregate the source to one row per key"
        )
    old_of = lambda df: df.select(*[F.col(f"_old_{c}").alias(c) for c in cols])  # noqa: E731
    survivors = matched.where(F.col("_act") != "delete").select(*cols)
    del_old = old_of(matched.where(F.col("_act") == "delete"))
    upd = matched.where(F.col("_act") == "update")
    upd_old, upd_new = old_of(upd), upd.select(*cols)
    matched_keys = old_of(matched).select(*key_cols)

    if insert_not_matched:
        inserts = (
            source.select(*cols)
            .join(F.broadcast(matched_keys), key_cols, "left_anti")
            .localCheckpoint(eager=True)
        )
    else:
        inserts = None

    # change log: no-op updates (new image == old image) cancel via the
    # multiset difference, exactly the upsert pattern
    del_images = del_old.unionByName(upd_old.exceptAll(upd_new))
    ins_images = upd_new.exceptAll(upd_old)
    if inserts is not None:
        ins_images = ins_images.unionByName(inserts)
    changes = {
        "inserted": [{"files": stage_files(ins_images, table), "schema": schema}],
        "deleted": [{"files": stage_files(del_images, table), "schema": schema}],
    }

    if mode == "mor":
        # no data file is rewritten: matched non-keep rows become
        # positional deletes at their physical identity; new images +
        # inserts append as one fileset at seq = new version
        removed = matched.where(F.col("_act") != "keep").selectExpr(
            "_fp AS file", "_ri AS pos"
        )
        # only stage a position file when a matched row is actually
        # removed (ADVICE r9 low): an unconditional stage appends an
        # EMPTY parquet to pos_deletes forever — one useless file read +
        # broadcast anti-join on every subsequent read until
        # compact_deletes.  matched is checkpointed, so the probe is
        # a local count, not a rescan.
        pd_files = stage_files(removed, table) if removed.limit(1).count() else []
        appended = upd_new if inserts is None else upd_new.unionByName(inserts)
        new_files, new_parts = _stage_with_layout(spark, appended, table, m, schema)
        kept_sets, kept_files, kept_stats = _carry_filesets(m, set())
        new_stats = _restat(table, m, new_files, schema, extra_cols=key_cols)
        if new_stats:
            kept_stats = {**(kept_stats or {}), **new_stats}
        return commit(
            table,
            kept_files + new_files,
            expected_version=v,
            txn_id=txn_id,
            schema=schema,
            filesets=kept_sets + [{"files": new_files, "schema": schema, "seq": v + 1}],
            stats=kept_stats,
            delete_groups=delete_groups(m) or None,
            pos_deletes=(m.get("pos_deletes") or []) + pd_files or None,
            partitions=_merged_partitions(m, kept_files, new_parts),
            changes=changes,
        )

    # COW: rewrite ONLY the touched files — their unmatched rows + clause
    # survivors + inserts land as one new fileset; untouched filesets
    # commit verbatim with their seq/schema/stats
    kept_in_touched = tpart.join(
        F.broadcast(source.select(*key_cols)), key_cols, "left_anti"
    ).select(*cols)
    final = kept_in_touched.unionByName(survivors)
    if inserts is not None:
        final = final.unionByName(inserts)
    new_files, new_parts = _stage_with_layout(spark, final, table, m, schema)
    kept_sets, kept_files, kept_stats = _carry_filesets(m, touched)
    new_stats = _restat(table, m, new_files, schema, extra_cols=key_cols)
    if new_stats:
        kept_stats = {**(kept_stats or {}), **new_stats}
    return commit(
        table,
        kept_files + new_files,
        expected_version=v,
        txn_id=txn_id,
        schema=schema,
        filesets=kept_sets + [{"files": new_files, "schema": schema, "seq": v + 1}],
        stats=kept_stats,
        delete_groups=delete_groups(m) or None,
        pos_deletes=m.get("pos_deletes"),
        partitions=_merged_partitions(m, kept_files, new_parts),
        changes=changes,
    )


def _merge_demo_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process per sf_dir) the MERGE demo table: v1 loads
    the %3==0 orders; v2 is a three-clause merge whose source is the
    %4==0 orders at price+500 — matched urgent rows deleted, other
    matched rows re-priced from the source, unmatched source rows
    inserted."""
    from .manifest_table import upsert
    from .registry import load_table

    def build(t: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        cols = ["o_orderkey", "o_totalprice", "o_orderpriority"]
        base = orders.where(F.col("o_orderkey") % 3 == 0).select(*cols)
        upsert(spark, t, base, ["o_orderkey"], txn_id="merge-v1")
        src = orders.where(F.col("o_orderkey") % 4 == 0).select(
            "o_orderkey",
            (F.col("o_totalprice") + F.lit(500.0)).alias("o_totalprice"),
            "o_orderpriority",
        )
        merge_into(
            spark,
            t,
            src,
            ["o_orderkey"],
            when_matched_update={"o_totalprice": "s.o_totalprice"},
            when_matched_delete="s.o_orderpriority = '1-URGENT'",
            insert_not_matched=True,
            txn_id="merge-v2",
        )

    return materialize_once("merge", sf_dir, build)


_DSUM = "CAST(CAST(SUM(CAST(p AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"


@query(
    "q_table_merge",
    oracle=f"""
WITH final AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 500.0
              ELSE o_totalprice END AS p
  FROM orders
  WHERE (o_orderkey % 3 = 0 OR o_orderkey % 4 = 0)
    AND NOT (o_orderkey % 12 = 0 AND o_orderpriority = '1-URGENT')
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_DSUM} AS total
FROM final GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    group="sources",
)
def q_table_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO end-to-end: a table of the %3==0 orders takes a merge
    whose source is the %4==0 orders at price+500 — matched '1-URGENT'
    rows are DELETED (``when_matched_delete``), other matched rows get
    the source price (``when_matched_update``), unmatched source rows
    are INSERTED.  The final state is summarized per priority; the
    oracle recomputes it from ``orders`` arithmetic alone (matched ⟺
    key % 12 == 0, so each clause's effect is a congruence class).

    All three clauses fire on real rows, so a merge that misorders
    clause precedence (delete before update), drops the
    not-matched-by-source remainder, updates the wrong side, or inserts
    matched rows fails the hash.  The physical shape is the low-shuffle
    merge (module docstring): the table-scale side is scanned, never
    shuffled."""
    prepare(spark)
    from ..operators.common import dsum

    t = _merge_demo_table(spark, sf_dir)
    return (
        snapshot(spark, t)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice")).alias("total"),
        )
        .orderBy("o_orderpriority")
    )


def _merge_mor_demo_table(spark: SparkSession, sf_dir: str) -> str:
    """The same three-clause merge history as :func:`_merge_demo_table`
    but applied MERGE-ON-READ: v2 rewrites no data file — matched rows
    mask via positional deletes, new images append."""
    from .manifest_table import upsert
    from .registry import load_table

    def build(t: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        cols = ["o_orderkey", "o_totalprice", "o_orderpriority"]
        base = orders.where(F.col("o_orderkey") % 3 == 0).select(*cols)
        upsert(spark, t, base, ["o_orderkey"], txn_id="mor-v1")
        src = orders.where(F.col("o_orderkey") % 4 == 0).select(
            "o_orderkey",
            (F.col("o_totalprice") + F.lit(500.0)).alias("o_totalprice"),
            "o_orderpriority",
        )
        merge_into(
            spark,
            t,
            src,
            ["o_orderkey"],
            when_matched_update={"o_totalprice": "s.o_totalprice"},
            when_matched_delete="s.o_orderpriority = '1-URGENT'",
            insert_not_matched=True,
            txn_id="mor-v2",
            mode="mor",
        )

    return materialize_once("merge_mor", sf_dir, build)


@query(
    "q_table_merge_mor",
    oracle=f"""
WITH final AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 500.0
              ELSE o_totalprice END AS p
  FROM orders
  WHERE (o_orderkey % 3 = 0 OR o_orderkey % 4 = 0)
    AND NOT (o_orderkey % 12 = 0 AND o_orderpriority = '1-URGENT')
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_DSUM} AS total
FROM final GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    group="sources",
)
def q_table_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO under MERGE-ON-READ (VERDICT r8 #2): the exact
    three-clause history of ``q_table_merge`` — matched urgent rows
    deleted, other matched rows re-priced, unmatched source rows
    inserted — but the write rewrites NO data file: matched old rows
    become positional deletes at their (file, pos) identity and new
    images append as one fileset (tests additionally pin the original
    files byte-identical on disk).  The snapshot summary must equal the
    same oracle as the COW variant, so both physical strategies
    implement one logical MERGE.  Scale shape: write cost O(changed
    rows) exactly; reads pay one broadcast anti-join until
    ``compact_deletes`` folds the state (itself touched-file-only)."""
    prepare(spark)
    from ..operators.common import dsum

    t = _merge_mor_demo_table(spark, sf_dir)
    return (
        snapshot(spark, t)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice")).alias("total"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# registered query r10: clustering restores COW-eligibility (the other
# half of the auto-routing story — SCALE.md #44/#46)
# ---------------------------------------------------------------------------


def _clustered_demo_table(spark: SparkSession, sf_dir: str) -> str:
    """Four-version lifecycle showing the write-side value of
    clustering (once per process per sf_dir):

    * v1 — the %2==0 orders land HASH-partitioned on the key (the
      layout a shuffled ETL job naturally produces): every file spans
      the whole key domain, so every keyed write's stats box covers
      every file.
    * v2 — a key-LOCAL merge (first decile of the key domain,
      price+100) under ``mode="auto"``: the probe keeps all files, so
      the router picks MERGE-ON-READ — no rewrite despite the batch
      touching 10% of the key space.
    * v3 — ``zorder_compact`` on the key: one clustering rewrite (folds
      the v2 delete state in passing).
    * v4 — the same shape of key-local merge (second decile, price+200),
      same ``mode="auto"``: the probe now prunes to the decile's files
      and the router picks file-targeted COPY-ON-WRITE.

    Tests pin the routing (v2 leaves positional deletes, v4 does not)
    and the v4 touch fraction; the registered query checks the final
    contents against orders arithmetic."""
    from .manifest_table import upsert
    from .registry import load_table
    from .skipping import zorder_compact

    def build(t: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        cols = ["o_orderkey", "o_totalprice", "o_orderpriority"]
        base = orders.where(F.col("o_orderkey") % 2 == 0).select(*cols)
        thr = base.agg(F.max("o_orderkey")).first()[0] // 10
        upsert(spark, t, base.repartition(8, "o_orderkey"), ["o_orderkey"], txn_id="cl-v1")

        def decile_source(lo: int, hi: int, bump: float) -> DataFrame:
            return base.where(
                (F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi)
            ).select(
                "o_orderkey",
                (F.col("o_totalprice") + F.lit(bump)).alias("o_totalprice"),
                "o_orderpriority",
            )

        merge_into(
            spark, t, decile_source(-1, thr, 100.0), ["o_orderkey"],  # (-1, thr]: key 0 is even and real
            when_matched_update={"o_totalprice": "s.o_totalprice"},
            insert_not_matched=False, txn_id="cl-v2", mode="auto",
        )
        zorder_compact(spark, t, ["o_orderkey"], n_files=8)
        merge_into(
            spark, t, decile_source(thr, 2 * thr, 200.0), ["o_orderkey"],
            when_matched_update={"o_totalprice": "s.o_totalprice"},
            insert_not_matched=False, txn_id="cl-v4", mode="auto",
        )

    return materialize_once("clustered", sf_dir, build)


@query(
    "q_table_clustered",
    oracle=f"""
WITH thr AS (
  SELECT CAST(FLOOR(MAX(o_orderkey) / 10) AS BIGINT) AS t
  FROM orders WHERE o_orderkey % 2 = 0
),
final AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderkey <= (SELECT t FROM thr) THEN o_totalprice + 100.0
              WHEN o_orderkey <= 2 * (SELECT t FROM thr) THEN o_totalprice + 200.0
              ELSE o_totalprice END AS p
  FROM orders WHERE o_orderkey % 2 = 0
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_DSUM} AS total
FROM final GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    group="sources",
)
def q_table_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering restores COW-eligibility (the second half of the
    auto-routing story, SCALE.md #44/#46): on a hash-layout table a
    key-local merge auto-routes to merge-on-read (the probe can't
    prune), after one ``zorder_compact`` on the key the SAME merge shape
    auto-routes to file-targeted copy-on-write (the probe prunes to the
    batch's deciles).  Both writes, the clustering rewrite, and the
    delete-state fold must compose to exactly the orders arithmetic the
    oracle computes; tests additionally pin which physical route each
    version took and the post-cluster touch fraction."""
    prepare(spark)
    from ..operators.common import dsum
    from .manifest_table import snapshot as _snapshot

    t = _clustered_demo_table(spark, sf_dir)
    return (
        _snapshot(spark, t)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice")).alias("total"),
        )
        .orderBy("o_orderpriority")
    )
