"""Write–Audit–Publish over the manifest table: stage an append
invisibly, validate the CANDIDATE snapshot through the normal read
path, then publish it as an atomic commit — the Iceberg WAP pattern
(``spark.wap.id`` / branch-and-fast-forward) and Databricks' staging
tables, re-expressed on this engine's manifest protocol.

Why a separate surface instead of "just commit and roll back":
a rollback is a NEW commit — downstream consumers (the change feed,
``manifest_feed`` streams, time travel) observe the bad data and its
retraction forever.  WAP keeps unaudited data out of the history
entirely: staged files are ordinary invisible data files (the same
staging ``commit`` relies on) plus one O_EXCL ref file naming them, so

* readers of the table never see staged rows (nothing references them);
* the AUDITOR sees exactly the candidate snapshot — current table ∪
  staged batch — through :func:`audit_staged`, so audit queries are
  ordinary DataFrame queries;
* :func:`publish_staged` turns the ref into a real append commit
  (idempotent via txn id; an append rebases cleanly over ANY concurrent
  commit, per the ``commit_rebased`` matrix — the staged fileset gets
  the publish-time seq, so equality deletes that landed while auditing
  do not suppress it);
* :func:`drop_staged` abandons the candidate — the ref disappears, and
  ``vacuum`` reclaims the data files (which honors live refs: a staged
  batch under audit is never garbage-collected).

Scale: staging writes the batch once; audit adds zero copies (a union
of two scans); publish is one manifest write — no data moves at
publish time, which is the entire point at 100 TB (the audit can take
hours while writers keep committing; publish is still O(manifest)).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import read_parquet

from ..errors import AnglerfishError
from ..memo import fresh_dir
from ..registry import query
from ..session import prepare
from .manifest_table import (
    _MANIFEST_DIR,
    _txn_committed,
    commit,
    current_version,
    delete_groups,
    read_manifest,
    snapshot,
    stage_files,
)

_STAGED_PREFIX = "staged-"


def _ref_path(table: str, name: str) -> str:
    if not name or "/" in name or name.startswith("."):
        raise AnglerfishError(f"invalid staged-ref name {name!r}")
    return os.path.join(table, _MANIFEST_DIR, f"{_STAGED_PREFIX}{name}.json")


def stage_append(spark: SparkSession, table: str, batch: DataFrame, name: str) -> str:
    """Write ``batch`` as staged files and record them under ``name``.
    Invisible to every reader until :func:`publish_staged`; a second
    stage under the same name raises (drop it first)."""
    v = current_version(table)
    if v == 0:
        raise FileNotFoundError(
            f"manifest table {table!r} has no committed snapshot to stage onto"
        )
    m = read_manifest(table, v)
    schema = m.get("schema")
    if schema is not None:
        from ..schema.parser import parse_schema

        expected = [f.name for f in parse_schema(schema).root.fields]
        if sorted(batch.columns) != sorted(expected):
            raise AnglerfishError(
                f"staged batch columns {sorted(batch.columns)} != table "
                f"schema fields {sorted(expected)}; evolve via append_evolved"
            )
        batch = batch.select(*expected)
    parts = None
    spec_id = None
    if m.get("partition_spec"):
        # a partitioned table stages THROUGH its spec so the published
        # fileset carries partition tuples (otherwise the batch would
        # permanently escape partition pruning — conservative but lossy)
        from .partitioning import remap_spec_cols, stage_files_partitioned

        files, parts, _spec = stage_files_partitioned(
            spark, batch, table, remap_spec_cols(m["partition_spec"], schema)
        )
        # the tuples were produced by the STAGE-time default spec: record
        # its id so publish stamps the fileset under it even if the spec
        # evolves between stage and publish (a tuple interpreted under a
        # later spec's transforms would silently misprune)
        spec_id = m.get("default_spec_id", 0)
    else:
        files = stage_files(batch, table)
    ref = {
        "name": name,
        "files": files,
        "schema": schema,
        "base_version": v,
        "created_at_ms": int(time.time() * 1000),
        "wap_id": uuid.uuid4().hex,
        "partitions": parts,
        "spec_id": spec_id,
    }
    path = _ref_path(table, name)
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError as ex:
        raise AnglerfishError(
            f"staged ref {name!r} already exists on {table!r}; "
            "publish or drop it first"
        ) from ex
    try:
        os.write(fd, json.dumps(ref).encode())
        os.fsync(fd)
    finally:
        os.close(fd)
    return name


def staged_refs(table: str) -> dict[str, dict]:
    """All live staged refs on ``table`` (name → ref payload).  A torn/
    unparseable ref file is warned about and skipped (ADVICE r8 low #4):
    its file list is unrecoverable so the candidate can never be
    published anyway — its staged data ages into vacuum-able orphans
    (``vacuum``'s mtime grace keeps any in-flight writer safe)."""
    import warnings

    mdir = os.path.join(table, _MANIFEST_DIR)
    out: dict[str, dict] = {}
    if not os.path.isdir(mdir):
        return out
    for f in os.listdir(mdir):
        if f.startswith(_STAGED_PREFIX) and f.endswith(".json"):
            try:
                with open(os.path.join(mdir, f)) as fh:
                    ref = json.load(fh)
                out[ref["name"]] = ref
            except (json.JSONDecodeError, KeyError) as ex:
                warnings.warn(
                    f"skipping unparseable staged ref {f!r} on {table!r}: {ex}",
                    stacklevel=2,
                )
    return out


def _read_ref(table: str, name: str) -> dict:
    path = _ref_path(table, name)
    if not os.path.exists(path):
        raise AnglerfishError(f"no staged ref {name!r} on {table!r}")
    with open(path) as fh:
        return json.load(fh)


def audit_staged(spark: SparkSession, table: str, name: str) -> DataFrame:
    """The CANDIDATE snapshot: the current table (deletes, evolution,
    everything the composed read path applies) plus the staged batch —
    exactly what the table will contain after :func:`publish_staged`
    (the staged fileset's publish-time seq exempts it from existing
    delete groups, so a plain union is the correct candidate)."""
    ref = _read_ref(table, name)
    staged = read_parquet(spark, *[os.path.join(table, f) for f in ref["files"]])
    return snapshot(spark, table).unionByName(staged)


def publish_staged(spark: SparkSession, table: str, name: str) -> int:
    """Atomically append the staged batch: one manifest write, no data
    movement.  Idempotent (a crash between commit and ref cleanup is
    healed by re-running publish: the txn id is detected and only the
    ref is removed).  Concurrent commits since staging are fine —
    appends merge onto anything (``commit_rebased`` matrix); the staged
    fileset is stamped with the PUBLISH-time seq."""
    from .manifest_table import ConcurrentCommitError

    ref = _read_ref(table, name)
    txn = f"wap-publish-{ref['wap_id']}"
    for _ in range(5):
        v = current_version(table)
        if _txn_committed(table, v, txn):
            os.remove(_ref_path(table, name))
            return v
        m = read_manifest(table, v)
        prior = m.get("filesets") or (
            [{"files": m["files"], "schema": m.get("schema")}] if m["files"] else []
        )
        schema = m.get("schema")
        staged_fs = {"files": ref["files"], "schema": ref["schema"] or schema, "seq": v + 1}
        if ref.get("spec_id") is not None:
            # stamp the STAGE-time spec id (see stage_append): the spec
            # history is append-only, so the id still names the spec the
            # tuples were written under even after an evolution
            staged_fs["spec_id"] = ref["spec_id"]
        filesets = prior + [staged_fs]
        # carried tuples + the staged batch's stage-time tuples (absent
        # for a ref staged before the table had a spec: those files are
        # conservatively kept by the read path, never mispruned)
        partitions = (
            {**(m.get("partitions") or {}), **ref["partitions"]}
            if ref.get("partitions")
            else None
        )
        try:
            nv = commit(
                table,
                [f for fs in filesets for f in fs["files"]],
                expected_version=v,
                txn_id=txn,
                schema=schema,
                filesets=filesets,
                stats=m.get("stats"),
                partitions=partitions,
                delete_groups=delete_groups(m) or None,
                pos_deletes=m.get("pos_deletes"),
                changes={
                    "inserted": [{"files": ref["files"], "schema": ref["schema"] or schema}],
                    "deleted": [],
                },
            )
        except ConcurrentCommitError:
            continue  # CAS loser: re-read and retry (append always merges)
        os.remove(_ref_path(table, name))
        return nv
    raise ConcurrentCommitError(
        f"publish of staged ref {name!r} lost the version CAS 5 times"
    )


def drop_staged(table: str, name: str) -> None:
    """Abandon the candidate: remove the ref (``vacuum`` reclaims the
    now-unreferenced data files)."""
    os.remove(_ref_path(table, name))


_DSUM = "CAST(CAST(SUM(CAST(p AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"


@query(
    "q_table_wap",
    oracle=f"""
WITH v1 AS (SELECT o_totalprice AS p FROM orders WHERE o_orderkey % 3 = 0),
cand AS (
  SELECT o_totalprice AS p FROM orders WHERE o_orderkey % 3 IN (0, 2)
)
SELECT 'audit' AS phase, CAST(COUNT(*) AS BIGINT) AS n_rows, {_DSUM} AS total FROM cand
UNION ALL
SELECT 'main_before', CAST(COUNT(*) AS BIGINT), {_DSUM} FROM v1
UNION ALL
SELECT 'published', CAST(COUNT(*) AS BIGINT), {_DSUM} FROM cand
ORDER BY phase
""",
    group="sources",
)
def q_table_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write–Audit–Publish end-to-end: a fresh table of the %3==0
    orders stages the %3==2 rows, and the query summarizes three
    phases — the MAIN table while the batch is staged (must NOT see
    it), the AUDIT view (must see the candidate = both), and the table
    after publish (one manifest write, no data rewrite).  A staging
    layer that leaks unpublished rows into main, audits the wrong
    candidate, or loses rows at publish fails the hash.

    Built fresh per invocation (cheap: two scans of one congruence
    class) so the pre-publish phase is genuinely observed each run —
    caching a published table would erase the distinction this query
    exists to pin."""
    prepare(spark)
    from ..operators.common import dsum
    from .manifest_table import upsert
    from .registry import load_table

    def summarize(phase: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(phase).alias("phase"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice")).alias("total"),
        )

    t = fresh_dir("anglerfish_wap_")
    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_totalprice", "o_orderpriority"]
    upsert(spark, t, orders.where(F.col("o_orderkey") % 3 == 0).select(*cols),
           ["o_orderkey"], txn_id="wap-v1")
    stage_append(spark, t, orders.where(F.col("o_orderkey") % 3 == 2).select(*cols),
                 "audit-batch")
    before = summarize("main_before", snapshot(spark, t))
    audit = summarize("audit", audit_staged(spark, t, "audit-batch"))
    # phases are materialized BEFORE publish mutates the table: a lazy
    # plan evaluated afterwards would read post-publish state
    out = before.unionByName(audit).localCheckpoint(eager=True)
    publish_staged(spark, t, "audit-batch")
    return out.unionByName(summarize("published", snapshot(spark, t))).orderBy("phase")
