"""The four workloads.  Each is a closed loop with one client: the next op
starts when the previous one has finished.

A workload has ``setup`` (inputs, prebuild, warm-up and output checks),
``round`` (one pass over its op kinds, with the checks of its outputs;
the runner repeats rounds until the run's seconds are spent) and
``detail`` (the workload's own headline numbers).  Engine calls go
through module attributes (``codec.decode_json``, ...) so the traced
run's wrappers see them.
"""

from __future__ import annotations

import contextlib
import json
import os
import struct

import gen
import oracle

#: query_mix: registry queries covering the operators, streaming, codec,
#: functions and sources layers.  The rest of bench.py's headline set is
#: left out to keep a run near one minute: every query adds its one-time
#: prebuild to setup, and the composed curation run, the OCF datasource
#: and the table feed cost the most.
QUERY_MIX = [
    "q1_pricing_summary",
    "q_window_running",
    "q_session",
    "json_decode_strict",
    "q_stream_decode",
    "q_dedup_minhash_lsh",
    "q_multimodal_jpeg_decode",
    "q_table_composed",
]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def query_layer(fn) -> str:
    """Engine layer (package under ``anglerfish_spark``) defining ``fn``."""
    parts = fn.__module__.split(".")
    return parts[1] if len(parts) > 1 else parts[0]


class QueryMix:
    name = "query_mix"

    def __init__(self, sf: float):
        self.sf = sf
        self.names = list(QUERY_MIX)

    def setup(self, b) -> None:
        from anglerfish_spark.registry import all_queries

        self.sf_dir = os.path.join(b.data_dir, "sf")
        b.timed_gen(lambda d: gen.write_star(d, b.seed, self.sf), self.sf_dir)
        self.qs = all_queries()
        con = oracle.connect(self.sf_dir, gen.TABLES)
        # prebuild: one untimed pass that also builds every one-time asset
        # (indexes, stand-in inputs), collecting each result for its oracle
        for name in self.names:
            qd = self.qs[name]
            with b.check(f"{name}: oracle") as chk:
                df = qd.fn(b.spark, self.sf_dir)
                cols, rows = list(df.columns), [tuple(r) for r in df.collect()]
                with b.outside_setup():
                    chk.fail_if(qd.oracle and oracle.compare(cols, rows, con, qd.oracle))
                    chk.fail_if(not qd.oracle and not rows and "no rows")
        con.close()

    def round(self, b, i: int) -> None:
        k = (b.seed * 7 + i * 5) % len(self.names)
        for name in self.names[k:] + self.names[:k]:
            qd = self.qs[name]
            with b.op(name):
                with b.tracer.span(f"{query_layer(qd.fn)}.query"):
                    df = qd.fn(b.spark, self.sf_dir)
                with b.tracer.span("spark.execute"):
                    _noop(df)

    def detail(self, b) -> dict:
        return {"query_total_s": b.op_total_s()}


class DecodeBulk:
    """Each op decodes every schema's rows and folds the decoded values
    into an aggregate (row count, checksum, flagged rows) that is checked
    against the generator's, so every timed op's output is verified."""

    name = "decode_bulk"
    untraced_min_rounds = 3

    def __init__(self, rows: int):
        self.rows = rows

    def setup(self, b) -> None:
        from pyspark.sql import functions as F

        from anglerfish_spark import codec
        from anglerfish_spark.sources import registry

        path = os.path.join(b.data_dir, "bulk.parquet")
        self.expect = b.timed_gen(lambda p: gen.write_bulk(p, b.seed, self.rows), path)
        self.schemas = [json.dumps(s) for s in gen.BULK_SCHEMAS[: len(self.expect["rows"])]]
        # read the one input file as exactly two tasks: both decoders run
        # in parallel, and half the cores stay free for the driver, GC and
        # the Python workers' own threads, which keeps the run-to-run
        # spread of this CPU-bound workload down on a 4-core machine
        b.spark.conf.set("spark.sql.files.openCostInBytes", "0")
        b.spark.conf.set("spark.sql.files.minPartitionNum", "2")
        base = registry.read_parquet(b.spark, path)
        self.parts = [base.where(F.col("schema_id") == k) for k in range(len(self.schemas))]
        self.round(b, -1, timed=False)  # warm-up: every plan compiled, every cache filled
        with b.check("strict decode raises on a poisoned row") as chk:
            bad = base.where(F.col("json") != F.col("dirty")).limit(1)
            try:
                _noop(codec.decode_json(bad, "dirty", self.schemas[int(bad.first()["schema_id"])], mode="strict"))
                chk.fail_if("no error raised")
            except Exception as exc:  # noqa: BLE001 - the raise is the expected outcome
                chk.fail_if("strict decode failed" not in str(exc) and f"unexpected error {type(exc).__name__}")

    def _decode(self, kind: str, k: int):
        from pyspark.sql import functions as F

        from anglerfish_spark import codec
        from anglerfish_spark.functions import avro_binary

        sj, schema = self.schemas[k], gen.BULK_SCHEMAS[k]
        if kind == "avro_typed":
            df = self.parts[k].select("json", "dirty", avro_binary.single_object_decode_typed("so", sj).alias("decoded"))
        elif kind == "json_strict":
            df = codec.decode_json(self.parts[k], "json", sj, mode="strict")
        else:
            df = codec.decode_json(self.parts[k], "dirty", sj, mode="permissive")
        # the full-struct hash forces every field to be decoded and ties
        # the three decoders' outputs together; rows left clean in `dirty`
        # get their own hash sum, comparable across all three
        clean = F.size("_errors") == 0 if kind == "json_permissive" else F.col("json") == F.col("dirty")
        # a Generate barrier, so the decode tree is evaluated once per row
        # and not inlined into every aggregate that reads a field of it
        staged = df.select(F.explode(F.array(F.struct(F.col("decoded").alias("d"), clean.alias("c")))).alias("b"))
        d, c = F.col("b.d"), F.col("b.c")
        h = F.pmod(F.xxhash64(F.to_json(d)), F.lit(2**31 - 1))
        return staged.select(
            F.count(F.when(c, 1)),
            F.sum(F.when(c, checksum_expr(schema, d))),
            F.sum(F.when(c, h)),
            F.count(F.when(~c, 1)),
            F.sum(checksum_expr(schema, d)) if kind != "json_permissive" else F.lit(None),
        )

    def round(self, b, i: int, timed: bool = True) -> None:
        e = self.expect
        got: dict[str, list[tuple]] = {}
        for kind in ("json_strict", "json_permissive", "avro_typed"):
            rows = got.setdefault(kind, [])
            with b.op(kind) if timed else contextlib.nullcontext():
                for k in range(len(self.schemas)):
                    df = self._decode(kind, k)
                    with b.tracer.span("spark.execute", of="functions" if kind == "avro_typed" else "codec"):
                        rows.append(tuple(df.first()))
        for k in range(len(self.schemas)):
            clean = (e["rows"][k] - e["poisoned"][k], e["clean_checksum"][k])
            with b.check(f"decode_bulk outputs s{k}") as chk:
                for kind, rows in got.items():
                    if len(rows) <= k:
                        continue  # the op failed and is counted already
                    n, cs, h, n_bad, total = rows[k]
                    chk.fail_if((n, cs) != clean and f"{kind}: clean rows {(n, cs)}, want {clean}")
                    chk.fail_if(n_bad != e["poisoned"][k] and f"{kind}: {n_bad} rows flagged, {e['poisoned'][k]} poisoned")
                    chk.fail_if(kind != "json_permissive" and total != e["checksum"][k] and f"{kind}: checksum {total}, want {e['checksum'][k]}")
                hashes = {kind: rows[k][2] for kind, rows in got.items() if len(rows) > k}
                chk.fail_if(len(set(hashes.values())) > 1 and f"decoders disagree on clean rows: {hashes}")

    def detail(self, b) -> dict:
        med = b.kind_medians()
        out = {}
        if "json_strict" in med and "json_permissive" in med:
            out["json_decode_rows_per_s"] = 2 * self.rows / (med["json_strict"] + med["json_permissive"])
        if "avro_typed" in med:
            out["avro_decode_rows_per_s"] = self.rows / med["avro_typed"]
        return out


def checksum_expr(t: dict, c):
    """Spark mirror of :func:`gen.bulk_checksum` over a decoded record
    column: one reference per top-level field, no lambdas, so it adds
    little to the decode plan."""
    from pyspark.sql import functions as F

    names = gen.named_types(t)
    total = F.lit(0).cast("long")
    for f in t["fields"]:
        ft, x = f["type"], c[f["name"]]
        if isinstance(ft, list):
            ft = ft[1]
        if isinstance(ft, str) and ft in names:
            ft = names[ft]
        if ft in ("long", "int"):
            term = x.cast("long") + 1
        elif isinstance(ft, dict) and ft["type"] in ("array", "map"):
            term = F.size(x).cast("long")
        else:
            term = F.lit(1).cast("long")
        total = total + F.when(x.isNull(), 0).otherwise(term)
    return total


class SchemaChurn:
    name = "schema_churn"

    def __init__(self, per_iteration: int, rows: int):
        self.per_iteration = per_iteration
        self.rows = rows
        self.iteration = -1
        self.pending: list = []

    def _refill(self, b) -> None:
        from pyspark.sql import functions as F

        from anglerfish_spark.sources import registry

        self.iteration += 1
        path = os.path.join(b.data_dir, f"churn{self.iteration}.parquet")
        batch = gen.churn_batch(path, b.seed, self.iteration, self.per_iteration, self.rows)
        df = registry.read_parquet(b.spark, path)
        self.pending = [(s, df.where(F.col("schema_id") == k)) for k, s in enumerate(batch)]

    def setup(self, b) -> None:
        b.timed_gen(lambda _: self._refill(b), b.data_dir)
        # warm-up on one schema: JVM code paths, not caches (every later
        # schema is new)
        self.round(b, -1, timed=False)

    def round(self, b, i: int, timed: bool = True) -> None:
        """One fresh schema through every schema-layer call, a strict
        decode and a noop write; then its outputs are checked: fingerprint
        against the generator's, the avsc round trip, the struct's field
        names and every decoded value."""
        from anglerfish_spark import codec, schema
        from anglerfish_spark.schema import fingerprint

        if not self.pending:
            self._refill(b)
        s, part = self.pending.pop()
        sj = s["json"]
        res = {}
        with b.op("schema") if timed else contextlib.nullcontext():
            p = schema.parse_schema(sj)
            res["struct"] = schema.to_struct_type(p.root, p.env)
            res["avsc"] = schema.to_avsc(p.root)
            res["fp"] = fingerprint.schema_fingerprint(sj)
            df = codec.decode_json(part, "json", sj, mode="strict")
            with b.tracer.span("spark.execute", of="codec"):
                _noop(df)
            res["df"] = df
        if "df" not in res:
            return  # the op failed and is counted already
        with b.check(f"schema {s['schema']['name']}") as chk:
            fp = struct.pack("<Q", s["fingerprint"])
            chk.fail_if(res["fp"] != fp and "fingerprint differs from the generator's")
            chk.fail_if(fingerprint.schema_fingerprint(res["avsc"]) != fp and "to_avsc round trip changed the schema")
            names = [f["name"] for f in s["schema"]["fields"]]
            chk.fail_if(list(res["struct"].fieldNames()) != names and "struct field names differ")
            rows = res["df"].select("decoded").collect()
            got = sorted(json.dumps(r["decoded"].asDict(recursive=True), sort_keys=True) for r in rows)
            want = sorted(json.dumps(d, sort_keys=True) for d in s["datums"])
            chk.fail_if(got != want and f"{sum(g != w for g, w in zip(got, want))} decoded rows differ")

    def detail(self, b) -> dict:
        n = len(b.samples.get("schema", []))
        return {"schemas_per_s": n / sum(b.samples["schema"])} if n else {}


class TableCommits:
    name = "table_commits"
    #: rounds alternate upsert and merge_into, so a traced run needs four
    #: rounds to trace each kind once (see worker.traced_round)
    traced_min_rounds = 4

    def __init__(self, sf: float, span: int):
        self.sf = sf
        self.span = span
        self.model: dict[int, tuple[int, str]] = {}
        self.commit_stats: list[dict] = []
        self.n_commits = 0

    def setup(self, b) -> None:
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from anglerfish_spark.sources import manifest_table, registry

        sf_dir = os.path.join(b.data_dir, "sf")
        b.timed_gen(lambda d: gen.write_star(d, b.seed, self.sf), sf_dir)
        self.table = os.path.join(b.data_dir, "orders_table")
        orders = pq.read_table(os.path.join(sf_dir, "orders.parquet"), columns=["o_orderkey", "o_totalprice", "o_orderpriority"])
        for k, p, pr in zip(*(orders[c].to_pylist() for c in orders.column_names)):
            self.model[k] = (round(p * 100), pr)
        self.key_space = len(orders) + self.span // 2
        src = registry.read_parquet(b.spark, os.path.join(sf_dir, "orders.parquet")).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        manifest_table.upsert(b.spark, self.table, src.repartitionByRange(8, F.col("o_orderkey")), ["o_orderkey"])
        # one upsert + one merge cycle as warm-up (their reads are checked too)
        self.round(b, -2, timed=False)
        self.round(b, -1, timed=False)

    def _model_agg(self) -> list[tuple]:
        agg: dict[str, list[int]] = {}
        for cents, prio in self.model.values():
            a = agg.setdefault(prio, [0, 0])
            a[0] += 1
            a[1] += cents
        return sorted((p, n, c) for p, (n, c) in agg.items())

    def _read(self, b) -> list[tuple]:
        from pyspark.sql import functions as F

        from anglerfish_spark.sources import manifest_table

        rows = (
            manifest_table.snapshot(b.spark, self.table)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)), F.sum(F.round(F.col("o_totalprice") * 100).cast("long")))
            .collect()
        )
        return sorted(tuple(r) for r in rows)

    def _files(self) -> set[str]:
        from anglerfish_spark.sources import manifest_table

        return set(manifest_table.read_manifest(self.table)["files"])

    def round(self, b, i: int, timed: bool = True) -> None:
        from anglerfish_spark.sources import manifest_table, merge, registry

        idx = self.n_commits
        self.n_commits += 1
        path = os.path.join(b.data_dir, f"batch{idx}.parquet")
        batch = gen.commit_batch(path, b.seed, idx, self.key_space, self.span)
        src = registry.read_parquet(b.spark, path)
        before = self._files()
        kind = "upsert" if idx % 2 == 0 else "merge_into"
        with b.op(kind) if timed else contextlib.nullcontext():
            if kind == "upsert":
                manifest_table.upsert(b.spark, self.table, src, ["o_orderkey"])
            else:
                merge.merge_into(
                    b.spark,
                    self.table,
                    src,
                    ["o_orderkey"],
                    when_matched_update={"o_totalprice": "s.o_totalprice", "o_orderpriority": "s.o_orderpriority"},
                    when_matched_delete="s.o_orderpriority = '1-URGENT'",
                    insert_not_matched=True,
                    mode="cow",
                )
        for k, cents, prio in zip(batch["keys"].tolist(), batch["cents"].tolist(), batch["prio"]):
            if kind == "merge_into" and k in self.model and prio == "1-URGENT":
                del self.model[k]
            else:
                self.model[k] = (cents, prio)
        after = self._files()
        new = after - before
        if timed:
            self.commit_stats.append(
                {
                    "files_rewritten": len(before - after),
                    "bytes_written_per_batch_byte": sum(os.path.getsize(os.path.join(self.table, f)) for f in new)
                    / os.path.getsize(path),
                }
            )
        got = None
        with b.op("read_after_commit") if timed else contextlib.nullcontext():
            got = self._read(b)
        if got is not None:
            with b.check(f"snapshot after commit {idx}") as chk:
                chk.fail_if(got != self._model_agg() and "snapshot aggregate differs from the model")

    def storage_ratio(self) -> float:
        """Bytes under the table directory per byte of the live snapshot's files."""
        live = sum(os.path.getsize(os.path.join(self.table, f)) for f in self._files())
        total = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.table) for f in fs
        )
        return total / live

    def detail(self, b) -> dict:
        import statistics

        commits = b.samples.get("upsert", []) + b.samples.get("merge_into", [])
        out = {}
        if commits:
            out["commit_p50_s"] = statistics.median(commits)
        if b.samples.get("read_after_commit"):
            out["read_after_commit_p50_s"] = statistics.median(b.samples["read_after_commit"])
        return out
