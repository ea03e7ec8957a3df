"""One benchmark run inside its isolated run directory (started by
``run.py``, which owns the directory and the process group).

Prints a detail line (the workload's own numbers, noise readings) and,
last, the result line ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time
import traceback

import tracing
import workloads

#: (module, function, span name) wrapped in the traced run: the public
#: entry points of each engine layer the workloads reach.
WRAPPED = [
    ("anglerfish_spark.schema.parser", "parse_schema", "schema.parse_schema"),
    ("anglerfish_spark.schema.spark_convert", "to_struct_type", "schema.to_struct_type"),
    ("anglerfish_spark.schema.printer", "to_avsc", "schema.to_avsc"),
    ("anglerfish_spark.schema.fingerprint", "schema_fingerprint", "schema.schema_fingerprint"),
    ("anglerfish_spark.codec.decoder", "decode_json", "codec.decode_json"),
    ("anglerfish_spark.functions.avro_binary", "single_object_decode_typed", "functions.single_object_decode_typed"),
    ("anglerfish_spark.sources.registry", "read_parquet", "sources.read_parquet"),
    ("anglerfish_spark.sources.manifest_table", "snapshot", "sources.snapshot"),
    ("anglerfish_spark.sources.manifest_table", "upsert", "sources.upsert"),
    ("anglerfish_spark.sources.merge", "merge_into", "sources.merge_into"),
]

#: engine caches a wrapped call fills on a miss: span name -> (module, attribute)
CACHES = {
    "codec.decode_json": ("anglerfish_spark.codec.decoder", "_DECODE_EXPR_CACHE"),
    "sources.read_parquet": ("anglerfish_spark.sources.registry", "_SCHEMA_CACHE"),
}

SIZES = {
    # workload -> (normal kwargs, tiny kwargs)
    "query_mix": ({"sf": 0.01}, {"sf": 0.001}),
    "decode_bulk": ({"rows": 10_000}, {"rows": 2_000}),
    "schema_churn": ({"per_iteration": 30, "rows": 32}, {"per_iteration": 3, "rows": 8}),
    "table_commits": ({"sf": 0.01, "span": 2_000}, {"sf": 0.002, "span": 400}),
}
CLASSES = {
    "query_mix": workloads.QueryMix,
    "decode_bulk": workloads.DecodeBulk,
    "schema_churn": workloads.SchemaChurn,
    "table_commits": workloads.TableCommits,
}


class Check:
    def __init__(self):
        self.reason: str | None = None

    def fail_if(self, reason) -> None:
        if reason and self.reason is None:
            self.reason = str(reason)


class Bench:
    """State of one run: timed op samples, failures, the tracer."""

    def __init__(self, spark, tracer: tracing.Tracer, data_dir: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.data_dir = data_dir
        self.seed = seed
        self.samples: dict[str, list[float]] = {}
        self.traced_samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.excluded_s = 0.0
        self.gen_s = 0.0

    def _fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what[:300])

    @contextlib.contextmanager
    def op(self, kind: str):
        """One timed op; an exception is counted, not raised."""
        self.attempted += 1
        op_id = self.tracer.new_op()
        t0 = time.perf_counter()
        ok = True
        try:
            with self.tracer.span(f"op.{kind}", op=op_id, kind=kind):
                yield
        except Exception as exc:  # noqa: BLE001 - a failed op counts in error_rate
            ok = False
            self._fail(f"op {kind}: {type(exc).__name__}: {str(exc)[:200]}")
        dt = time.perf_counter() - t0
        if ok:
            bucket = self.traced_samples if self.tracer.enabled else self.samples
            bucket.setdefault(kind, []).append(dt)

    @contextlib.contextmanager
    def check(self, what: str):
        """One output check; a mismatch or an exception is a failure."""
        self.attempted += 1
        chk = Check()
        try:
            yield chk
        except Exception as exc:  # noqa: BLE001 - a failed check counts in error_rate
            chk.fail_if(f"{type(exc).__name__}: {str(exc)[:200]}")
        if chk.reason:
            self._fail(f"check {what}: {chk.reason}")

    @contextlib.contextmanager
    def outside_setup(self):
        """Benchmark-side work (oracles) not counted in ``setup_s``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.excluded_s += time.perf_counter() - t0

    def timed_gen(self, fn, path: str):
        t0 = time.perf_counter()
        out = fn(path)
        self.gen_s += time.perf_counter() - t0
        return out

    def kind_medians(self, traced: bool = False) -> dict[str, float]:
        src = self.traced_samples if traced else self.samples
        return {k: statistics.median(v) for k, v in src.items() if v}

    def op_total_s(self) -> float:
        return sum(self.kind_medians().values())


def start_spark(run_dir: str, trace: bool):
    from pyspark.sql import SparkSession

    from anglerfish_spark.session import configure

    builder = (
        SparkSession.builder.appName("anglerfish-benchmark")
        .master(f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.local.dir", os.path.join(run_dir, "spark-local"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    )
    if trace:
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", os.path.join(run_dir, "events"))
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
        )
    spark = configure(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def noise(spark, run_dir: str) -> dict:
    """Machine-noise readings taken next to the numbers: the empty-job
    floor and bench.py's three engine-independent calibrator jobs, at a
    smaller size."""
    import pandas as pd
    from pyspark.sql import functions as F

    def timed(fn, n: int) -> float:
        ts = []
        for _ in range(n):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return statistics.median(ts)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    # default file splitting, whatever the workload set
    spark.conf.unset("spark.sql.files.openCostInBytes")
    spark.conf.unset("spark.sql.files.minPartitionNum")
    out = {"spark.empty_job_s": timed(lambda: noop(spark.range(1, numPartitions=1)), 3)}
    base = os.path.join(run_dir, "cal.parquet")
    spark.range(10_000).select(
        "id", (F.col("id") % 10_000).alias("k"), F.pmod(F.xxhash64("id"), F.lit(1_000_000)).alias("h")
    ).write.mode("overwrite").parquet(base)
    df = spark.read.parquet(base)

    def fold(batches):
        for pdf in batches:
            yield pd.DataFrame({"s": [int(pdf["h"].sum())], "n": [len(pdf)]})

    a = df.select("k", "h").where(F.col("id") % 2 == 0)
    c = df.select(F.col("k").alias("k2"), F.col("h").alias("h2")).where(F.col("id") % 2 == 1)
    out["cal_scan_agg_s"] = timed(lambda: noop(df.where(F.col("h") % 3 != 0).groupBy(F.col("k") % 1024).agg(F.sum("h"))), 1)
    out["cal_shuffle_join_s"] = timed(lambda: noop(a.join(c.hint("merge"), a.k == c.k2).groupBy(a.k % 64).count()), 1)
    out["cal_arrow_udf_s"] = timed(lambda: noop(df.mapInPandas(fold, "s long, n long").groupBy().sum("s", "n")), 1)
    return out


def traced_round(i: int) -> bool:
    """Rounds alternate untraced/traced in pairs (U T T U U T ...), so a
    workload whose rounds alternate two op kinds sees each kind both ways."""
    return (i + i // 2) % 2 == 1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(CLASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out-dir", required=True)
    args = ap.parse_args()

    t_launch = float(os.environ.get("BENCH_T0", time.time()))
    load_start = os.getloadavg()[0]
    tracer = tracing.Tracer(enabled=False)
    if args.trace:
        tracer.count_py4j()
    t0 = time.perf_counter()
    spark = start_spark(args.run_dir, bool(args.trace))
    session_start_s = time.perf_counter() - t0

    from anglerfish_spark.registry import all_queries

    all_queries()  # load every engine module so the wrappers reach all bindings
    if args.trace:
        for mod, attr, name in WRAPPED:
            tracer.wrap(mod, attr, name, CACHES.get(name))

    data_dir = os.path.join(args.run_dir, "data")
    os.makedirs(data_dir, exist_ok=True)
    b = Bench(spark, tracer, data_dir, args.seed)
    sizes = SIZES[args.workload][1 if args.tiny else 0]
    w = CLASSES[args.workload](**sizes)
    try:
        w.setup(b)
    except Exception as exc:  # noqa: BLE001 - report a broken setup as a failed run
        traceback.print_exc()
        b._fail(f"setup: {type(exc).__name__}: {exc}")
    setup_s = time.time() - t_launch - b.excluded_s

    # the timed loop: whole rounds until the seconds are spent, and at
    # least two, so every per-kind median has two samples whatever the
    # machine's speed
    min_rounds = getattr(w, "traced_min_rounds", 2) if args.trace else getattr(w, "untraced_min_rounds", 2)
    loop_t0 = time.perf_counter()
    i = 0
    while i < min_rounds or time.perf_counter() - loop_t0 < args.seconds:
        tracer.enabled = bool(args.trace) and traced_round(i)
        try:
            w.round(b, i)
        finally:
            tracer.enabled = False
        i += 1
    loop_s = time.perf_counter() - loop_t0
    noise_readings = noise(spark, args.run_dir)
    noise_readings["load1_start"] = load_start
    noise_readings["load1_end"] = os.getloadavg()[0]
    noise_readings["rounds"] = i
    noise_readings["loop_s"] = loop_s

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "setup_s": setup_s,
        "gen_s": b.gen_s,
        "session.start_s": session_start_s,
        "error_rate": b.failed / max(1, b.attempted),
        "kind_medians_s": b.kind_medians(),
        "noise": noise_readings,
        "failures": b.failures,
    }
    detail.update(w.detail(b))

    if args.trace:
        tracer.restore()
        spark.stop()
        import layers

        metrics = layers.per_layer(b, w, args, session_start_s, noise_readings)
        tracer.dump(os.path.join(args.out_dir, f"{args.workload}-seed{args.seed}-spans.json"))
        detail["per_layer"] = metrics
    else:
        spark.stop()
        n_ops = sum(len(v) for v in b.samples.values())
        wall = sum(sum(v) for v in b.samples.values())
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_total_s": {"value": b.op_total_s() if b.samples else 0.0, "unit": "s"},
            "ops_per_s": {"value": n_ops / wall if wall else 0.0, "unit": "1/s"},
        }
    print("DETAIL " + json.dumps(detail, default=str), flush=True)
    print(
        json.dumps(
            {
                "correct": b.failed == 0,
                "attempted": max(1, b.attempted),
                "failed": b.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
