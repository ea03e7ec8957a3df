"""Per-layer metrics of a traced run, derived from its spans and Spark's
event log.

Counts and times of an op are summed over the op's subtree.  A metric
"per round" is, for each op kind, the median over that kind's traced ops,
summed over kinds (the same reduction as ``op_total_s``), so it repeats
across runs that did a different number of rounds.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

import tracing
from workloads import QUERY_MIX

#: layer -> span-name prefix; a span's self time is charged to its layer
SELF_LAYERS = ["operators", "streaming", "codec", "schema", "functions", "sources", "spark"]

#: (name, unit) of every per-layer metric; BENCHMARK.json lists the same
METRICS: list[tuple[str, str]] = [
    ("session.start_s", "s"),
    ("driver.py4j_cmds", "count"),
    ("driver.gap_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.sched_delay_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.python_bytes", "bytes"),
    ("spark.python_run_s", "s"),
    ("spark.empty_job_s", "s"),
    ("trace.overhead_ratio", "ratio"),
    *[(f"{layer}.self_s", "s") for layer in SELF_LAYERS],
    ("schema.parse_ms", "ms"),
    ("schema.to_struct_type_ms", "ms"),
    ("schema.to_avsc_ms", "ms"),
    ("schema.fingerprint_ms", "ms"),
    ("codec.construct_s", "s"),
    ("codec.construct_py4j_cmds", "count"),
    ("codec.cache_hit_ratio", "ratio"),
    ("codec.execute_s", "s"),
    ("functions.avro_decode_s", "s"),
    ("sources.upsert_s", "s"),
    ("sources.merge_into_s", "s"),
    ("sources.files_rewritten", "count"),
    ("sources.bytes_written_per_batch_byte", "ratio"),
    ("sources.table_bytes_per_live_byte", "ratio"),
    ("sources.read_parquet_ms", "ms"),
    ("sources.read_parquet_cache_hit_ratio", "ratio"),
    ("sources.snapshot_construct_ms", "ms"),
    *[(f"{q}.{m}", u) for q in QUERY_MIX for m, u in (("construct_s", "s"), ("execute_s", "s"), ("jobs", "count"))],
]


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_round(values: dict[int, float], kind_of: dict[int, str]) -> float:
    by_kind: dict[str, list[float]] = defaultdict(list)
    for op, v in values.items():
        by_kind[kind_of[op]].append(v)
    return sum(statistics.median(v) for v in by_kind.values())


def per_layer(b, w, args, session_start_s: float, noise: dict) -> dict:
    spans = b.tracer.spans
    ops = {s.op: s for s in spans if s.name.startswith("op.")}
    kind_of = {op: s.attrs["kind"] for op, s in ops.items()}
    log = tracing.find_event_log(os.path.join(args.run_dir, "events"))
    jobs, stages = tracing.read_event_log(log) if log else ({}, {})
    tracing.attribute_jobs(jobs, spans)
    op_jobs: dict[int, list[tracing.Job]] = defaultdict(list)
    span_jobs: dict[int, int] = defaultdict(int)
    for j in jobs.values():
        if j.op in ops:
            op_jobs[j.op].append(j)
            span_jobs[j.span] += 1

    def stage_sum(op: int, attr: str) -> float:
        seen = {sid for j in op_jobs[op] for sid in j.stages if sid in stages}
        return sum(getattr(stages[sid], attr) for sid in seen)

    out: dict[str, float] = {name: 0.0 for name, _ in METRICS}
    out["session.start_s"] = session_start_s
    out["spark.empty_job_s"] = noise["spark.empty_job_s"]
    if ops:
        out["driver.py4j_cmds"] = per_round({op: s.py4j for op, s in ops.items()}, kind_of)
        out["spark.jobs"] = per_round({op: len(op_jobs[op]) for op in ops}, kind_of)
        out["spark.stages"] = per_round(
            {op: len({sid for j in op_jobs[op] for sid in j.stages if sid in stages}) for op in ops}, kind_of
        )
        for name, attr in (
            ("spark.tasks", "tasks"),
            ("spark.executor_run_s", "run_s"),
            ("spark.executor_cpu_s", "cpu_s"),
            ("spark.gc_s", "gc_s"),
            ("spark.sched_delay_s", "sched_delay_s"),
            ("spark.shuffle_read_bytes", "shuffle_read"),
            ("spark.shuffle_write_bytes", "shuffle_write"),
            ("spark.spill_bytes", "spill"),
            ("spark.python_bytes", "python_bytes"),
            ("spark.python_run_s", "python_run_s"),
        ):
            out[name] = per_round({op: stage_sum(op, attr) for op in ops}, kind_of)
        out["driver.gap_s"] = per_round(
            {
                op: s.dur - tracing.covered([(j.submit, j.end) for j in op_jobs[op]], s.start, s.end)
                for op, s in ops.items()
            },
            kind_of,
        )
        self_t = tracing.self_times(spans)
        for layer in SELF_LAYERS:
            vals = {op: 0.0 for op in ops}
            for s in spans:
                if s.op in vals and s.name.split(".")[0] == layer:
                    vals[s.op] += self_t[s.id]
            out[f"{layer}.self_s"] = per_round(vals, kind_of)

    by_name: dict[str, list[tracing.Span]] = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)

    def med_ms(name: str) -> float:
        return 1000.0 * _median(s.dur for s in by_name[name])

    def hit_ratio(name: str) -> float:
        hits = [s.attrs["hit"] for s in by_name[name] if "hit" in s.attrs]
        return sum(hits) / len(hits) if hits else 0.0

    out["schema.parse_ms"] = med_ms("schema.parse_schema")
    out["schema.to_struct_type_ms"] = med_ms("schema.to_struct_type")
    out["schema.to_avsc_ms"] = med_ms("schema.to_avsc")
    out["schema.fingerprint_ms"] = med_ms("schema.schema_fingerprint")
    out["codec.construct_s"] = _median(s.dur for s in by_name["codec.decode_json"])
    out["codec.construct_py4j_cmds"] = _median(s.py4j for s in by_name["codec.decode_json"])
    out["codec.cache_hit_ratio"] = hit_ratio("codec.decode_json")
    out["codec.execute_s"] = _median(s.dur for s in by_name["spark.execute"] if s.attrs.get("of") == "codec")
    out["functions.avro_decode_s"] = _median(s.dur for op, s in ops.items() if kind_of[op] == "avro_typed")
    out["sources.upsert_s"] = _median(s.dur for s in by_name["sources.upsert"])
    out["sources.merge_into_s"] = _median(s.dur for s in by_name["sources.merge_into"])
    out["sources.read_parquet_ms"] = med_ms("sources.read_parquet")
    out["sources.read_parquet_cache_hit_ratio"] = hit_ratio("sources.read_parquet")
    out["sources.snapshot_construct_ms"] = med_ms("sources.snapshot")
    stats = getattr(w, "commit_stats", [])
    if stats:
        out["sources.files_rewritten"] = _median(c["files_rewritten"] for c in stats)
        out["sources.bytes_written_per_batch_byte"] = _median(c["bytes_written_per_batch_byte"] for c in stats)
        out["sources.table_bytes_per_live_byte"] = w.storage_ratio()

    for q in QUERY_MIX:
        q_ops = [op for op in ops if kind_of[op] == q]
        kids = [s for s in spans if s.op in q_ops and s.parent is not None and ops[s.op].id == s.parent]
        out[f"{q}.construct_s"] = _median(s.dur for s in kids if s.name.endswith(".query"))
        out[f"{q}.execute_s"] = _median(s.dur for s in kids if s.name == "spark.execute")
        out[f"{q}.jobs"] = _median(len(op_jobs[op]) for op in q_ops)

    untraced, traced = b.kind_medians(), b.kind_medians(traced=True)
    common = set(untraced) & set(traced)
    if common:
        out["trace.overhead_ratio"] = sum(traced[k] for k in common) / sum(untraced[k] for k in common)
    units = dict(METRICS)
    return {name: {"value": out[name], "unit": units[name]} for name, _ in METRICS}
