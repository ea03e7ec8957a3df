"""Self-tests of the benchmark (not of the engine).

    python3 -m pytest benchmark/test_benchmark.py -q

The fast tests check the generators, the Avro helper and span
arithmetic.  The ``tiny`` tests start real runs at the tiny size: every
workload must print every metric BENCHMARK.json names, with its unit, in
both modes; spans must nest; py4j and job counts must repeat exactly
across two traced runs of the same ops.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import avrolite  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def test_generators_repeat_per_seed_and_keep_sizes(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.write_star(a, 5, 0.001)
    gen.write_star(b, 5, 0.001)
    sizes = gen.write_star(c, 6, 0.001)
    for t in gen.TABLES:
        assert open(f"{a}/{t}.parquet", "rb").read() == open(f"{b}/{t}.parquet", "rb").read()
    assert sizes == gen.write_star(str(tmp_path / "d"), 7, 0.001)
    e1 = gen.write_bulk(str(tmp_path / "b1.parquet"), 3, 500, unique=100)
    e2 = gen.write_bulk(str(tmp_path / "b2.parquet"), 3, 500, unique=100)
    assert e1 == e2
    assert open(tmp_path / "b1.parquet", "rb").read() == open(tmp_path / "b2.parquet", "rb").read()
    s1 = gen.churn_batch(str(tmp_path / "c1.parquet"), 3, 0, 4, 5)
    s2 = gen.churn_batch(str(tmp_path / "c2.parquet"), 4, 0, 4, 5)
    assert [len(x["schema"]["fields"]) for x in s1] == [len(x["schema"]["fields"]) for x in s2]
    assert len({x["fingerprint"] for x in s1 + s2}) == 8


def test_avrolite_agrees_with_engine_schema_layer():
    sys.path.insert(0, ROOT)
    from anglerfish_spark.schema.fingerprint import parsing_canonical_form, schema_fingerprint

    rng = np.random.default_rng(0)
    schemas = gen.BULK_SCHEMAS + [gen.random_schema(rng, f"t{i}") for i in range(50)]
    for s in schemas:
        sj = json.dumps(s)
        assert avrolite.canonical_form(s) == parsing_canonical_form(sj)
        assert avrolite.single_object_header(s)[2:] == schema_fingerprint(sj, "CRC-64-AVRO")


def test_avrolite_binary_matches_engine_decoder():
    sys.path.insert(0, ROOT)
    from anglerfish_spark.functions.avro_binary import _cached_codec, _cached_semantic_view

    rng = np.random.default_rng(1)
    for s in gen.BULK_SCHEMAS:
        names = gen.named_types(s)
        sj = json.dumps(s)
        for _ in range(20):
            d = gen._value(rng, s, names)
            got = _cached_semantic_view(sj)(_cached_codec(sj).decode(avrolite.encode_datum(s, d, names)))
            assert json.loads(json.dumps(got, default=str)) == json.loads(json.dumps(d))


def test_self_time_and_nesting():
    tr = tracing.Tracer(enabled=True)
    op = tr.new_op()
    with tr.span("op.x", op=op):
        time.sleep(0.02)
        with tr.span("codec.a"):
            time.sleep(0.02)
            with tr.span("schema.b"):
                time.sleep(0.01)
        with tr.span("codec.c"):
            time.sleep(0.01)
    st = tracing.self_times(tr.spans)
    root = tr.spans[0]
    assert all(v >= 0 for v in st.values())
    assert abs(sum(st.values()) - root.dur) < 1e-6
    assert all(s.op == op for s in tr.spans)
    _assert_nested(tr.spans)


def test_covered_merges_overlaps():
    assert tracing.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing.covered([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert tracing.covered([], 0, 1) == 0


def _assert_nested(spans, slack: float = 1e-3):
    by_id = {s.id: s for s in spans}
    for s in spans:
        assert s.end >= s.start
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.start - slack <= s.start and s.end <= p.end + slack, (s.name, p.name)


# ---------------------------------------------------------------------------
# tiny real runs
# ---------------------------------------------------------------------------

_RUNS: dict = {}


def tiny_run(workload: str, trace: int, seed: int = 11, key: str = "") -> dict:
    k = (workload, trace, seed, key)
    if k not in _RUNS:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
             "--seconds", "1", "--trace", str(trace), "--tiny"],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        lines = proc.stdout.strip().splitlines()
        detail = json.loads(next(x for x in lines if x.startswith("DETAIL "))[7:])
        _RUNS[k] = {"result": json.loads(lines[-1]), "detail": detail}
    return _RUNS[k]


#: the declared workloads, and the two the benchmark runs only on request
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["table_commits", "schema_churn"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_emits_every_metric(workload, trace):
    out = tiny_run(workload, trace)["result"]
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_spans_nest(workload):
    tiny_run(workload, 1)
    path = os.path.join(ROOT, ".bench_out", f"{workload}-seed11-spans.json")
    raw = json.load(open(path))
    spans = [tracing.Span(r["id"], r["name"], r["parent"], r["op"], r["start"], r["end"], r["py4j"]) for r in raw]
    assert spans
    _assert_nested(spans)
    assert all(v >= -1e-6 for v in tracing.self_times(spans).values())


def test_counts_repeat_across_traced_runs():
    a = tiny_run("decode_bulk", 1)["result"]["metrics"]
    b = tiny_run("decode_bulk", 1, key="again")["result"]["metrics"]
    for name in ("driver.py4j_cmds", "spark.jobs"):
        assert a[name]["value"] == b[name]["value"], name
        assert a[name]["value"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    bench = tmp_path / "benchmark"
    bench.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench / f).write_bytes(open(os.path.join(HERE, f), "rb").read())
    proc = subprocess.run(
        [sys.executable, str(bench / "run.py"), "--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert not proc.stdout.strip()
