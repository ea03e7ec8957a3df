"""Tracing for the benchmark's traced run.

* :class:`Tracer` keeps spans (name, start, end, parent, op id, py4j
  command delta) in memory; :meth:`Tracer.dump` writes them when the run
  ends.
* :meth:`Tracer.count_py4j` wraps ``ClientServerConnection.send_command``
  so every py4j command the driver sends is counted.
* :meth:`Tracer.wrap` puts a span around an engine function by replacing
  it in every loaded module that bound it, from the benchmark's side; the
  engine's files are untouched.
* :func:`read_event_log` reads Spark's own event log (jobs, stages, task
  metrics) after the session stops; :func:`attribute_jobs` places each job
  in the innermost span open when it was submitted.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float  # epoch seconds, comparable with Spark's event-log times
    end: float = 0.0
    py4j: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans and counters of one run.  ``enabled`` False makes every
    method a no-op, so the untraced run pays nothing but a flag test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.py4j_cmds = 0
        self._undo: list = []
        self._next_op = 0

    # -- spans ------------------------------------------------------------

    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(len(self.spans), name, parent, op, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        c0, t0 = self.py4j_cmds, time.perf_counter()
        try:
            yield s
        finally:
            s.end = s.start + (time.perf_counter() - t0)
            s.py4j = self.py4j_cmds - c0
            self._stack.pop()

    # -- instrumentation installed from outside the engine ----------------

    def count_py4j(self) -> None:
        """Count commands the driver sends, except the object releases
        Python's garbage collector triggers (their timing is not the
        program's)."""
        from py4j import protocol
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME

        @functools.wraps(orig)
        def send_command(conn, command, *a, **k):
            if not command.startswith(release):
                self.py4j_cmds += 1
            return orig(conn, command, *a, **k)

        ClientServerConnection.send_command = send_command
        self._undo.append(lambda: setattr(ClientServerConnection, "send_command", orig))

    def wrap(self, module: str, attr: str, span_name: str, cache: tuple | None = None) -> None:
        """Span every call of ``module.attr``, wherever the engine bound it
        (module attribute or a ``from ... import`` name in another module).
        ``cache`` = (module, attribute) of an engine cache the call fills
        on a miss: the span records ``hit`` when the cache did not grow."""
        import importlib

        orig = getattr(importlib.import_module(module), attr)
        tracer = self

        def size() -> int:
            return len(getattr(importlib.import_module(cache[0]), cache[1], ()))

        @functools.wraps(orig)
        def traced(*a, **k):
            with tracer.span(span_name) as s:
                if s is None or cache is None:
                    return orig(*a, **k)
                before = size()
                out = orig(*a, **k)
                s.attrs["hit"] = size() == before
                return out

        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if not name.startswith("anglerfish_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, traced)
                    self._undo.append(functools.partial(setattr, mod, key, orig))

    def restore(self) -> None:
        while self._undo:
            self._undo.pop()()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": s.id,
                        "name": s.name,
                        "parent": s.parent,
                        "op": s.op,
                        "start": s.start,
                        "end": s.end,
                        "py4j": s.py4j,
                        **s.attrs,
                    }
                    for s in self.spans
                ],
                f,
            )


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {
        s.id: s.dur - covered([(c.start, c.end) for c in kids.get(s.id, [])], s.start, s.end)
        for s in spans
    }


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"
_PY_RUN = "time to run Python workers"


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    span: int | None = None
    op: int | None = None


@dataclass
class StageStats:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    sched_delay_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    python_bytes: int = 0
    python_run_s: float = 0.0


def read_event_log(path: str) -> tuple[dict[int, Job], dict[int, StageStats]]:
    """Jobs and per-stage task totals from an uncompressed, non-rolling
    Spark event log.  Stages that never ran (skipped) have no tasks."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageStats] = {}
    with open(path) as f:
        for line in f:
            head = line[:48]
            if "SparkListenerJobStart" in head:
                e = json.loads(line)
                jobs[e["Job ID"]] = Job(e["Job ID"], e["Submission Time"] / 1000.0, stages=e["Stage IDs"])
            elif "SparkListenerJobEnd" in head:
                e = json.loads(line)
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
            elif "SparkListenerTaskEnd" in head:
                e = json.loads(line)
                tm, ti = e.get("Task Metrics") or {}, e["Task Info"]
                st = stages.setdefault(e["Stage ID"], StageStats())
                st.tasks += 1
                run_ms = tm.get("Executor Run Time", 0)
                st.run_s += run_ms / 1000.0
                st.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                st.gc_s += tm.get("JVM GC Time", 0) / 1000.0
                busy = run_ms + tm.get("Executor Deserialize Time", 0) + tm.get("Result Serialization Time", 0)
                st.sched_delay_s += max(0, ti["Finish Time"] - ti["Launch Time"] - busy - ti.get("Getting Result Time", 0)) / 1000.0
                sr = tm.get("Shuffle Read Metrics", {})
                st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st.shuffle_write += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                st.spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                for acc in ti.get("Accumulables", []):
                    name = acc.get("Name")
                    if name in (_PY_SENT, _PY_BACK):
                        st.python_bytes += int(acc.get("Update") or 0)
                    elif name == _PY_RUN:
                        st.python_run_s += int(acc.get("Update") or 0) / 1000.0
    return jobs, stages


def attribute_jobs(jobs: dict[int, Job], spans: list[Span]) -> None:
    """Give each job the innermost span (and its op) open at submission."""
    ordered = sorted(spans, key=lambda s: s.start)
    for j in jobs.values():
        best = None
        for s in ordered:
            if s.start > j.submit:
                break
            if s.end >= j.submit and (best is None or s.start >= best.start):
                best = s
        if best is not None:
            j.span, j.op = best.id, best.op


def find_event_log(events_dir: str) -> str | None:
    if not os.path.isdir(events_dir):
        return None
    logs = [os.path.join(events_dir, n) for n in os.listdir(events_dir)]
    logs = [p for p in logs if os.path.isfile(p)]
    return max(logs, key=os.path.getmtime) if logs else None
