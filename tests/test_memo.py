"""The engine's one policy for process-lifetime state
(anglerfish_spark/memo.py): the bounded LRU every process-global cache
uses, the file-state stamp that keys the file-derived ones, the
build-once helper every demo table and index goes through, the one stage
timer, and guards that keep any other cache, timer or temp-dir shape
out."""

from __future__ import annotations

import ast
import os
import pathlib
import shutil
import subprocess
import sys
import threading
import time
import types
import uuid

import pytest

from anglerfish_spark import memo
from anglerfish_spark.memo import (
    STAGE_SECONDS,
    Memo,
    file_stamp,
    materialize_once,
    scratch_dir,
    timed,
)


class TestMemo:
    def test_hit_moves_to_most_recent(self):
        m = Memo(3)
        for k in "abc":
            m.get_or(k, lambda k=k: k.upper())
        assert m.get_or("a", lambda: "recomputed") == "A"  # a hit, not a recompute
        assert list(m) == ["b", "c", "a"]

    def test_bound_evicts_least_recent(self):
        m = Memo(2)
        calls = []
        for k in ["a", "b", "a", "c"]:
            m.get_or(k, lambda k=k: calls.append(k) or k)
        assert calls == ["a", "b", "c"]
        assert list(m) == ["a", "c"]  # b was the least recently used

    def test_none_key_is_never_stored(self):
        m = Memo(4)
        calls = []
        for _ in range(2):
            assert m.get_or(None, lambda: calls.append(1) or "v") == "v"
        assert len(m) == 0 and calls == [1, 1]

    def test_concurrent_get_or_stays_bounded(self):
        m = Memo(4)
        failures: list[BaseException] = []

        def work(i: int) -> None:
            try:
                for j in range(2000):
                    k = (i * 7 + j) % 11
                    assert m.get_or(k, lambda k=k: k * k) == k * k
            except BaseException as ex:  # noqa: BLE001 - reported below
                failures.append(ex)

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=work, args=(i,)) for i in range(8)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
        finally:
            sys.setswitchinterval(old)
        assert not any(t.is_alive() for t in threads)
        assert failures == []
        assert len(m) <= 4


class TestFileStamp:
    def test_changes_with_a_file_at_any_depth(self, tmp_path):
        deep = tmp_path / "a=1" / "b=2"
        deep.mkdir(parents=True)
        (deep / "part.parquet").write_bytes(b"one")
        before = file_stamp(str(tmp_path))
        assert before == file_stamp(str(tmp_path))
        (deep / "part.parquet").write_bytes(b"three")  # in place, same dirs
        assert file_stamp(str(tmp_path)) != before

    def test_missing_path_is_none(self, tmp_path):
        assert file_stamp(str(tmp_path / "absent")) is None


class TestMaterializeOnce:
    @staticmethod
    def _builder(calls: list):
        def build(path: str) -> None:
            calls.append(path)
            os.makedirs(path)

        return build

    def test_repeat_call_does_not_build_again(self):
        calls: list[str] = []
        sf = f"sf-{uuid.uuid4().hex}"
        first = materialize_once("memo_test", sf, self._builder(calls))
        assert materialize_once("memo_test", sf, self._builder(calls)) == first
        assert calls == [first]
        assert first.startswith(memo._root() + os.sep)
        assert memo.STAGE_SECONDS["setup"]["memo_test"] >= 0

    def test_removed_directory_is_rebuilt_at_a_fresh_path(self):
        calls: list[str] = []
        sf = f"sf-{uuid.uuid4().hex}"
        first = materialize_once("memo_test", sf, self._builder(calls))
        shutil.rmtree(first)
        second = materialize_once("memo_test", sf, self._builder(calls))
        assert second != first and os.path.isdir(second)
        assert calls == [first, second]

    def test_ready_false_triggers_a_rebuild(self):
        calls: list[str] = []
        sf = f"sf-{uuid.uuid4().hex}"
        first = materialize_once("memo_test", sf, self._builder(calls))
        second = materialize_once(
            "memo_test", sf, self._builder(calls), ready=lambda _p: False
        )
        assert second != first and calls == [first, second]
        assert materialize_once("memo_test", sf, self._builder(calls)) == second

    def test_build_that_raises_stores_nothing(self):
        sf = f"sf-{uuid.uuid4().hex}"

        def broken(path: str) -> None:
            raise RuntimeError("build failed")

        with pytest.raises(RuntimeError, match="build failed"):
            materialize_once("memo_test", sf, broken)
        calls: list[str] = []
        path = materialize_once("memo_test", sf, self._builder(calls))
        assert calls == [path]

    def test_process_exit_removes_the_root(self):
        script = (
            "import os\n"
            "from anglerfish_spark import memo\n"
            "built = [memo.materialize_once('k', sf, os.makedirs) for sf in 'ab']\n"
            "scratch = memo.scratch_dir('anglerfish_exit_test_')\n"
            "for p in built + [scratch]:\n"
            "    assert os.path.isdir(p) and p.startswith(memo._root() + os.sep)\n"
            "print(memo._root())\n"
        )
        repo = pathlib.Path(__file__).resolve().parent.parent
        out = subprocess.run(
            [sys.executable, "-c", script], cwd=repo, check=True,
            capture_output=True, text=True, timeout=60,
        )
        root = out.stdout.strip()
        assert root.startswith(os.sep) and not os.path.exists(root)


def test_scratch_dir_is_one_per_prefix():
    a, b = scratch_dir("anglerfish_memo_test_a_"), scratch_dir("anglerfish_memo_test_b_")
    assert scratch_dir("anglerfish_memo_test_a_") == a != b
    os.rmdir(a)
    os.rmdir(b)


class TestTimed:
    def test_stage_time_accumulates(self):
        scope = f"timed-{uuid.uuid4().hex}"
        for _ in range(2):
            with timed(scope, "a"):
                time.sleep(0.01)
        with timed(scope, "b"):
            pass
        assert set(STAGE_SECONDS[scope]) == {"a", "b"}
        assert STAGE_SECONDS[scope]["a"] >= 0.02

    def test_scope_popped_at_entry_holds_the_last_run(self):
        scope = f"timed-{uuid.uuid4().hex}"

        def run(stages):
            STAGE_SECONDS.pop(scope, None)
            for stage in stages:
                with timed(scope, stage):
                    pass

        run(["first", "shared"])
        run(["shared"])
        assert set(STAGE_SECONDS[scope]) == {"shared"}

    def test_concurrent_blocks_lose_no_time(self, monkeypatch):
        # each block reads a thread-local clock 0.0 then 1.0, so it lasts
        # exactly one second and a lost update shows in the sum
        local = threading.local()

        def clock() -> float:
            local.t = 1.0 - getattr(local, "t", 1.0)
            return local.t

        monkeypatch.setattr(memo, "time", types.SimpleNamespace(perf_counter=clock))
        scope = f"timed-{uuid.uuid4().hex}"

        def work() -> None:
            for _ in range(500):
                with timed(scope, "a"):
                    pass

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=work) for _ in range(8)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
        finally:
            sys.setswitchinterval(old)
        assert not any(t.is_alive() for t in threads)
        assert STAGE_SECONDS[scope] == {"a": 4000.0}

    def test_block_that_raises_records_nothing(self):
        scope = f"timed-{uuid.uuid4().hex}"
        with pytest.raises(RuntimeError, match="stage failed"):
            with timed(scope, "a"):
                raise RuntimeError("stage failed")
        assert scope not in STAGE_SECONDS


#: module-level empty containers that are not caches: the query registry
#: and the one stage timer
_NOT_CACHES = {"registry.QUERIES", "memo.STAGE_SECONDS"}


def _is_empty_container(value: ast.expr | None) -> bool:
    if isinstance(value, ast.Dict):
        return not value.keys
    if isinstance(value, ast.List):
        return not value.elts
    return (
        isinstance(value, ast.Call)
        and isinstance(value.func, ast.Name)
        and value.func.id in ("dict", "set")
        and not value.args
        and not value.keywords
    )


def test_every_module_cache_is_a_memo():
    """Two rules over every module-level name in ``anglerfish_spark/``:
    a ``*_CACHE`` must be built by ``Memo(...)``, and no name may start out
    as an empty ``{}``, ``dict()``, ``set()`` or ``[]`` (the shape of a
    hand-rolled cache or build-once registry) unless it is named in
    ``_NOT_CACHES``. Caches are :class:`Memo` instances and build-once
    assets go through :func:`materialize_once`, so they share one
    eviction, locking and cleanup policy."""
    root = pathlib.Path(__file__).resolve().parent.parent / "anglerfish_spark"
    caches, seen, bad = [], set(), []
    for path in sorted(root.rglob("*.py")):
        module = ".".join(path.relative_to(root).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign):
                targets, value = [node.target], node.value
            else:
                continue
            is_memo = (
                isinstance(value, ast.Call)
                and isinstance(value.func, ast.Name)
                and value.func.id == "Memo"
            )
            empty = _is_empty_container(value)
            for t in targets:
                if not isinstance(t, ast.Name):
                    continue
                name = f"{module}.{t.id} (line {node.lineno})"
                if t.id.endswith("_CACHE"):
                    caches.append(name)
                    if not is_memo:
                        bad.append(name)
                if empty:
                    seen.add(f"{module}.{t.id}")
                    if f"{module}.{t.id}" not in _NOT_CACHES:
                        bad.append(name)
    assert len(caches) >= 5, caches
    assert bad == []
    assert seen == _NOT_CACHES  # a stale allowlist entry fails too


def test_only_memo_times_stages_and_makes_temp_dirs():
    """No module in ``anglerfish_spark/`` other than ``memo.py`` calls
    ``time.perf_counter`` or ``tempfile.mkdtemp`` (under any import
    alias): stage timings go through :func:`memo.timed` into one dict,
    and every temp dir through :func:`memo.fresh_dir` under the
    per-process root that is removed at exit."""
    root = pathlib.Path(__file__).resolve().parent.parent / "anglerfish_spark"
    banned = {"perf_counter", "mkdtemp"}
    bad = []
    for path in sorted(root.rglob("*.py")):
        if path.name == "memo.py" and path.parent == root:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr in banned:
                bad.append(f"{path.relative_to(root)}:{node.lineno} {node.attr}")
            elif isinstance(node, ast.ImportFrom) and node.module in ("time", "tempfile"):
                bad.extend(
                    f"{path.relative_to(root)}:{node.lineno} {a.name}"
                    for a in node.names
                    if a.name in banned
                )
    assert bad == []


def test_only_the_decoders_lift_logical_carriers():
    """``py_carrier_to_value`` (carrier → Spark value) is called only by
    pydecode and the binary codec's lift: every other path from decoded
    Avro values to Spark rows goes through the compiled semantic view
    (``functions.avro_binary._cached_semantic_view``)."""
    root = pathlib.Path(__file__).resolve().parent.parent / "anglerfish_spark"
    allowed = {"codec/pydecode.py", "functions/avro_binary.py"}
    bad = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel in allowed:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                fn = node.func
                name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
                if name == "py_carrier_to_value":
                    bad.append(f"{rel}:{node.lineno}")
    assert bad == []
