"""The engine's one cache policy (anglerfish_spark/memo.py): the bounded
LRU every process-global cache uses, the file-state stamp that keys the
file-derived ones, and a guard that keeps any other cache shape out."""

from __future__ import annotations

import ast
import os
import pathlib
import sys
import threading

from anglerfish_spark.memo import Memo, file_stamp, scratch_dir


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


def test_scratch_dir_is_one_per_prefix():
    a, b = scratch_dir("anglerfish_memo_test_a_"), scratch_dir("anglerfish_memo_test_b_")
    assert scratch_dir("anglerfish_memo_test_a_") == a != b
    os.rmdir(a)
    os.rmdir(b)


def test_every_module_cache_is_a_memo():
    """A module-level ``*_CACHE`` must be built by ``Memo(...)``, so every
    process-global cache shares one eviction, locking and key policy."""
    root = pathlib.Path(__file__).resolve().parent.parent / "anglerfish_spark"
    found, bad = [], []
    for path in sorted(root.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign):
                targets, value = [node.target], node.value
            else:
                continue
            for t in targets:
                if isinstance(t, ast.Name) and t.id.endswith("_CACHE"):
                    where = f"{path.relative_to(root)}:{node.lineno} {t.id}"
                    found.append(where)
                    is_memo = (
                        isinstance(value, ast.Call)
                        and isinstance(value.func, ast.Name)
                        and value.func.id == "Memo"
                    )
                    if not is_memo:
                        bad.append(where)
    assert len(found) >= 5, found
    assert bad == []
