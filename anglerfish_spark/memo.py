"""The engine's one policy for process-lifetime state.

* Every module-level cache is a :class:`Memo` keyed by everything its
  value depends on — a :func:`file_stamp` for file-derived values, the
  confs that change the value, and the SparkContext for values holding
  JVM objects.
* Every build-once asset (a demo table, a persisted index, a stand-in for
  an external source such as a Kafka topic or an OCF drop) goes through
  :func:`materialize_once`: built once per ``(key, sf_dir)`` per process,
  served again only while its ``ready`` check holds, rebuilt at a fresh
  path otherwise.  The builders are deterministic functions of the
  sf_dir tables, so a re-read is observationally identical to a rebuild.
* Every built path, every :func:`scratch_dir` and every per-call
  :func:`fresh_dir` lives under one per-process root directory that is
  removed when the process exits.
* Every stage timing goes through :func:`timed` into
  :data:`STAGE_SECONDS`: asset builds under scope ``"setup"``
  (accumulated over the process), query stages under the query's own
  scope, which the query clears at entry so it holds the last run.
"""

from __future__ import annotations

import atexit
import contextlib
import functools
import os
import shutil
import stat
import tempfile
import threading
import time
from collections import OrderedDict
from typing import Callable, Hashable


class Memo(OrderedDict):
    """Thread-safe bounded LRU map (iteration runs least recently used first)."""

    def __init__(self, maxsize: int):
        super().__init__()
        self.maxsize = maxsize
        self._lock = threading.Lock()

    def get_or(
        self,
        key: Hashable | None,
        compute: Callable[[], object],
        valid: Callable[[object], bool] | None = None,
    ):
        """The value stored under ``key``, else ``compute()`` stored under it.
        ``compute`` runs outside the lock (it may run Spark jobs), so racing
        misses each compute and the last store wins.  A ``None`` key is
        uncacheable: the value is computed and never stored.  A stored value
        for which ``valid(value)`` is false (checked outside the lock) is
        recomputed."""
        if key is None:
            return compute()
        with self._lock:
            hit = key in self
            if hit:
                self.move_to_end(key)
                value = self[key]
        if hit and (valid is None or valid(value)):
            return value
        value = compute()
        with self._lock:
            self[key] = value
            while len(self) > self.maxsize:
                self.popitem(last=False)
        return value


def file_stamp(*paths: str) -> tuple | None:
    """``(path, mtime_ns, size)`` of each path, each directory followed by
    every entry below it at any depth (sorted); None when a stat fails."""
    out = []

    def add(p: str) -> None:
        st = os.stat(p)
        out.append((p, st.st_mtime_ns, st.st_size))
        if stat.S_ISDIR(st.st_mode):
            for name in sorted(os.listdir(p)):
                add(os.path.join(p, name))

    try:
        for p in paths:
            add(p)
    except OSError:
        return None
    return tuple(out)


@functools.lru_cache(maxsize=None)
def _root() -> str:
    """The per-process directory holding every built path and scratch dir,
    removed at exit."""
    root = tempfile.mkdtemp(prefix="anglerfish_run_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def fresh_dir(prefix: str) -> str:
    """A new directory under the per-process root."""
    return tempfile.mkdtemp(prefix=prefix, dir=_root())


@functools.lru_cache(maxsize=None)
def scratch_dir(prefix: str) -> str:
    """One scratch directory per ``prefix`` for the life of the process."""
    return fresh_dir(prefix)


#: scope -> stage -> wall seconds; bench.py reports scope "setup" as
#: "setup_sec" (so build cost is visible but not timed as part of the
#: queries that read the asset) and the query scopes as "stages_sec"
STAGE_SECONDS: dict[str, dict[str, float]] = {}
_STAGE_LOCK = threading.Lock()


@contextlib.contextmanager
def timed(scope: str, stage: str):
    """Add the block's wall time to ``STAGE_SECONDS[scope][stage]``; a
    block that raises records nothing."""
    t0 = time.perf_counter()
    yield
    seconds = time.perf_counter() - t0
    with _STAGE_LOCK:
        stages = STAGE_SECONDS.setdefault(scope, {})
        stages[stage] = round(stages.get(stage, 0.0) + seconds, 3)


#: (key, sf_dir) -> built path
_BUILT = Memo(256)


def materialize_once(
    key: str,
    sf_dir: str,
    build: Callable[[str], None],
    ready: Callable[[str], bool] = os.path.isdir,
) -> str:
    """The path holding asset ``key`` built from ``sf_dir``.  ``build(path)``
    runs on the first call, and again at a fresh path whenever
    ``ready(path)`` fails on the stored one (the default checks that the
    directory still exists; catalog-backed assets also check their
    tables).  A ``build`` that raises stores nothing."""

    def make() -> str:
        path = os.path.join(fresh_dir(f"{key}_"), key)
        with timed("setup", key):
            build(path)
        return path

    return _BUILT.get_or((key, sf_dir), make, ready)
