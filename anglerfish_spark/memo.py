"""The engine's one policy for process-lifetime state: every module-level
``*_CACHE`` is a :class:`Memo` keyed by everything its value depends on —
a :func:`file_stamp` for file-derived values, the confs that change the
value, and the SparkContext for values holding JVM objects."""

from __future__ import annotations

import functools
import os
import stat
import tempfile
import threading
from collections import OrderedDict
from typing import Callable, Hashable


class Memo(OrderedDict):
    """Thread-safe bounded LRU map (iteration runs least recently used first)."""

    def __init__(self, maxsize: int):
        super().__init__()
        self.maxsize = maxsize
        self._lock = threading.Lock()

    def get_or(self, key: Hashable | None, compute: Callable[[], object]):
        """The value stored under ``key``, else ``compute()`` stored under it.
        ``compute`` runs outside the lock (it may run Spark jobs), so racing
        misses each compute and the last store wins.  A ``None`` key is
        uncacheable: the value is computed and never stored."""
        if key is None:
            return compute()
        with self._lock:
            if key in self:
                self.move_to_end(key)
                return self[key]
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
def scratch_dir(prefix: str) -> str:
    """One scratch directory per ``prefix`` for the life of the process."""
    return tempfile.mkdtemp(prefix=prefix)
