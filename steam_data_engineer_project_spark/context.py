"""Run context: the state the query layer keeps for one SparkSession.

A :class:`RunContext` owns a memo of derived values (table reads, the model
DAG, written fixtures, layouts, stores), one scratch root
``.scratch/run_<pid>_<random>`` holding every work dir its queries create,
and one generation of persisted frames per query slot. It is released once
— persists unpersisted, memo dropped, root removed — when its session is
collected, at interpreter exit, or on :meth:`RunContext.close`. Memoized
DataFrames reference their session, so in practice release comes from
``close`` or exit. A new context removes the roots of dead processes only.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import threading
import weakref
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

#: parent of every run root (gitignored); tests keep their own dirs here too
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)

_ROOT_NAME = re.compile(r"run_(\d+)_.+")
_V = TypeVar("_V")

#: the package's only module-level mutable state: one context per session
_CONTEXTS: "weakref.WeakKeyDictionary[SparkSession, RunContext]" = (
    weakref.WeakKeyDictionary()
)
_CONTEXTS_LOCK = threading.Lock()


def context(spark: SparkSession) -> "RunContext":
    """The session's run context, created on first use and after a close."""
    with _CONTEXTS_LOCK:
        ctx = _CONTEXTS.get(spark)
        if ctx is None or not ctx.close.alive:
            ctx = _CONTEXTS[spark] = RunContext(spark)
        return ctx


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # exists, owned by another user
        return True
    return True


class RunContext:
    """Memo, scratch root and persist generations of one SparkSession.
    Holds no strong reference to the session; get it with :func:`context`."""

    def __init__(self, spark: SparkSession) -> None:
        os.makedirs(SCRATCH, exist_ok=True)
        # a process that crashed never ran its finalizer
        for name in os.listdir(SCRATCH):
            m = _ROOT_NAME.fullmatch(name)
            if m and not _pid_alive(int(m.group(1))):
                shutil.rmtree(os.path.join(SCRATCH, name), ignore_errors=True)
        self.root = tempfile.mkdtemp(prefix=f"run_{os.getpid()}_", dir=SCRATCH)
        self._lock = threading.Lock()
        self._key_locks: dict[object, threading.Lock] = {}
        self._values: dict[object, object] = {}
        self._persists: dict[str, list[DataFrame]] = {}
        #: releases the context; runs once, and ``close.alive`` is False after
        self.close = weakref.finalize(spark, self._release)

    def memo(self, key: object, build: Callable[[], _V]) -> _V:
        """``build()``'s result for ``key``, built once. Concurrent callers
        of one key wait for its single build; other keys do not wait. A
        build that raises leaves the key unbuilt."""
        with self._lock:
            key_lock = self._key_locks.setdefault(key, threading.Lock())
        with key_lock:
            if key not in self._values:
                self._values[key] = build()
            return self._values[key]

    def scratch(self, prefix: str) -> str:
        """A fresh, empty directory under this context's scratch root."""
        return tempfile.mkdtemp(prefix=prefix, dir=self.root)

    def replace_persists(self, slot: str, frames: list[DataFrame]) -> None:
        """Unpersist ``slot``'s previous generation and register ``frames``
        as its current one. The CacheManager matches persists by canonical
        plan, so frames left cached would serve the next invocation; queries
        call this with ``[]`` before persisting, then with what they
        persisted."""
        with self._lock:
            old = self._persists.pop(slot, [])
            if frames:
                self._persists[slot] = list(frames)
        _unpersist(old)

    def _release(self) -> None:
        with self._lock:
            frames = [df for dfs in self._persists.values() for df in dfs]
            self._persists.clear()
            self._values.clear()
        _unpersist(frames)
        shutil.rmtree(self.root, ignore_errors=True)


def _unpersist(frames: list[DataFrame]) -> None:
    for df in frames:
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 — at exit the JVM may be gone
            pass
