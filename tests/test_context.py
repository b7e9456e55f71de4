"""The run context (context.py): one memo, one scratch root and one set of
persist generations per SparkSession, released together.

Each test runs on its own ``spark.newSession()`` (same SparkContext and
CacheManager, its own context), so closing that context leaves the shared
test session's memo and scratch root alone.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading
import time

from conftest import SF_SMOKE

from steam_data_engineer_project_spark.context import SCRATCH, context
from steam_data_engineer_project_spark.queries import QUERIES


def test_memo_builds_each_key_once_and_keys_do_not_wait(spark):
    """More threads than cores race on one key with a short switch
    interval: the build runs once and every caller gets its value. While
    that build is held open, a caller of another key finishes."""
    ctx = context(spark.newSession())
    calls = []
    release = threading.Event()

    def slow_build():
        calls.append(1)
        release.wait(timeout=30)
        return object()

    n = 4 * (os.cpu_count() or 2)
    start = threading.Barrier(n)
    got = []

    def worker():
        start.wait(timeout=30)
        got.append(ctx.memo("slow", slow_build))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(n)]
        for t in threads:
            t.start()
        deadline = time.time() + 30
        while not calls and time.time() < deadline:
            time.sleep(0.01)
        other: list = []
        t_other = threading.Thread(
            target=lambda: other.append(ctx.memo("other", lambda: 7))
        )
        t_other.start()
        t_other.join(timeout=10)
        assert other == [7], "a build of another key blocked this one"
        release.set()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
        release.set()
        ctx.close()
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert len(got) == n and all(v is got[0] for v in got)


def test_new_context_removes_only_dead_processes_roots(spark):
    """A crashed process never ran its finalizer; the next context removes
    its ``run_<pid>_*`` root. A live process's root and any other entry
    (tests' own dirs) stay."""
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait(timeout=60)
    os.makedirs(SCRATCH, exist_ok=True)
    dead_root = os.path.join(SCRATCH, f"run_{dead.pid}_crashed")
    live_root = os.path.join(SCRATCH, f"run_{os.getpid()}_sibling")
    other = os.path.join(SCRATCH, f"test_ctx_keep_{os.getpid()}")
    for d in (dead_root, live_root, other):
        os.makedirs(os.path.join(d, "sub"), exist_ok=True)
    ctx = context(spark.newSession())
    try:
        assert not os.path.exists(dead_root)
        assert os.path.isdir(live_root) and os.path.isdir(other)
        assert os.path.isdir(ctx.root)
    finally:
        ctx.close()
        shutil.rmtree(live_root, ignore_errors=True)
        shutil.rmtree(other, ignore_errors=True)
    assert not os.path.exists(ctx.root)


def test_repeated_query_keeps_one_persist_generation_until_close(
    spark, tmp_path
):
    """dedup_embedding_cosine persists three frames per invocation. A
    second invocation replaces the first one's generation instead of
    adding to it, and closing the context unpersists the last generation
    and removes the scratch root. The data is read through its own path:
    the CacheManager is shared by all sessions and matches by plan, so
    another session's run of the same query would hold these entries."""
    sf = str(tmp_path / "sf")
    os.symlink(SF_SMOKE, sf)
    s = spark.newSession()
    ctx = context(s)
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    counts = []
    for _ in range(2):
        QUERIES["dedup_embedding_cosine"].spark(s, sf).collect()
        counts.append(cache.numCachedEntries() - before)
    assert counts[0] > 0 and counts[1] == counts[0], counts
    assert os.path.isdir(ctx.root)
    ctx.close()
    assert cache.numCachedEntries() == before
    assert not os.path.exists(ctx.root)
    assert context(s) is not ctx  # a closed context is never handed out
    context(s).close()
