"""Persist-lifecycle ownership (cache.py): operators that persist
internal frames attach them to their result; release() unpersists them
without touching unrelated caches — the library-embedder contract
(bench.py's clearCache stays the one-process-per-run tool)."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from kafkastreams_tp3_is_spark.cache import persisted, release  # noqa: E402
from kafkastreams_tp3_is_spark.operators.dedup import (  # noqa: E402
    dedup_minhash_lsh_df)
from kafkastreams_tp3_is_spark.operators.graph import (  # noqa: E402
    duplicate_clusters_lsh_df)


def test_release_unpersists_operator_internals(spark, planted_docs):
    docs, _ = planted_docs
    out = dedup_minhash_lsh_df(docs, jaccard_threshold=0.7)
    out.count()
    frames = persisted(out)
    assert frames, "operator must attach its persisted internals"
    assert all(f.storageLevel.useMemory or f.storageLevel.useDisk
               for f in frames)
    release(out)
    assert all(not (f.storageLevel.useMemory or f.storageLevel.useDisk)
               for f in frames)
    assert not persisted(out)
    # the result stays usable after release (stages recompute)
    assert out.count() >= 0


def test_composed_operator_transfers_ownership(spark, planted_docs):
    docs, _ = planted_docs
    out = duplicate_clusters_lsh_df(docs, threshold=0.7)
    frames = persisted(out)
    assert frames, "composition must carry the edge producer's caches"
    release(out)
    assert all(not (f.storageLevel.useMemory or f.storageLevel.useDisk)
               for f in frames)


def test_spread_probe_cache_is_bounded(spark):
    """views._SPREAD_PROBE_CACHE eviction (ADVICE r15): entries from a
    dead applicationId are dropped on the next insert, and the size
    never exceeds the cap within one application."""
    from pyspark.sql import functions as F

    from kafkastreams_tp3_is_spark import views

    df = spark.range(10).select(F.col("id").alias("doc_id"))
    views._SPREAD_PROBE_CACHE.clear()
    views._SPREAD_PROBE_CACHE[("dead-app", 12345)] = 1
    views.spread(df)  # insert under the live app evicts the dead one
    assert ("dead-app", 12345) not in views._SPREAD_PROBE_CACHE
    assert len(views._SPREAD_PROBE_CACHE) == 1
    app = spark.sparkContext.applicationId
    views._SPREAD_PROBE_CACHE.clear()
    for i in range(views._SPREAD_PROBE_CACHE_MAX):
        views._SPREAD_PROBE_CACHE[(app, i)] = 1
    views.spread(df.select((F.col("doc_id") + 1).alias("doc_id")))
    assert len(views._SPREAD_PROBE_CACHE) <= views._SPREAD_PROBE_CACHE_MAX
    views._SPREAD_PROBE_CACHE.clear()


def test_scratch_dir_concurrent_calls_share_one_exit_hook(monkeypatch):
    """scratch_dir from many threads: every call gets its own existing
    directory, exactly one atexit hook is registered, and that hook
    removes every directory handed out."""
    import atexit
    import os
    import threading

    from kafkastreams_tp3_is_spark import cache

    hooks = []
    monkeypatch.setattr(atexit, "register", hooks.append)
    monkeypatch.setattr(cache, "_SCRATCH_DIRS", [])
    monkeypatch.setattr(cache, "_SCRATCH_HOOKED", False)
    got = []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(
                       target=lambda: got.extend(
                           cache.scratch_dir("scratch_test_")
                           for _ in range(5)))
                   for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == 80 and len(set(got)) == 80
    assert all(os.path.isdir(d) for d in got)
    assert len(hooks) == 1
    hooks[0]()
    assert not any(os.path.exists(d) for d in got)
