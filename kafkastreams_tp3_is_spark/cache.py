"""Persist-lifecycle ownership for operator-internal caches.

Several operators materialize an intermediate frame (LSH signatures,
band buckets, PPJoin prefixes) because multiple downstream consumers
would otherwise recompute it. The persist call lives inside the
operator, but the storage lives until somebody unpersists it — in a
long-lived session a library caller would leak executor storage memory
query after query, and ``spark.catalog.clearCache()`` is a sledgehammer
that also evicts caches the caller owns.

Contract: an operator that persists internals attaches them to its
result frame via ``owned``; callers release them with ``release(df)``
once the result has been consumed (after the terminal action — the
frames must stay persisted while the result is still lazy). Composed
operators transfer ownership with ``owned(out, *persisted(intermediate))``
so the attachment always rides the frame the caller actually holds.
bench.py's per-query clearCache remains correct for its
one-process-per-run usage; ``release`` is the surgical tool for
embedders.

Scratch directories follow a coarser lifetime: ``scratch_dir`` hands
out a fresh directory that is removed at PROCESS EXIT, never earlier.
Fixtures and build-once stores return lazy DataFrames over such
directories, and a caller may hold one unevaluated for arbitrarily long,
so process exit is the only point where deletion is provably safe.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame

_ATTR = "_graft_persisted"
_ATTR_CKPT = "_graft_checkpointed"


def owned(result: DataFrame, *frames: DataFrame) -> DataFrame:
    """Attach persisted internal ``frames`` to ``result`` and return it."""
    acc = list(getattr(result, _ATTR, []))
    acc.extend(frames)
    setattr(result, _ATTR, acc)
    return result


def persisted(df: DataFrame) -> list[DataFrame]:
    """The persisted internals attached to ``df`` (empty if none)."""
    return list(getattr(df, _ATTR, []))


def owned_checkpoint(result: DataFrame, *frames: DataFrame) -> DataFrame:
    """Attach localCheckpoint()-ed internal ``frames`` to ``result``.

    Checkpoint barriers (pipeline._stage_barrier) differ from persisted
    internals in one way that matters for ``release``: their lineage is
    TRUNCATED, so freeing their blocks makes them (and any lazy frame
    built on them) unrecomputable — release() therefore only frees them
    when the caller says the result is fully consumed. Without this
    attachment the blocks would be freed only when the ContextCleaner
    GCs the RDD, i.e. nondeterministically late in long-lived embedder
    sessions (ADVICE r10)."""
    acc = list(getattr(result, _ATTR_CKPT, []))
    acc.extend(frames)
    setattr(result, _ATTR_CKPT, acc)
    return result


def checkpointed(df: DataFrame) -> list[DataFrame]:
    """The checkpoint-barrier internals attached to ``df``."""
    return list(getattr(df, _ATTR_CKPT, []))


def _free_checkpoint_blocks(f: DataFrame) -> None:
    """Deterministically drop a localCheckpoint()-ed frame's executor
    blocks. The checkpointed DataFrame is a LogicalRDD leaf; unpersisting
    its underlying RDD removes the only copy (lineage is truncated), so
    callers must treat the frame as consumed afterwards."""
    try:
        plan = f._jdf.queryExecution().analyzed()
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        # best-effort: a non-LogicalRDD plan (or a JVM already tearing
        # down) leaves cleanup to the ContextCleaner, the old behavior
        pass


def release(df: DataFrame, consumed: bool = True) -> None:
    """Unpersist every internal frame attached to ``df``. Call after the
    result has been fully consumed. Persisted internals recompute on the
    next action; checkpoint barriers CANNOT (truncated lineage), so they
    are freed only when ``consumed`` is True (default) — pass
    ``consumed=False`` to keep the barriers alive for further actions on
    ``df`` while still releasing the recomputable caches."""
    for f in persisted(df):
        f.unpersist()
    setattr(df, _ATTR, [])
    if consumed:
        for f in checkpointed(df):
            _free_checkpoint_blocks(f)
        setattr(df, _ATTR_CKPT, [])


_SCRATCH_DIRS: list[str] = []
_SCRATCH_HOOKED = False
_SCRATCH_LOCK = threading.Lock()


def _remove_scratch_dirs() -> None:
    with _SCRATCH_LOCK:
        for d in _SCRATCH_DIRS:
            shutil.rmtree(d, ignore_errors=True)
        _SCRATCH_DIRS.clear()


def scratch_dir(prefix: str) -> str:
    """A fresh temp directory (``mkdtemp(prefix=prefix)``) that lives
    until process exit; one ``atexit`` hook removes every directory
    handed out. Safe to call from concurrent threads."""
    global _SCRATCH_HOOKED
    path = tempfile.mkdtemp(prefix=prefix)
    with _SCRATCH_LOCK:
        _SCRATCH_DIRS.append(path)
        if not _SCRATCH_HOOKED:
            atexit.register(_remove_scratch_dirs)
            _SCRATCH_HOOKED = True
    return path
