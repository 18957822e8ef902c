"""Caller-owned lifecycle for persisted intermediates.

Several operators persist an intermediate frame that the RETURNED
DataFrame still reads (exploded gram tables, LM rollups, per-round
graph frames).  Unpersisting before return would force a full
recompute the moment the caller materializes the result, so the ops
cannot release these themselves.  Instead every such persist site
routes through :func:`track`, and the caller (bench loop, pipeline
driver, test) calls :func:`release_all` once the result has been
consumed — bounding cache residue to one query's working set instead
of accumulating across a 100+-query session (VERDICT r8 item 8 /
ADVICE r8 item 1).

Scopes (ADVICE r9 item 1): ``release_all`` drains the process-global
registry, and a released local checkpoint is permanently dead
(lineage severed) — so a foreachBatch sink running on a
stream-execution thread must NOT call it, or it kills the caches of
any concurrently running query/stream mid-flight.  Such callers wrap
their work in ``with cacheutil.scope():`` instead (streaming/core.py
does this for every foreachBatch micro-batch): track/
local_checkpoint calls made on that thread register into the scope,
and scope exit releases exactly those frames.  The active scope is
thread-local, so two streams' micro-batches cannot see (or release)
each other's frames; ``release_all`` only ever touches the global
registry.

Iterative operators bound mid-query residency two ways (r15): PageRank
rounds are single-consumer and carry NO per-round persist at all (the
one action evaluates each round once as a plain pipeline stage), and
star-contraction phases release each superseded edge checkpoint via
:func:`release_frame` as soon as the next phase's eager checkpoint has
materialized — so peak cached state is O(base frames + 2 phases), not
O(n_rounds) edge-scale frames. A released checkpoint is permanently
dead (lineage severed), which is the standing localCheckpoint trade.
"""
from __future__ import annotations

import threading

from pyspark.sql import DataFrame


class _Scope:
    __slots__ = ("frames", "ckpts")

    def __init__(self) -> None:
        self.frames: list[DataFrame] = []
        self.ckpts: list[tuple[object, frozenset]] = []


_GLOBAL = _Scope()
_local = threading.local()
# localCheckpoint attribution works by diffing the JVM-wide
# persistent-RDD registry around the eager checkpoint; two threads
# checkpointing concurrently would attribute each other's new blocks.
# The lock serializes eager checkpoints (micro-batch scale — cheap)
# in exchange for exact ownership.
_CKPT_LOCK = threading.Lock()


def _active() -> _Scope:
    stack = getattr(_local, "stack", None)
    return stack[-1] if stack else _GLOBAL


class scope:
    """Context manager: frames tracked on this thread inside the
    block are released (and their checkpoint blocks dropped) on
    exit.  Nestable; other threads are unaffected."""

    def __enter__(self) -> "_Scope":
        stack = getattr(_local, "stack", None)
        if stack is None:
            stack = _local.stack = []
        self._scope = _Scope()
        stack.append(self._scope)
        return self._scope

    def __exit__(self, *exc) -> None:
        _local.stack.pop()
        _release(self._scope, blocking=False)


def track(df: DataFrame) -> DataFrame:
    """Register a persisted frame for deferred release; returns it."""
    _active().frames.append(df)
    return df


def local_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint`` with deterministic release.

    localCheckpoint persists RDD blocks OUTSIDE the CacheManager, so
    ``DataFrame.unpersist`` never sees them and they linger until the
    JVM ContextCleaner notices the RDD is garbage.  This wrapper
    diffs the persistent-RDD registry around the (eager) checkpoint
    and records the new block ids; the owning scope (or
    :func:`release_all` for the global registry) drops them
    explicitly.  After release the checkpointed frame is DEAD — local
    checkpoints sever lineage, so there is nothing to recompute from.
    Eager-only: a lazy checkpoint registers no blocks to diff (those
    stay on the ContextCleaner path).
    """
    if not eager:
        return df.localCheckpoint(eager=False)
    sc = df.sparkSession.sparkContext
    with _CKPT_LOCK:
        before = set(sc._jsc.getPersistentRDDs().keySet())
        out = df.localCheckpoint(eager=True)
        new = set(sc._jsc.getPersistentRDDs().keySet()) - before
    if new:
        ids = frozenset(new)
        _active().ckpts.append((sc, ids))
        # remembered on the frame so release_frame() can drop exactly
        # this checkpoint's blocks mid-loop (iterative operators
        # releasing superseded rounds)
        out._fxa_ckpt = (sc, ids)
    return out


def release_frame(df: DataFrame, blocking: bool = False) -> None:
    """Release ONE tracked frame early — the superseded-round hook
    for iterative operators (star contraction): once phase N's eager
    checkpoint has materialized, phase N-1's edge blocks are dead and
    can be dropped without waiting for release_all(). Handles both
    persisted frames and local_checkpoint block registrations; the
    frame is also removed from its scope so the later bulk release
    skips it. Releasing a local checkpoint makes the frame
    permanently dead (lineage severed) — callers must only release
    frames no live plan still reads."""
    ck = getattr(df, "_fxa_ckpt", None)
    scopes = [_GLOBAL] + list(getattr(_local, "stack", []) or [])
    if ck is not None:
        sc, ids = ck
        try:
            jmap = sc._jsc.getPersistentRDDs()
            for i in ids:
                if jmap.containsKey(i):
                    jmap.get(i).unpersist(blocking)
        except Exception:
            pass
        for s in scopes:
            s.ckpts = [c for c in s.ckpts if c[1] != ids]
        return
    try:
        df.unpersist(blocking=blocking)
    except Exception:
        pass
    for s in scopes:
        s.frames = [f for f in s.frames if f is not df]


def _release(s: _Scope, blocking: bool = False) -> int:
    n = 0
    while s.frames:
        df = s.frames.pop()
        try:
            df.unpersist(blocking=blocking)
            n += 1
        except Exception:
            # session already stopped / frame already unpersisted
            pass
    while s.ckpts:
        sc, ids = s.ckpts.pop()
        try:
            jmap = sc._jsc.getPersistentRDDs()
            for i in ids:
                if jmap.containsKey(i):
                    jmap.get(i).unpersist(blocking)
                    n += 1
        except Exception:
            pass
    return n


def release_all(blocking: bool = False) -> int:
    """Unpersist every frame tracked in the GLOBAL registry; returns
    how many were released.  Never touches scoped frames — a caller
    inside ``with cacheutil.scope():`` owns its own lifecycle, and a
    foreachBatch thread must use a scope, not this.

    Safe to call at any time — frames already unpersisted (or whose
    session is gone) are skipped silently.
    """
    return _release(_GLOBAL, blocking=blocking)
