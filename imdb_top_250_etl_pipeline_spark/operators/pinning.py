"""Resource lifecycle for eager ``localCheckpoint`` pins.

Several operators in this package (distributed windows' partition-id
pinning, PageRank / connected-components / k-means / BPE iteration,
the dedup signature bases) MUST materialize an intermediate eagerly:
either two plan branches have to observe the same physical
partitioning (``spark_partition_id`` would otherwise disagree across
a re-sampled range exchange), or an iterative loop's lineage would
double per round.  ``DataFrame.localCheckpoint(eager=True)`` is the
local-mode tool for both — but it parks unreplicated blocks in
executor storage with NO public unpersist path: the checkpointed
DataFrame is backed by a ``LocalCheckpointRDD`` whose persisted
blocks ``DataFrame.unpersist()`` does not touch.  A long composed
pipeline that calls these operators repeatedly therefore accumulates
dead blocks until the session dies — the one cluster-reliability gap
the round-6 audit left open.

This module closes it with one lifetime rule: a pin belongs to the
innermost open scope of the thread that took it, and lives until that
scope is released.

* ``pin(df)`` — localCheckpoint + return ``(pinned_df, PinHandle)``.
  The handle releases exactly the blocks that checkpoint created
  (tracked by diffing ``SparkContext.getPersistentRDDs`` around the
  call).  Iterative operators use this to free round N-1's blocks as
  soon as round N has materialized.
* ``eager_pin(df)`` — ``pin`` without exposing the handle; the pin is
  still filed under its thread's innermost ``pin_scope`` (if any),
  which releases it when the scope closes.
* ``pin_scope()`` — context manager for pipeline authors: every pin
  taken inside the ``with`` block on this thread (by ANY operator in
  this package) is unpersisted on exit, idempotently.  Scopes stack
  per thread, so a scope another thread opens or closes meanwhile
  never adopts or frees this thread's pins.  The 100 TB composition
  pattern::

      with pin_scope():
          groups = dedup_groups(pairs)
          groups.write.parquet(out)    # consume INSIDE the scope
      # all checkpoint blocks freed here

* A pin taken with no scope open has no owner here: its blocks live
  until Spark's ContextCleaner collects the dropped DataFrame, or the
  session ends.  The driver adapter (``__spark_entry__.queries()``)
  opens none, so a consumer may build every query ahead, or on
  threads, and collect later.

CONTRACT: a pinned DataFrame is executor-storage-backed and cannot be
recomputed once released (lineage is truncated at the checkpoint —
Spark raises CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).  Consume results
before the scope closes / the handle releases.  Release is
best-effort and never raises: a stopped context or a Connect session
(no JVM handle) degrades to a no-op, matching the pre-handle
behavior.  The persistent-id diff in ``pin`` and a handle's release
serialize through one lock.  A callback that Spark runs on its own
thread (a ``foreachBatch`` body runs on a Py4J thread) has no scope
unless it opens one.

On a real cluster, prefer reliable ``checkpoint()`` (HDFS-backed,
survives executor loss) for the iterative operators.  That swap is ONE
LINE for the pipeline author: ``pin_scope(reliable_dir=...)`` makes
every pin taken inside the scope a reliable ``DataFrame.checkpoint``
into that directory (re-runnable from storage after executor loss)
instead of a localCheckpoint — no operator changes, because every
operator already routes through this seam.  The scope removes its
checkpoint files on exit, so the storage lifecycle matches the block
lifecycle of the local mode.
"""
from __future__ import annotations

import os
import shutil
import threading
import uuid
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

_LOCK = threading.RLock()


class _ThreadScopes(threading.local):
    def __init__(self) -> None:
        # this thread's open scopes, innermost last
        self.stack: list[_PinScope] = []


_OPEN = _ThreadScopes()


def _persistent_ids(sc) -> set[int]:
    """Ids of currently-persisted RDDs (empty set when the JVM handle
    is unavailable, e.g. Spark Connect)."""
    try:
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())
    except Exception:
        return set()


def pinned_rdd_count(spark) -> int:
    """How many RDDs hold executor storage right now — the test/debug
    counter for asserting pins are freed."""
    return len(_persistent_ids(spark.sparkContext))


class PinHandle:
    """Releases the executor-storage blocks one ``pin`` call created.

    ``release()`` is idempotent and never raises; after it, the pinned
    DataFrame must not be consumed again (its lineage was truncated at
    the checkpoint, so the blocks are the only copy of the data).
    """

    def __init__(self) -> None:
        self._entries: list[tuple[object, int]] = []
        self.released = False

    def _add(self, sc, ids) -> None:
        self._entries.extend((sc, i) for i in ids)

    def release(self, blocking: bool = False) -> None:
        with _LOCK:
            if self.released:
                return
            self.released = True
            entries, self._entries = self._entries, []
        for sc, rdd_id in entries:
            try:
                jrdd = sc._jsc.getPersistentRDDs().get(rdd_id)
                if jrdd is not None:
                    jrdd.unpersist(blocking)
            except Exception:
                pass  # context stopped / no JVM handle: nothing to free


class _PinScope:
    def __init__(self, reliable_dir: str | None = None) -> None:
        self._handles: list[PinHandle] = []
        # reliable mode: pins inside this scope become DataFrame
        # .checkpoint() into a scope-owned subdir of reliable_dir
        self.reliable_dir: str | None = None
        if reliable_dir is not None:
            self.reliable_dir = os.path.join(
                reliable_dir, f"pin-scope-{uuid.uuid4().hex[:12]}"
            )
        self._ckpt_dir_set = False
        self._prev_ckpt_dir: str | None = None
        self._sc = None

    def _ensure_checkpoint_dir(self, sc) -> None:
        """Point the context's checkpoint dir at this scope's subdir.

        setCheckpointDir is context-global, so the scope captures the
        previous value on its first reliable pin and RESTORES it on
        release — otherwise a user ``df.checkpoint()`` after the scope
        exits (or an outer nested scope's next pin) would target the
        already-deleted scope subdir.  Re-checked on EVERY pin, not
        once: a nested scope may have re-pointed the context between
        this scope's pins.
        """
        if not self._ckpt_dir_set:
            self._sc = sc
            try:
                self._prev_ckpt_dir = sc.getCheckpointDir()
            except Exception:
                self._prev_ckpt_dir = None
            self._ckpt_dir_set = True
        # setCheckpointDir appends a fresh UUID subdir per call, so only
        # re-assert when the context no longer points inside this scope
        # (substring check tolerates the file:/ scheme prefix)
        try:
            cur = sc.getCheckpointDir()
        except Exception:
            cur = None
        if cur is None or self.reliable_dir not in cur:
            sc.setCheckpointDir(self.reliable_dir)

    def _restore_checkpoint_dir(self) -> None:
        """Put the context's checkpoint dir back to its pre-scope value
        (including the None / unset state, which the public
        setCheckpointDir API cannot express — best-effort via the
        underlying Scala ``checkpointDir`` Option)."""
        sc = self._sc
        if sc is None:
            return
        try:
            jssc = sc._jsc.sc()
            opt = sc._jvm.scala.Option.apply(self._prev_ckpt_dir)
            getattr(jssc, "checkpointDir_$eq")(opt)
        except Exception:
            pass  # stopped context / Connect: nothing to restore

    def release(self, blocking: bool = False) -> None:
        for h in self._handles:
            h.release(blocking)
        if self.reliable_dir is not None and self._ckpt_dir_set:
            # the scope's checkpoint FILES are the reliable analogue of
            # the local mode's executor blocks: same consume-inside-
            # the-scope contract, so remove them on exit (best-effort —
            # a DFS path would use its own client here) and hand the
            # context's checkpoint dir back to whoever owned it before
            self._restore_checkpoint_dir()
            shutil.rmtree(self.reliable_dir, ignore_errors=True)


@contextmanager
def pin_scope(reliable_dir: str | None = None) -> Iterator[_PinScope]:
    """Release every checkpoint pin taken inside the block on exit —
    including pins an operator already released itself (idempotent).

    ``reliable_dir`` switches every pin in the scope from
    ``localCheckpoint`` (executor-storage blocks, lost with an
    executor) to reliable ``DataFrame.checkpoint`` into a scope-owned
    subdirectory (storage-backed, recomputable after executor loss) —
    the one-line cluster swap SCALING.md §5 describes.  Results are
    identical in both modes (asserted in tests/test_pinning.py); the
    scope deletes its checkpoint subdirectory on exit.
    """
    scope = _PinScope(reliable_dir)
    _OPEN.stack.append(scope)
    try:
        yield scope
    finally:
        _OPEN.stack.pop()
        scope.release()


def pin(df: DataFrame) -> tuple[DataFrame, PinHandle]:
    """Eager localCheckpoint with a release handle.

    The handle is ALSO registered with this thread's innermost open
    scope so a caller that forgets (or an exception path that skips)
    the explicit release is still covered; double release is a no-op.
    """
    try:
        sc = df.sparkSession.sparkContext
    except Exception:
        # Connect session: no JVM-side tracking possible; keep the
        # pre-handle behavior and hand back an inert handle
        return df.localCheckpoint(eager=True), PinHandle()
    stack = _OPEN.stack
    scope = stack[-1] if stack else None
    with _LOCK:
        reliable = scope is not None and scope.reliable_dir is not None
        if reliable:
            scope._ensure_checkpoint_dir(sc)
        before = _persistent_ids(sc)
        out = (
            df.checkpoint(eager=True)
            if reliable
            else df.localCheckpoint(eager=True)
        )
        handle = PinHandle()
        handle._add(sc, _persistent_ids(sc) - before)
        if scope is not None:
            scope._handles.append(handle)
    return out, handle


def eager_pin(df: DataFrame) -> DataFrame:
    """``pin`` for call sites that hand their result to the caller:
    the blocks live until this thread's innermost scope (if any)
    closes — exactly the old ``localCheckpoint(eager=True)`` behavior
    when no scope is open."""
    out, _ = pin(df)
    return out
