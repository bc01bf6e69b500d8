"""Tracked persist() — bounded cache lifetime for a long-lived
interactive session.

Several pipelines persist intermediates that feed a self-join (LSH
band tables, bucketed projections, ranked distinct sets): without the
persist each join side would recompute the whole upstream DAG. But a
resident analytics service answering many queries would otherwise
accumulate those cached partitions until storage eviction. Every
internal persist therefore goes through :func:`persist`, which
registers the DataFrame in the ACTIVE registry so the owning loop
(perfbench, the oracle gate, an API server's per-request teardown) can
call :func:`release_all` once results are materialized.

Scoping: the registry is a ``contextvars.ContextVar``, so concurrent
or overlapping users (one API request per thread/task) each get an
isolated registry via :func:`scope` — one request's ``release_all``
cannot unpersist another's in-flight caches. Code that never opens a
scope shares the process-default registry (the single-session CLI
case), whose mutation is lock-guarded.

Correctness never rides on these caches: they are pure recomputation
guards. The one operator whose *result* depended on single evaluation
(stats.global_rank's spark_partition_id tagging) uses localCheckpoint
instead; its block storage is registered here too via :func:`track`
so release_all frees it. Releasing a checkpoint whose downstream
result is NOT yet materialized fails that query loudly on next use
(lineage is truncated, blocks are gone) — it can never silently
produce wrong ranks. The registry contract is unchanged: call
release_all only after results are materialized.
"""

from __future__ import annotations

import contextlib
import contextvars
import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame


class LocalCheckpointHandle:
    """Releasable wrapper for a localCheckpoint'd DataFrame: the
    blocks live on the underlying JVM RDD (LogicalRDD), which plain
    DataFrame.unpersist() does NOT touch. Register with track() so
    release_all() frees them, or call unpersist() directly for eager
    per-round cleanup (the connected-components loop)."""

    def __init__(self, df) -> None:
        self._df = df

    def unpersist(self, blocking: bool = False):
        try:
            self._df._jdf.queryExecution().analyzed().rdd().unpersist(
                bool(blocking)
            )
        except Exception:
            pass  # session stopped or checkpoint never materialized
        return self._df


class Registry:
    """A releasable set of persisted DataFrames."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._tracked: list[DataFrame] = []

    def persist(
        self, df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
    ) -> DataFrame:
        with self._lock:
            self._tracked.append(df)
        return df.persist(level)

    def track(self, releasable) -> None:
        """Register an already-materializing resource exposing
        ``unpersist()`` (e.g. a localCheckpoint handle) for
        release_all, WITHOUT calling persist() on it."""
        with self._lock:
            self._tracked.append(releasable)

    def release(self, df: DataFrame) -> DataFrame:
        """Unpersist df IF this registry tracks it; strictly a no-op
        otherwise — unconditionally unpersisting would evict a frame
        persisted under ANOTHER scope's registry mid-query (forcing
        full upstream recomputation, the exact cost the cache
        prevents)."""
        with self._lock:
            try:
                self._tracked.remove(df)
            except ValueError:
                return df
        return df.unpersist()

    def release_all(self) -> int:
        with self._lock:
            dfs, self._tracked = self._tracked, []
        for df in dfs:
            try:
                df.unpersist()
            except Exception:
                pass  # session may already be stopped
        return len(dfs)


_DEFAULT = Registry()
_ACTIVE: contextvars.ContextVar[Registry] = contextvars.ContextVar(
    "hillview_cache_registry", default=_DEFAULT
)


@contextlib.contextmanager
def scope():
    """Run a block with its own isolated registry; everything persisted
    inside is released on exit. Use one scope per request/job in any
    concurrent service."""
    reg = Registry()
    token = _ACTIVE.set(reg)
    try:
        yield reg
    finally:
        _ACTIVE.reset(token)
        reg.release_all()


def persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """persist + register in the active registry for later release_all()."""
    return _ACTIVE.get().persist(df, level)


def track(releasable) -> None:
    """Register an object exposing unpersist() for later release_all()
    (checkpoint handles etc.); persist() is NOT called on it."""
    _ACTIVE.get().track(releasable)


def release(df: DataFrame) -> DataFrame:
    """Unpersist one tracked DataFrame (no-op if untracked)."""
    return _ACTIVE.get().release(df)


def release_all() -> int:
    """Unpersist every DataFrame tracked in the active registry."""
    return _ACTIVE.get().release_all()
