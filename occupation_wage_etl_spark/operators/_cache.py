"""Query-scoped lifetime of the blocks operators hold.

``cached(df)`` persists an intermediate the returned plan reads from
two or more branches (shingle tables, IVF cell assignments, graph edge
lists); ``checkpoint(df)`` local-checkpoints a frame to truncate its
lineage (each round of an iterative operator, a lake rewrite's input).
The caller's action reads both, so the operator cannot release them;
the unit of work that runs the action does, by opening a scope:

    with scope():
        result = some_operator(df)
        result.write.parquet(...)      # the action that reads the blocks

Every block registered inside the ``with`` is released on exit, even on
error, and nothing else is.  Scopes nest, and the current one lives in
a ``ContextVar``, so each thread has its own: two queries sharing a
session never release each other's blocks.  ``tools/harness.run_query``
opens one per query.  Blocks registered outside any scope stay until
:func:`release_cached` / :func:`release_checkpoints` drain them.

References are STRONG: an operator's local wrappers are garbage once it
returns while its blocks live on in the JVM, so a weakref would be dead
by release time — the silent leak this module exists to prevent.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


class _Blocks:
    def __init__(self) -> None:
        self.cached: list[DataFrame] = []
        self.checkpoints: list[DataFrame] = []


_UNSCOPED = _Blocks()
_SCOPE: ContextVar[_Blocks] = ContextVar("operator_blocks", default=_UNSCOPED)


def cached(
    df: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """Persist ``df`` and register it with the current scope.

    Returns the same DataFrame (persist is in-place on the plan)."""
    df.persist(level)
    _SCOPE.get().cached.append(df)
    return df


def checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint()`` (eager), registered with the current
    scope.  Local checkpoints trade executor fault recovery for speed;
    a multi-node deployment swaps in reliable ``checkpoint()`` here."""
    cp = df.localCheckpoint()
    _SCOPE.get().checkpoints.append(cp)
    return cp


def _unpersist_checkpoint(cp: DataFrame) -> None:
    # a checkpointed frame's plan is the LogicalRDD over its blocks
    cp._jdf.queryExecution().logical().rdd().unpersist(False)  # noqa: SLF001


def _drain(frames: list[DataFrame], release) -> int:
    n = 0
    for df in frames:
        try:
            release(df)
            n += 1
        except Exception:  # session already stopped
            pass
    frames.clear()
    return n


@contextmanager
def scope():
    """Release, on exit, every block registered inside the ``with``."""
    blocks = _Blocks()
    token = _SCOPE.set(blocks)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        _drain(blocks.cached, DataFrame.unpersist)
        _drain(blocks.checkpoints, _unpersist_checkpoint)


def release_cached() -> int:
    """Unpersist every frame ``cached`` outside any scope; returns the
    count.  Safe at any point: a NOT-YET-RUN plan that references a
    released frame only recomputes it."""
    return _drain(_UNSCOPED.cached, DataFrame.unpersist)


def release_checkpoints(spark) -> int:
    """Release every local checkpoint taken outside any scope; returns
    the count.  ``spark`` is unused.  Only once no output of those
    operators is still to be read: its lineage ends at these blocks."""
    return _drain(_UNSCOPED.checkpoints, _unpersist_checkpoint)
