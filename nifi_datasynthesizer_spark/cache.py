"""The one owner of the intermediate-cache policy.  An operator that
returns a lazy frame cannot unpersist its own intermediates, so it
``pin``s them here; callers free them per query (``release_caches``)
or per block (``released``).  ``cut`` truncates iterative lineage."""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame

# Frames persisted by pin() and not yet released.
_PINNED: list[DataFrame] = []


def pin(df: DataFrame) -> DataFrame:
    _PINNED.append(df.persist())
    return df


def cut(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and truncate its lineage (localCheckpoint,
    eager).  Iterative operators that rebuild ``x = f(x)`` per round
    grow an O(iters)-deep logical plan even when each round's DATA is
    persisted — Catalyst re-analyzes the whole nested tree every
    round, so driver-side analysis cost is quadratic in the iteration
    budget.  Cutting every few rounds keeps analysis depth bounded by
    the cadence while leaving values bit-identical (the checkpoint
    stores the exact computed partitions).  Blocks are freed by the
    context cleaner once the frame is unreachable, never by
    ``release_caches`` (a released local checkpoint fails on re-read;
    it does not recompute).

    Executor-loss trade-off: the checkpointed blocks live only in
    executor storage and the lineage behind them is gone, so on a
    cluster losing an executor (or dynamic allocation removing one)
    fails the job instead of recomputing.  The swap for such
    deployments is reliable ``df.checkpoint()`` with
    ``SparkContext.setCheckpointDir`` on shared storage: same values,
    one extra write per cut."""
    return df.localCheckpoint()


def release_caches() -> None:
    """Unpersist every frame pinned since the last call.  Safe while
    results are still held: an unpersisted frame recomputes, it never
    corrupts."""
    while _PINNED:
        _PINNED.pop().unpersist()


@contextmanager
def released() -> Iterator[None]:
    """Unpersist the pins made inside the block when it exits, normally
    or by an exception; pins made before the block stay.  The block
    owns every pin made while it runs, so it must not overlap another
    thread's pinning (a foreachBatch handler runs while the driver
    thread only waits on the stream)."""
    mark = len(_PINNED)
    try:
        yield
    finally:
        while len(_PINNED) > mark:
            _PINNED.pop().unpersist()
