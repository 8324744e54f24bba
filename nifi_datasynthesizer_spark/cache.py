"""The one owner of the intermediate-cache policy.  An operator that
returns a lazy frame cannot unpersist its own intermediates, so it
``pin``s them here, and a frame that reads files lazily keeps them in a
``scratch`` directory; callers free both per query (``release_caches``)
or per block (``released``).  ``cut`` truncates iterative lineage."""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame

# Frames persisted by pin() and directories made by scratch(), not yet
# released.
_PINNED: list[DataFrame] = []
_SCRATCH: list[str] = []


def pin(df: DataFrame) -> DataFrame:
    _PINNED.append(df.persist())
    return df


def scratch() -> str:
    """A new ``spark_graft_*`` temp directory for files a returned
    frame reads lazily; it is removed with the pins."""
    d = tempfile.mkdtemp(prefix="spark_graft_")
    _SCRATCH.append(d)
    return d


def _release(pins: int = 0, dirs: int = 0) -> None:
    while len(_PINNED) > pins:
        _PINNED.pop().unpersist()
    while len(_SCRATCH) > dirs:
        shutil.rmtree(_SCRATCH.pop(), ignore_errors=True)


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
    """Unpersist every frame pinned and remove every scratch directory
    made since the last call.  An unpersisted frame still held
    recomputes, it never corrupts; a frame that reads a removed
    scratch directory fails, so release only after consuming it."""
    _release()


@contextmanager
def released() -> Iterator[None]:
    """Release the pins and scratch directories made inside the block
    when it exits, normally or by an exception; those made before the
    block stay.  The block owns everything made while it runs, so it
    must not overlap another thread's pinning (a foreachBatch handler
    runs while the driver thread only waits on the stream)."""
    marks = len(_PINNED), len(_SCRATCH)
    try:
        yield
    finally:
        _release(*marks)
