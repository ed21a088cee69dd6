"""Operator-created caches, eager lineage cuts and overlapped driver jobs.

Each idea has exactly one spelling in the package, here:

- :func:`release_after` pairs an operator cache with its release handle;
- :func:`cut` is the eager lineage cut;
- :func:`run_jobs` overlaps independent Spark jobs from driver threads.

Several operators cache an intermediate DataFrame that the returned
(lazy) plan consumes more than once — e.g. the shingle table feeding
both sides of a verify join. Those caches must stay alive until the
caller materializes the result, so the operator cannot ``unpersist()``
before returning; but a long-running pipeline that calls these
operators repeatedly must not accumulate executor storage either.

``release_after(result, *cached)`` pairs every operator cache with an
explicit release handle: it attaches an idempotent ``release_caches()``
callable to the returned DataFrame. Callers that are done with a result
(collected it, wrote it out) call ``result.release_caches()``; sweeps
that run many operator queries back-to-back can instead call
``spark.catalog.clearCache()`` between queries (the bench harness
does). Either way, no operator ``.cache()`` is left without a paired
release path.

Deliberately NOT garbage-collection-driven: callers routinely wrap the
result in further transformations (``op(df).orderBy(...)``) and drop
the intermediate Python object immediately, while the derived plan
still reuses the cached data — releasing on GC would silently undo the
cache exactly where it matters.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target


def release_after(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Attach ``result.release_caches()`` which unpersists ``cached``.

    An item that itself carries a ``release_caches`` handle (the result
    of another paired-release operator, consumed as an input here) has
    that inner handle chained as well — composing operators never needs
    hand-rolled release closures at the call site.

    Idempotent; swallows errors from an already-stopped session (there
    is nothing left to release then)."""
    released = False

    def _release() -> None:
        nonlocal released
        if released:
            return
        released = True
        for df in cached:
            inner = getattr(df, "release_caches", None)
            if callable(inner):
                try:
                    inner()
                except Exception:
                    pass
            try:
                df.unpersist()  # no-op when the item was never persisted
            except Exception:
                pass  # session already stopped — nothing to release

    result.release_caches = _release
    return result


def cut(df: DataFrame) -> DataFrame:
    """Eager lineage cut: ``checkpoint(eager=True)`` into the
    SparkContext checkpoint dir when one is configured, else
    ``localCheckpoint(eager=True)``.

    Cut where a frame derives from a scan of the very path its write
    replaces or appends into, where an iterative loop would otherwise
    grow its plan every round, and where a multi-consumer cache would
    hold a whole expression forest. ``localCheckpoint`` blocks are
    executor-local: they die with their executor, failing the job
    instead of recomputing, so a cluster run sets a fault-tolerant
    checkpoint dir (``sparkContext.setCheckpointDir``) and every cut
    lands there. On ``local[N]`` with no dir set nothing changes.

    ``unpersist()`` does not delete reliable checkpoint files. A
    long-lived stream that sets a checkpoint dir should also set
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` so the
    files of cut frames it no longer references are removed; the
    session defaults leave it off."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def run_jobs(fns: Sequence[Callable[[], Any]]) -> list[Any]:
    """Call independent driver-side jobs (table writes, staged
    fixtures, tick stages) overlapped, one thread each, and return
    their results in submission order.

    A single fn runs inline. Each threaded fn inherits the caller's
    Spark local properties and tags (job group, job description,
    scheduler pool), so its jobs are charged to the caller's group.
    Every fn runs to completion before the first failure, in
    submission order, is re-raised: no sibling write is still running
    when the caller sees the error."""
    if len(fns) <= 1:
        return [fn() for fn in fns]
    inherit = inheritable_thread_target(SparkSession.active())
    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        futures = [pool.submit(inherit(fn)) for fn in fns]
    return [f.result() for f in futures]
