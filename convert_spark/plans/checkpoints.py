"""One lifecycle for materialized intermediates: ``release`` and ``hold``.

The engine materializes only where an iterative loop or a multi-reader
plan needs it, in two forms:

* an eager ``localCheckpoint``, which cuts lineage (the CC, PageRank and
  kNN loops, shared inputs such as q_pagerank_incremental's edge table);
* a ``persist()`` cache, which keeps lineage (the similarity paths'
  signature tables and corpora).

Without a lifecycle both forms pin executor storage until the session
dies: a 50-round CC over a TB-scale edge list would hold fifty
generations of it. The rule:

* A superseded intermediate is released at once (``release``).
* A cache that the returned lazy result reads is held (``hold``): it is
  released when the result object is garbage-collected, or early by
  ``result._release()``.
* A checkpoint that the returned result reads is left to the JVM
  ContextCleaner, which frees it once no plan references it. Never
  ``hold`` a checkpoint: a DataFrame derived from the result would then
  read freed blocks.

Each call releases only what its own DataFrames own, so concurrent
operators on one session never free each other's storage.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame


def release(*dfs: DataFrame) -> None:
    """Free the storage each of ``dfs`` owns: a persisted cache via
    ``unpersist``, an eager checkpoint via the RDD at the root of its own
    plan. A no-op on a lazy frame and on one already released. A released
    checkpoint is gone for good: an action on it fails loudly."""
    for df in dfs:
        if df.is_cached:
            df.unpersist()
            continue
        plan = df._jdf.queryExecution().logical()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)


def hold(result: DataFrame, *deps: DataFrame) -> DataFrame:
    """Release the caches ``deps`` when ``result`` is garbage-collected
    (CPython refcounting: once the caller's terminal action drops it) or
    on ``result._release()``. A dep that itself holds caches (an earlier
    ``hold`` result) hands its set over to ``result``."""
    held = []
    for dep in deps:
        fin = getattr(dep, "_release", None)
        if fin is None:
            held.append(dep)
        elif (state := fin.detach()) is not None:
            held += state[2]
    result._release = weakref.finalize(result, release, *held)
    result._release.atexit = False  # the JVM goes down with the interpreter
    return result
