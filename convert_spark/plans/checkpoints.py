"""One lifecycle for materialized intermediates: ``checkpoint``,
``release`` and ``hold``.

The engine materializes only where an iterative loop or a multi-reader
plan needs it, in two forms:

* an eager local checkpoint, which cuts lineage (the CC, PageRank and
  kNN loops, shared inputs such as q_pagerank_incremental's edge table).
  Every one is taken by ``checkpoint``, the engine's one materialization
  point;
* a ``persist()`` cache, which keeps lineage (the similarity paths'
  signature tables and corpora).

``checkpoint`` also returns aggregates of the rows it wrote (a loop's
convergence fingerprint, a straggler or node count), computed by an
Observation in the checkpoint's own job, so no second action reads the
data back. The observation sits at the root of the checkpointed plan:
there it is in the result stage, where Spark applies each partition's
update exactly once, and adaptive execution does not prune it when the
result is empty (an empty input still reports a count of 0 and NULL
for the other aggregates). An observation below a shuffle is dropped
with its subtree when that shuffle writes no rows, which is why
``streaming.ingest``'s ``rows_in`` needs a fallback.

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

from pyspark.sql import Column, DataFrame, Observation


def checkpoint(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """Eagerly local-checkpoint ``df``; return the checkpoint and the
    ``metrics`` (name -> aggregate Column over ``df``'s rows) observed at
    the root of the checkpointed plan, in the checkpoint's own job."""
    if metrics:
        obs = Observation()
        df = df.observe(obs, *(c.alias(name) for name, c in metrics.items()))
    out = df.localCheckpoint(eager=True)
    return out, obs.get if metrics else {}


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
