"""SparkSession factory tuned for this engine.

Local mode is a correctness/bench proxy for a multi-executor cluster; the
settings below are the ones that transfer (AQE, Arrow, shuffle partitions
sized to cores, UTC timezone for oracle comparison).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def num_partitions(df) -> int:
    """Partition count of a DataFrame's physical plan, via the JVM-side
    internal RDD. ``df.rdd`` builds the same plan but ALSO wraps it in a
    Python-deserializer RDD (~40% slower per probe, measured round 8);
    both report the identical partition count — the deserializer is a
    1:1 mapPartitions. Falls back to ``df.rdd`` if the internal handle
    is unavailable."""
    try:
        return df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:
        return df.rdd.getNumPartitions()


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Ensure at least default-parallelism partitions ahead of a
    per-row-expensive stage (signature/codec UDFs, heavy regex, vector
    norm folds): the small test-scale parquets scan as O(1) partitions,
    which would pin that stage to one core. No-op — no shuffle added —
    when the scan already provides enough partitions, which is the
    production case (a 100 TB table arrives in thousands of splits).
    ``key_cols`` hash-partition the spread instead of round-robin.

    Test-scale cost (accepted, documented so bench readers don't chase
    it): the partition-count probe materializes the plan
    (``num_partitions`` — the cheap JVM-side variant, round 8) and, when
    it fires, adds one real exchange — at sf0.01/0.1 this can visibly
    shift sub-second walls (e.g. q_fingerprint 0.34->0.66 s on the
    round-5 VM). The production shape is unchanged; see bench.py."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if num_partitions(df) >= p:
        return df
    return df.repartition(p, *key_cols) if key_cols else df.repartition(p)


def fence(df: DataFrame, *names: str) -> DataFrame:
    """``df`` with its columns ``names`` re-emitted through one
    ``inline(array(struct(...)))`` Generate: the engine's one optimizer
    fence.

    The rule: a column computed by a costly expression (a Python UDF, a
    regex or trig chain) leaves the operator that computes it through
    this fence when a filter or join above it reads the column. Catalyst
    pushes a predicate below the Project that computes a column by pasting
    in the column's whole expression, so the filter re-derives the value
    per row (a deterministic Python UDF plans a second ArrowEvalPython). The
    implicit ``size > 0`` / ``isnotnull`` filter of an explode, a join's
    ``isnotnull`` and a per-group ``cell_bucket IN (...)`` filter all do
    this. A Generate's output is opaque to pushdown, so every consumer
    above the fence reads the value computed once below it.

    Every other column passes through as a plain child column, so
    predicates on it still push to the scan (PushedFilters, partition
    pruning) and column pruning still reaches it. Column order, names,
    types and nullability are kept, and the one-element array yields
    exactly one row per input row."""
    rest = [c for c in df.columns if c not in names]
    return df.select(*rest, F.inline(F.array(F.struct(*names)))).select(*df.columns)


def _memory_defaults(ram_bytes: int) -> tuple[str, str]:
    """Default (driver heap, off-heap) sizes for a host with ``ram_bytes``
    of physical memory: 24g and 16g where three quarters of RAM hold both,
    else that three-quarter budget split in the same 3:2 ratio, so heap +
    off-heap stays below RAM."""
    budget = ram_bytes * 3 // 4 >> 20  # MiB
    return f"{min(24 << 10, budget * 3 // 5)}m", f"{min(16 << 10, budget * 2 // 5)}m"


def get_session(
    cores: int | None = None,
    app_name: str = "convert_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` -> ``local[*]``. ``shuffle_partitions`` defaults to the
    core count (local mode: the 200 default over-parallelizes small data and
    under-parallelizes big data; at cluster scale this is set per-job).
    ``master`` overrides the local[N] default (e.g.
    ``local-cluster[N,cores,mem_mb]`` for true multi-executor-JVM runs —
    the scaling bench's executor mode).
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores_str = env if env else "*"
    else:
        cores_str = str(cores)
    n_parts = shuffle_partitions or (int(cores_str) if cores_str != "*" else (os.cpu_count() or 8))
    heap, offheap = _memory_defaults(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))

    builder = (
        SparkSession.builder.master(master or f"local[{cores_str}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches of wide text thrash the on-heap allocator at
        # high thread counts (measured 3.5x slowdown at local[32]); 16k rows
        # + off-heap Arrow buffers restore scaling
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        .config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size", os.environ.get("SPARK_GRAFT_OFFHEAP", offheap))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", heap))
        # Netty's default direct-arena count starves the Arrow->Python
        # write path at high local thread counts (measured 6x slowdown of
        # pandas stages at local[32]; allocator lock contention). One arena
        # per task thread restores linear scaling.
        .config(
            "spark.driver.extraJavaOptions",
            "-Dio.netty.allocator.numDirectArenas=64 -Dio.netty.allocator.numHeapArenas=64",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # let the planner pick shuffled-hash joins when the per-partition
        # build side fits (guide §9): the engine's candidate/dim join
        # sides are slim by design, and skipping the sort-merge sorts
        # measured a consistent win across the join-heavy suite (round
        # 8: dedup_incremental -26%, knn -35%, asof/revenue/quota -30%;
        # nothing regressed warm). Bucketed co-located joins pin their
        # SortMergeJoin shape explicitly via a MERGE hint (bucketing.py)
        # and are unaffected.
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
