"""Link-graph analysis: deterministic fixed-point PageRank.

Classic damped PageRank (Brin & Page 1998) over a weighted directed edge
list, computed in INTEGER fixed-point so the result is bit-identical
across engines, partitionings and summation orders — floating-point
PageRank is not hash-gateable because 8 iterations of reordered double
sums drift ULPs. Spec (all ops bigint, ``div`` = truncating integer
division; every quantity non-negative so truncation == floor):

    N        = |distinct nodes|
    r_0(v)   = SCALE div N
    outw(s)  = sum of edge weights leaving s
    contrib_t(v) = sum over in-edges (s,v,w) of (r_t(s) * w) div outw(s)
                   -- floor PER EDGE, so the sum is order-independent
    dang_t   = sum of r_t(s) over sinks (no out-edges)
    r_{t+1}(v) = (SCALE*(den-num)) div den div N
                 + (num * (contrib_t(v) + dang_t div N)) div den

with num/den = 85/100 the usual damping. Mass is conserved up to the
deterministic floor losses. Each iteration is one join + one groupBy
shuffle, executed as ONE Spark job: the dangling-mass scalar is a
broadcast 1-row aggregate inside the round's plan, so the driver sees
no data at all. Lineage is truncated per iteration with an eager
checkpoint exactly like the CC loop.

Overflow bounds: r <= SCALE = 1e12, weights < 1e6 -> r*w < 1e18 < 2^63.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**12


def pagerank_integer(
    edges: DataFrame,
    iters: int = 8,
    damp_num: int = 85,
    damp_den: int = 100,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """-> (d, r): node id and fixed-point rank after ``iters`` rounds.

    ``init_ranks`` (d, r) warm-starts the iteration — the daily-crawl
    incremental shape: fold today's new edges into the graph and run a
    few rounds from yesterday's converged ranks instead of ``iters``
    cold rounds (PageRank's contraction makes the fixed point
    independent of the start; warm starts just arrive nearer). Nodes
    absent from ``init_ranks`` seed at the cold value SCALE div N. The
    warm recurrence is exactly the cold one — same integer spec, so a
    warm run is hash-gateable too (q_pagerank_incremental).

    Checkpoint storage is O(1) in rounds: each iteration releases the
    superseded ranks (plans/checkpoints.py), and the fixed inputs
    (edges/nodes/sinks) are released once the loop ends — the returned
    DataFrame owns exactly ONE checkpoint (its own final ranks)."""
    from ..plans.checkpoints import checkpoint, release

    if iters < 1:
        # with iters=0 the returned frame would still derive from the
        # nodes checkpoint that the final release() frees — evaluating
        # it later reads released checkpoint storage (ADVICE r7)
        raise ValueError("pagerank_integer requires iters >= 1")
    # checkpoint the (possibly expensive) edge input ONCE: nodes, outw,
    # e_o and sinks all derive from it — without this an upstream like
    # the link-extraction regex pipeline re-evaluates 3-4x (measured
    # 88s -> the q_pagerank_incremental bench row before this line)
    e, _ = checkpoint(
        edges.select(
            F.col(src).cast("string").alias("src"),
            F.col(dst).cast("string").alias("dst"),
            F.col(weight).cast("long").alias("w"),
        )
    )
    nodes, m = checkpoint(
        e.select(F.col("src").alias("d")).unionByName(e.select(F.col("dst").alias("d"))).distinct(),
        n=F.count(F.lit(1)),
    )
    n = m["n"]
    if n == 0:
        release(nodes, e)
        return edges.sparkSession.createDataFrame([], "d string, r long")
    outw = e.groupBy("src").agg(F.sum("w").alias("ow"))
    e_o, _ = checkpoint(e.join(outw, "src"))  # (src, dst, w, ow)
    sinks, _ = checkpoint(nodes.join(outw, nodes["d"] == outw["src"], "left_anti").select("d"))
    base = (SCALE * (damp_den - damp_num)) // damp_den // n
    if init_ranks is None:
        r = nodes.select("d", F.lit(SCALE // n).cast("long").alias("r"))
    else:
        prev = init_ranks.select(F.col("d"), F.col("r").cast("long").alias("r_prev"))
        r = nodes.join(prev, "d", "left").select(
            "d", F.coalesce("r_prev", F.lit(SCALE // n).cast("long")).alias("r")
        )
    for _ in range(iters):
        # the dangling share is a broadcast 1-row aggregate INSIDE the
        # round's plan — zero driver traffic, one Spark job per round
        # (the eager checkpoint's materialization runs everything)
        dang = sinks.join(r, "d").agg(
            F.expr(f"coalesce(sum(r), 0L) div {n}L").alias("ds")
        )
        contrib = (
            e_o.join(r, e_o["src"] == r["d"])
            .select(F.col("dst"), F.expr("(r * w) div ow").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        r_next, _ = checkpoint(
            nodes.join(contrib, nodes["d"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "d",
                F.expr(
                    f"{base}L + (({damp_num}L * (coalesce(contrib, 0L) + ds)) div {damp_den}L)"
                ).alias("r"),
            )
        )
        release(r)
        r = r_next
    release(e, nodes, e_o, sinks)  # final r is self-contained
    return r
