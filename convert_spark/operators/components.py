"""Connected components over near-duplicate pair graphs (dedup clustering).

The missing last step of every dedup family in this engine (exact /
MinHash-LSH / SimHash / n-gram Jaccard / embedding near-dup all emit
candidate PAIRS): group the pairs into clusters and pick one canonical
document per cluster. Component id = the minimum doc id in the component,
so the output is deterministic and the canonical pick is "keep the
smallest id".

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) — the standard
shuffle-friendly formulation:

* large-star: every node connects its LARGER neighbors to its current
  minimum neighbor (including itself),
* small-star: every node connects its smaller-or-equal neighbors to the
  minimum.

Each round computes both stars' minima as window aggregates over the
edge list (no join): a hash exchange per star plus one final distinct.
The edge list contracts toward star graphs centered on component minima
in O(log^2 n) rounds (in practice a handful). No driver-side graph state
— the edge RDD never leaves the cluster. Convergence is observed on the
round's checkpoint: an edge-set fingerprint (count, xor and sum of edge
hashes) rides in the job that materializes the round's edges, so a round
is one action and no edge is collected.

At 100 TB: near-dup graphs are sparse (bounded candidate generation
upstream) and components are small (duplicate clusters), so the edge list
shrinks fast; skewed hubs (one doc near-duplicate to millions) are the
case large-star handles — it re-attaches the hub's neighbors to the
minimum in one round instead of chaining. The window form has a cost
there: all of a hub's neighbor rows meet in ONE window task per star, a
sort as large as the hub's degree, where an aggregate + join would let
AQE's skew split cut the hub's join partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.checkpoints import checkpoint, release


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u over its neighborhood N(u) ∪ {u}: connect every
    STRICTLY larger neighbor to m = min(N(u) ∪ {u}). Rows may repeat:
    a repeat cannot change a minimum, and _small_star ends in distinct."""
    nbrs = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # min(N(u) ∪ {u}) folds the self-term into the window minimum: least(min
    # over neighbors, u); every edge endpoint appears in nbrs.u, and m <= u
    # < v, so (m, v) is already canonical
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    return nbrs.withColumn("m", m).filter(F.col("v") > F.col("u")).select(F.col("m").alias("u"), "v")


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node n: connect every neighbor <= n (and n itself) to
    m = min of that set."""
    # orient edges toward the larger endpoint: rows (n, smaller neighbor)
    nbrs = edges.select(F.col("v").alias("n"), F.col("u").alias("s"))
    # same self-term folding: m = least(min over smaller neighbors, n); each
    # row emits (m, s) and the self contribution (m, n). m is a column of
    # its own first: a window cannot sit inside the generator
    m = F.least(F.min("s").over(Window.partitionBy("n")), F.col("n"))
    both = F.array(
        F.struct(F.col("m").alias("u"), F.col("s").alias("v")),
        F.struct(F.col("m").alias("u"), F.col("n").alias("v")),
    )
    return (
        nbrs.withColumn("m", m)
        .select(F.inline(both))
        .filter(F.col("u") != F.col("v"))  # m <= s < n: only (m, s) can be a self-loop
        .distinct()
    )


def _checkpoint_edges(edges: DataFrame) -> tuple[DataFrame, tuple[int, int, int, int]]:
    """The eager checkpoint of ``edges`` and its convergence fingerprint
    over the rows with u != v (the edges; a self-pair row is a node only),
    observed in the checkpoint's own job: (count, xor, salted xor, wrapped
    sum) of per-edge hashes, an order-independent check with no edge
    collect. Two independent hash streams (plain / salted xxhash64) plus
    the additive sum make a silent collision (two distinct edge sets with
    equal fingerprint declaring convergence early and emitting corrupt
    duplicate memberships) require simultaneous collisions in three
    decorrelated 64-bit channels. Each channel skips the NULLs of
    non-edge rows; an empty edge set observes NULL hashes, read as 0."""
    edge = F.col("u") != F.col("v")
    eh = F.when(edge, F.xxhash64("u", "v"))
    edges, m = checkpoint(
        edges,
        n=F.count(eh),
        h=F.bit_xor(eh),
        h2=F.bit_xor(F.when(edge, F.xxhash64(F.lit(0x5A17), "u", "v"))),
        # additive channel folded to 20 bits per term: a raw bigint sum
        # would overflow (an ERROR under Spark 4 ANSI mode); 30-bit
        # terms only held to 2^33 (~8.6B) edges — plausible at 100 TB.
        # 20-bit terms keep the sum in int64 to 2^43 (~8.8T) edges,
        # and the channel is one of four (count/xor/salted-xor/sum),
        # so the narrower fold does not meaningfully weaken the
        # combined collision resistance.
        hs=F.sum(F.pmod(eh, F.lit(1 << 20))),
    )
    return edges, (m["n"], m["h"] or 0, m["h2"] or 0, m["hs"] or 0)


def connected_components(
    pairs: DataFrame,
    a: str = "a_id",
    b: str = "b_id",
    max_rounds: int = 50,
    round_stats: list | None = None,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``, where
    component = min node id of the connected component.

    ``round_stats``, when given, receives one (round, n_edges) tuple per
    completed large-star/small-star round — the edge counts come from the
    convergence fingerprint observed on the round's checkpoint, so the
    evidence is free (no extra job).

    Alternates large-star/small-star until the edge set is stable (a
    star graph is a fixed point of both). Each round eagerly checkpoints
    the new edge list — lineage would otherwise double per round. A
    converged star graph holds exactly one edge (component, node) per
    non-root node, so the membership is every node LEFT-joined to the
    star edges, a node without an edge being its own component.

    ``max_rounds`` default: measured worst case is ~log2(diameter)+1
    rounds (bench.py cc_convergence: a 100k-node chain converges in 18
    rounds, 50k realistic clusters in 3), so 50 covers a pathological
    single chain of ~2^48 nodes — far past the 10^12-doc design scale —
    while converged graphs never pay for the headroom.
    """
    # EAGER checkpoint each round: truncates the per-round lineage
    # doubling. (A lazy checkpoint materialized by a separate fingerprint
    # action was measured 5x SLOWER end-to-end — the un-materialized plan
    # is re-optimized/re-planned by every round built on top of it.)
    # ONE checkpoint at entry holds the canonical pairs (u <= v, distinct):
    # ``pairs`` is typically the expensive upstream candidate join, and
    # both the node set and the first edge list are lazy reads of it, so
    # that lineage runs once. least/greatest skip NULLs, so (5, NULL) is
    # the self-pair (5, 5) — node 5 stays a node — and only an all-NULL
    # pair is dropped. Checkpoint storage is O(1) in rounds: each round
    # releases the superseded generation (plans/checkpoints.py).
    canon, fp = _checkpoint_edges(
        pairs.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .filter(F.col("u").isNotNull())
        .distinct()
    )
    all_nodes = canon.select(F.explode(F.array("u", "v")).alias("node")).distinct()
    edges = canon.filter(F.col("u") != F.col("v"))
    converged = False
    for rnd in range(max_rounds):
        edges2, fp2 = _checkpoint_edges(_small_star(_large_star(edges)))
        release(edges)  # the first round's edges are a lazy read of ``canon``: a no-op
        edges = edges2
        if round_stats is not None:
            round_stats.append((rnd + 1, fp2[0]))
        if fp2 == fp:
            converged = True
            break
        fp = fp2
    if not converged:
        # an unconverged edge set yields DUPLICATE node rows with
        # conflicting components — corrupt output; fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds "
            f"({fp[0]} edges remain); raise max_rounds"
        )
    members = edges.select(F.col("v").alias("node"), F.col("u").alias("component"))
    return all_nodes.join(members, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )


def incremental_components(
    prev_membership: DataFrame,
    new_pairs: DataFrame,
    a: str = "a_id",
    b: str = "b_id",
    max_rounds: int = 50,
    round_stats: list | None = None,
) -> DataFrame:
    """Update (node, component) membership with a NEW batch of candidate
    pairs WITHOUT recomputing over the historical pair graph.

    The previous membership's star edges (node -> component) are a
    component-equivalent contraction of every pair ever seen — a star
    graph is a fixed point of large-star/small-star, and its component
    ids are real node ids (the old minima) — so connected components over
    (star edges UNION new pairs) equals connected components over the
    full historical-union graph, node for node.

    This is the daily-crawl shape at 10^12 docs: each increment costs
    O(|corpus nodes| + |new pairs|) instead of O(|all historical pairs|)
    — the historical candidate-pair graph (quadratic-ish in cluster
    sizes) never has to be stored or re-shuffled, only the linear-size
    membership table. Singleton rows (node == component) become
    self-pairs, which the CC entry keeps as singleton nodes, so no old
    node ever drops out of the membership. Typically converges in very
    few rounds: the old graph is already star-shaped, so only the
    new-pair seams contract.
    """
    star = prev_membership.select(
        F.col("node").alias(a), F.col("component").alias(b)
    )
    return connected_components(
        star.unionByName(new_pairs.select(F.col(a), F.col(b))),
        a,
        b,
        max_rounds=max_rounds,
        round_stats=round_stats,
    )


def dedup_canonical(pairs: DataFrame, docs: DataFrame, doc_id: str = "doc_id", a: str = "a_id", b: str = "b_id") -> DataFrame:
    """Dedup decision table: every doc in ``docs`` with its cluster id and
    keep flag (keep = not in any cluster, or the cluster's minimum id)."""
    comp = connected_components(pairs, a, b)
    out = docs.join(comp, docs[doc_id] == comp["node"], "left").select(
        docs[doc_id],
        F.coalesce(F.col("component"), docs[doc_id]).alias("cluster_id"),
    )
    return out.withColumn("keep", (F.col(doc_id) == F.col("cluster_id")).cast("boolean"))
