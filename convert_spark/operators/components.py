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

Each round is two groupBy shuffles over the edge list; the edge list
contracts toward star graphs centered on component minima in
O(log^2 n) rounds (in practice a handful). No driver-side graph state —
the edge RDD never leaves the cluster. Convergence is observed on the
round's checkpoint: an edge-set fingerprint (count, xor and sum of edge
hashes) rides in the job that materializes the round's edges, so a round
is one action and no edge is collected.

At 100 TB: near-dup graphs are sparse (bounded candidate generation
upstream) and components are small (duplicate clusters), so the edge list
shrinks fast; skewed hubs (one doc near-duplicate to millions) are exactly
the case large-star handles — it re-attaches the hub's neighbors to the
minimum in one round instead of chaining.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.checkpoints import checkpoint, release


def _canon_edges(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Undirected edge list as (u, v) with u < v, deduplicated, self-loops
    dropped."""
    u = F.least(F.col(a), F.col(b)).alias("u")
    v = F.greatest(F.col(a), F.col(b)).alias("v")
    return (
        pairs.filter(F.col(a).isNotNull() & F.col(b).isNotNull())
        .select(u, v)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node n over its neighborhood N(n) ∪ {n}: connect every
    STRICTLY larger neighbor to m = min(N(n) ∪ {n})."""
    nbrs = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # min(N(u) ∪ {u}) folds the self-term into the aggregate: least(min
    # over neighbors, u) — the former explicit self-loop union branch
    # cost one distinct Exchange per round for rows the aggregate can
    # synthesize from its own grouping key (round 8, guide §2.4); the
    # emitted m values are identical, u ranges over the same node set
    # (every edge endpoint appears in nbrs.u by construction)
    m = nbrs.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
    out = (
        nbrs.join(m, "u")
        .filter(F.col("v") > F.col("u"))  # larger neighbors only
        .select(F.col("m").alias("u"), F.col("v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )
    return out


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node n: connect every neighbor <= n (and n itself) to
    m = min of that set."""
    # orient edges toward the larger endpoint: rows (n, smaller neighbor)
    nbrs = edges.select(F.col("v").alias("n"), F.col("u").alias("s"))
    # same self-term folding as _large_star: m = least(min over smaller
    # neighbors, n). The former self-loop rows (n, n) contributed exactly
    # the edges (m(n), n) — which is the m table itself — so the join
    # runs over the bare neighbor rows and the self contribution unions
    # in as m, saving the per-round self-distinct Exchange; the emitted
    # edge SET is identical row-for-row after the final distinct
    m = nbrs.groupBy("n").agg(F.least(F.min("s"), F.col("n")).alias("m"))
    out = (
        nbrs.join(m, "n")
        .select(F.col("m").alias("u"), F.col("s").alias("v"))
        .unionByName(m.select(F.col("m").alias("u"), F.col("n").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )
    return out


def _checkpoint_edges(edges: DataFrame) -> tuple[DataFrame, tuple[int, int, int, int]]:
    """The eager checkpoint of ``edges`` and its convergence fingerprint,
    observed in the checkpoint's own job: (count, xor, salted xor, wrapped
    sum) of per-edge hashes, an order-independent check with no edge
    collect. Two independent hash streams (plain / salted xxhash64) plus
    the additive sum make a silent collision (two distinct edge sets with
    equal fingerprint declaring convergence early and emitting corrupt
    duplicate memberships) require simultaneous collisions in three
    decorrelated 64-bit channels. An empty edge set observes NULL hashes,
    read as 0."""
    eh = F.xxhash64("u", "v")
    edges, m = checkpoint(
        edges,
        n=F.count(F.lit(1)),
        h=F.bit_xor(eh),
        h2=F.bit_xor(F.xxhash64(F.lit(0x5A17), "u", "v")),
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
    the new edge list — lineage would otherwise double per round. Returns
    the star edges as the membership table, plus the root rows themselves.

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
    # Checkpoint ``pairs`` ONCE up front: it is typically the expensive
    # upstream candidate join, and both the node set and the edge list
    # derive from it — the previous shape materialized that lineage twice
    # (and the singleton anti-join would re-execute it on every downstream
    # action; a nondeterministic upstream could even diverge from the edge
    # snapshot). NULL ids carry no edge semantics and are dropped on both
    # paths.
    # Checkpoint storage is O(1) in rounds: each round releases the
    # superseded generation (plans/checkpoints.py).
    pairs_c, _ = checkpoint(pairs.select(F.col(a), F.col(b)))
    all_nodes = (
        pairs_c.select(F.col(a).alias("node"))
        .unionByName(pairs_c.select(F.col(b).alias("node")))
        .filter(F.col("node").isNotNull())
        .distinct()
    )
    edges, fp = _checkpoint_edges(_canon_edges(pairs_c, a, b))
    converged = False
    for rnd in range(max_rounds):
        edges2, fp2 = _checkpoint_edges(_small_star(_large_star(edges)))
        release(edges)
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
    roots = edges.select(F.col("u").alias("node"), F.col("u").alias("component")).distinct()
    found = members.unionByName(roots)
    # nodes appearing ONLY in self-pairs (a == b) have no surviving edge;
    # they are their own singleton components — the documented contract is
    # one row for EVERY node appearing in ``pairs``
    singletons = all_nodes.join(found.select("node"), "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    return found.unionByName(singletons)


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
