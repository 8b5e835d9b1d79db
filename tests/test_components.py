"""Connected components on seeded random graphs.

* ``connected_components`` against a pure-Python union-find over graphs
  mixing chains, stars, a hub, duplicate and reversed pairs, self-pairs
  and NULL ids, plus the degenerate inputs (empty, self-pairs only, NULL
  only): one row per non-NULL node, component = the minimum id.
* ``round_stats`` against a pure-Python large-star/small-star iteration
  written the textbook way, with the self-loop ``{n}`` as an explicit
  member of every neighborhood. The engine folds that self term into its
  aggregates, so equal per-round edge counts (and an equal number of
  rounds) pin the fold.
* a round's physical plan holds no join: both stars take their minima
  as window aggregates.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pytest

from convert_spark.operators import components
from convert_spark.operators.components import connected_components


def union_find(pairs):
    """{node: min id of its component} over the non-NULL ids of ``pairs``."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        for n in (a, b):
            if n is not None:
                parent.setdefault(n, n)
    for a, b in pairs:
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def star_rounds(pairs, max_rounds=50):
    """Edge count after each large-star/small-star round, until the edge
    set repeats (Kiveris et al., SoCC'14, self-loops explicit)."""
    prev = {(min(a, b), max(a, b)) for a, b in pairs if a is not None and b is not None and a != b}
    counts = []
    for _ in range(max_rounds):
        nbrs = defaultdict(set)
        for u, v in prev:
            nbrs[u].add(v)
            nbrs[v].add(u)
        large = set()
        for u, ns in nbrs.items():
            closed = ns | {u}
            m = min(closed)
            large |= {(m, v) for v in closed if v > u and v != m}
        smaller = defaultdict(set)
        for u, v in large:
            smaller[v].add(u)
        small = set()
        for n, ss in smaller.items():
            closed = ss | {n}
            m = min(closed)
            small |= {(m, s) for s in closed if s != m}
        counts.append(len(small))
        if small == prev:
            return counts
        prev = small
    raise AssertionError("reference did not converge")


def random_graph(seed: int) -> list[tuple[int | None, int | None]]:
    """Chains, stars and a hub over shuffled ids (so a component's minimum
    sits anywhere in it), then duplicate and reversed copies of some
    pairs, self-pairs and pairs with a NULL end."""
    rng = np.random.Generator(np.random.PCG64(seed))
    ids = iter(int(i) for i in rng.permutation(10_000)[:400])
    pairs = []
    for _ in range(4):  # chains
        chain = [next(ids) for _ in range(int(rng.integers(2, 30)))]
        pairs += list(zip(chain, chain[1:]))
    for _ in range(3):  # stars
        center = next(ids)
        pairs += [(center, next(ids)) for _ in range(int(rng.integers(1, 12)))]
    hub = next(ids)  # a hub whose leaves carry tails
    for _ in range(25):
        leaf = next(ids)
        pairs.append((leaf, hub))
        if rng.random() < 0.3:
            pairs.append((leaf, next(ids)))
    for i in rng.choice(len(pairs), 15, replace=False):  # duplicates, reversed
        a, b = pairs[i]
        pairs.append((b, a) if rng.random() < 0.5 else (a, b))
    lonely = next(ids)
    pairs += [(lonely, lonely), (hub, hub)]  # a self-pair only node; a hub self-pair
    pairs += [(next(ids), None), (None, hub), (None, None)]
    order = rng.permutation(len(pairs))
    return [pairs[i] for i in order]


GRAPHS = {
    **{f"random{seed}": random_graph(seed) for seed in range(4)},
    "empty": [],
    "self_pairs_only": [(3, 3), (1, 1), (3, 3)],
    "null_ids": [(None, 4), (5, None), (None, None), (4, 6)],
}


def _cc(spark, pairs, **kw):
    df = spark.createDataFrame(pairs, "a_id long, b_id long")
    return {r["node"]: r["component"] for r in connected_components(df, **kw).collect()}


class TestAgainstUnionFind:
    @pytest.mark.parametrize("name", GRAPHS)
    def test_membership(self, spark, name):
        got = _cc(spark, GRAPHS[name])
        assert got == union_find(GRAPHS[name])

    def test_graphs_have_the_named_shapes(self):
        pairs = GRAPHS["random0"]
        assert any(None in p for p in pairs) and any(a == b for a, b in pairs if a is not None)
        assert len(star_rounds(pairs)) >= 3  # the chains take several rounds


class TestRoundStats:
    @pytest.mark.parametrize("name", ["random0", "random1", "empty", "null_ids"])
    def test_edge_counts_match_textbook_iteration(self, spark, name):
        stats: list = []
        _cc(spark, GRAPHS[name], round_stats=stats)
        want = star_rounds(GRAPHS[name])
        assert stats == list(enumerate(want, start=1))


class TestRoundPlan:
    def test_round_plan_has_no_join(self, spark):
        edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "u long, v long")
        plan = components._small_star(components._large_star(edges))._jdf.queryExecution().executedPlan()
        assert "Join" not in plan.toString(), plan.toString()
