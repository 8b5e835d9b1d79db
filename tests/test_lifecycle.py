"""Lifecycle of materialized intermediates under concurrency and in the
kNN step loop (plans/checkpoints.py: ``checkpoint``, ``release`` and
``hold``).

Each operator releases only the checkpoints it created itself, found
through the DataFrame's own plan. Three threads sharing one session must
therefore never free each other's checkpoint storage.

Every eager checkpoint goes through ``checkpoint``, and the CC, kNN and
PageRank loops read their counts from that checkpoint's own job: with
``DataFrame.count`` and ``DataFrame.collect`` raising, all three still
return correct output. A non-final kNN step takes exactly one
checkpoint: its ranked rows, of which the stragglers are a lazy filter.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pandas as pd

from conftest import persistent_rdd_ids

CHAIN = [(i, i + 1) for i in range(40)]
EDGES = [("a", "b", 2), ("b", "a", 1), ("a", "c", 1), ("b", "c", 3), ("c", "sink", 1), ("hub", "a", 5)]


class TestConcurrentCheckpoints:
    def test_three_threads_share_one_session(self, spark):
        from convert_spark.operators.components import connected_components
        from convert_spark.operators.graph import pagerank_integer

        start = threading.Barrier(3)

        def work(_):
            start.wait()  # overlap the three loops as much as possible
            out = []
            for _ in range(2):
                pairs = spark.createDataFrame(CHAIN, "a_id long, b_id long")
                cc = connected_components(pairs)
                edges = spark.createDataFrame(EDGES, "src string, dst string, w long")
                pr = pagerank_integer(edges, iters=6)
                out.append((cc.count(), {r["component"] for r in cc.collect()}, pr.count()))
            return out

        with ThreadPoolExecutor(3) as pool:
            results = list(pool.map(work, range(3)))
        assert results == [[(41, {0}, 5)] * 2] * 3


class TestKnnStragglerStorage:
    def test_superseded_straggler_sets_are_released(self, spark):
        """A sparse desert of 60 queries at ring 1 widens several times
        before the final step: each non-final step keeps its ranked
        checkpoint (the result reads it), and nothing else persists —
        the stragglers are a lazy filter of that checkpoint."""
        from convert_spark.operators.joins import knn_join

        refs = spark.createDataFrame(
            [(i, 10.0 + 3.0 * (i % 5), 20.0 + 3.0 * (i // 5)) for i in range(25)],
            "ref_id long, lat double, lon double",
        )
        queries = spark.createDataFrame(
            [(i, 11.0 + 0.2 * (i % 60), 21.0 + 0.1 * (i % 7)) for i in range(60)],
            "query_id long, lat double, lon double",
        )
        pre = persistent_rdd_ids(spark)
        stats = []
        out = knn_join(queries, refs, k=4, zoom=10, ring=1, max_ring=64, round_stats=stats)
        new = persistent_rdd_ids(spark) - pre
        assert len(stats) >= 2, stats
        assert len(new) <= len(stats), (new, stats)
        assert out.count() == 60 * 4

    def test_two_non_final_steps_take_two_checkpoints(self, spark, monkeypatch):
        """The desert case at max_ring 4 runs rings 1 and 2 as non-final
        steps: one ``checkpoint`` call each, none for the stragglers."""
        from test_joins_equivalence import case_desert

        from convert_spark.operators.joins import knn_join
        from convert_spark.plans import checkpoints

        real, calls = checkpoints.checkpoint, []

        def counted(df, **metrics):
            calls.append(sorted(metrics))
            return real(df, **metrics)

        monkeypatch.setattr(checkpoints, "checkpoint", counted)
        (qs, rs), kw = case_desert()
        stats: list = []
        knn_join(spark.createDataFrame(qs), spark.createDataFrame(rs), round_stats=stats, **dict(kw, max_ring=4))
        assert [rg for rg, _ in stats] == [1, 2] and stats[-1][1] > 0
        assert len(calls) == 2, calls


class TestLoopsRunNoDriverAction:
    def test_cc_knn_pagerank_without_count_or_collect(self, spark, monkeypatch):
        from test_joins_equivalence import _tiles, case_desert, schedule_reference
        from test_pagerank import _scalar_pagerank

        from convert_spark.operators.components import connected_components
        from convert_spark.operators.graph import pagerank_integer
        from convert_spark.operators.joins import knn_join

        (qs, rs), kw = case_desert()
        kw = dict(kw, max_ring=4)
        pairs = spark.createDataFrame(CHAIN, "a_id long, b_id long")
        edges = spark.createDataFrame(EDGES, "src string, dst string, w long")
        q_df = spark.createDataFrame(qs, "query_id long, lat double, lon double")
        r_df = spark.createDataFrame(rs, "ref_id long, lat double, lon double")

        def refuse(self, *args, **kwargs):
            raise AssertionError("driver action inside an iterative loop")

        stats: list = []
        with monkeypatch.context() as m:
            for name in ("count", "collect"):  # on the concrete (classic) DataFrame class
                m.setattr(type(pairs), name, refuse)
            cc = connected_components(pairs)
            knn = knn_join(q_df, r_df, round_stats=stats, **kw)
            pr = pagerank_integer(edges, iters=6)

        assert {(r["node"], r["component"]) for r in cc.collect()} == {(i, 0) for i in range(41)}
        assert {r["d"]: r["r"] for r in pr.collect()} == _scalar_pagerank(EDGES, iters=6)
        q_tiles = _tiles(spark, qs, "query_id", kw["zoom"])
        r_tiles = _tiles(spark, rs, "ref_id", kw["zoom"])
        ref, ref_stats = schedule_reference(qs, rs, q_tiles, r_tiles, **kw)
        key = ["query_id", "rank"]
        got = knn.toPandas().astype(ref.dtypes.to_dict()).sort_values(key).reset_index(drop=True)
        ref = ref.sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(got[ref.columns], ref, check_exact=True)
        assert stats == ref_stats and len(stats) == 2


def test_local_checkpoint_only_in_checkpoints_module():
    """One materialization point: every eager checkpoint is taken by
    ``plans.checkpoints.checkpoint``."""
    repo = Path(__file__).resolve().parent.parent
    hits = [
        f"{p.relative_to(repo)}:{i}"
        for d in ("convert_spark", "jobs")
        for p in sorted((repo / d).rglob("*.py"))
        if p != repo / "convert_spark" / "plans" / "checkpoints.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "localCheckpoint(" in line
    ]
    assert hits == []
