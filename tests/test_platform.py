"""Snapshot/resume, streaming, multimodal plumbing, LSH-ANN tests."""

import json
import os
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from convert_spark.operators import ann, multimodal
from convert_spark.plans import snapshots
from convert_spark import datagen


class TestSnapshots:
    def test_pipeline_commits_and_resumes(self, spark, tmp_path):
        root = str(tmp_path / "snap")
        out1 = snapshots.run_pipeline(spark, root, n_pages=150)
        assert set(out1) == {"pages", "mentions", "normalized", "tiled", "tile_counts"}
        for s in out1.values():
            assert s["rows"] > 0 and s["wall_s"] >= 0 and s["files"]
        # lineage chain recorded
        assert out1["mentions"]["lineage"] == ["pages"]
        assert out1["tile_counts"]["lineage"] == ["tiled"]
        # resume: delete nothing, re-run -> no stage re-executes (mtimes stable)
        snap_files = sorted(Path(root, "_snapshots").glob("snapshot-*.json"))
        mtimes = {p.name: p.stat().st_mtime_ns for p in snap_files}
        data_file = next(Path(root, "tile_counts").rglob("*.parquet"))
        data_mtime = data_file.stat().st_mtime_ns
        out2 = snapshots.run_pipeline(spark, root, n_pages=150)
        assert len(list(Path(root, "_snapshots").glob("snapshot-*.json"))) == len(snap_files)
        assert data_file.stat().st_mtime_ns == data_mtime
        assert out2["tile_counts"]["rows"] == out1["tile_counts"]["rows"]

    def test_partial_crash_resume(self, spark, tmp_path):
        """Kill after stage k: committed stages are skipped, the rest run,
        and the final output equals a clean run (SURVEY.md §5.3.5)."""
        root = str(tmp_path / "snapA")
        log = snapshots.SnapshotLog(root)
        pages = snapshots.run_stage(spark, log, "pages", lambda: datagen.webpages(spark, 100))
        # simulate crash: stage 2 wrote data but did NOT commit a snapshot
        from convert_spark.operators import extract

        extract.extract_mentions(pages).write.mode("overwrite").parquet(log.stage_path("mentions"))
        assert log.committed("mentions") is None
        # resume via the full pipeline
        out = snapshots.run_pipeline(spark, root, n_pages=100)
        clean = snapshots.run_pipeline(spark, str(tmp_path / "snapB"), n_pages=100)
        assert out["tile_counts"]["rows"] == clean["tile_counts"]["rows"]
        a = spark.read.parquet(f"{root}/tile_counts").orderBy("cell_id").toPandas()
        b = spark.read.parquet(f"{tmp_path}/snapB/tile_counts").orderBy("cell_id").toPandas()
        pd.testing.assert_frame_equal(a, b)


class TestSessionMemoryDefaults:
    """Driver heap and off-heap defaults from the host's physical RAM."""

    @staticmethod
    def _mib(size: str) -> int:
        assert size.endswith("m"), size
        return int(size[:-1])

    def test_large_hosts_keep_24g_and_16g(self):
        from convert_spark.session import _memory_defaults

        for ram_gib in (64, 256, 1024):
            heap, offheap = _memory_defaults(ram_gib << 30)
            assert (self._mib(heap), self._mib(offheap)) == (24 << 10, 16 << 10)

    def test_small_hosts_stay_below_ram(self):
        from convert_spark.session import _memory_defaults

        for ram_gib in (2, 8, 16, 32, 48):
            heap, offheap = (self._mib(s) for s in _memory_defaults(ram_gib << 30))
            assert 0 < offheap < heap and heap + offheap < ram_gib << 10
        heap, offheap = _memory_defaults(16 << 30)
        assert self._mib(heap) + self._mib(offheap) <= 12 << 10


class TestStreaming:
    def test_stream_matches_batch(self, spark, tmp_path):
        from convert_spark.streaming import ingest
        from convert_spark.operators import extract, tiles

        landing = str(tmp_path / "landing")
        datagen.webpages(spark, 200, partitions=4).write.mode("overwrite").parquet(landing)
        stream = ingest.read_page_stream(spark, landing, max_files_per_trigger=2)
        agg = ingest.stream_tile_counts(stream, zoom=8)
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("tile_counts_stream")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.sql("select zoom, cell_id, sum(n) as n from tile_counts_stream group by 1, 2")
        batch = tiles.with_tile(
            extract.extract_mentions(spark.read.parquet(landing)), 8
        ).groupBy("zoom", "cell_id").agg(F.count(F.lit(1)).alias("n"))
        a = got.orderBy("cell_id").toPandas()
        b = batch.orderBy("cell_id").toPandas()
        pd.testing.assert_frame_equal(a.astype("int64"), b.astype("int64"))

    def test_foreach_batch(self, spark, tmp_path):
        from convert_spark.streaming import ingest

        landing = str(tmp_path / "landing2")
        out_dir = str(tmp_path / "out2")
        datagen.webpages(spark, 100, partitions=2).write.mode("overwrite").parquet(landing)
        stream = ingest.read_page_stream(spark, landing, max_files_per_trigger=1)
        q = ingest.foreach_batch_pipeline(stream, out_dir, zoom=8).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        written = spark.read.parquet(out_dir)
        assert written.agg(F.sum("n")).collect()[0][0] > 0


class TestMultimodal:
    def test_decode_plumbing(self, spark):
        pages = datagen.webpages(spark, 40)
        meta = multimodal.decode_media(pages).toPandas()
        assert len(meta) == 40
        assert (meta["n_bytes"] > 0).all()
        assert meta["width"].between(64, 255).all()
        # deterministic: same content -> same sha/dims
        meta2 = multimodal.decode_media(datagen.webpages(spark, 40)).toPandas()
        pd.testing.assert_frame_equal(
            meta.sort_values("url").reset_index(drop=True),
            meta2.sort_values("url").reset_index(drop=True),
        )

    def test_feature_and_frames_shapes(self, spark):
        pages = datagen.webpages(spark, 10)
        feats = multimodal.extract_features(pages, dim=16).toPandas()
        assert feats["feat"].map(len).eq(16).all()
        frames = multimodal.sample_frames(pages, n_frames=3).toPandas()
        assert len(frames) == 30
        assert set(frames["frame_idx"]) == {0, 1, 2}

    def test_real_decode_is_stubbed(self, spark):
        pages = datagen.webpages(spark, 2)
        with pytest.raises(Exception):  # NotImplementedError surfaces as PythonException
            multimodal.decode_media(pages, deterministic_fake=False).collect()


class TestAnnLsh:
    def test_recall_vs_bruteforce(self, spark):
        from convert_spark import queries as Q

        sf_dir = "/root/testdata/sf0.01"
        exact = Q.q_ann_cosine(spark, sf_dir).toPandas()
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = e.filter(F.col("vec_id") % 50 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
        r = e.select(F.col("vec_id").alias("ref_id"), "embedding")
        approx = ann.ann_lsh_topk(q, r, k=5, bands=24, bits_per_band=4).toPandas()
        exact_pairs = set(zip(exact["query_id"], exact["ref_id"]))
        approx_pairs = set(zip(approx["query_id"], approx["ref_id"]))
        recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
        assert recall >= 0.5, f"LSH recall too low: {recall}"

    def test_deterministic(self, spark):
        e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").limit(60)
        q = e.select(F.col("vec_id").alias("query_id"), "embedding")
        r = e.select(F.col("vec_id").alias("ref_id"), "embedding")
        a = ann.ann_lsh_topk(q, r, k=3).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        b = ann.ann_lsh_topk(q, r, k=3).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)


class TestAnnIvf:
    def test_recall_vs_bruteforce(self, spark):
        from convert_spark import queries as Q

        sf_dir = "/root/testdata/sf0.01"
        exact = Q.q_ann_cosine(spark, sf_dir).toPandas()
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = e.filter(F.col("vec_id") % 50 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
        r = e.select(F.col("vec_id").alias("ref_id"), "embedding")
        approx = ann.ivf_topk(q, r, k=5, n_centroids=16, n_probe=6).toPandas()
        exact_pairs = set(zip(exact["query_id"], exact["ref_id"]))
        approx_pairs = set(zip(approx["query_id"], approx["ref_id"]))
        recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
        assert recall >= 0.6, f"IVF recall too low: {recall}"

    def test_deterministic(self, spark):
        e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        q = e.filter(F.col("vec_id") % 50 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
        r = e.select(F.col("vec_id").alias("ref_id"), "embedding")
        key = ["query_id", "rank"]
        a = ann.ivf_topk(q, r, k=3).toPandas().sort_values(key).reset_index(drop=True)
        b = ann.ivf_topk(q, r, k=3).toPandas().sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)

    def test_probe_widening_improves_recall(self, spark):
        """More probed buckets must find at least as many true neighbors."""
        from convert_spark import queries as Q

        sf_dir = "/root/testdata/sf0.01"
        exact = Q.q_ann_cosine(spark, sf_dir).toPandas()
        exact_pairs = set(zip(exact["query_id"], exact["ref_id"]))
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = e.filter(F.col("vec_id") % 50 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
        r = e.select(F.col("vec_id").alias("ref_id"), "embedding")
        recalls = []
        for probe in (1, 16):
            got = ann.ivf_topk(q, r, k=5, n_centroids=16, n_probe=probe).toPandas()
            pairs = set(zip(got["query_id"], got["ref_id"]))
            recalls.append(len(exact_pairs & pairs) / len(exact_pairs))
        assert recalls[1] >= recalls[0]
        assert recalls[1] >= 0.999  # probing every bucket == brute force


class TestNeardupBlocked:
    def test_matches_broadcast_exactly(self, spark):
        """The block outer product is EXACT: identical pair set to the
        broadcast-matmul baseline (recall 1.0), across a block size that
        forces a multi-block grid."""
        e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        a = e.filter(F.col("vec_id") % 10 == 0).select(F.col("vec_id").alias("a_id"), "embedding")
        b = e.select(F.col("vec_id").alias("b_id"), "embedding")
        base = ann.neardup_broadcast(a, b, threshold=0.3).toPandas()
        got = ann.neardup_blocked(a, b, threshold=0.3, block_rows=37).toPandas()
        key = ["a_id", "b_id"]
        pd.testing.assert_frame_equal(
            base.sort_values(key).reset_index(drop=True),
            got.sort_values(key).reset_index(drop=True),
        )

    def test_no_driver_collect_in_plan(self, spark):
        """The blocked path must not pull either side through the driver:
        its plan is pure exchanges + aggregates + one python stage."""
        e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        a = e.filter(F.col("vec_id") % 10 == 0).select(F.col("vec_id").alias("a_id"), "embedding")
        b = e.select(F.col("vec_id").alias("b_id"), "embedding")
        df = ann.neardup_blocked(a, b, threshold=0.3)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan
        # the block grid is a cross of two SMALL packed-block tables —
        # either a CartesianProduct or (when one side is tiny) an
        # executor-side BroadcastNestedLoopJoin; never a driver collect
        assert "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan

    def test_broadcast_size_guard(self, spark):
        """Collecting an unbounded side to the driver must fail fast."""
        e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        a = e.select(F.col("vec_id").alias("a_id"), "embedding")
        b = e.select(F.col("vec_id").alias("b_id"), "embedding")
        with pytest.raises(ValueError, match="exceeds"):
            ann.neardup_broadcast(a, b, threshold=0.3, max_rows_override=100)

    def test_topk_size_guard(self, spark):
        e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        q = e.select(F.col("vec_id").alias("query_id"), "embedding")
        r = e.select(F.col("vec_id").alias("ref_id"), "embedding")
        with pytest.raises(ValueError, match="exceeds"):
            ann.brute_topk_broadcast(q, r, k=3, max_rows_override=100)


class TestNeardupLsh:
    def test_pair_set_equals_exact_blocked_on_planted_corpus(self, spark):
        """The bucketed dedup default must have recall 1.0 on the planted
        near-dup corpus: its pair set equals the EXACT blocked product's
        at the same threshold (this is what keeps q_embed_neardup
        hash-green against the exhaustive DuckDB oracle)."""
        from convert_spark import queries as Q

        corpus = Q._neardup_corpus(spark, "/root/testdata/sf0.01")
        lsh = ann.neardup_lsh(corpus, threshold=Q.NEARDUP_T).toPandas()
        a = corpus.select(F.col("id").alias("a_id"), F.col("emb").alias("embedding"))
        b = corpus.select(F.col("id").alias("b_id"), F.col("emb").alias("embedding"))
        exact = ann.neardup_blocked(a, b, threshold=Q.NEARDUP_T, block_rows=113).toPandas()
        assert len(exact) > 100  # the planted corpus really has dup pairs
        key = ["a_id", "b_id"]
        pd.testing.assert_frame_equal(
            lsh.sort_values(key).reset_index(drop=True),
            exact.sort_values(key).reset_index(drop=True),
            check_exact=False, rtol=0, atol=1e-9,
        )

    def test_candidate_volume_is_bucketed(self, spark):
        """Selectivity: the LSH candidate pair count must be well below
        all-pairs on the planted corpus (the whole point vs blocked)."""
        from convert_spark import queries as Q

        corpus = Q._neardup_corpus(spark, "/root/testdata/sf0.01")
        n = corpus.count()
        keyed = ann.with_lsh_keys(
            corpus.select("id", F.col("emb").cast("array<double>").alias("__v")),
            "__v", 64, 16, 8,
        )
        a = keyed.select(F.col("id").alias("a_id"), "band", "bucket")
        b = keyed.select(F.col("id").alias("b_id"), "band", "bucket")
        n_cand = (
            a.join(b, ["band", "bucket"]).filter(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id").distinct().count()
        )
        all_pairs = n * (n - 1) // 2
        assert n_cand < all_pairs / 4, (n_cand, all_pairs)

    def test_does_not_mutate_caller_cache_state(self, spark):
        """ADVICE r5 regression: the operator persists a PRIVATE
        projection, so (a) it never flips an unpersisted input to
        cached, and (b) it works on an input the caller already
        persisted at a non-default storage level (re-persisting the
        same DataFrame at a different level raises in Spark)."""
        from pyspark import StorageLevel

        from convert_spark import queries as Q

        corpus = Q._neardup_corpus(spark, "/root/testdata/sf0.01")
        assert corpus.storageLevel == StorageLevel.NONE
        ann.neardup_lsh(corpus, threshold=Q.NEARDUP_T).count()
        assert corpus.storageLevel == StorageLevel.NONE
        cached = corpus.persist(StorageLevel.DISK_ONLY)
        try:
            out = ann.neardup_lsh(cached, threshold=Q.NEARDUP_T)
            assert out.count() > 100
            assert cached.storageLevel == StorageLevel.DISK_ONLY
        finally:
            cached.unpersist()


class TestCompactCells:
    def test_matches_kernel(self, spark):
        from convert_spark.operators import extract, tiles as tile_ops
        from convert_spark.kernels import quadkey as qk

        pages = datagen.webpages(spark, 120)
        tiled = tile_ops.with_tile(extract.extract_mentions(pages), zoom=12)
        got = tile_ops.compact_cell_sets(tiled).toPandas().set_index("page_id")
        raw = tiled.groupBy("page_id").agg(F.collect_set("cell_id").alias("cells")).toPandas()
        for _, row in raw.iterrows():
            expect = qk.compact(np.asarray(row["cells"], dtype=np.int64)).tolist()
            assert sorted(got.loc[row["page_id"], "cells"]) == sorted(expect)
            assert got.loc[row["page_id"], "n_compacted"] <= got.loc[row["page_id"], "n_cells"]


class TestStatefulStreaming:
    def test_session_counts_match_batch(self, spark, tmp_path):
        from convert_spark.streaming import ingest

        landing = str(tmp_path / "ev_landing")
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        # write in ts order so micro-batches arrive in order per user
        ev.orderBy("ts").coalesce(1).write.mode("overwrite").parquet(landing)
        stream = (
            spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(landing)
        )
        out = ingest.stateful_session_counts(stream, gap_s=1800)
        q = out.writeStream.outputMode("append").format("memory").queryName("sess_stream").start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.sql("select * from sess_stream").toPandas()
        # batch twin: closed sessions only (the stream keeps open sessions in state)
        from convert_spark import queries as Q

        batch = Q.q_sessionize(spark, "/root/testdata/sf0.001").toPandas()
        last_per_user = batch.sort_values("session_idx").groupby("user_id").tail(1)
        closed = batch.merge(
            last_per_user[["user_id", "session_idx"]],
            on=["user_id", "session_idx"],
            how="left",
            indicator=True,
        )
        closed = closed[closed["_merge"] == "left_only"]
        a = got.sort_values(["user_id", "session_start"]).reset_index(drop=True)
        b = closed.rename(columns={"start_sec": "session_start"})[
            ["user_id", "session_start", "n_events"]
        ].sort_values(["user_id", "session_start"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(a.astype("int64"), b.astype("int64"))


class TestSparkSubmit:
    def test_job_via_spark_submit_py_files(self, tmp_path):
        """The literal north_rule surface: `spark-submit --py-files
        convert_spark.zip jobs/tile_pipeline_job.py` against a
        local-cluster master — executor JVMs are SEPARATE processes whose
        python workers import convert_spark from the shipped zip (the
        driver-side sys.path fallback cannot reach them), so this fails if
        zip shipping breaks. Second submit against the same --output must
        resume from the committed snapshots without recomputing."""
        import shutil
        import subprocess
        import sys
        import zipfile

        spark_submit = shutil.which("spark-submit")
        if not spark_submit:
            pytest.skip("spark-submit not on PATH")
        repo = Path(__file__).resolve().parent.parent
        z = tmp_path / "convert_spark.zip"
        with zipfile.ZipFile(z, "w") as zf:
            for p in sorted((repo / "convert_spark").rglob("*.py")):
                zf.write(p, p.relative_to(repo))
        out = tmp_path / "job_out"
        env = {
            **os.environ,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
        cmd = [
            spark_submit,
            "--master", "local-cluster[2,2,1024]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.sql.session.timeZone=UTC",
            "--py-files", str(z),
            str(repo / "jobs" / "tile_pipeline_job.py"),
            "--n-pages", "2000",
            "--output", str(out),
        ]
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=420, env=env, cwd=str(tmp_path))
        assert r.returncode == 0, (r.stdout[-1500:], r.stderr[-1500:])
        stats = json.loads([ln for ln in r.stdout.splitlines() if ln.startswith("{")][-1])
        assert stats["tiles"] > 0 and stats["pip_rows"] > 0
        assert set(stats["stages"]) >= {
            "pages", "mentions", "normalized", "tiled", "pip_tagged", "tile_poly_rollup",
        }
        assert stats["rollup_tiles"] == stats["tiles"]  # every tile present in the bucketed join

        # resume: snapshots untouched, same results, no stage recomputed
        snap_files = sorted((out / "_snapshots").glob("snapshot-*.json"))
        assert snap_files
        mtimes = {p.name: p.stat().st_mtime_ns for p in snap_files}
        r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=420, env=env, cwd=str(tmp_path))
        assert r2.returncode == 0, (r2.stdout[-1500:], r2.stderr[-1500:])
        stats2 = json.loads([ln for ln in r2.stdout.splitlines() if ln.startswith("{")][-1])
        assert stats2["tiles"] == stats["tiles"] and stats2["pip_rows"] == stats["pip_rows"]
        for p in sorted((out / "_snapshots").glob("snapshot-*.json")):
            assert p.stat().st_mtime_ns == mtimes[p.name], f"{p.name} was recomputed on resume"


class TestIncrementalComponents:
    """incremental_components: CC over (previous membership star edges +
    new pairs) must equal CC over the full pair union — including
    cross-batch cluster merges, brand-new nodes and old singletons."""

    def _member_map(self, df):
        return {int(r["node"]): int(r["component"]) for r in df.collect()}

    def test_merge_of_old_components(self, spark):
        from convert_spark.operators import components

        old = spark.createDataFrame([(1, 2), (2, 3), (10, 11), (20, 20)], "a_id long, b_id long")
        prev = components.connected_components(old)
        # one pair merges comps 1 and 10; one introduces brand-new nodes
        new = spark.createDataFrame([(3, 11), (40, 41)], "a_id long, b_id long")
        got = self._member_map(components.incremental_components(prev, new))
        assert got == {1: 1, 2: 1, 3: 1, 10: 1, 11: 1, 20: 20, 40: 40, 41: 40}

    def test_random_graphs_match_full_recompute(self, spark):
        from convert_spark.operators import components

        rng = np.random.RandomState(29)
        for trial in range(3):
            n = 400
            edges = [(int(a), int(b)) for a, b in rng.randint(0, n, size=(300, 2))]
            edges += [(int(i), int(i)) for i in rng.randint(0, n, size=10)]  # self-pair singletons
            cut = rng.randint(50, 250)
            old = spark.createDataFrame(edges[:cut], "a_id long, b_id long")
            new = spark.createDataFrame(edges[cut:], "a_id long, b_id long")
            full = spark.createDataFrame(edges, "a_id long, b_id long")
            prev = components.connected_components(old)
            inc = self._member_map(components.incremental_components(prev, new))
            exp = self._member_map(components.connected_components(full))
            assert inc == exp, f"trial {trial}"

    def test_increment_converges_fast(self, spark):
        """The old graph is already star-shaped, so an increment that only
        extends existing clusters converges in O(1) rounds regardless of
        historical size — the property that makes the daily-increment
        cost independent of corpus history."""
        from pyspark.sql import functions as F

        from convert_spark.operators import components

        old = spark.range(2000).select(
            (F.col("id") * 3).alias("a_id"), (F.col("id") * 3 + 1).alias("b_id")
        )
        prev = components.connected_components(old)
        new = spark.range(50).select(
            (F.col("id") * 3 + 1).alias("a_id"), (F.col("id") * 3 + 2).alias("b_id")
        )
        stats: list = []
        components.incremental_components(prev, new, round_stats=stats).count()
        assert len(stats) <= 3, stats


class TestConnectedComponents:
    def test_known_graphs(self, spark):
        """Chains, a hub (the skew shape large-star exists for), a cycle,
        an isolated pair, and a singleton-free graph — component = min id."""
        from convert_spark.operators import components

        pairs = [
            (1, 2), (2, 3), (3, 4),          # chain -> comp 1
            (10, 11), (10, 12), (10, 13), (13, 14),  # hub + tail -> comp 10
            (20, 21), (21, 22), (22, 20),    # cycle -> comp 20
            (30, 31),                         # pair -> comp 30
        ]
        df = spark.createDataFrame(pairs, "a_id long, b_id long")
        got = {
            int(r["node"]): int(r["component"])
            for r in components.connected_components(df).collect()
        }
        expect = {1: 1, 2: 1, 3: 1, 4: 1,
                  10: 10, 11: 10, 12: 10, 13: 10, 14: 10,
                  20: 20, 21: 20, 22: 20, 30: 30, 31: 30}
        assert got == expect

    def test_random_graph_matches_networkx_free_union_find(self, spark):
        """200-node random sparse graph vs a plain python union-find."""
        from convert_spark.operators import components

        rng = np.random.RandomState(3)
        edges = [(int(a), int(b)) for a, b in rng.randint(0, 200, (150, 2)) if a != b]
        parent = list(range(200))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = sorted({n for e in edges for n in e})
        expect = {n: find(n) for n in nodes}
        df = spark.createDataFrame(edges, "a_id long, b_id long")
        got = {
            int(r["node"]): int(r["component"])
            for r in components.connected_components(df).collect()
        }
        assert got == expect

    def test_dedup_canonical_keep_flags(self, spark):
        from convert_spark.operators import components

        pairs = spark.createDataFrame([(5, 9), (9, 7)], "a_id long, b_id long")
        docs = spark.createDataFrame([(i,) for i in (1, 5, 7, 9)], "doc_id long")
        got = components.dedup_canonical(pairs, docs).orderBy("doc_id").collect()
        rows = [(int(r["doc_id"]), int(r["cluster_id"]), bool(r["keep"])) for r in got]
        assert rows == [(1, 1, True), (5, 5, True), (7, 5, False), (9, 5, False)]


class TestConnectedComponentsEdges:
    def test_unconverged_raises_instead_of_corrupting(self, spark):
        from convert_spark.operators import components

        chain = [(i, i + 1) for i in range(0, 40)]
        df = spark.createDataFrame(chain, "a_id long, b_id long")
        with pytest.raises(RuntimeError, match="did not converge"):
            components.connected_components(df, max_rounds=1)

    def test_self_pairs_become_singletons(self, spark):
        from convert_spark.operators import components

        df = spark.createDataFrame([(5, 5), (1, 2)], "a_id long, b_id long")
        got = {int(r["node"]): int(r["component"]) for r in components.connected_components(df).collect()}
        assert got == {1: 1, 2: 1, 5: 5}


class TestXxh64Twin:
    def test_matches_spark_xxhash64(self, spark):
        """The scalar XXH64 twin (which fixes the IVF KAT's sample order)
        must match Spark's xxhash64(bigint) exactly, signed output and
        all."""
        import sketch_reference_impl as skref

        rows = spark.sql(
            "select id, xxhash64(id) as h from "
            "(select cast(id * 987654321 - 444444444 as long) as id from range(0, 64))"
        ).collect()
        for r in rows:
            assert skref.xxh64_long_s(r["id"]) == r["h"], r["id"]


class TestHotBucketSalting:
    """One dense synthetic cluster concentrates every LSH band bucket /
    IVF centroid: salting must bound per-reducer group size without
    changing any result."""

    def _dense_cluster(self, spark, n=300, nq=20):
        rng = np.random.RandomState(21)
        base = rng.normal(size=64)
        mat = base[None, :] + 0.01 * rng.normal(size=(n, 64))
        pdf = pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(mat)})
        df = spark.createDataFrame(pdf)
        q = df.filter(F.col("vec_id") < nq).select(F.col("vec_id").alias("query_id"), "embedding")
        r = df.select(F.col("vec_id").alias("ref_id"), "embedding")
        return q, r

    def test_salted_groups_bounded(self, spark):
        q, r = self._dense_cluster(spark)
        keyed_r = ann.with_lsh_keys(
            r.select("ref_id", F.col("embedding").cast("array<double>").alias("r_emb")),
            "r_emb", 64, 8, 8,
        )
        # unsalted: the dense cluster pins whole buckets
        unsalted_max = (
            keyed_r.groupBy("band", "bucket").count().agg(F.max("count")).collect()[0][0]
        )
        assert unsalted_max >= 250
        keyed_q = ann.with_lsh_keys(
            q.select("query_id", F.col("embedding").cast("array<double>").alias("q_emb")),
            "q_emb", 64, 8, 8,
        )
        q2, r2, keys = ann.salt_hot_keys(keyed_q, keyed_r, ["band", "bucket"], 32, "ref_id")
        salted_max = r2.groupBy(*keys).count().agg(F.max("count")).collect()[0][0]
        assert salted_max <= 2 * 32, salted_max  # hash-salt variance bound
        # candidate pairs identical
        pairs0 = (
            keyed_q.join(keyed_r, ["band", "bucket"]).select("query_id", "ref_id").distinct()
        )
        pairs1 = q2.join(r2, keys).select("query_id", "ref_id").distinct()
        assert pairs0.exceptAll(pairs1).count() == 0
        assert pairs1.exceptAll(pairs0).count() == 0

    def test_lsh_topk_unchanged_by_salting(self, spark):
        q, r = self._dense_cluster(spark)
        a = ann.ann_lsh_topk(q, r, k=3, bucket_cap=32).toPandas()
        b = ann.ann_lsh_topk(q, r, k=3, bucket_cap=None).toPandas()
        key = ["query_id", "rank"]
        pd.testing.assert_frame_equal(
            a.sort_values(key).reset_index(drop=True),
            b.sort_values(key).reset_index(drop=True),
        )

    def test_ivf_topk_unchanged_by_salting(self, spark):
        q, r = self._dense_cluster(spark)
        a = ann.ivf_topk(q, r, k=3, n_centroids=4, n_probe=2, bucket_cap=32).toPandas()
        b = ann.ivf_topk(q, r, k=3, n_centroids=4, n_probe=2, bucket_cap=None).toPandas()
        key = ["query_id", "rank"]
        pd.testing.assert_frame_equal(
            a.sort_values(key).reset_index(drop=True),
            b.sort_values(key).reset_index(drop=True),
        )


class TestRealCodecs:
    """Stdlib header decode for PNG/JPEG/WAV payloads via
    deterministic_fake=False; everything else still raises."""

    @staticmethod
    def _png_bytes(w=17, h=9, color_type=2):
        import struct as st
        import zlib

        def chunk(tag, body):
            return (
                st.pack(">I", len(body)) + tag + body
                + st.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        ihdr = st.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
        raw = b"".join(b"\x00" + b"\x00" * (w * 3) for _ in range(h))
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    @staticmethod
    def _jpeg_bytes(w=33, h=21, n_comp=3):
        import struct as st

        app0 = b"\xff\xe0" + st.pack(">H", 16) + b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
        sof0 = b"\xff\xc0" + st.pack(">HBHHB", 8 + 3 * n_comp, 8, h, w, n_comp)
        sof0 += b"".join(st.pack("BBB", i + 1, 0x11, 0) for i in range(n_comp))
        return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"

    @staticmethod
    def _wav_bytes(n_frames=440, rate=8000, channels=2):
        import io as _io
        import wave

        buf = _io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(channels)
            wf.setsampwidth(2)
            wf.setframerate(rate)
            wf.writeframes(b"\x00\x00" * channels * n_frames)
        return buf.getvalue()

    def test_decode_real_formats(self, spark):
        rows = [
            ("png://1", self._png_bytes()),
            ("jpg://1", self._jpeg_bytes()),
            ("wav://1", self._wav_bytes()),
        ]
        df = spark.createDataFrame(rows, "url string, payload binary")
        got = (
            multimodal.decode_media(df, binary_col="payload", deterministic_fake=False)
            .toPandas()
            .set_index("url")
        )
        png = got.loc["png://1"]
        assert (png["media_kind"], png["width"], png["height"], png["n_channels"]) == ("png", 17, 9, 3)
        jpg = got.loc["jpg://1"]
        assert (jpg["media_kind"], jpg["width"], jpg["height"], jpg["n_channels"]) == ("jpeg", 33, 21, 3)
        wav = got.loc["wav://1"]
        assert (wav["media_kind"], wav["width"], wav["height"], wav["n_channels"]) == ("wav", 440, 8000, 2)

    def test_scalar_decode_real(self):
        assert multimodal.decode_real(self._png_bytes(300, 200, 6)) == ("png", 300, 200, 4)
        assert multimodal.decode_real(self._jpeg_bytes(64, 48, 1)) == ("jpeg", 64, 48, 1)
        with pytest.raises(NotImplementedError):
            multimodal.decode_real(b"GIF89a not supported")

    def test_progressive_jpeg_sof2(self):
        import struct as st

        sof2 = b"\xff\xc2" + st.pack(">HBHHB", 11, 8, 7, 5, 1) + st.pack("BBB", 1, 0x11, 0)
        data = b"\xff\xd8" + sof2 + b"\xff\xd9"
        assert multimodal.decode_real(data) == ("jpeg", 5, 7, 1)

    def test_malformed_payloads_raise_declared_error(self):
        """Truncated/corrupt headers of SUPPORTED formats must raise the
        declared NotImplementedError, never a bare struct.error/
        IndexError/wave.Error that would kill a Spark task untyped."""
        bad = [
            b"\xff\xd8\xff\xc0\x00\x05\x08",          # JPEG truncated mid-SOF
            b"\xff\xd8\xff\xff\xff\xff",              # JPEG all fill bytes
            b"\x89PNG\r\n\x1a\n\x00\x00",             # PNG too short for IHDR
            b"RIFF\x00\x00\x00\x00WAVEjunk",          # WAV with garbage chunks
        ]
        for payload in bad:
            with pytest.raises(NotImplementedError):
                multimodal.decode_real(payload)


class TestRealPixelDecode:
    """Round-4: the real path goes one level past headers — PNG pixels via
    zlib+unfilter, WAV PCM stats, WAV frame windows. The test ENCODES
    (vectorized filter application over raw bytes) and the engine DECODES
    (sequential per the spec) — inverse formulas implemented independently."""

    @staticmethod
    def _encode_png(px: np.ndarray, filters) -> bytes:
        import struct as st
        import zlib

        h, w, c = px.shape
        bpp = c
        lines = []
        prev = np.zeros(w * c, dtype=np.int64)
        for y, f in zip(range(h), filters):
            cur = px[y].reshape(-1).astype(np.int64)
            left = np.concatenate([np.zeros(bpp, dtype=np.int64), cur[:-bpp]])
            upleft = np.concatenate([np.zeros(bpp, dtype=np.int64), prev[:-bpp]])
            if f == 0:
                filt = cur
            elif f == 1:
                filt = (cur - left) & 0xFF
            elif f == 2:
                filt = (cur - prev) & 0xFF
            elif f == 3:
                filt = (cur - (left + prev) // 2) & 0xFF
            elif f == 4:
                p = left + prev - upleft
                pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
                pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft))
                filt = (cur - pred) & 0xFF
            lines.append(bytes([f]) + bytes(filt.astype(np.uint8)))
            prev = cur
        raw = b"".join(lines)

        def chunk(tag, body):
            return st.pack(">I", len(body)) + tag + body + st.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)

        color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
        ihdr = st.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
        return b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")

    def test_png_roundtrip_all_filters(self):
        rng = np.random.RandomState(7)
        for c in (1, 2, 3, 4):
            px = rng.randint(0, 256, size=(7, 5, c), dtype=np.uint8)
            data = self._encode_png(px, filters=[0, 1, 2, 3, 4, 4, 3])
            got = multimodal._png_pixels(data)
            np.testing.assert_array_equal(got, px)

    def test_png_features_real(self):
        rng = np.random.RandomState(8)
        px = rng.randint(0, 256, size=(6, 4, 3), dtype=np.uint8)
        data = self._encode_png(px, filters=[2, 4, 1, 0, 3, 4])
        feat = multimodal.features_real(data, dim=16)
        exp = []
        for ch in range(3):
            v = px[:, :, ch].astype(np.float64) / 255.0
            exp += [v.mean(), v.std(), v.min(), v.max()]
        np.testing.assert_allclose(feat[:12], np.asarray(exp, dtype=np.float32), atol=1e-6)
        assert (feat[12:] == 0).all()

    def test_wav_features_and_frames_real(self):
        import hashlib
        import io as _io
        import wave

        t = np.arange(800)
        samples = (np.sin(2 * np.pi * 440 * t / 8000) * 20000).astype("<i2")
        buf = _io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(samples.tobytes())
        data = buf.getvalue()
        feat = multimodal.features_real(data, dim=8)
        s = samples.astype(np.float64) / 32768.0
        mapped = (s + 1.0) / 2.0
        np.testing.assert_allclose(
            feat[:4],
            np.asarray([mapped.mean(), mapped.std(), mapped.min(), mapped.max()], dtype=np.float32),
            atol=1e-6,
        )
        shas = multimodal.frames_real(data, n_frames=4)
        raw = samples.tobytes()
        exp = [hashlib.sha256(raw[i * 200 * 2 : (i + 1) * 200 * 2]).hexdigest()[:16] for i in range(4)]
        assert shas == exp

    def test_spark_real_feature_and_frame_stages(self, spark):
        rng = np.random.RandomState(9)
        px = rng.randint(0, 256, size=(5, 5, 4), dtype=np.uint8)
        png = self._encode_png(px, filters=[4, 3, 2, 1, 0])
        wav = TestRealCodecs._wav_bytes(n_frames=120, rate=8000, channels=2)
        df = spark.createDataFrame([("png://r", png), ("wav://r", wav)], "url string, html binary")
        feats = multimodal.extract_features(df, deterministic_fake=False).toPandas().set_index("url")
        assert len(feats.loc["png://r", "feat"]) == 16
        assert feats.loc["png://r", "feat"][0] == pytest.approx(px[:, :, 0].mean() / 255.0, abs=1e-6)
        frames = multimodal.sample_frames(
            df.filter(F.col("url") == "wav://r"), n_frames=3, deterministic_fake=False
        ).toPandas()
        assert list(frames["frame_idx"]) == [0, 1, 2]
        assert frames["frame_sha"].str.len().eq(16).all()

    def test_real_path_declared_errors(self):
        import struct as st

        with pytest.raises(NotImplementedError):
            multimodal.features_real(TestRealCodecs._jpeg_bytes(), dim=16)  # header-only fixture: no scan
        with pytest.raises(NotImplementedError):
            multimodal.frames_real(TestRealCodecs._jpeg_bytes(), n_frames=3)
        # ADVICE: IHDR dims past int32 must be the declared error, not OverflowError
        import zlib

        def chunk(tag, body):
            return st.pack(">I", len(body)) + tag + body + st.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)

        ihdr = st.pack(">IIBBBBB", 2**31, 1, 8, 2, 0, 0, 0)
        huge = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")
        with pytest.raises(NotImplementedError):
            multimodal.decode_real(huge)
        # truncated IDAT: declared error, not zlib.error/reshape ValueError
        px = np.zeros((3, 3, 3), dtype=np.uint8)
        good = self._encode_png(px, filters=[0, 0, 0])
        bad = good[: len(good) - 20]
        with pytest.raises(NotImplementedError):
            multimodal._png_pixels(bad)


class TestLoadReaderMemo:
    """Round-8: _load memoizes the lazy parquet reader per (session,
    sf_dir, table) — the per-call directory listing + schema inference was
    fixed overhead across the whole query suite. The memo must hold only
    the unexecuted plan and the per-call view registration must still
    switch tables when the SAME view name points at a DIFFERENT sf_dir."""

    def test_view_switches_between_sf_dirs(self, spark):
        from convert_spark import queries as Q

        Q._load(spark, "/root/testdata/sf0.001", "orders")
        n_small = spark.table("orders").count()
        Q._load(spark, "/root/testdata/sf0.01", "orders")
        n_big = spark.table("orders").count()
        Q._load(spark, "/root/testdata/sf0.001", "orders")
        n_again = spark.table("orders").count()
        assert n_big > n_small  # different dir really took effect
        assert n_again == n_small  # and switching back restores the old one

    def test_reader_is_memoized_not_results(self, spark):
        from convert_spark import queries as Q

        Q._load(spark, "/root/testdata/sf0.001", "customer")
        key = (id(spark), "/root/testdata/sf0.001", "customer")
        first = Q._READER_MEMO[key]
        Q._load(spark, "/root/testdata/sf0.001", "customer")
        assert Q._READER_MEMO[key] is first  # same lazy reader object
        # the memoized object is a plan, not materialized rows: an action
        # on it must still hit the parquet scan (storage stays empty)
        assert spark.table("customer").count() > 0
        cm = spark._jsparkSession.sharedState().cacheManager()
        assert cm.isEmpty()


class TestCacheLifecycle:
    """Round-4: the bucketed similarity paths persist signature tables;
    ``plans.checkpoints.hold`` ties each cache's lifetime to the result
    DataFrame, so a session no longer accumulates executor storage query
    over query. ``release`` frees a cache or a checkpoint at once."""

    QUERY_NAMES = ["q_minhash_lsh", "q_ann_lsh", "q_ann_ivf", "q_embed_neardup", "q_dedup_clusters"]

    def test_caches_released_when_result_dropped(self, spark):
        import gc

        from convert_spark import queries as Q

        cm = spark._jsparkSession.sharedState().cacheManager()
        spark.catalog.clearCache()
        assert cm.isEmpty()
        for name in self.QUERY_NAMES:
            df = Q.QUERIES[name](spark, "/root/testdata/sf0.001")
            n = len(df.toPandas())
            assert n >= 0
            assert not getattr(df, "_release", None) or True  # hold present or op had no persist
            del df
            gc.collect()
            assert cm.isEmpty(), f"{name}: cached relations survived result GC"

    def test_explicit_release_and_carry(self, spark):
        import gc

        from convert_spark.operators import ann
        from convert_spark.plans.checkpoints import hold

        cm = spark._jsparkSession.sharedState().cacheManager()
        spark.catalog.clearCache()
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = emb.filter(F.col("vec_id") % 50 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
        r = emb.select(F.col("vec_id").alias("ref_id"), "embedding")
        topk = ann.ann_lsh_topk(q, r, k=3)
        derived = hold(topk.select("query_id", "ref_id"), topk)
        del topk  # carry detached the upstream finalizer: cache must survive
        gc.collect()
        derived.count()
        assert not cm.isEmpty(), "cache should be alive while the derived result is referenced"
        derived._release()  # explicit eager release also works
        assert cm.isEmpty()
        del derived
        gc.collect()

    def test_release_frees_a_checkpoint(self, spark):
        from conftest import persistent_rdd_ids

        from convert_spark.plans.checkpoints import release

        pre = persistent_rdd_ids(spark)
        ck = spark.range(100).localCheckpoint(eager=True)
        (rid,) = persistent_rdd_ids(spark) - pre
        release(ck)
        assert rid not in persistent_rdd_ids(spark)
        with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
            ck.count()  # a released checkpoint fails loudly, never silently

    def test_release_frees_a_cache(self, spark):
        from convert_spark.plans.checkpoints import release

        cm = spark._jsparkSession.sharedState().cacheManager()
        spark.catalog.clearCache()
        cached = spark.range(100).withColumn("x", F.col("id") * 2).persist()
        assert cached.count() == 100
        assert not cm.isEmpty()
        release(cached)
        assert cm.isEmpty()

    def test_release_is_a_noop_on_lazy_and_released_frames(self, spark):
        from conftest import persistent_rdd_ids

        from convert_spark.plans.checkpoints import release

        cm = spark._jsparkSession.sharedState().cacheManager()
        spark.catalog.clearCache()
        pre = persistent_rdd_ids(spark)
        keep = spark.range(50).localCheckpoint(eager=True)
        (keep_id,) = persistent_rdd_ids(spark) - pre
        lazy = keep.filter(F.col("id") % 2 == 0)
        release(lazy)  # derived from a checkpoint, owns nothing
        assert keep_id in persistent_rdd_ids(spark)
        assert lazy.count() == 25
        ck = spark.range(10).localCheckpoint(eager=True)
        cached = spark.range(10).persist()
        cached.count()
        release(ck, cached)
        release(ck, cached)  # already released: no error, nothing else freed
        assert persistent_rdd_ids(spark) - pre == {keep_id}
        assert cm.isEmpty()
        assert keep.count() == 50


class TestIvfAutoScale:
    """Round-4: n_centroids=None scales the centroid count with the corpus
    (~sqrt(n), capped) and moves Lloyd refinement off the driver — the
    driver only sees k x dim partial totals per iteration."""

    def test_auto_centroid_scaling(self):
        assert ann._auto_n_centroids(100) == 10
        assert ann._auto_n_centroids(6400) == 80
        assert ann._auto_n_centroids(2) == 4  # floor
        assert ann._auto_n_centroids(10**12) == 4096  # cap

    @staticmethod
    def _clustered(rng, n_clusters, per_cluster, dim):
        centers = rng.normal(size=(n_clusters, dim))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        pts = np.repeat(centers, per_cluster, axis=0) + 0.05 * rng.normal(
            size=(n_clusters * per_cluster, dim)
        )
        return pts

    def test_refine_matches_numpy_lloyd(self, spark):
        rng = np.random.RandomState(3)
        mat = self._clustered(rng, 4, 50, 8)
        cent0 = ann._spherical_kmeans(mat, 4)
        m = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        exp = cent0.copy()
        for _ in range(2):
            assign = (m @ exp.T).argmax(axis=1)
            new = exp.copy()
            for c in range(len(exp)):
                sel = m[assign == c]
                if len(sel):
                    v = sel.sum(axis=0)
                    nn = np.linalg.norm(v)
                    if nn > 0:
                        new[c] = v / nn
            exp = np.round(new, 9)
        pdf = pd.DataFrame({"embedding": [list(map(float, row)) for row in mat]})
        nv = (
            spark.createDataFrame(pdf)
            .select(F.col("embedding").cast("array<double>").alias("__v"))
            .withColumn("__n", F.sqrt(F.aggregate("__v", F.lit(0.0), lambda a, x: a + x * x)))
            .select(F.transform("__v", lambda x: x / F.col("__n")).alias("__nv"))
        )
        got = ann._refine_centroids(nv, cent0, 8, 2)
        np.testing.assert_allclose(got, exp, atol=1e-6)

    def test_auto_mode_recall_on_clustered_data(self, spark):
        rng = np.random.RandomState(4)
        pts = self._clustered(rng, 40, 25, 16)
        pdf = pd.DataFrame(
            {"vec_id": np.arange(len(pts)), "embedding": [list(map(float, p)) for p in pts]}
        )
        e = spark.createDataFrame(pdf)
        q = e.filter(F.col("vec_id") % 50 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
        r = e.select(F.col("vec_id").alias("ref_id"), "embedding")
        exact = ann.brute_topk_broadcast(q, r, k=3).toPandas()
        got = ann.ivf_topk(q, r, k=3, n_centroids=None, n_probe=8).toPandas()
        exact_pairs = set(zip(exact["query_id"], exact["ref_id"]))
        pairs = set(zip(got["query_id"], got["ref_id"]))
        assert len(exact_pairs & pairs) / len(exact_pairs) >= 0.8

    def test_auto_recall_sweep_sf01(self, spark):
        """Round-5 (VERDICT item 6): recall@k evidence for the AUTO path
        (n_centroids=None, sqrt-n sizing + executor-side refinement) at
        sf0.1 across widening probes — converges toward brute force as
        the probe fraction grows, and at an equal probe FRACTION the
        auto path is at least as good as the explicit-16 configuration
        (more, finer cells at the same scanned share of the corpus)."""
        sf_dir = "/root/testdata/sf0.1"
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = e.filter(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        r = e.select(F.col("vec_id").alias("ref_id"), "embedding")
        exact = ann.brute_topk_broadcast(q, r, k=5).toPandas()
        exact_pairs = set(zip(exact["query_id"], exact["ref_id"]))
        n = r.count()
        k_auto = ann._auto_n_centroids(n)
        assert k_auto > 16  # sf0.1 corpus is big enough that auto > explicit-16

        def recall(df) -> float:
            pairs = set(zip(df["query_id"], df["ref_id"]))
            return len(exact_pairs & pairs) / len(exact_pairs)

        fracs = (1 / 16, 1 / 4, 1 / 2, 1.0)
        auto_recalls = []
        for f in fracs:
            probe = max(1, round(k_auto * f))
            got = ann.ivf_topk(q, r, k=5, n_centroids=None, n_probe=probe).toPandas()
            auto_recalls.append(recall(got))
        # converges to brute force when every bucket is probed
        assert auto_recalls[-1] >= 0.999
        # widening monotone up to sampling noise
        assert auto_recalls[-1] >= auto_recalls[0]
        assert all(b >= a - 0.05 for a, b in zip(auto_recalls, auto_recalls[1:]))
        # equal probe fraction (1/4): auto >= explicit-16 within noise
        explicit = ann.ivf_topk(q, r, k=5, n_centroids=16, n_probe=4).toPandas()
        assert auto_recalls[1] >= recall(explicit) - 0.02, (
            auto_recalls,
            recall(explicit),
        )


class TestResizeStage:
    """Round-4: the resize stage (the fourth task-brief multimodal op).
    Real path: PNG nearest-neighbor resample re-encoded via stdlib zlib;
    fake path: the SQL-expressible hash chain q_media_resize oracles."""

    def test_encode_decode_roundtrip(self):
        rng = np.random.RandomState(12)
        for c in (1, 2, 3, 4):
            px = rng.randint(0, 256, size=(9, 7, c), dtype=np.uint8)
            np.testing.assert_array_equal(multimodal._png_pixels(multimodal.encode_png(px)), px)

    def test_resize_real_nearest_neighbor(self):
        rng = np.random.RandomState(13)
        px = rng.randint(0, 256, size=(10, 6, 3), dtype=np.uint8)
        data = multimodal.encode_png(px)
        out = multimodal._png_pixels(multimodal.resize_real(data, 3, 5))
        yi = (np.arange(5) * 10) // 5
        xi = (np.arange(3) * 6) // 3
        np.testing.assert_array_equal(out, px[yi][:, xi])
        # upscale too
        up = multimodal._png_pixels(multimodal.resize_real(data, 12, 20))
        assert up.shape == (20, 12, 3)
        with pytest.raises(NotImplementedError):
            multimodal.resize_real(TestRealCodecs._jpeg_bytes(), 4, 4)  # header-only fixture: no scan

    def test_resize_real_wav(self):
        import io as _io
        import wave

        samples = np.arange(100, dtype="<i2")
        buf = _io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(samples.tobytes())
        out = multimodal.resize_real(buf.getvalue(), 25, 4000)
        kind, w, h, c = multimodal.decode_real(out)
        assert (kind, w, h, c) == ("wav", 25, 4000, 1)
        a = multimodal._audio("wav", out)
        got, rate = (a.samples - a.mid) / a.half, a.rate
        exp = samples[(np.arange(25) * 100) // 25].astype(np.float64) / 32768.0
        np.testing.assert_allclose(got[:, 0], exp)
        assert rate == 4000

    def test_spark_resize_stage_both_paths(self, spark):
        rng = np.random.RandomState(14)
        px = rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8)
        png = multimodal.encode_png(px)
        df = spark.createDataFrame([("png://z", png)], "url string, html binary")
        real = multimodal.resize_media(df, target=(4, 4), deterministic_fake=False).collect()[0]
        import hashlib

        exp_png = multimodal.resize_real(png, 4, 4)
        assert real["resized_sha"] == hashlib.sha256(exp_png).hexdigest()[:16]
        assert (real["out_w"], real["out_h"]) == (4, 4)
        fake = multimodal.resize_media(df, target=(4, 4), deterministic_fake=True).collect()[0]
        assert fake["resized_sha"] == hashlib.sha256(png + b"resize:4x4").hexdigest()[:16]


class TestPngFuzzDeclaredErrors:
    """The real decode path's contract: ANY corrupt payload raises ONLY
    the declared NotImplementedError — never a bare struct.error /
    zlib.error / ValueError that would kill a Spark task untyped."""

    def test_mutated_png_payloads(self):
        rng = np.random.RandomState(18)
        px = rng.randint(0, 256, size=(6, 5, 3), dtype=np.uint8)
        good = multimodal.encode_png(px)
        for _ in range(300):
            data = bytearray(good)
            op = rng.randint(3)
            if op == 0:  # flip random bytes
                for _ in range(rng.randint(1, 6)):
                    data[rng.randint(len(data))] = rng.randint(256)
            elif op == 1:  # truncate
                data = data[: rng.randint(8, len(data))]
            else:  # splice garbage into the middle
                pos = rng.randint(8, len(data))
                data = data[:pos] + bytes(rng.randint(0, 256, rng.randint(1, 20), dtype=np.uint8)) + data[pos:]
            payload = bytes(data)
            for fn in (
                lambda d: multimodal.decode_real(d) if d[:8] == b"\x89PNG\r\n\x1a\n" else None,
                lambda d: multimodal._png_pixels(d) if d[:8] == b"\x89PNG\r\n\x1a\n" else None,
                lambda d: multimodal.resize_real(d, 3, 3) if d[:8] == b"\x89PNG\r\n\x1a\n" else None,
            ):
                try:
                    fn(payload)
                except NotImplementedError:
                    pass  # the declared error
                # any other exception type fails the test by propagating

    def test_mutated_jpeg_wav_payloads(self):
        """Same contract for the other stdlib-decoded formats: mutations
        either decode (mutation missed the parsed region) or raise the
        declared NotImplementedError — never an untyped error."""
        rng = np.random.RandomState(21)
        goods = [TestRealCodecs._jpeg_bytes(), TestRealCodecs._wav_bytes(n_frames=64)]
        for good in goods:
            for _ in range(200):
                data = bytearray(good)
                op = rng.randint(3)
                if op == 0:
                    for _ in range(rng.randint(1, 6)):
                        data[rng.randint(len(data))] = rng.randint(256)
                elif op == 1:
                    data = data[: rng.randint(4, len(data))]
                else:
                    pos = rng.randint(4, len(data))
                    data = data[:pos] + bytes(rng.randint(0, 256, rng.randint(1, 20), dtype=np.uint8)) + data[pos:]
                try:
                    multimodal.decode_real(bytes(data))
                except NotImplementedError:
                    pass
                try:
                    multimodal.frames_real(bytes(data), 2)
                except NotImplementedError:
                    pass

    def test_multi_idat_png_decodes(self):
        """The spec allows the compressed stream split across many IDAT
        chunks; the decoder must concatenate before inflating."""
        import struct as st
        import zlib

        rng = np.random.RandomState(19)
        px = rng.randint(0, 256, size=(5, 4, 3), dtype=np.uint8)
        raw = b"".join(b"\x00" + px[y].tobytes() for y in range(5))
        comp = zlib.compress(raw)

        def chunk(tag, body):
            return st.pack(">I", len(body)) + tag + body + st.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)

        parts = [comp[i : i + 7] for i in range(0, len(comp), 7)]
        data = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", st.pack(">IIBBBBB", 4, 5, 8, 2, 0, 0, 0))
            + b"".join(chunk(b"IDAT", p) for p in parts)
            + chunk(b"IEND", b"")
        )
        np.testing.assert_array_equal(multimodal._png_pixels(data), px)


class TestWatermarkLateData:
    """Event-time watermark semantics (task brief: "watermarks + windowed
    aggs for late data"): in append mode a window emits once the watermark
    passes its end, and data later than the watermark is DROPPED — pinned
    with three deterministic file-source micro-batches."""

    @staticmethod
    def _pages(spark, rows):
        import datetime as dt

        data = [
            (
                f"http://w/{i}",
                dt.datetime.fromisoformat(ts),
                b"",
                f"page geo:{10.0 + 0.001 * i:.5f},20.00000 end",
                "en",
                i,
            )
            for i, ts in rows
        ]
        from convert_spark.datagen import PAGES_SCHEMA

        return spark.createDataFrame(data, PAGES_SCHEMA)

    def test_append_mode_drops_too_late_rows(self, spark, tmp_path):
        from convert_spark.streaming import ingest

        landing = str(tmp_path / "landing_wm")
        self._pages(spark, [(0, "2026-01-01 10:00:00"), (1, "2026-01-01 11:00:00")]).coalesce(
            1
        ).write.mode("overwrite").parquet(landing)
        stream = ingest.read_page_stream(spark, landing, max_files_per_trigger=100)
        agg = ingest.stream_tile_counts(stream, zoom=6, watermark="1 hour")
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName("wm_sink")
            .start()
        )
        try:
            q.processAllAvailable()
            # window not closed yet: append emits nothing
            assert spark.sql("select * from wm_sink").count() == 0
            # batch 2 advances the watermark past Jan-1's window end
            self._pages(spark, [(2, "2026-01-03 00:30:00")]).coalesce(1).write.mode(
                "append"
            ).parquet(landing)
            q.processAllAvailable()
            day1 = spark.sql("select sum(n) as n from wm_sink where day = '2026-01-01'").collect()[0]["n"]
            assert day1 == 2  # both on-time pages counted once the window closed
            # batch 3: a row back inside Jan-1 — LATER than the watermark -> dropped
            self._pages(spark, [(3, "2026-01-01 12:00:00")]).coalesce(1).write.mode(
                "append"
            ).parquet(landing)
            q.processAllAvailable()
            day1_after = spark.sql("select sum(n) as n from wm_sink where day = '2026-01-01'").collect()[0]["n"]
            assert day1_after == 2, "too-late row must not reopen the emitted window"
        finally:
            q.stop()


class TestPngDeepFormats:
    """Round-4 stub narrowing: 16-bit PNGs decode to uint16 (big-endian
    samples) and 8-bit palette PNGs decode through PLTE to RGB."""

    def test_16bit_roundtrip_and_resize(self):
        rng = np.random.RandomState(23)
        for c in (1, 3, 4):
            px = rng.randint(0, 65536, size=(5, 4, c)).astype(np.uint16)
            data = multimodal.encode_png(px)
            got = multimodal._png_pixels(data)
            assert got.dtype == np.uint16
            np.testing.assert_array_equal(got, px)
        px = rng.randint(0, 65536, size=(8, 6, 3)).astype(np.uint16)
        out = multimodal._png_pixels(multimodal.resize_real(multimodal.encode_png(px), 3, 4))
        yi = (np.arange(4) * 8) // 4
        xi = (np.arange(3) * 6) // 3
        np.testing.assert_array_equal(out, px[yi][:, xi])
        feat = multimodal.features_real(multimodal.encode_png(px), dim=16)
        v = px[:, :, 0].astype(np.float64) / 65535.0
        assert feat[0] == pytest.approx(v.mean(), abs=1e-6)

    @staticmethod
    def _palette_png(idx: np.ndarray, table: np.ndarray) -> bytes:
        import struct as st
        import zlib

        def chunk(tag, body):
            return st.pack(">I", len(body)) + tag + body + st.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)

        h, w = idx.shape
        raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(h))
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", st.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
            + chunk(b"PLTE", table.astype(np.uint8).tobytes())
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    def test_palette_decode(self):
        rng = np.random.RandomState(24)
        table = rng.randint(0, 256, size=(7, 3), dtype=np.uint8)
        idx = rng.randint(0, 7, size=(6, 5), dtype=np.uint8)
        got = multimodal._png_pixels(self._palette_png(idx, table))
        np.testing.assert_array_equal(got, table[idx])
        # palette index past the PLTE -> declared error
        bad_idx = np.full((2, 2), 9, dtype=np.uint8)
        with pytest.raises(NotImplementedError):
            multimodal._png_pixels(self._palette_png(bad_idx, table))
        # palette image with NO PLTE chunk -> declared error
        import struct as st
        import zlib

        def chunk(tag, body):
            return st.pack(">I", len(body)) + tag + body + st.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)

        no_plte = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", st.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00" * 2))
            + chunk(b"IEND", b""))
        with pytest.raises(NotImplementedError):
            multimodal._png_pixels(no_plte)


class TestPngAdam7:
    """Adam7 interlace decode: the test ENCODER extracts the 7 passes and
    filters each independently; the engine deinterlaces by scatter."""

    PASSES = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

    @classmethod
    def _encode_interlaced(cls, px: np.ndarray, rng) -> bytes:
        import struct as st
        import zlib

        h, w, c = px.shape
        bit_depth = 16 if px.dtype == np.uint16 else 8
        bpp = c * (bit_depth // 8)
        body = b""
        for x0, y0, dx, dy in cls.PASSES:
            sub = px[y0::dy, x0::dx]
            ph, pw = sub.shape[:2]
            if ph == 0 or pw == 0:
                continue
            rows = sub.astype(">u2") if bit_depth == 16 else sub
            prev = np.zeros(pw * bpp, dtype=np.int64)
            for y in range(ph):
                cur = np.frombuffer(rows[y].tobytes(), dtype=np.uint8).astype(np.int64)
                f = int(rng.choice([0, 1, 2]))  # vectorizable filters in the encoder
                if f == 0:
                    filt = cur
                elif f == 1:
                    left = np.concatenate([np.zeros(bpp, dtype=np.int64), cur[:-bpp]])
                    filt = (cur - left) & 0xFF
                else:
                    filt = (cur - prev) & 0xFF
                body += bytes([f]) + bytes(filt.astype(np.uint8))
                prev = cur

        def chunk(tag, b):
            return st.pack(">I", len(b)) + tag + b + st.pack(">I", zlib.crc32(tag + b) & 0xFFFFFFFF)

        color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
        ihdr = st.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, 1)  # interlace=1
        return b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(body)) + chunk(b"IEND", b"")

    def test_roundtrip_shapes_and_depths(self):
        rng = np.random.RandomState(25)
        for (h, w), c in [((9, 7), 3), ((8, 8), 1), ((3, 2), 4), ((1, 1), 3), ((16, 5), 2)]:
            px = rng.randint(0, 256, size=(h, w, c)).astype(np.uint8)
            got = multimodal._png_pixels(self._encode_interlaced(px, rng))
            np.testing.assert_array_equal(got, px)
        px16 = rng.randint(0, 65536, size=(6, 9, 3)).astype(np.uint16)
        got16 = multimodal._png_pixels(self._encode_interlaced(px16, rng))
        assert got16.dtype == np.uint16
        np.testing.assert_array_equal(got16, px16)

    def test_truncated_interlaced_declared_error(self):
        rng = np.random.RandomState(26)
        px = rng.randint(0, 256, size=(9, 7, 3)).astype(np.uint8)
        good = self._encode_interlaced(px, rng)
        import struct as st
        import zlib

        # re-wrap with a short IDAT: drop the last pass's bytes pre-compress
        for cut in (1, 20):
            bad = bytearray(good)
            # simplest: truncate the whole file; decode must stay declared
            try:
                multimodal._png_pixels(bytes(bad[: len(bad) - cut]))
            except NotImplementedError:
                pass


class TestPngSubByteDepths:
    """1/2/4-bit grayscale and palette PNGs: one-byte filter offset,
    MSB-first sample packing, spec gray scaling to 8-bit."""

    @staticmethod
    def _encode_subbyte(vals: np.ndarray, bit_depth: int, color_type: int, plte: bytes | None, filters) -> bytes:
        import struct as st
        import zlib

        h, w = vals.shape
        body = b""
        prev = None
        for y, f in zip(range(h), filters):
            bits = ((vals[y][:, None] >> np.arange(bit_depth - 1, -1, -1)) & 1).astype(np.uint8)
            packed = np.packbits(bits.reshape(-1))
            cur = packed.astype(np.int64)
            if f == 0 or prev is None:
                filt, f = cur, 0
            else:  # Up
                filt = (cur - prev) & 0xFF
            body += bytes([f]) + bytes(filt.astype(np.uint8))
            prev = cur

        def chunk(tag, b):
            return st.pack(">I", len(b)) + tag + b + st.pack(">I", zlib.crc32(tag + b) & 0xFFFFFFFF)

        ihdr = st.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, 0)
        out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if plte is not None:
            out += chunk(b"PLTE", plte)
        return out + chunk(b"IDAT", zlib.compress(body)) + chunk(b"IEND", b"")

    def test_gray_depths(self):
        rng = np.random.RandomState(27)
        for d in (1, 2, 4):
            vals = rng.randint(0, 1 << d, size=(5, 11), dtype=np.uint8)  # 11: partial last byte
            data = self._encode_subbyte(vals, d, 0, None, [0, 2, 0, 2, 2])
            got = multimodal._png_pixels(data)
            exp = ((vals.astype(np.uint16) * 255) // ((1 << d) - 1)).astype(np.uint8)[:, :, None]
            np.testing.assert_array_equal(got, exp)

    def test_palette_depths(self):
        rng = np.random.RandomState(28)
        table = rng.randint(0, 256, size=(16, 3), dtype=np.uint8)
        for d in (2, 4):
            vals = rng.randint(0, 1 << d, size=(4, 7), dtype=np.uint8)
            data = self._encode_subbyte(vals, d, 3, table.tobytes(), [0, 0, 2, 2])
            np.testing.assert_array_equal(multimodal._png_pixels(data), table[vals])
        # out-of-palette index stays the declared error
        small = table[:2].tobytes()
        vals = np.full((2, 3), 3, dtype=np.uint8)
        with pytest.raises(NotImplementedError):
            multimodal._png_pixels(self._encode_subbyte(vals, 2, 3, small, [0, 0]))


class TestJpegCodec:
    """From-scratch baseline JPEG (kernels/jpeg.py): encoder and decoder
    are inverse transforms built independently from the published spec —
    round trips bound the quantization error; constants are exact."""

    @staticmethod
    def _gradient(h, w, phases=(0.0, 1.0, 2.0)):
        yy, xx = np.mgrid[0:h, 0:w]
        return np.stack(
            [(128 + 90 * np.sin(xx / 7.0 + yy / 11.0 + p)).astype(np.uint8) for p in phases],
            axis=2,
        )

    def test_roundtrip_444(self):
        from convert_spark.kernels import jpeg

        px = self._gradient(24, 33)
        out = jpeg.decode_baseline(jpeg.encode_baseline(px, quality=95))
        assert out.shape == px.shape
        err = np.abs(out.astype(int) - px.astype(int))
        assert err.max() <= 8 and err.mean() < 1.5

    def test_roundtrip_420_and_restart(self):
        from convert_spark.kernels import jpeg

        px = self._gradient(37, 29)  # odd dims: partial MCUs both axes
        out = jpeg.decode_baseline(
            jpeg.encode_baseline(px, quality=92, subsample=True, restart_interval=2)
        )
        err = np.abs(out.astype(int) - px.astype(int))
        assert err.max() <= 24 and err.mean() < 4.0  # 4:2:0 chroma loss bounded

    def test_constant_and_gray_exact(self):
        from convert_spark.kernels import jpeg

        const = np.full((8, 8, 3), 77, dtype=np.uint8)
        assert (jpeg.decode_baseline(jpeg.encode_baseline(const)) == 77).all()
        yy = np.mgrid[0:16, 0:12][0]
        g = (yy * 9).astype(np.uint8)[:, :, None]
        out = jpeg.decode_baseline(jpeg.encode_baseline(g, quality=95, restart_interval=1))
        assert out.shape == (16, 12, 1)
        assert np.abs(out.astype(int) - g.astype(int)).max() <= 2

    def test_spark_jpeg_feature_and_resize(self, spark):
        import hashlib

        from convert_spark.kernels import jpeg

        px = self._gradient(20, 16)
        data = jpeg.encode_baseline(px, quality=95)
        df = spark.createDataFrame([("jpg://r", data)], "url string, html binary")
        feat = multimodal.extract_features(df, deterministic_fake=False).collect()[0]["feat"]
        decoded = jpeg.decode_baseline(data)
        assert feat[0] == pytest.approx(decoded[:, :, 0].mean() / 255.0, abs=1e-6)
        row = multimodal.resize_media(df, target=(8, 10), deterministic_fake=False).collect()[0]
        exp = jpeg.encode_baseline(
            np.ascontiguousarray(decoded[(np.arange(10) * 20) // 10][:, (np.arange(8) * 16) // 8])
        )
        assert row["resized_sha"] == hashlib.sha256(exp).hexdigest()[:16]

    def test_mutation_fuzz_declared_errors(self):
        from convert_spark.kernels import jpeg

        rng = np.random.RandomState(43)
        good = jpeg.encode_baseline(self._gradient(17, 13), quality=85)
        for _ in range(200):
            data = bytearray(good)
            op = rng.randint(3)
            if op == 0:
                for _ in range(rng.randint(1, 8)):
                    data[rng.randint(len(data))] = rng.randint(256)
            elif op == 1:
                data = data[: rng.randint(2, len(data))]
            else:
                pos = rng.randint(2, len(data))
                data = data[:pos] + bytes(rng.randint(0, 256, rng.randint(1, 30), dtype=np.uint8)) + data[pos:]
            try:
                jpeg.decode_baseline(bytes(data))
            except NotImplementedError:
                pass  # the single declared error type

    def test_progressive_header_only_raises(self):
        """A SOF2 frame with no SOS at all is malformed (progressive
        DECODE is supported as of round 5 — see TestProgressiveJpeg)."""
        from convert_spark.kernels import jpeg

        import struct as st

        sof2 = b"\xff\xc2" + st.pack(">HBHHB", 11, 8, 8, 8, 1) + st.pack("BBB", 1, 0x11, 0)
        with pytest.raises(NotImplementedError):
            jpeg.decode_baseline(b"\xff\xd8" + sof2 + b"\xff\xd9")


class TestProgressiveJpeg:
    """Progressive (SOF2) decode: spectral selection via the paired
    progressive encoder; successive approximation via a hand-assembled
    scan sequence checked against the directly-computed pixel block."""

    @staticmethod
    def _gradient(h, w, phases=(0.0, 1.0, 2.0)):
        yy, xx = np.mgrid[0:h, 0:w]
        return np.stack(
            [(128 + 90 * np.sin(xx / 7.0 + yy / 11.0 + p)).astype(np.uint8) for p in phases],
            axis=2,
        )

    @pytest.mark.parametrize(
        "h,w,kw",
        [
            (24, 33, {"quality": 95}),
            (37, 29, {"quality": 92, "subsample": True}),  # 4:2:0 partial MCUs
            (21, 19, {"quality": 85, "restart_interval": 3}),
        ],
    )
    def test_spectral_selection_equals_baseline(self, h, w, kw):
        """Same coefficients, different scan order -> identical pixels."""
        from convert_spark.kernels import jpeg

        px = self._gradient(h, w)
        base = jpeg.decode_baseline(jpeg.encode_baseline(px, **kw))
        prog = jpeg.decode_baseline(jpeg.encode_baseline(px, progressive=True, **kw))
        assert (prog == base).all()

    def test_gray_spectral_selection(self):
        from convert_spark.kernels import jpeg

        g = (np.mgrid[0:16, 0:12][0] * 9).astype(np.uint8)[:, :, None]
        base = jpeg.decode_baseline(jpeg.encode_baseline(g, quality=95))
        prog = jpeg.decode_baseline(jpeg.encode_baseline(g, quality=95, progressive=True))
        assert (prog == base).all()

    def test_mutation_fuzz_progressive(self):
        from convert_spark.kernels import jpeg

        rng = np.random.RandomState(47)
        good = jpeg.encode_baseline(self._gradient(17, 13), quality=85, progressive=True)
        for _ in range(200):
            data = bytearray(good)
            op = rng.randint(3)
            if op == 0:
                for _ in range(rng.randint(1, 8)):
                    data[rng.randint(len(data))] = rng.randint(256)
            elif op == 1:
                data = data[: rng.randint(2, len(data))]
            else:
                pos = rng.randint(2, len(data))
                data = data[:pos] + bytes(rng.randint(0, 256, rng.randint(1, 30), dtype=np.uint8)) + data[pos:]
            try:
                jpeg.decode_baseline(bytes(data))
            except NotImplementedError:
                pass  # the single declared error type

    @staticmethod
    def _seg(marker: int, body: bytes) -> bytes:
        import struct as st

        return bytes([0xFF, marker]) + st.pack(">H", len(body) + 2) + body

    def _sa_file(self) -> tuple[bytes, np.ndarray]:
        """Hand-assemble a single-block grayscale progressive file using
        successive approximation: DC first at Al=1 + DC refinement, AC
        first (Ss=1..4, Al=1) + AC refinement (Ah=1, Al=0) with a
        newly-significant coefficient behind a zero-history run and
        correction bits for the two nonzero-history coefficients.
        Returns (file bytes, expected 8x8 pixel block)."""
        from convert_spark.kernels import jpeg

        # target zigzag coefficients (quant table all ones => identity)
        # dc=5, zz1=3, zz2=-2, zz3=0, zz4=1
        dc, z1, z2, z4 = 5, 3, -2, 1
        dc_codes = jpeg._encode_codes(*jpeg._DC_LUMA)
        ac_codes = jpeg._encode_codes(*jpeg._AC_LUMA)

        def scan_bits(emit) -> bytes:
            bw = jpeg._BitWriter()
            emit(bw)
            bw.flush()
            return bytes(bw.out)

        # scan 1: DC first, Al=1 -> encode dc>>1 = 2 (diff from pred 0)
        def dc_first(bw):
            v = dc >> 1
            t = v.bit_length()
            c, ln = dc_codes[t]
            bw.bits(c, ln)
            bw.bits(v, t)

        # scan 2: DC refinement, Al=0 -> the low bit of dc (1)
        def dc_refine(bw):
            bw.bits(dc & 1, 1)

        # scan 3: AC first, Ss=1 Se=4, Al=1 -> values >> 1 toward zero:
        # zz1 -> 1, zz2 -> -1, zz3 -> 0, zz4 -> 0; then EOB0
        def ac_first(bw):
            for v in (z1 // 2, -((-z2) // 2)):  # 1, -1 (truncate toward zero)
                s = abs(v).bit_length()
                c, ln = ac_codes[(0 << 4) | s]
                bw.bits(c, ln)
                bw.bits(v if v > 0 else v + (1 << s) - 1, s)
            c, ln = ac_codes[0x00]  # EOB for the zero tail
            bw.bits(c, ln)

        # scan 4: AC refinement, Ah=1 Al=0: zz4 newly significant behind
        # one zero-history coeff (r=1, s=1) + sign, then correction bits
        # for zz1 (|3| bit0 = 1) and zz2 (|-2| bit0 = 0) in k order
        def ac_refine(bw):
            c, ln = ac_codes[(1 << 4) | 1]
            bw.bits(c, ln)
            bw.bits(1, 1)  # zz4 positive
            bw.bits(1, 1)  # zz1 correction: 2 -> 3
            bw.bits(0, 1)  # zz2 correction: -2 stays

        qt_ones = self._seg(0xDB, bytes([0]) + bytes([1] * 64))
        import struct as st

        sof2 = self._seg(0xC2, st.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
        counts, symbols = jpeg._DC_LUMA
        dht_dc = self._seg(0xC4, bytes([0x00]) + bytes(counts) + bytes(symbols))
        counts, symbols = jpeg._AC_LUMA
        dht_ac = self._seg(0xC4, bytes([0x10]) + bytes(counts) + bytes(symbols))
        data = (
            b"\xff\xd8" + qt_ones + sof2 + dht_dc + dht_ac
            + self._seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x01])) + scan_bits(dc_first)
            + self._seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x10])) + scan_bits(dc_refine)
            + self._seg(0xDA, bytes([1, 1, 0x00, 1, 4, 0x01])) + scan_bits(ac_first)
            + self._seg(0xDA, bytes([1, 1, 0x00, 1, 4, 0x10])) + scan_bits(ac_refine)
            + b"\xff\xd9"
        )
        zz = np.zeros(64, dtype=np.int64)
        zz[0], zz[1], zz[2], zz[4] = dc, z1, z2, z4
        nat = np.zeros(64, dtype=np.int64)
        nat[jpeg._ZIGZAG] = zz
        px = jpeg._A.T @ nat.reshape(8, 8).astype(np.float64) @ jpeg._A + 128.0
        expected = np.clip(np.rint(px), 0, 255).astype(np.uint8)[:, :, None]
        return data, expected

    def test_sa_encoder_roundtrip_sweep(self):
        """Round-5: the paired SA encoder (sa_levels=1 — Al=1 first
        scans + Ah=1/Al=0 refinement) must land on pixel-identical
        output vs the baseline encoding across content that stresses
        EOB runs, ZRL-with-interleaved-corrections and restarts."""
        from convert_spark.kernels import jpeg

        rng = np.random.RandomState(5)
        for _ in range(25):
            h, w = rng.randint(8, 48, 2)
            nc = int(rng.choice([1, 3]))
            px = rng.randint(0, 256, (h, w, nc)).astype(np.uint8)
            q = int(rng.choice([20, 60, 90]))
            sub = bool(rng.randint(2)) and nc == 3
            ri = int(rng.choice([0, 0, 2]))
            base = jpeg.decode_baseline(
                jpeg.encode_baseline(px, quality=q, subsample=sub, restart_interval=ri)
            )
            sa = jpeg.decode_baseline(
                jpeg.encode_baseline(
                    px, quality=q, subsample=sub, restart_interval=ri,
                    progressive=True, sa_levels=1,
                )
            )
            assert (sa == base).all(), (h, w, nc, q, sub, ri)

    def test_successive_approximation_hand_stream(self):
        from convert_spark.kernels import jpeg

        data, expected = self._sa_file()
        got = jpeg.decode_baseline(data)
        assert got.shape == (8, 8, 1)
        assert (got == expected).all()

    def test_ac_before_dc_raises(self):
        """T.81 G.1.1.1.1: a component's first scan must be DC."""
        from convert_spark.kernels import jpeg

        data, _ = self._sa_file()
        # drop the two DC scans: file = headers + AC scans only
        idx = data.index(b"\xff\xda")
        # find the third SOS (first AC scan)
        second = data.index(b"\xff\xda", idx + 2)
        third = data.index(b"\xff\xda", second + 2)
        broken = data[:idx] + data[third:]
        with pytest.raises(NotImplementedError):
            jpeg.decode_baseline(broken)


class TestG711:
    """ITU-T G.711 mu-law/A-law WAV decode (fmt tags 7/6): vectorized
    table vs the scalar spec arithmetic in the test-side twin, plus
    spec-pinned known values."""

    def test_known_values_and_extremes(self):
        from convert_spark.operators import multimodal

        t7 = multimodal._g711_table(7)
        t6 = multimodal._g711_table(6)
        # mu-law: 0xFF is the zero code, 0x7F the negative-zero code
        assert t7[0xFF] == 0 and t7[0x7F] == 0
        # spec maxima: mu-law +/-32124 (codes 0x80 / 0x00)
        assert t7[0x80] == 32124 and t7[0x00] == -32124
        assert int(t7.max()) == 32124 and int(t7.min()) == -32124
        # A-law: +/-32256 at codes 0xAA^0x55-family extremes; zero codes
        assert int(t6.max()) == 32256 and int(t6.min()) == -32256
        assert t6[0xD5] == 8 and t6[0x55] == -8  # smallest magnitudes

    def test_table_matches_scalar_twin_all_codes(self):
        import media_reference_impl as mref

        from convert_spark.operators import multimodal

        for fmt in (6, 7):
            table = multimodal._g711_table(fmt)
            for code in range(256):
                assert int(table[code]) == mref.g711_expand(code, fmt), (fmt, code)

    def test_g711_wav_decode_stats_frames_resize(self):
        import media_reference_impl as mref

        from convert_spark import mediagen
        from convert_spark.operators import multimodal

        for seed in (18, 19, 18 + mediagen.N_FORMATS, 19 + mediagen.N_FORMATS):
            p = mediagen.payload_for(seed)
            assert multimodal.decode_real(p) == mref.header(p)
            ek, es = multimodal.stats_real(p)
            tk, ts = mref.channel_stats(p)
            assert ek == tk == "wav"
            assert [tuple(x) for x in es] == [tuple(x) for x in ts]
            assert multimodal.frames_real(p, 3) == mref.wav_frame_windows(p, 3)
            # lossless resize: G.711 bytes pass through unre-encoded, so
            # resampling to the SAME frame count preserves every sample
            _, w, _, nch = multimodal.decode_real(p)
            rp = multimodal.resize_real(p, w, 12345)
            assert multimodal.decode_real(rp) == ("wav", w, 12345, nch)
            assert multimodal._audio("wav", rp).samples.tolist() == multimodal._audio("wav", p).samples.tolist()

    def test_unknown_wav_format_declared(self):
        from convert_spark.operators import multimodal

        # IEEE-float WAV (fmt 3) stays declared codec territory
        bad = multimodal.encode_g711_wav(3, 1, 8000, b"\x00" * 64)
        with pytest.raises(NotImplementedError):
            multimodal.decode_real(bad)
        with pytest.raises(NotImplementedError):
            multimodal.stats_real(bad)


class TestJpeg12:
    """12-bit extended-sequential JPEG (SOF1, T.81 process 2): 16-bit
    DQT, level shift 2048, extended huffman alphabet, uint16 rasters."""

    def _px(self, h=19, w=15, nc=3):
        yy, xx = np.mgrid[0:h, 0:w]
        return np.stack(
            [(2048 + 1500 * np.sin(xx / 4.0 + yy / 6.0 + p)).astype(np.uint16) for p in range(nc)],
            axis=2,
        )

    def test_round_trip_close_and_uint16(self):
        from convert_spark.kernels import jpeg

        for nc in (1, 3):
            px = self._px(nc=nc)
            out = jpeg.decode_baseline(jpeg.encode_baseline(px, quality=92, precision=12))
            assert out.dtype == np.uint16 and out.shape == px.shape
            assert float(np.abs(out.astype(int) - px.astype(int)).mean()) < 60

    def test_dc_extremes_and_restarts(self):
        from convert_spark.kernels import jpeg

        # full-scale flats stress the extended DC categories
        for v in (0, 4095):
            px = np.full((9, 9, 1), v, np.uint16)
            out = jpeg.decode_baseline(jpeg.encode_baseline(px, quality=50, precision=12))
            assert abs(float(out.mean()) - v) < 40
        px = self._px()
        b = jpeg.encode_baseline(px, quality=85, precision=12, restart_interval=2)
        assert b"\xff\xc1" in b and b"\xff\xc0" not in b  # SOF1, not baseline SOF0
        out = jpeg.decode_baseline(b)
        assert float(np.abs(out.astype(int) - px.astype(int)).mean()) < 80

    def test_sixteen_bit_dqt_written_and_read(self):
        from convert_spark.kernels import jpeg

        b = jpeg.encode_baseline(self._px(nc=1), quality=90, precision=12)
        i = b.find(b"\xff\xdb")
        assert b[i + 4] >> 4 == 1  # Pq=1: 16-bit quant entries

    def test_matches_scalar_twin(self):
        import media_reference_impl as mref

        from convert_spark import mediagen

        for seed in (22, 23, 22 + mediagen.N_FORMATS, 23 + mediagen.N_FORMATS):
            p = mediagen.payload_for(seed)
            assert multimodal.decode_real(p) == mref.header(p)
            ek, es = multimodal.stats_real(p)
            tk, ts = mref.channel_stats(p)
            assert ek == tk == "jpeg"
            assert [tuple(x) for x in es] == [tuple(x) for x in ts]

    def test_declared_boundaries(self):
        from convert_spark.kernels import jpeg

        px8 = self._px(nc=3)
        with pytest.raises(NotImplementedError):
            jpeg.encode_baseline(px8, precision=12, progressive=True)
        with pytest.raises(NotImplementedError):
            jpeg.encode_baseline(px8, precision=12, subsample=True)
        with pytest.raises(NotImplementedError):
            jpeg.encode_baseline(np.full((8, 8, 1), 5000, np.uint16), precision=12)
        with pytest.raises(NotImplementedError):
            jpeg.encode_baseline(px8, precision=10)

    def test_resize_preserves_precision(self):
        from convert_spark import mediagen
        from convert_spark.kernels import jpeg

        p = mediagen.payload_for(23)
        rz = multimodal.resize_real(p, 7, 6)
        out = jpeg.decode_baseline(rz)
        assert out.dtype == np.uint16 and out.shape[:2] == (6, 7)


class TestRasters:
    """BMP + baseline TIFF (kernels/rasters.py): exact round trips,
    layout variants, twin agreement, declared boundaries."""

    def test_bmp_round_trip_both_orientations(self):
        from convert_spark.kernels import rasters

        rng = np.random.Generator(np.random.PCG64(31))
        for h, w in ((1, 1), (7, 5), (6, 16)):
            px = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
            for td in (False, True):
                assert np.array_equal(rasters.decode_bmp(rasters.encode_bmp(px, top_down=td)), px)

    def test_tiff_round_trip_endians_and_strips(self):
        from convert_spark.kernels import rasters

        rng = np.random.Generator(np.random.PCG64(32))
        for nc in (1, 3):
            for be in (False, True):
                for rps in (None, 3, 1):
                    px = rng.integers(0, 256, size=(10, 7, nc)).astype(np.uint8)
                    out = rasters.decode_tiff(rasters.encode_tiff(px, big_endian=be, rows_per_strip=rps))
                    assert np.array_equal(out, px), (nc, be, rps)

    def test_corpus_matches_twin(self):
        import media_reference_impl as mref

        from convert_spark import mediagen

        for seed in (26, 27, 26 + mediagen.N_FORMATS, 27 + mediagen.N_FORMATS):
            p = mediagen.payload_for(seed)
            assert multimodal.decode_real(p) == mref.header(p)
            ek, es = multimodal.stats_real(p)
            tk, ts = mref.channel_stats(p)
            assert ek == tk and [tuple(x) for x in es] == [tuple(x) for x in ts]

    def test_resize_in_source_format(self):
        from convert_spark import mediagen

        for seed, kind in ((26, "bmp"), (27, "tiff")):
            p = mediagen.payload_for(seed)
            rz = multimodal.resize_real(p, 5, 4)
            k, w, h, _ = multimodal.decode_real(rz)
            assert (k, w, h) == (kind, 5, 4)

    def test_bmp_palettized_hand_built(self):
        """8-bit palettized BI_RGB decode (no encoder emits it, so the
        payload is hand-assembled): palette lookup, BGRX->RGB order,
        row padding, bottom-up flip — checked against the scalar twin."""
        import struct

        import media_reference_impl as mref

        from convert_spark.kernels import rasters

        w, h, n_colors = 5, 3, 4
        pal = bytes([10, 20, 30, 0, 40, 50, 60, 0, 70, 80, 90, 0, 200, 210, 220, 0])  # BGRX
        idx = [[0, 1, 2, 3, 0], [3, 3, 1, 0, 2], [2, 0, 0, 1, 3]]
        stride = (w + 3) & ~3
        body = b"".join(bytes(r) + bytes(stride - w) for r in reversed(idx))  # bottom-up
        info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(body), 0, 0, n_colors, 0)
        hdr = b"BM" + struct.pack("<IHHI", 54 + len(pal) + len(body), 0, 0, 54 + len(pal))
        data = hdr + info + pal + body
        out = rasters.decode_bmp(data)
        assert out.shape == (h, w, 3)
        assert tuple(out[0, 0]) == (30, 20, 10) and tuple(out[1, 4]) == (90, 80, 70)
        assert [[tuple(p) for p in row] for row in out] == mref.bmp_pixels(data)
        corrupt = bytearray(data)
        corrupt[54 + len(pal)] = 250  # index >= n_colors
        with pytest.raises(NotImplementedError):
            rasters.decode_bmp(bytes(corrupt))

    def test_declared_boundaries(self):
        import struct

        from convert_spark.kernels import rasters

        rng = np.random.Generator(np.random.PCG64(33))
        px = rng.integers(0, 256, size=(6, 6, 3)).astype(np.uint8)
        rle = bytearray(rasters.encode_bmp(px))
        rle[30] = 1  # BI_RLE8
        with pytest.raises(NotImplementedError):
            rasters.decode_bmp(bytes(rle))
        lzw = bytearray(rasters.encode_tiff(px))
        # flip the Compression entry (tag 259) to 5 (LZW): entry value
        # sits 8 bytes into its 12-byte IFD record
        i = lzw.find(struct.pack("<HH", 259, 3))
        lzw[i + 8] = 5
        with pytest.raises(NotImplementedError):
            rasters.decode_tiff(bytes(lzw))
        for bad in (b"", b"BM", b"II*\x00" + bytes(4), b"BM" + bytes(60)):
            with pytest.raises(NotImplementedError):
                (rasters.decode_bmp if bad[:2] == b"BM" else rasters.decode_tiff)(bad)


class TestJpegLossless:
    """Lossless JPEG (SOF3, T.81 process 14): bit-exact round trips
    across every predictor and precision, scalar-twin agreement, and
    the declared boundary."""

    def test_bit_exact_round_trip_every_predictor(self):
        from convert_spark.kernels import jpeg

        rng = np.random.Generator(np.random.PCG64(21))
        for pred in range(1, 8):
            for prec, dt in ((2, np.uint8), (8, np.uint8), (12, np.uint16), (16, np.uint16)):
                px = rng.integers(0, 1 << prec, size=(11, 7, 2)).astype(dt)
                out = jpeg.decode_baseline(jpeg.encode_lossless(px, predictor=pred, precision=prec))
                assert out.dtype == dt and np.array_equal(out, px), (pred, prec)

    def test_edge_shapes(self):
        from convert_spark.kernels import jpeg

        rng = np.random.Generator(np.random.PCG64(22))
        for shape in ((1, 1, 1), (1, 12, 3), (12, 1, 1)):
            px = rng.integers(0, 256, size=shape).astype(np.uint8)
            assert np.array_equal(jpeg.decode_baseline(jpeg.encode_lossless(px, predictor=7)), px)

    def test_corpus_matches_twin(self):
        import media_reference_impl as mref

        from convert_spark import mediagen

        for seed in (24, 25, 24 + mediagen.N_FORMATS, 25 + mediagen.N_FORMATS):
            p = mediagen.payload_for(seed)
            assert multimodal.decode_real(p) == mref.header(p)
            ek, es = multimodal.stats_real(p)
            tk, ts = mref.channel_stats(p)
            assert ek == tk == "jpeg"
            assert [tuple(x) for x in es] == [tuple(x) for x in ts]

    def test_resize_stays_lossless(self):
        from convert_spark import mediagen
        from convert_spark.kernels import jpeg

        p = mediagen.payload_for(25)  # 16-bit grayscale
        src = jpeg.decode_baseline(p)
        rz = jpeg.decode_baseline(multimodal.resize_real(p, 5, 4))
        h, w, _ = src.shape
        yi = (np.arange(4) * h) // 4
        xi = (np.arange(5) * w) // 5
        # nearest-neighbor of a LOSSLESS source re-encoded losslessly is
        # bit-exact end to end
        assert np.array_equal(rz, src[yi][:, xi])

    def test_declared_boundaries(self):
        import pytest

        from convert_spark.kernels import jpeg

        px = np.zeros((4, 4, 1), np.uint8)
        with pytest.raises(NotImplementedError):
            jpeg.encode_lossless(px, predictor=0)
        with pytest.raises(NotImplementedError):
            jpeg.encode_lossless(px, precision=17)
        with pytest.raises(NotImplementedError):
            jpeg.encode_lossless(np.full((4, 4, 1), 9, np.uint8), precision=3)
        # truncated entropy stream raises the declared error
        b = jpeg.encode_lossless(np.arange(64, dtype=np.uint8).reshape(8, 8, 1))
        with pytest.raises(NotImplementedError):
            jpeg.decode_baseline(b[: len(b) - 6])


class TestGif:
    """GIF87a/89a codec (kernels/gif.py): LZW round trips under
    dictionary pressure, interlace, and ANIMATION compositing
    (transparency + disposal 0-3) against the scalar twin — the
    video-style frame-decode path."""

    def test_lzw_round_trip_dict_pressure(self):
        from convert_spark.kernels import gif

        rng = np.random.Generator(np.random.PCG64(11))
        for mcs, n in [(2, 1), (2, 9000), (4, 30000), (8, 70000)]:
            idx = rng.integers(0, min(1 << mcs, 256), size=n).astype(np.uint8)
            enc = gif.lzw_encode(idx, mcs)
            assert np.array_equal(gif.lzw_decode(mcs, enc, n), idx)
            # twin decodes the same stream (per-bit cursor vs byte accumulator)
            import media_reference_impl as mref

            assert mref.gif_lzw(mcs, enc, n) == idx.tolist()

    def test_static_round_trip_incl_interlace(self):
        from convert_spark.kernels import gif

        rng = np.random.Generator(np.random.PCG64(12))
        for interlace in (False, True):
            for h, w, ncol in [(1, 1, 1), (9, 13, 5), (16, 8, 256), (3, 30, 2)]:
                pal = rng.integers(0, 256, size=(ncol, 3)).astype(np.uint8)
                px = pal[rng.integers(0, ncol, size=(h, w))]
                b = gif.encode_gif([{"pixels": px}], w, h, interlace=interlace)
                assert gif.header(b) == (w, h, 1)
                frames, _ = gif.compose(b)
                assert len(frames) == 1 and np.array_equal(frames[0], px)

    def test_animation_compositing_matches_twin(self):
        import media_reference_impl as mref

        from convert_spark.kernels import gif

        rng = np.random.Generator(np.random.PCG64(13))
        W, H = 19, 12
        pal = rng.integers(0, 256, size=(5, 3)).astype(np.uint8)
        specs = [{"pixels": pal[rng.integers(0, 5, size=(H, W))], "delay_cs": 7, "disposal": 1}]
        for disp in (0, 1, 2, 3, 2, 3):
            fw, fh = int(rng.integers(2, 9)), int(rng.integers(2, 9))
            spec = {
                "pixels": pal[rng.integers(0, 5, size=(fh, fw))],
                "x": int(rng.integers(0, W - fw)),
                "y": int(rng.integers(0, H - fh)),
                "disposal": disp,
                "delay_cs": int(rng.integers(1, 30)),
                "mask": rng.random((fh, fw)) > 0.4,
            }
            specs.append(spec)
        b = gif.encode_gif(specs, W, H, bg_index=3)
        frames, delays = gif.compose(b)
        twin = mref.gif_compose(b)
        assert len(frames) == len(twin) == 7
        for a, t in zip(frames, twin):
            assert a.tolist() == [[list(px) for px in row] for row in t]
        assert delays[0] == 7

    def test_corpus_classes_match_twin_all_stages(self):
        import media_reference_impl as mref

        from convert_spark import mediagen
        from convert_spark.operators import multimodal

        for seed in (20, 21, 20 + mediagen.N_FORMATS, 21 + mediagen.N_FORMATS,
                     20 + 4 * mediagen.N_FORMATS, 21 + 4 * mediagen.N_FORMATS):
            p = mediagen.payload_for(seed)
            assert multimodal.decode_real(p) == mref.gif_header(p)
            ek, es = multimodal.stats_real(p)
            tk, ts = mref.gif_channel_stats(p)
            assert ek == tk == "gif"
            assert [tuple(x) for x in es] == [tuple(x) for x in ts]
            assert multimodal.frames_real(p, 3) == mref.gif_frame_hashes(p, 3)
            rz = multimodal.resize_real(p, 6, 5)
            kind, w, h, nf = multimodal.decode_real(rz)
            assert (kind, w, h) == ("gif", 6, 5)
            assert nf == multimodal.decode_real(p)[3]  # frame count kept

    def test_resize_is_presentation_equivalent(self):
        from convert_spark import mediagen
        from convert_spark.kernels import gif
        from convert_spark.operators import multimodal

        p = mediagen.payload_for(21)  # animated
        src, _ = gif.compose(p)
        rz, _ = gif.compose(multimodal.resize_real(p, 6, 5))
        h, w, _ = src[0].shape
        yi = (np.arange(5) * h) // 5
        xi = (np.arange(6) * w) // 6
        for s, r in zip(src, rz):
            assert np.array_equal(r, s[yi][:, xi])

    def test_junk_inputs_raise_declared(self):
        import pytest

        from convert_spark.kernels import gif

        for bad in (b"", b"GIF89a", b"GIF89a" + b"\x00" * 40,
                    b"GIF89a" + bytes(7) + b"\x2c" + bytes(20)):
            with pytest.raises(NotImplementedError):
                gif.header(bad)
        # truncated mid-LZW: cut a valid payload short
        from convert_spark import mediagen

        p = mediagen.payload_for(20)
        with pytest.raises(NotImplementedError):
            gif.compose(p[: len(p) - 8])
        # EOI arriving before all pixels decode is declared malformed,
        # and residual padding bits after EOI are never read as codes
        short = gif.lzw_encode(np.zeros(4, np.uint8), 2) + b"\x55" * 6
        with pytest.raises(NotImplementedError, match="EOI"):
            gif.lzw_decode(2, short, 100)


class TestMediagen:
    """Deterministic genuine-payload generator backing the real-media
    oracle queries (q_media_decode_real / q_media_stats_real)."""

    def test_every_format_class_decodes(self):
        from convert_spark import mediagen
        from convert_spark.operators import multimodal

        kinds = set()
        for seed in range(2 * mediagen.N_FORMATS):
            p = mediagen.payload_for(seed)
            assert p == mediagen.payload_for(seed)  # pure function of seed
            kind, w, h, c = multimodal.decode_real(p)
            kinds.add((seed % mediagen.N_FORMATS, kind))
            _, stats = multimodal.stats_real(p)
            assert all(n > 0 for n, _, _, _ in stats)
        assert len(kinds) == mediagen.N_FORMATS  # all classes distinct

    def test_png_writer_against_engine_decoder(self):
        """The seeded-filter PNG writer round-trips through the engine
        decoder exactly for every IHDR shape (twin independence is
        covered by tests/test_kat_cross_sf.py; this pins writer

        correctness directly at the pixel level)."""
        import numpy as np

        from convert_spark import mediagen
        from convert_spark.operators import multimodal

        rng = np.random.Generator(np.random.PCG64(99))
        # rgb8 with all filter types over many rows
        vals = rng.integers(0, 256, size=(40, 23, 3))
        px = multimodal._png_pixels(mediagen.write_png(vals, 8, 2, rng))
        assert (px == vals).all()
        # 16-bit gray
        vals16 = rng.integers(0, 65536, size=(12, 9, 1))
        px16 = multimodal._png_pixels(mediagen.write_png(vals16, 16, 0, rng))
        assert px16.dtype == np.uint16 and (px16 == vals16).all()
        # palette2 Adam7
        plte = rng.integers(0, 256, size=(4, 3))
        idx = rng.integers(0, 4, size=(19, 14))
        px_p = multimodal._png_pixels(
            mediagen.write_png(idx, 2, 3, rng, plte=plte, interlace=1)
        )
        assert (px_p == plte[idx]).all()


class TestMultiScanSequential:
    """Baseline sequential files whose components arrive in separate
    per-component (non-interleaved) scans — the round-4 ADVICE gap: these
    were silently mis-decoded as 1-channel MCU-interleaved data."""

    @staticmethod
    def _per_component_file(px: np.ndarray, subsample: bool) -> bytes:
        """Re-layout the interleaved baseline encoding of ``px`` as three
        single-component scans (same tables, same coefficients)."""
        import struct as st

        from convert_spark.kernels import jpeg

        h, w, _ = px.shape
        ql, qc = jpeg._quality_tables(90)
        r, g, b = (px[:, :, i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            def down2(p):
                if h % 2:
                    p = np.vstack([p, p[-1:]])
                if w % 2:
                    p = np.hstack([p, p[:, -1:]])
                return (p[0::2, 0::2] + p[1::2, 0::2] + p[0::2, 1::2] + p[1::2, 1::2]) / 4.0

            chans = [(y, ql, 0, 2, 2), (down2(cb), qc, 1, 1, 1), (down2(cr), qc, 1, 1, 1)]
        else:
            chans = [(y, ql, 0, 1, 1), (cb, qc, 1, 1, 1), (cr, qc, 1, 1, 1)]

        def seg(marker, body):
            return bytes([0xFF, marker]) + st.pack(">H", len(body) + 2) + body

        out = b"\xff\xd8"
        for tq, q in ((0, ql), (1, qc)):
            zz = q.reshape(-1)[jpeg._ZIGZAG].astype(np.uint8)
            out += seg(0xDB, bytes([tq]) + zz.tobytes())
        comp_spec = b"".join(
            bytes([i + 1, (ch[3] << 4) | ch[4], 0 if i == 0 else 1]) for i, ch in enumerate(chans)
        )
        out += seg(0xC0, st.pack(">BHHB", 8, h, w, 3) + comp_spec)
        for (counts, symbols), tcth in (
            (jpeg._DC_LUMA, 0x00), (jpeg._AC_LUMA, 0x10),
            (jpeg._DC_CHROMA, 0x01), (jpeg._AC_CHROMA, 0x11),
        ):
            out += seg(0xC4, bytes([tcth]) + bytes(counts) + bytes(symbols))
        dc_l, ac_l = jpeg._encode_codes(*jpeg._DC_LUMA), jpeg._encode_codes(*jpeg._AC_LUMA)
        dc_c, ac_c = jpeg._encode_codes(*jpeg._DC_CHROMA), jpeg._encode_codes(*jpeg._AC_CHROMA)
        for ci, (plane, q, is_chroma, _, _) in enumerate(chans):
            out += seg(0xDA, bytes([1, ci + 1, 0x00 if ci == 0 else 0x11]) + b"\x00\x3f\x00")
            bw = jpeg._BitWriter()
            pred = 0
            nby, nbx = -(-plane.shape[0] // 8), -(-plane.shape[1] // 8)
            for u in range(nby * nbx):
                by, bx = divmod(u, nbx)
                pred = jpeg._encode_block(
                    bw, jpeg._pad_block(plane, by * 8, bx * 8), q,
                    dc_c if is_chroma else dc_l, ac_c if is_chroma else ac_l, pred,
                )
            bw.flush()
            out += bytes(bw.out)
        return out + b"\xff\xd9"

    @pytest.mark.parametrize("subsample", [False, True])
    def test_per_component_scans_equal_interleaved(self, subsample):
        from convert_spark.kernels import jpeg

        yy, xx = np.mgrid[0:22, 0:18]
        px = np.stack(
            [(128 + 80 * np.sin(xx / 5.0 + yy / 9.0 + p)).astype(np.uint8) for p in (0, 1, 2)],
            axis=2,
        )
        multi = jpeg.decode_baseline(self._per_component_file(px, subsample))
        inter = jpeg.decode_baseline(
            jpeg.encode_baseline(px, quality=90, subsample=subsample)
        )
        assert multi.shape == inter.shape == px.shape
        assert (multi == inter).all()


class TestPngSubByteAdam7:
    """Sub-byte Adam7: the final IHDR combination — per-pass bit strides."""

    @staticmethod
    def _encode(vals: np.ndarray, bit_depth: int, color_type: int, plte: bytes | None) -> bytes:
        import struct as st
        import zlib

        h, w = vals.shape
        body = b""
        for x0, y0, dx, dy in TestPngAdam7.PASSES:
            sub = vals[y0::dy, x0::dx]
            ph, pw = sub.shape
            if ph == 0 or pw == 0:
                continue
            for y in range(ph):
                bits = ((sub[y][:, None] >> np.arange(bit_depth - 1, -1, -1)) & 1).astype(np.uint8)
                body += b"\x00" + np.packbits(bits.reshape(-1)).tobytes()

        def chunk(tag, b):
            return st.pack(">I", len(b)) + tag + b + st.pack(">I", zlib.crc32(tag + b) & 0xFFFFFFFF)

        out = b"\x89PNG\r\n\x1a\n" + chunk(
            b"IHDR", st.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, 1)
        )
        if plte is not None:
            out += chunk(b"PLTE", plte)
        return out + chunk(b"IDAT", zlib.compress(body)) + chunk(b"IEND", b"")

    def test_gray_and_palette(self):
        rng = np.random.RandomState(29)
        for d in (1, 2, 4):
            vals = rng.randint(0, 1 << d, size=(9, 7), dtype=np.uint8)
            got = multimodal._png_pixels(self._encode(vals, d, 0, None))
            exp = ((vals.astype(np.uint16) * 255) // ((1 << d) - 1)).astype(np.uint8)[:, :, None]
            np.testing.assert_array_equal(got, exp)
        table = rng.randint(0, 256, size=(4, 3), dtype=np.uint8)
        vals = rng.randint(0, 4, size=(6, 11), dtype=np.uint8)
        got = multimodal._png_pixels(self._encode(vals, 2, 3, table.tobytes()))
        np.testing.assert_array_equal(got, table[vals])


class TestContainers:
    """MP4/Ogg/FLAC/MP3 container metadata (multimodal.container_tracks
    / media_containers) vs the independent scalar twin, plus the
    declared malformed-input envelope."""

    def test_flac_and_mp3_metadata(self):
        from convert_spark import mediagen

        k, t = multimodal.container_tracks(mediagen.container_payload_for(6))
        assert k == "flac" and t[0]["codec"] == "flac" and t[0]["sample_rate"] > 0
        for seed in (7, 8):  # MPEG-1 and MPEG-2 Layer III
            k, t = multimodal.container_tracks(mediagen.container_payload_for(seed))
            assert k == "mp3" and t[0]["codec"] == "mp3"
            assert t[0]["n_channels"] in (1, 2) and t[0]["duration_ms"] > 0

    def test_mp3_id3_skip_and_malformed(self):
        from convert_spark import mediagen

        # find corpus draws with the ID3v2 prefix and the ID3v1 trailer
        seen_id3v2 = seen_id3v1 = False
        for seed in range(7, 7 + 9 * 20, 9):
            p = mediagen.container_payload_for(seed)
            seen_id3v2 |= p[:3] == b"ID3"
            seen_id3v1 |= p[-128:][:3] == b"TAG"
            multimodal.container_tracks(p)  # must parse either way
        assert seen_id3v2 and seen_id3v1
        # truncated mid-frame is declared malformed
        p = mediagen.container_payload_for(7)
        with pytest.raises(NotImplementedError):
            multimodal.container_tracks(p[: len(p) - 3])
        # free-format bitrate (index 0) stays declared
        free = bytes([0xFF, 0xFB, 0x00, 0x00]) + bytes(100)
        with pytest.raises(NotImplementedError):
            multimodal.container_tracks(free)

    def test_flac_missing_streaminfo_declared(self):
        # last-flag padding block only, no STREAMINFO
        bad = b"fLaC" + bytes([0x81]) + (4).to_bytes(3, "big") + bytes(4)
        with pytest.raises(NotImplementedError):
            multimodal.container_tracks(bad)

    def test_twin_agreement_all_classes(self):
        import container_reference_impl as cref

        from convert_spark import mediagen

        for seed in range(120):
            payload = mediagen.container_payload_for(seed)
            kp, tp = multimodal.container_tracks(payload)
            kt, tt = cref.container_rows(payload)
            assert kp == kt
            prod = sorted(
                (t["track_id"], t["kind"], t["codec"], t["width"], t["height"],
                 t["n_channels"], t["sample_rate"], t["duration_ms"]) for t in tp
            )
            twin = sorted(
                (t["track_id"], t["track_type"], t["codec"], t["width"], t["height"],
                 t["n_channels"], t["sample_rate"], t["duration_ms"]) for t in tt
            )
            assert prod == twin, seed

    def test_decode_real_routes_containers(self):
        from convert_spark import mediagen

        kind, w, h, ch = multimodal.decode_real(mediagen.container_payload_for(2))
        assert kind == "mp4" and w > 0 and h > 0 and ch > 0  # avc1 + mp4a
        kind, w, h, ch = multimodal.decode_real(mediagen.container_payload_for(5))
        assert kind == "ogg" and (w, h) == (0, 0) and ch > 0  # Opus audio

    def test_mp4_largesize_and_v1_mdhd(self):
        from convert_spark import mediagen

        # class 3 exercises the size==1/largesize mdat and version-1 mdhd
        payload = mediagen.container_payload_for(3)
        kind, tracks = multimodal.container_tracks(payload)
        assert kind == "mp4" and tracks[0]["codec"] == "hvc1"
        assert tracks[0]["duration_ms"] > 0

    def test_malformed_raises_declared(self):
        from convert_spark import mediagen

        mp4 = bytearray(mediagen.container_payload_for(0))
        mp4[0:4] = (2**31 - 1).to_bytes(4, "big")  # box size overruns payload
        with pytest.raises(NotImplementedError, match="overruns"):
            multimodal.container_tracks(bytes(mp4))

        ogg = bytearray(mediagen.container_payload_for(4))
        ogg[-1] ^= 0xFF  # flip a body byte -> page CRC must catch it
        with pytest.raises(NotImplementedError, match="CRC"):
            multimodal.container_tracks(bytes(ogg))

        with pytest.raises(NotImplementedError, match="not a recognized"):
            multimodal.container_tracks(b"\x00" * 64)
        # truncated mid-box-header
        with pytest.raises(NotImplementedError):
            multimodal.container_tracks(mediagen.container_payload_for(1)[:30])

    def test_operator_fanout(self, spark):
        from convert_spark import mediagen

        pdf = pd.DataFrame({"url": [f"u{i}" for i in range(12)], "seed": list(range(12))})
        src = mediagen.container_payload_df(spark.createDataFrame(pdf))
        out = multimodal.media_containers(src).toPandas()
        # classes 2 and 12 (seeds 2, 12 mod N_CONTAINER_FORMATS=10)
        # emit two tracks; every other class one — with 12 seeds only
        # seed 2 hits a two-track class
        assert len(out) == 13
        assert set(out["container"]) == {"mp4", "ogg", "flac", "mp3", "avi"}
        two_track = out[out["n_tracks"] == 2]
        assert sorted(two_track["track_type"]) == ["audio", "video"]


class TestCmykJpeg:
    """Adobe CMYK family (4-component JPEG): transform 0 (inverted
    CMYK) and transform 2 (YCCK), per Adobe TN #5116 / the libjpeg
    convention. Production kernel vs the independent scalar twin, plus
    the declared boundary."""

    def _px(self, h=18, w=14):
        yy, xx = np.mgrid[0:h, 0:w]
        return np.stack(
            [(128 + 80 * np.sin(xx / 4.0 + yy / 6.0 + p)).astype(np.uint8) for p in range(4)],
            axis=2,
        )

    def test_roundtrip_near_lossless(self):
        from convert_spark.kernels import jpeg

        px = self._px()
        for tf in (0, 2):
            out = jpeg.decode_baseline(jpeg.encode_baseline(px, quality=95, adobe_transform=tf))
            assert out.shape == px.shape
            assert np.abs(out.astype(int) - px.astype(int)).max() <= 8

    def test_twin_bit_identical(self):
        import media_reference_impl as mref

        from convert_spark.kernels import jpeg

        px = self._px()
        for tf in (0, 2):
            for prog in (False, True):
                data = jpeg.encode_baseline(
                    px, quality=85, adobe_transform=tf, progressive=prog,
                    sa_levels=1 if prog else 0, restart_interval=0 if prog else 3,
                )
                prod = jpeg.decode_baseline(data)
                twin = np.array(
                    [[list(c) for c in row] for row in mref.jpeg_pixels(data)], dtype=np.uint8
                )
                assert np.array_equal(prod, twin), (tf, prog)

    def test_no_adobe_marker_is_plain_cmyk(self):
        from convert_spark.kernels import jpeg

        px = self._px()
        data = jpeg.encode_baseline(px, quality=95, adobe_transform=0)
        # strip the APP14 segment: 4-component without a marker decodes
        # NON-inverted per the libjpeg convention
        assert data[2:4] == b"\xff\xee"
        ln = int.from_bytes(data[4:6], "big")
        stripped = data[:2] + data[4 + ln:]
        inv = jpeg.decode_baseline(stripped)
        normal = jpeg.decode_baseline(data)
        assert np.array_equal(255 - inv, normal)

    def test_declared_boundaries(self):
        from convert_spark.kernels import jpeg

        px = self._px()
        with pytest.raises(NotImplementedError, match="adobe_transform"):
            jpeg.encode_baseline(px)  # 4 channels need a transform
        with pytest.raises(NotImplementedError, match="subsampling"):
            jpeg.encode_baseline(px, adobe_transform=2, subsample=True)
        # transform=1 on a 4-component stream is malformed -> declared
        data = bytearray(jpeg.encode_baseline(px, quality=90, adobe_transform=2))
        ln = int.from_bytes(data[4:6], "big")
        data[4 + ln - 1] = 1  # overwrite the APP14 transform byte
        with pytest.raises(NotImplementedError, match="transform 1"):
            jpeg.decode_baseline(bytes(data))

    def test_resize_preserves_transform_and_ink(self):
        from convert_spark import mediagen
        from convert_spark.kernels import jpeg

        for seed, tf in ((16, 0), (17, 2)):
            payload = mediagen.payload_for(seed)
            out = multimodal.resize_real(payload, 9, 7)
            assert multimodal._jpeg_adobe_transform(out) == tf
            resized = jpeg.decode_baseline(out)
            assert resized.shape[2] == 4
            src = jpeg.decode_baseline(payload)
            # nearest-neighbor of the decoded ink, re-encoded lossily:
            # channel means should stay close
            assert abs(float(resized.mean()) - float(src.mean())) < 24.0


class TestKnnSalted:
    """knn_join's n_salt option: identical results for any salt count
    (the salt splits hot-cell probe rows across reducers; every
    (query, ring-ref) pair still occurs exactly once), and round_stats
    reports the straggler schedule without extra jobs."""

    def test_salted_identical_and_round_stats(self, spark):
        from convert_spark.operators import joins

        rng = np.random.Generator(np.random.PCG64(11))
        refs = pd.DataFrame({"ref_id": range(3000), "lat": rng.uniform(-60, 60, 3000),
                             "lon": rng.uniform(-170, 170, 3000)})
        qs = pd.DataFrame({"query_id": range(400), "lat": rng.uniform(-60, 60, 400),
                           "lon": rng.uniform(-170, 170, 400)})
        qs.loc[:120, "lat"] = 10.0 + rng.uniform(0, 0.05, 121)  # hot cell (30%)
        qs.loc[:120, "lon"] = 20.0 + rng.uniform(0, 0.05, 121)
        q, r = spark.createDataFrame(qs), spark.createDataFrame(refs)
        base = (joins.knn_join(q, r, k=5, zoom=6, ring=1, max_ring=4)
                .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))
        stats: list = []
        salted = (joins.knn_join(q, r, k=5, zoom=6, ring=1, max_ring=4, n_salt=8,
                                 round_stats=stats)
                  .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))
        pd.testing.assert_frame_equal(base, salted)
        assert stats and stats[0][0] == 1 and stats[-1][1] == 0


class TestAvi:
    """AVI video (kernels/avi.py): exact DIB round trips, MJPG frame
    decode, genuine frame extraction through frames_real, twin
    agreement on the corpus classes, declared codec boundary."""

    def test_dib_round_trip_exact(self):
        from convert_spark.kernels import avi

        rng = np.random.Generator(np.random.PCG64(41))
        for h, w, n in ((1, 1, 1), (9, 7, 3), (6, 16, 5)):
            frames = [rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8) for _ in range(n)]
            out, fps = avi.decode_avi(avi.encode_avi(frames, fps=15, codec="DIB"))
            assert fps == 15 and len(out) == n
            for a, b in zip(frames, out):
                assert np.array_equal(a, b)

    def test_mjpg_frames_decode_close(self):
        from convert_spark.kernels import avi  # noqa: F401 — used below

        yy, xx = np.mgrid[0:16, 0:24]
        frames = [
            np.stack(
                [(128 + 90 * np.sin(xx / 5 + yy / 7 + p + t)).astype(np.uint8) for p in (0, 2, 4)],
                axis=2,
            )
            for t in range(3)
        ]
        out, fps = avi.decode_avi(avi.encode_avi(frames, fps=25, codec="MJPG"))
        assert fps == 25 and len(out) == 3
        for a, b in zip(frames, out):
            assert np.abs(a.astype(int) - b.astype(int)).max() < 40  # DCT loss only

    def test_corpus_matches_twin(self):
        import media_reference_impl as mref

        from convert_spark import mediagen

        for seed in (28, 29, 28 + mediagen.N_FORMATS, 29 + mediagen.N_FORMATS):
            p = mediagen.payload_for(seed)
            assert multimodal.decode_real(p) == mref.header(p)
            ek, es = multimodal.stats_real(p)
            tk, ts = mref.channel_stats(p)
            assert ek == tk and [tuple(x) for x in es] == [tuple(x) for x in ts]
            assert multimodal.frames_real(p, 3) == mref.avi_frame_hashes(p, 3)

    def test_resize_in_source_codec(self):
        from convert_spark import mediagen
        from convert_spark.kernels import avi

        for seed in (28, 29):
            p = mediagen.payload_for(seed)
            src_codec = avi.stream_codec(p)
            rz = multimodal.resize_real(p, 10, 6)
            k, w, h, n = multimodal.decode_real(rz)
            assert (k, w, h) == ("avi", 10, 6)
            assert n == multimodal.decode_real(p)[3]  # frame count kept
            assert avi.stream_codec(rz) == src_codec

    def test_declared_codec_boundary(self):
        from convert_spark.kernels import avi

        rng = np.random.Generator(np.random.PCG64(42))
        frames = [rng.integers(0, 256, size=(4, 4, 3)).astype(np.uint8)]
        data = bytearray(avi.encode_avi(frames, fps=10, codec="DIB"))
        # flip biCompression in strf to a codec fourcc we don't decode
        i = data.find(b"strf") + 8 + 16
        data[i : i + 4] = b"cvid"
        with pytest.raises(NotImplementedError):
            avi.decode_avi(bytes(data))
        for bad in (b"", b"RIFF\x00\x00\x00\x00AVI ", b"RIFF" + bytes(20)):
            with pytest.raises(NotImplementedError):
                avi.decode_avi(bad)

    def test_encode_unsupported_codec(self):
        from convert_spark.kernels import avi

        with pytest.raises(NotImplementedError):
            avi.encode_avi([np.zeros((2, 2, 3), dtype=np.uint8)], fps=5, codec="H264")

    def test_frames_disagreeing_in_size_are_declared(self):
        """MJPG frames of different sizes are a malformed stream: the
        resize stage raises the declared error instead of indexing the
        smaller frame with the first frame's sampling grid."""
        from convert_spark.kernels import avi

        rng = np.random.Generator(np.random.PCG64(43))
        frames = [rng.integers(0, 256, size=(s, s, 3)).astype(np.uint8) for s in (16, 8)]
        data = avi.encode_avi(frames, fps=5, codec="MJPG")
        assert multimodal.decode_real(data) == ("avi", 16, 16, 2)
        with pytest.raises(NotImplementedError):
            multimodal.resize_real(data, 32, 24)


def test_payload_magic_only_in_sniff():
    """One format sniff: payload magic-byte comparisons in multimodal.py
    sit only in ``_sniff``, the container walkers and the TIFF
    re-encoder's read of its byte-order field."""
    import ast
    import re

    src = Path(multimodal.__file__).read_text()
    owner = {}
    for node in ast.parse(src).body:
        names = [getattr(node, "name", None)] + [
            t.id for t in getattr(node, "targets", []) if isinstance(t, ast.Name)
        ]
        for line in range(node.lineno, node.end_lineno + 1):
            owner[line] = next((n for n in names if n), None)
    allowed = {
        "_sniff", "_reencode_tiff", "_mp4_boxes", "_mp4_track", "_mp4_sample_entry",
        "_mp4_tracks", "_ogg_streams", "_ogg_track", "_mp3_track", "_flac_track",
    }
    magic = re.compile(r"data\[:\d+\]\s*(==|in\b)|data\[4:8\]\s*==|data\[8:12\]\s*==")
    hits = [
        f"multimodal.py:{i} in {owner.get(i)}"
        for i, line in enumerate(src.splitlines(), 1)
        if magic.search(line) and owner.get(i) not in allowed
    ]
    assert hits == []


class TestAdpcm:
    """IMA ADPCM WAV (kernels/adpcm.py): decode tracks the source
    within quantization noise, lockstep decode agrees with the scalar
    twin, fact-chunk tail trim, frames/resize integration."""

    def _wav_fields(self, wav: bytes):
        import struct as _s

        pos, fmt, data, fact = 12, None, None, None
        while pos + 8 <= len(wav):
            tag = wav[pos : pos + 4]
            (ln,) = _s.unpack("<I", wav[pos + 4 : pos + 8])
            body = wav[pos + 8 : pos + 8 + ln]
            if tag == b"fmt ":
                fmt = body
            elif tag == b"data":
                data = body
            elif tag == b"fact":
                (fact,) = _s.unpack("<I", body[:4])
            pos += 8 + ln + (ln & 1)
        return fmt, data, fact

    def test_round_trip_quantization_noise(self):
        import struct as _s

        from convert_spark.kernels import adpcm

        t = np.arange(1500)
        for nch, spb in ((1, 505), (2, 249)):
            sig = np.stack(
                [(9000 * np.sin(t / (13.0 + 6 * c))).astype(np.int16) for c in range(nch)],
                axis=1,
            )
            wav = adpcm.encode_ima_wav(sig, 8000, samples_pb=spb)
            fmt, data, fact = self._wav_fields(wav)
            (ba,) = _s.unpack("<H", fmt[12:14])
            out = adpcm.decode_blocks(data, ba, nch, n_frames=fact)
            assert out.shape == sig.shape
            assert np.abs(out.astype(int) - sig.astype(int)).max() < 1000

    def test_fact_trims_partial_tail_block(self):
        import struct as _s

        from convert_spark.kernels import adpcm

        sig = (4000 * np.sin(np.arange(700) / 11.0)).astype(np.int16).reshape(-1, 1)
        wav = adpcm.encode_ima_wav(sig, 6000, samples_pb=505)
        fmt, data, fact = self._wav_fields(wav)
        assert fact == 700
        (ba,) = _s.unpack("<H", fmt[12:14])
        assert adpcm.decode_blocks(data, ba, 1, n_frames=fact).shape == (700, 1)
        # without the trim the padded block decodes in full
        assert adpcm.decode_blocks(data, ba, 1).shape == (1010, 1)

    def test_corpus_matches_twin(self):
        import media_reference_impl as mref

        from convert_spark import mediagen

        for seed in (30, 31, 30 + mediagen.N_FORMATS, 31 + mediagen.N_FORMATS):
            p = mediagen.payload_for(seed)
            assert multimodal.decode_real(p) == mref.header(p)
            ek, es = multimodal.stats_real(p)
            tk, ts = mref.channel_stats(p)
            assert ek == tk and [tuple(x) for x in es] == [tuple(x) for x in ts]
            assert multimodal.frames_real(p, 3) == mref.adpcm_frame_windows(p, 3)

    def test_lockstep_equals_scalar_twin_random_streams(self):
        """Random nibble streams (every code value, adversarial index
        walks) decode identically in the numpy lockstep kernel and the
        per-sample twin — the feedback loop itself, not just smooth
        corpus audio."""
        import media_reference_impl as mref

        from convert_spark.kernels import adpcm

        rng = np.random.Generator(np.random.PCG64(43))
        for nch in (1, 2):
            spb = 33
            ba = 4 * nch + (spb - 1) * nch // 2
            blocks = rng.integers(0, 256, size=3 * ba).astype(np.uint8).tobytes()
            wav = (
                b"RIFF" + np.uint32(36 + len(blocks)).tobytes() + b"WAVE"
                + b"fmt " + np.uint32(20).tobytes()
                + np.array([0x11, nch], dtype="<u2").tobytes()
                + np.uint32(8000).tobytes() + np.uint32(0).tobytes()
                + np.array([ba, 4], dtype="<u2").tobytes()
                + np.array([2, spb], dtype="<u2").tobytes()
                + b"data" + np.uint32(len(blocks)).tobytes() + blocks
            )
            kernel = adpcm.decode_blocks(blocks, ba, nch)
            twin, _ = mref.adpcm_samples(wav)
            for c in range(nch):
                assert kernel[:, c].tolist() == twin[c], f"nch={nch} ch={c}"

    def test_resize_reencodes_adpcm(self):
        from convert_spark import mediagen

        p = mediagen.payload_for(30)
        rz = multimodal.resize_real(p, 40, 5000)
        k, frames, rate, nch = multimodal.decode_real(rz)
        assert (k, frames, rate, nch) == ("wav", 40, 5000, 1)

    def test_mutation_fuzz_declared_errors(self):
        """AVI/ADPCM payloads under byte flips, truncation and garbage
        insertion: the full stats/frames/resize surface either decodes
        (mutation missed the parsed region) or raises the declared
        NotImplementedError — never an untyped struct/numpy error."""
        from convert_spark import mediagen

        rng = np.random.RandomState(44)
        goods = [mediagen.payload_for(s) for s in (28, 29, 30, 31)]
        for good in goods:
            for _ in range(150):
                data = bytearray(good)
                op = rng.randint(3)
                if op == 0:
                    for _ in range(rng.randint(1, 6)):
                        data[rng.randint(len(data))] = rng.randint(256)
                elif op == 1:
                    data = data[: rng.randint(4, len(data))]
                else:
                    pos = rng.randint(4, len(data))
                    data = (
                        data[:pos]
                        + bytes(rng.randint(0, 256, rng.randint(1, 20), dtype=np.uint8))
                        + data[pos:]
                    )
                payload = bytes(data)
                for fn in (
                    lambda d: multimodal.decode_real(d),
                    lambda d: multimodal.stats_real(d),
                    lambda d: multimodal.frames_real(d, 2),
                    lambda d: multimodal.resize_real(d, 4, 3),
                ):
                    try:
                        fn(payload)
                    except NotImplementedError:
                        pass  # the declared error; anything else propagates


class TestAviContainer:
    """AVI rides the container-metadata gate too (corpus class 9):
    header-only walk agrees with the scalar twin, and the movi stream
    is genuinely decodable by the media path."""

    def test_metadata_matches_twin_and_frames_decode(self):
        import container_reference_impl as cref

        from convert_spark import mediagen
        from convert_spark.kernels import avi

        for seed in (9, 19, 29, 39):
            p = mediagen.container_payload_for(seed)
            kind, tracks = multimodal.container_tracks(p)
            tkind, ttracks = cref.container_rows(p)
            assert kind == tkind == "avi" and len(tracks) == len(ttracks) == 1
            e, t = tracks[0], ttracks[0]
            assert (e["codec"], e["width"], e["height"], e["sample_rate"], e["duration_ms"]) == (
                t["codec"], t["width"], t["height"], t["sample_rate"], t["duration_ms"])
            frames, fps = avi.decode_avi(p)  # headers describe a real stream
            assert fps == e["sample_rate"]
            assert len(frames) == avi.header(p)[2]
            assert frames[0].shape == (e["height"], e["width"], 3)


class TestTiffCompression:
    """TIFF Compression 5 (LZW, early change) / 8 (Deflate) / 32773
    (PackBits) with the horizontal Predictor: exact round trips at
    width-growth and table-reset scale, twin agreement on the seeded
    corpus, declared residue."""

    def test_round_trip_matrix(self):
        from convert_spark.kernels import rasters

        rng = np.random.Generator(np.random.PCG64(51))
        for comp in (5, 8, 32773):
            for pred in (1, 2):
                for nc in (1, 3):
                    px = rng.integers(0, 256, size=(9, 13, nc)).astype(np.uint8)
                    data = rasters.encode_tiff(px, compression=comp, predictor=pred,
                                               rows_per_strip=4)
                    assert np.array_equal(rasters.decode_tiff(data), px), (comp, pred, nc)

    def test_lzw_width_growth_and_reset(self):
        from convert_spark.kernels import rasters

        # gradient drives the string table through 9->12 bit widths;
        # random content at this size forces the 4094-entry Clear/reset
        grad = (np.add.outer(np.arange(300), np.arange(300)) % 256).astype(np.uint8)
        rng = np.random.Generator(np.random.PCG64(52))
        noise = rng.integers(0, 256, size=(200, 200, 3)).astype(np.uint8)
        for px in (grad.reshape(300, 300, 1), noise):
            data = rasters.encode_tiff(px, compression=5, predictor=2)
            assert np.array_equal(rasters.decode_tiff(data), px)

    def test_corpus_matches_twin(self):
        import media_reference_impl as mref

        from convert_spark import mediagen

        # enough class-27 draws to hit every seeded compression value
        for k in range(8):
            p = mediagen.payload_for(27 + 32 * k)
            assert multimodal.decode_real(p) == mref.header(p)
            ek, es = multimodal.stats_real(p)
            tk, ts = mref.channel_stats(p)
            assert ek == tk and [tuple(x) for x in es] == [tuple(x) for x in ts]

    def test_declared_residue(self):
        import struct

        from convert_spark.kernels import rasters

        px = np.zeros((4, 4, 3), dtype=np.uint8)
        data = bytearray(rasters.encode_tiff(px))
        i = data.find(struct.pack("<HH", 259, 3))
        data[i + 8] = 7  # JPEG-in-TIFF
        with pytest.raises(NotImplementedError):
            rasters.decode_tiff(bytes(data))
        # truncated LZW strip raises the declared error
        lzw = rasters.encode_tiff(px, compression=5)
        with pytest.raises(NotImplementedError):
            rasters.decode_tiff(lzw[:-3] + b"")


class TestMsAdpcm:
    """Microsoft ADPCM (fmt tag 0x0002): quantization-noise round
    trips, lockstep-vs-scalar-twin agreement on adversarial streams,
    corpus classes 32/33 under the twin, mutation fuzz."""

    def test_round_trip_quantization_noise(self):
        import struct as _s

        from convert_spark.kernels import adpcm

        t = np.arange(1600)
        for nch, spb in ((1, 500), (2, 244)):
            sig = np.stack(
                [(9000 * np.sin(t / (17.0 + 5 * c))).astype(np.int16) for c in range(nch)],
                axis=1,
            )
            wav = adpcm.encode_ms_wav(sig, 8000, samples_pb=spb)
            pos, fmt, data, fact = 12, None, None, None
            while pos + 8 <= len(wav):
                tag = wav[pos : pos + 4]
                (ln,) = _s.unpack("<I", wav[pos + 4 : pos + 8])
                body = wav[pos + 8 : pos + 8 + ln]
                if tag == b"fmt ":
                    fmt = body
                elif tag == b"data":
                    data = body
                elif tag == b"fact":
                    (fact,) = _s.unpack("<I", body[:4])
                pos += 8 + ln + (ln & 1)
            (ba,) = _s.unpack("<H", fmt[12:14])
            out = adpcm.ms_decode_blocks(data, ba, nch, n_frames=fact)
            assert out.shape == sig.shape
            assert np.abs(out.astype(int) - sig.astype(int)).max() < 2500

    def test_lockstep_equals_scalar_twin_random_streams(self):
        import media_reference_impl as mref

        from convert_spark.kernels import adpcm

        rng = np.random.Generator(np.random.PCG64(45))
        for nch in (1, 2):
            spb = 20
            ba = 7 * nch + (spb - 2) * nch // 2
            blocks = rng.integers(0, 256, size=3 * ba).astype(np.uint8)
            # keep predictor indexes in range (0-6); everything else random
            view = blocks.reshape(3, ba)
            view[:, :nch] = rng.integers(0, 7, size=(3, nch)).astype(np.uint8)
            raw = view.tobytes()
            wav = (
                b"RIFF" + np.uint32(36 + len(raw)).tobytes() + b"WAVE"
                + b"fmt " + np.uint32(18).tobytes()
                + np.array([0x02, nch], dtype="<u2").tobytes()
                + np.uint32(8000).tobytes() + np.uint32(0).tobytes()
                + np.array([ba, 4], dtype="<u2").tobytes()
                + np.array([0], dtype="<u2").tobytes()
                + b"data" + np.uint32(len(raw)).tobytes() + raw
            )
            kernel = adpcm.ms_decode_blocks(raw, ba, nch)
            twin, _ = mref.ms_adpcm_samples(wav)
            for c in range(nch):
                assert kernel[:, c].tolist() == twin[c], f"nch={nch} ch={c}"

    def test_corpus_matches_twin(self):
        import media_reference_impl as mref

        from convert_spark import mediagen

        for seed in (32, 33, 32 + mediagen.N_FORMATS, 33 + mediagen.N_FORMATS):
            p = mediagen.payload_for(seed)
            assert multimodal.decode_real(p) == mref.header(p)
            ek, es = multimodal.stats_real(p)
            tk, ts = mref.channel_stats(p)
            assert ek == tk and [tuple(x) for x in es] == [tuple(x) for x in ts]
            assert multimodal.frames_real(p, 3) == mref.ms_adpcm_frame_windows(p, 3)

    def test_mutation_fuzz_declared_errors(self):
        from convert_spark import mediagen

        rng = np.random.RandomState(46)
        for good in (mediagen.payload_for(32), mediagen.payload_for(33)):
            for _ in range(150):
                data = bytearray(good)
                op = rng.randint(3)
                if op == 0:
                    for _ in range(rng.randint(1, 6)):
                        data[rng.randint(len(data))] = rng.randint(256)
                elif op == 1:
                    data = data[: rng.randint(4, len(data))]
                else:
                    pos = rng.randint(4, len(data))
                    data = (
                        data[:pos]
                        + bytes(rng.randint(0, 256, rng.randint(1, 20), dtype=np.uint8))
                        + data[pos:]
                    )
                payload = bytes(data)
                for fn in (
                    lambda d: multimodal.decode_real(d),
                    lambda d: multimodal.stats_real(d),
                    lambda d: multimodal.frames_real(d, 2),
                    lambda d: multimodal.resize_real(d, 4, 3),
                ):
                    try:
                        fn(payload)
                    except NotImplementedError:
                        pass


class TestAllClassMutationFuzz:
    """Corrupt-payload envelope over the ENTIRE corpus (VERDICT r6 item 6):
    every one of the 36 mediagen payload classes AND all 10 container
    classes, mutated (byte flips / truncation / junk insertion), through
    every real decode entry point. The contract: a mutated payload either
    still decodes (e.g. a bit flip inside uncompressed pixel data) or
    raises the DECLARED NotImplementedError — never IndexError /
    struct.error / ZeroDivisionError / silent garbage. Round 4's fuzz
    predates the round-6 kernels (FLAC/GIF/AVI/ADPCM/TIFF); this class
    covers all of them uniformly and permanently."""

    @staticmethod
    def _mutations(good: bytes, rng, n: int):
        for _ in range(n):
            data = bytearray(good)
            op = rng.randint(3)
            if op == 0:  # scattered byte flips
                for _ in range(rng.randint(1, 6)):
                    data[rng.randint(len(data))] = rng.randint(256)
            elif op == 1:  # truncation
                data = data[: rng.randint(1, len(data))]
            else:  # junk insertion
                pos = rng.randint(1, len(data))
                data = (
                    data[:pos]
                    + bytes(rng.randint(0, 256, rng.randint(1, 20), dtype=np.uint8))
                    + data[pos:]
                )
            yield bytes(data)

    @pytest.mark.parametrize("fmt", list(range(36)))
    def test_payload_classes_declared_errors(self, fmt):
        from convert_spark import mediagen

        assert mediagen.N_FORMATS == 36
        rng = np.random.RandomState(7000 + fmt)
        good = mediagen.payload_for(fmt)
        for payload in self._mutations(good, rng, 60):
            for fn in (
                lambda d: multimodal.decode_real(d),
                lambda d: multimodal.stats_real(d),
                lambda d: multimodal.frames_real(d, 2),
                lambda d: multimodal.resize_real(d, 4, 3),
                lambda d: multimodal.features_real(d, 8),
            ):
                try:
                    fn(payload)
                except NotImplementedError:
                    pass  # the declared boundary — anything else fails the test

    @pytest.mark.parametrize("fmt", list(range(10)))
    def test_container_classes_declared_errors(self, fmt):
        from convert_spark import mediagen

        rng = np.random.RandomState(7100 + fmt)
        good = mediagen.container_payload_for(fmt)
        for payload in self._mutations(good, rng, 60):
            try:
                multimodal.container_tracks(payload)
            except NotImplementedError:
                pass


class TestFlac:
    """FLAC (kernels/flac.py): BIT-EXACT round trips across every
    subframe type and stereo decorrelation, scalar-twin agreement,
    corpus classes 34/35, CRC enforcement, mutation fuzz."""

    def test_bit_exact_all_modes(self):
        from convert_spark.kernels import flac

        t = np.arange(1000)
        sig = (8000 * np.sin(t / 19.0)).astype(np.int16).reshape(-1, 1)
        modes = [("constant",), ("verbatim",), ("fixed", 0), ("fixed", 1), ("fixed", 2),
                 ("fixed", 3), ("fixed", 4), ("lpc", [1024, -512], 10, 12),
                 ("lpc", [700, 300, -200], 10, 11)]
        out, rate = flac.decode_flac(flac.encode_flac(sig, 8000, modes=modes))
        assert rate == 8000 and np.array_equal(out, sig.astype(np.int32))

    def test_bit_exact_stereo_decorrelation(self):
        from convert_spark.kernels import flac

        rng = np.random.Generator(np.random.PCG64(61))
        noise = rng.integers(-32768, 32768, size=(777, 2)).astype(np.int16)
        for st in ("independent", "left_side", "right_side", "mid_side"):
            out, _ = flac.decode_flac(
                flac.encode_flac(noise, 44100, modes=[("fixed", 2), ("verbatim",)], stereo=st))
            assert np.array_equal(out, noise.astype(np.int32)), st

    def test_constant_and_tiny_blocks(self):
        from convert_spark.kernels import flac

        const = np.full((600, 1), -1234, dtype=np.int16)
        out, _ = flac.decode_flac(flac.encode_flac(const, 16000, modes=[("constant",)]))
        assert np.array_equal(out, const.astype(np.int32))
        rng = np.random.Generator(np.random.PCG64(62))
        odd = rng.integers(-2000, 2000, size=(61, 1)).astype(np.int16)
        out, _ = flac.decode_flac(flac.encode_flac(odd, 11025, modes=[("fixed", 1)], block_size=16))
        assert np.array_equal(out, odd.astype(np.int32))

    def test_corpus_matches_twin(self):
        import media_reference_impl as mref

        from convert_spark import mediagen

        for seed in (34, 35, 34 + mediagen.N_FORMATS, 35 + mediagen.N_FORMATS):
            p = mediagen.payload_for(seed)
            assert multimodal.decode_real(p) == mref.header(p)
            ek, es = multimodal.stats_real(p)
            tk, ts = mref.channel_stats(p)
            assert ek == tk == "flac" and [tuple(x) for x in es] == [tuple(x) for x in ts]
            assert multimodal.frames_real(p, 3) == mref.flac_frame_windows(p, 3)

    def test_crc_enforced(self):
        from convert_spark.kernels import flac

        sig = (5000 * np.sin(np.arange(300) / 9.0)).astype(np.int16).reshape(-1, 1)
        data = bytearray(flac.encode_flac(sig, 8000, modes=[("fixed", 2)]))
        data[-3] ^= 0x40  # flip a bit inside the last frame body
        with pytest.raises(NotImplementedError):
            flac.decode_flac(bytes(data))

    def test_resize_reencodes_flac(self):
        from convert_spark import mediagen

        p = mediagen.payload_for(34)
        rz = multimodal.resize_real(p, 50, 9000)
        assert multimodal.decode_real(rz) == ("flac", 50, 9000, 1)

    def test_utf8_frame_number_round_trip(self):
        # spec capacity is 1 + 5*nbytes bits: indices >= 2048 must survive
        # the 3+ byte encodings (the old 6+4*nbytes bound corrupted them)
        from convert_spark.kernels import flac

        for n in (0, 127, 128, 2047, 2048, 16383, 16384, (1 << 20) + 17, (1 << 31) - 5):
            w = flac._BitWriter()
            flac._utf8_number(w, n)
            r = flac._BitReader(bytes(w.out))
            assert flac._read_utf8_number(r) == n, n

    def test_sample_rate_header_encodings(self):
        from convert_spark.kernels import flac

        sig = (3000 * np.sin(np.arange(200) / 7.0)).astype(np.int16).reshape(-1, 1)
        # dedicated table code (96 kHz used to truncate through the 16-bit
        # escape and decode as 30464 Hz), 16-bit-Hz escape, tens-of-Hz escape
        for rate in (96000, 192000, 44100, 65535, 70000, 654320):
            out, got = flac.decode_flac(flac.encode_flac(sig, rate, modes=[("fixed", 1)]))
            assert got == rate and np.array_equal(out, sig.astype(np.int32)), rate
        with pytest.raises(NotImplementedError):
            flac.encode_flac(sig, 65537, modes=[("fixed", 1)])  # fits no encoding

    def test_mutation_fuzz_declared_errors(self):
        from convert_spark import mediagen

        rng = np.random.RandomState(63)
        for good in (mediagen.payload_for(34), mediagen.payload_for(35)):
            for _ in range(150):
                data = bytearray(good)
                op = rng.randint(3)
                if op == 0:
                    for _ in range(rng.randint(1, 6)):
                        data[rng.randint(len(data))] = rng.randint(256)
                elif op == 1:
                    data = data[: rng.randint(4, len(data))]
                else:
                    pos = rng.randint(4, len(data))
                    data = (
                        data[:pos]
                        + bytes(rng.randint(0, 256, rng.randint(1, 20), dtype=np.uint8))
                        + data[pos:]
                    )
                payload = bytes(data)
                for fn in (
                    lambda d: multimodal.decode_real(d),
                    lambda d: multimodal.stats_real(d),
                    lambda d: multimodal.frames_real(d, 2),
                    lambda d: multimodal.resize_real(d, 4, 3),
                ):
                    try:
                        fn(payload)
                    except NotImplementedError:
                        pass


def test_jpeg_has_no_matmul_operator():
    """The JPEG DCTs go through ``jpeg._mm8``'s one summation order. A
    ``@`` product runs on BLAS, whose kernel is picked per CPU: an FMA
    kernel rounds differently, which moved the encoded bytes by host."""
    import io
    import tokenize

    from convert_spark.kernels import jpeg

    toks = list(tokenize.generate_tokens(io.StringIO(Path(jpeg.__file__).read_text()).readline))
    line_start = (tokenize.NEWLINE, tokenize.NL, tokenize.INDENT, tokenize.DEDENT)
    hits = [
        f"jpeg.py:{t.start[0]}"
        for prev, t in zip(toks, toks[1:])
        if t.type == tokenize.OP and t.string in ("@", "@=") and prev.type not in line_start
    ]
    assert hits == []
