"""Physical-plan audits: the optimizations the engine claims must be
visible in `explain` output (task brief: pushdown, broadcast, codegen,
no UDFs in expression paths)."""

import pytest
from pyspark.sql import functions as F

from convert_spark import datagen, queries as Q
from convert_spark.operators import extract, joins, tiles

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestPushdownAndPruning:
    def test_filter_pushed_to_parquet(self, spark):
        df = Q.q_agg_pricing(spark, SF)
        plan = plan_of(df)
        assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan

    def test_column_pruning_reaches_scan(self, spark):
        df = Q.q_agg_pricing(spark, SF)
        read = [ln for ln in plan_of(df).splitlines() if "ReadSchema" in ln][0]
        # only the 5 needed lineitem columns are read
        assert "l_orderkey" not in read and "l_partkey" not in read
        assert "l_quantity" in read and "l_shipdate" in read


class TestJoinStrategies:
    def test_dim_joins_are_broadcast(self, spark):
        plan = plan_of(Q.q_join_revenue(spark, SF))
        assert plan.count("BroadcastHashJoin") == 2
        assert "SortMergeJoin" not in plan

    def test_tile_join_broadcasts_dim(self, spark):
        plan = plan_of(Q.q_tile_join(spark, SF))
        assert "BroadcastHashJoin" in plan

    def test_pip_join_has_no_shuffle(self, spark):
        """The broadcast STRtree PIP join must not shuffle the points side."""
        pts = spark.createDataFrame([(1.0, 2.0)], "lon double, lat double")
        plan = plan_of(joins.pip_join(pts, datagen.polygons_pdf()))
        assert "Exchange" not in plan


class TestCodegen:
    def test_tile_assignment_is_pure_expressions(self, spark):
        """No Python evaluation in the tile-math path: with the default
        Catalyst extraction only the GENERATOR's mapInPandas appears —
        scan -> extract -> normalize -> tile is one JVM-side span
        (regexp/posexplode/projection inside whole-stage codegen)."""
        pages = datagen.webpages(spark, 10)
        tiled = tiles.with_tile(
            extract.normalize_points(extract.extract_mentions(pages), fill_z_from_dem=False), 12
        )
        plan = plan_of(tiled)
        assert plan.count("MapInPandas") == 1  # datagen only; extraction is pure Catalyst
        assert "ArrowEvalPython" not in plan  # no scalar UDF when z skipped
        assert "*(" in plan  # whole-stage-codegen spans (starred operators)
        # the Arrow implementation stays available and adds exactly one stage
        arrow = tiles.with_tile(
            extract.normalize_points(
                extract.extract_mentions(pages, impl="arrow"), fill_z_from_dem=False
            ),
            12,
        )
        assert plan_of(arrow).count("MapInPandas") == 2

    def test_headline_pipeline_no_exchange_before_agg(self, spark, tmp_path):
        """The scale property of the tile-assignment pipeline: parquet scan
        -> Catalyst extraction -> normalize -> tile -> PIP tag (scalar
        Arrow UDF + explode) reaches the final aggregation with ZERO
        exchanges — the only shuffle in the whole job is the aggregation
        itself. Guards the regression where a repartition or a mapInPandas
        re-plan sneaks a 22M-row shuffle back in (BENCH_SCALING.md)."""
        path = str(tmp_path / "pages.parquet")
        datagen.webpages(spark, 50).write.mode("overwrite").parquet(path)
        pages = spark.read.parquet(path)
        mentions = extract.extract_mentions(pages)
        pts = extract.normalize_points(mentions, fill_z_from_dem=False)
        tiled = tiles.with_tile(pts, zoom=12)
        slim = tiled.select("zoom", "cell_id", "lat", "lon")
        tagged = joins.pip_join(slim, datagen.polygons_pdf(), how="left")
        pre_agg = plan_of(tagged)
        assert "Exchange" not in pre_agg
        assert "MapInPandas" not in pre_agg  # PIP is a scalar Arrow UDF now
        assert pre_agg.count("ArrowEvalPython") == 1
        agg = tagged.groupBy("zoom", "cell_id").agg(F.count(F.lit(1)).alias("n"))
        assert plan_of(agg).count("Exchange") == 1  # exactly the agg shuffle

    def test_rollup_single_scan_no_cache(self, spark):
        """The rollup scans the raw data ONCE (one base aggregation, then
        explode+re-aggregate over the tiny pre-aggregated rows) and owns no
        persisted state — nothing is left in the cache afterwards."""
        spark.catalog.clearCache()
        from conftest import persistent_rdd_ids

        pre = persistent_rdd_ids(spark)  # other ops' final checkpoints may live
        pts = spark.createDataFrame(
            [(float(i % 80) - 40.0, float(i % 170) - 85.0) for i in range(400)],
            "lat double, lon double",
        )
        r = tiles.tile_rollup(tiles.with_tile(pts, 10), levels=3)
        plan = plan_of(r)
        assert plan.count("Generate explode") == 1
        assert "InMemoryTableScan" not in plan  # no hidden cache dependency
        # correctness: every level's total count equals the row count
        pdf = r.toPandas()
        assert set(pdf["zoom"]) == {8, 9, 10}
        for z in (8, 9, 10):
            assert pdf[pdf.zoom == z]["n"].sum() == 400
        # lifecycle: the ROLLUP persisted nothing new (delta-based — a
        # prior test's returned pagerank/CC result legitimately keeps its
        # own final checkpoint alive)
        assert persistent_rdd_ids(spark) == pre


class TestAQE:
    def test_aqe_enabled(self, spark):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


class TestPerPartitionResume:
    """north_rule: per-partition checkpoint progress. A crash mid-stage
    loses only the in-flight partition group; the re-run recomputes ONLY
    the missing groups and the final output is identical."""

    def test_kill_midway_recomputes_only_missing(self, spark, tmp_path):
        import json
        import shutil
        from pathlib import Path

        from convert_spark.plans.snapshots import SnapshotLog, run_stage_partitioned

        root = str(tmp_path / "snap")
        params = {"v": 1}

        def build():
            return spark.range(0, 1000).withColumn(
                "bucket", (F.col("id") % 4).cast("int")
            ).withColumn("val", F.col("id") * 2)

        # full run (chunk_size=1 -> one commit per bucket)
        log = SnapshotLog(root)
        out = run_stage_partitioned(
            spark, log, "st", build, "bucket",
            partition_values=[0, 1, 2, 3], params=params, chunk_size=1,
        )
        expected = sorted(r["id"] for r in out.collect())
        snap = log.committed("st")
        assert snap["partitions"] == ["0", "1", "2", "3"]

        # simulate a crash: bucket=2's data + manifest gone, stage snapshot
        # never committed
        shutil.rmtree(Path(root) / "st" / "bucket=2")
        (Path(root) / "_snapshots" / "part-st-2.json").unlink()
        for p in (Path(root) / "_snapshots").glob("snapshot-*.json"):
            p.unlink()
        # fingerprint the surviving partition files to prove they are not
        # rewritten by the resume
        surviving = {
            str(p): p.stat().st_mtime_ns
            for p in (Path(root) / "st").rglob("*.parquet")
        }

        log2 = SnapshotLog(root)
        out2 = run_stage_partitioned(
            spark, log2, "st", build, "bucket",
            partition_values=[0, 1, 2, 3], params=params, chunk_size=1,
        )
        assert sorted(r["id"] for r in out2.collect()) == expected
        snap2 = log2.committed("st")
        assert sorted(snap2["resumed_partitions"]) == ["0", "1", "3"]
        for p, mtime in surviving.items():
            assert Path(p).stat().st_mtime_ns == mtime, f"rewrote committed {p}"

    def test_stale_params_recompute_partitions(self, spark, tmp_path):
        from convert_spark.plans.snapshots import SnapshotLog, run_stage_partitioned

        root = str(tmp_path / "snap2")

        def build(mult):
            return lambda: spark.range(0, 100).withColumn(
                "bucket", (F.col("id") % 2).cast("int")
            ).withColumn("val", F.col("id") * mult)

        log = SnapshotLog(root)
        run_stage_partitioned(spark, log, "st", build(2), "bucket",
                              partition_values=[0, 1], params={"m": 2})
        out = run_stage_partitioned(spark, SnapshotLog(root), "st", build(3), "bucket",
                                    partition_values=[0, 1], params={"m": 3})
        assert {r["val"] for r in out.collect()} == {i * 3 for i in range(100)}
        snap = SnapshotLog(root).committed("st")
        assert snap["resumed_partitions"] == []  # stale records didn't count


class TestSimilarityJoinShapes:
    def test_ngram_jaccard_joins_on_prefix_token(self, spark):
        """The jaccard candidate join must key on (source, prefix token),
        never on source alone — a hot source must not become a per-group
        all-pairs product."""
        df = Q.q_ngram_jaccard(spark, SF)
        plan = plan_of(df)
        join_lines = [ln for ln in plan.splitlines() if "Join [" in ln or "Join " in ln and "src" in ln]
        assert any("tok" in ln and "src" in ln for ln in join_lines), plan

    def test_embed_neardup_is_bucketed_not_all_pairs(self, spark):
        """The dedup DEFAULT generates candidates via the LSH band
        self-join: the physical plan must contain no block-grid cross
        product (CartesianProduct / BroadcastNestedLoopJoin) and must
        join on the (band, bucket) key."""
        df = Q.q_embed_neardup(spark, SF)
        plan = plan_of(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
        assert any("band" in ln and "bucket" in ln for ln in join_lines), plan

    def test_embed_neardup_exact_is_blocked_product(self, spark):
        """The explicit exact-mode opt-in uses the blocked product: a
        MapInPandas over a packed block grid; neither side is collected
        to the driver."""
        df = Q.q_embed_neardup_exact(spark, SF)
        plan = plan_of(df)
        assert "MapInPandas" in plan
        assert "collect_list" in plan  # packed blocks, not toPandas


class TestRangePartition:
    def test_range_partition_cells_contiguous(self, spark):
        """Explicit range repartitioning (north_rule): partitions hold
        NON-OVERLAPPING contiguous (zoom, cell_id) ranges — the property
        that makes per-file min/max metadata prunable for bbox reads —
        and the physical plan shows a RangePartitioning exchange, not
        hash."""
        pts = spark.createDataFrame(
            [(float((i * 37) % 160) - 80.0, float((i * 91) % 340) - 170.0) for i in range(4000)],
            "lat double, lon double",
        )
        t = tiles.with_tile(pts, 9)
        r = tiles.range_partition_cells(t, num_partitions=8)
        plan = plan_of(r)
        assert "rangepartitioning" in plan.lower()
        got = (
            r.select("zoom", "cell_id", F.spark_partition_id().alias("pid"))
            .groupBy("pid")
            .agg(F.min("cell_id").alias("lo"), F.max("cell_id").alias("hi"), F.count(F.lit(1)).alias("n"))
            .orderBy("lo")
            .collect()
        )
        assert len(got) > 1  # actually spread over partitions
        for prev, cur in zip(got, got[1:]):
            assert prev["hi"] <= cur["lo"], "partition cell ranges overlap"
        # sampled boundaries balance row counts within a loose factor
        counts = [r2["n"] for r2 in got]
        assert max(counts) <= 6 * max(1, min(counts))


class TestPartitionPrunedResume:
    """End-to-end pruned resume (north_rule + round-3 ask): the upstream
    stage is partitioned on the resume column, so a per-group rebuild's
    filter reaches the scan as a PartitionFilter — the resume reads ONLY
    the missing partitions' input."""

    def test_group_build_scan_shows_partition_filters(self, spark, tmp_path):
        from convert_spark.operators import extract
        from convert_spark.plans.snapshots import SnapshotLog, run_stage

        root = str(tmp_path / "pp")
        log = SnapshotLog(root)
        pages = run_stage(
            spark, log, "pages", lambda: datagen.webpages(spark, 300),
            partition_by=["lang"],
        )
        grouped = extract.extract_mentions(pages).filter(F.col("lang").isin(["en", "fr"]))
        plan = grouped._jdf.queryExecution().executedPlan().toString()
        scan = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert scan and "lang" in scan[0], plan
        assert "PartitionFilters: []" not in scan[0], plan
        # column pruning: the wide html binary never leaves the scan
        assert "html" not in plan.split("ReadSchema:")[-1], plan

    def test_pipeline_kill_midway_prunes_and_skips(self, spark, tmp_path):
        import json
        import shutil
        from pathlib import Path

        from convert_spark.plans import snapshots

        root = str(tmp_path / "pl")
        out1 = snapshots.run_pipeline(spark, root, n_pages=300)
        assert out1["pages"]["partition_by"] == ["lang"]
        assert out1["mentions"]["partition_by"] == ["lang"]
        langs = sorted(out1["mentions"]["partitions"])
        assert len(langs) >= 3
        victim = langs[0]
        # crash simulation: one mentions partition + its manifest gone,
        # stage-level snapshots for mentions onward not committed
        shutil.rmtree(Path(root) / "mentions" / f"lang={victim}")
        (Path(root) / "_snapshots" / f"part-mentions-{victim}.json").unlink()
        keep = []
        for p in sorted(Path(root, "_snapshots").glob("snapshot-*.json")):
            if json.loads(p.read_text())["stage"] == "pages":
                keep.append(p)
            else:
                p.unlink()
        surviving = {
            str(p): p.stat().st_mtime_ns
            for p in Path(root, "mentions").rglob("*.parquet")
        }
        pages_files = {
            str(p): p.stat().st_mtime_ns
            for p in Path(root, "pages").rglob("*.parquet")
        }
        out2 = snapshots.run_pipeline(spark, root, n_pages=300)
        # only the victim partition was recomputed; pages untouched
        assert sorted(out2["mentions"]["resumed_partitions"]) == langs[1:]
        for p, mtime in surviving.items():
            assert Path(p).stat().st_mtime_ns == mtime, f"rewrote committed {p}"
        for p, mtime in pages_files.items():
            assert Path(p).stat().st_mtime_ns == mtime, f"rebuilt pages {p}"
        assert out2["tile_counts"]["rows"] == out1["tile_counts"]["rows"]


class TestBucketedJoin:
    """north_rule "bucketing for co-located joins": two tables bucketed
    identically on cell_id must SortMergeJoin with ZERO Exchange."""

    def test_cobucketed_join_has_no_exchange(self, spark, tmp_path):
        from convert_spark.plans import bucketing

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        try:
            pts = spark.createDataFrame(
                [(float((i * 37) % 160) - 80.0, float((i * 91) % 340) - 170.0) for i in range(4000)],
                "lat double, lon double",
            )
            tiled = tiles.with_tile(pts, 8)
            counts = tiled.groupBy("cell_id").count()
            dims = tiled.select("cell_id").distinct().withColumn("tag", F.col("cell_id") % 7)
            bucketing.write_bucketed(counts, "bj_counts", 8, path=str(tmp_path / "a"))
            bucketing.write_bucketed(dims, "bj_dims", 8, path=str(tmp_path / "b"))
            j = bucketing.cobucketed_join(spark, "bj_counts", "bj_dims", on=("cell_id",))
            plan = plan_of(j)
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan, plan
            # (a per-bucket Sort may remain: Spark only trusts the write-time
            # sortBy when each bucket is a single file — the Exchange
            # elimination is the property that matters at scale)
            # correctness: equals the plain (shuffled) join
            expected = counts.join(dims, "cell_id").count()
            assert j.count() == expected
            # and a groupBy on the bucket key is shuffle-free too
            agg_plan = plan_of(spark.table("bj_counts").groupBy("cell_id").agg(F.sum("count")))
            assert "Exchange" not in agg_plan, agg_plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("drop table if exists bj_counts")
            spark.sql("drop table if exists bj_dims")


class TestLangidPlanJvmOnly:
    def test_no_python_eval_in_langid(self, spark):
        """The zh substring-count rewrite must stay whole-stage-codegen
        JVM expressions — no Python/Arrow eval node may appear."""
        plan = plan_of(Q.q_langid(spark, SF))
        assert "BatchEvalPython" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan
        # scoring is pure JVM expressions (regexp_extract_all in a
        # Project, no eval node); the WSCG `*(n)` markers are hidden by
        # the AdaptiveSparkPlan wrapper that appears with the exchange,
        # so assert the expression placement instead
        assert "regexp_extract_all" in plan, plan
        # exactly the one intentional _spread exchange (parallelism for
        # the regex stage over a single-partition test-scale scan) —
        # round 5 moved the scoring off the scan's O(1) partitions
        assert plan.count("Exchange") <= 1, plan
        # column pruning reaches the scan: only doc_id + text are read
        read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
        assert "doc_id:bigint,text:string" in read, read


class TestIncrementalPlans:
    def test_tile_incremental_prunes_derived_udfs(self, spark):
        """q_tile_incremental selects only the decomposable state + center;
        the finalize-stage pandas UDFs (DEM z, S2 covering) on BOTH the
        prev build and the merge must be pruned out of the physical plan
        — at 10^12 rows an unpruned covering UDF over every historical
        tile would dominate the increment."""
        plan = plan_of(Q.q_tile_incremental(spark, SF))
        assert "BatchEvalPython" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan


def udf_evals(plan: str, name: str) -> set[str]:
    """The distinct ArrowEvalPython nodes that evaluate the UDF ``name``.
    A cached subplan prints once per scan of it, with the same ids, so it
    counts once; a copy cloned into a pushed-down filter has its own."""
    return {
        ln[ln.index("ArrowEvalPython") :]
        for ln in plan.splitlines()
        if f"ArrowEvalPython [{name}(" in ln
    }


class TestOptimizerFence:
    """Computed columns leave their operator through session.fence, so a
    predicate above reads the value instead of re-deriving it."""

    def test_bucket_filter_reads_fenced_tile(self, spark):
        """The per-group filter of the tiled stage (cell_bucket IN (...))
        holds no copy of tile_y's tan/log chain: one TAN, in the Project
        under the fence; unfenced, the filter pastes a copy into every
        Morton term."""
        pts = spark.createDataFrame(
            [(float(i % 80) - 40.0, float(i % 170) - 85.0) for i in range(50)], "lat double, lon double"
        )
        tiled = tiles.with_tile(pts, 12).withColumn("cell_bucket", F.pmod(F.col("cell_id"), F.lit(16)).cast("int"))
        plan = plan_of(tiled.filter(F.col("cell_bucket").isin([0, 1, 2, 3])))
        assert plan.upper().count("TAN(") == 1, plan

    def test_tile_chain_extracts_each_group_once(self, spark):
        """extract -> normalize -> with_tile -> tile_datasets evaluates the
        five capture groups of the mention regex once per mention (plus
        the one lat/lon pick): the normalize validity filter and the tile
        columns read the fenced lat/lon (18 regexp_extract unfenced)."""
        pages = datagen.webpages(spark, 10)
        pts = extract.normalize_points(extract.extract_mentions(pages))
        plan = plan_of(tiles.tile_datasets(tiles.with_tile(pts, 12)))
        assert plan.count("regexp_extract(") <= 6, plan

    @pytest.mark.parametrize("how", ["inner", "left"])
    def test_pip_udf_evaluated_once(self, spark, how):
        pts = spark.createDataFrame([(1.0, 2.0)], "lon double, lat double")
        plan = plan_of(joins.pip_join(pts, datagen.polygons_pdf(), how=how))
        assert len(udf_evals(plan, "containing_polys")) == 1, plan

    def test_lsh_keys_udf_evaluated_once(self, spark):
        from convert_spark.operators import ann

        e = spark.read.parquet(f"{SF}/embeddings.parquet")
        plan = plan_of(ann.with_lsh_keys(e, "embedding"))
        assert len(udf_evals(plan, "keys")) == 1, plan

    def test_ivf_udfs_evaluated_once(self, spark):
        from convert_spark.operators import ann

        e = spark.read.parquet(f"{SF}/embeddings.parquet")
        q = e.filter(F.col("vec_id") % 50 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
        r = e.select(F.col("vec_id").alias("ref_id"), "embedding")
        out = ann.ivf_topk(q, r, k=3)  # held: its cached refs live as long as it
        plan = plan_of(out)
        assert len(udf_evals(plan, "nearest_centroid")) == 1, plan
        assert len(udf_evals(plan, "probe_centroids")) == 1, plan

    def test_minhash_lsh_udf_evaluated_once(self, spark):
        out = Q.q_minhash_lsh(spark, SF)
        plan = plan_of(out)
        assert len(udf_evals(plan, "lsh_keys")) == 1, plan


def test_one_optimizer_fence():
    """session.fence is the engine's one optimizer fence: no UDF is marked
    nondeterministic to stop Catalyst cloning it, and the old
    ``_gen_barrier`` helper is gone."""
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    hits = [
        f"{p.relative_to(repo)}:{i}"
        for d in ("convert_spark", "jobs")
        for p in sorted((repo / d).rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "asNondeterministic(" in line or "_gen_barrier" in line
    ]
    assert hits == []
