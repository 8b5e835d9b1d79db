"""The workloads. Each one writes its seeded inputs at set-up, computes its
reference without the engine, then runs closed-loop operations (one client,
the next operation starts when the previous one is done) and checks every
operation's output.

An operation of ``crawl_to_tiles`` is one pass of the batch stage chain
(``CrawlToTiles``) followed by one stream run that builds a persisted tile
state from the base pages and folds the increment batches into it
(``CrawlIncrement``); an operation of ``poi_match`` is one kNN + self-kNN +
connected-components pass. The two crawl parts share one workload because
every workload costs many runs, each starting a JVM, and as separate
workloads they did not fit the benchmark's time limit.

Every workload has the same protocol: ``setup`` writes the inputs and
returns their sizes, ``reference`` recomputes the expected result, ``op``
runs one timed operation, ``outputs`` reads its results (and removes its
files) and ``check`` lists what differs from the reference.

There is no warm-up pass: on a small host an operation's time is mostly
the fixed cost of its many Spark jobs, so a warm-up on a small input would
cost about as much as the operation itself. The first operation of a run
is therefore the first pass of its session (the traced run reports it as
``op.first_s`` beside the warm ``op.warm_s``).
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from convert_spark.operators import components, extract, joins, tiles
from convert_spark.plans.snapshots import SnapshotLog, run_stage, run_stage_partitioned
from convert_spark.streaming import ingest

from . import check, gen


def _read(path: Path, columns: list[str] | None = None) -> pd.DataFrame:
    return pq.read_table(str(path), columns=columns).to_pandas()


class CrawlToTiles:
    """The batch job's stage chain (``jobs/tile_pipeline_job.py`` without
    its bucketed rollup), every stage written through the snapshot log."""

    N_PAGES, ZOOM, BUCKETS = 1500, 12, 4
    sizes = {"pages": N_PAGES, "zoom": ZOOM, "cell_buckets": BUCKETS, "hot_fraction": gen.HOT_FRACTION,
             "cities": len(gen.CITIES)}

    def setup(self, spark, work: Path, seed: int) -> dict:
        self.work, inp = work, work / "in"
        inp.mkdir(parents=True)
        self.pages = str(inp / "pages.parquet")
        polys = str(inp / "polygons.parquet")
        nbytes = {
            "pages": gen.write(gen.pages(self.N_PAGES, seed, 10), self.pages),
            "polygons": gen.write(gen.polygons(seed), polys),
        }
        self.polygons = pd.DataFrame(pq.read_table(polys).to_pylist())
        return nbytes

    def reference(self) -> dict:
        pts = check.mention_points([self.pages], self.ZOOM)
        return {"n": len(pts), "tiles": check.tile_reference(pts), "pip": check.pip_reference(pts, self.polygons)}

    def _pipeline(self, spark, tracer, root: Path) -> SnapshotLog:
        log = SnapshotLog(str(root))
        p = {"zoom": self.ZOOM}

        def stage(layer, name, build, inputs, **kw):
            run = run_stage_partitioned if "partition_col" in kw else run_stage
            with tracer.span("plans.snapshots", materialized_by=layer):
                return run(spark, log, name, build, inputs=inputs, params=p, **kw)

        pages = stage(None, "pages", lambda: spark.read.parquet(self.pages), [])
        mentions = stage("extract.mentions", "mentions", lambda: extract.extract_mentions(pages), ["pages"])
        pts = stage("extract.normalize", "normalized", lambda: extract.normalize_points(mentions), ["mentions"])
        tiled = stage(
            "tiles.with_tile",
            "tiled",
            lambda: tiles.with_tile(pts, self.ZOOM).withColumn(
                "cell_bucket", F.pmod(F.col("cell_id"), F.lit(self.BUCKETS)).cast("int")
            ),
            ["normalized"],
            partition_col="cell_bucket",
            partition_values=list(range(self.BUCKETS)),
        )
        stage(
            "joins.pip",
            "pip_tagged",
            lambda: joins.pip_join(
                tiled.select("page_id", "mention_idx", "zoom", "cell_id", "lat", "lon"), self.polygons, how="left"
            ),
            ["tiled"],
            partition_by=["zoom"],
        )
        datasets = stage("tiles.datasets", "tile_datasets", lambda: tiles.tile_datasets(tiled), ["tiled"])
        stage(
            "tiles.json",
            "tile_json",
            lambda: tiles.assemble_dataset_json(
                tiled.withColumn("feature_id", F.concat_ws("_", F.col("page_id"), F.col("mention_idx"))),
                datasets,
                keys=["zoom", "cell_id"],
            ),
            ["tiled", "tile_datasets"],
        )
        return log

    def op(self, spark, tracer, i: int) -> dict:
        root = self.work / f"op{i}"
        t0 = time.perf_counter()
        log = self._pipeline(spark, tracer, root)
        wall = time.perf_counter() - t0
        snaps = {s["stage"]: s for s in log._snapshots()}
        counts = {
            "extract.mentions.rows_out": snaps["mentions"]["rows"],
            "joins.pip.rows_out": snaps["pip_tagged"]["rows"],
            "tiles.datasets.rows_out": snaps["tile_datasets"]["rows"],
            "snapshots.written_mb": sum(f["bytes"] for s in snaps.values() for f in s["files"]) / 2**20,
        }
        return {"wall": wall, "items": self.N_PAGES, "samples": [wall], "root": root, "counts": counts}

    def outputs(self, out: dict) -> dict:
        root = out["root"]
        res = {
            "mentions": out["counts"]["extract.mentions.rows_out"],
            "tiles": _read(root / "tile_datasets"),
            "pip": _read(root / "pip_tagged", ["poly_id"]),
            "json": _read(root / "tile_json", ["cell_id", "dataset_json"]),
        }
        shutil.rmtree(root)
        return res

    def check(self, ref: dict, got: dict) -> list[str]:
        bad = [] if got["mentions"] == ref["n"] else ["mention count differs"]
        bad += check.check_tiles(ref["tiles"], got["tiles"])
        bad += check.check_pip(ref["pip"], got["pip"]["poly_id"])
        bad += check.check_json(ref["tiles"], got["json"])
        return bad


class PoiMatch:
    """kNN of query points against a POI table (30% of queries in one hot
    cell, 5% in a ref-free box where the rings double), then a self-kNN
    over the POIs whose near-duplicate pairs feed connected components."""

    N_REFS, N_QUERIES, N_CLUSTERS = 8000, 2000, 200
    K, ZOOM, RING, MAX_RING = 5, 6, 1, 4
    sizes = {"refs": N_REFS, "queries": N_QUERIES, "near_dup_clusters": N_CLUSTERS,
             "hot_query_fraction": gen.KNN_HOT_FRACTION, "desert_query_fraction": gen.KNN_DESERT_FRACTION,
             "k": K, "zoom": ZOOM, "rings": [RING, MAX_RING]}

    def setup(self, spark, work: Path, seed: int) -> dict:
        self.work, inp = work, work / "in"
        inp.mkdir(parents=True)
        self.refs, self.queries = str(inp / "refs.parquet"), str(inp / "queries.parquet")
        return {
            "refs": gen.write(gen.knn_refs(self.N_REFS, self.N_CLUSTERS, seed), self.refs),
            "queries": gen.write(gen.knn_queries(self.N_QUERIES, seed), self.queries),
        }

    def reference(self) -> dict:
        schedule = [self.RING]
        while schedule[-1] < self.MAX_RING:
            schedule.append(min(schedule[-1] * 2, self.MAX_RING))
        return {
            "knn": check.knn_reference(self.queries, self.refs, self.K, self.ZOOM, schedule),
            "pairs": check.near_dup_reference(self.refs, gen.NEAR_DUP_EPS_DEG),
        }

    def _match(self, spark, tracer, root: Path) -> dict:
        r = spark.read.parquet(self.refs)
        knn_stats, cc_stats = [], []
        with tracer.span("joins.knn"):
            joins.knn_join(
                spark.read.parquet(self.queries), r, k=self.K, zoom=self.ZOOM, ring=self.RING,
                max_ring=self.MAX_RING, round_stats=knn_stats,
            ).write.parquet(str(root / "knn"))
        with tracer.span("joins.knn_self"):
            # near-duplicates share a cell or touch a neighbour: one fixed ring
            nn = joins.knn_join(r.withColumnRenamed("ref_id", "query_id"), r, k=self.K, zoom=self.ZOOM, ring=1)
            eps2 = gen.NEAR_DUP_EPS_DEG**2
            pairs = nn.filter((F.col("query_id") != F.col("ref_id")) & (F.col("dist2") < eps2))
            pairs.select("query_id", "ref_id").write.parquet(str(root / "pairs"))
        with tracer.span("components.cc"):
            cc = components.connected_components(
                spark.read.parquet(str(root / "pairs")), a="query_id", b="ref_id", round_stats=cc_stats
            )
            cc.write.parquet(str(root / "cc"))
        # candidate-join rounds: one per recorded straggler count, plus the
        # final round when stragglers were left after the last record
        rounds = len(knn_stats) + (1 if not knn_stats or knn_stats[-1][1] > 0 else 0)
        return {"joins.knn.rounds": rounds, "components.cc.rounds": len(cc_stats)}

    def op(self, spark, tracer, i: int) -> dict:
        root = self.work / f"op{i}"
        t0 = time.perf_counter()
        counts = self._match(spark, tracer, root)
        wall = time.perf_counter() - t0
        return {"wall": wall, "items": self.N_QUERIES, "samples": [wall], "root": root, "counts": counts}

    def outputs(self, out: dict) -> dict:
        root = out["root"]
        res = {"knn": _read(root / "knn"), "pairs": _read(root / "pairs"), "cc": _read(root / "cc")}
        shutil.rmtree(root)
        return res

    def check(self, ref: dict, got: dict) -> list[str]:
        bad = check.check_knn(ref["knn"], got["knn"])
        bad += check.check_pairs(ref["pairs"], got["pairs"])
        bad += check.check_components(got["pairs"], got["cc"])
        return bad


class CrawlIncrement:
    """Structured Streaming through ``ingest.foreach_batch_incremental``:
    the first epoch turns the base pages into the persisted tile state, then
    each further epoch folds one small page batch into it."""

    BASE_PAGES, BATCH_PAGES, N_BATCHES, ZOOM = 1000, 100, 2, 10
    sizes = {"base_pages": BASE_PAGES, "batch_pages": BATCH_PAGES, "batches": N_BATCHES,
             "batch_to_state": round(BATCH_PAGES / (BASE_PAGES + BATCH_PAGES), 4), "zoom": ZOOM}

    def setup(self, spark, work: Path, seed: int) -> dict:
        """Writes the base pages and the increments to the landing
        directory; with one file per trigger, the base is the first epoch."""
        self.work = work
        self.landing = work / "landing"
        self.landing.mkdir(parents=True)
        nbytes = {"base": gen.write(gen.pages(self.BASE_PAGES, seed, 50), str(self.landing / "p000.parquet"))}
        increments = []
        for b in range(self.N_BATCHES):
            increments.append(self.landing / f"p{b + 1:03d}.parquet")
            gen.write(gen.pages(self.BATCH_PAGES, seed, 100 + b, (b + 1) << 40), str(increments[-1]))
        nbytes["increments"] = self.increment_bytes = sum(p.stat().st_size for p in increments)
        return nbytes

    def reference(self) -> dict:
        files = sorted(str(p) for p in self.landing.glob("*.parquet"))
        return {"tiles": check.tile_reference(check.mention_points(files, self.ZOOM))}

    def _stream(self, spark, tracer, state: Path) -> list[dict]:
        stream = ingest.read_page_stream(spark, str(self.landing), max_files_per_trigger=1)
        writer = ingest.foreach_batch_incremental(stream, str(state), zoom=self.ZOOM)
        if tracer.enabled:
            handle = writer._convert_spark_handle

            def traced(df, epoch_id):
                with tracer.span("streaming.epoch"):
                    handle(df, epoch_id)

            writer = writer.foreachBatch(traced)
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return [p for p in q.recentProgress if "addBatch" in p["durationMs"]]

    def op(self, spark, tracer, i: int) -> dict:
        state = self.work / f"op{i}"
        t0 = time.perf_counter()
        progress = self._stream(spark, tracer, state)
        wall = time.perf_counter() - t0
        if len(progress) != 1 + self.N_BATCHES:
            raise RuntimeError(f"{len(progress)} epochs ran, expected {1 + self.N_BATCHES}")
        # the fold epochs, after the one that built the state from the base
        epochs = [p["durationMs"]["triggerExecution"] / 1000 for p in progress[1:]]
        add = [p["durationMs"]["addBatch"] / 1000 for p in progress[1:]]
        log = [json.loads(p.read_text()) for p in sorted((state / "_log" / "_snapshots").glob("snapshot-*.json"))]
        written = sum(f["bytes"] for s in log[1:] for f in s["manifest"])
        counts = {
            "streaming.add_batch_s": sum(add),
            "streaming.overhead_s": sum(epochs) - sum(add),
            "streaming.state_tiles": log[-1]["n_tiles"],
            "streaming.write_amp": written / self.increment_bytes,
        }
        return {"wall": wall, "items": self.BASE_PAGES + self.N_BATCHES * self.BATCH_PAGES, "samples": epochs,
                "root": state, "counts": counts}

    def outputs(self, out: dict) -> dict:
        state = out["root"]
        latest = (state / "_LATEST").read_text().strip()
        res = {"tiles": _read(state / f"v{latest}")}
        shutil.rmtree(state)
        return res

    def check(self, ref: dict, got: dict) -> list[str]:
        return check.check_tiles(ref["tiles"], got["tiles"])


class Crawl:
    """The batch pass, then the incremental fold, as one operation. Its
    latency sample is the operation's wall; the epoch times are in the
    traced run's ``streaming.*`` metrics."""

    def __init__(self):
        self.parts = {"crawl_to_tiles": CrawlToTiles(), "crawl_increment": CrawlIncrement()}
        self.sizes = {name: part.sizes for name, part in self.parts.items()}

    def setup(self, spark, work: Path, seed: int) -> dict:
        return {name: part.setup(spark, work / name, seed) for name, part in self.parts.items()}

    def reference(self) -> dict:
        return {name: part.reference() for name, part in self.parts.items()}

    def op(self, spark, tracer, i: int) -> dict:
        outs = {name: part.op(spark, tracer, i) for name, part in self.parts.items()}
        wall = sum(o["wall"] for o in outs.values())
        counts = {k: v for o in outs.values() for k, v in o["counts"].items()}
        return {"wall": wall, "items": sum(o["items"] for o in outs.values()), "samples": [wall],
                "parts": outs, "counts": counts}

    def outputs(self, out: dict) -> dict:
        return {name: part.outputs(out["parts"][name]) for name, part in self.parts.items()}

    def check(self, ref: dict, got: dict) -> list[str]:
        return [f"{name}: {p}" for name, part in self.parts.items() for p in part.check(ref[name], got[name])]


# the parts the self-test checks one by one
PARTS = {"crawl_to_tiles": CrawlToTiles, "poi_match": PoiMatch, "crawl_increment": CrawlIncrement}
WORKLOADS = {"crawl_to_tiles": Crawl, "poi_match": PoiMatch}
