"""Cluster job entrypoint (north_rule: runs via spark-submit --py-files).

On a real cluster:

    zip -r convert_spark.zip convert_spark
    spark-submit --py-files convert_spark.zip \
        --num-executors 250 --executor-cores 4 --executor-memory 16g \
        jobs/tile_pipeline_job.py \
        --input s3://bucket/pages/ --output s3://bucket/tiles/ \
        --zoom 12 --checkpoint s3://bucket/tiles/_snapshots

In the sandbox (no cluster) the same file runs standalone against the
synthetic generator: `python jobs/tile_pipeline_job.py --n-pages 10000`.

The job is the resumable checkpointed pipeline (plans.snapshots): a rerun
after a failure skips committed stages. Session config is created by
spark-submit on a cluster; locally the factory in convert_spark.session
applies (the executor-count knobs are submit-side either way).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None, help="page parquet dir (default: synthetic generator)")
    ap.add_argument("--output", default="/tmp/convert_spark_job_out")
    ap.add_argument("--zoom", type=int, default=12)
    ap.add_argument("--n-pages", type=int, default=10000, help="synthetic size when --input not given")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from convert_spark import datagen
    from convert_spark.operators import extract, joins, tiles
    from convert_spark.plans.snapshots import SnapshotLog, run_stage, run_stage_partitioned

    spark = SparkSession.builder.appName("convert_spark_tile_pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    from pyspark.sql import functions as F

    log = SnapshotLog(args.output)
    # params fingerprint on EVERY stage: a rerun against the same --output
    # with different zoom/size must recompute, not return stale parquet
    p = {"input": args.input, "n_pages": args.n_pages, "zoom": args.zoom}
    if args.input:
        pages = run_stage(spark, log, "pages", lambda: spark.read.parquet(args.input), inputs=[], params=p)
    else:
        pages = run_stage(spark, log, "pages", lambda: datagen.webpages(spark, args.n_pages), inputs=[], params=p)
    mentions = run_stage(
        spark, log, "mentions", lambda: extract.extract_mentions(pages), inputs=["pages"], params=p
    )
    pts = run_stage(
        spark, log, "normalized", lambda: extract.normalize_points(mentions), inputs=["mentions"], params=p
    )
    # per-partition commit granularity (north_rule): tile rows grouped into
    # 16 cell buckets, each bucket an atomic write+manifest — a crash loses
    # only the in-flight bucket
    tiled = run_stage_partitioned(
        spark,
        log,
        "tiled",
        lambda: tiles.with_tile(pts, args.zoom).withColumn(
            "cell_bucket", F.pmod(F.col("cell_id"), F.lit(16)).cast("int")
        ),
        partition_col="cell_bucket",
        partition_values=list(range(16)),
        inputs=["normalized"],
        params=p,
    )
    tagged = run_stage(
        spark,
        log,
        "pip_tagged",
        lambda: joins.pip_join(
            tiled.select("page_id", "mention_idx", "zoom", "cell_id", "lat", "lon"),
            datagen.polygons_pdf(),
            how="left",
        ),
        inputs=["tiled"],
        partition_by=["zoom"],
        params=p,
    )
    def bucketed_rollup():
        """Bucketed tile-dimension layout (north_rule "bucketing for
        co-located joins"): ONE bucketed write each for the tile datasets
        and the PIP hits, then the repeated per-tile operations — the
        poly rollup aggregate AND the dataset join — plan with ZERO
        Exchange (plans/bucketing.py). The job asserts the property at
        build time: a regression to a shuffled plan is a hard failure
        here, not a silent 100 TB slowdown in production."""
        from convert_spark.plans.bucketing import write_bucketed

        ds = tiles.tile_datasets(tiled)
        hits = tagged.filter(F.col("poly_id").isNotNull()).select("cell_id", "poly_id")
        bpath = str(Path(args.output) / "bucketed")
        write_bucketed(ds, "job_tiles_b", 32, path=f"{bpath}/tiles")
        write_bucketed(hits, "job_pip_b", 32, path=f"{bpath}/pip")
        polys_roll = (
            spark.table("job_pip_b")
            .groupBy("cell_id")
            .agg(
                F.countDistinct("poly_id").alias("n_polys"),
                F.count(F.lit(1)).alias("n_poly_hits"),
            )
        )
        # MERGE hints pin the co-bucketed SortMergeJoin the assertion checks
        # (as bucketing.cobucketed_join(force_sortmerge=True)): broadcast is
        # also shuffle-free at sandbox scale but does not survive a 100x
        # right side
        joined = spark.table("job_tiles_b").hint("merge").join(polys_roll.hint("merge"), ["cell_id"], "left")
        out = joined.na.fill({"n_polys": 0, "n_poly_hits": 0})
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed rollup plan regressed to a shuffle:\n{plan}"
        return out

    run_stage(spark, log, "tile_poly_rollup", bucketed_rollup, inputs=["tiled", "pip_tagged"], params=p)
    datasets = run_stage(
        spark,
        log,
        "tile_datasets",
        # range-repartition the final tile output on (zoom, cell_id):
        # spatially coherent files whose cell-id min/max prune downstream
        # bbox reads (north_rule "range-repartitioned explicitly").
        # persist first: repartitionByRange runs a SAMPLING job over its
        # child to pick boundaries — without it the whole tile_datasets
        # aggregation (incl. its pandas UDFs) would execute twice, once
        # for sampling and once for the real shuffle. persist (NOT
        # localCheckpoint) keeps lineage: on a 250-executor cluster a
        # lost executor between sampling and shuffle recomputes its
        # blocks instead of failing the stage. The cache lives only
        # until the job exits right after this stage.
        lambda: tiles.range_partition_cells(
            tiles.tile_datasets(tiled).persist()
        ),
        inputs=["tiled"],
        params=p,
    )
    run_stage(
        spark,
        log,
        "tile_json",
        # per-tile MineAR-style Datasets JSON document (S6) — the job's
        # user-facing output, golden-diffed byte-for-byte at sf0.1 scale
        # by tests/test_job_golden.py
        lambda: tiles.assemble_dataset_json(
            tiled.withColumn(
                "feature_id", F.concat_ws("_", F.col("page_id"), F.col("mention_idx"))
            ),
            datasets,
            keys=["zoom", "cell_id"],
        ),
        inputs=["tiled", "tile_datasets"],
        params=p,
    )
    # the summary counts are the committed snapshots' rows: no re-count job
    snaps = {s["stage"]: s for s in log._snapshots()}
    print(
        json.dumps(
            {
                "stages": {name: {"rows": s["rows"], "rows_per_sec": s["rows_per_sec"]} for name, s in snaps.items()},
                "tiles": snaps["tile_datasets"]["rows"],
                "pip_rows": snaps["pip_tagged"]["rows"],
                "rollup_tiles": snaps["tile_poly_rollup"]["rows"],
                "output": args.output,
            }
        )
    )


if __name__ == "__main__":
    main()
