"""Tile indexing, rollups, and per-tile dataset aggregation.

The distributed generalization of the reference's per-file finalize step
(bbox A1 -> center A2 -> S2 covering A3, convert.go:211-226): one
``groupBy(tile)`` replaces the per-dataset channel/goroutine accumulator —
Spark's partial+final hash agg does the streaming min/max.
"""

from __future__ import annotations

import pandas

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import exprs, udfs
from ..session import fence


def with_tile(df: DataFrame, zoom: int, lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """Add (zoom, tile_x, tile_y, cell_id) columns — pure expressions;
    ``tile_x``/``tile_y`` leave through ``session.fence``."""
    lat = F.col(lat_col).cast("double")
    lon = F.col(lon_col).cast("double")
    out = (
        df.withColumn("zoom", F.lit(zoom))
        .withColumn("tile_x", exprs.tile_x(lon, zoom))
        .withColumn("tile_y", exprs.tile_y(lat, zoom))
    )
    return fence(out, "tile_x", "tile_y").withColumn(
        "cell_id", exprs.morton_cell(F.col("tile_x"), F.col("tile_y"), zoom)
    )


def tile_rollup(df: DataFrame, levels: int, sum_cols: tuple[str, ...] = ()) -> DataFrame:
    """Multi-resolution rollup (north_star "quadkey/H3 rollups").

    ``df`` must already carry (zoom, cell_id) at one base zoom. Aggregates
    once at base zoom (partial map-side combine over the raw data), then
    explodes each base cell's ancestor chain and re-aggregates — the raw
    data is scanned exactly once and coarser levels aggregate the tiny
    pre-aggregated rows, never the raw rows. Returns rows at every zoom in
    [base_zoom - levels + 1, base_zoom] with columns
    (zoom, cell_id, n, sum_<c>...).
    """
    base = df.groupBy("zoom", "cell_id", "tile_x", "tile_y").agg(
        F.count(F.lit(1)).alias("n"), *[F.sum(c).alias(f"sum_{c}") for c in sum_cols]
    )
    # One clean 2-shuffle plan, NO persist: each base cell explodes its
    # ancestor chain (level i: zoom-i, cell>>2i, tx>>i, ty>>i — pure
    # Catalyst expressions, whole-stage codegen) and one re-aggregation
    # groups the exploded rows. The earlier design unioned per-level
    # re-aggregations over an eagerly-persisted base (log-depth shuffle
    # volume, ~4/3x base rows) but leaked the cached base into the
    # caller's lifetime; this shape shuffles levels x base rows — tiny
    # pre-aggregated rows — and owns no cache, no barrier, no lifecycle.
    ancestors = F.array(
        *[
            F.struct(
                (F.col("zoom") - i).alias("zoom"),
                exprs.cell_parent(F.col("cell_id"), i).alias("cell_id"),
                F.shiftright(F.col("tile_x"), i).alias("tile_x"),
                F.shiftright(F.col("tile_y"), i).alias("tile_y"),
            )
            for i in range(levels)
        ]
    )
    exploded = base.select(
        F.explode(ancestors).alias("a"), "n", *[f"sum_{c}" for c in sum_cols]
    ).select("a.zoom", "a.cell_id", "a.tile_x", "a.tile_y", "n", *[f"sum_{c}" for c in sum_cols])
    reaggs = [F.sum("n").alias("n")] + [F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols]
    return exploded.groupBy("zoom", "cell_id", "tile_x", "tile_y").agg(*reaggs)


def compact_cell_sets(df: DataFrame, key: str = "page_id") -> DataFrame:
    """Per-key compacted cell set (north_star "H3 compacted cell sets",
    quadkey-hierarchy form): collect the distinct cells per key, replace
    complete sibling quads by parents recursively (kernels.quadkey.compact)
    via an Arrow UDF over the collected set. Output: (key, cells, n_cells,
    n_compacted)."""
    from pyspark.sql import types as T

    from ..kernels import quadkey as qk

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def compact_udf(cells: pandas.Series) -> pandas.Series:
        import numpy as np

        return pandas.Series([qk.compact(np.asarray(c, dtype=np.int64)).tolist() for c in cells])

    per_key = df.groupBy(key).agg(F.collect_set("cell_id").alias("raw_cells"))
    # compact once, derive n_compacted from the alias (a second UDF call
    # would run the Python kernel twice per row)
    return per_key.select(
        key,
        compact_udf(F.col("raw_cells")).alias("cells"),
        F.size("raw_cells").alias("n_cells"),
    ).withColumn("n_compacted", F.size("cells"))


def tile_datasets(points: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Per-tile dataset summary: bbox (A1) + center (A2) + S2 covering (A3).

    ``points`` must carry x, y (EPSG:3857). The bbox agg is a built-in
    partial+final hash aggregation (replaces the reference's
    channel/goroutine ExtentContainer, convert.go:1079-1134); center is a
    post-agg projection (convert.go:1137-1148: midpoint in 3857, z = DEM
    elevation at the center); covering is the quirky 8-char-token pandas
    UDF over one row per tile.
    """
    keys = group_cols or ["zoom", "cell_id"]
    return _finalize_tiles(_bbox_partial(points, keys), keys)


def _bbox_partial(points: DataFrame, keys: list[str]) -> DataFrame:
    """The decomposable per-tile state: bbox extrema + point count."""
    return points.groupBy(*keys).agg(
        F.min("x").alias("lx"),
        F.max("x").alias("rx"),
        F.min("y").alias("ly"),
        F.max("y").alias("uy"),
        F.count(F.lit(1)).alias("n_points"),
    )


def _finalize_tiles(agg: DataFrame, keys: list[str]) -> DataFrame:
    """Derived fields recomputed from the bbox alone: center, DEM z at the
    center, S2 covering — which is what makes the summary incrementally
    maintainable (merge_tile_datasets)."""
    center_x = (F.col("lx") + F.col("rx")) / 2.0
    center_y = (F.col("ly") + F.col("uy")) / 2.0
    return (
        agg.withColumn("center_x", center_x)
        .withColumn("center_y", center_y)
        .withColumn("center_z", udfs.elev_3857_or_zero(F.col("center_x"), F.col("center_y")))
        .withColumn("s2", udfs.s2_covering(F.col("lx"), F.col("ly"), F.col("rx"), F.col("uy")))
    )


def merge_tile_datasets(
    prev: DataFrame, new_points: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Incremental per-tile dataset maintenance (the daily-crawl shape on
    the tile side): fold a NEW batch of points into existing summaries
    without re-aggregating history. bbox extrema and counts are
    decomposable (min/max/sum over the stored partials + the new batch's
    partials), and every derived field (center, DEM z, S2 covering) is a
    function of the merged bbox alone — so an increment never re-reads
    the points that built ``prev``. It is NOT O(|touched tiles|): every
    tile of ``prev``, touched or not, goes through the union, the
    re-aggregation and the derived-field UDFs again, so an increment
    costs O(|prev tiles| + |new points|) and its output is the whole
    state. Deletions are out of scope (min/max are not subtractable);
    the reference pipeline is append-only.

    ``prev`` is a ``tile_datasets`` output (or a previous merge);
    returns the same schema, equal to ``tile_datasets`` over the full
    point union (gate row q_tile_incremental pins the equality)."""
    keys = group_cols or ["zoom", "cell_id"]
    delta = _bbox_partial(new_points, keys)
    both = prev.select(*keys, "lx", "rx", "ly", "uy", "n_points").unionByName(delta)
    merged = both.groupBy(*keys).agg(
        F.min("lx").alias("lx"),
        F.max("rx").alias("rx"),
        F.min("ly").alias("ly"),
        F.max("uy").alias("uy"),
        F.sum("n_points").alias("n_points"),
    )
    return _finalize_tiles(merged, keys)


def assemble_dataset_json(points: DataFrame, summary: DataFrame, keys: list[str]) -> DataFrame:
    """MineAR-style Datasets document per group (S6, convert.go:29-39):
    deterministic feature order (SURVEY.md §3.2: the reference's goroutine
    append order is a data race; we canonicalize by feature id)."""
    feats = points.groupBy(*keys).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("feature_id").alias("id"),
                    F.col("x"),
                    F.col("y"),
                    F.col("z"),
                )
            )
        ).alias("points")
    )
    doc = summary.join(feats, keys, "inner").select(
        *keys,
        F.to_json(
            F.struct(
                F.concat_ws("_", *[F.col(k).cast("string") for k in keys]).alias("id"),
                F.struct(F.col("center_x").alias("x"), F.col("center_y").alias("y"), F.col("center_z").alias("z")).alias(
                    "center"
                ),
                F.col("s2"),
                F.col("points"),
            )
        ).alias("dataset_json"),
        F.col("n_points"),
    )
    return doc


def range_partition_cells(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Explicit RANGE repartitioning on (zoom, cell_id) — the north_star's
    "salted and range-repartitioned explicitly" output layout.

    Why range, not hash, for tile outputs: Morton cell ids are a
    space-filling curve, so contiguous cell-id ranges are spatially
    coherent — each output partition/file covers a compact region, and a
    downstream bbox query prunes whole files by cell-range metadata
    (parquet min/max on cell_id) instead of touching every file.
    ``repartitionByRange`` samples the data to pick boundaries, so a
    dense city (hot cell range) is SPLIT across several partitions by
    observed density rather than hashed wholesale into one — the
    range-side complement to ``joins.salted_tile_join`` on the join side.
    """
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    return df.repartitionByRange(n, F.col("zoom"), F.col("cell_id"))
