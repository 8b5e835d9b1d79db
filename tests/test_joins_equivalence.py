"""Equivalence tests for the replicated joins.

* ``knn_join`` against a numpy brute force of its schedule contract: R(q)
  is the smallest ring of the doubling schedule [ring, 2*ring, ...,
  max_ring] holding >= k refs (Chebyshev tile distance at the operator
  zoom, longitude wrapping), else max_ring; the rows within R(q) rank by
  planar (a-b)*(a-b) distance, then ref id. Rows, ranks and ``dist2`` must
  be bit-equal, and with ring=1 (no density probe) ``round_stats`` must
  equal the reference straggler counts. The inputs drive every step kind:
  the density probe (a dense cluster, plus a planted query whose probe
  ring holds k refs while a nearer ref sits just outside it), ring
  doubling (a sparse desert, plus a planted query with exactly k-1 refs in
  its first ring), a first step that answers every query (0 stragglers),
  the antimeridian wrap, a zoom-2 grid whose rings 2 and 4 span more
  than the 4 tile columns (2*ring+1 > 2^zoom: every column must join
  exactly once), near-pole points (probe bound None), zoom 29/30
  (the deep probe zoom caps at 30, so at zoom 30 it is the operator
  zoom), k above the number of refs, and an empty query set.
* ``salted_tile_join`` with a large ``n_salt``: same rows as ``tile_join``
  and an analyzed plan no larger than at a small ``n_salt``.
* ``_ring_candidates``: the analyzed plan at ring 64 is no larger than at
  ring 1 (the offsets come from ``sequence``, not literal arrays).
* ``salted_tile_join`` keeps a caller's own ``salt`` column and returns
  the rows of ``tile_join``; ``pip_join`` keeps a caller's column whose
  name differs from its temp name only in case.
* ``_match_pairs`` (the PIP refine behind ``pip_join``) against the
  per-polygon boolean-mask refine its sort-and-slice grouping replaced:
  identical ``(point_idx, poly_id)`` pairs in identical order, over
  overlapping polygons, a polygon with a hole and a batch with no
  candidates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from convert_spark.functions import exprs
from convert_spark.kernels import pip as pip_kernel
from convert_spark.operators import joins


def _frames(q_lat, q_lon, r_lat, r_lon):
    qs = pd.DataFrame({"query_id": np.arange(len(q_lat), dtype=np.int64),
                       "lat": np.asarray(q_lat, dtype=np.float64), "lon": np.asarray(q_lon, dtype=np.float64)})
    rs = pd.DataFrame({"ref_id": np.arange(len(r_lat), dtype=np.int64) * 7 + 3,
                       "lat": np.asarray(r_lat, dtype=np.float64), "lon": np.asarray(r_lon, dtype=np.float64)})
    return qs, rs


def _tile_center(lat, lon, zoom):
    """Centre (lat, lon) of the tile holding (lat, lon), its width in
    degrees of longitude and its height in degrees of latitude."""
    n = 1 << zoom
    w = 360.0 / n
    tx = int(np.floor((lon + 180.0) / w))
    ty = joins._tile_row_of(lat, n)
    north, south = joins._tile_row_north_lat(ty, n), joins._tile_row_north_lat(ty + 1, n)
    return (north + south) / 2.0, -180.0 + (tx + 0.5) * w, w, north - south


def case_dense():
    """Probe path (ring 2 > 1): a dense cluster, plus a planted query at a
    zoom-8 tile centre (the deep probe zoom) with k=4 refs near the far
    corners of its 3x3 probe ring and one ref just past the ring's east
    edge — nearer than the corners, so only the prune bound stops the
    deep probe from answering it."""
    rng = np.random.Generator(np.random.PCG64(21))
    q_lat, q_lon = 40 + rng.uniform(0, 6, 60), -74 + rng.uniform(0, 6, 60)
    r_lat, r_lon = 40 + rng.uniform(0, 6, 400), -74 + rng.uniform(0, 6, 400)
    c_lat, c_lon, w, h = _tile_center(10.3, 100.3, 8)
    corners = [(1.3 * h, 1.4 * w), (1.3 * h, -1.4 * w), (-1.3 * h, 1.4 * w), (-1.3 * h, -1.4 * w)]
    q_lat, q_lon = np.append(q_lat, c_lat), np.append(q_lon, c_lon)
    r_lat = np.concatenate([r_lat, [c_lat + a for a, _ in corners], [c_lat]])
    r_lon = np.concatenate([r_lon, [c_lon + b for _, b in corners], [c_lon + 1.55 * w]])
    return _frames(q_lat, q_lon, r_lat, r_lon), dict(k=4, zoom=6, ring=2, max_ring=8)


def case_desert():
    """Doubling path (ring 1): sparse refs, plus a planted query holding
    exactly k-1 refs in its own tile and more three tiles east."""
    rng = np.random.Generator(np.random.PCG64(22))
    q_lat, q_lon = rng.uniform(-60, 60, 40), rng.uniform(-170, 170, 40)
    r_lat, r_lon = rng.uniform(-60, 60, 60), rng.uniform(-170, 170, 60)
    c_lat, c_lon, w, h = _tile_center(-75.0, 0.1, 6)
    q_lat, q_lon = np.append(q_lat, c_lat), np.append(q_lon, c_lon)
    r_lat = np.concatenate([r_lat, [c_lat + 0.1 * h, c_lat - 0.1 * h], [c_lat] * 3])
    r_lon = np.concatenate([r_lon, [c_lon + 0.1 * w, c_lon - 0.2 * w], c_lon + w * np.array([3.0, 3.1, 3.2])])
    return _frames(q_lat, q_lon, r_lat, r_lon), dict(k=3, zoom=6, ring=1, max_ring=8)


def case_antimeridian():
    rng = np.random.Generator(np.random.PCG64(23))
    q_lon = np.concatenate([179.9 - rng.uniform(0, 3, 10), -179.9 + rng.uniform(0, 3, 10), [180.0, -180.0]])
    q_lat = rng.uniform(-5, 5, q_lon.size)
    r_lon = np.concatenate([179.95 - rng.uniform(0, 12, 15), -179.95 + rng.uniform(0, 12, 15), [180.0]])
    r_lat = rng.uniform(-5, 5, r_lon.size)
    return _frames(q_lat, q_lon, r_lat, r_lon), dict(k=3, zoom=6, ring=1, max_ring=4)


def case_pole():
    """Points beyond the web-mercator latitude range: no prune bound, so
    a ring-2 call runs the doubling schedule only."""
    rng = np.random.Generator(np.random.PCG64(24))
    q_lat = np.concatenate([[85.5, 89.9, -89.0, 86.0], rng.uniform(70, 85, 10)])
    q_lon = rng.uniform(-20, 20, q_lat.size)
    r_lat = np.concatenate([[85.2, 88.0, -88.5, -86.0, 90.0], rng.uniform(60, 85, 30)])
    r_lon = rng.uniform(-40, 40, r_lat.size)
    return _frames(q_lat, q_lon, r_lat, r_lon), dict(k=3, zoom=6, ring=2, max_ring=8)


def _case_deep(zoom):
    rng = np.random.Generator(np.random.PCG64(25 + zoom))
    span = 8 * 360.0 / (1 << zoom)
    q_lat, q_lon = 48.85 + rng.uniform(0, span, 10), 2.35 + rng.uniform(0, span, 10)
    r_lat = np.concatenate([48.85 + rng.uniform(0, span, 40), 48.85 + rng.uniform(0, 6 * span, 10)])
    r_lon = np.concatenate([2.35 + rng.uniform(0, span, 40), 2.35 + rng.uniform(0, 6 * span, 10)])
    return _frames(q_lat, q_lon, r_lat, r_lon), dict(k=3, zoom=zoom, ring=2, max_ring=8)


def case_zoom29():
    return _case_deep(29)


def case_zoom30():
    return _case_deep(30)


def case_k_above_refs():
    rng = np.random.Generator(np.random.PCG64(27))
    q_lat, q_lon = 10 + rng.uniform(0, 2, 8), 20 + rng.uniform(0, 2, 8)
    r_lat, r_lon = 10 + rng.uniform(0, 2, 6), 20 + rng.uniform(0, 2, 6)
    return _frames(q_lat, q_lon, r_lat, r_lon), dict(k=10, zoom=6, ring=1, max_ring=2)


def case_all_answered():
    """Ring 1 of 1 -> 2 -> 4 holds k refs for every query: the first
    non-final step answers them all and leaves 0 stragglers."""
    rng = np.random.Generator(np.random.PCG64(29))
    q_lat, q_lon = 30 + rng.uniform(2, 4, 20), 10 + rng.uniform(2, 4, 20)
    r_lat, r_lon = 30 + rng.uniform(0, 6, 300), 10 + rng.uniform(0, 6, 300)
    return _frames(q_lat, q_lon, r_lat, r_lon), dict(k=3, zoom=6, ring=1, max_ring=4)


def case_low_zoom():
    """Zoom 2: ring 1 spans 3 of the 4 tile columns, rings 2 and 4 span
    every column. Queries beyond 66.5N with refs mostly beyond 66.5S
    stay stragglers through ring 2, so the final ring-4 step runs too."""
    rng = np.random.Generator(np.random.PCG64(30))
    q_lat = np.concatenate([rng.uniform(-60, 60, 20), rng.uniform(70, 80, 5)])
    q_lon = rng.uniform(-179, 179, 25)
    r_lat = np.concatenate([rng.uniform(10, 60, 2), rng.uniform(-80, -70, 4)])
    r_lon = rng.uniform(-179, 179, 6)
    return _frames(q_lat, q_lon, r_lat, r_lon), dict(k=3, zoom=2, ring=1, max_ring=4)


def case_empty_queries():
    rng = np.random.Generator(np.random.PCG64(28))
    return _frames([], [], rng.uniform(-5, 5, 20), rng.uniform(-5, 5, 20)), dict(k=3, zoom=6, ring=1, max_ring=4)


CASES = [case_dense, case_desert, case_antimeridian, case_low_zoom, case_pole, case_zoom29, case_zoom30,
         case_k_above_refs, case_all_answered, case_empty_queries]


def _tiles(spark, pdf, id_col, zoom):
    """(tile_x, tile_y) per row from the engine's tile expressions, in
    ``pdf`` order — the contract is stated on these tiles."""
    df = spark.createDataFrame(pdf[[id_col, "lat", "lon"]], f"{id_col} long, lat double, lon double")
    t = df.select(id_col, exprs.tile_x(F.col("lon"), zoom).alias("tx"),
                  exprs.tile_y(F.col("lat"), zoom).alias("ty")).toPandas()
    t = t.set_index(id_col).loc[pdf[id_col].to_numpy()]
    return t["tx"].to_numpy(np.int64), t["ty"].to_numpy(np.int64)


def schedule_reference(qs, rs, q_tiles, r_tiles, k, zoom, ring, max_ring):
    """(rows, round_stats) of the schedule contract by brute force."""
    n = 1 << zoom
    rings = [ring]
    while rings[-1] < max_ring:
        rings.append(min(2 * rings[-1], max_ring))
    stragglers = [0] * (len(rings) - 1)
    r_ids = rs["ref_id"].to_numpy()
    r_lat, r_lon = rs["lat"].to_numpy(), rs["lon"].to_numpy()
    rows = []
    for i, (qid, lat, lon) in enumerate(qs[["query_id", "lat", "lon"]].itertuples(index=False)):
        dx = np.abs(q_tiles[0][i] - r_tiles[0])
        cheb = np.maximum(np.minimum(dx, n - dx), np.abs(q_tiles[1][i] - r_tiles[1]))
        for j, radius in enumerate(rings):
            if j == len(rings) - 1 or (cheb <= radius).sum() >= k:
                break
            stragglers[j] += 1
        sel = cheb <= radius
        d = (lat - r_lat[sel]) * (lat - r_lat[sel]) + (lon - r_lon[sel]) * (lon - r_lon[sel])
        order = np.lexsort((r_ids[sel], d))[:k]
        rows += [(qid, r_ids[sel][o], d[o], rank) for rank, o in enumerate(order, start=1)]
    stats = []
    for radius, left in zip(rings, stragglers):
        stats.append((radius, left))
        if left == 0:
            break
    ref = pd.DataFrame(rows, columns=["query_id", "ref_id", "dist2", "rank"])
    return ref.astype({"query_id": "int64", "ref_id": "int64", "dist2": "float64", "rank": "int64"}), stats


class TestKnnSchedule:
    @pytest.mark.parametrize("n_salt", [0, 8])
    @pytest.mark.parametrize("case", CASES, ids=lambda c: c.__name__[5:])
    def test_matches_schedule_reference(self, spark, case, n_salt):
        (qs, rs), kw = case()
        q_df = spark.createDataFrame(qs, "query_id long, lat double, lon double")
        r_df = spark.createDataFrame(rs, "ref_id long, lat double, lon double")
        stats: list = []
        got = (
            joins.knn_join(q_df, r_df, n_salt=n_salt, round_stats=stats, **kw)
            .toPandas()
            .astype({"query_id": "int64", "ref_id": "int64", "dist2": "float64", "rank": "int64"})
        )
        q_tiles = _tiles(spark, qs, "query_id", kw["zoom"])
        r_tiles = _tiles(spark, rs, "ref_id", kw["zoom"])
        ref, ref_stats = schedule_reference(qs, rs, q_tiles, r_tiles, **kw)
        key = ["query_id", "rank"]
        got = got.sort_values(key).reset_index(drop=True)[ref.columns]
        ref = ref.sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(got, ref, check_exact=True)
        if kw["ring"] == 1:
            assert stats == ref_stats

    def test_cases_reach_every_step_kind(self, spark):
        """The inputs above really drive the paths they are named for."""
        (qs, rs), kw = case_dense()
        stats: list = []
        joins.knn_join(spark.createDataFrame(qs), spark.createDataFrame(rs), round_stats=stats, **kw)
        # two probe steps (zoom 8, then 6) leave some stragglers each
        assert [rg for rg, _ in stats[:2]] == [1, 1] and stats[0][1] > 0
        (qs, rs), kw = case_pole()
        ext = joins._latlon_extremes(
            spark.createDataFrame(qs).select(F.col("lat").alias("q_lat"), F.col("lon").alias("q_lon")),
            spark.createDataFrame(rs).select(F.col("lat").alias("r_lat"), F.col("lon").alias("r_lon")),
        )
        assert joins._prune_bound_at(ext, kw["zoom"]) is None
        (qs, rs), kw = case_desert()
        q_tiles = _tiles(spark, qs, "query_id", kw["zoom"])
        r_tiles = _tiles(spark, rs, "ref_id", kw["zoom"])
        _, ref_stats = schedule_reference(qs, rs, q_tiles, r_tiles, **kw)
        assert len(ref_stats) >= 3 and ref_stats[0][1] > ref_stats[1][1] > 0
        (qs, rs), kw = case_low_zoom()
        q_tiles = _tiles(spark, qs, "query_id", kw["zoom"])
        r_tiles = _tiles(spark, rs, "ref_id", kw["zoom"])
        _, ref_stats = schedule_reference(qs, rs, q_tiles, r_tiles, **kw)
        # stragglers after ring 2: the final ring-4 step runs too
        assert [rg for rg, _ in ref_stats] == [1, 2] and ref_stats[1][1] > 0
        (qs, rs), kw = case_all_answered()
        stats = []
        joins.knn_join(spark.createDataFrame(qs), spark.createDataFrame(rs), round_stats=stats, **kw)
        assert stats == [(1, 0)]


class TestSaltSequence:
    def _inputs(self, spark):
        pts = spark.range(600).select(
            F.col("id").alias("rowid"), (F.col("id") % 5).alias("zoom"), (F.col("id") % 37).alias("cell_id")
        )
        dim = spark.range(40).select(
            (F.col("id") % 5).alias("zoom"), F.col("id").alias("cell_id"), (F.col("id") * 3).alias("tag")
        )
        return pts, dim

    def test_large_n_salt_equals_plain_join(self, spark):
        pts, dim = self._inputs(spark)
        plain = joins.tile_join(pts, dim).toPandas()
        salted = joins.salted_tile_join(pts, dim, n_salt=4096, salt_cols=["rowid"]).toPandas()
        key = ["rowid", "zoom", "cell_id"]
        pd.testing.assert_frame_equal(
            plain.sort_values(key).reset_index(drop=True),
            salted[plain.columns].sort_values(key).reset_index(drop=True),
        )
        assert len(plain) > 0

    def test_caller_salt_column_kept(self, spark):
        pts, dim = self._inputs(spark)
        pts = pts.withColumn("salt", F.concat(F.lit("payload-"), F.col("rowid").cast("string")))
        plain = joins.tile_join(pts, dim).toPandas()
        salted = joins.salted_tile_join(pts, dim, n_salt=8).toPandas()
        assert list(salted.columns) == list(plain.columns)
        key = ["rowid", "zoom", "cell_id"]
        pd.testing.assert_frame_equal(
            plain.sort_values(key).reset_index(drop=True),
            salted.sort_values(key).reset_index(drop=True),
        )
        assert len(plain) > 0
        assert (salted["salt"] == "payload-" + salted["rowid"].astype(str)).all()

    def test_analyzed_plan_constant_in_n_salt(self, spark):
        pts, dim = self._inputs(spark)

        def plan_len(n_salt):
            j = joins.salted_tile_join(pts, dim, n_salt=n_salt, salt_cols=["rowid"])
            return len(j._jdf.queryExecution().analyzed().toString())

        assert plan_len(4096) <= plan_len(8) + 16


class TestRingSequence:
    def test_analyzed_plan_constant_in_ring(self, spark):
        q = spark.range(20).select(
            F.col("id").alias("query_id"), F.lit(1.0).alias("q_lat"), F.lit(2.0).alias("q_lon"),
            (F.col("id") % 7).alias("q_tx"), (F.col("id") % 5).alias("q_ty"),
        )
        r = spark.range(20).select(
            F.col("id").alias("ref_id"), F.lit(1.0).alias("r_lat"), F.lit(2.0).alias("r_lon"),
            F.col("id").alias("r_cell"),
        )

        def plan_len(ring):
            j = joins._ring_candidates(q, r, ring, 10, "query_id")
            return len(j._jdf.queryExecution().analyzed().toString())

        assert plan_len(64) <= plan_len(1) + 16


def match_pairs_reference(idx, px, py):
    """The per-polygon boolean-mask refine: for each candidate polygon, a
    mask over the whole candidate array selects its pairs, and the
    inside flags are written back through that mask (candidate order)."""
    qi, ii = idx["tree"].query_points(px, py)
    inside = np.zeros(qi.size, dtype=bool)
    for poly in np.unique(ii):
        m = ii == poly
        crossings = np.zeros(int(m.sum()), dtype=np.int64)
        for ring in idx["rings"][poly]:
            if ring.shape[0] >= 4:
                crossings += pip_kernel.ring_crossings(px[qi[m]], py[qi[m]], ring)
        inside[m] = (crossings & 1).astype(bool)
    return qi[inside], idx["poly_ids"][ii[inside]]


class TestMatchPairsOrder:
    @staticmethod
    def _polygons():
        rng = np.random.default_rng(12)
        rows = []
        for i in range(59):  # overlapping triangles and quads around (0, 0)
            cx, cy = rng.uniform(-10, 10, 2)
            n = 3 + i % 2
            ang = np.sort(rng.uniform(0, 2 * np.pi, n))
            r = rng.uniform(1, 4, n)
            ring = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)
            rows.append((1000 + 7 * i, [ring.tolist()]))
        outer = [[-3, -3], [3, -3], [3, 3], [-3, 3]]
        hole = [[-1, -1], [-1, 1], [1, 1], [1, -1]]
        rows.append((5, [outer, hole]))
        return pd.DataFrame(rows, columns=["poly_id", "rings"])

    def test_pairs_and_order_match_mask_refine(self):
        idx = joins._polygon_index(self._polygons())
        rng = np.random.default_rng(13)
        px, py = rng.uniform(-14, 14, 3000), rng.uniform(-14, 14, 3000)
        got = joins._match_pairs(idx, px, py)
        ref = match_pairs_reference(idx, px, py)
        np.testing.assert_array_equal(got[0], ref[0])
        np.testing.assert_array_equal(got[1], ref[1])
        # the inputs reach overlaps (a point in several polygons) and the
        # hole (inside the outer ring of polygon 5, outside the polygon)
        assert np.bincount(got[0]).max() > 1
        in_hole = (np.abs(px) < 1) & (np.abs(py) < 1)
        assert in_hole.any() and not np.isin(np.flatnonzero(in_hole), got[0][got[1] == 5]).any()
        assert (got[1] == 5).any()

    def test_pip_join_keeps_case_variant_of_temp_name(self, spark):
        """Spark resolves column names case-insensitively, so a caller's
        ``_POLYS`` column is the temp name ``_polys`` to withColumn."""
        pts = spark.createDataFrame(
            pd.DataFrame({"lon": [0.5, 2.0, 50.0], "lat": [0.5, 2.0, 50.0], "_POLYS": ["a", "b", "c"]})
        )
        got = joins.pip_join(pts, self._polygons(), how="left").toPandas()
        assert list(got.columns) == ["lon", "lat", "_POLYS", "poly_id"]
        assert set(got["_POLYS"]) == {"a", "b", "c"}

    def test_batch_without_candidates(self):
        idx = joins._polygon_index(self._polygons())
        px, py = np.full(5, 100.0), np.linspace(50, 60, 5)
        got = joins._match_pairs(idx, px, py)
        ref = match_pairs_reference(idx, px, py)
        assert got[0].size == 0 and ref[0].size == 0 and got[1].size == 0
