"""Unit tests for the pure-numpy geo kernels (no Spark)."""

import math

import numpy as np
import pandas as pd
import pytest

from convert_spark.kernels import coords, delaunay, dem, geometrics, mercator, pip, quadkey, s2, strtree


class TestRounding:
    def test_half_away_from_zero(self):
        # Go math.Round semantics at cm scale
        assert mercator.round_half_away(0.005, 2) == 0.01
        assert mercator.round_half_away(-0.005, 2) == -0.01
        assert mercator.round_half_away(2.675, 2) == 2.68  # np.round gives 2.67
        assert mercator.round_half_away(1.0049999, 2) == 1.0

    def test_vectorized(self):
        v = np.array([0.125, -0.125, 0.135])
        np.testing.assert_allclose(mercator.round_half_away(v, 2), [0.13, -0.13, 0.14])


class TestMercator:
    def test_known_values(self):
        # lon=0,lat=0 -> 0,0 ; lon=180 -> pi*R
        x, y = mercator.to3857(np.array([0.0, 180.0]), np.array([0.0, 0.0]))
        assert x[0] == 0.0 and y[0] == 0.0
        assert abs(x[1] - mercator.round_half_away(math.pi * mercator.R_EARTH, 2)) < 1e-9

    def test_hand_computed(self):
        # (-111.02543, 45.63793) — the fixture extreme point (FIXTURES.md §3)
        x, y = mercator.to3857(np.array([-111.02543]), np.array([45.63793]))
        ex = 6378137.0 * math.radians(-111.02543)
        ey = 6378137.0 * math.log(math.tan(math.pi / 4 + math.radians(45.63793) / 2))
        assert x[0] == mercator.round_half_away(ex, 2)
        assert y[0] == mercator.round_half_away(ey, 2)

    def test_crs_inference_passthrough(self):
        # already-3857 values pass through (cm-rounded)
        x, y = mercator.to3857(np.array([1234567.891]), np.array([5678901.234]))
        assert x[0] == 1234567.89 and y[0] == 5678901.23

    def test_roundtrip(self):
        # NOTE: points within ~0.0016 deg of (0,0) project to <180 m and the
        # reference's value-range CRS inference then misreads them as degrees
        # (convert.go:1258) — a faithful quirk, so avoid the ambiguous zone.
        lon = np.array([-111.02543, 12.5, 179.9, -0.01])
        lat = np.array([45.63793, -33.2, 80.0, 0.01])
        mx, my = mercator.to3857(lon, lat)
        lon2, lat2 = mercator.to4326(mx, my)
        np.testing.assert_allclose(lon2, lon, atol=2e-4)
        np.testing.assert_allclose(lat2, lat, atol=2e-4)

    def test_to4326_passthrough_unrounded(self):
        # in-degree-range values pass through WITHOUT rounding
        x, y = mercator.to4326(np.array([12.3456789]), np.array([-45.987654321]))
        assert x[0] == 12.3456789 and y[0] == -45.987654321

    def test_zero_zero_stays(self):
        x, y = mercator.to3857(np.array([0.0]), np.array([0.0]))
        assert x[0] == 0.0 and y[0] == 0.0


class TestCheckCoords:
    def test_arity_and_fill(self):
        x = np.array([10.0, np.nan, 20.0])
        y = np.array([50.0, 5.0, 60.0])
        z = np.array([0.0, 0.0, 123.0])
        has_z = np.array([False, False, True])
        px, py, pz, valid = coords.check_coords(x, y, z, has_z, elev_fn=dem.get_elev)
        assert valid.tolist() == [True, False, True]
        assert pz[2] == 123.0  # provided z kept
        # missing z filled from the DEM at the projected location
        expected = dem.get_elev(px[:1], py[:1])[0]
        assert pz[0] == expected and np.isfinite(pz[0])

    def test_elev_failure_becomes_zero(self):
        def bad_elev(x, y):
            return np.full(x.shape, np.nan)

        px, py, pz, valid = coords.check_coords(
            np.array([10.0]), np.array([50.0]), np.array([0.0]), np.array([False]), elev_fn=bad_elev
        )
        assert valid[0] and pz[0] == 0.0


class TestDEM:
    def test_bilinear_matches_surface_on_gridpoints(self):
        # exact at grid nodes
        lat = np.array([0.0, 45.25, -60.5])
        lon = np.array([0.0, -110.25, 30.75])
        np.testing.assert_allclose(dem.sample_latlon(lat, lon), dem.surface(lat, lon), rtol=1e-12)

    def test_bilinear_close_off_grid(self):
        lat = np.array([45.6379])
        lon = np.array([-111.0254])
        assert abs(dem.sample_latlon(lat, lon)[0] - dem.surface(lat, lon)[0]) < 1.0

    def test_get_elev_via_3857(self):
        mx, my = mercator.to3857(np.array([-111.0]), np.array([45.5]))
        v = dem.get_elev(mx, my)
        assert abs(v[0] - dem.surface(np.array([45.5]), np.array([-111.0]))[0]) < 1.0

    def test_out_of_range_nan(self):
        assert np.isnan(dem.sample_latlon(np.array([99.0]), np.array([0.0]))[0])


class TestQuadkey:
    def test_tile_known(self):
        # (41.850, -87.650) z=3 -> tile (2, 2) -> digits 0,3,0
        tx, ty = quadkey.latlon_to_tile(np.array([41.85]), np.array([-87.65]), 3)
        assert (tx[0], ty[0]) == (2, 2)
        c = quadkey.cell_id(np.array([41.85]), np.array([-87.65]), 3)
        assert quadkey.quadkey_str(c) == ["030"]
        # canonical Bing tile-system doc vector: tile (3, 5) level 3 -> "213"
        c2 = quadkey.tile_to_cell(np.array([3]), np.array([3]), np.array([5]))
        assert quadkey.quadkey_str(c2) == ["213"]

    def test_roundtrip(self):
        lat = np.array([41.85, -33.9, 0.0, 85.0])
        lon = np.array([-87.65, 151.2, 0.0, 179.99])
        for z in (1, 5, 12, 20):
            c = quadkey.cell_id(lat, lon, z)
            zz, tx, ty = quadkey.cell_to_tile(c)
            assert (zz == z).all()
            c2 = quadkey.tile_to_cell(zz, tx, ty)
            np.testing.assert_array_equal(c, c2)

    def test_parent_child(self):
        c = quadkey.cell_id(np.array([41.85]), np.array([-87.65]), 10)
        p = quadkey.parent(c)
        assert quadkey.cell_zoom(p)[0] == 9
        assert int(c[0]) in quadkey.children(int(p[0])).tolist()
        # containment: parent of a point at z10 == cell of the point at z9
        p_direct = quadkey.cell_id(np.array([41.85]), np.array([-87.65]), 9)
        assert p[0] == p_direct[0]

    def test_k_ring(self):
        c = quadkey.cell_id(np.array([41.85]), np.array([-87.65]), 8)
        origin, neigh = quadkey.k_ring(c, 1)
        assert origin.size == 9  # interior cell: full 3x3
        assert int(c[0]) in neigh.tolist()
        assert len(set(neigh.tolist())) == 9
        # pole clipping: y=0 row drops 3 neighbors
        top = quadkey.tile_to_cell(np.array([8]), np.array([10]), np.array([0]))
        _, neigh2 = quadkey.k_ring(top, 1)
        assert neigh2.size == 6

    def test_lon_wrap(self):
        west = quadkey.tile_to_cell(np.array([4]), np.array([0]), np.array([7]))
        _, neigh = quadkey.k_ring(west, 1)
        zz, tx, ty = quadkey.cell_to_tile(neigh)
        assert 15 in tx.tolist()  # wrapped to the east edge

    def test_compact_uncompact(self):
        base = quadkey.cell_id(np.array([41.85]), np.array([-87.65]), 6)
        full = quadkey.uncompact(base, 9)  # 4^3 = 64 cells
        assert full.size == 64
        comp = quadkey.compact(full)
        np.testing.assert_array_equal(comp, base)
        # partial cover stays put
        partial = full[:-1]
        comp2 = quadkey.compact(partial)
        assert comp2.size == 1 + 4 + 4 + 3 + 4 + 4 + 4 + 4 + 4 + 4 + 4 + 4 + 3 + 4 + 4 + 4 or comp2.size < 64

    def test_cell_bounds_contains_point(self):
        lat, lon = np.array([41.85]), np.array([-87.65])
        c = quadkey.cell_id(lat, lon, 12)
        s, n, w, e = quadkey.cell_bounds(c)
        assert s[0] <= lat[0] <= n[0]
        assert w[0] <= lon[0] <= e[0]

    def test_sql_parity_form(self):
        # the tile formula must match its ANSI-SQL re-statement used by oracles
        lat, lon, z = 41.85, -87.65, 12
        n = 1 << z
        tx_sql = min(max(int(math.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
        lr = math.radians(lat)
        ty_sql = min(max(int(math.floor((1.0 - math.log(math.tan(lr) + 1.0 / math.cos(lr)) / math.pi) / 2.0 * n)), 0), n - 1)
        tx, ty = quadkey.latlon_to_tile(np.array([lat]), np.array([lon]), z)
        assert (tx[0], ty[0]) == (tx_sql, ty_sql)


class TestPIP:
    UNIT = [[[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]]]

    def test_basic(self):
        px = np.array([5.0, 15.0, -1.0, 9.999])
        py = np.array([5.0, 5.0, 5.0, 9.999])
        got = pip.point_in_multipolygon(px, py, [self.UNIT])
        assert got.tolist() == [True, False, False, True]

    def test_doughnut_hole(self):
        outer = [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]]
        hole = [[4.0, 4.0], [6.0, 4.0], [6.0, 6.0], [4.0, 6.0]]
        poly = [[outer, hole]]
        px = np.array([5.0, 2.0, 4.5])
        py = np.array([5.0, 2.0, 4.5])
        got = pip.point_in_multipolygon(px, py, poly)
        assert got.tolist() == [False, True, False]  # center is in the hole

    def test_multi(self):
        p1 = [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]]]
        p2 = [[[5.0, 5.0], [6.0, 5.0], [6.0, 6.0], [5.0, 6.0]]]
        got = pip.point_in_multipolygon(np.array([0.5, 5.5, 3.0]), np.array([0.5, 5.5, 3.0]), [p1, p2])
        assert got.tolist() == [True, True, False]

    def test_rotation_invariance(self):
        ring = np.array(self.UNIT[0])
        px, py = np.array([5.0, 10.5]), np.array([5.0, 3.0])
        base = pip.point_in_multipolygon(px, py, [[ring.tolist()]])
        for k in range(1, 4):
            rot = np.roll(ring, k, axis=0)
            got = pip.point_in_multipolygon(px, py, [[rot.tolist()]])
            assert got.tolist() == base.tolist()


class TestSTRtree:
    def test_candidates_superset_of_exact(self):
        rng = np.random.RandomState(0)
        boxes = np.empty((200, 4))
        mins = rng.uniform(0, 100, size=(200, 2))
        sizes = rng.uniform(0.5, 5, size=(200, 2))
        boxes[:, :2] = mins
        boxes[:, 2:] = mins + sizes
        tree = strtree.STRtree(boxes)
        px = rng.uniform(0, 100, 500)
        py = rng.uniform(0, 100, 500)
        qi, ii = tree.query_points(px, py)
        got = set(zip(qi.tolist(), ii.tolist()))
        expect = set()
        for q in range(500):
            inside = np.where(
                (boxes[:, 0] <= px[q]) & (boxes[:, 2] >= px[q]) & (boxes[:, 1] <= py[q]) & (boxes[:, 3] >= py[q])
            )[0]
            for i in inside:
                expect.add((q, int(i)))
        assert got == expect

    def test_empty_and_single(self):
        t0 = strtree.STRtree(np.empty((0, 4)))
        qi, ii = t0.query_points(np.array([1.0]), np.array([1.0]))
        assert qi.size == 0
        t1 = strtree.STRtree(np.array([[0.0, 0.0, 1.0, 1.0]]))
        qi, ii = t1.query_points(np.array([0.5, 2.0]), np.array([0.5, 2.0]))
        assert list(zip(qi.tolist(), ii.tolist())) == [(0, 0)]


class TestGeometrics:
    def test_triangle_centroid(self):
        tri = np.array([[[0.0, 0.0], [6.0, 0.0], [0.0, 6.0]]])
        np.testing.assert_allclose(geometrics.triangle_centroids(tri)[0], [2.0, 2.0])

    def test_perimeter(self):
        tri = np.array([[[0.0, 0.0], [3.0, 0.0], [0.0, 4.0]]])
        assert geometrics.triangle_perimeters(tri)[0] == 12.0

    def test_ring_area(self):
        sq = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
        assert geometrics.ring_area(sq) == 100.0


class TestDelaunay:
    def test_square(self):
        pts = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]])
        tris = delaunay.triangulate(pts)
        assert tris.shape == (2, 3)
        # total area = 0.5 (x2)
        area = sum(abs(geometrics.ring_area(pts[t])) for t in tris)
        assert abs(area - 1.0) < 1e-12

    def test_delaunay_property(self):
        rng = np.random.RandomState(7)
        pts = rng.uniform(0, 100, size=(40, 2))
        tris = delaunay.triangulate(pts)
        # empty-circumcircle property for every triangle vs every point
        for t in tris:
            a, b, c = pts[t]
            ax, ay = a
            d = 2 * (a[0] * (b[1] - c[1]) + b[0] * (c[1] - a[1]) + c[0] * (a[1] - b[1]))
            ux = ((a @ a) * (b[1] - c[1]) + (b @ b) * (c[1] - a[1]) + (c @ c) * (a[1] - b[1])) / d
            uy = ((a @ a) * (c[0] - b[0]) + (b @ b) * (a[0] - c[0]) + (c @ c) * (b[0] - a[0])) / d
            r2 = (a[0] - ux) ** 2 + (a[1] - uy) ** 2
            dist2 = (pts[:, 0] - ux) ** 2 + (pts[:, 1] - uy) ** 2
            inside = dist2 < r2 - 1e-6 * r2
            inside[t] = False
            assert not inside.any()

    def test_area_covers_hull(self):
        rng = np.random.RandomState(3)
        pts = rng.uniform(0, 10, size=(25, 2))
        tris = delaunay.triangulate(pts)
        total = sum(abs(geometrics.ring_area(pts[t])) for t in tris)
        assert total > 0

    def test_degenerate_raises(self):
        with pytest.raises(ValueError):
            delaunay.triangulate(np.array([[0.0, 0.0], [1.0, 1.0]]))
        with pytest.raises(ValueError):
            delaunay.triangulate(np.array([[0.0, 0.0], [1.0, 1.0], [2.0, 2.0], [3.0, 3.0]]))

    def test_duplicates_tolerated(self):
        pts = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [1.0, 1.0], [0.0, 1.0]])
        tris = delaunay.triangulate(pts)
        assert tris.shape[1] == 3 and tris.max() < 5

    def test_deterministic(self):
        rng = np.random.RandomState(11)
        pts = rng.uniform(0, 1, size=(30, 2))
        t1 = delaunay.triangulate(pts)
        t2 = delaunay.triangulate(pts.copy())
        np.testing.assert_array_equal(t1, t2)


class TestS2:
    def test_token_roundtrip_shape(self):
        cid = s2.cellid_from_latlng(np.array([45.0]), np.array([-111.0]))[0]
        t = s2.token(cid)
        assert 1 <= len(t) <= 16
        assert int(t.ljust(16, "0"), 16) == int(cid)

    def test_leaf_level(self):
        cid = s2.cellid_from_latlng(np.array([45.0]), np.array([-111.0]))
        assert s2.level_of(cid)[0] == 30

    def test_parent_contains_child(self):
        cid = s2.cellid_from_latlng(np.array([45.0]), np.array([-111.0]))
        for lvl in (0, 5, 12, 29):
            p = s2.parent_at(cid, lvl)
            assert s2.level_of(p)[0] == lvl
            # child id lies within parent's [rangeMin, rangeMax]
            lsb_p = int(s2.lsb(p)[0])
            lo = int(p[0]) - lsb_p + 1
            hi = int(p[0]) + lsb_p - 1
            assert lo <= int(cid[0]) <= hi

    def test_nearby_points_share_parent(self):
        a = s2.cellid_from_latlng(np.array([45.0]), np.array([-111.0]))
        b = s2.cellid_from_latlng(np.array([45.0001]), np.array([-111.0001]))
        assert int(s2.parent_at(a, 10)[0]) == int(s2.parent_at(b, 10)[0])
        far = s2.cellid_from_latlng(np.array([-20.0]), np.array([60.0]))
        assert int(s2.parent_at(a, 5)[0]) != int(s2.parent_at(far, 5)[0])

    def test_face_centers(self):
        # face centers map to face cells: (0,0) is on face 0
        cid = s2.cellid_from_latlng(np.array([0.0]), np.array([0.0]))
        assert int(cid[0]) >> s2.POS_BITS == 0
        # (0, 90) -> face 1; north pole -> face 2
        assert int(s2.cellid_from_latlng(np.array([0.0]), np.array([90.0]))[0]) >> s2.POS_BITS == 1
        assert int(s2.cellid_from_latlng(np.array([90.0]), np.array([0.0]))[0]) >> s2.POS_BITS == 2

    def test_face_ij_roundtrip(self):
        cid = int(s2.cellid_from_latlng(np.array([41.85]), np.array([-87.65]))[0])
        f, i, j = s2.face_ij_of(cid)
        back = int(s2.cellid_from_face_ij(np.array([f]), np.array([i]), np.array([j]))[0])
        assert back == cid

    def test_vertex_neighbors(self):
        cid = int(s2.cellid_from_latlng(np.array([41.85]), np.array([-87.65]))[0])
        vn = s2.vertex_neighbors([cid], 10)[0]
        assert len(vn) in (3, 4)
        assert len(set(vn)) == len(vn)
        for v in vn:
            assert s2.level_of(np.array([v], dtype=np.uint64))[0] == 10
        # the cell's own ancestor is among them
        assert int(s2.parent_at(np.array([cid], dtype=np.uint64), 10)[0]) in vn

    def test_vertex_neighbors_on_face_edges(self):
        """Leaves on cube edges and corners, where neighbours leave the
        face (FromFaceIJWrap; a corner row has 3 cells), at every level
        0-29, against the scalar twin."""
        import s2_reference_impl as ref

        rng = np.random.default_rng(17)
        n, m = 3000, s2.MAX_SIZE
        edge = np.array([0, 1, m - 2, m - 1])
        f = rng.integers(0, 6, n)
        i, j = rng.integers(0, m, n), rng.integers(0, m, n)
        kind = np.arange(n) % 3  # i on an edge, j on an edge, or both (corner)
        i = np.where(kind != 1, edge[rng.integers(0, 4, n)], i)
        j = np.where(kind != 0, edge[rng.integers(0, 4, n)], j)
        cids = s2.cellid_from_face_ij(f, i, j)
        levels = np.arange(n) % 30
        got = s2.vertex_neighbors(cids, levels)
        want = [ref.vertex_neighbors_s(int(c), int(lv)) for c, lv in zip(cids, levels)]
        assert got == want
        assert {len(cells) for cells in got} == {3, 4}

    def test_covering_quirk(self):
        from convert_spark.kernels import dem as demk

        # small bbox near Bozeman in 3857
        mx, my = mercator.to3857(np.array([-111.1, -110.9]), np.array([45.6, 45.7]))
        toks = s2.s2covering_tokens(mx[0], my[0], mx[1], my[1], demk.get_elev)
        assert 1 <= len(toks) <= 6
        for t in toks:
            assert 1 <= len(t) <= 8
        # deterministic
        assert toks == s2.s2covering_tokens(mx[0], my[0], mx[1], my[1], demk.get_elev)

    def test_covering_empty_bbox(self):
        # emptiness is signalled with NaN (an all-zero bbox is a real
        # single-point-at-origin dataset and DOES get a covering)
        assert s2.s2covering_tokens(float("nan"), 0.0, 0.0, 0.0, lambda x, y: np.zeros_like(x)) == []
        # elevation failure -> empty covering (GetElev error path)
        assert s2.s2covering_tokens(1.0, 1.0, 2.0, 2.0, lambda x, y: np.full_like(x, np.nan)) == []


class TestS2CoveringBatch:
    def test_batch_matches_scalar(self):
        """The batch kernel against the scalar twin's full covering chain."""
        import s2_reference_impl as ref

        from convert_spark.kernels import dem as demk

        rng = np.random.RandomState(3)
        lon = rng.uniform(-179, 179, 300)
        lat = rng.uniform(-80, 80, 300)
        spans = rng.choice([0.0, 0.01, 0.5, 5.0, 60.0], size=300)
        x1, y1 = mercator.to3857(lon, lat)
        x2, y2 = mercator.to3857(np.minimum(lon + spans, 180.0), np.minimum(lat + spans, 85.0))
        batch = s2.s2covering_tokens_batch(x1, y1, x2, y2, demk.get_elev)
        for i in range(300):
            scalar = ref.covering_tokens_s(float(x1[i]), float(y1[i]), float(x2[i]), float(y2[i]))
            assert batch[i] == scalar, (i, lon[i], lat[i], spans[i])

    def test_batch_handles_nan_rows(self):
        from convert_spark.kernels import dem as demk

        out = s2.s2covering_tokens_batch(
            np.array([np.nan, 100.0]), np.array([0.0, 200.0]),
            np.array([1.0, 300.0]), np.array([1.0, 300.0]), demk.get_elev,
        )
        assert out[0] == [] and len(out[1]) >= 1

    def test_batch_throughput(self):
        import time

        from convert_spark.kernels import dem as demk

        rng = np.random.RandomState(1)
        lon = rng.uniform(-170, 170, 5000)
        lat = rng.uniform(-70, 70, 5000)
        x1, y1 = mercator.to3857(lon, lat)
        x2, y2 = mercator.to3857(lon + 0.3, lat + 0.3)
        t0 = time.time()
        s2.s2covering_tokens_batch(x1, y1, x2, y2, demk.get_elev)
        per_row_ms = (time.time() - t0) / 5000 * 1e3
        assert per_row_ms < 0.3, f"batch covering too slow: {per_row_ms:.3f} ms/row"


class TestS2BoundParity:
    """Pins the golang/geo chain semantics the round-2 fix introduced:
    Ilogb MaxLevel rounding, unscaled cap radius, RectBounder edge latitude
    extrema, and Loop pole containment."""

    def test_min_width_max_level_ilogb(self):
        # Go: level = -Ilogb(val/deriv), i.e. the CEIL of log2(deriv/val)
        # for non-power ratios — one deeper than naive floor
        d = s2._MIN_WIDTH_DERIV
        assert s2._min_width_max_level(0.2 * d) == 3     # ilogb(0.2) = -3
        assert s2._min_width_max_level(0.125 * d) == 3   # exact power
        assert s2._min_width_max_level(0.124 * d) == 4
        assert s2._min_width_max_level(0.126 * d) == 3
        assert s2._min_width_max_level(0.0) == 30
        assert s2._min_width_max_level(2.0 * d) == 0     # clamped at 0
        # vectorized path agrees
        vals = np.array([0.2, 0.125, 0.124, 0.126, 2.0]) * d
        assert list(s2._min_width_max_level(vals)) == [3, 3, 4, 3, 0]

    def test_cap_radius_unscaled(self, monkeypatch):
        # Cap.CellUnionBound passes radius UNSCALED to MaxLevel (the round-1
        # bug used the diameter): a cap of radius r must cover at
        # MaxLevel(r)-1, not MaxLevel(2r)-1 — one level deeper. The cap is
        # pinned so the covering tail of the batch kernel sees exactly r.
        r = 0.124 * s2._MIN_WIDTH_DERIV
        monkeypatch.setattr(
            s2, "_loop_cap_batch", lambda raw: (np.array([[1.0, 0.0, 0.0]]), np.array([r]))
        )
        toks = s2.s2covering_tokens(1.0, 1.0, 2.0, 2.0, lambda x, y: np.zeros_like(x))
        cells = np.array([int(t.ljust(16, "0"), 16) for t in toks], dtype=np.uint64)
        assert set(s2.level_of(cells).tolist()) == {s2._min_width_max_level(r) - 1} == {3}

    def test_bound_contains_edge_interiors(self):
        # The old vertex-rect bound missed latitude extrema attained in the
        # interior of near-pole edges; the cap must contain sampled points
        # along every great-circle edge.
        rng = np.random.RandomState(7)
        lon = rng.uniform(-179, 179, 50)
        lat = rng.uniform(-80, 80, 50)
        dlon = rng.uniform(0.1, 40, 50)
        dlat = rng.uniform(0.1, 20, 50)
        z = rng.uniform(0, 4000, 50)  # high z -> near-pole quirky loops
        corners = np.stack([
            np.stack([lon + dlon, lat + dlat, z], axis=1),
            np.stack([lon, lat + dlat, z], axis=1),
            np.stack([lon, lat, z], axis=1),
            np.stack([lon + dlon, lat, z], axis=1),
        ], axis=1)
        centers, radii = s2._loop_cap_batch(corners)
        pts = s2._normalize_points(corners)
        verts = np.concatenate([pts, pts[:, :1, :]], axis=1)
        for t in np.linspace(0.0, 1.0, 9):
            m = (1 - t) * verts[:, :-1, :] + t * verts[:, 1:, :]
            m = m / np.linalg.norm(m, axis=2, keepdims=True)
            ang = np.arccos(np.clip((m * centers[:, None, :]).sum(axis=2), -1, 1))
            assert (ang <= radii[:, None] + 1e-9).all()

    def test_edge_extrema_widen_bound(self):
        # adversarial case: wide-longitude near-pole loop — the max latitude
        # along the edges exceeds every vertex latitude, so the full
        # RectBounder cap must be wider than the naive vertex-rect cap
        corners = np.array([[
            [60.0, 10.0, 3000.0],
            [-60.0, 10.0, 3000.0],
            [-60.0, -10.0, 3000.0],
            [60.0, -10.0, 3000.0],
        ]])
        centers, radii = s2._loop_cap_batch(corners)
        pts = s2._normalize_points(corners)[0]
        # edge midpoint of the (60,10)->(-60,10) edge sits closer to the
        # pole than any vertex — i.e. attains a higher z (latitude)
        mid = pts[0] + pts[1]
        mid = mid / np.linalg.norm(mid)
        assert mid[2] > pts[:, 2].max()
        ang = float(np.arccos(np.clip(mid @ centers[0], -1, 1)))
        assert ang <= radii[0] + 1e-12  # old vertex-rect bound violated this

    def test_pole_containment_six_faces(self):
        # bbox straddling lon=0 AND lat=0 with positive elevation: the quirky
        # loop encloses the +z pole -> Loop.initBound full-lng rect -> cap
        # spans a hemisphere -> 6 face cells
        elev = lambda x, y: np.full_like(np.asarray(x, dtype=np.float64), 500.0)
        toks = s2.s2covering_tokens(-111319.0, -111325.0, 111319.0, 111325.0, elev)
        assert toks == ["1", "3", "5", "7", "9", "b"]

    def test_flat_bbox_no_pole_containment(self):
        # degenerate (zero-height) bbox through (0,0): the loop is an
        # out-and-back slit with no interior -> NOT pole-containing
        elev = lambda x, y: np.full_like(np.asarray(x, dtype=np.float64), 500.0)
        toks = s2.s2covering_tokens(-111319.0, 0.0, 111319.0, 0.0, elev)
        assert len(toks) == 4

    def test_zero_vector_corner_uses_origin_point(self):
        # PointFromCoords(0,0,0) -> s2.OriginPoint(): a (0,0) bbox at z=0
        # must produce the covering of OriginPoint, not NaN
        elev = lambda x, y: np.zeros_like(np.asarray(x, dtype=np.float64))
        toks = s2.s2covering_tokens(0.0, 0.0, 0.0, 0.0, elev)
        assert len(toks) == 4 and all(t == toks[0] for t in toks)


class TestS2CrossValidation:
    """Two independent clean-room implementations of the golang/geo bound
    chain must agree: the vectorized production kernel
    (convert_spark.kernels.s2._loop_cap_batch + level math) vs the naive
    per-edge scalar transliteration in tests/s2_reference_impl.py. This is
    the strongest parity evidence available without a Go toolchain — it
    addresses the 'self-pinned goldens' concern by construction."""

    def _random_corners(self, n, seed):
        rng = np.random.RandomState(seed)
        lon = rng.uniform(-179, 179, n)
        lat = rng.uniform(-84, 84, n)
        dlon = rng.choice([0.0, 0.001, 0.1, 2.0, 30.0, 120.0], size=n)
        dlat = rng.choice([0.0, 0.001, 0.1, 2.0, 20.0], size=n)
        z = rng.choice([0.0, 1.0, 150.0, 1300.0, 8000.0], size=n)
        return np.stack(
            [
                np.stack([lon + dlon, lat + dlat, z], axis=1),
                np.stack([lon, lat + dlat, z], axis=1),
                np.stack([lon, lat, z], axis=1),
                np.stack([lon + dlon, lat, z], axis=1),
            ],
            axis=1,
        )

    def test_cap_and_level_agree_on_random_loops(self):
        import s2_reference_impl as ref

        corners = self._random_corners(2000, seed=11)
        centers, radii = s2._loop_cap_batch(corners)
        lvls = np.asarray(s2._min_width_max_level(radii), dtype=np.int64) - 1
        for i in range(len(corners)):
            lvl_ref, center_ref = ref.covering_level([tuple(c) for c in corners[i]])
            assert lvl_ref == int(lvls[i]), (i, corners[i], lvl_ref, int(lvls[i]))
            if lvl_ref >= 0:
                # same cap center (the covering cell comes from it)
                np.testing.assert_allclose(centers[i], np.asarray(center_ref), atol=1e-12)

    def test_tokens_agree_end_to_end(self):
        import s2_reference_impl as ref

        corners = self._random_corners(300, seed=23)
        centers, radii = s2._loop_cap_batch(corners)
        lvls = np.asarray(s2._min_width_max_level(radii), dtype=np.int64) - 1
        for i in range(len(corners)):
            lvl_ref, center_ref = ref.covering_level([tuple(c) for c in corners[i]])
            if lvl_ref < 0:
                cells_ref = [(f << s2.POS_BITS) | (1 << (s2.POS_BITS - 1)) for f in range(6)]
            else:
                cells_ref = ref.vertex_neighbors_s(ref.leaf_from_point(center_ref), lvl_ref)
            if int(lvls[i]) < 0:
                cells_got = [(f << s2.POS_BITS) | (1 << (s2.POS_BITS - 1)) for f in range(6)]
            else:
                leaf = s2.cellid_from_point(centers[i].reshape(1, 3))
                cells_got = s2.vertex_neighbors(leaf, int(lvls[i]))[0]
            assert [s2.token(c)[:8] for c in cells_got] == [s2.token(c)[:8] for c in cells_ref]


class TestS2PolarAdversarial:
    """Round-4: adversarial near-pole / pole-enclosing / degenerate loops.

    The declared deviation (s2.py "Documented deviations"): pole
    containment uses a centroid-probe crossing-parity test in plain
    double arithmetic. Two independent checks here:

    1. END-TO-END: vectorized kernel vs the scalar twin on thousands of
       adversarial corner quads (the quirky raw (lon, lat, z) chain, so a
       "pole-enclosing" loop means corners WINDING around the z axis —
       small lon/lat against a large z).
    2. EXACT PREDICATES: the kernel's float containment signs re-derived
       in exact rational arithmetic (fractions.Fraction — float inputs
       are exact rationals, so every determinant sign is exact, the same
       guarantee golang/geo's exact predicate fallback provides). Any
       float/exact disagreement would be a robustness bug to fix.
    """

    @staticmethod
    def _adversarial_corners() -> np.ndarray:
        quads = []
        # pole-enclosing: corners wind around the z axis at radius r
        for r in (1e-6, 1e-3, 0.01, 1.0, 30.0):
            for z in (1.0, 150.0, 8000.0):
                for phase in (0.0, 0.4):
                    for sign in (1.0, -1.0):  # north / south winding
                        ring = [
                            (r * math.cos(t + phase), r * math.sin(t + phase), sign * z)
                            for t in (0.0, math.pi / 2, math.pi, 3 * math.pi / 2)
                        ]
                        quads.append(ring)          # CCW seen from +z
                        quads.append(ring[::-1])    # reversed winding
        # near-pole slivers: tiny bboxes with huge z (near-identical fallback)
        rng = np.random.RandomState(31)
        for _ in range(600):
            lon = float(rng.uniform(-0.01, 0.01))
            lat = float(rng.uniform(-0.01, 0.01))
            dlon = float(rng.choice([0.0, 1e-9, 1e-5, 1e-3]))
            dlat = float(rng.choice([0.0, 1e-9, 1e-5]))
            z = float(rng.choice([100.0, 8000.0, 1e6]))
            quads.append([
                (lon + dlon, lat + dlat, z), (lon, lat + dlat, z),
                (lon, lat, z), (lon + dlon, lat, z),
            ])
        # antipodal-ish pairs and degenerate collapses
        for z in (5.0, 500.0):
            quads.append([(1.0, 0.0, z), (-1.0, 0.0, z), (1.0, 0.0, z), (-1.0, 0.0, z)])
            quads.append([(0.0, 0.0, z)] * 4)                      # single point
            quads.append([(0.0, 0.0, 0.0)] * 4)                    # OriginPoint mapping
            quads.append([(1.0, 1.0, z), (1.0, 1.0, z), (-1.0, -1.0, z), (-1.0, -1.0, z)])
        # random wide quads crossing hemispheres
        for _ in range(800):
            quads.append([tuple(rng.uniform(-50, 50, 3)) for _ in range(4)])
        return np.asarray(quads, dtype=np.float64)

    def test_tokens_agree_on_adversarial_loops(self):
        import s2_reference_impl as ref

        corners = self._adversarial_corners()
        centers, radii = s2._loop_cap_batch(corners)
        lvls = np.asarray(s2._min_width_max_level(radii), dtype=np.int64) - 1
        face_cells = [(f << s2.POS_BITS) | (1 << (s2.POS_BITS - 1)) for f in range(6)]
        for i in range(len(corners)):
            lvl_ref, center_ref = ref.covering_level([tuple(c) for c in corners[i]])
            if lvl_ref < 0:
                cells_ref = face_cells
            else:
                cells_ref = ref.vertex_neighbors_s(ref.leaf_from_point(center_ref), lvl_ref)
            if int(lvls[i]) < 0:
                cells_got = face_cells
            else:
                leaf = s2.cellid_from_point(centers[i].reshape(1, 3))
                cells_got = s2.vertex_neighbors(leaf, int(lvls[i]))[0]
            assert [s2.token(c)[:8] for c in cells_got] == [
                s2.token(c)[:8] for c in cells_ref
            ], (i, corners[i].tolist())

    @staticmethod
    def _exact_contains(verts_row, p) -> bool:
        """Exact-rational recomputation of _loops_contain_point for ONE
        closed chain: same algorithm, every determinant sign exact."""
        from fractions import Fraction as Fr

        def fr(v):
            return (Fr(float(v[0])), Fr(float(v[1])), Fr(float(v[2])))

        def cross(a, b):
            return (
                a[1] * b[2] - a[2] * b[1],
                a[2] * b[0] - a[0] * b[2],
                a[0] * b[1] - a[1] * b[0],
            )

        def dot(a, b):
            return a[0] * b[0] + a[1] * b[1] + a[2] * b[2]

        vs = [fr(v) for v in verts_row]
        pe = fr(p)
        cen = tuple(sum(v[i] for v in vs[:-1]) for i in range(3))
        if cen == (0, 0, 0):
            return False
        edges = list(zip(vs[:-1], vs[1:]))
        dets = [dot(cross(a, b), cen) for a, b in edges]
        cen_inside = sum(dets) > 0
        # zero-area guard (same rule as the kernel, exact): reference
        # plane from the first NON-colinear vertex pair, so a repeated or
        # colinear leading pair can't fake a zero plane (ADVICE r5)
        plane = None
        for v in vs[1:-1]:
            cand = cross(vs[0], v)
            if cand != (0, 0, 0):
                plane = cand
                break
        if plane is None:
            return False
        if all(dot(plane, v) == 0 for v in vs[:-1]):
            return False
        crossings = 0
        for a, b in edges:
            ab = cross(cen, pe)
            acb = -dot(ab, a)
            bda = dot(ab, b)
            cd = cross(a, b)
            cbd = -dot(cd, pe)
            dac = dot(cd, cen)
            if acb * bda > 0 and acb * cbd > 0 and cbd * dac > 0 and dac * bda > 0:
                crossings += 1
        even = crossings % 2 == 0
        return even if cen_inside else not even

    def test_pole_containment_matches_exact_predicates(self):
        corners = self._adversarial_corners()
        pts = s2._normalize_points(corners)
        verts = np.concatenate([pts, pts[:, :1, :]], axis=1)
        for pole in (np.array([0.0, 0.0, 1.0]), np.array([0.0, 0.0, -1.0])):
            got = s2._loops_contain_point(verts, pole)
            for i in range(len(verts)):
                exact = self._exact_contains(verts[i], pole)
                assert bool(got[i]) == exact, (i, corners[i].tolist(), pole.tolist())

    def test_exact_path_colinear_leading_pair_keeps_area(self):
        """ADVICE r5 regression: a loop whose FIRST TWO vertices are
        repeated (cross = zero vector) but which spans genuine area must
        not be classified zero-area by the exact predicate. Octant
        triangle with a doubled first vertex: contains (1,1,1)/sqrt(3),
        excludes the antipodal probe."""
        chain = np.array(
            [
                [1.0, 0.0, 0.0],
                [1.0, 0.0, 0.0],  # repeated -> cross(v0, v1) == 0
                [0.0, 1.0, 0.0],
                [0.0, 0.0, 1.0],
                [1.0, 0.0, 0.0],  # closure
            ]
        )
        inside = np.array([1.0, 1.0, 1.0]) / math.sqrt(3.0)
        outside = np.array([-1.0, -2.0, -3.0]) / math.sqrt(14.0)
        assert s2._exact_contains_scalar(chain, inside) is True
        assert s2._exact_contains_scalar(chain, outside) is False
        # and the vectorized entry point routes it consistently
        got = s2._loops_contain_point(chain[None, :, :], inside)
        assert bool(got[0]) is True

    def test_truly_zero_area_chains_contain_nothing(self):
        """All-colinear chains (every vertex on one line through the
        origin) and out-and-back slits still contain nothing under the
        fixed reference-plane scan."""
        p = np.array([0.0, 0.0, 1.0])
        colinear = np.array([[1.0, 0.0, 0.0]] * 5)
        assert s2._exact_contains_scalar(colinear, p) is False
        slit = np.array(
            [
                [1.0, 0.0, 0.0],
                [0.0, 1.0, 0.0],
                [1.0, 0.0, 0.0],
                [0.0, 1.0, 0.0],
                [1.0, 0.0, 0.0],
            ]
        )
        assert s2._exact_contains_scalar(slit, p) is False

    def test_band_routes_near_tie_rows_to_exact(self):
        """Sub-band determinant magnitudes (nonzero, below ~4*3.2321*eps)
        must take the exact path, not trust the double sign. Build
        slivers whose vertices sit within an ulp of a great-circle plane
        and assert the vectorized answer equals the exact recomputation
        for every row and both poles."""
        eps = 2.220446049250313e-16
        rng = np.random.RandomState(7)
        quads = []
        for _ in range(300):
            lon = float(rng.uniform(-1.0, 1.0))
            # quad squashed onto the meridian plane, then nudged by ~1 ulp
            base = [
                (lon, -0.5, 100.0),
                (lon, 0.5, 100.0),
                (lon + rng.choice([0.0, eps, 4 * eps]), 0.5, 100.0),
                (lon + rng.choice([0.0, eps, 4 * eps]), -0.5, 100.0),
            ]
            quads.append(base)
        corners = np.asarray(quads, dtype=np.float64)
        pts = s2._normalize_points(corners)
        verts = np.concatenate([pts, pts[:, :1, :]], axis=1)
        for pole in (np.array([0.0, 0.0, 1.0]), np.array([0.0, 0.0, -1.0])):
            got = s2._loops_contain_point(verts, pole)
            for i in range(len(verts)):
                exact = self._exact_contains(verts[i], pole)
                assert bool(got[i]) == exact, (i, corners[i].tolist())


class TestS2SinglePointFastPath:
    """``_loops_contain_point`` decides chains of one repeated vertex (the
    corners of a single-point bbox) as "contains nothing" without the
    rational path. Equivalence against the shape it replaced, where every
    such chain went to ``_exact_contains_scalar``: identical tokens on a
    corpus that is mostly single-point boxes, identical to the scalar
    reference twin, and no single-point chain reaching the rational path."""

    N = 1200

    @classmethod
    def _corpus(cls):
        """Seeded EPSG:3857 bboxes: >= half single-point (lx == rx,
        ly == uy), then sub-metre, 1e-9 m, polar, antimeridian and NaN
        boxes, and ordinary ones."""
        rng = np.random.RandomState(2024)
        n = cls.N
        x, y = mercator.to3857(rng.uniform(-179.9, 179.9, n), rng.uniform(-84, 84, n))
        w = np.zeros(n)
        h = np.zeros(n)
        kind = rng.permutation(["point"] * (n * 3 // 5) + ["submetre", "nano", "wide"] * (n // 5 + 1))[:n]
        w[kind == "submetre"] = rng.uniform(0.01, 0.99, (kind == "submetre").sum())
        h[kind == "submetre"] = rng.uniform(0.0, 0.99, (kind == "submetre").sum())
        w[kind == "nano"] = 1e-9
        h[kind == "nano"] = rng.choice([0.0, 1e-9], size=(kind == "nano").sum())
        w[kind == "wide"] = rng.uniform(1e3, 3e6, (kind == "wide").sum())
        h[kind == "wide"] = rng.uniform(1e3, 3e6, (kind == "wide").sum())
        lx, ly = x, y
        rx, uy = x + w, y + h
        extra = []
        half = 20037508.342789244  # EPSG:3857 half-extent (lon 180)
        for py in (3e7, -3e7, 6e7, -6e7):  # polar: lat ~89 and ~89.99
            extra += [(0.0, py, 0.0, py), (1e5, py, 1e5, py), (-1e3, py, 1e3, py + 0.5)]
        for ax in (half, -half, half - 1e-9):  # antimeridian
            extra += [(ax, 1e6, ax, 1e6), (ax - 0.3, -2e6, ax, -2e6 + 0.3), (-half, 0.0, half, 1e3)]
        extra += [(0.0, 0.0, 0.0, 0.0), (-0.0, 0.0, 0.0, -0.0)]  # origin, signed zeros
        nan = float("nan")
        extra += [(nan, 1.0, 1.0, 1.0), (1.0, nan, 1.0, 1.0), (nan, nan, nan, nan), (2.0, 2.0, 2.0, nan)]
        e = np.asarray(extra, dtype=np.float64)
        out = [np.concatenate([c, e[:, j]]) for j, c in enumerate((lx, ly, rx, uy))]
        single = (out[0] == out[2]) & (out[1] == out[3])
        assert single.mean() >= 0.5
        return out

    @staticmethod
    def _rational_path(fast):
        """The replaced shape: the same decision, with every single-point
        chain re-decided by ``_exact_contains_scalar``."""

        def contain(verts, p):
            inside = fast(verts, p)
            for i in np.flatnonzero((verts == verts[:, :1, :]).all(axis=(1, 2))):
                inside[i] = s2._exact_contains_scalar(verts[i], p)
            return inside

        return contain

    @staticmethod
    def _counting_exact(calls):
        exact = s2._exact_contains_scalar

        def counted(verts_row, p):
            calls.append(bool((verts_row == verts_row[0]).all()))
            return exact(verts_row, p)

        return counted

    @pytest.mark.parametrize("elev", ["dem", "flat"])
    def test_tokens_equal_rational_path(self, monkeypatch, elev):
        from convert_spark.kernels import dem as demk

        elev_fn = demk.get_elev if elev == "dem" else (lambda x, y: np.zeros_like(x))
        lx, ly, rx, uy = self._corpus()
        fast_calls, rational_calls = [], []
        with monkeypatch.context() as m:
            m.setattr(s2, "_exact_contains_scalar", self._counting_exact(fast_calls))
            fast = s2.s2covering_tokens_batch(lx, ly, rx, uy, elev_fn)
        with monkeypatch.context() as m:
            m.setattr(s2, "_loops_contain_point", self._rational_path(s2._loops_contain_point))
            m.setattr(s2, "_exact_contains_scalar", self._counting_exact(rational_calls))
            rational = s2.s2covering_tokens_batch(lx, ly, rx, uy, elev_fn)
        assert fast == rational
        # the corpus exercises the replaced branch, and the fast path never takes it
        assert sum(rational_calls) > self.N // 2
        assert not any(fast_calls)

    def test_tokens_equal_scalar_reference(self):
        import s2_reference_impl as ref

        from convert_spark.kernels import dem as demk

        lx, ly, rx, uy = self._corpus()
        got = s2.s2covering_tokens_batch(lx, ly, rx, uy, demk.get_elev)
        for i in range(lx.size):
            assert got[i] == ref.covering_tokens_s(lx[i], ly[i], rx[i], uy[i]), (i, lx[i], ly[i], rx[i], uy[i])

    def test_containment_equal_rational_path_per_row(self):
        """Per chain, both poles, including raw corners the covering never
        builds: the OriginPoint chain (all-zero corners), signed zeros and
        a NaN chain (unequal to itself, so it is not a single point)."""
        rng = np.random.RandomState(5)
        base = rng.uniform(-50, 50, (400, 1, 3))
        corners = np.repeat(base, 4, axis=1)
        corners[200:, 1:, :] += rng.choice([0.0, 1e-12, 1e-3], size=(200, 3, 3))
        special = np.array([[[0.0, 0.0, 0.0]] * 4, [[0.0, -0.0, 1.0], [-0.0, 0.0, 1.0]] * 2])
        pts = s2._normalize_points(np.concatenate([corners, special]))
        verts = np.concatenate([pts, pts[:, :1, :]], axis=1)
        rational = self._rational_path(s2._loops_contain_point)
        for pole in (np.array([0.0, 0.0, 1.0]), np.array([0.0, 0.0, -1.0])):
            np.testing.assert_array_equal(s2._loops_contain_point(verts, pole), rational(verts, pole))
            nan_chain = np.full((1, 5, 3), np.nan)
            np.testing.assert_array_equal(s2._loops_contain_point(nan_chain, pole), rational(nan_chain, pole))
