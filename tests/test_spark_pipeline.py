"""Spark integration tests: datagen determinism, expression/kernel parity,
extraction invariant, tile assignment, PIP join, per-tile datasets."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from convert_spark import datagen
from convert_spark.functions import exprs
from convert_spark.kernels import mercator, pip, quadkey
from convert_spark.operators import extract, joins, tiles

N_PAGES = 400


@pytest.fixture(scope="module")
def pages(spark):
    return datagen.webpages(spark, N_PAGES).cache()


@pytest.fixture(scope="module")
def mentions(spark, pages):
    return extract.extract_mentions(pages).cache()


class TestDatagen:
    def test_partitioning_invariance(self, spark):
        """Content must be a pure function of row id — identical under any
        parallelism (the BASELINE byte-identical invariant, at the source)."""
        a = datagen.webpages(spark, 100, partitions=1).orderBy("page_id").toPandas()
        b = datagen.webpages(spark, 100, partitions=13).orderBy("page_id").toPandas()
        pd.testing.assert_frame_equal(a, b)

    def test_matches_pandas_twin(self, spark):
        a = datagen.webpages(spark, 50).orderBy("page_id").toPandas().reset_index(drop=True)
        b = datagen.webpages_pdf(50)
        assert a["text"].tolist() == b["text"].tolist()
        assert a["url"].tolist() == b["url"].tolist()

    def test_polygons_layer(self, spark):
        p = datagen.polygons(spark).toPandas()
        assert (p["kind"] == "urban").sum() == 45
        assert (p["kind"] == "doughnut").sum() == 1


class TestExprKernelParity:
    def test_projection_parity(self, spark):
        rng = np.random.RandomState(0)
        lon = rng.uniform(-180, 180, 300)
        lat = rng.uniform(-85, 85, 300)
        pdf = pd.DataFrame({"lon": lon, "lat": lat})
        df = spark.createDataFrame(pdf)
        got = (
            df.select(
                exprs.to3857_x(F.col("lon"), F.col("lat")).alias("x"),
                exprs.to3857_y(F.col("lon"), F.col("lat")).alias("y"),
            )
            .toPandas()
        )
        kx, ky = mercator.to3857(lon, lat)
        np.testing.assert_allclose(got["x"], kx, rtol=0, atol=1e-9)
        np.testing.assert_allclose(got["y"], ky, rtol=0, atol=1e-9)

    def test_tile_parity(self, spark):
        rng = np.random.RandomState(1)
        lon = rng.uniform(-180, 180, 300)
        lat = rng.uniform(-85.05, 85.05, 300)
        pdf = pd.DataFrame({"lon": lon, "lat": lat})
        df = spark.createDataFrame(pdf)
        for zoom in (0, 1, 3, 8, 12, 16, 17, 20, 26, 30):  # >16: bits past int32
            got = tiles.with_tile(df, zoom).select("tile_x", "tile_y", "cell_id").toPandas()
            ktx, kty = quadkey.latlon_to_tile(lat, lon, zoom)
            # the kernel's cell_id caps at zoom 26; its interleave does not
            kcell = (np.int64(1) << (2 * zoom)) + quadkey._interleave(ktx, kty, zoom)
            if zoom <= quadkey.MAX_ZOOM:
                np.testing.assert_array_equal(quadkey.cell_id(lat, lon, zoom), kcell)
            np.testing.assert_array_equal(got["tile_x"], ktx)
            np.testing.assert_array_equal(got["tile_y"], kty)
            np.testing.assert_array_equal(got["cell_id"], kcell)

    def test_cell_decode_parity_deep_zoom(self, spark):
        """cell_tx/cell_ty decode the FULL kernel Morton range (zoom <= 26)
        since _compress_bits went 64-bit; the old 32-bit masks silently
        returned wrong tiles past zoom 16."""
        rng = np.random.RandomState(2)
        lon = rng.uniform(-180, 180, 200)
        lat = rng.uniform(-85.05, 85.05, 200)
        for zoom in (12, 16, 17, 20, 26):
            kcell = quadkey.cell_id(lat, lon, zoom)
            kz, ktx, kty = quadkey.cell_to_tile(kcell)
            df = spark.createDataFrame(pd.DataFrame({"cell": kcell}))
            got = df.select(
                exprs.cell_zoom(F.col("cell")).alias("z"),
                exprs.cell_tx(F.col("cell")).alias("tx"),
                exprs.cell_ty(F.col("cell")).alias("ty"),
            ).toPandas()
            np.testing.assert_array_equal(got["z"], kz)
            np.testing.assert_array_equal(got["tx"], ktx)
            np.testing.assert_array_equal(got["ty"], kty)


class TestFencedSchemas:
    """with_tile and extract_mentions route their computed columns through
    session.fence: names, order, types and nullability are those of the
    plain withColumn chain they replaced, and so are the rows; the
    normalize_points schema over a fenced extract is unchanged too."""

    @staticmethod
    def fields(df):
        return [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema.fields]

    def test_with_tile_equals_withcolumn_chain(self, spark):
        plain = spark.createDataFrame([(1.5, -2.25, "a"), (None, 170.0, "b")], "lat double, lon double, k string")
        # carries the output names already: the chain replaced them in place
        carried = spark.createDataFrame(
            [(1, 1.5, -2.25, 4, "5", 6.0, "a")],
            "zoom int, lat double, lon double, tile_x int, cell_id string, tile_y double, k string",
        )
        for df in (plain, carried):
            got = tiles.with_tile(df, 12)
            want = (
                df.withColumn("zoom", F.lit(12))
                .withColumn("tile_x", exprs.tile_x(F.col("lon").cast("double"), 12))
                .withColumn("tile_y", exprs.tile_y(F.col("lat").cast("double"), 12))
                .withColumn("cell_id", exprs.morton_cell(F.col("tile_x"), F.col("tile_y"), 12))
            )
            assert self.fields(got) == self.fields(want)
            assert sorted(got.collect(), key=str) == sorted(want.collect(), key=str)
        assert [n for n, _, _ in self.fields(tiles.with_tile(carried, 12))] == [
            "zoom", "lat", "lon", "tile_x", "cell_id", "tile_y", "k"
        ]

    def test_extract_and_normalize_schemas(self, spark, pages):
        head = [
            ("url", "string", True),
            ("warc_ts", "timestamp", True),
            ("lang", "string", True),
            ("page_id", "bigint", True),
            ("mention_idx", "int", False),
            ("lat", "double", True),
            ("lon", "double", True),
        ]
        xy = [("x", "double", True), ("y", "double", True)]
        m = extract.extract_mentions(pages)
        assert self.fields(m) == head
        assert self.fields(extract.normalize_points(m)) == head + xy + [("z", "double", True)]
        assert self.fields(extract.normalize_points(m, fill_z_from_dem=False)) == head + xy + [("z", "double", False)]
        # a z column already present is replaced in place, ahead of x/y
        zin = m.withColumn("z", F.lit(1.0))
        assert self.fields(extract.normalize_points(zin, z_col="z")) == head + [("z", "double", False)] + xy


class TestExtraction:
    def test_extraction_invariant_across_parallelism(self, spark):
        """BASELINE invariant: extracted output identical per url at
        different parallelism levels."""
        p1 = datagen.webpages(spark, 200, partitions=2)
        p2 = datagen.webpages(spark, 200, partitions=16)
        a = extract.extract_mentions(p1).orderBy("page_id", "mention_idx").toPandas()
        b = extract.extract_mentions(p2).orderBy("page_id", "mention_idx").toPandas()
        pd.testing.assert_frame_equal(a, b)

    def test_extraction_matches_generator(self, spark, mentions):
        """Every generated mention must round-trip through text extraction."""
        got = mentions.toPandas().sort_values(["page_id", "mention_idx"]).reset_index(drop=True)
        ids = np.arange(N_PAGES, dtype=np.uint64)
        n_mentions = datagen._randint(ids, 3, 4)
        assert len(got) == int(n_mentions.sum())
        # mentions are inserted at arbitrary text positions, so compare the
        # per-page coordinate SET (printed-precision exact)
        for pid in (0, 1, 7, 123, N_PAGES - 1):
            k = int(n_mentions[pid])
            expect = []
            rid = np.array([pid], dtype=np.uint64)
            for m in range(k):
                la, lo = datagen.mention_latlon(rid, m)
                fmt = int(datagen._randint(rid, 2000 + m, 2)[0])
                prec = 5 if fmt == 0 else 4
                expect.append((float(f"{la[0]:.{prec}f}"), float(f"{lo[0]:.{prec}f}")))
            sub = got[got.page_id == pid][["lat", "lon"]].itertuples(index=False)
            assert sorted(tuple(t) for t in sub) == sorted(expect)

    def test_sql_and_arrow_paths_identical(self, spark, pages):
        """The Catalyst-compiled extraction (regexp_extract_all, default)
        and the Arrow kernel (textkit.extract_coords, the semantic
        definition) must produce byte-identical outputs — same rows, same
        mention order, same parsed doubles."""
        cols = ["page_id", "mention_idx", "url", "lang", "lat", "lon"]
        a = (
            extract.extract_mentions(pages, impl="sql")
            .orderBy("page_id", "mention_idx")
            .toPandas()[cols]
            .reset_index(drop=True)
        )
        b = (
            extract.extract_mentions(pages, impl="arrow")
            .orderBy("page_id", "mention_idx")
            .toPandas()[cols]
            .reset_index(drop=True)
        )
        assert len(a) > 0
        pd.testing.assert_frame_equal(a, b)

    def test_sql_and_arrow_paths_identical_adversarial(self, spark):
        """Engine-divergence traps: Unicode digits (Python \\d would match,
        Java \\d would not — both pinned to [0-9]), adjacent/overlapping
        forms, integer-only lat/lon, signs, empties, NULL text, multiple
        mentions, 17-significant-digit doubles (both engines must round
        identically), and a geo: form embedded mid-word."""
        texts = [
            "geo:45.63793,-111.02543 plain",
            "lat 45.6379 lon -111.0254",
            "lat 45 lon -111 integer form",
            "geo:٤٥.٢,١.٣ unicode digits must NOT match",
            "geo:1.5,2.5 lat 3.25 lon 4.75 both forms",
            "geo:1.5,2.5geo:9.25,8.5 adjacent",
            "lat 1.0 lon 2.0 lat 3.0 lon 4.0",
            "xgeo:7.5,8.5 embedded still matches",
            "geo:-0.00001,0.00001 tiny",
            "geo:45.123456789012345,-111.98765432109876 17 digits",
            "lat 45. lon 111 trailing dot does not match full form",
            "geo:45,111 no decimals does not match",
            "",
            None,
            "no coordinates here at all",
            "lat  45.0 lon 2.0 double space does not match",
            "geo:45.5,-111.5 then text then lat 7.125 lon -8.25 then geo:1.125,2.25",
        ]
        pdf = pd.DataFrame(
            {
                "url": [f"u{i}" for i in range(len(texts))],
                "warc_ts": pd.Timestamp("2026-01-01"),
                "lang": "en",
                "page_id": np.arange(len(texts), dtype=np.int64),
                "text": texts,
            }
        )
        df = spark.createDataFrame(pdf)
        a = (
            extract.extract_mentions(df, impl="sql")
            .orderBy("page_id", "mention_idx")
            .toPandas()
            .reset_index(drop=True)
        )
        b = (
            extract.extract_mentions(df, impl="arrow")
            .orderBy("page_id", "mention_idx")
            .toPandas()
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(a, b)
        # spot-check semantics, not just agreement
        by_page = a.groupby("page_id").size()
        assert by_page.get(3, 0) == 0  # unicode digits rejected
        assert by_page.get(4) == 2 and by_page.get(5) == 2
        assert by_page.get(16) == 3
        row = a[a.page_id == 9].iloc[0]
        assert row["lat"] == float("45.123456789012345")

    def test_html_pruned_from_scan(self, spark, tmp_path):
        """Column pruning must reach the parquet scan: the wide ``html``
        binary column is never read by the extraction stage."""
        path = str(tmp_path / "pages.parquet")
        datagen.webpages(spark, 50).write.mode("overwrite").parquet(path)
        plan = (
            extract.extract_mentions(spark.read.parquet(path))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        read_schema = [ln.split("ReadSchema:")[1] for ln in plan.splitlines() if "ReadSchema:" in ln]
        assert read_schema and "html" not in read_schema[0]
        assert "text:string" in read_schema[0]


class TestPipJoin:
    def test_matches_kernel(self, spark, mentions):
        polys = datagen.polygons_pdf()
        got = (
            joins.pip_join(mentions, polys)
            .select("page_id", "mention_idx", "poly_id")
            .toPandas()
            .sort_values(["page_id", "mention_idx", "poly_id"])
            .reset_index(drop=True)
        )
        m = mentions.toPandas()
        expect = []
        for _, poly in polys.iterrows():
            inside = pip.point_in_multipolygon(
                m["lon"].to_numpy(), m["lat"].to_numpy(), [poly["rings"]]
            )
            for i in np.where(inside)[0]:
                expect.append((int(m["page_id"].iat[i]), int(m["mention_idx"].iat[i]), int(poly["poly_id"])))
        expect = pd.DataFrame(expect, columns=["page_id", "mention_idx", "poly_id"]).sort_values(
            ["page_id", "mention_idx", "poly_id"]
        ).reset_index(drop=True)
        pd.testing.assert_frame_equal(got.astype("int64"), expect.astype("int64"))
        assert len(got) > 0  # hot clusters guarantee matches

    def test_left_join_keeps_unmatched(self, spark, mentions):
        polys = datagen.polygons_pdf()
        total = mentions.count()
        left = joins.pip_join(mentions, polys, how="left")
        unmatched = left.filter(F.col("poly_id").isNull()).count()
        matched_rows = left.filter(F.col("poly_id").isNotNull()).count()
        inner = joins.pip_join(mentions, polys).count()
        assert matched_rows == inner
        assert unmatched > 0  # uniform-globe mentions mostly miss


class TestTiles:
    def test_tile_datasets_end_to_end(self, spark, mentions):
        pts = extract.normalize_points(mentions)
        tiled = tiles.with_tile(pts, zoom=10)
        ds = tiles.tile_datasets(tiled).toPandas()
        assert (ds["n_points"] >= 1).all()
        assert ds["n_points"].sum() == mentions.count()
        # bbox sanity + covering shape
        assert (ds["lx"] <= ds["rx"]).all() and (ds["ly"] <= ds["uy"]).all()
        assert ds["s2"].map(len).between(0, 6).all()
        assert ds["s2"].map(lambda ts: all(1 <= len(t) <= 8 for t in ts)).all()

    def test_rollup_conserves_counts(self, spark, mentions):
        tiled = tiles.with_tile(mentions, zoom=10)
        r = tiles.tile_rollup(tiled, levels=4).toPandas()
        total = mentions.count()
        for z in (10, 9, 8, 7):
            assert r[r.zoom == z]["n"].sum() == total
        # parent containment: counts at z9 == sum of the 4 children at z10
        z10 = r[r.zoom == 10].set_index("cell_id")["n"]
        z9 = r[r.zoom == 9].set_index("cell_id")["n"]
        parents = pd.Series(z10.index.to_numpy() >> 2, index=z10.index)
        re9 = z10.groupby(parents).sum()
        pd.testing.assert_series_equal(z9.sort_index(), re9.sort_index(), check_names=False)


class TestKnn:
    def test_knn_matches_bruteforce_within_ring(self, spark):
        rng = np.random.RandomState(5)
        # clustered points so ring-2 at zoom 6 comfortably holds true kNN
        qs = pd.DataFrame(
            {"query_id": range(30), "lat": 40 + rng.uniform(0, 2, 30), "lon": -74 + rng.uniform(0, 2, 30)}
        )
        rs = pd.DataFrame(
            {"ref_id": range(200), "lat": 40 + rng.uniform(0, 2, 200), "lon": -74 + rng.uniform(0, 2, 200)}
        )
        got = (
            joins.knn_join(spark.createDataFrame(qs), spark.createDataFrame(rs), k=3)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        for qid in range(30):
            d = np.sqrt(
                (qs.lat[qid] - rs.lat.to_numpy()) ** 2 + (qs.lon[qid] - rs.lon.to_numpy()) ** 2
            )
            order = np.lexsort((rs.ref_id.to_numpy(), d))
            expect = rs.ref_id.to_numpy()[order[:3]]
            sub = got[got.query_id == qid]["ref_id"].to_numpy()
            np.testing.assert_array_equal(sub, expect)

    def test_ring_doubling_fills_sparse_queries(self, spark):
        """A query in a sparse region has < k refs in its initial ring; the
        doubling schedule must widen until it returns exactly k rows."""
        # zoom 6 tiles are 360/64 = 5.625 deg wide; query at (0,0), one ref
        # nearby (same tile), a far cluster ~20 deg away (outside ring 2,
        # inside ring 4)
        qs = pd.DataFrame({"query_id": [1], "lat": [0.1], "lon": [0.1]})
        rs = pd.DataFrame(
            {
                "ref_id": [10, 20, 21, 22],
                "lat": [0.2, 0.3, 0.4, 0.5],
                "lon": [0.2, 19.0, 19.1, 19.2],
            }
        )
        q_df, r_df = spark.createDataFrame(qs), spark.createDataFrame(rs)
        # fixed ring 2: only the nearby ref is a candidate -> 1 row (< k)
        fixed = joins.knn_join(q_df, r_df, k=3, zoom=6, ring=2).toPandas()
        assert len(fixed) == 1
        # doubling to max_ring=8 widens and returns exactly k rows
        doubled = joins.knn_join(q_df, r_df, k=3, zoom=6, ring=2, max_ring=8).toPandas()
        assert len(doubled) == 3
        assert sorted(doubled["ref_id"]) == [10, 20, 21]

    def test_ring_doubling_zero_candidates(self, spark):
        """No refs within max_ring at all -> zero rows, no crash."""
        qs = pd.DataFrame({"query_id": [1], "lat": [0.1], "lon": [0.1]})
        rs = pd.DataFrame({"ref_id": [10], "lat": [0.2], "lon": [170.0]})
        got = joins.knn_join(
            spark.createDataFrame(qs), spark.createDataFrame(rs), k=3, zoom=6, ring=2, max_ring=4
        ).toPandas()
        assert len(got) == 0

    def test_dense_queries_stay_narrow(self, spark):
        """Queries satisfied at the initial ring produce the same result
        with or without a doubling budget (narrow ring actually used)."""
        rng = np.random.RandomState(9)
        qs = pd.DataFrame({"query_id": range(10), "lat": 40 + rng.uniform(0, 1, 10), "lon": rng.uniform(0, 1, 10)})
        rs = pd.DataFrame({"ref_id": range(300), "lat": 40 + rng.uniform(0, 1, 300), "lon": rng.uniform(0, 1, 300)})
        a = joins.knn_join(spark.createDataFrame(qs), spark.createDataFrame(rs), k=5).toPandas()
        b = joins.knn_join(
            spark.createDataFrame(qs), spark.createDataFrame(rs), k=5, max_ring=16
        ).toPandas()
        key = ["query_id", "rank"]
        pd.testing.assert_frame_equal(
            a.sort_values(key).reset_index(drop=True)[["query_id", "ref_id", "rank"]],
            b.sort_values(key).reset_index(drop=True)[["query_id", "ref_id", "rank"]],
        )


class TestSaltedJoin:
    def test_salted_equals_plain(self, spark, mentions):
        tiled = tiles.with_tile(mentions, zoom=8)
        dim = tiled.groupBy("zoom", "cell_id").count().select("zoom", "cell_id")
        plain = joins.tile_join(tiled, dim).count()
        salted = joins.salted_tile_join(tiled, dim).count()
        assert plain == salted == tiled.count()


class TestAsofJoin:
    def test_matches_pandas_merge_asof(self, spark):
        """Property check of the union+last_value as-of plan against
        pandas.merge_asof (backward, inclusive) on seeded interleaved
        per-user event streams, including equal-timestamp ties (broken to
        the highest right id on both sides) and users with no match."""
        rng = np.random.RandomState(7)
        n_l, n_r = 400, 300
        left = pd.DataFrame(
            {
                "event_id": np.arange(n_l, dtype=np.int64),
                "user_id": rng.randint(0, 12, n_l).astype(np.int64),
                "ts": rng.randint(0, 500, n_l).astype(np.int64),
            }
        )
        right = pd.DataFrame(
            {
                "r_id": np.arange(n_r, dtype=np.int64) + 10_000,
                "user_id": rng.randint(0, 15, n_r).astype(np.int64),  # some users never match
                "ts": rng.randint(0, 500, n_r).astype(np.int64),      # ts collisions guaranteed
                "r_val": rng.uniform(0, 1, n_r),
            }
        )
        got = (
            joins.asof_join(
                spark.createDataFrame(left),
                spark.createDataFrame(right),
                on=["user_id"],
                ts_col="ts",
                right_cols=["r_id", "r_val"],
                tiebreak_col="r_id",
            )
            .toPandas()
            .sort_values("event_id")
            .reset_index(drop=True)
        )
        # pandas twin: sort right by (ts, r_id) so merge_asof's last-match
        # rule picks the highest r_id on ties, same as tiebreak_col
        expect = pd.merge_asof(
            left.sort_values(["ts", "event_id"], kind="stable"),
            right.sort_values(["ts", "r_id"], kind="stable"),
            on="ts",
            by="user_id",
            direction="backward",
            allow_exact_matches=True,
        ).sort_values("event_id").reset_index(drop=True)
        assert got["r_id"].isna().sum() > 0  # unmatched users exercised
        pd.testing.assert_series_equal(got["r_id"], expect["r_id"], check_names=False)
        pd.testing.assert_series_equal(got["r_val"], expect["r_val"], check_names=False)


class TestExtractionRandomCorpus:
    def test_sql_and_arrow_identical_on_random_corpus(self, spark):
        """Seeded random corpus: printable noise with coordinate mentions
        injected at random offsets (valid and near-miss malformed ones) —
        the Catalyst and Arrow paths must agree row-for-row on all of it."""
        rng = np.random.RandomState(42)
        alphabet = list("abc XYZ.,:-_0123456789é中\t")
        texts = []
        for i in range(300):
            chars = rng.choice(alphabet, size=rng.randint(0, 120))
            t = "".join(chars)
            for _ in range(rng.randint(0, 4)):
                la = rng.uniform(-90, 90)
                lo = rng.uniform(-180, 180)
                form = rng.randint(0, 4)
                if form == 0:
                    frag = f"geo:{la:.5f},{lo:.5f}"
                elif form == 1:
                    frag = f"lat {la:.4f} lon {lo:.4f}"
                elif form == 2:
                    frag = f"geo:{la:.1f},{lo}"  # repr() lon: may lack '.'
                else:
                    frag = f"lat {int(la)} lon {lo:.2f}"
                pos = rng.randint(0, len(t) + 1)
                t = t[:pos] + frag + t[pos:]
            texts.append(t)
        pdf = pd.DataFrame(
            {
                "url": [f"u{i}" for i in range(len(texts))],
                "warc_ts": pd.Timestamp("2026-01-01"),
                "lang": "en",
                "page_id": np.arange(len(texts), dtype=np.int64),
                "text": texts,
            }
        )
        df = spark.createDataFrame(pdf).repartition(8)
        a = (
            extract.extract_mentions(df, impl="sql")
            .orderBy("page_id", "mention_idx")
            .toPandas()
            .reset_index(drop=True)
        )
        b = (
            extract.extract_mentions(df, impl="arrow")
            .orderBy("page_id", "mention_idx")
            .toPandas()
            .reset_index(drop=True)
        )
        assert len(a) > 200  # corpus really contains mentions
        pd.testing.assert_frame_equal(a, b)


class TestAsofJoinEdgeCases:
    def test_null_right_value_not_mixed_across_rows(self, spark):
        """A right row with a NULL value column must win AS A WHOLE: the
        carried columns must never mix fields from different right rows
        (the per-column ignorenulls bug)."""
        left = spark.createDataFrame([(1, 100, 10)], "event_id long, user_id long, ts long")
        right = spark.createDataFrame(
            [(100, 3, 7, 2.5), (100, 5, 9, None)],
            "user_id long, ts long, r_id long, r_val double",
        )
        got = joins.asof_join(
            left, right, on=["user_id"], ts_col="ts",
            right_cols=["r_id", "r_val"], tiebreak_col="r_id",
        ).collect()[0]
        assert got["r_id"] == 9 and got["r_val"] is None

    def test_right_col_name_collision_rejected(self, spark):
        left = spark.createDataFrame([(1, 2)], "user_id long, value long")
        right = spark.createDataFrame([(1, 1, 5)], "user_id long, ts long, value long")
        with pytest.raises(ValueError, match="collide"):
            joins.asof_join(left.withColumn("ts", F.lit(1)), right, on=["user_id"], ts_col="ts", right_cols=["value"])

    def test_exclusive_matches_pandas_merge_asof(self, spark):
        """inclusive=False property test: the equal-timestamp visibility
        flip (right rows at ts == left.ts must NOT match) pinned against
        pandas.merge_asof(allow_exact_matches=False) on seeded streams
        with guaranteed ts collisions."""
        rng = np.random.RandomState(11)
        n_l, n_r = 300, 250
        left = pd.DataFrame(
            {
                "event_id": np.arange(n_l, dtype=np.int64),
                "user_id": rng.randint(0, 10, n_l).astype(np.int64),
                "ts": rng.randint(0, 200, n_l).astype(np.int64),  # dense -> exact-ts hits
            }
        )
        right = pd.DataFrame(
            {
                "r_id": np.arange(n_r, dtype=np.int64) + 10_000,
                "user_id": rng.randint(0, 12, n_r).astype(np.int64),
                "ts": rng.randint(0, 200, n_r).astype(np.int64),
                "r_val": rng.uniform(0, 1, n_r),
            }
        )
        got = (
            joins.asof_join(
                spark.createDataFrame(left),
                spark.createDataFrame(right),
                on=["user_id"],
                ts_col="ts",
                right_cols=["r_id", "r_val"],
                tiebreak_col="r_id",
                inclusive=False,
            )
            .toPandas()
            .sort_values("event_id")
            .reset_index(drop=True)
        )
        expect = pd.merge_asof(
            left.sort_values(["ts", "event_id"], kind="stable"),
            right.sort_values(["ts", "r_id"], kind="stable"),
            on="ts",
            by="user_id",
            direction="backward",
            allow_exact_matches=False,
        ).sort_values("event_id").reset_index(drop=True)
        # the flip must actually be exercised: some left rows have an
        # exact-ts right row that inclusive would match
        incl = pd.merge_asof(
            left.sort_values(["ts", "event_id"], kind="stable"),
            right.sort_values(["ts", "r_id"], kind="stable"),
            on="ts", by="user_id", direction="backward", allow_exact_matches=True,
        ).sort_values("event_id").reset_index(drop=True)
        assert (incl["r_id"].fillna(-1) != expect["r_id"].fillna(-1)).any()
        pd.testing.assert_series_equal(got["r_id"], expect["r_id"], check_names=False)
        pd.testing.assert_series_equal(got["r_val"], expect["r_val"], check_names=False)

    def test_null_join_keys_never_match(self, spark):
        """SQL equi-join semantics: a NULL-keyed right row matches nothing,
        and a NULL-keyed left row gets NULL results (Window.partitionBy
        groups NULLs together — the right side must be filtered)."""
        left = spark.createDataFrame(
            [(1, None, 10), (2, 100, 10)], "event_id long, user_id long, ts long"
        )
        right = spark.createDataFrame(
            [(None, 5, 7, 1.0), (100, 5, 8, 2.0)],
            "user_id long, ts long, r_id long, r_val double",
        )
        got = {
            r["event_id"]: r
            for r in joins.asof_join(
                left, right, on=["user_id"], ts_col="ts",
                right_cols=["r_id", "r_val"], tiebreak_col="r_id",
            ).collect()
        }
        assert got[1]["r_id"] is None  # NULL left key -> no match
        assert got[2]["r_id"] == 8


class TestRangeJoin:
    def test_matches_naive_between_join(self, spark):
        """Binned range join == the naive theta join, across bin sizes
        (including bins much smaller and much larger than intervals)."""
        rng = np.random.RandomState(17)
        pts = spark.createDataFrame(
            pd.DataFrame({"pid": np.arange(800, dtype=np.int64), "v": rng.uniform(0, 100, 800)})
        )
        iv = spark.createDataFrame(
            pd.DataFrame(
                {
                    "interval_id": np.arange(60, dtype=np.int64),
                    "lo": rng.uniform(0, 95, 60),
                    "len": rng.uniform(0, 10, 60),
                }
            )
        ).withColumn("hi", F.col("lo") + F.col("len")).drop("len")
        naive = (
            pts.join(iv, (F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")))
            .select("pid", "interval_id")
            .toPandas()
        )
        key = ["pid", "interval_id"]
        for bin_size in (0.5, 2.0, 50.0):
            got = (
                joins.range_join(pts, iv, "v", "lo", "hi", bin_size=bin_size)
                .select("pid", "interval_id")
                .toPandas()
            )
            pd.testing.assert_frame_equal(
                got.sort_values(key).reset_index(drop=True),
                naive.sort_values(key).reset_index(drop=True),
            )

    def test_inverted_intervals_dropped(self, spark):
        pts = spark.createDataFrame([(1, 5.0)], "pid long, v double")
        iv = spark.createDataFrame(
            [(1, 4.0, 6.0), (2, 8.0, 2.0)], "interval_id long, lo double, hi double"
        )
        got = joins.range_join(pts, iv, "v", "lo", "hi", bin_size=1.0).collect()
        assert [r["interval_id"] for r in got] == [1]

    def test_plan_is_equi_join_not_nested_loop(self, spark):
        pts = spark.createDataFrame([(1, 5.0)], "pid long, v double")
        iv = spark.createDataFrame([(1, 4.0, 6.0)], "interval_id long, lo double, hi double")
        plan = (
            joins.range_join(pts, iv, "v", "lo", "hi", bin_size=1.0)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "__bin" in plan, plan


class TestLangidZh:
    """Round-4 fix: zh (unsegmented CJK) is scored by substring-count
    arithmetic, so planted Chinese documents must resolve to 'zh' — and
    the contract query must agree with the kernel twin (textkit.lang_scores)."""

    DOCS = [
        (0, "的 是 了 在 我们 有 和 不", "zh"),
        (1, "我是一个学生 他是老师 这是我的书 我不知道", "zh"),
        (2, "the cat and the dog of the house is that", "en"),
        (3, "le chat et la maison est une belle que les", "fr"),
        (4, "xyzzy plugh 12345", "und"),
    ]

    def _sf_dir(self, spark, tmp_path):
        pdf = pd.DataFrame(
            [(i, t, e, "planted", len(t)) for i, t, e in self.DOCS],
            columns=["doc_id", "text", "lang", "source", "n_chars"],
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "documents.parquet")
        )
        return str(tmp_path)

    def test_planted_zh_detected(self, spark, tmp_path):
        from convert_spark.queries import q_langid

        got = {
            r["doc_id"]: r["lang_guess"]
            for r in q_langid(spark, self._sf_dir(spark, tmp_path)).collect()
        }
        assert got == {i: e for i, t, e in self.DOCS}

    def test_agrees_with_kernel_twin(self, spark, tmp_path):
        from convert_spark.kernels import textkit
        from convert_spark.queries import q_langid

        texts = pd.Series([t for _, t, _ in self.DOCS])
        twin = textkit.lang_scores(texts)["lang"].tolist()
        got = (
            q_langid(spark, self._sf_dir(spark, tmp_path))
            .orderBy("doc_id")
            .toPandas()["lang_guess"]
            .tolist()
        )
        assert got == twin


class TestLangidRandomizedAgreement:
    """Randomized mixed-language corpus: the contract query and the kernel
    twin must agree on every document (single batched Spark run)."""

    def test_random_mixed_corpus(self, spark, tmp_path):
        import numpy as np

        from convert_spark.kernels import textkit
        from convert_spark.queries import q_langid

        rng = np.random.RandomState(17)
        pools = {
            "en": "the and of to a is that for".split(),
            "fr": "le la et les des est une que".split(),
            "es": "el de la que los una por con".split(),
            "de": "der die und das ist nicht ein mit".split(),
            "zh": list("的是了在和有我不"),
            "noise": ["xyzzy", "qwrt", "12345", "!!!", "zz9"],
        }
        keys = list(pools)
        texts = []
        for _ in range(200):
            n_tokens = rng.randint(0, 30)
            toks = []
            for _ in range(n_tokens):
                pool = pools[keys[rng.randint(len(keys))]]
                toks.append(pool[rng.randint(len(pool))])
            # zh is unsegmented in real text: sometimes join CJK runs
            sep = "" if rng.rand() < 0.2 else " "
            texts.append(sep.join(toks))
        pdf = pd.DataFrame(
            {
                "doc_id": range(len(texts)),
                "text": texts,
                "lang": "?",
                "source": "fuzz",
                "n_chars": [len(t) for t in texts],
            }
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "documents.parquet")
        )
        got = (
            q_langid(spark, str(tmp_path)).orderBy("doc_id").toPandas()["lang_guess"].tolist()
        )
        twin = textkit.lang_scores(pd.Series(texts))["lang"].tolist()
        assert got == twin


class TestMergeTileDatasets:
    """merge_tile_datasets edges the gate row can't isolate: empty delta,
    delta-only tiles, schema parity with tile_datasets."""

    def test_edges_and_schema(self, spark):
        from pyspark.sql import functions as F

        from convert_spark.operators import tiles

        keys = ["zoom", "cell_id"]
        mk = lambda rows: spark.createDataFrame(  # noqa: E731
            rows, "zoom int, cell_id long, x double, y double"
        )
        a = mk([(5, 1, 0.0, 0.0), (5, 1, 10.0, -4.0), (5, 2, 3.0, 3.0)])
        b = mk([(5, 1, -2.0, 7.0), (5, 9, 1.0, 1.0)])
        prev = tiles.tile_datasets(a, group_cols=keys)
        merged = tiles.merge_tile_datasets(prev, b, group_cols=keys)
        full = tiles.tile_datasets(a.unionByName(b), group_cols=keys)
        # names + types (sum() is nullable where count() isn't — cosmetic)
        shape = lambda df: [(f.name, f.dataType) for f in df.schema]  # noqa: E731
        assert shape(merged) == shape(full)
        key = lambda df: {  # noqa: E731
            (r["zoom"], r["cell_id"]): (r["lx"], r["rx"], r["ly"], r["uy"], r["n_points"],
                                        r["center_x"], r["center_y"], r["center_z"], list(r["s2"]))
            for r in df.collect()
        }
        assert key(merged) == key(full)
        # empty delta: a no-op (incl. the derived fields)
        empty = mk([]).filter(F.lit(False))
        assert key(tiles.merge_tile_datasets(prev, empty, group_cols=keys)) == key(prev)
