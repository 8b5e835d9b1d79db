"""Seeded input generator: every table the benchmark feeds the engine.

All randomness comes from ``numpy.random.default_rng`` seeded by
``(seed, stream)``, so one seed always yields byte-identical inputs. The
engine only ever sees the parquet files written here.

Geometry is chosen so the checks can restate it without ambiguity:

* polygons are axis-aligned rectangles (one with a rectangular hole) whose
  edges sit on ``...25e-6`` degree offsets, while page coordinates carry at
  most five decimals, so no point lies on an edge;
* kNN points are unrounded doubles, so no point lies on a tile boundary and
  no two candidate distances tie.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CITIES = np.array(
    [
        [40.7128, -74.0060],
        [51.5074, -0.1278],
        [35.6762, 139.6503],
        [48.8566, 2.3522],
        [-33.8688, 151.2093],
        [19.4326, -99.1332],
    ]
)
HOT_FRACTION = 0.6  # share of page mentions that fall near a city
CITY_SPREAD_DEG = 0.1
EDGE_OFFSET_DEG = 0.000025  # polygon edges never coincide with a 5-decimal point

KNN_HOT = (10.3, 20.3)  # (lat, lon) of the hot query cell, away from tile edges
KNN_HOT_FRACTION = 0.3
# (lat0, lat1, lon0, lon1): a box about four zoom-6 tiles wide that holds no
# ref, so the queries inside it need the doubled kNN rings
KNN_DESERT = (-25.0, 0.0, -35.0, -10.0)
KNN_DESERT_FRACTION = 0.05
NEAR_DUP_EPS_DEG = 1e-4  # planted near-duplicates sit within this of each other

_WORDS = np.array(
    (
        "the a of and to in is that for with page data map city river mountain "
        "road trail park lake forest valley bridge census survey record history "
        "travel guide photo review local north south east west street town"
    ).split()
)
_LANGS = np.array(["en", "en", "en", "fr", "es", "de", "zh"])

PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("page_id", pa.int64()),
    ]
)
POLYGONS_ARROW = pa.schema(
    [
        ("poly_id", pa.int64()),
        ("name", pa.string()),
        ("kind", pa.string()),
        ("rings", pa.list_(pa.list_(pa.list_(pa.float64())))),
    ]
)


def rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def pages(n: int, seed: int, stream: int, first_id: int = 0) -> pa.Table:
    """``n`` crawl pages: 0-3 coordinate mentions each, ``HOT_FRACTION`` of
    them within ``CITY_SPREAD_DEG`` of a city, the rest uniform over the
    inhabited latitudes. Mentions use both grammars the extractor knows."""
    r = rng(seed, stream)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    n_mentions = r.integers(0, 4, n)
    total = int(n_mentions.sum())
    hot = r.random(total) < HOT_FRACTION
    city = CITIES[r.integers(0, len(CITIES), total)]
    lat = np.where(hot, city[:, 0] + (r.random(total) - 0.5) * 2 * CITY_SPREAD_DEG, -55 + r.random(total) * 125)
    lon = np.where(hot, city[:, 1] + (r.random(total) - 0.5) * 2 * CITY_SPREAD_DEG, -180 + r.random(total) * 360)
    geo_form = r.random(total) < 0.5
    mentions = [
        f"geo:{la:.5f},{lo:.5f}" if g else f"lat {la:.4f} lon {lo:.4f}"
        for la, lo, g in zip(lat, lon, geo_form)
    ]
    n_words = r.integers(20, 40, n)
    words = _WORDS[r.integers(0, len(_WORDS), int(n_words.sum()))].tolist()
    texts = []
    w = m = 0
    for i in range(n):
        toks = words[w : w + n_words[i]]
        w += n_words[i]
        for _ in range(n_mentions[i]):
            toks.insert(int(r.integers(0, len(toks) + 1)), mentions[m])
            m += 1
        texts.append(" ".join(toks))
    ts = pd.Timestamp("2024-01-01", tz="UTC") + pd.to_timedelta(ids % 10**8 * 7, unit="s")
    return pa.table(
        {
            "url": [f"https://site{i % 50}.example/page/{i}" for i in ids],
            "warc_ts": ts,
            "html": [f"<html><body>{t}</body></html>".encode() for t in texts],
            "text": texts,
            "lang": _LANGS[r.integers(0, len(_LANGS), n)],
            "page_id": ids,
        },
        schema=PAGES_ARROW,
    )


def _rect(w: float, s: float, e: float, n: float) -> list[list[float]]:
    return [[w, s], [e, s], [e, n], [w, n], [w, s]]


def polygons(seed: int) -> pa.Table:
    """A 3x3 grid of urban cells around every city (placement jittered by
    the seed), four large rural rectangles and one doughnut (rectangle with
    a rectangular hole) around the first city."""
    r = rng(seed, 90)
    rows = []
    for ci, (clat, clon) in enumerate(CITIES):
        w0 = round(clon - 0.15 + r.uniform(-0.02, 0.02), 4) + EDGE_OFFSET_DEG
        s0 = round(clat - 0.15 + r.uniform(-0.02, 0.02), 4) + EDGE_OFFSET_DEG
        for gy in range(3):
            for gx in range(3):
                w, s = w0 + gx * 0.1, s0 + gy * 0.1
                rows.append(("urban", f"urban_{ci}_{gx}{gy}", [_rect(w, s, w + 0.1, s + 0.1)]))
    for w, s, e, n in [(-130, -50, -60, -20), (110, -25, 155, 20), (-15, 35, 40, 60), (-75, -35, -35, 5)]:
        o = EDGE_OFFSET_DEG
        rows.append(("rural", f"rural_{w}_{s}", [_rect(w + o, s + o, e + o, n + o)]))
    clat, clon = CITIES[0]
    o = EDGE_OFFSET_DEG
    outer = _rect(clon - 0.5 + o, clat - 0.5 + o, clon + 0.5 + o, clat + 0.5 + o)
    hole = _rect(clon - 0.2 + o, clat - 0.2 + o, clon + 0.2 + o, clat + 0.2 + o)
    rows.append(("doughnut", "doughnut_0", [outer, hole]))
    return pa.table(
        {
            "poly_id": np.arange(len(rows), dtype=np.int64),
            "name": [x[1] for x in rows],
            "kind": [x[0] for x in rows],
            "rings": [x[2] for x in rows],
        },
        schema=POLYGONS_ARROW,
    )


def _uniform_points(r: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    return -60 + r.random(n) * 130, -170 + r.random(n) * 340


def _in_desert(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    lat0, lat1, lon0, lon1 = KNN_DESERT
    return (lat >= lat0) & (lat < lat1) & (lon >= lon0) & (lon < lon1)


def _ref_points(r: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Uniform points, those in the desert moved 40 degrees east."""
    lat, lon = _uniform_points(r, n)
    return lat, np.where(_in_desert(lat, lon), lon + 40, lon)


def knn_refs(n: int, n_clusters: int, seed: int) -> pa.Table:
    """POI table: uniform refs plus ``n_clusters`` planted near-duplicate
    clusters of 2-5 members, all within ``NEAR_DUP_EPS_DEG`` / 2 of a
    cluster centre. Refs are never concentrated in one cell, and none lies
    in ``KNN_DESERT``."""
    r = rng(seed, 20)
    sizes = r.integers(2, 6, n_clusters)
    n_uniform = n - int(sizes.sum())
    lat, lon = _ref_points(r, n_uniform)
    clat, clon = _ref_points(r, n_clusters)
    jitter = NEAR_DUP_EPS_DEG / 4
    dlat = np.repeat(clat, sizes) + (r.random(int(sizes.sum())) - 0.5) * jitter
    dlon = np.repeat(clon, sizes) + (r.random(int(sizes.sum())) - 0.5) * jitter
    ids = r.permutation(n).astype(np.int64)
    return pa.table(
        {
            "ref_id": ids,
            "lat": np.concatenate([lat, dlat]),
            "lon": np.concatenate([lon, dlon]),
        }
    )


def knn_queries(n: int, seed: int) -> pa.Table:
    """Query points: ``KNN_HOT_FRACTION`` of them inside one zoom-6 cell
    (the hot cell is on the query side only), ``KNN_DESERT_FRACTION`` in
    the ref-free desert, the rest uniform."""
    r = rng(seed, 30)
    lat, lon = _uniform_points(r, n)
    kind = r.random(n)
    hot, desert = kind < KNN_HOT_FRACTION, kind > 1 - KNN_DESERT_FRACTION
    lat0, lat1, lon0, lon1 = KNN_DESERT
    lat = np.where(hot, KNN_HOT[0] + r.random(n) * 0.5, np.where(desert, lat0 + r.random(n) * (lat1 - lat0), lat))
    lon = np.where(hot, KNN_HOT[1] + r.random(n) * 0.5, np.where(desert, lon0 + r.random(n) * (lon1 - lon0), lon))
    return pa.table({"query_id": np.arange(n, dtype=np.int64), "lat": lat, "lon": lon})


def write(table: pa.Table, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    pq.write_table(table, path)
    return os.path.getsize(path)
