"""Deterministic synthetic inputs (FIXTURES.md §1/§4): Common-Crawl-style
web pages and a polygon layer.

Determinism contract: every generated value is a pure function of the row
id (splitmix64 bit mixing), NOT of an RNG sequence — so output is
byte-identical regardless of partition count, task order, or cluster size.
This is what makes the BASELINE "byte-identical extracted text per url"
invariant testable across local[8] vs local[32].

The web-page generator runs distributed (spark.range -> mapInPandas, Arrow
batches); the pandas twin (`webpages_pdf`) exists for kernel-level tests
and MUST stay in lockstep (tests/test_datagen.py asserts spark == pandas).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# hot clusters (dense urban tiles — the skew source, FIXTURES.md §1)
CITIES = np.array(
    [
        [40.7128, -74.0060],  # new york
        [51.5074, -0.1278],  # london
        [35.6762, 139.6503],  # tokyo
        [48.8566, 2.3522],  # paris
        [-33.8688, 151.2093],  # sydney
    ]
)
# ~60% of mentions pile into the hot clusters -> skewed cells
HOT_FRACTION = 0.6

_VOCAB = np.array(
    (
        "the a of and to in is that for with page data map city river mountain "
        "road trail park lake forest valley bridge census survey record history "
        "travel guide photo review local north south east west street town"
    ).split()
)
_LANGS = np.array(["en", "en", "en", "fr", "es", "de", "zh"])  # en-heavy

_MASK64 = (1 << 64) - 1


def _mix64(ids: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64 finalizer over (id + salt*GOLDEN) — vectorized uint64."""
    z = (ids.astype(np.uint64) + np.uint64((salt * 0x9E3779B97F4A7C15) & _MASK64)) * np.uint64(
        0xBF58476D1CE4E5B9
    )
    z ^= z >> np.uint64(27)
    z *= np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return z


def _rand01(ids: np.ndarray, salt: int) -> np.ndarray:
    return (_mix64(ids, salt) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _randint(ids: np.ndarray, salt: int, n: int) -> np.ndarray:
    return (_mix64(ids, salt) % np.uint64(n)).astype(np.int64)


def mention_latlon(ids: np.ndarray, mention: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic coordinate for mention #``mention`` of each page id:
    hot-cluster (city + small offset) vs uniform-globe mixture."""
    salt = 1000 + mention * 10
    hot = _rand01(ids, salt) < HOT_FRACTION
    city = CITIES[_randint(ids, salt + 1, len(CITIES))]
    off_lat = (_rand01(ids, salt + 2) - 0.5) * 0.2
    off_lon = (_rand01(ids, salt + 3) - 0.5) * 0.2
    u_lat = -60.0 + _rand01(ids, salt + 4) * 130.0
    u_lon = -180.0 + _rand01(ids, salt + 5) * 360.0
    lat = np.where(hot, city[:, 0] + off_lat, u_lat)
    lon = np.where(hot, city[:, 1] + off_lon, u_lon)
    return np.round(lat, 5), np.round(lon, 5)


def _page_batch(ids: np.ndarray) -> pd.DataFrame:
    """Build one Arrow batch of pages for the given row ids.

    VECTORIZED across the batch (round 8): the page generator was ~90%
    of the headline pipeline's wall, dominated by per-row numpy calls
    (~15 tiny _mix64/_randint invocations per page) and per-row string
    formatting. All randomness, coordinates and mention strings now
    compute batch-at-once; the only remaining per-row Python is the
    token splice + ' '.join. Output is byte-identical to the pre-r8
    row loop (same _mix64 streams, same '%.5f' float formatting —
    pinned by tests/test_datagen.py and the entry golden digest)."""
    n = ids.size
    n_sites = 50
    site = (ids % n_sites).astype(np.int64)
    url = np.array([f"https://site{s}.example/page/{i}" for s, i in zip(site, ids)], dtype=object)
    ts = pd.Timestamp("2024-01-01").value // 10**9 + ids.astype(np.int64) * 7
    warc_ts = pd.to_datetime(ts, unit="s")
    lang = _LANGS[_randint(ids, 2, len(_LANGS))]
    n_mentions = _randint(ids, 3, 4)  # 0..3 mentions per page

    n_words = 30 + _randint(ids, 4, 30)  # 30..59 words
    if n == 0:
        return pd.DataFrame(
            {"url": url, "warc_ts": warc_ts, "html": np.array([], dtype=object),
             "text": np.array([], dtype=object), "lang": lang, "page_id": ids.astype(np.int64)}
        )
    # flat word-index stream: one _mix64 over sum(n_words) elements
    # reproduces the per-row arange(n_words[row]) + (id << 8) calls
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(n_words[:-1], out=starts[1:])
    total = int(starts[-1] + n_words[-1])
    rows_of = np.repeat(np.arange(n, dtype=np.int64), n_words)
    j_flat = np.arange(total, dtype=np.uint64) - starts.astype(np.uint64)[rows_of]
    id_shift = (ids.astype(np.uint64) << np.uint64(8)) & np.uint64(_MASK64)
    w_idx = _mix64(j_flat + id_shift[rows_of], 5) % np.uint64(len(_VOCAB))
    words_flat = _VOCAB[w_idx.astype(np.int64)]

    # mentions: per slot m, vectorized coords/format/position over the
    # rows with n_mentions > m (same per-id streams as the row loop)
    mention_strs: list[np.ndarray] = []
    mention_pos: list[np.ndarray] = []
    mention_mask: list[np.ndarray] = []
    for m in range(3):
        mask = n_mentions > m
        mids = ids[mask]
        if mids.size == 0:
            mention_mask.append(mask)
            mention_strs.append(np.array([], dtype=object))
            mention_pos.append(np.array([], dtype=np.int64))
            continue
        lat, lon = mention_latlon(mids, m)
        fmt = _randint(mids, 2000 + m, 2)
        lat5 = np.char.mod("%.5f", lat).astype(object)
        lon5 = np.char.mod("%.5f", lon).astype(object)
        lat4 = np.char.mod("%.4f", lat).astype(object)
        lon4 = np.char.mod("%.4f", lon).astype(object)
        geo = "geo:" + lat5 + "," + lon5
        latlon = "lat " + lat4 + " lon " + lon4
        mention_strs.append(np.where(fmt == 0, geo, latlon))
        # list length at insertion time is n_words + m
        mod = (n_words[mask] + m + 1).astype(np.uint64)
        mention_pos.append((_mix64(mids, 3000 + m) % mod).astype(np.int64))
        mention_mask.append(mask)
    # scatter per-slot arrays back to per-row values
    ment_s = np.empty((3, n), dtype=object)
    ment_p = np.zeros((3, n), dtype=np.int64)
    for m in range(3):
        ment_s[m][mention_mask[m]] = mention_strs[m]
        ment_p[m][mention_mask[m]] = mention_pos[m]

    texts = []
    for row in range(n):
        words = list(words_flat[starts[row] : starts[row] + n_words[row]])
        for m in range(int(n_mentions[row])):
            words.insert(int(ment_p[m][row]), ment_s[m][row])
        texts.append(" ".join(words))
    text = np.array(texts, dtype=object)
    html = np.array(
        [f"<html><head><title>p{i}</title></head><body>{t}</body></html>".encode() for i, t in zip(ids, text)],
        dtype=object,
    )
    return pd.DataFrame(
        {"url": url, "warc_ts": warc_ts, "html": html, "text": text, "lang": lang, "page_id": ids.astype(np.int64)}
    )


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string, page_id long"


def webpages_pdf(n_pages: int) -> pd.DataFrame:
    """Driver-side pandas twin of the distributed generator (tests only)."""
    return _page_batch(np.arange(n_pages, dtype=np.uint64))


def webpages(spark, n_pages: int, partitions: int | None = None):
    """Distributed deterministic page table: spark.range -> mapInPandas.

    Content depends only on row ids, so any partitioning yields identical
    rows (verified by tests/test_datagen.py).
    """
    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        for pdf in batches:
            yield _page_batch(pdf["id"].to_numpy(dtype=np.uint64))

    return spark.range(0, n_pages, numPartitions=parts).mapInPandas(gen, schema=PAGES_SCHEMA)


def n_pages_for_sf(sf_dir: str) -> int:
    """Scale the synthetic page count off the testdata sf directory name:
    sf0.001 -> 2k pages, sf0.01 -> 20k, sf0.1 -> 200k."""
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = 0.01
    return max(200, int(2_000_000 * sf))


# --- polygon layer (broadcast join side, FIXTURES.md §4) ---------------------


def polygons_pdf() -> pd.DataFrame:
    """Small deterministic polygon layer in EPSG:4326.

    Per city: a 3x3 grid of small "urban cell" polygons (hot) around the
    center; plus 4 large rural rectangles and one doughnut (hole) polygon —
    the PIP/hole fixture shape (reference tests/bonanza_doughnut.geojson).
    """
    rows = []
    pid = 0
    for ci, (clat, clon) in enumerate(CITIES):
        for gy in range(3):
            for gx in range(3):
                w = clon - 0.15 + gx * 0.1
                s = clat - 0.15 + gy * 0.1
                ring = [[w, s], [w + 0.1, s], [w + 0.1, s + 0.1], [w, s + 0.1], [w, s]]
                rows.append(
                    {
                        "poly_id": pid,
                        "name": f"urban_{ci}_{gx}{gy}",
                        "kind": "urban",
                        "rings": [ring],
                    }
                )
                pid += 1
    rural = [
        (-60.0, -130.0, -20.0, -60.0),
        (-25.0, 110.0, 20.0, 155.0),
        (35.0, -15.0, 60.0, 40.0),
        (-35.0, -75.0, 5.0, -35.0),
    ]
    for s, w, nn, e in rural:
        ring = [[w, s], [e, s], [e, nn], [w, nn], [w, s]]
        rows.append({"poly_id": pid, "name": f"rural_{pid}", "kind": "rural", "rings": [ring]})
        pid += 1
    # doughnut around new york: outer 1deg box, hole 0.4deg box
    clat, clon = CITIES[0]
    outer = [
        [clon - 0.5, clat - 0.5],
        [clon + 0.5, clat - 0.5],
        [clon + 0.5, clat + 0.5],
        [clon - 0.5, clat + 0.5],
        [clon - 0.5, clat - 0.5],
    ]
    hole = [
        [clon - 0.2, clat - 0.2],
        [clon + 0.2, clat - 0.2],
        [clon + 0.2, clat + 0.2],
        [clon - 0.2, clat + 0.2],
        [clon - 0.2, clat - 0.2],
    ]
    rows.append({"poly_id": pid, "name": "doughnut_ny", "kind": "doughnut", "rings": [outer, hole]})
    return pd.DataFrame(rows)


POLYGONS_SCHEMA = "poly_id long, name string, kind string, rings array<array<array<double>>>"


def polygons(spark):
    return spark.createDataFrame(polygons_pdf(), schema=POLYGONS_SCHEMA)
