"""Distributed spatial joins (SURVEY.md §2.5).

The reference's only join-like computation is scalar point-in-multipolygon
(convert.go:763, 1011); these operators are its cluster-scale
generalizations per BASELINE north_star:

* ``pip_join`` — broadcast STRtree + exact ray-casting PIP,
* ``tile_join`` — plain cell-id equi-join (tile assignment),
* ``knn_join`` — cell-ring expansion + window top-k,
* ``salted_tile_join`` — explicit hot-cell salting for skew.

Scale notes (100 TB thinking):
* the polygon layer is the SMALL side by construction (admin boundaries /
  tile schemes are << points); it is STRtree-indexed once on the driver
  and broadcast — the points side never shuffles for pip_join.
* ``knn_join`` shuffles only candidate pairs found via ring cells, never
  the cross product; ring radius doubles per round so the number of
  shuffle rounds is logarithmic in the distance to the k-th neighbor.
* skew: dense urban cells are salted explicitly (north_rule) — AQE skew
  split remains on as a backstop.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..kernels import pip as pip_kernel
from ..kernels import strtree as strtree_kernel
from ..session import fence


def _polygon_index(polygons_pdf: pd.DataFrame):
    """Driver-side build: each polygon's rings closed once (the refine
    would otherwise re-close every candidate ring on every Arrow batch)
    + STRtree over the polygon bboxes.

    polygons_pdf columns: poly_id, rings ([ring][vertex][lon,lat]).
    """
    closed_rings = [[pip_kernel.close_ring(r) for r in rings] for rings in polygons_pdf["rings"]]
    boxes = np.empty((len(polygons_pdf), 4), dtype=np.float64)
    for i, rings in enumerate(closed_rings):
        # extrema over the per-ring extrema, a NaN one skipped; a polygon
        # without rings keeps (inf, inf, -inf, -inf) and matches nothing
        lo = np.fmin.reduce(np.reshape([r.min(axis=0) for r in rings], (-1, 2)), axis=0, initial=np.inf)
        hi = np.fmax.reduce(np.reshape([r.max(axis=0) for r in rings], (-1, 2)), axis=0, initial=-np.inf)
        boxes[i] = (*lo, *hi)
    return {
        "rings": closed_rings,
        "poly_ids": polygons_pdf["poly_id"].to_numpy(np.int64),
        "tree": strtree_kernel.STRtree(boxes),
    }


def _free_name(base: str, *dfs: DataFrame) -> str:
    """A temp column name no input carries: ``base``, suffixed with "_"
    until free (case-insensitively, like Spark's resolver). A caller's
    column of that name is never overwritten or dropped."""
    taken = {c.lower() for df in dfs for c in df.columns}
    name = base
    while name.lower() in taken:
        name += "_"
    return name


def _match_pairs(idx, px: np.ndarray, py: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(point_idx, poly_id) pairs for every point-in-polygon containment:
    STRtree bbox candidates, then exact even-odd ray casting batched by
    candidate polygon (rings were closed at index-build time).

    Candidates are grouped per polygon by ONE sort + contiguous slices
    (round 8): the previous per-polygon boolean masks re-scanned the
    whole candidate array once per polygon — O(polys x candidates) just
    to group, ~6x the refine cost on a dense urban batch. Pair order out
    is unchanged (the inside mask is scattered back to candidate order).
    """
    tree: strtree_kernel.STRtree = idx["tree"]
    qi, ii = tree.query_points(px, py)
    if qi.size:
        order = np.argsort(ii, kind="stable")
        qi_s, ii_s = qi[order], ii[order]
        uniq, starts = np.unique(ii_s, return_index=True)
        ends = np.append(starts[1:], ii_s.size)
        inside_s = np.zeros(qi.size, dtype=bool)
        for poly, s, e in zip(uniq, starts, ends):
            sel = qi_s[s:e]
            inside_s[s:e] = pip_kernel.in_rings(px[sel], py[sel], idx["rings"][poly])
        inside = np.zeros(qi.size, dtype=bool)
        inside[order] = inside_s
        qi, ii = qi[inside], ii[inside]
    return qi, idx["poly_ids"][ii]


def pip_join(
    points: DataFrame,
    polygons_pdf: pd.DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    how: str = "inner",
) -> DataFrame:
    """Broadcast spatial join: each point row gains ``poly_id`` for every
    polygon containing it (inner) or NULL if none (left).

    Physical plan: no shuffle at all — the polygon STRtree is broadcast
    via SparkContext.broadcast, evaluated by a scalar Arrow UDF that sees
    ONLY the (lon, lat) columns and returns the array of containing poly
    ids; a JVM-side ``explode`` / ``explode_outer`` then produces the
    inner/left pair rows. Compared to the earlier mapInPandas form, the
    point row's OTHER columns never cross the JVM<->Python boundary —
    Arrow traffic is 16 bytes in + the (mostly empty) id list out per
    row, the per-batch row gather moves into whole-stage codegen, and the
    points side keeps its partitioning. Measured: the single-host Arrow
    transfer path was this stage's scaling ceiling (BENCH_SCALING.md).
    """
    sc = points.sparkSession.sparkContext
    bc = sc.broadcast(_polygon_index(polygons_pdf))

    @F.pandas_udf("array<long>")
    def containing_polys(lon: pd.Series, lat: pd.Series) -> pd.Series:
        idx = bc.value
        px = lon.to_numpy(np.float64)
        py = lat.to_numpy(np.float64)
        if not px.size:
            return pd.Series([], dtype=object)
        qi, poly_col = _match_pairs(idx, px, py)
        # qi ascending -> per-point slices via one bincount + split (no
        # per-row python assembly; np.split yields views, not copies).
        # Zero-match points get None, NOT an empty list: explode and
        # explode_outer treat NULL and [] identically (tested), and the
        # object->Arrow list conversion then skips the majority case
        # (uniform-globe points mostly miss every polygon).
        out = np.full(px.size, None, dtype=object)
        if qi.size:
            hit = np.unique(qi)
            order = np.argsort(qi, kind="stable")
            counts = np.bincount(qi, minlength=px.size)
            # object-array intermediate: a bare list of EQUAL-length
            # pieces would otherwise be coerced to 2-D on some numpy
            # versions and fail the fancy-indexed assignment
            pieces = np.empty(hit.size, dtype=object)
            pieces[:] = np.split(poly_col[order], np.cumsum(counts[hit])[:-1])
            out[hit] = pieces
        return pd.Series(out)

    tmp = _free_name("_polys", points)
    tagged = fence(points.withColumn(tmp, containing_polys(F.col(lon_col), F.col(lat_col))), tmp)
    ex = F.explode_outer(tmp) if how == "left" else F.explode(tmp)
    return tagged.select(*points.columns, ex.alias("poly_id"))


def tile_join(points: DataFrame, tiles: DataFrame, on: list[str] | None = None, broadcast_tiles: bool = True) -> DataFrame:
    """Tile-assignment equi-join on cell id (the BASELINE headline join).

    The tile dimension is broadcast when small; otherwise a plain shuffled
    hash join on the cell key (AQE handles residual skew)."""
    keys = on or ["zoom", "cell_id"]
    right = F.broadcast(tiles) if broadcast_tiles else tiles
    return points.join(right, keys, "inner")


def salted_tile_join(
    points: DataFrame,
    tiles: DataFrame,
    n_salt: int = 8,
    on: list[str] | None = None,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Skew-safe variant (north_rule: hot cells salted explicitly).

    Points get ``salt = pmod(hash(row fingerprint), n_salt)``; the tile
    side is replicated n_salt times so the join key (cell, salt) spreads
    each hot cell over n_salt reducers. The salt column's name is free
    in both inputs (``_free_name``), so a caller's own ``salt`` column
    passes through untouched.

    ``salt_cols`` names the columns hashed into the salt — pass the
    row's id column when rows are wide: hashing every column pulls the
    whole payload (and, after Catalyst projection collapse, any
    expensive expressions that COMPUTE it) into the salt expression,
    which can cost more than the skew it removes. Default: all columns
    (safe for slim rows).
    """
    keys = on or ["zoom", "cell_id"]
    # deterministic salt from the row's own columns: monotonically_
    # increasing_id is nondeterministic under partial stage recomputation
    # (executor loss re-salts rows differently than surviving shuffle
    # files -> silent row loss/duplication)
    salt = _free_name("salt", points, tiles)
    salted_points = points.withColumn(
        salt,
        F.pmod(F.xxhash64(*[F.col(c) for c in (salt_cols or points.columns)]), F.lit(n_salt)),
    )
    salted_tiles = _salt_replicate(tiles, n_salt, salt)
    return salted_points.join(salted_tiles, keys + [salt], "inner").drop(salt)


def _salt_replicate(df: DataFrame, n_salt: int, salt_col: str) -> DataFrame:
    """One row per (input row, salt value 0..n_salt-1) — the replicated
    side of an explicit salted join.

    Replicates via explode of a LITERAL array, NOT crossJoin(range(n_salt)):
    a cross join's size estimate MULTIPLIES the two sides' sizeInBytes, so
    Catalyst/AQE sees the tiny replicated dim as multi-GiB, declares it
    un-broadcastable, and (when the other side is pruned to slim join keys)
    broadcasts the BIG side instead — a 720 MiB 6M-row broadcast build
    measured 4-5x the whole q_salted_join at sf1.0, and a 128 MiB ref-side
    broadcast in the kNN probe. Explode keeps the estimate proportional to
    the real fan-out; the emitted rows are identical. The salt values come
    from ``sequence(0, n_salt - 1)``, not an array of n_salt literals, so
    the expression stays constant-size for any caller-supplied n_salt."""
    if n_salt < 1:
        raise ValueError(f"n_salt must be >= 1, got {n_salt}")
    return df.withColumn(salt_col, F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))


def _ring_key(tx: Column, ty: Column, zoom: int) -> Column:
    """Join key of tile (tx, ty) at ``zoom``: ``ty * 2^zoom + tx``,
    injective per zoom and < 2^60 at zoom 30. The kNN join needs no
    Morton order, so its key is two integer ops where exprs.morton_cell
    builds a bit-interleave tree per side and step."""
    if zoom > 30:
        raise ValueError("the kNN ring key supports zoom <= 30")
    return F.shiftleft(ty, zoom) + tx


def _ring_candidates(q: DataFrame, r: DataFrame, ring: int, zoom: int, query_id: str,
                     n_salt: int = 0, how: str = "inner") -> DataFrame:
    """Candidate pairs for one ring radius: queries explode into their
    ring cells (dx and dy offsets exploded in-stage, no UDF) and
    equi-join refs on the ring cell's ``_ring_key`` (``r_cell`` on the
    ref side) — the cross product never materializes, and the shuffle
    key is the cell.

    The ring is a SET by construction, so no dedupe exchange runs: dx
    spans ``sequence(lo, lo + min(2*ring, n-1))`` with ``n = 2^zoom``
    and ``lo = -ring`` while ``2*ring+1 <= n``, else ``lo = -(n // 2)``
    — then the n offsets reach every tile column exactly once, through
    the antimeridian wrap too (duplicates would consume top-k ranks;
    cf. kernels.quadkey.k_ring). dy never wraps: rows past a pole are
    filtered. ``how="left"`` keeps a ring cell that holds no ref as one
    row with NULL ref columns.

    ``n_salt`` > 0 salts the cell join key: queries take
    ``salt = pmod(xxhash64(query_id), n_salt)`` (deterministic — random
    salts re-salt differently under stage recomputation, cf.
    salted_tile_join) and the slim ref side replicates n_salt times, so
    a hot cell key spreads over n_salt reducers; every (query, ring-ref)
    pair still appears exactly once because a query row carries exactly
    one salt value.

    MEASURED FINDING (bench.py skew_stress `knn_*` keys): at every
    tested hot-cell shape — 30% and 90% of queries in one cell, and
    dense co-location with 30% of refs in the same cell — salting is a
    net pessimization (1.5-3x) for THIS operator, because the ranking
    window repartitions by query id immediately after the join (the
    expensive stage rebalances itself), the hot join partitions are
    cheap stream-merge output, and AQE's skew split handles oversized
    ones; the n_salt replication shuffle is pure added cost. It stays in
    the API for the one regime measurement can't reach locally: a single
    key whose join OUTPUT exceeds one task's spill budget with AQE off."""
    n = 1 << zoom
    lo = -ring if 2 * ring + 1 <= n else -(n // 2)
    # explode the offsets, NOT crossJoin(broadcast(offsets)): the cross
    # join MULTIPLIES the query side's size estimate by the offsets
    # table's bytes (~2300x at ring 8), after which the planner
    # broadcasts the REF side instead — a 128 MiB 1.5M-row build measured
    # at 10x scale where the probe's query side is the genuinely small one.
    # Explode keeps the estimate proportional to the real fan-out, so the
    # planner picks the build side per phase (cf. salted_tile_join). The
    # offsets come from ``sequence``, so the expression stays
    # constant-size for any ring (cf. _salt_replicate).
    qq = (
        q.withColumn("_dx", F.explode(F.sequence(F.lit(lo), F.lit(lo + min(2 * ring, n - 1)))))
        .withColumn("_dy", F.explode(F.sequence(F.lit(-ring), F.lit(ring))))
        .withColumn("n_tx", F.pmod(F.col("q_tx") + F.col("_dx"), F.lit(n)))
        .withColumn("n_ty", F.col("q_ty") + F.col("_dy"))
        .filter((F.col("n_ty") >= 0) & (F.col("n_ty") < n))
        .select(query_id, "q_lat", "q_lon", _ring_key(F.col("n_tx"), F.col("n_ty"), zoom).alias("r_cell"))
    )
    if n_salt > 0:
        qq = qq.withColumn("__salt", F.pmod(F.xxhash64(F.col(query_id)), F.lit(n_salt)))
        return qq.join(_salt_replicate(r, n_salt, "__salt"), ["r_cell", "__salt"], how).drop("__salt")
    return qq.join(r, "r_cell", how)


def _tile_row_north_lat(t: int, n: int) -> float:
    """North-edge latitude (degrees) of tile row ``t`` at ``n = 2^zoom``."""
    import math

    return math.degrees(math.atan(math.sinh(math.pi * (1.0 - 2.0 * t / n))))


def _tile_row_of(lat: float, n: int) -> int:
    """Python twin of exprs.tile_y (same clamp + floor)."""
    import math

    from ..functions.exprs import LAT_MAX, LAT_MIN

    lat_c = min(max(lat, LAT_MIN), LAT_MAX)
    lr = math.radians(lat_c)
    merc = math.log(math.tan(lr) + 1.0 / math.cos(lr))
    t = math.floor((1.0 - merc / math.pi) / 2.0 * n)
    return int(min(max(t, 0), n - 1))


def _latlon_extremes(q: DataFrame, r: DataFrame) -> tuple[float, float, float, float] | None:
    """(lat_lo, lat_hi, lon_lo, lon_hi) over both sides, or None if either
    side is empty — one bounded 1-row driver collect of the two sides'
    one-row aggregates."""
    qa = q.agg(F.min("q_lat"), F.max("q_lat"), F.min("q_lon"), F.max("q_lon"))
    ra = r.agg(F.min("r_lat"), F.max("r_lat"), F.min("r_lon"), F.max("r_lon"))
    row = qa.crossJoin(ra).collect()[0]
    if any(v is None for v in row):
        return None
    return (min(row[0], row[4]), max(row[1], row[5]), min(row[2], row[6]), max(row[3], row[7]))


def _prune_bound_at(ext: tuple[float, float, float, float], zoom: int) -> float | None:
    """Strictly positive lower bound B (degrees) such that ANY query/ref
    pair whose tiles are at Chebyshev tile distance >= 2 at ``zoom`` has
    planar-equirectangular distance^2 >= B^2 — the geometric prune behind
    the density probes in knn_join.

    Derivation: wrapped tile-x distance >= 2 leaves at least one full
    tile column strictly between the two points, so their circular (and
    hence planar) lon separation is >= the tile width 360/2^zoom;
    tile-y distance >= 2 leaves a full tile row between them, so lat
    separation >= that row's height — tile heights (in degrees) are
    maximal at the equator and shrink monotonically poleward, so the
    minimum over the occupied row range is attained at its ends.

    Returns None (probe disabled, caller falls back to the exact ring
    schedule) when any point lies outside the web-mercator lat range /
    [-180, 180] lon range — tile clamping would put such a point
    geometrically outside its tile and void the bound.
    """
    from ..functions.exprs import LAT_MAX, LAT_MIN

    n = 1 << zoom
    lat_lo, lat_hi, lon_lo, lon_hi = ext
    if not (LAT_MIN <= lat_lo and lat_hi <= LAT_MAX and -180.0 <= lon_lo and lon_hi <= 180.0):
        return None
    t_hi = _tile_row_of(lat_hi, n)  # northmost occupied row (smallest index)
    t_lo = _tile_row_of(lat_lo, n)
    bound = 360.0 / n
    # +-1 row slack absorbs any Python-vs-JVM 1-ulp row-boundary diff
    for t in {max(t_hi - 1, 0), t_hi, min(t_lo + 1, n - 1), t_lo}:
        bound = min(bound, _tile_row_north_lat(t, n) - _tile_row_north_lat(t + 1, n))
    return bound if bound > 0.0 else None


def knn_join(
    queries: DataFrame,
    refs: DataFrame,
    k: int,
    zoom: int = 6,
    ring: int = 2,
    max_ring: int | None = None,
    query_id: str = "query_id",
    ref_id: str = "ref_id",
    n_salt: int = 0,
    round_stats: list | None = None,
) -> DataFrame:
    """kNN join with cell-ring expansion and RING DOUBLING for stragglers
    (SURVEY.md §2.5; north_star "kNN-matched with cell-ring expansion").

    Each query ranks the refs within Chebyshev tile distance R(q) of its
    tile at ``zoom``, where R(q) is the smallest radius in the doubling
    schedule [ring, 2*ring, ..., max_ring] whose ring holds at least k
    candidate refs — queries in sparse regions widen, queries in dense
    regions stay narrow. Fewer than k rows come back only when even
    max_ring holds fewer than k refs. max_ring=None (or == ring) is the
    fixed-ring special case. Output: (query_id, ref_id, dist2, rank).

    Contract (oracle-checkable): R(q) is a pure function of candidate
    counts, so the DuckDB oracle re-states the identical schedule in SQL.
    Distance is planar-equirectangular on (lat, lon) degrees, ties broken
    by ref id. Query ids are unique keys: rows that share an id rank as
    one query.

    Execution: one list of steps ``(zoom, ring, squared prune bound or
    None)`` run by one round body. Every step joins the still-unanswered
    queries to the refs of their ring cells (_ring_candidates: the ring is
    a set by construction, joined on a linear cell key) and ranks them; a
    non-final step keeps the queries it answers and passes the rest (the
    stragglers) on, so each step's join input shrinks and the number of
    rounds is logarithmic in max_ring/ring. A non-final step LEFT-joins,
    so a ring cell that holds no ref still yields one NULL-ref row (ranked
    last) and every query keeps a rank-1 row; its ranked rows, with the
    query's coordinates and an answered flag, are its ONE checkpoint, and
    the stragglers are a lazy filter of it (the unanswered rank-1 rows).
    The final step inner-joins, ranks whatever its ring holds and stays
    lazy. The steps are:

    * when ring > 1, a ring-1 DENSITY PROBE at zoom+2 (capped at 30),
      then at ``zoom``, for as long as _prune_bound_at gives a bound B.
      A probe answers a query only when its ring held k candidates AND
      its k-th distance^2 is strictly below B^2: every candidate outside
      the probe ring is then provably farther than every kept row (a
      ring-1 neighborhood at a deeper-or-equal zoom is a subset of the
      operator-zoom ring), so the rows and ranks are exactly the
      schedule's — a pure optimization;
    * the doubling schedule ``ring, 2*ring, ..., max_ring``; a step
      answers a query when its ring held >= k candidates.

    ``round_stats`` (optional list) receives one ``(ring, n_stragglers)``
    tuple per non-final step that ran; ``n_salt`` > 0 salts every step's
    candidate join (see _ring_candidates for why that is not the default).
    At 100 TB, run zoom high enough that a cell holds O(k) refs.
    """
    from ..functions import exprs
    from ..plans.checkpoints import checkpoint

    q = queries.select(query_id, F.col("lat").alias("q_lat"), F.col("lon").alias("q_lon"))
    r = refs.select(ref_id, F.col("lat").alias("r_lat"), F.col("lon").alias("r_lon"))

    steps = []
    ext = _latlon_extremes(q, r) if ring > 1 else None
    for pz in dict.fromkeys((min(zoom + 2, 30), zoom)) if ext is not None else ():
        bound = _prune_bound_at(ext, pz)
        if bound is None:
            break
        steps.append((pz, 1, bound * bound))
    rings = [ring]
    while max_ring is not None and rings[-1] < max_ring:
        rings.append(min(max(2 * rings[-1], 1), max_ring))
    steps += [(zoom, rg, None) for rg in rings]

    # squared distance via explicit multiply: `** 2` compiles to Math.pow,
    # which is not exactly-rounded — the oracle's (a-b)*(a-b) then disagrees
    # at 1-ulp level and flips near-tie rankings
    dlat = F.col("q_lat") - F.col("r_lat")
    dlon = F.col("q_lon") - F.col("r_lon")
    w_rank = Window.partitionBy(query_id).orderBy(F.col("dist").asc_nulls_last(), F.col(ref_id).asc_nulls_last())
    w_q = Window.partitionBy(query_id)
    cols = [query_id, ref_id, F.col("dist").alias("dist2"), F.col("rn").alias("rank")]
    out = [query_id, ref_id, "dist2", "rank"]
    remaining, rounds = q, []
    for i, (z, rg, b2) in enumerate(steps):
        final = i == len(steps) - 1
        qz = remaining.withColumn("q_tx", exprs.tile_x(F.col("q_lon"), z)).withColumn(
            "q_ty", exprs.tile_y(F.col("q_lat"), z)
        )
        rz = r.withColumn("r_cell", _ring_key(exprs.tile_x(F.col("r_lon"), z), exprs.tile_y(F.col("r_lat"), z), z))
        topk = (
            _ring_candidates(qz, rz, rg, z, query_id, n_salt=n_salt, how="inner" if final else "left")
            .withColumn("dist", dlat * dlat + dlon * dlon)
            .withColumn("rn", F.row_number().over(w_rank))
            # rank filter directly above row_number -> WindowGroupLimit
            # partial prunes to top-k per query BEFORE the exchange
            .filter(F.col("rn") <= k)
        )
        if final:
            rounds.append(topk.select(*cols))  # last step: rank whatever exists
            break
        # count(ref_id) == k <=> the ring held >= k refs (NULL rows of empty
        # cells rank last and count nothing); max(dist) is the k-th
        # distance (same partitioning, an already-satisfied sort: no extra
        # exchange). Only the <= k x n_queries ranked rows are checkpointed,
        # so the candidate join runs exactly once per step; answered
        # queries' rows ARE this step's output, and the unanswered rank-1
        # rows (one per straggler) carry their coordinates to the next step.
        done = F.count(ref_id).over(w_q) == k
        if b2 is not None:
            done = done & (F.max("dist").over(w_q) < F.lit(b2))
        straggler = (F.col("rank") == 1) & ~F.col("__ok")
        ranked, m = checkpoint(
            topk.select(*cols, "q_lat", "q_lon", done.alias("__ok")),
            n=F.count(F.when(straggler, 1)),
        )
        rounds.append(ranked.filter(F.col("__ok")).select(*out))
        remaining = ranked.filter(straggler).select(query_id, "q_lat", "q_lon")
        if round_stats is not None:
            round_stats.append((rg, m["n"]))
        if m["n"] == 0:
            break
    return reduce(DataFrame.unionByName, rounds)


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    bin_size: float,
    on: list[str] | None = None,
) -> DataFrame:
    """RANGE (interval) join via binning (engine addition, task-brief
    "operators Spark lacks"): inner-join every point row to every
    interval row with lo <= value <= hi (optionally also matching ``on``
    equi-keys).

    Spark plans the naive ``v between lo and hi`` theta-join as a
    BroadcastNestedLoopJoin / CartesianProduct — O(|points| x
    |intervals|) comparisons. Here both sides bin by value:
    points get bin = floor(v / bin_size); each interval replicates into
    ONLY the ceil(len/bin_size)+1 bins it overlaps (a JVM ``sequence`` +
    ``explode``, no UDF); the join is an equi-join on (keys..., bin) and
    the exact between refines the matches. The shuffle key is the bin:
    at 100 TB pick bin_size near the median interval length so the
    replication factor stays ~2 and hot bins fall to AQE skew-split.
    Inner semantics only; intervals with hi < lo are dropped (they can
    match nothing, and Spark's ``sequence`` would enumerate DESCENDING
    for them, silently binning garbage).
    """
    tmp = _free_name("__bin", points, intervals)
    v = F.col(value_col)
    lo, hi = F.col(lo_col), F.col(hi_col)
    p = points.withColumn(tmp, F.floor(v / F.lit(bin_size)).cast("long"))
    i = intervals.filter(hi >= lo).withColumn(
        tmp,
        F.explode(
            F.sequence(
                F.floor(lo / F.lit(bin_size)).cast("long"),
                F.floor(hi / F.lit(bin_size)).cast("long"),
            )
        ),
    )
    keys = (on or []) + [tmp]
    return p.join(i, keys, "inner").filter((v >= lo) & (v <= hi)).drop(tmp)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts_col: str,
    right_cols: list[str],
    tiebreak_col: str | None = None,
    inclusive: bool = True,
) -> DataFrame:
    """AS-OF join (engine addition, north-star training-pipeline op): each
    left row gains the ``right_cols`` of the LATEST right row with the
    same ``on`` keys and right.ts <= left.ts (< when ``inclusive`` is
    False); NULL when no prior right row exists.

    Distributed shape — the classic union + running last_value plan:
    both sides are tagged and unioned, then ONE window partitioned by the
    join keys and ordered by (ts, side, tiebreak) carries the right row
    forward with ``last(ignorenulls)``. The right columns travel as ONE
    struct, not independently: a right row whose ``right_cols`` contain
    NULLs must still win as a whole (per-column carry would mix fields
    from DIFFERENT right rows — the struct itself is non-null for every
    right row, so ignorenulls skips only left rows). Exactly one shuffle
    (on the join keys), no per-key loops, no range-join explosion: at
    100 TB the cost is a sort within each key partition, and skewed keys
    fall to AQE like any other window. ``tiebreak_col`` makes the pick
    deterministic when several right rows share a timestamp (the highest
    tiebreak value wins).
    """
    clash = set(right_cols) & set(left.columns)
    if clash:
        raise ValueError(
            f"asof_join right_cols {sorted(clash)} collide with left columns; "
            "rename one side before joining"
        )
    side = "__asof_side"
    tb = "__asof_tb"
    rstruct = "__asof_r"
    # a right row with NULL ts can never satisfy right.ts <= left.ts —
    # drop it up front (Spark's asc sort is NULLS FIRST, so an unfiltered
    # NULL-ts right row would otherwise be carried to EVERY left row).
    # NULL join keys likewise: Window.partitionBy groups NULLs together,
    # so an unfiltered NULL-keyed right row would match NULL-keyed left
    # rows — SQL equi-join semantics (and the oracle) never match NULL.
    right_keep = F.col(ts_col).isNotNull()
    for key in on:
        right_keep = right_keep & F.col(key).isNotNull()
    right_sel = right.filter(right_keep).select(
        *on,
        F.col(ts_col),
        F.struct(*[F.col(c) for c in right_cols]).alias(rstruct),
        F.lit(0).alias(side),
        (F.col(tiebreak_col) if tiebreak_col else F.lit(0)).alias(tb),
    )
    left_sel = left.withColumn(side, F.lit(1)).withColumn(tb, F.lit(0))
    u = left_sel.unionByName(right_sel, allowMissingColumns=True)
    # inclusive: right rows at equal ts sort BEFORE left (side 0 < 1) and
    # are visible; exclusive: left first at equal ts, so they are not
    side_order = F.col(side).asc() if inclusive else F.col(side).desc()
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col(ts_col).asc(), side_order, F.col(tb).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select("*", F.last(F.col(rstruct), ignorenulls=True).over(w).alias("__r"))
    out = carried.filter(F.col(side) == 1).select(
        *[c for c in left.columns], *[F.col(f"__r.{c}").alias(c) for c in right_cols]
    )
    return out
