"""Reference results computed without the engine, and the output checks.

The references are recomputed from the generated parquet inputs with
DuckDB and numpy only. Tile and projection formulas come from the SQL
restatements in ``convert_spark.functions.exprs`` (the ones the repo's
query oracles use); nothing else of the engine runs here.

Every ``check_*`` returns a list of problems; an empty list means the
output is correct.
"""

from __future__ import annotations

import json

import duckdb
import numpy as np
import pandas as pd

from convert_spark.functions import exprs

# the page mention grammar the generator writes (restated, not imported)
MENTION_RE = (
    r"geo:(-?[0-9]+\.[0-9]+),(-?[0-9]+\.[0-9]+)"
    r"|lat (-?[0-9]+(?:\.[0-9]+)?) lon (-?[0-9]+(?:\.[0-9]+)?)"
)
BBOX_TOL_M = 0.015  # EPSG:3857 values are cm-rounded; allow one rounding step


def _files(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def mention_points(page_files: list[str], zoom: int) -> pd.DataFrame:
    """Every coordinate mention with its 3857 projection and tile."""
    pat = MENTION_RE.replace("'", "''")
    g = [f"regexp_extract(s, '{pat}', {i})" for i in range(5)]
    sql = f"""
    with m as (
      select unnest(regexp_extract_all(text, '{pat}', 0)) as s
      from read_parquet({_files(page_files)})
    ), p as (
      select cast(case when {g[1]} <> '' then {g[1]} else {g[3]} end as double) as lat,
             cast(case when {g[2]} <> '' then {g[2]} else {g[4]} end as double) as lon
      from m
    )
    select lat, lon,
           {exprs.sql_to3857_x('lon', 'lat')} as x, {exprs.sql_to3857_y('lon', 'lat')} as y,
           {exprs.sql_tile_x('lon', zoom)} as tx, {exprs.sql_tile_y('lat', zoom)} as ty
    from p where lat is not null and lon is not null and not isnan(lat) and not isnan(lon)
    """
    df = duckdb.connect().execute(sql).fetchdf()
    df["cell_id"] = morton(df["tx"].to_numpy(), df["ty"].to_numpy(), zoom)
    return df


def morton(tx: np.ndarray, ty: np.ndarray, zoom: int) -> np.ndarray:
    """Zoom-prefixed Morton cell id: 4^zoom + interleave(tx, ty)."""

    def spread(v: np.ndarray) -> np.ndarray:
        v = v.astype(np.uint64)
        for shift, mask in ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF), (4, 0x0F0F0F0F0F0F0F0F),
                            (2, 0x3333333333333333), (1, 0x5555555555555555)):
            v = (v | (v << np.uint64(shift))) & np.uint64(mask)
        return v

    return (np.uint64(1 << (2 * zoom)) + spread(tx) + (spread(ty) << np.uint64(1))).astype(np.int64)


def tile_reference(points: pd.DataFrame) -> pd.DataFrame:
    """Per tile: point count and bbox, indexed by cell id."""
    return points.groupby("cell_id").agg(
        n_points=("x", "size"), lx=("x", "min"), rx=("x", "max"), ly=("y", "min"), uy=("y", "max")
    )


def pip_reference(points: pd.DataFrame, polygons: pd.DataFrame) -> dict:
    """Point count per polygon id (``None``: points in no polygon). Every
    polygon is an axis-aligned rectangle, optionally with one rectangular
    hole, and no point lies on an edge."""
    lat, lon = points["lat"].to_numpy(), points["lon"].to_numpy()
    hits = np.zeros(len(points), dtype=np.int64)
    out = {}
    for pid, rings in zip(polygons["poly_id"], polygons["rings"]):
        inside = _in_rect(lat, lon, rings[0])
        for hole in rings[1:]:
            inside &= ~_in_rect(lat, lon, hole)
        if inside.any():
            out[int(pid)] = int(inside.sum())
        hits += inside
    out[None] = int((hits == 0).sum())
    return out


def _in_rect(lat: np.ndarray, lon: np.ndarray, ring) -> np.ndarray:
    xs = [v[0] for v in ring]
    ys = [v[1] for v in ring]
    return (lon > min(xs)) & (lon < max(xs)) & (lat > min(ys)) & (lat < max(ys))


def check_tiles(ref: pd.DataFrame, got: pd.DataFrame) -> list[str]:
    """``got``: a tile_datasets output (cell_id, n_points, lx, rx, ly, uy)."""
    g = got.set_index("cell_id")
    if not g.index.is_unique:
        return ["duplicate tiles"]
    if set(g.index) != set(ref.index):
        return [f"tile set differs: {len(set(g.index) ^ set(ref.index))} tiles"]
    g = g.loc[ref.index]
    bad = []
    if not np.array_equal(g["n_points"].to_numpy(), ref["n_points"].to_numpy()):
        bad.append("n_points differ")
    for c in ("lx", "rx", "ly", "uy"):
        if not np.allclose(g[c].to_numpy(), ref[c].to_numpy(), rtol=0, atol=BBOX_TOL_M):
            bad.append(f"bbox {c} differs")
    return bad


def check_pip(ref: dict, poly_ids: pd.Series) -> list[str]:
    counts = poly_ids.value_counts(dropna=True).to_dict()
    got = {int(k): int(v) for k, v in counts.items()}
    got[None] = int(poly_ids.isna().sum())
    return [] if got == ref else ["per-polygon PIP counts differ"]


def check_json(ref: pd.DataFrame, docs: pd.DataFrame) -> list[str]:
    """Every tile has one document holding exactly its points."""
    if len(docs) != len(ref):
        return [f"{len(docs)} documents for {len(ref)} tiles"]
    n = docs.set_index("cell_id")["dataset_json"].map(lambda d: len(json.loads(d)["points"]))
    return [] if n.reindex(ref.index).eq(ref["n_points"]).all() else ["document point counts differ"]


def knn_reference(queries: str, refs: str, k: int, zoom: int, schedule: list[int]) -> pd.DataFrame:
    """The ring-doubling kNN contract, restated in SQL: candidates are refs within Chebyshev tile distance
    ``schedule[-1]``; a query uses the smallest radius of ``schedule`` that
    holds at least ``k`` candidates; rank by squared planar degree distance,
    ties by ref id."""
    n = 1 << zoom
    wrap = f"least((q.tx - r.tx + {n}) % {n}, (r.tx - q.tx + {n}) % {n})"
    radius = " ".join(
        f"when count(*) filter (where cheb <= {rad}) >= {k} then {rad}" for rad in schedule[:-1]
    )
    sql = f"""
    with q as (
      select query_id, lat, lon, {exprs.sql_tile_x('lon', zoom)} as tx, {exprs.sql_tile_y('lat', zoom)} as ty
      from read_parquet('{queries}')
    ), r as (
      select ref_id, lat, lon, {exprs.sql_tile_x('lon', zoom)} as tx, {exprs.sql_tile_y('lat', zoom)} as ty
      from read_parquet('{refs}')
    ), cand as (
      select q.query_id, r.ref_id, greatest(abs(q.ty - r.ty), {wrap}) as cheb,
             (q.lat - r.lat) * (q.lat - r.lat) + (q.lon - r.lon) * (q.lon - r.lon) as d2
      from q join r on abs(q.ty - r.ty) <= {schedule[-1]} and {wrap} <= {schedule[-1]}
    ), chosen as (
      select query_id, case {radius} else {schedule[-1]} end as rsel from cand group by query_id
    )
    select query_id, ref_id, rank from (
      select c.query_id, c.ref_id,
             row_number() over (partition by c.query_id order by c.d2, c.ref_id) as rank
      from cand c join chosen ch on c.query_id = ch.query_id and c.cheb <= ch.rsel
    ) where rank <= {k}
    """
    return duckdb.connect().execute(sql).fetchdf()


def near_dup_reference(refs: str, eps: float) -> pd.DataFrame:
    """Ordered pairs of distinct refs closer than ``eps`` degrees."""
    sql = f"""
    select a.ref_id as a, b.ref_id as b from read_parquet('{refs}') a join read_parquet('{refs}') b
      on b.lat > a.lat - {eps} and b.lat < a.lat + {eps} and abs(a.lon - b.lon) < {eps} and a.ref_id <> b.ref_id
    where (a.lat - b.lat) * (a.lat - b.lat) + (a.lon - b.lon) * (a.lon - b.lon) < {eps * eps}
    """
    return duckdb.connect().execute(sql).fetchdf()


def check_knn(ref: pd.DataFrame, got: pd.DataFrame) -> list[str]:
    """``got``: the knn_join output (query_id, ref_id, rank)."""
    key = ["query_id", "ref_id", "rank"]
    want = ref[key].astype("int64").sort_values(key).reset_index(drop=True)
    have = got[key].astype("int64").sort_values(key).reset_index(drop=True)
    return [] if want.equals(have) else [f"kNN rows differ from the reference ({len(have)} vs {len(want)})"]


def check_pairs(ref: pd.DataFrame, got: pd.DataFrame) -> list[str]:
    want = set(zip(ref["a"], ref["b"]))
    have = set(zip(got["query_id"], got["ref_id"]))
    return [] if want == have and len(got) == len(want) else ["near-duplicate pairs differ"]


def union_find(a: np.ndarray, b: np.ndarray) -> dict[int, int]:
    """node -> minimum node id of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in zip(a.tolist(), b.tolist()):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in list(parent)}


def check_components(pairs: pd.DataFrame, got: pd.DataFrame) -> list[str]:
    want = union_find(pairs["query_id"].to_numpy(), pairs["ref_id"].to_numpy())
    if len(got) != len(want) or got["node"].nunique() != len(got):
        return [f"{len(got)} membership rows for {len(want)} nodes"]
    have = dict(zip(got["node"].tolist(), got["component"].tolist()))
    return [] if have == want else ["component ids differ from union-find"]
