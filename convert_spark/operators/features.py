"""The converter pipeline: features -> normalized geometry -> drape mesh ->
per-dataset MineAR Datasets JSON.

This is the distributed re-expression of the reference's per-file
conversion (DatasetFrom{CSV,GEOJSON,KML,GPX} finalize path):

* ``normalize_features`` = ParseNestedGeom (convert.go:839-921): every
  vertex through CheckCoords (project to 3857 cm-rounded; 2D vertices get
  DEM z sampled at the ORIGINAL coords; 3D keep z); a bad vertex errors
  the whole feature (GeoJSON semantics, convert.go:653-656).
* bbox aggregation = BBOXListener (convert.go:1099-1134), computed inside
  ``assemble_datasets``' per-dataset group as the min/max over the
  projected vertices (pre-drape ring vertices included, drape clouds
  excluded — matching the channel feed order).
* ``drape_meshes`` = the Polygon/MultiPolygon 2D drape
  (convert.go:711-730, 751-783): DEM pointcloud over the outer geometry
  (MultiPolygon samples part [0] only — quirk at convert.go:754), PIP
  pre-filter vs the full multipolygon, Bowyer-Watson Delaunay, centroid
  PIP verification (VerifyDelaunay, convert.go:979-1020), vertices
  projected to 3857 (PointcloudTo3857, convert.go:1064-1071). Failures
  warn-and-keep-ring-points (goto FinalizePoly semantics).
* ``assemble_datasets`` = getCenter (exact formula ``rx - (rx-lx)/2``,
  convert.go:1137-1148) + s2covering + Go-tagged JSON marshal
  (struct tags at convert.go:29-80), features in canonical feature_idx
  order (the reference's goroutine order is a data race — SURVEY.md §3.2).

The pointcloud sampler replaces the external ``srtm.ElevationFromPolygon``
(a GDAL-backed library not present in-sandbox): a deterministic K x K grid
over the outer-ring bbox sampled from the synthetic DEM (kernels.dem).
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import coords
from ..kernels import delaunay as delaunay_kernel
from ..kernels import dem as dem_kernel
from ..kernels import geometrics, pip
from ..kernels import mercator
from ..kernels import s2 as s2_kernel
from ..sources import FEATURES_SCHEMA

NORMALIZED_SCHEMA = FEATURES_SCHEMA + ", verts_raw array<array<double>>"
MESH_SCHEMA = (
    "dataset_id string, feature_idx long, vertices array<array<double>>, indices array<int>"
)
CLOUD_K = 10  # K x K DEM samples over the outer bbox (sampler spec above)


def _check_verts(verts: np.ndarray) -> np.ndarray | None:
    """CheckCoords over a feature's vertex array; None if any vertex bad.

    z handling is PER VERTEX, like the reference (ParseNestedGeom calls
    CheckCoords per coordinate, convert.go:862-875): a mixed-arity
    geometry DEM-fills exactly its 2D vertices (NaN pad = missing z) and
    keeps provided z on its 3D ones. ``had_z`` (first-vertex arity) only
    gates the drape path (convert.go:711), not z filling. Empty
    geometries are dropped (the reference crashes later or emits
    degenerate output for these; dropping is the documented divergence).
    """
    if verts.size == 0 or verts.ndim != 2:
        return None
    z = verts[:, 2]
    px, py, pz, valid = coords.check_coords(
        verts[:, 0], verts[:, 1], z, ~np.isnan(z), elev_fn=dem_kernel.get_elev
    )
    if not valid.all():
        return None  # arity < 2 -> feature error
    return np.stack([px, py, pz], axis=1)


def normalize_features(features: DataFrame) -> DataFrame:
    """Project every vertex (ParseNestedGeom); keeps the raw 4326 vertices
    alongside (the drape path needs the original geometry)."""

    def run(batches):
        for pdf in batches:
            keep = []
            proj = []
            verts_col = pdf["verts"].to_numpy()
            for i in range(len(pdf)):
                verts = np.asarray([v for v in verts_col[i]], dtype=np.float64)
                out = _check_verts(verts)
                if out is None:
                    continue  # feature errored -> dropped
                keep.append(i)
                proj.append(out.tolist())
            sub = pdf.iloc[keep].copy()
            sub["verts_raw"] = sub["verts"]
            sub["verts"] = proj
            yield sub

    return features.mapInPandas(run, schema=NORMALIZED_SCHEMA)


def _sample_cloud(outer_rings: list[np.ndarray]) -> np.ndarray:
    """Deterministic DEM pointcloud over the outer geometry's bbox."""
    allv = np.vstack(outer_rings)
    lx, ly = allv[:, 0].min(), allv[:, 1].min()
    rx, uy = allv[:, 0].max(), allv[:, 1].max()
    gx = np.linspace(lx, rx, CLOUD_K)
    gy = np.linspace(ly, uy, CLOUD_K)
    xx, yy = np.meshgrid(gx, gy)
    lon = xx.ravel()
    lat = yy.ravel()
    z = dem_kernel.sample_latlon(lat, lon)
    z = np.where(np.isnan(z), 0.0, z)
    return np.stack([lon, lat, z], axis=1)


def _drape_one(row: pd.Series) -> tuple[list, list] | None:
    """Polygon/MultiPolygon drape; None = failure -> keep ring points."""
    verts = np.asarray([v for v in row["verts_raw"]], dtype=np.float64)
    offs = list(row["ring_offsets"])
    parts = list(row["part_offsets"])
    rings = [verts[offs[r] : offs[r + 1]] for r in range(len(offs) - 1)]
    # geometry as nested rings per part
    nested = [
        [rings[r][:, :2].tolist() for r in range(parts[p], parts[p + 1])]
        for p in range(len(parts) - 1)
    ]
    is_multi = row["geom_kind"] == "multipolygon"
    # sample part [0] only for multipolygons (convert.go:754)
    outer = [rings[r] for r in range(parts[0], parts[1])]
    cloud = _sample_cloud(outer)
    if is_multi:
        inside = pip.point_in_multipolygon(cloud[:, 0], cloud[:, 1], nested)
        cloud = cloud[inside]
    try:
        tris = delaunay_kernel.triangulate(cloud[:, :2])
    except ValueError:
        return None  # reference warns and keeps ring points
    if is_multi:
        cent = geometrics.triangle_centroids(cloud[tris][:, :, :2])
        keep = pip.point_in_multipolygon(cent[:, 0], cent[:, 1], nested)
        tris = tris[keep]
    px, py = mercator.to3857(cloud[:, 0], cloud[:, 1])
    vertices = np.stack([px, py, cloud[:, 2]], axis=1)
    return vertices.tolist(), tris.ravel().astype(int).tolist()


def drape_meshes(normalized: DataFrame) -> DataFrame:
    """Mesh rows for the 2D polygon features (empty output for the rest)."""
    cand = normalized.filter(
        F.col("geom_kind").isin("polygon", "multipolygon") & ~F.col("had_z")
    ).select("dataset_id", "feature_idx", "geom_kind", "verts_raw", "ring_offsets", "part_offsets")

    def run(batches):
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                mesh = _drape_one(row)
                if mesh is None:
                    continue
                rows.append(
                    {
                        "dataset_id": row["dataset_id"],
                        "feature_idx": row["feature_idx"],
                        "vertices": mesh[0],
                        "indices": mesh[1],
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return cand.mapInPandas(run, schema=MESH_SCHEMA)


def _attrs_json(attrs: dict | None, keys=None) -> list[dict]:
    """Attribute array for the Datasets JSON.

    CSV/KML/GPX carry a deterministic source order (column encounter /
    document order, convert.go:554-570, 318-330) in ``attr_keys`` — emit in
    that order. GeoJSON properties come from a Go map (random iteration
    order); those rows carry no key order and canonicalize by sorting
    (documented deviation, SURVEY.md §3.2)."""
    if not attrs:
        return None  # Go nil slice -> JSON null
    if keys is not None and len(keys) > 0:
        ordered = [k for k in keys if k in attrs]
        extra = sorted(k for k in attrs if k not in ordered)
        return [{"key": k, "value": attrs[k]} for k in list(ordered) + extra]
    return [{"key": k, "value": attrs[k]} for k in sorted(attrs)]


def _feature_json(row: pd.Series, meshes: dict) -> tuple[str, dict]:
    verts = [list(v) for v in row["verts"]]
    offs = list(row["ring_offsets"])
    parts = list(row["part_offsets"])
    base = {
        "id": row["feature_id"] or "",
        "name": row["name"] or "",
        "type": row["style_type"] or "",
        "attributes": _attrs_json(row["attributes"], row.get("attr_keys")),
    }
    kind = row["geom_kind"]
    if kind == "point":
        return "points", {**base, "point": verts[0]}
    if kind == "line":
        return "lines", {**base, "points": verts}
    rings = [verts[offs[r] : offs[r + 1]] for r in range(len(offs) - 1)]
    nested = [
        [rings[r] for r in range(parts[p], parts[p + 1])] for p in range(len(parts) - 1)
    ]
    # polygon: one part wrapping all rings (convert.go:735-736); multi: all parts
    shape_points = nested
    mesh = meshes.get(int(row["feature_idx"]))
    if mesh is not None:
        return "shapes", {**base, "points": None, "vertices": mesh[0], "indices": mesh[1]}
    return "shapes", {**base, "points": shape_points, "vertices": None, "indices": None}


def assemble_datasets(
    normalized: DataFrame,
    meshes: DataFrame | None = None,
    dataset_names: dict[str, str] | None = None,
) -> DataFrame:
    """One MineAR Datasets JSON document per dataset_id.

    groupBy(dataset_id).applyInPandas: the reference's finalize step
    (center/covering/marshal) on one small group per dataset. Features in
    feature_idx order (canonical; SURVEY.md §3.2).
    """
    spark_names = dataset_names or {}
    feat = normalized.select(
        "dataset_id", "feature_idx", "geom_kind", "name", "style_type", "feature_id",
        "attributes", "attr_keys", "verts", "ring_offsets", "part_offsets",
    )
    if meshes is not None:
        m = meshes.select(
            "dataset_id",
            "feature_idx",
            F.col("vertices").alias("m_vertices"),
            F.col("indices").alias("m_indices"),
        )
        feat = feat.join(m, ["dataset_id", "feature_idx"], "left")

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        did = key[0]
        pdf = pdf.sort_values("feature_idx")
        # bbox over projected verts (all features)
        allv = np.asarray([v for vs in pdf["verts"] for v in vs], dtype=np.float64)
        if allv.size == 0:
            return pd.DataFrame({"dataset_id": [], "dataset_json": [], "n_features": []})
        lx, rx = allv[:, 0].min(), allv[:, 0].max()
        ly, uy = allv[:, 1].min(), allv[:, 1].max()
        cx = rx - (rx - lx) / 2.0  # exact getCenter formula (convert.go:1141-1142)
        cy = uy - (uy - ly) / 2.0
        cz = float(dem_kernel.get_elev(np.array([cx]), np.array([cy]))[0])
        if np.isnan(cz):
            cz = 0.0
        s2toks = s2_kernel.s2covering_tokens(lx, ly, rx, uy, dem_kernel.get_elev)
        meshes_by_idx = {}
        if "m_vertices" in pdf.columns:
            for _, r in pdf.iterrows():
                if r["m_vertices"] is not None and not (isinstance(r["m_vertices"], float)):
                    meshes_by_idx[int(r["feature_idx"])] = (
                        [list(v) for v in r["m_vertices"]],
                        [int(i) for i in r["m_indices"]],
                    )
        buckets = {"points": [], "lines": [], "shapes": []}
        for _, row in pdf.iterrows():
            slot, obj = _feature_json(row, meshes_by_idx)
            buckets[slot].append(obj)
        doc = {
            "id": "",
            "name": spark_names.get(did, ""),
            "dataurl": "",
            "lastUpdated": "",
            "center": [{"x": cx, "y": cy, "z": cz}],
            # Go marshals a nil []string as JSON null (convert.go:1151-1158
            # returns nil on empty/err bboxes) — never an empty array
            "s2": s2toks or None,
            "points": buckets["points"] or None,
            "lines": buckets["lines"] or None,
            "shapes": buckets["shapes"] or None,
        }
        return pd.DataFrame(
            {
                "dataset_id": [did],
                "dataset_json": [json.dumps(doc, sort_keys=False)],
                "n_features": [len(pdf)],
            }
        )

    return feat.groupBy("dataset_id").applyInPandas(
        assemble, schema="dataset_id string, dataset_json string, n_features long"
    )


def pointcloud_to_dem(pointcloud: np.ndarray) -> dict:
    """S7 PointcloudToDem (convert.go:924-953): pointcloud -> Delaunay mesh
    dataset with TrimDEMEdges artifact removal (perimeter < .0015 in the
    source CRS, convert.go:1049-1052) and 3857 projection. Driver-side
    utility (the distributed form is drape_meshes)."""
    cloud = np.asarray(pointcloud, dtype=np.float64)
    tris = delaunay_kernel.triangulate(cloud[:, :2])
    per = geometrics.triangle_perimeters(cloud[tris][:, :, :2])
    tris = tris[per < 0.0015]
    px, py = mercator.to3857(cloud[:, 0], cloud[:, 1])
    newcloud = np.stack([px, py, cloud[:, 2] if cloud.shape[1] > 2 else np.zeros(len(cloud))], axis=1)
    return {
        "points": [{"point": list(v)} for v in newcloud.tolist()],
        "shapes": [{"vertices": newcloud.tolist(), "indices": tris.ravel().astype(int).tolist()}],
    }


def convert_geojson(spark, dataset_id: str, geojson_text: str, name: str = "") -> dict:
    """End-to-end single-document conversion (the reference's
    DatasetFromGEOJSON shape): returns the Datasets dict."""
    from ..sources.geojson import features_from_geojson

    docs = spark.createDataFrame([(dataset_id, geojson_text)], "dataset_id string, geojson string")
    feats = features_from_geojson(docs)
    norm = normalize_features(feats)
    mesh = drape_meshes(norm)
    out = assemble_datasets(norm, mesh, {dataset_id: name}).collect()
    if not out:
        raise ValueError("no features to parse")  # convert.go:597-599
    return json.loads(out[0]["dataset_json"])
