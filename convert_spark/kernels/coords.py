"""Coordinate validation / arity fill — vectorized CheckCoords.

Reference: /root/reference/convert.go:1200-1230 (CheckCoords). The
string->float parse before it (convert.go:557-564, failures become 0.0,
not NULL) is the Catalyst expression ``extract.parse_double_go``.

Row semantics preserved:

* arity < 2 or > 3  -> row invalid (dropped by the caller, convert.go:574-581)
* arity == 2        -> project to 3857, z filled from the DEM (z = 0.0 when
  the DEM lookup fails, convert.go:1214-1216)
* arity == 3        -> project x,y; keep the provided z

The vectorized form takes parallel arrays instead of a per-row slice:
``has_z`` carries the arity (3 vs 2) and a NaN x or y marks arity < 2.
"""

from __future__ import annotations

import numpy as np

from .mercator import to3857


def check_coords(
    x: np.ndarray,
    y: np.ndarray,
    z: np.ndarray,
    has_z: np.ndarray,
    elev_fn=None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized CheckCoords over parallel arrays.

    ``has_z`` is a bool mask (arity 3 vs 2). Rows where x or y is NaN are
    invalid (arity < 2). Returns (X3857, Y3857, Z, valid).

    ``elev_fn(x, y) -> z`` fills missing z from the DEM. NOTE: the
    reference passes the ORIGINAL (pre-projection) coordinates to GetElev
    (convert.go:1213: ``GetElev(coord[0], coord[1])`` before To3857's
    result is used) — GetElev CRS-infers internally — so we sample at the
    originals too. Lookup failures (NaN) become 0.0 (convert.go:1214-1216).
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    z = np.asarray(z, dtype=np.float64)
    has_z = np.asarray(has_z, dtype=bool)

    valid = ~(np.isnan(x) | np.isnan(y))
    px, py = to3857(np.where(valid, x, 0.0), np.where(valid, y, 0.0))

    if elev_fn is not None:
        need = valid & ~has_z
        zfill = np.zeros_like(px)
        if need.any():
            looked = np.asarray(elev_fn(x[need], y[need]), dtype=np.float64)
            zfill[need] = np.where(np.isnan(looked), 0.0, looked)
        out_z = np.where(has_z, z, zfill)
    else:
        out_z = np.where(has_z, z, 0.0)
    out_z = np.where(np.isnan(out_z), 0.0, out_z)
    return px, py, out_z, valid
