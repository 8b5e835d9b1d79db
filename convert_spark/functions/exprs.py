"""Catalyst column expressions for the geo hot path — no Python UDFs.

Everything here compiles to JVM whole-stage codegen; the same formulas are
re-stated in ANSI SQL by ``oracle_fragments`` so the DuckDB oracle can
verify tile assignment and projection end-to-end (SURVEY.md §5.3).

Parity: kernels.mercator / kernels.quadkey implement the identical math in
numpy; tests/test_spark_geo.py asserts expression == kernel on random data.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

R_EARTH = 6378137.0
LAT_MIN = -85.05112878
LAT_MAX = 85.05112878


def round_half_away(col: Column, decimals: int) -> Column:
    """Go math.Round parity (half away from zero) at ``decimals``.

    Exact form floor(a) + (a - floor(a) >= 0.5): floor(a + 0.5) misrounds
    when the addition crosses the half boundary (see kernels.mercator)."""
    scale = float(10**decimals)
    a = F.abs(col) * F.lit(scale)
    f = F.floor(a)
    r = f + F.when(a - f >= 0.5, F.lit(1)).otherwise(F.lit(0))
    return F.signum(col) * r / F.lit(scale)


def is_degrees(x: Column, y: Column) -> Column:
    """Value-range CRS inference (convert.go:1258, 1270)."""
    return (F.abs(x) <= 180.0) & (F.abs(y) <= 180.0)


def to3857_x(x: Column, y: Column) -> Column:
    mx = F.lit(R_EARTH) * F.radians(x)
    return round_half_away(F.when(is_degrees(x, y), mx).otherwise(x), 2)


def to3857_y(x: Column, y: Column) -> Column:
    import math

    my = F.lit(R_EARTH) * F.log(F.tan(F.lit(math.pi / 4.0) + F.radians(y) / F.lit(2.0)))
    return round_half_away(F.when(is_degrees(x, y), my).otherwise(y), 2)


def to4326_lon(x: Column, y: Column) -> Column:
    lon = F.degrees(x / F.lit(R_EARTH))
    return F.when(is_degrees(x, y), x).otherwise(round_half_away(lon, 4))


def to4326_lat(x: Column, y: Column) -> Column:
    import math

    lat = F.degrees(F.lit(2.0) * F.atan(F.exp(y / F.lit(R_EARTH))) - F.lit(math.pi / 2.0))
    return F.when(is_degrees(x, y), y).otherwise(round_half_away(lat, 4))


def tile_x(lon: Column, zoom: int) -> Column:
    n = 1 << zoom
    lon_c = F.greatest(F.least(lon, F.lit(180.0)), F.lit(-180.0))
    t = F.floor((lon_c + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))).cast("long")
    return F.greatest(F.least(t, F.lit(n - 1)), F.lit(0))


def tile_y(lat: Column, zoom: int) -> Column:
    import math

    n = 1 << zoom
    lat_c = F.greatest(F.least(lat, F.lit(LAT_MAX)), F.lit(LAT_MIN))
    lr = F.radians(lat_c)
    merc = F.log(F.tan(lr) + F.lit(1.0) / F.cos(lr))
    t = F.floor((F.lit(1.0) - merc / F.lit(math.pi)) / F.lit(2.0) * F.lit(float(n))).cast("long")
    return F.greatest(F.least(t, F.lit(n - 1)), F.lit(0))


def morton_cell(tx: Column, ty: Column, zoom: int) -> Column:
    """Zoom-prefixed Morton cell id — matches kernels.quadkey.cell_id:
    the marker bit 2z OR, per tile bit i < z, bit i of ``tx`` at 2i and
    of ``ty`` at 2i + 1. One term per bit references each input once, so
    the expression, and any predicate Catalyst pastes it into, stays
    linear in ``zoom``.

    Supported for zoom <= 30 (marker and bits stay in int64; the numpy
    kernel caps at 26) — parity-tested against the kernel's interleave
    through zoom 30 (tests/test_spark_pipeline.py)."""
    if zoom > 30:
        raise ValueError("expression morton_cell supports zoom <= 30")
    cell = F.lit(1 << (2 * zoom)).cast("long")
    for i in range(zoom):
        bit = F.lit(1 << i).cast("long")
        cell = cell.bitwiseOR(F.shiftleft(tx.bitwiseAND(bit), i)).bitwiseOR(F.shiftleft(ty.bitwiseAND(bit), i + 1))
    return cell


def cell_parent(cell: Column, steps: int = 1) -> Column:
    return F.shiftright(cell, 2 * steps)


def _compress_bits(c: Column) -> Column:
    """Inverse of morton_cell's interleave over the FULL long Morton
    range: gather bits at even positions of a 64-bit value into a compact
    32-bit value — five shift/or/mask rounds. Covers everything the
    encoders produce: the expression-side morton_cell encodes through
    zoom 30 and the numpy kernel
    (kernels.quadkey) through zoom 26; the old 32-bit masks silently
    dropped the high Morton bits past zoom 16."""
    c = c.bitwiseAND(F.lit(0x5555555555555555))
    c = c.bitwiseOR(F.shiftright(c, 1)).bitwiseAND(F.lit(0x3333333333333333))
    c = c.bitwiseOR(F.shiftright(c, 2)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    c = c.bitwiseOR(F.shiftright(c, 4)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    c = c.bitwiseOR(F.shiftright(c, 8)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    c = c.bitwiseOR(F.shiftright(c, 16)).bitwiseAND(F.lit(0x00000000FFFFFFFF))
    return c


def cell_zoom(cell: Column) -> Column:
    """Zoom of a (possibly multi-zoom) Morton cell id — EXACT bit length
    via the binary string, no float log: cell = 4^z + morton with
    morton < 4^z, so floor(log2(cell)) = 2z."""
    return ((F.length(F.conv(cell, 10, 2)) - F.lit(1)) / F.lit(2)).cast("int")


def _cell_morton(cell: Column) -> Column:
    marker = F.pow(F.lit(2.0), (cell_zoom(cell) * 2).cast("double")).cast("long")
    return cell - marker


def cell_tx(cell: Column) -> Column:
    return _compress_bits(_cell_morton(cell)).cast("long")


def cell_ty(cell: Column) -> Column:
    return _compress_bits(F.shiftright(_cell_morton(cell), 1)).cast("long")


# --- ANSI-SQL restatements for the DuckDB oracle -----------------------------


def sql_tile_x(lon_expr: str, zoom: int) -> str:
    n = 1 << zoom
    return (
        f"greatest(least(cast(floor((greatest(least({lon_expr}, 180.0), -180.0) + 180.0)"
        f" / 360.0 * {n}) as bigint), {n - 1}), 0)"
    )


def sql_tile_y(lat_expr: str, zoom: int) -> str:
    n = 1 << zoom
    lat_c = f"greatest(least({lat_expr}, {LAT_MAX}), {LAT_MIN})"
    merc = f"ln(tan(radians({lat_c})) + 1.0/cos(radians({lat_c})))"
    return f"greatest(least(cast(floor((1.0 - {merc}/pi()) / 2.0 * {n}) as bigint), {n - 1}), 0)"


def sql_round_half_away(expr: str, decimals: int) -> str:
    scale = float(10**decimals)
    a = f"(abs({expr}) * {scale})"
    return (
        f"(sign({expr}) * (floor({a}) + case when {a} - floor({a}) >= 0.5 then 1 else 0 end) / {scale})"
    )


def sql_to3857_x(x: str, y: str) -> str:
    deg = f"(abs({x}) <= 180.0 and abs({y}) <= 180.0)"
    mx = f"({R_EARTH} * radians({x}))"
    return sql_round_half_away(f"(case when {deg} then {mx} else {x} end)", 2)


def sql_to3857_y(x: str, y: str) -> str:
    deg = f"(abs({x}) <= 180.0 and abs({y}) <= 180.0)"
    my = f"({R_EARTH} * ln(tan(pi()/4.0 + radians({y})/2.0)))"
    return sql_round_half_away(f"(case when {deg} then {my} else {y} end)", 2)


def sql_to4326_lon(x: str, y: str) -> str:
    deg = f"(abs({x}) <= 180.0 and abs({y}) <= 180.0)"
    lon = sql_round_half_away(f"degrees({x} / {R_EARTH})", 4)
    return f"(case when {deg} then {x} else {lon} end)"


def sql_to4326_lat(x: str, y: str) -> str:
    deg = f"(abs({x}) <= 180.0 and abs({y}) <= 180.0)"
    lat = sql_round_half_away(f"degrees(2.0 * atan(exp({y} / {R_EARTH})) - pi()/2.0)", 4)
    return f"(case when {deg} then {y} else {lat} end)"
