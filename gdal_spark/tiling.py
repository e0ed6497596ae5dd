"""WebMercatorQuad tile-index math — the engine's tile-assignment operator
and its spatial-index cell scheme.

Semantics mirror the reference's ``GetTileIndices``
(apps/gdalalg_raster_tile.cpp:274-342):

    tile = clamp(floor((coord - origin) / tile_span + 1e-3), 0, 2**z - 1)

with the XYZ convention (y grows downward from the top-left origin) and the
TMS y-flip ``GetFileY`` (apps/gdalalg_raster_tile.cpp:348-352):
``tms_y = 2**z - 1 - xyz_y``.

Design for scale: tile assignment is pure column arithmetic (floor/clamp/
log/tan) — it runs inside whole-stage codegen with zero Python involvement
and zero shuffle. The same formula is emitted once as an ANSI-SQL string
(:func:`tile_sql`) used verbatim by BOTH the Spark plan (``F.expr``) and the
DuckDB correctness oracle, so engine and oracle cannot diverge.

Cells double as the join key of every cell join (the PIP cover join and
the kNN ring join): one BIGINT ``cell = z*2^58 + x*2^29 + y`` (z ≤ 29),
emitted by :func:`cell_id_sql` on the Spark side and :func:`cell_id_np` on
the driver side. This module is the only place that spells the packing.
One long key lets Spark build its compact ``LongHashedRelation`` for a
broadcast join instead of the generic two-column ``UnsafeHashedRelation``.
k-ring expansion for kNN offsets (x, y) in tile space and packs the ring
cell afterwards; offsets that leave ``[0, 2^z)`` must be dropped before
packing, because packed keys alias across the row edge (``(x, -1)`` packs
to the key of ``(x-1, 2^29-1)``).
"""

from __future__ import annotations

import math

import numpy as np

# WebMercator (EPSG:3857) world bounds — the WebMercatorQuad TMS definition.
ORIGIN = 20037508.342789244
WORLD_SPAN = 2.0 * ORIGIN
TILE_SIZE = 256
EPSILON = 1e-3  # GetTileIndices epsilon, gdalalg_raster_tile.cpp:297


# ---------------------------------------------------------------------------
# scalar / numpy reference implementations (the single-node oracle)
# ---------------------------------------------------------------------------

def lonlat_to_mercator_np(lon, lat):
    """EPSG:4326 → EPSG:3857 (spherical mercator), vectorized."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = lon * (ORIGIN / 180.0)
    y = np.log(np.tan((90.0 + lat) * (math.pi / 360.0))) / math.pi * ORIGIN
    return x, y


def tile_indices_np(mx, my, z):
    """GetTileIndices math, vectorized: mercator meters → (tile_x, tile_y) xyz.

    floor((x - topLeftX)/tile_span + EPSILON) clamped to [0, 2^z - 1];
    y measured downward from topLeftY = +ORIGIN.
    """
    n = 1 << z
    span = WORLD_SPAN / n
    tx = np.floor((np.asarray(mx, dtype=np.float64) + ORIGIN) / span + EPSILON)
    ty = np.floor((ORIGIN - np.asarray(my, dtype=np.float64)) / span + EPSILON)
    tx = np.clip(tx, 0, n - 1).astype(np.int64)
    ty = np.clip(ty, 0, n - 1).astype(np.int64)
    return tx, ty


def tms_y(xyz_y, z):
    """xyz → tms y flip (GetFileY, gdalalg_raster_tile.cpp:348-352)."""
    return (1 << z) - 1 - xyz_y


def cell_id_np(tx, ty, z):
    """Pack (z, x, y) into one BIGINT join key."""
    return (np.int64(z) << 58) + (np.asarray(tx, dtype=np.int64) << 29) + np.asarray(ty, dtype=np.int64)


def lonlat_to_tile_np(lon, lat, z):
    mx, my = lonlat_to_mercator_np(lon, lat)
    return tile_indices_np(mx, my, z)


def k_ring_offsets(k: int) -> list[tuple[int, int]]:
    """The whole Chebyshev disk of radius k: every offset (dx, dy) with
    max(|dx|, |dy|) <= k, (2k+1)² of them, not only the ring at k.

    The kNN operator explodes each pending query over the disk of its
    round's radius.
    """
    return [(dx, dy) for dx in range(-k, k + 1) for dy in range(-k, k + 1)]


# ---------------------------------------------------------------------------
# SQL emission — one formula, two engines (Spark F.expr + DuckDB oracle)
# ---------------------------------------------------------------------------

def dlit(v: float) -> str:
    """Float literal both Spark and DuckDB parse as DOUBLE (not DECIMAL)."""
    s = repr(float(v))
    return s if ("e" in s or "E" in s or "inf" in s or "nan" in s) else s + "e0"


def mercator_x_sql(lon_expr: str) -> str:
    return f"(({lon_expr}) * {dlit(ORIGIN)} / 180.0e0)"


def mercator_y_sql(lat_expr: str) -> str:
    return (
        f"(ln(tan((90.0e0 + ({lat_expr})) * {dlit(math.pi / 360.0)})) "
        f"/ {dlit(math.pi)} * {dlit(ORIGIN)})"
    )


def tile_x_sql(mx_expr: str, z: int) -> str:
    n = 1 << z
    span = WORLD_SPAN / n
    return (
        f"CAST(LEAST(GREATEST(FLOOR((({mx_expr}) + {dlit(ORIGIN)}) / {dlit(span)} "
        f"+ {dlit(EPSILON)}), 0), {n - 1}) AS BIGINT)"
    )


def tile_y_sql(my_expr: str, z: int) -> str:
    n = 1 << z
    span = WORLD_SPAN / n
    return (
        f"CAST(LEAST(GREATEST(FLOOR(({dlit(ORIGIN)} - ({my_expr})) / {dlit(span)} "
        f"+ {dlit(EPSILON)}), 0), {n - 1}) AS BIGINT)"
    )


def lonlat_tile_sql(lon_expr: str, lat_expr: str, z: int) -> tuple[str, str]:
    """(tile_x_sql, tile_y_sql) straight from lon/lat expressions."""
    return (
        tile_x_sql(mercator_x_sql(lon_expr), z),
        tile_y_sql(mercator_y_sql(lat_expr), z),
    )


def cell_id_sql(tx_expr: str, ty_expr: str, z: int) -> str:
    """Pack (z, x, y) into one BIGINT join key; the SQL twin of :func:`cell_id_np`."""
    return f"(CAST({z} AS BIGINT) * {1 << 58} + ({tx_expr}) * {1 << 29} + ({ty_expr}))"


def mercator_cell_sql(mx_expr: str, my_expr: str, z: int) -> str:
    """The zoom-z cell key of a point given in mercator meters."""
    return cell_id_sql(tile_x_sql(mx_expr, z), tile_y_sql(my_expr, z), z)
