"""Deterministic shared fixtures for correctness checks.

The driver's oracle (DuckDB) and the Spark engine must see the *same*
polygon coordinates and the same key→point derivation. Everything here is
seeded and pure, so both sides regenerate identical values with no stored
artifacts.
"""

from __future__ import annotations

import numpy as np

from gdal_spark import tiling
from gdal_spark.geometry.index import PolygonSet

POLY_SEED = 1719


def fixture_polygons(n_poly: int = 6, seed: int = POLY_SEED):
    """n pseudo-random star-convex polygons in mercator meters.

    Returns (ids, mercator_rings) with ids 100..100+n-1. Vertex coords are
    rounded to whole meters so their decimal SQL literals are exact.
    """
    rng = np.random.default_rng(seed)
    ids, rings = [], []
    for i in range(n_poly):
        clon = rng.uniform(-150, 150)
        clat = rng.uniform(-55, 55)
        r_deg = rng.uniform(4, 14)
        k = int(rng.integers(5, 9))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        radii = rng.uniform(0.4, 1.0, k) * r_deg
        lon = clon + radii * np.cos(ang)
        lat = np.clip(clat + radii * np.sin(ang), -80, 80)
        mx, my = tiling.lonlat_to_mercator_np(lon, lat)
        ring = np.column_stack([np.round(mx), np.round(my)])
        ring = np.vstack([ring, ring[:1]])
        ids.append(100 + i)
        rings.append([ring])
    return ids, rings


def fixture_polyset(n_poly: int = 6) -> PolygonSet:
    ids, rings = fixture_polygons(n_poly, POLY_SEED)
    return PolygonSet.from_coords(ids, rings)
