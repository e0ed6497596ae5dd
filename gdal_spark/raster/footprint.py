"""gdal_footprint (``apps/gdal_footprint_lib.cpp``; CLI
``gdalalg_raster_footprint.cpp``): compute the footprint of a raster's
valid-data pixels as one (Multi)Polygon feature.

Pipeline (same semantics as the reference, Spark-shaped):

1. valid mask — pixel is valid when != nodata (NaN-aware for float
   rasters); multiple bands combine by ``union`` (any valid, the
   reference default) or ``intersection`` (all valid) — one
   co-partitioned equi-join on block coords via :func:`raster_calc`.
2. polygonize the mask's 1-regions (:func:`polygonize_polygons` — the
   distributed boundary-segment CCL + ring walk).
3. drop rings smaller than ``min_ring_area`` (reference
   ``-min_ring_area``), optionally replace everything with the convex
   hull (``-convex_hull``).
4. one MultiPolygon output feature (the reference emits one feature per
   dataset processed) — the final fold is a single tiny group whose
   input is boundary rings, not pixels.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_spark.raster.model import RasterMeta
from gdal_spark.raster.polygonize import polygonize_polygons
from gdal_spark.raster.translate import raster_calc


def _mask_meta(meta: RasterMeta) -> RasterMeta:
    from dataclasses import replace

    return replace(meta, dtype="uint8", nodata=None, bands=1)


def footprint(
    band_tiles: dict[str, DataFrame],
    meta: RasterMeta,
    combine_bands: str = "union",
    min_ring_area: float = 0.0,
    convex_hull: bool = False,
    geo: bool = True,
) -> DataFrame:
    """Returns a single-row DataFrame (n_polys, n_rings, wkt) holding
    the footprint MultiPolygon. Pixels equal to ``meta.nodata`` (and NaN)
    are invalid; with no nodata every pixel is valid (matching the
    reference when no nodata/mask band exists)."""
    if combine_bands not in ("union", "intersection"):
        raise ValueError("combine_bands must be 'union' or 'intersection'")
    nodata = meta.nodata

    def mask_fn(bands: dict[str, np.ndarray]) -> np.ndarray:
        acc = None
        for arr in bands.values():
            valid = np.ones(arr.shape, dtype=bool)
            if np.issubdtype(arr.dtype, np.floating):
                valid &= ~np.isnan(arr)
            if nodata is not None:
                valid &= arr != nodata
            acc = valid if acc is None else (
                (acc | valid) if combine_bands == "union" else (acc & valid)
            )
        return acc.astype(np.uint8)

    mm = _mask_meta(meta)
    mask_tiles = raster_calc(band_tiles, mm, mask_fn, out_dtype="uint8")
    feats = polygonize_polygons(mask_tiles, mm, exclude_values=(0.0,), geo=geo)

    def fold(key, pdf):
        from gdal_spark.geometry import wkb as W
        from gdal_spark.geometry import wkt as WT
        from gdal_spark.geometry import kernels, ops

        polys = []
        for w in sorted(pdf["wkt"]):
            _name, rings = W.parse_wkb(WT.wkt_to_wkb(w))
            kept = [
                r
                for i, r in enumerate(rings)
                if i == 0 or abs(kernels.ring_area(np.asarray(r, float)))
                >= min_ring_area
            ]
            if abs(kernels.ring_area(np.asarray(kept[0], float))) < min_ring_area:
                continue
            polys.append(kept)
        if convex_hull and polys:
            pts = np.concatenate(
                [np.asarray(r, float) for rings in polys for r in rings]
            )
            _name, hull_rings = ops.convex_hull(("MultiPoint",
                                                 [("Point", tuple(p)) for p in pts]))
            polys = [hull_rings]
        n_rings = sum(len(p) for p in polys)
        geom = ("MultiPolygon", [("Polygon", p) for p in polys])
        return pd.DataFrame(
            [(len(polys), n_rings, WT.geom_to_wkt(*geom))],
            columns=["n_polys", "n_rings", "wkt"],
        )

    return (
        feats.withColumn("__g", F.lit(1))
        .groupBy("__g")
        .applyInPandas(fold, "n_polys INT, n_rings INT, wkt STRING")
    )
