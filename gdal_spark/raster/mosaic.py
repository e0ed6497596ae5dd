"""Mosaic / merge — composite several rasters onto one target grid
(``gdal_merge`` / ``gdal raster mosaic``, apps/gdalalg_raster_mosaic.cpp
semantics: inputs paint in order, LATER INPUTS OVERWRITE earlier ones
where they have valid data; pixels no input covers keep ``init``).

Distribution: each input warps onto the destination grid with the
existing distributed warp (NaN sentinel outside its footprint /
``src_nodata`` masked to NaN), the warped tiles union with a paint-order
tag, and ONE groupBy(block) composites per pixel by highest-order valid
value — a single shuffle keyed by destination block, no driver pixels.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gdal_spark.raster.model import RasterMeta, TILES_SCHEMA
from gdal_spark.raster.warp import warp_affine, warp_affine_np


def _mask_np(arr: np.ndarray, src_nodata) -> np.ndarray:
    if src_nodata is None:
        return arr
    return np.where(arr == src_nodata, np.nan, arr)


def mosaic(
    inputs: list,
    dst_meta: RasterMeta,
    init: float = 0.0,
    src_nodata: float | None = None,
) -> DataFrame:
    """``inputs``: list of (tiles DataFrame, RasterMeta) in paint order
    (later wins), band 1 of each nearest-neighbour sampled. Returns
    float64 band-1 tiles on ``dst_meta``'s grid."""
    if not inputs:
        raise ValueError("mosaic needs at least one input")
    parts = []
    for order, (tiles, meta) in enumerate(inputs):
        w = warp_affine(tiles, meta, dst_meta, init=np.nan)
        parts.append(w.withColumn("__order", F.lit(order)))
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)

    nod = src_nodata

    def composite(key, pdf):
        h, w = int(pdf["h"].iloc[0]), int(pdf["w"].iloc[0])
        out = np.full((h, w), np.nan)
        for r in pdf.sort_values("__order").itertuples():
            a = _mask_np(
                np.frombuffer(r.data, dtype=np.float64).reshape(h, w), nod
            )
            valid = ~np.isnan(a)
            out[valid] = a[valid]
        out = np.where(np.isnan(out), init, out)
        by, bx = int(key[0]), int(key[1])
        return pd.DataFrame(
            [(1, by, bx, h, w, out.tobytes())],
            columns=["band", "block_y", "block_x", "h", "w", "data"],
        )

    return allp.groupBy("block_y", "block_x").applyInPandas(composite, TILES_SCHEMA)


def mosaic_np(
    inputs: list,
    dst_meta: RasterMeta,
    init: float = 0.0,
    src_nodata: float | None = None,
) -> np.ndarray:
    """Single-node oracle: identical warp + later-wins composite.
    ``inputs``: list of (full ndarray, RasterMeta)."""
    out = np.full((dst_meta.height, dst_meta.width), np.nan)
    for arr, meta in inputs:
        w = _mask_np(
            warp_affine_np(arr, meta, dst_meta, init=np.nan), src_nodata
        )
        valid = ~np.isnan(w)
        out[valid] = w[valid]
    return np.where(np.isnan(out), init, out)
