"""``gdal_translate`` (apps/gdal_translate_lib.cpp:621) and ``gdal raster
calc`` (apps/gdalalg_raster_calc.cpp) as tile-DataFrame transforms.

- translate: source window crop + resize (via the affine warp on an
  adjusted geotransform — exactly how GDALTranslate resolves -srcwin/
  -outsize), dtype cast with the GDALCopyWords rounding rule, and linear
  -scale (src range → dst range).
- calc: per-pixel band algebra — multiple band tile-frames equi-join on
  block coords, NumPy expression per block (the VRT pixel-function model,
  frmts/vrt/pixelfunctions.cpp, with the user function vectorized).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gdal_spark.raster.model import RasterMeta, TILES_SCHEMA
from gdal_spark.raster.warp import warp_affine


def _cast_np(arr: np.ndarray, dtype: str) -> np.ndarray:
    """GDALCopyWords float→int rule: round half away via +0.5 floor,
    clamp to the target range (gcore/rasterio machinery)."""
    if np.issubdtype(np.dtype(dtype), np.integer):
        info = np.iinfo(dtype)
        v = np.floor(arr.astype(np.float64) + 0.5)
        return np.clip(v, info.min, info.max).astype(dtype)
    return arr.astype(dtype)


def translate(
    tiles: DataFrame,
    meta: RasterMeta,
    src_win: tuple | None = None,      # (xoff, yoff, xsize, ysize)
    out_size: tuple | None = None,     # (width, height)
    out_dtype: str | None = None,
    scale: tuple | None = None,        # (src0, src1, dst0, dst1)
) -> tuple[DataFrame, RasterMeta]:
    """Crop/resize/cast/scale of band 1, nearest-neighbour sampled.
    Returns (tiles, out_meta)."""
    xoff, yoff, xsize, ysize = src_win or (0, 0, meta.width, meta.height)
    ow, oh = out_size or (xsize, ysize)
    g = meta.gt
    # output geotransform: origin at window corner, res scaled (translate_lib)
    ox = g[0] + xoff * g[1] + yoff * g[2]
    oy = g[3] + xoff * g[4] + yoff * g[5]
    fx = xsize / ow
    fy = ysize / oh
    dst_gt = (ox, g[1] * fx, g[2] * fy, oy, g[4] * fx, g[5] * fy)
    dtype = out_dtype or meta.dtype
    dst_meta = RasterMeta(
        width=ow, height=oh, dtype=dtype, block_w=meta.block_w, block_h=meta.block_h,
        gt=dst_gt, nodata=meta.nodata, bands=meta.bands,
    )
    warped = warp_affine(tiles, meta, RasterMeta(
        width=ow, height=oh, dtype="float64", block_w=meta.block_w,
        block_h=meta.block_h, gt=dst_gt,
    ))

    if scale:
        s0, s1, d0, d1 = scale
        k = (d1 - d0) / (s1 - s0)

    def finish(iterator):
        for pdf in iterator:
            rows = []
            for _, r in pdf.iterrows():
                arr = np.frombuffer(r.data, dtype="float64").reshape(r.h, r.w)
                if scale:
                    arr = (arr - s0) * k + d0
                out = _cast_np(arr, dtype)
                rows.append((int(r.band), int(r.block_y), int(r.block_x),
                             int(r.h), int(r.w), out.tobytes()))
            yield pd.DataFrame(rows, columns=["band", "block_y", "block_x", "h", "w", "data"])

    return warped.mapInPandas(finish, TILES_SCHEMA), dst_meta


def translate_np(
    src: np.ndarray, meta: RasterMeta, src_win=None, out_size=None,
    out_dtype=None, scale=None,
) -> np.ndarray:
    """Single-node oracle via the warp oracle + same cast/scale."""
    from gdal_spark.raster.warp import warp_affine_np

    xoff, yoff, xsize, ysize = src_win or (0, 0, meta.width, meta.height)
    ow, oh = out_size or (xsize, ysize)
    g = meta.gt
    ox = g[0] + xoff * g[1] + yoff * g[2]
    oy = g[3] + xoff * g[4] + yoff * g[5]
    fx = xsize / ow
    fy = ysize / oh
    dst_gt = (ox, g[1] * fx, g[2] * fy, oy, g[4] * fx, g[5] * fy)
    dst_meta = RasterMeta(width=ow, height=oh, dtype="float64",
                          block_w=meta.block_w, block_h=meta.block_h, gt=dst_gt)
    arr = warp_affine_np(src, meta, dst_meta)
    if scale:
        s0, s1, d0, d1 = scale
        arr = (arr - s0) * (d1 - d0) / (s1 - s0) + d0
    return _cast_np(arr, out_dtype or meta.dtype)


def raster_calc(
    band_tiles: dict[str, DataFrame],
    meta: RasterMeta,
    fn,
    out_dtype: str = "float64",
) -> DataFrame:
    """Per-pixel algebra over aligned bands: fn(dict[name → ndarray]) →
    ndarray, written as band 1. Bands equi-join on (block_y, block_x) — co-partitioned, one
    shuffle, no Python until the per-block NumPy call."""
    names = list(band_tiles)
    joined = None
    for name in names:
        t = band_tiles[name].select(
            "block_y", "block_x", "h", "w", F.col("data").alias(f"data_{name}")
        )
        joined = t if joined is None else joined.join(t.drop("h", "w"), ["block_y", "block_x"])
    dtype = meta.dtype

    def compute(iterator):
        for pdf in iterator:
            rows = []
            for _, r in pdf.iterrows():
                arrs = {
                    n: np.frombuffer(r[f"data_{n}"], dtype=dtype).reshape(r.h, r.w).astype(np.float64)
                    for n in names
                }
                out = _cast_np(np.asarray(fn(arrs), dtype=np.float64), out_dtype)
                rows.append((1, int(r.block_y), int(r.block_x), int(r.h), int(r.w), out.tobytes()))
            yield pd.DataFrame(rows, columns=["band", "block_y", "block_x", "h", "w", "data"])

    return joined.mapInPandas(compute, TILES_SCHEMA)


def reclassify_np(arr: np.ndarray, mappings, default=None) -> np.ndarray:
    """``gdal raster reclassify`` semantics (apps/gdalalg_raster_reclassify
    .cpp; VRT reclassify pixel function): map [lo, hi) ranges to values;
    first matching range wins; unmatched pixels keep their value, or take
    ``default`` when given."""
    a = arr.astype(np.float64)
    out = a.copy() if default is None else np.full_like(a, float(default))
    done = np.zeros(a.shape, dtype=bool)
    for lo, hi, val in mappings:
        m = ~done & (a >= lo) & (a < hi)
        out[m] = val
        done |= m
    return out


def reclassify(
    tiles: DataFrame, meta: RasterMeta, mappings, default=None
) -> DataFrame:
    """Distributed reclassify of band 1: pure per-tile NumPy, no halo, no
    shuffle."""
    dtype = meta.dtype

    def go(iterator):
        for pdf in iterator:
            rows = []
            for _, r in pdf.iterrows():
                arr = np.frombuffer(r.data, dtype=dtype).reshape(r.h, r.w)
                out = reclassify_np(arr, mappings, default)
                rows.append((int(r.band), int(r.block_y), int(r.block_x),
                             int(r.h), int(r.w), out.tobytes()))
            yield pd.DataFrame(
                rows, columns=["band", "block_y", "block_x", "h", "w", "data"]
            )

    return tiles.filter(F.col("band") == 1).mapInPandas(go, TILES_SCHEMA)
