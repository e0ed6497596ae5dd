"""``gdal raster tile`` (``apps/gdalalg_raster_tile.cpp``; the classic
``gdal2tiles``): slice a georeferenced raster into a WebMercatorQuad
``{z}/{x}/{y}`` tile tree.

Spark shape per zoom level:

1. the source bounds transform to EPSG:3857 (driver-side corner math)
   and snap outward to the XYZ tile grid — the covering dst window's
   blocks ARE the output tiles (block size = tile size, grid-aligned);
2. :func:`gdal_spark.raster.warp.warp_crs` reprojects into that window
   (the existing distributed need-list warp — every resampler available);
3. each warped block is encoded as a per-tile GeoTIFF
   (:func:`gdal_spark.sources.geotiff.encode_geotiff`) and written ON
   THE EXECUTOR that owns it — no driver pixel I/O at any point, the
   same shape the reference streams through its tiling loop
   single-threaded.

Output tiles are GeoTIFF by default, PNG (``tile_format="png"`` —
the reference CLI's default output; the hand-rolled codec in
sources/png.py), a pixel-identical re-encoding of the same sampled
values, or JPEG (``tile_format="jpg"``, quality 90 — the reference
CLI's web-imagery option; lossy, sources/jpeg.py encoder).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from gdal_spark import tiling
from gdal_spark.raster.model import RasterMeta
from gdal_spark.raster.warp import warp_crs

TILE_SIZE = 256  # pixels per XYZ tile side


def zoom_window(src_meta: RasterMeta, src_crs, zoom: int) -> tuple[RasterMeta, int, int]:
    """Tile-grid-aligned EPSG:3857 window covering the source at this
    zoom. Returns (dst_meta, tile_x0, tile_y0) with dst blocks == XYZ
    tiles of ``TILE_SIZE`` pixels."""
    from gdal_spark.geometry import crs as _crs

    tf = _crs.transformer(src_crs, 3857)
    xs, ys = [], []
    for px, ln in ((0, 0), (src_meta.width, 0), (0, src_meta.height),
                   (src_meta.width, src_meta.height)):
        x, y = src_meta.px_to_geo(px, ln)
        xs.append(x)
        ys.append(y)
    mx, my = tf(np.asarray(xs), np.asarray(ys))
    n = 1 << zoom
    span = tiling.WORLD_SPAN / n
    tx0 = int(np.clip(np.floor((mx.min() + tiling.ORIGIN) / span), 0, n - 1))
    tx1 = int(np.clip(np.floor((mx.max() + tiling.ORIGIN) / span), 0, n - 1))
    ty0 = int(np.clip(np.floor((tiling.ORIGIN - my.max()) / span), 0, n - 1))
    ty1 = int(np.clip(np.floor((tiling.ORIGIN - my.min()) / span), 0, n - 1))
    res = span / TILE_SIZE
    dst_meta = RasterMeta(
        width=(tx1 - tx0 + 1) * TILE_SIZE,
        height=(ty1 - ty0 + 1) * TILE_SIZE,
        dtype=src_meta.dtype,
        block_w=TILE_SIZE,
        block_h=TILE_SIZE,
        gt=(-tiling.ORIGIN + tx0 * span, res, 0.0,
            tiling.ORIGIN - ty0 * span, 0.0, -res),
        nodata=src_meta.nodata,
        bands=1,
    )
    return dst_meta, tx0, ty0


def raster_tile_pyramid(
    src_tiles: DataFrame,
    src_meta: RasterMeta,
    src_crs,
    out_dir: str,
    zooms,
    tile_format: str = "tif",
) -> DataFrame:
    """Write the ``{out_dir}/{z}/{x}/{y}.{tile_format}`` tree for each
    zoom in ``zooms`` (``tif``, ``png`` or ``jpg`` — PNG is the reference CLI's
    default; uint8/uint16 only) from band 1, nearest-neighbour sampled,
    0 outside the source, GeoTIFF tiles deflate-compressed. Returns the
    written-tile summary (z, x, y, path) — one DataFrame unioned over
    levels; each level is an independent distributed warp whose blocks
    land directly in tile files."""
    from gdal_spark.sources.geotiff import encode_geotiff
    from gdal_spark.sources.jpeg import encode_jpeg
    from gdal_spark.sources.png import encode_png

    if tile_format not in ("tif", "png", "jpg"):
        raise ValueError(f"tile_format must be tif, png or jpg, got {tile_format}")
    if tile_format == "png" and np.dtype(src_meta.dtype) not in (
        np.dtype(np.uint8), np.dtype(np.uint16)
    ):
        raise ValueError("png tiles support uint8/uint16 bands only")
    if tile_format == "jpg" and np.dtype(src_meta.dtype) != np.dtype(np.uint8):
        raise ValueError("jpg tiles support uint8 bands only")

    out = None
    for zoom in zooms:
        dst_meta, tx0, ty0 = zoom_window(src_meta, src_crs, zoom)
        warped = warp_crs(src_tiles, src_meta, dst_meta, src_crs, 3857)
        span = tiling.WORLD_SPAN / (1 << zoom)
        res = span / TILE_SIZE

        def emit(iterator, zoom=zoom, dst_meta=dst_meta, tx0=tx0, ty0=ty0,
                 span=span, res=res):
            for pdf in iterator:
                rows = []
                for b, by, bx, h, w, data in zip(
                    pdf["band"], pdf["block_y"], pdf["block_x"],
                    pdf["h"], pdf["w"], pdf["data"],
                ):
                    tx, ty = tx0 + int(bx), ty0 + int(by)
                    # warp blocks are float64; cast to the tile dtype the
                    # way GDAL writes ints (round, not truncate)
                    f64 = np.frombuffer(data, dtype=np.float64).reshape(
                        int(h), int(w)
                    )
                    if np.issubdtype(np.dtype(dst_meta.dtype), np.integer):
                        arr = np.rint(f64).astype(dst_meta.dtype)
                    else:
                        arr = f64.astype(dst_meta.dtype)
                    tmeta = RasterMeta(
                        width=int(w), height=int(h), dtype=dst_meta.dtype,
                        block_w=int(w), block_h=int(h),
                        gt=(-tiling.ORIGIN + tx * span, res, 0.0,
                            tiling.ORIGIN - ty * span, 0.0, -res),
                        nodata=dst_meta.nodata,
                    )
                    d = os.path.join(out_dir, str(zoom), str(tx))
                    os.makedirs(d, exist_ok=True)
                    path = os.path.join(d, f"{ty}.{tile_format}")
                    with open(path, "wb") as f:
                        if tile_format == "png":
                            f.write(encode_png({int(b): arr}))
                        elif tile_format == "jpg":
                            f.write(encode_jpeg(arr, quality=90))
                        else:
                            f.write(encode_geotiff({int(b): arr}, tmeta, "deflate"))
                    rows.append((zoom, tx, ty, path))
                yield pd.DataFrame(rows, columns=["z", "x", "y", "path"])

        lvl = warped.mapInPandas(emit, "z INT, x LONG, y LONG, path STRING")
        out = lvl if out is None else out.unionByName(lvl)
    return out
