"""Tiles-DataFrame raster model.

The reference's raster is a band of cached fixed-size blocks
(GDALRasterBand/GDALRasterBlock, gcore/gdal_priv.h:1553,1235). The
distributed re-expression: one DataFrame row per block —

    (band INT, block_y INT, block_x INT, h INT, w INT, data BINARY)

with dataset-level metadata (size, geotransform, dtype, nodata) in a small
:class:`RasterMeta` value object (the reference carries the 6-double
GeoTransform the same way). ``data`` is the row-major C buffer of the
block's valid region (h×w), so a 256×256 float32 block is a 256 KiB Arrow
binary cell — sized to keep Arrow batches in the tens of MB, mirroring the
reference's 64 MiB warp chunking (alg/gdalwarpoperation.cpp:582-584).

Partitioning: blocks hash-partition on (band, block_y, block_x); spatial
gather ops (warp, focal) join on block ranges.
"""

from __future__ import annotations

import base64
import zlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

TILES_SCHEMA = "band INT, block_y INT, block_x INT, h INT, w INT, data BINARY"


@dataclass(frozen=True)
class RasterMeta:
    width: int
    height: int
    dtype: str = "uint8"  # numpy dtype name
    block_w: int = 256
    block_h: int = 256
    # GeoTransform (GT0..GT5): Xgeo = GT0 + px*GT1 + ln*GT2 (gcore docs)
    gt: tuple = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    nodata: float | None = None
    bands: int = 1

    @property
    def blocks_x(self) -> int:
        return (self.width + self.block_w - 1) // self.block_w

    @property
    def blocks_y(self) -> int:
        return (self.height + self.block_h - 1) // self.block_h

    def block_shape(self, bx: int, by: int) -> tuple[int, int]:
        w = min(self.block_w, self.width - bx * self.block_w)
        h = min(self.block_h, self.height - by * self.block_h)
        return h, w

    def px_to_geo(self, px, ln):
        g = self.gt
        return g[0] + px * g[1] + ln * g[2], g[3] + px * g[4] + ln * g[5]

    def geo_to_px(self, x, y):
        g = self.gt
        det = g[1] * g[5] - g[2] * g[4]
        px = ((x - g[0]) * g[5] - (y - g[3]) * g[2]) / det
        ln = ((y - g[3]) * g[1] - (x - g[0]) * g[4]) / det
        return px, ln


def tiles_from_array(spark: SparkSession, arr: np.ndarray, meta: RasterMeta, band: int = 1) -> DataFrame:
    """Driver-side slicing for fixtures (small rasters only)."""
    rows = []
    for by in range(meta.blocks_y):
        for bx in range(meta.blocks_x):
            h, w = meta.block_shape(bx, by)
            blk = arr[
                by * meta.block_h : by * meta.block_h + h,
                bx * meta.block_w : bx * meta.block_w + w,
            ]
            rows.append((band, by, bx, h, w, bytearray(np.ascontiguousarray(blk).tobytes())))
    return spark.createDataFrame(rows, TILES_SCHEMA)


def tiles_to_array(df: DataFrame, meta: RasterMeta, band: int = 1) -> np.ndarray:
    """Collect a tiles DataFrame back to one numpy array (tests only)."""
    out = np.zeros((meta.height, meta.width), dtype=meta.dtype)
    for r in df.filter(F.col("band") == band).collect():
        blk = np.frombuffer(bytes(r.data), dtype=meta.dtype).reshape(r.h, r.w)
        out[
            r.block_y * meta.block_h : r.block_y * meta.block_h + r.h,
            r.block_x * meta.block_w : r.block_x * meta.block_w + r.w,
        ] = blk
    return out


def synth_block_np(bx: int, by: int, h: int, w: int, meta: RasterMeta, seed: int = 42) -> np.ndarray:
    """Deterministic block content from global pixel index (splitmix64)."""
    gy = (np.arange(h, dtype=np.uint64) + np.uint64(by * meta.block_h))[:, None]
    gx = (np.arange(w, dtype=np.uint64) + np.uint64(bx * meta.block_w))[None, :]
    z = gy * np.uint64(meta.width) + gx + np.uint64(seed)
    with np.errstate(over="ignore"):
        z = (z + np.uint64(0x9E3779B97F4A7C15)) * np.uint64(0xBF58476D1CE4E5B9)
        z ^= z >> np.uint64(30)
        z *= np.uint64(0x94D049BB133111EB)
        z ^= z >> np.uint64(31)
    if meta.dtype == "uint8":
        return (z % np.uint64(256)).astype(np.uint8)
    if meta.dtype.startswith("float"):
        return ((z % np.uint64(1 << 24)).astype(np.float64) / float(1 << 24) * 1000.0).astype(meta.dtype)
    return (z % np.uint64(np.iinfo(meta.dtype).max)).astype(meta.dtype)


def synth_raster(spark: SparkSession, meta: RasterMeta, seed: int = 42) -> DataFrame:
    """Distributed deterministic band-1 raster: one task per group of
    blocks; block content generated executor-side (no driver
    materialization)."""
    n_blocks = meta.blocks_x * meta.blocks_y
    blocks = spark.createDataFrame(
        [(by, bx) for by in range(meta.blocks_y) for bx in range(meta.blocks_x)],
        "block_y INT, block_x INT",
    ).repartition(min(n_blocks, spark.sparkContext.defaultParallelism))

    def gen(iterator):
        for pdf in iterator:
            out = []
            for _, r in pdf.iterrows():
                h, w = meta.block_shape(int(r.block_x), int(r.block_y))
                blk = synth_block_np(int(r.block_x), int(r.block_y), h, w, meta, seed)
                out.append((1, int(r.block_y), int(r.block_x), h, w, blk.tobytes()))
            yield pd.DataFrame(out, columns=["band", "block_y", "block_x", "h", "w", "data"])

    return blocks.mapInPandas(gen, TILES_SCHEMA)


# canonical 20×20 byte fixture — pixel bytes of the reference's
# autotest/gcore/data/byte.tif (EPSG:26711, GT=(440720,60,0,3751320,0,-60)),
# full-image GDAL checksum 4672 (autotest/gcore/tiff_read.py:45,847)
_BYTE_FIXTURE_B64Z = (
    "eJwlkCFyRDEMQ+/XI4QaGgqKChoahgYGfriwdK+zsJXbZDKZsWT5JUlBKknprSR2w1fj"
    "oJIM0Vps2ENXCqJ9QCJbpJsJ70QnLGpPGAA2D5Wpzde93Wj3QTum5Z3ft6sUk6m5dGnH"
    "uMpZcnwwnjCP8IdIKlybyVVR4ZEyg0XmINrhmGwLdV3i/ykjYuVNr5l2O0aJfN10VFTe"
    "6nl3OF1RBrDNbFnL8cu4fsuAhU5vOgYeHjGQi3jdqgOtwHLNCf6c/ZjAtPwycG0dA9/P"
    "z1umaZ3TNczJ59m99340Pz4Lkb94T8YT"
)


def byte_fixture() -> tuple[np.ndarray, RasterMeta]:
    data = zlib.decompress(base64.b64decode(_BYTE_FIXTURE_B64Z))
    arr = np.frombuffer(data, dtype=np.uint8).reshape(20, 20).copy()
    meta = RasterMeta(
        width=20, height=20, dtype="uint8", block_w=20, block_h=20,
        gt=(440720.0, 60.0, 0.0, 3751320.0, 0.0, -60.0),
    )
    return arr, meta
