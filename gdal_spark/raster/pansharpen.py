"""Pansharpening — weighted-Brovey fusion of a high-resolution
panchromatic band with lower-resolution spectral bands
(GDALPansharpenOperation::WeightedBrovey, alg/gdalpansharpen.cpp:516-660;
``gdal raster pansharpen``).

Per pan-resolution pixel j and spectral band i (upsampled to the pan
grid, default cubic — gdalpansharpen.cpp:58):

    pseudo_pan(j) = Σᵢ wᵢ · spectralᵢ(j)
    out_i(j)      = spectralᵢ(j) · pan(j) / pseudo_pan(j)

NoData contract (WeightedBroveyWithNoData): any spectral band at nodata
forces pseudo_pan = 0; pseudo_pan == 0 or pan == nodata → all output
bands nodata. ``max_value`` (saturation, e.g. 255/65535) clamps outputs.

Distribution: the math is PER-PIXEL LOCAL — the ideal Spark shape. Each
spectral band is upsampled to the pan grid with the existing distributed
warp (its halo exchange is the only shuffle), then one groupBy(block)
joins the k+1 aligned band tiles and runs the vectorized Brovey kernel
inside an Arrow batch. No global state, no driver collect; scales
linearly in pixels × bands.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gdal_spark.raster.model import RasterMeta, TILES_SCHEMA
from gdal_spark.raster.warp import warp_affine, warp_affine_np


def brovey_np(
    spectral: np.ndarray, pan: np.ndarray, weights, nodata: float | None = None,
    max_value: float = 0.0, out_nodata: float = 0.0,
) -> np.ndarray:
    """Vectorized weighted Brovey on aligned arrays: ``spectral`` is
    (k, H, W) at pan resolution, ``pan`` (H, W) → (k, H, W) float64."""
    spectral = np.asarray(spectral, dtype=np.float64)
    pan = np.asarray(pan, dtype=np.float64)
    w = np.asarray(weights, dtype=np.float64).reshape(-1, 1, 1)
    pseudo = (w * spectral).sum(axis=0)
    invalid = np.zeros(pan.shape, dtype=bool)
    if nodata is not None:
        invalid |= (spectral == nodata).any(axis=0) | (pan == nodata)
        pseudo = np.where(invalid, 0.0, pseudo)
    valid = (pseudo != 0.0) & ~invalid
    with np.errstate(divide="ignore", invalid="ignore"):
        factor = np.where(valid, pan / np.where(valid, pseudo, 1.0), 0.0)
    out = spectral * factor[None, :, :]
    if max_value != 0.0:
        out = np.minimum(out, max_value)
    out = np.where(valid[None, :, :], out, out_nodata)
    return out


def pansharpen(
    spectral_tiles: DataFrame,
    spectral_meta: RasterMeta,
    pan_tiles: DataFrame,
    pan_meta: RasterMeta,
    weights: list[float] | None = None,
    resample: str = "cubic",
    nodata: float | None = None,
    max_value: float = 0.0,
    out_nodata: float = 0.0,
) -> DataFrame:
    """Distributed pansharpen of every spectral band, in band order, with
    band 1 of ``pan_tiles`` → float64 tiles on the pan grid, one row per
    (band, block). ``weights`` default to 1/k each
    (GDALCreatePansharpenedVRT default)."""
    bands = [
        int(r.band)
        for r in spectral_tiles.select("band").distinct().orderBy("band").collect()
    ]
    k = len(bands)
    if weights is None:
        weights = [1.0 / k] * k
    wmap = dict(zip(bands, weights))

    up_parts = [
        warp_affine(
            spectral_tiles.filter(F.col("band") == b), spectral_meta, pan_meta,
            alg=resample, init=(nodata if nodata is not None else 0.0), band=b,
        ).withColumn("band", F.lit(int(b)))
        for b in bands
    ]
    up = up_parts[0]
    for p in up_parts[1:]:
        up = up.unionByName(p)
    # pan rides along as band 0 (never a spectral band id)
    pan0 = pan_tiles.filter(F.col("band") == 1).withColumn("band", F.lit(0))
    all_tiles = up.unionByName(pan0)

    pan_dtype = pan_meta.dtype

    def fuse(key, pdf):
        h, w = int(pdf["h"].iloc[0]), int(pdf["w"].iloc[0])
        arrs = {
            int(r.band): np.frombuffer(r.data, dtype=np.float64).reshape(h, w)
            for r in pdf.itertuples()
            if int(r.band) != 0
        }
        pan_arr = np.frombuffer(
            pdf.loc[pdf["band"] == 0, "data"].iloc[0], dtype=pan_dtype
        ).astype(np.float64).reshape(h, w)
        spec = np.stack([arrs[b] for b in bands])
        out = brovey_np(
            spec, pan_arr, [wmap[b] for b in bands], nodata, max_value, out_nodata
        )
        by, bx = int(key[0]), int(key[1])
        return pd.DataFrame(
            [
                (int(b), by, bx, h, w, out[i].tobytes())
                for i, b in enumerate(bands)
            ],
            columns=["band", "block_y", "block_x", "h", "w", "data"],
        )

    return all_tiles.groupBy("block_y", "block_x").applyInPandas(fuse, TILES_SCHEMA)


def pansharpen_np(
    spectral_full: np.ndarray, spectral_meta: RasterMeta,
    pan_full: np.ndarray, pan_meta: RasterMeta,
    weights: list[float] | None = None,
    nodata: float | None = None, max_value: float = 0.0, out_nodata: float = 0.0,
) -> np.ndarray:
    """Single-node oracle: identical cubic upsample + Brovey math.
    ``spectral_full`` is (k, H_s, W_s); returns (k, H_p, W_p)."""
    k = spectral_full.shape[0]
    if weights is None:
        weights = [1.0 / k] * k
    up = np.stack(
        [
            warp_affine_np(
                spectral_full[i], spectral_meta, pan_meta, alg="cubic",
                init=(nodata if nodata is not None else 0.0),
            )
            for i in range(k)
        ]
    )
    return brovey_np(up, pan_full.astype(np.float64), weights, nodata, max_value, out_nodata)
