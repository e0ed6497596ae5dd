"""Distributed GDAL image checksum — the engine's raster validation oracle.

Exact reimplementation of ``GDALChecksumImage`` (alg/gdalchecksum.cpp:48-86):

    checksum = (Σ_i  v_i mod primes[i mod 11]) & 0xFFFF

where i runs row-major over the full window, primes = {7,11,13,17,19,23,
29,31,37,41,43}, ``mod`` is C truncated modulo (sign follows the dividend),
and floating data converts to int32 first via +0.5 / floor / clamp to
±2147483647, NaN/Inf → INT_MIN (:65-86).

Distribution: the per-pixel prime index depends only on the pixel's global
(x, y) → each block computes its partial sum independently (Arrow pandas
UDF over the tiles DataFrame), and the final value is a plain ``sum() mod
65536``. Masking per line in the reference ≡ final mod 65536 because the
mask is additive-compatible. One narrow shuffle row per block.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType

from gdal_spark.raster.model import RasterMeta

PRIMES = np.array([7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43], dtype=np.int64)


def _to_int_np(arr: np.ndarray) -> np.ndarray:
    """GDALCopyWords float→Int32 rule (gdalchecksum.cpp:65-86)."""
    if arr.dtype.kind in "iu":
        return arr.astype(np.int64)
    v = arr.astype(np.float64) + 0.5
    out = np.full(v.shape, np.iinfo(np.int32).min, dtype=np.int64)
    finite = np.isfinite(v)
    vf = np.clip(np.floor(v[finite]), -2147483647.0, 2147483647.0)
    out[finite] = vf.astype(np.int64)
    return out


def _c_mod(v: np.ndarray, p: np.ndarray) -> np.ndarray:
    """C truncated modulo (numpy % is floored)."""
    return np.sign(v) * (np.abs(v) % p)


def checksum_np(arr: np.ndarray) -> int:
    """Single-node oracle. ``arr`` is the window; prime phase derives from
    the window's own row-major index (matching the reference, which indexes
    i over the *window*)."""
    v = _to_int_np(np.asarray(arr))
    h, w = v.shape
    idx = (np.arange(h * w, dtype=np.int64)).reshape(h, w) % 11
    return int(_c_mod(v, PRIMES[idx]).sum() % 65536)


def block_partial(arr: np.ndarray, bx: int, by: int, meta: RasterMeta) -> int:
    """Partial checksum of one block, with primes phased by global index."""
    v = _to_int_np(arr)
    h, w = v.shape
    gy = (np.arange(h, dtype=np.int64) + by * meta.block_h)[:, None]
    gx = (np.arange(w, dtype=np.int64) + bx * meta.block_w)[None, :]
    idx = (gy * meta.width + gx) % 11
    return int(_c_mod(v, PRIMES[idx]).sum())


def checksum_df(tiles: DataFrame, meta: RasterMeta, band: int = 1) -> int:
    """Distributed checksum of a tiles DataFrame (whole image window)."""
    dtype = meta.dtype

    @F.pandas_udf(LongType())
    def _partial(block_x: pd.Series, block_y: pd.Series, h: pd.Series, w: pd.Series, data: pd.Series) -> pd.Series:
        out = np.empty(len(data), dtype=np.int64)
        for i in range(len(data)):
            arr = np.frombuffer(data.iloc[i], dtype=dtype).reshape(int(h.iloc[i]), int(w.iloc[i]))
            out[i] = block_partial(arr, int(block_x.iloc[i]), int(block_y.iloc[i]), meta)
        return pd.Series(out)

    row = (
        tiles.filter(F.col("band") == band)
        .select(_partial("block_x", "block_y", "h", "w", "data").alias("p"))
        .agg(F.sum("p").alias("s"))
        .collect()[0]
    )
    return int(row["s"] % 65536) if row["s"] is not None else 0
