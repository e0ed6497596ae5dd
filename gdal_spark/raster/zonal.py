"""Zonal + band statistics (``ComputeStatistics``/``GetHistogram``,
gcore/gdalrasterband.cpp; zonal = the grouped form, SURVEY §2.4).

Distribution: per-tile NumPy partials (count/sum/sum², min/max — or
bincounts for the histogram) reduce map-side to one row per
(tile, zone); the final groupBy merges partials — the classic two-level
aggregation, so pixels never leave their executor and the shuffle is
O(tiles × zones-per-tile).

Mean/std follow the reference's streaming formulas: mean = Σv/n,
std = sqrt(Σv²/n − mean²) (population, as GDAL ComputeStatistics).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gdal_spark.raster.model import RasterMeta


def zonal_stats(
    value_tiles: DataFrame,
    zone_tiles: DataFrame,
    meta: RasterMeta,
    zone_meta: RasterMeta | None = None,
) -> DataFrame:
    """Per-zone statistics of band 1 of the value raster over band 1 of a
    co-gridded zone raster: (zone, n, sum_e6, min, max, mean, std)."""
    zone_meta = zone_meta or meta
    v = value_tiles.filter(F.col("band") == 1).select(
        "block_y", "block_x", "h", "w", F.col("data").alias("vdata")
    )
    z = zone_tiles.filter(F.col("band") == 1).select(
        "block_y", "block_x", F.col("data").alias("zdata")
    )
    joined = v.join(z, ["block_y", "block_x"])
    vdtype, zdtype = meta.dtype, zone_meta.dtype

    def partial(iterator):
        for pdf in iterator:
            rows = []
            for _, r in pdf.iterrows():
                vals = np.frombuffer(r.vdata, dtype=vdtype).reshape(r.h, r.w).astype(np.float64)
                zones = np.frombuffer(r.zdata, dtype=zdtype).reshape(r.h, r.w)
                for zval in np.unique(zones):
                    m = zones == zval
                    vv = vals[m]
                    rows.append(
                        (float(zval), int(vv.size), float(vv.sum()),
                         float((vv * vv).sum()), float(vv.min()), float(vv.max()))
                    )
            yield pd.DataFrame(
                rows, columns=["zone", "n", "s", "s2", "mn", "mx"]
            )

    partials = joined.mapInPandas(
        partial, "zone DOUBLE, n LONG, s DOUBLE, s2 DOUBLE, mn DOUBLE, mx DOUBLE"
    )
    agg = partials.groupBy("zone").agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.sum("s2").alias("s2"),
        F.min("mn").alias("min"),
        F.max("mx").alias("max"),
    )
    mean = F.col("s") / F.col("n")
    return agg.select(
        "zone",
        "n",
        "min",
        "max",
        mean.alias("mean"),
        F.sqrt(F.col("s2") / F.col("n") - mean * mean).alias("std"),
    )


def zonal_stats_np(values: np.ndarray, zones: np.ndarray) -> dict:
    """Single-node oracle: {zone: (n, min, max, mean, std)} with the same
    partial-merge arithmetic (tile partials summed in block order)."""
    out = {}
    for zval in np.unique(zones):
        vv = values[zones == zval].astype(np.float64)
        mean = vv.sum() / vv.size
        std = np.sqrt((vv * vv).sum() / vv.size - mean * mean)
        out[float(zval)] = (int(vv.size), float(vv.min()), float(vv.max()), float(mean), float(std))
    return out


HIST_BINS = 16  # equal-width histogram bins over [0, 256)


def band_histogram(tiles: DataFrame, meta: RasterMeta) -> DataFrame:
    """GetHistogram semantics on band 1: ``HIST_BINS`` equal-width bins
    over [0, 256); values outside clamp into the end bins (GDAL's
    bApproxOK=FALSE inclusion). Output (bin, count) — per-tile bincount
    partials + one merge."""
    dtype = meta.dtype
    n_bins = HIST_BINS
    width = 256.0 / n_bins

    def partial(iterator):
        for pdf in iterator:
            rows = []
            for _, r in pdf.iterrows():
                arr = np.frombuffer(r.data, dtype=dtype).reshape(r.h, r.w).astype(np.float64)
                idx = np.clip((arr / width).astype(np.int64), 0, n_bins - 1)
                c = np.bincount(idx.ravel(), minlength=n_bins)
                rows.extend((int(b), int(c[b])) for b in range(n_bins))
            yield pd.DataFrame(rows, columns=["bin", "cnt"])

    return (
        tiles.filter(F.col("band") == 1)
        .mapInPandas(partial, "bin INT, cnt LONG")
        .groupBy("bin")
        .agg(F.sum("cnt").alias("count"))
        .orderBy("bin")
    )
