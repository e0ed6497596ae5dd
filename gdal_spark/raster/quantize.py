"""Color quantization — median-cut palette + nearest-color mapping
(GDALComputeMedianCutPCT, alg/gdalmediancut.cpp — Heckbert SIGGRAPH '82
via libtiff's tiffmedian; ``gdal_translate -of ... rgb→pct``).

Palette construction replicates the reference exactly:

- colors quantize to a (1<<NBITS)³ cube (NBITS=5, shift 3)
- box 0 shrinks to the observed per-channel min/max
- repeat until ``n_colors`` boxes: take the splittable box with the
  largest pixel total (first-wins ties in list order, new boxes
  PREPENDED — gdalmediancut.cpp:1004-1044 list discipline), split along
  its longest axis (tie priority R ≥ G ≥ B) at the cumulative-median
  level (``i == first → i++``), shrink both halves to observed extent
- palette entry = ((min + max) << SHIFT) / 2 per channel, in final list
  order

Mapping here is exact nearest palette color (squared-RGB distance,
lowest index wins) — per-pixel local, fully distributed. Error-diffusion
dithering (alg/gdaldither.cpp) lives in raster/dither.py as a skewed
block wavefront.

Distribution: one groupBy over ≤ 32768 quantized-color counts builds the
global histogram (map-side partial bincount per block, tiny shuffle);
median-cut runs on that bounded histogram driver-side (the reference's
own in-memory step); the palette broadcasts into a per-block vectorized
mapping kernel. Scales linearly in pixels.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gdal_spark.raster.model import RasterMeta, TILES_SCHEMA

NBITS = 5  # bits kept per channel (the reference's default)
L = 1 << NBITS  # quantized levels per channel
SHIFT = 8 - NBITS


def median_cut_palette(hist: np.ndarray, n_colors: int = 256) -> np.ndarray:
    """Median-cut over a (L,L,L) histogram (L = 1<<NBITS) → (k, 3) uint8
    palette in the reference's box-list order."""
    hist = np.asarray(hist, dtype=np.int64).reshape(L, L, L)
    nz = np.argwhere(hist > 0)
    if not len(nz):
        return np.zeros((0, 3), dtype=np.uint8)

    class Box:
        __slots__ = ("rmin", "rmax", "gmin", "gmax", "bmin", "bmax", "total")

        def __init__(s, rmin, rmax, gmin, gmax, bmin, bmax, total):
            s.rmin, s.rmax, s.gmin, s.gmax, s.bmin, s.bmax = rmin, rmax, gmin, gmax, bmin, bmax
            s.total = total

    def shrink(b: Box):
        sub = hist[b.rmin:b.rmax + 1, b.gmin:b.gmax + 1, b.bmin:b.bmax + 1]
        rs = sub.sum(axis=(1, 2)).nonzero()[0]
        gs = sub.sum(axis=(0, 2)).nonzero()[0]
        bs = sub.sum(axis=(0, 1)).nonzero()[0]
        b.rmin, b.rmax = b.rmin + int(rs[0]), b.rmin + int(rs[-1])
        b.gmin, b.gmax = b.gmin + int(gs[0]), b.gmin + int(gs[-1])
        b.bmin, b.bmax = b.bmin + int(bs[0]), b.bmin + int(bs[-1])

    box0 = Box(0, L - 1, 0, L - 1, 0, L - 1, int(hist.sum()))
    shrink(box0)
    used = [box0]  # new boxes are PREPENDED (reference list order)
    while len(used) < n_colors:
        # largest splittable total; ties → first in list order
        ptr = None
        for p in used:
            if (p.rmax > p.rmin or p.gmax > p.gmin or p.bmax > p.bmin) and (
                ptr is None or p.total > ptr.total
            ):
                ptr = p
        if ptr is None:
            break
        # longest axis, priority R >= G >= B
        dr, dg, db = ptr.rmax - ptr.rmin, ptr.gmax - ptr.gmin, ptr.bmax - ptr.bmin
        if dr >= dg and dr >= db:
            axis = 0
        elif dg >= db:
            axis = 1
        else:
            axis = 2
        sub = hist[ptr.rmin:ptr.rmax + 1, ptr.gmin:ptr.gmax + 1, ptr.bmin:ptr.bmax + 1]
        h2 = sub.sum(axis=tuple(a for a in (0, 1, 2) if a != axis))
        first = (ptr.rmin, ptr.gmin, ptr.bmin)[axis]
        last = (ptr.rmax, ptr.gmax, ptr.bmax)[axis]
        # cumulative median: stop at the first level where sum >= total/2
        half = ptr.total // 2
        s = 0
        i = first
        for lvl in range(first, last + 1):
            s += int(h2[lvl - first])
            if s >= half:
                i = lvl
                break
            i = lvl + 1
        # reference loop: for(; i <= last && (sum += *histp++) < sum2; ++i)
        # leaves i AT the level where the cumsum reached sum2
        if i == first:
            i += 1
        new_cb = Box(ptr.rmin, ptr.rmax, ptr.gmin, ptr.gmax, ptr.bmin, ptr.bmax, 0)
        lo = sum(int(h2[j - first]) for j in range(first, i))
        new_cb.total = lo
        ptr.total = ptr.total - lo
        if axis == 0:
            new_cb.rmax, ptr.rmin = i - 1, i
        elif axis == 1:
            new_cb.gmax, ptr.gmin = i - 1, i
        else:
            new_cb.bmax, ptr.bmin = i - 1, i
        if new_cb.total:
            shrink(new_cb)
        if ptr.total:
            shrink(ptr)
        used.insert(0, new_cb)
    return np.array(
        [
            (
                ((b.rmin + b.rmax) << SHIFT) // 2,
                ((b.gmin + b.gmax) << SHIFT) // 2,
                ((b.bmin + b.bmax) << SHIFT) // 2,
            )
            for b in used
        ],
        dtype=np.uint8,
    )


def rgb_hist_np(r: np.ndarray, g: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Quantized (L,L,L) color histogram of 8-bit bands."""
    code = (
        (r.astype(np.int64) >> SHIFT) * L * L
        + (g.astype(np.int64) >> SHIFT) * L
        + (b.astype(np.int64) >> SHIFT)
    )
    return np.bincount(code.ravel(), minlength=L * L * L).reshape(L, L, L)


def nearest_color_np(r, g, b, palette: np.ndarray) -> np.ndarray:
    """Exact nearest palette index per pixel (squared RGB distance,
    lowest index wins) — the non-dithered mapping."""
    P = palette.astype(np.int64)
    px = np.stack(
        [np.asarray(r, np.int64), np.asarray(g, np.int64), np.asarray(b, np.int64)], axis=-1
    )
    d2 = ((px[..., None, :] - P[None, None, :, :]) ** 2).sum(axis=-1)
    return d2.argmin(axis=-1).astype(np.uint8)


def compute_median_cut_pct(
    tiles: DataFrame, meta: RasterMeta, n_colors: int = 256,
) -> np.ndarray:
    """Distributed GDALComputeMedianCutPCT over RGB bands 1, 2, 3: map-side
    partial bincount per block → one ≤(1<<NBITS)³-row shuffle → driver
    median-cut. Returns the (k, 3) uint8 palette."""
    dtype = meta.dtype

    def partial(key, pdf):
        # one group per block: the shuffle co-locates the 3 band rows
        bmap = {
            int(row.band): np.frombuffer(row.data, dtype=dtype)
            for row in pdf.itertuples()
        }
        acc = rgb_hist_np(bmap[1], bmap[2], bmap[3]).ravel()
        nz = np.flatnonzero(acc)
        return pd.DataFrame({"code": nz, "cnt": acc[nz]})

    counts = (
        tiles.filter(F.col("band").isin(1, 2, 3))
        .groupBy("block_y", "block_x")
        .applyInPandas(partial, "code LONG, cnt LONG")
        .groupBy("code").agg(F.sum("cnt").alias("cnt"))
        .collect()
    )
    hist = np.zeros(L * L * L, dtype=np.int64)
    for row in counts:
        hist[int(row.code)] = int(row.cnt)
    return median_cut_palette(hist, n_colors)


def apply_pct(tiles: DataFrame, meta: RasterMeta, palette: np.ndarray) -> DataFrame:
    """Map RGB tiles (bands 1, 2, 3) to palette indices (uint8 band-1
    tiles, nearest color)."""
    dtype = meta.dtype
    P = np.asarray(palette, dtype=np.uint8)

    def mapb(key, pdf):
        h, w = int(pdf["h"].iloc[0]), int(pdf["w"].iloc[0])
        bmap = {
            int(row.band): np.frombuffer(row.data, dtype=dtype).reshape(h, w)
            for row in pdf.itertuples()
        }
        idx = nearest_color_np(bmap[1], bmap[2], bmap[3], P)
        by, bx = int(key[0]), int(key[1])
        return pd.DataFrame(
            [(1, by, bx, h, w, idx.tobytes())],
            columns=["band", "block_y", "block_x", "h", "w", "data"],
        )

    return (
        tiles.filter(F.col("band").isin(1, 2, 3))
        .groupBy("block_y", "block_x")
        .applyInPandas(mapb, TILES_SCHEMA)
    )


def rgb_to_pct_np(
    r: np.ndarray, g: np.ndarray, b: np.ndarray, n_colors: int = 256,
) -> tuple[np.ndarray, np.ndarray]:
    """Single-node oracle: (palette, index image)."""
    pal = median_cut_palette(rgb_hist_np(r, g, b), n_colors)
    return pal, nearest_color_np(r, g, b, pal)
