"""Resampling kernels + interpolate-at-point + downsample pyramid.

Kernel closed forms match the reference exactly:

- cubic: Catmull-Rom, a=-0.5 (alg/gdalresamplingkernels.h:23-43)
- cubicspline: cubic B-spline (alg/gdalresamplingkernels.h:45-60)
- lanczos: 3-lobed windowed sinc (alg/gdalwarpkernel.cpp:3467-3480)
- bilinear: tent

Interpolate-at-point replicates ``GDALInterpolateAtPointImpl``
(alg/gdal_interpolateatpoint.cpp:165-360): pixel-space input coordinates,
center-of-pixel shift -0.5, 2×2 / 4×4 windows with out-of-border index
clamping (≡ the reference's drag), weight-sum normalization for the 4×4
kernels, and the small-raster algorithm downgrade rules (:195-203).

Distribution: points get their containing block id by pure column math,
join the halo-padded tiles (halo=2 covers any 4×4 window), and a grouped
pandas UDF samples each block's points vectorized.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gdal_spark.raster.halo import padded_blocks
from gdal_spark.raster.model import RasterMeta


# ---------------------------------------------------------------------------
# kernels (vectorized closed forms)
# ---------------------------------------------------------------------------

def cubic_kernel(x):
    ax = np.abs(x)
    x2 = x * x
    return np.where(
        ax <= 1.0,
        x2 * (1.5 * ax - 2.5) + 1.0,
        np.where(ax <= 2.0, x2 * (-0.5 * ax + 2.5) - 4.0 * ax + 2.0, 0.0),
    )


def cubic_spline_kernel(x):
    v = np.abs(x)  # symmetric; reference passes |x| per axis
    xm1, xp1, xp2 = v - 1.0, v + 1.0, v + 2.0
    a = np.where(xp2 > 0, xp2**3, 0.0)
    b = np.where(xp1 > 0, xp1**3, 0.0)
    c = np.where(v > 0, v**3, 0.0)
    d = np.where(xm1 > 0, xm1**3, 0.0)
    return (a - 4.0 * b + 6.0 * c - 4.0 * d) / 6.0


def lanczos_kernel(x):
    """Lanczos-3: sinc(x)·sinc(x/3) on |x| < 3."""
    ax = np.abs(x)
    out = np.zeros_like(np.asarray(x, dtype=np.float64))
    nz = (ax < 3) & (ax > 1e-12)
    xi = np.pi * np.asarray(x, dtype=np.float64)[nz]
    out[nz] = 3 * np.sin(xi) * np.sin(xi / 3) / (xi * xi)
    out[ax <= 1e-12] = 1.0
    return out


def bilinear_kernel(x):
    ax = np.abs(x)
    return np.where(ax < 1.0, 1.0 - ax, 0.0)


KERNELS = {
    "cubic": (cubic_kernel, 2),
    "cubicspline": (cubic_spline_kernel, 2),
    "lanczos": (lanczos_kernel, 3),
    "bilinear": (bilinear_kernel, 1),
}


# ---------------------------------------------------------------------------
# interpolate at point — NumPy oracle
# ---------------------------------------------------------------------------

def interpolate_at_point_np(arr: np.ndarray, px, py, alg: str = "bilinear"):
    """Sample at fractional pixel coords (vectorized over points).

    Returns (values float64, valid bool). Out-of-raster points are invalid.
    """
    h, w = arr.shape
    px = np.asarray(px, dtype=np.float64).copy()
    py = np.asarray(py, dtype=np.float64).copy()
    if alg == "near":
        px[(px >= w) & (px <= w + 1e-5)] -= 0.25
        py[(py >= h) & (py <= h + 1e-5)] -= 0.25
    valid = (px >= 0) & (px <= w) & (py >= 0) & (py <= h)
    out = np.zeros(len(px), dtype=np.float64)
    # small-raster downgrade (gdal_interpolateatpoint.cpp:195-203)
    if (w < 4 or h < 4) and alg in ("cubic", "cubicspline"):
        alg = "bilinear"
    if (w < 2 or h < 2) and alg == "bilinear":
        alg = "near"
    a = arr.astype(np.float64)
    if alg == "near":
        ix = np.clip(np.floor(px).astype(np.int64), 0, w - 1)
        iy = np.clip(np.floor(py).astype(np.int64), 0, h - 1)
        out = a[iy, ix]
        return out, valid
    dfx = px - 0.5
    dfy = py - 0.5
    dx = np.floor(dfx).astype(np.int64)
    dy = np.floor(dfy).astype(np.int64)
    delx = dfx - dx
    dely = dfy - dy
    if alg == "bilinear":
        x0 = np.clip(dx, 0, w - 1)
        x1 = np.clip(dx + 1, 0, w - 1)
        y0 = np.clip(dy, 0, h - 1)
        y1 = np.clip(dy + 1, 0, h - 1)
        out = (
            a[y0, x0] * (1 - delx) * (1 - dely)
            + a[y0, x1] * delx * (1 - dely)
            + a[y1, x0] * (1 - delx) * dely
            + a[y1, x1] * delx * dely
        )
        return out, valid
    kf = cubic_spline_kernel if alg == "cubicspline" else cubic_kernel
    num = np.zeros(len(px))
    den = np.zeros(len(px))
    for ki in range(4):
        wy = kf((ki - 1) - dely)
        yy = np.clip(dy - 1 + ki, 0, h - 1)
        for kj in range(4):
            wx = kf((kj - 1) - delx)
            xx = np.clip(dx - 1 + kj, 0, w - 1)
            wgt = wx * wy
            num += a[yy, xx] * wgt
            den += wgt
    nz = den != 0
    out[nz] = num[nz] / den[nz]
    return out, valid & nz


# ---------------------------------------------------------------------------
# interpolate at point — distributed
# ---------------------------------------------------------------------------

def interpolate_at_points(
    tiles: DataFrame,
    meta: RasterMeta,
    points: DataFrame,
    alg: str = "bilinear",
) -> DataFrame:
    """Distributed fractional-pixel sampling of band 1 at ``(pid, px, py)``
    point rows: (pid, value) per point.

    The raster→vector value-extraction core: points join their containing
    halo-padded block (equi-join on block id, broadcast if small) and each
    block samples its points in one vectorized call.
    """
    halo = 2
    padded = padded_blocks(tiles.filter(F.col("band") == 1), meta, halo)
    pts = points.select("pid", "px", "py").withColumn(
        "block_x",
        F.least(
            F.greatest(F.floor(F.col("px") / meta.block_w), F.lit(0)),
            F.lit(meta.blocks_x - 1),
        ).cast("int"),
    ).withColumn(
        "block_y",
        F.least(
            F.greatest(F.floor(F.col("py") / meta.block_h), F.lit(0)),
            F.lit(meta.blocks_y - 1),
        ).cast("int"),
    )
    joined = pts.join(padded, on=["block_x", "block_y"], how="inner")
    dtype = meta.dtype
    W, H = meta.width, meta.height

    def sample(key, pdf):
        bx, by = int(key[0]), int(key[1])
        h, w = int(pdf.h.iloc[0]), int(pdf.w.iloc[0])
        r = int(pdf.halo.iloc[0])
        pad = np.frombuffer(pdf.data.iloc[0], dtype=dtype).reshape(h + 2 * r, w + 2 * r)
        # local pixel coords within the padded array
        lx = pdf.px.to_numpy() - (bx * meta.block_w - r)
        ly = pdf.py.to_numpy() - (by * meta.block_h - r)
        vals, _ = interpolate_at_point_np(pad, lx, ly, alg)
        # validity is against the FULL raster extent, not the block
        valid = (
            (pdf.px.to_numpy() >= 0) & (pdf.px.to_numpy() <= W)
            & (pdf.py.to_numpy() >= 0) & (pdf.py.to_numpy() <= H)
        )
        return pd.DataFrame({"pid": pdf.pid.to_numpy()[valid], "value": vals[valid]})

    return joined.groupBy("block_x", "block_y").applyInPandas(
        sample, "pid LONG, value DOUBLE"
    )


# ---------------------------------------------------------------------------
# downsample pyramid (overviews)
# ---------------------------------------------------------------------------

def _reduce2_np(arr: np.ndarray, alg: str) -> np.ndarray:
    """Factor-2 reduction of one array (even-trimmed)."""
    h, w = arr.shape
    h2, w2 = h // 2, w // 2
    a = arr[: h2 * 2, : w2 * 2]
    q = a.reshape(h2, 2, w2, 2).astype(np.float64)
    if alg == "near":
        return a[::2, ::2].copy()
    if alg == "average":
        m = q.mean(axis=(1, 3))
        if np.issubdtype(arr.dtype, np.integer):
            return np.floor(m + 0.5).astype(arr.dtype)
        return m.astype(arr.dtype)
    if alg == "rms":
        m = np.sqrt((q**2).mean(axis=(1, 3)))
        if np.issubdtype(arr.dtype, np.integer):
            return np.floor(m + 0.5).astype(arr.dtype)
        return m.astype(arr.dtype)
    if alg == "max":
        return a.reshape(h2, 2, w2, 2).max(axis=(1, 3))
    if alg == "min":
        return a.reshape(h2, 2, w2, 2).min(axis=(1, 3))
    if alg == "mode":
        s = a.reshape(h2, 2, w2, 2)
        cand = np.stack([s[:, 0, :, 0], s[:, 0, :, 1], s[:, 1, :, 0], s[:, 1, :, 1]])
        # mode of 4 with first-seen tie-break (matches streaming accumulation)
        best = cand[0].copy()
        best_cnt = (cand == cand[0]).sum(axis=0)
        for i in (1, 2, 3):
            cnt = (cand == cand[i]).sum(axis=0)
            take = cnt > best_cnt
            best = np.where(take, cand[i], best)
            best_cnt = np.maximum(best_cnt, cnt)
        return best
    raise ValueError(f"unknown overview alg {alg!r}")


def downsample2(tiles: DataFrame, meta: RasterMeta, alg: str = "average") -> tuple[DataFrame, RasterMeta]:
    """One pyramid level: every 2×2 input-block quad reduces into one output
    block (groupBy output block → applyInPandas). Requires block sizes even.

    The distributed analogue of GDALRegenerateOverviewsEx
    (gcore/overview.cpp:4378) for power-of-two levels. Kernel algs
    (gauss/cubic/cubicspline/lanczos) route to the halo-exchanging
    convolution path.
    """
    if alg in OVERVIEW_KERNEL_ALGS:
        return downsample2_kernel(tiles, meta, alg)
    out_meta = RasterMeta(
        width=meta.width // 2,
        height=meta.height // 2,
        dtype=meta.dtype,
        block_w=meta.block_w,
        block_h=meta.block_h,
        gt=(meta.gt[0], meta.gt[1] * 2, meta.gt[2] * 2, meta.gt[3], meta.gt[4] * 2, meta.gt[5] * 2),
        nodata=meta.nodata,
        bands=meta.bands,
    )
    dtype = meta.dtype

    grouped = tiles.withColumn("obx", (F.col("block_x") / 2).cast("int")).withColumn(
        "oby", (F.col("block_y") / 2).cast("int")
    )

    def reduce_quad(key, pdf):
        band, oby, obx = int(key[0]), int(key[1]), int(key[2])
        oh = min(out_meta.block_h, out_meta.height - oby * out_meta.block_h)
        ow = min(out_meta.block_w, out_meta.width - obx * out_meta.block_w)
        if oh <= 0 or ow <= 0:
            return pd.DataFrame(columns=["band", "block_y", "block_x", "h", "w", "data"])
        src = np.zeros((oh * 2, ow * 2), dtype=dtype)
        for _, r in pdf.iterrows():
            arr = np.frombuffer(r.data, dtype=dtype).reshape(int(r.h), int(r.w))
            y0 = int(r.block_y) * meta.block_h - oby * 2 * out_meta.block_h
            x0 = int(r.block_x) * meta.block_w - obx * 2 * out_meta.block_w
            hh = min(arr.shape[0], src.shape[0] - y0)
            ww = min(arr.shape[1], src.shape[1] - x0)
            if hh > 0 and ww > 0:
                src[y0 : y0 + hh, x0 : x0 + ww] = arr[:hh, :ww]
        out = _reduce2_np(src, alg)
        return pd.DataFrame(
            [(band, oby, obx, out.shape[0], out.shape[1], out.tobytes())],
            columns=["band", "block_y", "block_x", "h", "w", "data"],
        )

    out = grouped.groupBy("band", "oby", "obx").applyInPandas(
        reduce_quad, "band INT, block_y INT, block_x INT, h INT, w INT, data BINARY"
    )
    return out, out_meta


def downsample2_np(arr: np.ndarray, alg: str = "average") -> np.ndarray:
    """Single-node oracle for :func:`downsample2`."""
    if alg in OVERVIEW_KERNEL_ALGS:
        return downsample2_conv_np(arr, alg, out_dtype=arr.dtype)
    return _reduce2_np(arr, alg)


# ---------------------------------------------------------------------------
# kernel-based overview reduction (gauss / cubic / cubicspline / lanczos)
# ---------------------------------------------------------------------------

def _overview_taps(alg: str):
    """(offsets d, weights) for factor-2 overview convolution: dst pixel i
    reduces src pixels j = 2i + d; the continuous distance is
    (j+0.5) - (2i+1) = d - 0.5, kernel scaled by the factor
    (gcore/overview.cpp GDALResampleChunk_Convolution; gauss uses the
    fixed 3x3 {1,2,1} matrix of GDALResampleChunk_Gauss:1844). Weights
    are constant per offset at an integer factor — the reduction is a
    strided separable convolution with border clip + renormalize."""
    if alg == "gauss":
        return np.array([0, 1, 2]), np.array([1.0, 2.0, 1.0])
    if alg == "cubic":
        d = np.arange(-3, 5)
        return d, cubic_kernel((d - 0.5) / 2.0)
    if alg == "cubicspline":
        d = np.arange(-3, 5)
        return d, cubic_spline_kernel((d - 0.5) / 2.0)
    if alg == "lanczos":
        d = np.arange(-5, 7)
        return d, lanczos_kernel((d - 0.5) / 2.0)
    raise ValueError(f"not a kernel overview alg: {alg!r}")


OVERVIEW_KERNEL_ALGS = ("gauss", "cubic", "cubicspline", "lanczos")
_OVERVIEW_HALO = 6  # max |offset| across the kernels above


def _conv_axis_np(src, axis, offs, wts, g0, out0, out_n, glob_n):
    """Strided (factor-2) 1D convolution along ``axis`` with
    clip-and-renormalize at the GLOBAL raster bounds. ``src`` covers
    global index g0.. along the axis; output covers out0..out0+out_n-1
    (global dst indices)."""
    src = np.moveaxis(np.asarray(src, dtype=np.float64), axis, 0)
    num = np.zeros((out_n,) + src.shape[1:])
    den = np.zeros(out_n)
    i = np.arange(out0, out0 + out_n)
    for d, w in zip(offs, wts):
        j = 2 * i + d  # global src index
        valid = (j >= 0) & (j < glob_n)
        jj = np.clip(j - g0, 0, src.shape[0] - 1)
        contrib = src[jj] * w
        contrib[~valid] = 0.0
        num += contrib
        den += np.where(valid, w, 0.0)
    out = num / den.reshape((-1,) + (1,) * (src.ndim - 1))
    return np.moveaxis(out, 0, axis)


def downsample2_conv_np(
    src: np.ndarray, alg: str, y0g: int = 0, x0g: int = 0,
    oy0: int = 0, ox0: int = 0, oh: int | None = None, ow: int | None = None,
    glob_h: int | None = None, glob_w: int | None = None,
    out_dtype=None,
) -> np.ndarray:
    """Factor-2 kernel overview of the window ``src`` (global top-left
    (y0g, x0g)); produces dst pixels [oy0, oy0+oh) × [ox0, ox0+ow)."""
    glob_h = glob_h if glob_h is not None else src.shape[0]
    glob_w = glob_w if glob_w is not None else src.shape[1]
    oh = oh if oh is not None else glob_h // 2
    ow = ow if ow is not None else glob_w // 2
    offs, wts = _overview_taps(alg)
    mid = _conv_axis_np(src, 1, offs, wts, x0g, ox0, ow, glob_w)
    out = _conv_axis_np(mid, 0, offs, wts, y0g, oy0, oh, glob_h)
    dt = out_dtype if out_dtype is not None else src.dtype
    if np.issubdtype(np.dtype(dt), np.integer):
        info = np.iinfo(dt)
        return np.clip(np.floor(out + 0.5), info.min, info.max).astype(dt)
    return out.astype(dt)


def downsample2_kernel(
    tiles: DataFrame, meta: RasterMeta, alg: str
) -> tuple[DataFrame, RasterMeta]:
    """Distributed kernel overview: every output block gathers its 2×2
    input quad plus a ±6-pixel halo (strip exchange keyed by the OUTPUT
    block — shuffle volume O(perimeter) like raster/halo.py), then runs
    the strided convolution with global-bounds renormalization."""
    out_meta = RasterMeta(
        width=meta.width // 2, height=meta.height // 2, dtype=meta.dtype,
        block_w=meta.block_w, block_h=meta.block_h,
        gt=(meta.gt[0], meta.gt[1] * 2, meta.gt[2] * 2,
            meta.gt[3], meta.gt[4] * 2, meta.gt[5] * 2),
        nodata=meta.nodata, bands=meta.bands,
    )
    dtype = meta.dtype
    H, W = meta.height, meta.width
    bh, bw = meta.block_h, meta.block_w
    obh, obw = out_meta.block_h, out_meta.block_w
    r = _OVERVIEW_HALO
    nobx = out_meta.blocks_x
    noby = out_meta.blocks_y

    def emit(iterator):
        for pdf in iterator:
            rows = []
            for _, row in pdf.iterrows():
                h, w = int(row.h), int(row.w)
                arr = np.frombuffer(row.data, dtype=dtype).reshape(h, w)
                bx, by = int(row.block_x), int(row.block_y)
                gy0, gx0 = by * bh, bx * bw
                for oby in range(max(0, (gy0 - r) // (2 * obh)),
                                 min(noby - 1, (gy0 + h + r) // (2 * obh)) + 1):
                    ty0 = oby * 2 * obh - r
                    ty1 = ty0 + 2 * obh + 2 * r
                    for obx in range(max(0, (gx0 - r) // (2 * obw)),
                                     min(nobx - 1, (gx0 + w + r) // (2 * obw)) + 1):
                        tx0 = obx * 2 * obw - r
                        tx1 = tx0 + 2 * obw + 2 * r
                        y0 = max(gy0, ty0)
                        y1 = min(gy0 + h, ty1)
                        x0 = max(gx0, tx0)
                        x1 = min(gx0 + w, tx1)
                        if y1 <= y0 or x1 <= x0:
                            continue
                        piece = np.ascontiguousarray(
                            arr[y0 - gy0 : y1 - gy0, x0 - gx0 : x1 - gx0]
                        )
                        rows.append(
                            (int(row.band), oby, obx, y0, x0,
                             piece.shape[0], piece.shape[1], piece.tobytes())
                        )
            yield pd.DataFrame(
                rows,
                columns=["band", "oby", "obx", "gy0", "gx0", "ph", "pw", "piece"],
            )

    strips = tiles.mapInPandas(
        emit,
        "band INT, oby INT, obx INT, gy0 INT, gx0 INT, ph INT, pw INT, piece BINARY",
    )

    def assemble(key, pdf):
        band, oby, obx = int(key[0]), int(key[1]), int(key[2])
        oh = min(obh, out_meta.height - oby * obh)
        ow = min(obw, out_meta.width - obx * obw)
        if oh <= 0 or ow <= 0:
            return pd.DataFrame(
                columns=["band", "block_y", "block_x", "h", "w", "data"]
            )
        ty0 = oby * 2 * obh - r
        tx0 = obx * 2 * obw - r
        src = np.zeros((2 * obh + 2 * r, 2 * obw + 2 * r), dtype=dtype)
        for _, row in pdf.iterrows():
            piece = np.frombuffer(row.piece, dtype=dtype).reshape(
                int(row.ph), int(row.pw)
            )
            oy = int(row.gy0) - ty0
            ox = int(row.gx0) - tx0
            src[oy : oy + piece.shape[0], ox : ox + piece.shape[1]] = piece
        out = downsample2_conv_np(
            src, alg, y0g=ty0, x0g=tx0, oy0=oby * obh, ox0=obx * obw,
            oh=oh, ow=ow, glob_h=H, glob_w=W, out_dtype=dtype,
        )
        return pd.DataFrame(
            [(band, oby, obx, oh, ow, out.tobytes())],
            columns=["band", "block_y", "block_x", "h", "w", "data"],
        )

    out = strips.groupBy("band", "oby", "obx").applyInPandas(
        assemble, "band INT, block_y INT, block_x INT, h INT, w INT, data BINARY"
    )
    return out, out_meta
