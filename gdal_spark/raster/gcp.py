"""GCP polynomial transforms (GDALCreateGCPTransformer;
alg/gdal_crs.cpp — derived from the public GRASS i.points/CRS code).

Polynomial orders 1-3 over the monomial basis of CRS_georef
(gdal_crs.cpp:610-671):

    order 1: [1, e, n]
    order 2: [1, e, n, e², en, n²]
    order 3: [1, e, n, e², en, n², e³, e²n, en², n³]

Coefficients fit by least squares over the control points (the
reference's calcls normal equations ≡ numpy lstsq up to FP path — both
our distributed path and the oracle use the SAME fit, so results are
bit-identical end to end). Both directions are fit from the same points
(pixel→geo and geo→pixel), mirroring CRS_compute_georef_equations
fitting E12/N12 and E21/N21.

Scale: fitting is a driver-side solve over the (small) GCP set —
GDAL's own contract; evaluation is vectorized column math applied
inside the distributed warp (`warp.warp_with_transform`).
"""

from __future__ import annotations

import numpy as np

from gdal_spark.raster.model import RasterMeta

_N_COEF = {1: 3, 2: 6, 3: 10}


def _basis(e: np.ndarray, n: np.ndarray, order: int) -> np.ndarray:
    e = np.asarray(e, dtype=np.float64)
    n = np.asarray(n, dtype=np.float64)
    cols = [np.ones_like(e), e, n]
    if order >= 2:
        cols += [e * e, e * n, n * n]
    if order >= 3:
        cols += [e * e * e, e * e * n, e * n * n, n * n * n]
    return np.column_stack(cols)


def gcp_fit(gcps, order: int = 0):
    """Fit both transform directions from control points.

    ``gcps``: iterable of (pixel, line, geo_x, geo_y).
    ``order=0``: auto like GDALCreateGCPTransformer (alg/gdal_crs.cpp:203-211)
    — order 2 when n ≥ 6 else 1. The reference deliberately never
    auto-selects order 3 ("we avoid 3rd order since it is unstable");
    order=3 stays available only by explicit request.

    Returns dict with E12/N12 (pixel→geo), E21/N21 (geo→pixel), order."""
    g = np.asarray(list(gcps), dtype=np.float64)
    if g.ndim != 2 or g.shape[1] != 4:
        raise ValueError("gcps must be rows of (pixel, line, geo_x, geo_y)")
    n_pts = len(g)
    if order == 0:
        order = 2 if n_pts >= _N_COEF[2] else 1
    if n_pts < _N_COEF[order]:
        raise ValueError(f"order {order} needs ≥ {_N_COEF[order]} GCPs, got {n_pts}")
    px, ln, gx, gy = g[:, 0], g[:, 1], g[:, 2], g[:, 3]
    Bf = _basis(px, ln, order)
    Br = _basis(gx, gy, order)
    E12, *_ = np.linalg.lstsq(Bf, gx, rcond=None)
    N12, *_ = np.linalg.lstsq(Bf, gy, rcond=None)
    E21, *_ = np.linalg.lstsq(Br, px, rcond=None)
    N21, *_ = np.linalg.lstsq(Br, ln, rcond=None)
    return {"E12": E12, "N12": N12, "E21": E21, "N21": N21, "order": order}


def gcp_transform(x, y, E: np.ndarray, N: np.ndarray, order: int):
    """Vectorized CRS_georef polynomial evaluation."""
    B = _basis(x, y, order)
    return B @ np.asarray(E, dtype=np.float64), B @ np.asarray(N, dtype=np.float64)


def gcp_residuals(gcps, fit) -> np.ndarray:
    """Per-GCP forward-transform residual distances (geo units) — the
    usual RMS-error diagnostic."""
    g = np.asarray(list(gcps), dtype=np.float64)
    tx, ty = gcp_transform(g[:, 0], g[:, 1], fit["E12"], fit["N12"], fit["order"])
    return np.hypot(tx - g[:, 2], ty - g[:, 3])


def warp_gcp(
    src_tiles, src_meta: RasterMeta, dst_meta: RasterMeta, gcps,
    order: int = 0, alg: str = "near", init: float = 0.0,
):
    """gdalwarp of a GCP-georeferenced source: dst px → dst geo →
    (reverse polynomial, geo→src pixel) → sample. The source carries no
    geotransform, so it is modeled with the identity gt (source geo ≡
    source pixel space — GDAL's own GCP contract)."""
    from gdal_spark.raster.warp import warp_with_transform

    fit = gcp_fit(gcps, order)
    ident = RasterMeta(
        width=src_meta.width, height=src_meta.height, dtype=src_meta.dtype,
        block_w=src_meta.block_w, block_h=src_meta.block_h,
        gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0),
    )

    def tf(gx, gy):
        return gcp_transform(gx, gy, fit["E21"], fit["N21"], fit["order"])

    return warp_with_transform(src_tiles, ident, dst_meta, tf, alg, init)


def warp_gcp_np(
    src: np.ndarray, src_meta: RasterMeta, dst_meta: RasterMeta, gcps,
    order: int = 0, alg: str = "near", init: float = 0.0,
) -> np.ndarray:
    """Single-node oracle with the identical fit + sampling path."""
    from gdal_spark.raster.warp import warp_with_transform_np

    fit = gcp_fit(gcps, order)
    ident = RasterMeta(
        width=src_meta.width, height=src_meta.height, dtype=src_meta.dtype,
        block_w=src_meta.block_w, block_h=src_meta.block_h,
        gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0),
    )

    def tf(gx, gy):
        return gcp_transform(gx, gy, fit["E21"], fit["N21"], fit["order"])

    return warp_with_transform_np(src, ident, dst_meta, tf, alg, init)


# ---------------------------------------------------------------------------
# Thin plate spline (gdalwarp -tps; alg/thinplatespline.cpp VizGeorefSpline2D)
# ---------------------------------------------------------------------------

def _tps_kernel(d2: np.ndarray) -> np.ndarray:
    """U = d²·ln(d²) with U(0) = 0 (VizGeorefSpline2DBase_func:174-181 —
    note the reference's ``dist`` is the SQUARED distance)."""
    out = np.zeros_like(d2)
    nz = d2 > 0
    out[nz] = d2[nz] * np.log(d2[nz])
    return out


def tps_fit(points, values) -> dict:
    """Fit a 2-D thin plate spline through (xᵢ, yᵢ) → vᵢ exactly:
    v(x,y) = a₀ + a₁x + a₂y + Σ wᵢ U(|p−pᵢ|²) with the standard
    side conditions Σw = Σw·x = Σw·y = 0. ``values`` may be (n,) or
    (n, k) for k target variables sharing the same matrix."""
    P = np.asarray(points, dtype=np.float64)
    V = np.asarray(values, dtype=np.float64)
    n = len(P)
    if n < 3:
        raise ValueError("TPS needs ≥ 3 control points")
    d2 = ((P[:, None, :] - P[None, :, :]) ** 2).sum(axis=2)
    A = np.zeros((n + 3, n + 3))
    A[:n, 0] = 1.0
    A[:n, 1] = P[:, 0]
    A[:n, 2] = P[:, 1]
    A[:n, 3:] = _tps_kernel(d2)
    A[n, 3:] = 1.0
    A[n + 1, 3:] = P[:, 0]
    A[n + 2, 3:] = P[:, 1]
    rhs = np.zeros((n + 3,) + V.shape[1:])
    rhs[:n] = V
    coef = np.linalg.solve(A, rhs)
    return {"points": P, "coef": coef}


def tps_transform(x, y, fit: dict):
    """Vectorized TPS evaluation; fit['coef'] may carry k variables."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    P = fit["points"]
    c = fit["coef"]
    d2 = (x[:, None] - P[None, :, 0]) ** 2 + (y[:, None] - P[None, :, 1]) ** 2
    k = _tps_kernel(d2)
    if c.ndim == 2:
        out = c[0] + x[:, None] * c[1][None, :] + y[:, None] * c[2][None, :] + k @ c[3:]
        return out[:, 0], out[:, 1]
    return c[0] + x * c[1] + y * c[2] + k @ c[3:]


def warp_tps(
    src_tiles, src_meta: RasterMeta, dst_meta: RasterMeta, gcps,
    alg: str = "near", init: float = 0.0,
):
    """gdalwarp -tps of a GCP-georeferenced source: exact interpolation
    through every control point (thin plate spline, reverse direction
    geo→src pixel), sampled through the same distributed warp."""
    from gdal_spark.raster.warp import warp_with_transform

    g = np.asarray(list(gcps), dtype=np.float64)
    fit = tps_fit(g[:, 2:4], g[:, 0:2])
    ident = RasterMeta(
        width=src_meta.width, height=src_meta.height, dtype=src_meta.dtype,
        block_w=src_meta.block_w, block_h=src_meta.block_h,
        gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0),
    )

    def tf(gx, gy):
        return tps_transform(gx, gy, fit)

    return warp_with_transform(src_tiles, ident, dst_meta, tf, alg, init)


def warp_tps_np(
    src: np.ndarray, src_meta: RasterMeta, dst_meta: RasterMeta, gcps,
    alg: str = "near", init: float = 0.0,
) -> np.ndarray:
    """Single-node oracle with the identical fit + sampling path."""
    from gdal_spark.raster.warp import warp_with_transform_np

    g = np.asarray(list(gcps), dtype=np.float64)
    fit = tps_fit(g[:, 2:4], g[:, 0:2])
    ident = RasterMeta(
        width=src_meta.width, height=src_meta.height, dtype=src_meta.dtype,
        block_w=src_meta.block_w, block_h=src_meta.block_h,
        gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0),
    )

    def tf(gx, gy):
        return tps_transform(gx, gy, fit)

    return warp_with_transform_np(src, ident, dst_meta, tf, alg, init)
