"""DEM focal operators — hillshade, slope, aspect, TRI, TPI, roughness.

Exact formulas from the reference (apps/gdaldem_lib.cpp):

- Horn gradient (:770): x = ((w0+2*w3+w6)-(w2+2*w5+w8))/(8*ewres*xscale),
  y = ((w6+2*w7+w8)-(w0+2*w1+w2))/(8*nsres*yscale)
- hillshade (:838-1016, unoptimized form in the comment block):
  cang = sin(alt)*cos(slope) + cos(alt)*sin(slope)*cos(az - pi/2 - aspect)
  output = 1.0 if cang*254 <= 0 else 1 + 254*cang
- hillshade variants: -combined (:1133), -multidirectional (:1223,
  USGS OF 92-422 4-azimuth blend), -igor (:933, altitude-free)
- slope Horn (:1328): atan(sqrt(key)/8) in degrees, or 100*sqrt(key)/8
- aspect (:1395): atan2(dy, -dx) degrees; azimuth convention (>90 →
  450-a else 90-a); flat → NaN; 360 → 0
- TRI Riley (:2347): sqrt(Σ (w_k - w4)^2); TRI Wilson (:2332): mean |Δ|
- TPI (:2364): w4 - mean(neighbors)
- roughness (:2379): max(w) - min(w)

Edge semantics = ``-compute_edges``: the halo exchange replicates raster
edges, matching GDAL's edge interpolation with INTERPOL semantics for the
border rows.

Execution: one halo-1 strip exchange (O(perimeter) shuffle) then a pure
NumPy stencil per block inside ``applyInPandas`` — the distributed form
of the reference's line-buffered single pass.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gdal_spark.raster.halo import padded_blocks
from gdal_spark.raster.model import RasterMeta, TILES_SCHEMA


def _win(pad: np.ndarray):
    """The 9 shifted views w0..w8 (GDAL window order, row-major)."""
    return [
        pad[:-2, :-2], pad[:-2, 1:-1], pad[:-2, 2:],
        pad[1:-1, :-2], pad[1:-1, 1:-1], pad[1:-1, 2:],
        pad[2:, :-2], pad[2:, 1:-1], pad[2:, 2:],
    ]


def _gradient(w, ewres, nsres, z, xscale, yscale, grad="horn"):
    """Folded-z gradient: Horn (gdaldem_lib.cpp:770, z/8 factor) or
    Zevenbergen–Thorne (:788, z/2 factor)."""
    if grad == "zt":
        x = z * (w[3] - w[5]) / (2.0 * ewres * xscale)
        y = z * (w[7] - w[1]) / (2.0 * nsres * yscale)
    else:
        x = z * ((w[0] + w[3] + w[3] + w[6]) - (w[2] + w[5] + w[5] + w[8])) / (8.0 * ewres * xscale)
        y = z * ((w[6] + w[7] + w[7] + w[8]) - (w[0] + w[1] + w[1] + w[2])) / (8.0 * nsres * yscale)
    return x, y


def hillshade_np(pad, ewres, nsres, z=1.0, xscale=1.0, yscale=1.0, az=315.0,
                 alt=45.0, grad="horn"):
    w = [p.astype(np.float64) for p in _win(pad)]
    x, y = _gradient(w, ewres, nsres, z, xscale, yscale, grad)
    azr = np.radians(az)
    altr = np.radians(alt)
    xx_plus_yy = x * x + y * y
    cang_mul_254 = (
        254.0 * np.sin(altr)
        - (y * (np.cos(azr) * np.cos(altr) * 254.0) - x * (np.sin(azr) * np.cos(altr) * 254.0))
    ) / np.sqrt(1.0 + xx_plus_yy)
    return np.where(cang_mul_254 <= 0.0, 1.0, 1.0 + cang_mul_254)


def hillshade_combined_np(pad, ewres, nsres, z=1.0, xscale=1.0, yscale=1.0,
                          az=315.0, alt=45.0, grad="horn"):
    """``gdaldem hillshade -combined`` (GDALHillshadeCombinedAlg,
    apps/gdaldem_lib.cpp:1133-1159): classic shade angle acos(cang)
    modulated by slope — cang' = 1 − acos(cang)·atan(√slope)·4/π²."""
    w = [p.astype(np.float64) for p in _win(pad)]
    x, y = _gradient(w, ewres, nsres, z, xscale, yscale, grad)
    azr = np.radians(az)
    altr = np.radians(alt)
    slope = x * x + y * y  # == square_z * xx_plus_yy (z folded into x, y)
    num = np.sin(altr) - (y * np.cos(azr) * np.cos(altr) - x * np.sin(azr) * np.cos(altr))
    cang = np.arccos(np.clip(num / np.sqrt(1.0 + slope), -1.0, 1.0))
    inv_sq_half_pi = 1.0 / ((np.pi * np.pi) / 4.0)
    cang = 1.0 - cang * np.arctan(np.sqrt(slope)) * inv_sq_half_pi
    return np.where(cang <= 0.0, 1.0, 1.0 + 254.0 * cang)


def hillshade_multidirectional_np(pad, ewres, nsres, z=1.0, xscale=1.0,
                                  yscale=1.0, alt=45.0, grad="horn"):
    """``gdaldem hillshade -multidirectional``
    (GDALHillshadeMultiDirectionalAlg, apps/gdaldem_lib.cpp:1223-1283;
    USGS OF 92-422): aspect-weighted blend of shades from azimuths
    225/270/315/360 with weights sin²(aspect − az)."""
    w = [p.astype(np.float64) for p in _win(pad)]
    x, y = _gradient(w, ewres, nsres, z, xscale, yscale, grad)
    altr = np.radians(alt)
    sin_alt_127 = 127.0 * np.sin(altr)
    cos_alt_127 = 127.0 * np.cos(altr)
    cos225_127 = np.cos(np.radians(225.0)) * cos_alt_127
    xx = x * x
    yy = y * y
    xx_plus_yy = xx + yy
    val225 = np.maximum(sin_alt_127 + (x - y) * cos225_127, 0.0)
    val270 = np.maximum(sin_alt_127 - x * cos_alt_127, 0.0)
    val315 = np.maximum(sin_alt_127 + (x + y) * cos225_127, 0.0)
    val360 = np.maximum(sin_alt_127 - y * cos_alt_127, 0.0)
    w225 = 0.5 * xx_plus_yy - x * y
    w270 = xx
    w315 = xx_plus_yy - w225
    w360 = yy
    with np.errstate(divide="ignore", invalid="ignore"):
        cang_127 = (
            (w225 * val225 + w270 * val270 + w315 * val315 + w360 * val360)
            / xx_plus_yy
        ) / np.sqrt(1.0 + xx_plus_yy)
    # flat pixels: xx_plus_yy == 0 → 1 + 254·sin(alt) (:1249)
    return np.where(xx_plus_yy == 0.0, 1.0 + 2.0 * sin_alt_127, 1.0 + cang_127)


def hillshade_igor_np(pad, ewres, nsres, z=1.0, xscale=1.0, yscale=1.0,
                      az=315.0, grad="horn"):
    """``gdaldem hillshade -igor`` (GDALHillshadeIgorAlg,
    apps/gdaldem_lib.cpp:933-995): shadowness = 1 − slopeStrength ×
    aspectStrength on a 0..255 scale; altitude is ignored."""
    w = [p.astype(np.float64) for p in _win(pad)]
    if grad == "zt":
        dx = (w[3] - w[5]) / (ewres * xscale)
        dy = (w[7] - w[1]) / (nsres * yscale)
        slope_deg = np.degrees(np.arctan(np.sqrt(dx * dx + dy * dy) * (z / 2.0)))
        adx, ady = w[5] - w[3], w[7] - w[1]
    else:
        dx = ((w[0] + w[3] + w[3] + w[6]) - (w[2] + w[5] + w[5] + w[8])) / (ewres * xscale)
        dy = ((w[6] + w[7] + w[7] + w[8]) - (w[0] + w[1] + w[1] + w[2])) / (nsres * yscale)
        slope_deg = np.degrees(np.arctan(np.sqrt(dx * dx + dy * dy) * (z / 8.0)))
        # aspect from the UNSCALED Horn sums (:966-975)
        adx = (w[2] + w[5] + w[5] + w[8]) - (w[0] + w[3] + w[3] + w[6])
        ady = (w[6] + w[7] + w[7] + w[8]) - (w[0] + w[1] + w[1] + w[2])
    aspect = np.arctan2(ady, -adx)
    target = 1.5 * np.pi - np.radians(az)
    diff = np.abs(np.mod(aspect, 2.0 * np.pi) - np.mod(target, 2.0 * np.pi))
    diff = np.where(diff > np.pi, 2.0 * np.pi - diff, diff)
    shadowness = 1.0 - (slope_deg / 90.0) * (1.0 - diff / np.pi)
    return 255.0 * shadowness


def slope_np(pad, ewres, nsres, xscale=1.0, yscale=1.0, degrees=True, grad="horn"):
    w = [p.astype(np.float64) for p in _win(pad)]
    if grad == "zt":  # GDALSlopeZevenbergenThorneAlg (:1351)
        dx = (w[3] - w[5]) / (ewres * xscale)
        dy = (w[7] - w[1]) / (nsres * yscale)
        div = 2.0
    else:
        dx = ((w[0] + w[3] + w[3] + w[6]) - (w[2] + w[5] + w[5] + w[8])) / (ewres * xscale)
        dy = ((w[6] + w[7] + w[7] + w[8]) - (w[0] + w[1] + w[1] + w[2])) / (nsres * yscale)
        div = 8.0
    key = dx * dx + dy * dy
    if degrees:
        return np.degrees(np.arctan(np.sqrt(key) / div))
    return 100.0 * (np.sqrt(key) / div)


def aspect_np(pad, azimuth=True, grad="horn"):
    w = [p.astype(np.float64) for p in _win(pad)]
    if grad == "zt":  # GDALAspectZevenbergenThorneAlg (:1434)
        dx = w[5] - w[3]
        dy = w[7] - w[1]
    else:
        dx = (w[2] + w[5] + w[5] + w[8]) - (w[0] + w[3] + w[3] + w[6])
        dy = (w[6] + w[7] + w[7] + w[8]) - (w[0] + w[1] + w[1] + w[2])
    aspect = np.degrees(np.arctan2(dy, -dx))
    if azimuth:
        aspect = np.where(aspect > 90.0, 450.0 - aspect, 90.0 - aspect)
    else:
        aspect = np.where(aspect < 0, aspect + 360.0, aspect)
    aspect = np.where(aspect == 360.0, 0.0, aspect)
    return np.where((dx == 0) & (dy == 0), np.nan, aspect)


def tri_np(pad, alg="Riley"):
    w = [p.astype(np.float64) for p in _win(pad)]
    diffs = [w[k] - w[4] for k in (0, 1, 2, 3, 5, 6, 7, 8)]
    if alg == "Wilson":
        return sum(np.abs(d) for d in diffs) * 0.125
    return np.sqrt(sum(d * d for d in diffs))


def tpi_np(pad):
    w = [p.astype(np.float64) for p in _win(pad)]
    return w[4] - (w[0] + w[1] + w[2] + w[3] + w[5] + w[6] + w[7] + w[8]) * 0.125


def roughness_np(pad):
    w = [p.astype(np.float64) for p in _win(pad)]
    return np.max(w, axis=0) - np.min(w, axis=0)


def color_relief_np(arr: np.ndarray, ramp: list) -> np.ndarray:
    """Color relief (gdaldem color-relief, apps/gdaldem_lib.cpp): per-pixel
    linear interpolation of an (elevation → RGB) ramp; elevations outside
    the ramp clamp to the end colors. ``ramp``: sorted [(elev, r, g, b)].
    Returns (h, w, 3) uint8."""
    e = np.array([r[0] for r in ramp], dtype=np.float64)
    rgb = np.array([r[1:4] for r in ramp], dtype=np.float64)
    v = arr.astype(np.float64)
    idx = np.clip(np.searchsorted(e, v, side="right") - 1, 0, len(e) - 2)
    e0 = e[idx]
    e1 = e[idx + 1]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(e1 > e0, (v - e0) / (e1 - e0), 0.0)
    t = np.clip(t, 0.0, 1.0)
    out = rgb[idx] + t[..., None] * (rgb[idx + 1] - rgb[idx])
    return np.floor(out + 0.5).astype(np.uint8)


def color_relief(tiles: DataFrame, meta: RasterMeta, ramp: list) -> DataFrame:
    """Distributed color relief → 3 tile rows (bands 1..3, uint8) per block."""
    dtype = meta.dtype

    def compute(iterator):
        for pdf in iterator:
            rows = []
            for _, r in pdf.iterrows():
                arr = np.frombuffer(r.data, dtype=dtype).reshape(r.h, r.w)
                rgb = color_relief_np(arr, ramp)
                for b in range(3):
                    rows.append(
                        (b + 1, int(r.block_y), int(r.block_x), int(r.h), int(r.w),
                         np.ascontiguousarray(rgb[:, :, b]).tobytes())
                    )
            yield pd.DataFrame(rows, columns=["band", "block_y", "block_x", "h", "w", "data"])

    return tiles.filter(F.col("band") == 1).mapInPandas(compute, TILES_SCHEMA)


_ALGS = {
    "hillshade": lambda pad, meta, kw: hillshade_np(pad, meta.gt[1], meta.gt[5], **kw),
    "hillshade_combined": lambda pad, meta, kw: hillshade_combined_np(
        pad, meta.gt[1], meta.gt[5], **kw
    ),
    "hillshade_multidirectional": lambda pad, meta, kw: hillshade_multidirectional_np(
        pad, meta.gt[1], meta.gt[5], **kw
    ),
    "hillshade_igor": lambda pad, meta, kw: hillshade_igor_np(pad, meta.gt[1], meta.gt[5], **kw),
    "slope": lambda pad, meta, kw: slope_np(pad, meta.gt[1], meta.gt[5], **kw),
    "aspect": lambda pad, meta, kw: aspect_np(pad, **kw),
    "tri": lambda pad, meta, kw: tri_np(pad, **kw),
    "tri_wilson": lambda pad, meta, kw: tri_np(pad, "Wilson", **kw),
    "tpi": lambda pad, meta, kw: tpi_np(pad, **kw),
    "roughness": lambda pad, meta, kw: roughness_np(pad, **kw),
}


def _check_options(op: str, meta: RasterMeta, kw: dict) -> None:
    """Raise ValueError for an option ``op`` does not read: the operator's
    own signature is the list, so a misspelled option cannot be dropped."""
    try:
        with np.errstate(all="ignore"):
            _ALGS[op](np.zeros((3, 3)), meta, kw)
    except TypeError as e:
        raise ValueError(f"dem_op {op!r}: {e}") from None


def dem_op(tiles: DataFrame, meta: RasterMeta, op: str, **kw) -> DataFrame:
    """Run one DEM operator over every band of the tiles DataFrame →
    float64 tiles. ``kw`` are the operator's options (``z``, ``az``,
    ``grad``, ...); one it does not read raises ValueError."""
    fn = _ALGS[op]
    _check_options(op, meta, kw)
    dtype = meta.dtype
    padded = padded_blocks(tiles, meta, 1)

    def compute(iterator):
        for pdf in iterator:
            rows = []
            for _, r in pdf.iterrows():
                pad = np.frombuffer(r.data, dtype=dtype).reshape(r.h + 2, r.w + 2)
                out = fn(pad, meta, kw).astype(np.float64)
                rows.append((int(r.band), int(r.block_y), int(r.block_x), int(r.h), int(r.w), out.tobytes()))
            yield pd.DataFrame(rows, columns=["band", "block_y", "block_x", "h", "w", "data"])

    return padded.mapInPandas(compute, TILES_SCHEMA)


def dem_op_np(arr: np.ndarray, meta: RasterMeta, op: str, **kw) -> np.ndarray:
    """Single-node oracle: same formula over the edge-replicated full array."""
    _check_options(op, meta, kw)
    pad = np.pad(arr, 1, mode="edge")
    return _ALGS[op](pad, meta, kw).astype(np.float64)
