"""Warp vs the reference's own golden outputs:

- identity warp of byte.tif → checksum 4672 (test_gdalwarp_lib.py:36)
- 2× nearest upsample → checksum 18784 (test_gdalwarp_lib.py:217)
- bilinear/cubic/cubicspline/lanczos 2× upsample → max |diff| ≤ 1 vs
  autotest/utilities/ref_data/testgdalwarp11-14.tif (the reference's own
  acceptance criterion, test_gdalwarp_lib.py:225-330)
"""
import struct

import numpy as np
import pytest

from conftest import gdal_ref
from gdal_spark.raster.checksum import checksum_np
from gdal_spark.raster.model import RasterMeta, byte_fixture, tiles_from_array, tiles_to_array
from gdal_spark.raster.warp import warp_affine, warp_affine_np

REF = "utilities/ref_data"  # under the GDAL autotest checkout


def _read_tiff_gray(path):
    d = open(path, "rb").read()
    bo = "<" if d[:2] == b"II" else ">"
    off = struct.unpack(bo + "I", d[4:8])[0]
    n = struct.unpack(bo + "H", d[off : off + 2])[0]
    tags = {}
    for i in range(n):
        e = d[off + 2 + 12 * i : off + 2 + 12 * i + 12]
        tag, typ, cnt = struct.unpack(bo + "HHI", e[:8])
        val = struct.unpack(bo + "I", e[8:12])[0]
        tags[tag] = (typ, cnt, val)
    w, h = tags[256][2], tags[257][2]
    assert tags.get(259, (0, 0, 1))[2] == 1, "compressed tiff"

    def arr_of(tag):
        typ, cnt, val = tags[tag]
        if cnt == 1:
            return [val]
        sz = 4 if typ == 4 else 2
        f = "I" if typ == 4 else "H"
        return [
            struct.unpack(bo + f, d[val + i * sz : val + i * sz + sz])[0]
            for i in range(cnt)
        ]

    raw = b"".join(d[o : o + l] for o, l in zip(arr_of(273), arr_of(279)))
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w)


def _dst40():
    return RasterMeta(width=40, height=40, dtype="float64", block_w=40, block_h=40,
                      gt=(440720.0, 30.0, 0.0, 3751320.0, 0.0, -30.0))


def _to_byte(a):
    return np.clip(np.floor(a + 0.5), 0, 255).astype(np.uint8)


def test_identity_warp_checksum_4672():
    arr, meta = byte_fixture()
    out = warp_affine_np(arr, meta, RasterMeta(
        width=20, height=20, dtype="float64", block_w=20, block_h=20, gt=meta.gt
    ), alg="near")
    assert checksum_np(_to_byte(out)) == 4672


def test_near_2x_checksum_18784():
    """test_gdalwarp_lib.py:203-217 golden."""
    arr, meta = byte_fixture()
    out = warp_affine_np(arr, meta, _dst40(), alg="near")
    assert checksum_np(_to_byte(out)) == 18784


@pytest.mark.parametrize(
    "alg,ref",
    [
        ("bilinear", "testgdalwarp11.tif"),
        ("cubic", "testgdalwarp12.tif"),
        ("cubicspline", "testgdalwarp13.tif"),
        ("lanczos", "testgdalwarp14.tif"),
    ],
)
def test_kernel_2x_vs_reference_raster(alg, ref):
    arr, meta = byte_fixture()
    out = _to_byte(warp_affine_np(arr, meta, _dst40(), alg=alg))
    want = _read_tiff_gray(gdal_ref(f"{REF}/{ref}"))
    maxdiff = np.abs(out.astype(int) - want.astype(int)).max()
    assert maxdiff <= 1, (alg, maxdiff)  # the reference's own tolerance


def test_distributed_warp_matches_goldens(spark):
    """The distributed path reproduces the same goldens (multi-block
    source so the gather join actually runs)."""
    arr, meta = byte_fixture()
    meta_blocked = RasterMeta(width=20, height=20, dtype="uint8", block_w=8, block_h=8,
                              gt=meta.gt)
    tiles = tiles_from_array(spark, arr, meta_blocked)
    out = tiles_to_array(
        warp_affine(tiles, meta_blocked, _dst40(), alg="near"), _dst40()
    )
    assert checksum_np(_to_byte(out)) == 18784
    out2 = tiles_to_array(
        warp_affine(tiles, meta_blocked, _dst40(), alg="lanczos"), _dst40()
    )
    want = _read_tiff_gray(gdal_ref(f"{REF}/testgdalwarp14.tif"))
    assert np.abs(_to_byte(out2).astype(int) - want.astype(int)).max() <= 1


# ---------------------------------------------------------------------------
# reducing resamplers (GWKAverageOrMode family)
# ---------------------------------------------------------------------------

def _terrain():
    from gdal_spark.raster.model import RasterMeta, synth_block_np

    meta = RasterMeta(width=96, height=64, dtype="float32", block_w=32, block_h=32,
                      gt=(1000.0, 10.0, 0.0, 5000.0, 0.0, -10.0))
    full = np.zeros((64, 96), dtype="float32")
    for by in range(meta.blocks_y):
        for bx in range(meta.blocks_x):
            h, w = meta.block_shape(bx, by)
            full[by * 32 : by * 32 + h, bx * 32 : bx * 32 + w] = synth_block_np(bx, by, h, w, meta)
    return full, meta


@pytest.mark.parametrize("alg", ["average", "rms", "sum", "min", "max", "mode", "med", "q1", "q3"])
def test_warp_reduce_distributed_matches_numpy(spark, alg):
    from gdal_spark.raster.model import RasterMeta, tiles_from_array, tiles_to_array
    from gdal_spark.raster.warp import warp_affine, warp_affine_np

    full, src_meta = _terrain()
    # 3x downscale, slightly offset grid → fractional footprint weights
    dst_meta = RasterMeta(width=30, height=20, dtype="float64", block_w=10, block_h=10,
                          gt=(995.0, 32.0, 0.0, 5005.0, 0.0, -32.0))
    got = tiles_to_array(
        warp_affine(tiles_from_array(spark, full, src_meta), src_meta, dst_meta,
                    alg=alg, init=-1.0),
        dst_meta,
    )
    want = warp_affine_np(full, src_meta, dst_meta, alg=alg, init=-1.0)
    np.testing.assert_array_equal(got, want)


@pytest.mark.parametrize("dst_size", [(1, 1), (10, 10), (7, 13)])
def test_warp_sum_preserving(spark, dst_size):
    """-r sum preserves the total (test_gdalwarp_lib.py:3495 property):
    footprint weights must tile the source exactly."""
    from gdal_spark.raster.model import RasterMeta, byte_fixture
    from gdal_spark.raster.warp import warp_affine_np

    arr, meta = byte_fixture()
    w, h = dst_size
    # same geographic extent, different resolution
    sx = meta.gt[1] * meta.width / w
    sy = meta.gt[5] * meta.height / h
    dst = RasterMeta(width=w, height=h, dtype="float64", block_w=w, block_h=h,
                     gt=(meta.gt[0], sx, 0.0, meta.gt[3], 0.0, sy))
    out = warp_affine_np(arr.astype(np.float64), meta, dst, alg="sum", init=0.0)
    assert abs(out.sum() - float(arr.sum())) < 1e-6 * arr.sum()


def test_warp_gcp_and_tps_match_oracle(spark):
    """GCP polynomial (orders 1-3) and TPS warps: distributed ==
    single-node oracle; order-1 on an affine GCP set recovers the exact
    affine; TPS interpolates exactly through every control point."""
    import numpy as np

    from gdal_spark.raster.gcp import (
        gcp_fit, gcp_residuals, tps_fit, tps_transform,
        warp_gcp, warp_gcp_np, warp_tps, warp_tps_np,
    )
    from gdal_spark.raster.model import RasterMeta, tiles_from_array, tiles_to_array

    rng = np.random.default_rng(6)
    src = rng.uniform(0, 100, (40, 48)).astype(np.float32)
    smeta = RasterMeta(width=48, height=40, dtype="float32", block_w=16, block_h=10)
    px = np.array([0, 47, 0, 47, 24, 10, 35], float)
    ln = np.array([0, 0, 39, 39, 20, 30, 8], float)
    gx = 1000 + 5 * px + 0.01 * px * ln
    gy = 2000 - 4 * ln + 0.02 * px * px
    gcps = list(zip(px, ln, gx, gy))
    dmeta = RasterMeta(width=50, height=42, dtype="float64", block_w=25, block_h=21,
                       gt=(1000.0, 5.0, 0.0, 2030.0, 0.0, -4.0))
    tiles = tiles_from_array(spark, src, smeta).persist()
    for warp_fn, np_fn, kw in [
        (warp_gcp, warp_gcp_np, {"order": 2}),
        (warp_tps, warp_tps_np, {}),
    ]:
        got = tiles_to_array(
            warp_fn(tiles, smeta, dmeta, gcps, alg="bilinear", init=-1.0, **kw), dmeta)
        want = np_fn(src, smeta, dmeta, gcps, alg="bilinear", init=-1.0, **kw)
        np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-12)
    # order-1 affine recovery
    affine = [(0, 0, 100, 500), (10, 0, 120, 500), (0, 10, 100, 470), (10, 10, 120, 470)]
    fit = gcp_fit(affine, order=1)
    assert gcp_residuals(affine, fit).max() < 1e-9
    # TPS exactness at control points
    pts = np.array([[0, 0], [10, 0], [0, 10], [10, 10], [5, 6]], float)
    vals = np.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0], [7.0, 8.0], [2.5, 9.0]])
    tfit = tps_fit(pts, vals)
    tx, ty = tps_transform(pts[:, 0], pts[:, 1], tfit)
    assert np.allclose(np.column_stack([tx, ty]), vals, atol=1e-9)


# -- CUTLINE_BLEND_DIST (alg/gdalcutline.cpp BlendMaskGenerator) --------------


def _blend_fixture():
    from gdal_spark.geometry.wkb import polygon_wkb

    src_meta = RasterMeta(width=64, height=48, dtype="float64", block_w=16,
                          block_h=16, gt=(1000.0, 10.0, 0.0, 5000.0, 0.0, -10.0))
    rng = np.random.default_rng(42)
    src = np.round(rng.uniform(0, 255, (48, 64)))
    dst_meta = RasterMeta(width=80, height=60, dtype="float64", block_w=32,
                          block_h=20, gt=(1000.0, 8.0, 0.0, 5000.0, 0.0, -8.0))
    cut = polygon_wkb(
        [(1080.0, 4920.0), (1550.0, 4900.0), (1500.0, 4620.0),
         (1300.0, 4800.0), (1100.0, 4580.0), (1080.0, 4920.0)],
        holes=[[(1200.0, 4850.0), (1330.0, 4840.0), (1300.0, 4760.0),
                (1200.0, 4780.0), (1200.0, 4850.0)]],
    )
    return src, src_meta, dst_meta, cut


def test_cutline_blend_density_reference_formula():
    """cutline_density_np vs a scalar per-pixel re-derivation of
    BlendMaskGenerator (alg/gdalcutline.cpp:137-176): polyMask from the
    scanline burn; dist = min point-to-boundary-segment distance at the
    pixel center; dist>blend keeps the binary mask; else
    0.5 ± (dist/blend)/2."""
    from gdal_spark.raster.warp import (
        _cutline_polys_px, cutline_density_np, cutline_mask_np,
    )

    src, src_meta, _, cut = _blend_fixture()
    polys = _cutline_polys_px(cut, src_meta)
    blend = 3.0
    got = cutline_density_np(polys, 0, 0, 48, 64, blend)
    mask = cutline_mask_np(polys, 0, 0, 48, 64)
    segs = []
    for rings in polys:
        for r in rings:
            for j in range(len(r) - 1):
                segs.append((r[j], r[j + 1]))
    exp = np.empty((48, 64))
    for iy in range(48):
        for ix in range(64):
            px, py = ix + 0.5, iy + 0.5
            d2 = np.inf
            for a, b in segs:
                dx, dy = b[0] - a[0], b[1] - a[1]
                ll = dx * dx + dy * dy
                t = ((px - a[0]) * dx + (py - a[1]) * dy) / (ll if ll else 1.0)
                t = min(max(t, 0.0), 1.0)
                d2 = min(d2, (px - (a[0] + t * dx)) ** 2 + (py - (a[1] + t * dy)) ** 2)
            dist = np.sqrt(d2)
            if dist > blend:
                exp[iy, ix] = mask[iy, ix]
            elif mask[iy, ix] > 0:
                exp[iy, ix] = 0.5 + (dist / blend) * 0.5
            else:
                exp[iy, ix] = 0.5 - (dist / blend) * 0.5
    assert np.array_equal(got, exp)
    assert got.min() >= 0.0 and got.max() <= 1.0
    # the feather actually engages: fractional densities exist both sides
    assert ((got > 0) & (got < 0.5)).any() and ((got > 0.5) & (got < 1)).any()


def test_warp_cutline_blend_distributed_matches_oracle(spark):
    """Distributed warp_affine with CUTLINE_BLEND_DIST must be bit-equal
    to the single-node oracle across block boundaries (the density uses
    full-boundary distances, so it is partition-invariant), and reduce to
    the binary-mask result when blend=0."""
    src, src_meta, dst_meta, cut = _blend_fixture()
    tiles = tiles_from_array(spark, src, src_meta)
    for blend in (0.0, 2.5):
        out = tiles_to_array(
            warp_affine(tiles, src_meta, dst_meta, alg="bilinear", init=-1.0,
                        cutline=cut, cutline_blend_dist=blend),
            dst_meta,
        )
        exp = warp_affine_np(src, src_meta, dst_meta, alg="bilinear",
                             init=-1.0, cutline=cut, cutline_blend_dist=blend)
        assert np.array_equal(out, exp), blend
    # blended result differs from binary where the feather engages
    b0 = warp_affine_np(src, src_meta, dst_meta, alg="bilinear", init=-1.0,
                        cutline=cut)
    b1 = warp_affine_np(src, src_meta, dst_meta, alg="bilinear", init=-1.0,
                        cutline=cut, cutline_blend_dist=2.5)
    assert (b0 != b1).any()


def test_tap_meta_alignment(spark):
    """gdalwarp -tap: output pixel edges land on multiples of the
    resolution, extent covers the source, size uses the +res/2 round."""
    import pytest as _pytest

    from gdal_spark.raster.model import RasterMeta
    from gdal_spark.raster.warp import tap_meta

    src = RasterMeta(width=20, height=10, gt=(100.3, 3.0, 0.0, 57.7, 0.0, -2.0))
    m = tap_meta(src, 5.0, 5.0)
    # src extent x [100.3, 160.3] y [37.7, 57.7] -> snapped outward
    assert m.gt == (100.0, 5.0, 0.0, 60.0, 0.0, -5.0)
    assert (m.width, m.height) == (13, 5)        # 165-100=65/5, 60-35=25/5
    assert m.gt[0] % 5.0 == 0.0 and m.gt[3] % 5.0 == 0.0
    # covers the source extent
    assert m.gt[0] <= 100.3 and m.gt[0] + m.width * 5.0 >= 160.3
    assert m.gt[3] >= 57.7 and m.gt[3] - m.height * 5.0 <= 37.7
    with _pytest.raises(ValueError):
        tap_meta(RasterMeta(width=4, height=4, gt=(0, 1, 0.1, 0, 0, -1)), 1, 1)
