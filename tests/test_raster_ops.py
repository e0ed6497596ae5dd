"""DEM, rasterize, polygonize/sieve, warp, grid — distributed vs NumPy
oracles (which themselves encode the reference formulas)."""
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_spark.geometry import wkt
from gdal_spark.raster import dem, grid, polygonize, rasterize, warp
from gdal_spark.raster.model import RasterMeta, synth_raster, tiles_from_array, tiles_to_array


@pytest.fixture(scope="module")
def terrain(spark):
    meta = RasterMeta(
        width=60, height=40, dtype="float32", block_w=20, block_h=20,
        gt=(1000.0, 10.0, 0.0, 5000.0, 0.0, -10.0),
    )
    tiles = synth_raster(spark, meta).persist()
    full = tiles_to_array(tiles, meta)
    return tiles, full, meta


@pytest.mark.parametrize("op", ["hillshade", "hillshade_combined",
                                "hillshade_multidirectional", "hillshade_igor",
                                "slope", "aspect", "tri", "tri_wilson", "tpi", "roughness"])
def test_dem_ops_match_oracle(spark, terrain, op):
    tiles, full, meta = terrain
    got = tiles_to_array(
        dem.dem_op(tiles, meta, op), RasterMeta(
            width=meta.width, height=meta.height, dtype="float64",
            block_w=meta.block_w, block_h=meta.block_h, gt=meta.gt,
        ),
    )
    want = dem.dem_op_np(full, meta, op)
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-12, equal_nan=True)


def test_hillshade_flat_is_sin_alt(spark):
    """Flat terrain → cang = sin(alt); value = 1 + 254*sin(45°)."""
    meta = RasterMeta(width=8, height=8, dtype="float32", block_w=8, block_h=8)
    flat = np.zeros((8, 8), dtype=np.float32)
    out = dem.dem_op_np(flat, meta, "hillshade")
    assert out[4, 4] == pytest.approx(1.0 + 254.0 * np.sin(np.radians(45.0)))


def test_hillshade_variant_flat_semantics():
    """Flat terrain closed forms: multidirectional → 1 + 254·sin(alt)
    (gdaldem_lib.cpp:1249 flat short-circuit); igor → 255 (no slope →
    shadowness 1, altitude ignored); combined → 1 + 254·(1 − acos(sin
    alt)·atan(0)·4/π²) = 1 + 254·1 = 255 at slope 0."""
    meta = RasterMeta(width=8, height=8, dtype="float32", block_w=8, block_h=8)
    flat = np.zeros((8, 8), dtype=np.float32)
    md = dem.dem_op_np(flat, meta, "hillshade_multidirectional")
    assert md[4, 4] == pytest.approx(1.0 + 254.0 * np.sin(np.radians(45.0)))
    ig = dem.dem_op_np(flat, meta, "hillshade_igor")
    assert ig[4, 4] == pytest.approx(255.0)
    cb = dem.dem_op_np(flat, meta, "hillshade_combined")
    assert cb[4, 4] == pytest.approx(255.0)


def test_rasterize_square_pixel_center(spark):
    """10×10 grid, square (2,2)-(6,6) in geo == pixel coords (identity
    GT): pixel-center rule burns rows/cols 2..5 (16 pixels)."""
    meta = RasterMeta(width=10, height=10, dtype="uint8", block_w=5, block_h=5,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    feats = spark.createDataFrame(
        [(bytearray(wkt.wkt_to_wkb("POLYGON ((2 2,6 2,6 6,2 6,2 2))")), 7.0)],
        "geometry BINARY, burn DOUBLE",
    )
    out_meta = RasterMeta(width=10, height=10, dtype="float64", block_w=5, block_h=5, gt=meta.gt)
    got = tiles_to_array(rasterize.rasterize(feats, meta), out_meta)
    want = np.zeros((10, 10))
    want[2:6, 2:6] = 7.0
    assert (got == want).all()


def test_rasterize_matches_numpy_oracle(spark):
    meta = RasterMeta(width=32, height=24, dtype="uint8", block_w=16, block_h=12,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    out_meta = RasterMeta(width=32, height=24, dtype="float64", block_w=16, block_h=12, gt=meta.gt)
    polys = [
        "POLYGON ((1.2 1.7,14.8 2.3,10.1 11.4,2.5 9.9,1.2 1.7))",
        "POLYGON ((8 5,27 4,29 20,12 22,8 5))",
        "POLYGON ((20 2,30 2,30 8,20 8,20 2))",
    ]
    feats = spark.createDataFrame(
        [(i, bytearray(wkt.wkt_to_wkb(p)), float(i + 1)) for i, p in enumerate(polys)],
        "fid INT, geometry BINARY, burn DOUBLE",
    )
    for merge in ("REPLACE", "ADD"):
        got = tiles_to_array(
            rasterize.rasterize(feats, meta, fid_col="fid", merge_alg=merge), out_meta
        )
        rings_list = [[np.asarray(wkt.parse_wkt(p)[1][0])] for p in polys]
        want = rasterize.rasterize_np(
            rings_list, [1.0, 2.0, 3.0], meta, merge_add=(merge == "ADD")
        )
        assert (got == want).all(), merge


def test_rasterize_all_touched(spark):
    meta = RasterMeta(width=12, height=12, dtype="uint8", block_w=6, block_h=6,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    out_meta = RasterMeta(width=12, height=12, dtype="float64", block_w=6, block_h=6, gt=meta.gt)
    p = "POLYGON ((1.5 1.5,10.5 2.5,6.5 9.5,1.5 1.5))"
    feats = spark.createDataFrame(
        [(bytearray(wkt.wkt_to_wkb(p)), 1.0)], "geometry BINARY, burn DOUBLE"
    )
    got = tiles_to_array(rasterize.rasterize(feats, meta, all_touched=True), out_meta)
    rings = [[np.asarray(wkt.parse_wkt(p)[1][0])]]
    want = rasterize.rasterize_np(rings, [1.0], meta, all_touched=True)
    assert (got == want).all()
    # all_touched is a superset of the default fill
    base = rasterize.rasterize_np(rings, [1.0], meta)
    assert ((want >= base)).all() and want.sum() > base.sum()


def test_polygonize_regions(spark):
    meta = RasterMeta(width=16, height=12, dtype="uint8", block_w=8, block_h=6)
    arr = np.zeros((12, 16), dtype=np.uint8)
    arr[2:10, 2:7] = 1       # crosses the vertical block boundary? no (2..6)
    arr[3:9, 9:15] = 2       # crosses blocks horizontally
    arr[0:2, 14:16] = 1      # separate region, same value
    tiles = tiles_from_array(spark, arr, meta)
    regions = polygonize.polygonize_regions(tiles, meta).collect()
    got = sorted(
        (float(r.value), int(r.n_pixels), r.min_x, r.min_y, r.max_x, r.max_y)
        for r in regions
    )
    want = polygonize.polygonize_np(arr)
    assert got == want
    # exactly 4 regions: background + three
    assert len(got) == 4


def test_polygonize_8connected(spark):
    meta = RasterMeta(width=8, height=8, dtype="uint8", block_w=8, block_h=8)
    arr = np.zeros((8, 8), dtype=np.uint8)
    arr[1, 1] = 1
    arr[2, 2] = 1  # diagonal touch
    tiles = tiles_from_array(spark, arr, meta)
    r4 = polygonize.polygonize_regions(tiles, meta, connect8=False).collect()
    r8 = polygonize.polygonize_regions(tiles, meta, connect8=True).collect()
    assert len(r4) == 3  # bg + two single-pixel regions
    assert len(r8) == 2  # bg + one diagonal-joined region


def test_sieve_relabels_small_regions(spark):
    meta = RasterMeta(width=10, height=10, dtype="uint8", block_w=10, block_h=10)
    arr = np.zeros((10, 10), dtype=np.uint8)
    arr[4:6, 4:6] = 5  # 4-pixel island inside 96-pixel background
    tiles = tiles_from_array(spark, arr, meta)
    relabel = polygonize.sieve(tiles, meta, threshold=5).collect()
    m = {r.region_id: (r.old_value, r.new_value) for r in relabel}
    assert any(old == 5.0 and new == 0.0 for old, new in m.values())
    assert any(old == 0.0 and new == 0.0 for old, new in m.values())


def test_sieve_apply_rewrites_pixels(spark):
    meta = RasterMeta(width=12, height=10, dtype="uint8", block_w=6, block_h=5)
    arr = np.zeros((10, 12), dtype=np.uint8)
    arr[4:6, 5:7] = 5   # small island CROSSING tile boundaries
    arr[0:8, 9:12] = 9  # large region, kept
    tiles = tiles_from_array(spark, arr, meta)
    out = tiles_to_array(polygonize.sieve_apply(tiles, meta, threshold=5), meta)
    assert (out[4:6, 5:7] == 0).all()       # island absorbed into background
    assert (out[0:8, 9:12] == 9).all()      # large region untouched
    assert (out == arr)[arr == 0].all()     # background untouched


@pytest.mark.parametrize("alg", ["near", "bilinear", "cubic"])
def test_warp_affine_matches_oracle(spark, alg):
    src_meta = RasterMeta(width=40, height=30, dtype="float32", block_w=16, block_h=16,
                          gt=(100.0, 2.0, 0.0, 400.0, 0.0, -2.0))
    # dst: shifted, finer resolution, different blocks
    dst_meta = RasterMeta(width=50, height=36, dtype="float64", block_w=20, block_h=12,
                          gt=(96.0, 1.5, 0.0, 404.0, 0.0, -1.7))
    tiles = synth_raster(spark, src_meta)
    full = tiles_to_array(tiles, src_meta)
    got = tiles_to_array(warp.warp_affine(tiles, src_meta, dst_meta, alg=alg, init=-1.0), dst_meta)
    want = warp.warp_affine_np(full, src_meta, dst_meta, alg=alg, init=-1.0)
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-12)


def test_warp_identity_roundtrip(spark):
    meta = RasterMeta(width=32, height=32, dtype="uint8", block_w=16, block_h=16,
                      gt=(0.0, 1.0, 0.0, 32.0, 0.0, -1.0))
    tiles = synth_raster(spark, meta)
    full = tiles_to_array(tiles, meta)
    out_meta = RasterMeta(width=32, height=32, dtype="float64", block_w=16, block_h=16, gt=meta.gt)
    got = tiles_to_array(warp.warp_affine(tiles, meta, meta, alg="near"), out_meta)
    assert (got == full).all()


@pytest.mark.parametrize("alg", ["invdist", "invdistnn", "nearest", "average", "count", "min", "max", "range"])
def test_grid_matches_oracle(spark, alg):
    rng = np.random.default_rng(21)
    n = 120
    px = rng.uniform(0.0, 32.0, n)
    py = rng.uniform(0.0, 24.0, n)
    pz = rng.uniform(0.0, 100.0, n)
    meta = RasterMeta(width=32, height=24, dtype="float64", block_w=16, block_h=12,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    pts = spark.createDataFrame(pd.DataFrame({"x": px, "y": py, "z": pz}))
    kw = dict(radius=4.0, power=2.0, smoothing=0.5, min_points=1, max_points=8, nodata=-9.0)
    got = tiles_to_array(grid.grid_points(pts, meta, alg=alg, **kw), meta)
    want = grid.grid_points_np(px, py, pz, meta, alg=alg, **kw)
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-12)


@pytest.mark.parametrize("alg", ["invdistnn", "average", "min", "max", "range", "count", "avgdist"])
def test_grid_per_quadrant_matches_oracle(spark, alg):
    """GDALGrid*PerQuadrant family (alg/gdalgrid.cpp:343,735,1145,1598,
    1860,2124): distributed per-quadrant selection == single-node oracle."""
    rng = np.random.default_rng(33)
    n = 120
    px = rng.uniform(0.0, 32.0, n)
    py = rng.uniform(0.0, 24.0, n)
    pz = rng.uniform(0.0, 100.0, n)
    meta = RasterMeta(width=32, height=24, dtype="float64", block_w=16, block_h=12,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    pts = spark.createDataFrame(pd.DataFrame({"x": px, "y": py, "z": pz}))
    kw = dict(radius=5.0, power=2.0, smoothing=0.2, min_points=1, max_points=9,
              min_ppq=1, max_ppq=3, nodata=-9.0)
    got = tiles_to_array(grid.grid_points(pts, meta, alg=alg, **kw), meta)
    want = grid.grid_points_np(px, py, pz, meta, alg=alg, **kw)
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-12)


def test_grid_per_quadrant_min_ppq_semantics():
    """A node with all in-radius points on one side has 2 empty quadrants →
    min_ppq=1 must yield nodata there while the unconstrained run doesn't
    (gdalgrid.cpp:462-467)."""
    # 4 points surrounding node (6.5, 1.5) — one per quadrant there; the
    # far-west node (0.5, ·) sees them all to its east (west quadrants empty)
    px = np.array([6.0, 7.0, 6.0, 7.0])
    py = np.array([1.0, 1.0, 1.8, 1.8])
    pz = np.array([10.0, 20.0, 30.0, 40.0])
    meta = RasterMeta(width=8, height=2, dtype="float64", block_w=8, block_h=2,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    free = grid.grid_points_np(px, py, pz, meta, alg="average", radius=10.0,
                               min_points=1, nodata=-1.0)
    bound = grid.grid_points_np(px, py, pz, meta, alg="average", radius=10.0,
                                min_points=1, min_ppq=1, nodata=-1.0)
    assert (free != -1.0).all()                # unconstrained: all reachable
    assert (bound[:, 0] == -1.0).all()         # west column: empty W quadrants
    assert bound[1, 6] == 25.0                 # node (6.5,1.5): all 4 filled


def test_polygonize_connect8_diagonal_across_tiles(spark):
    """ADVICE r1 (high): two pixels touching only diagonally ACROSS a tile
    boundary must union under connect8."""
    from gdal_spark.raster import polygonize
    from gdal_spark.raster.model import RasterMeta, tiles_from_array

    arr = np.zeros((8, 8), dtype=np.uint8)
    arr[3, 3] = 5
    arr[4, 4] = 5  # diagonal contact exactly at the block_h=4 boundary
    meta = RasterMeta(width=8, height=8, dtype="uint8", block_w=8, block_h=4)
    tiles = tiles_from_array(spark, arr, meta)
    got8 = sorted(
        (r.value, r.n_pixels)
        for r in polygonize.polygonize_regions(tiles, meta, connect8=True).collect()
    )
    want8 = sorted((v, n) for v, n, *_ in polygonize.polygonize_np(arr, connect8=True))
    assert got8 == want8  # 2 regions: background + the joined pair
    got4 = sorted(
        (r.value, r.n_pixels)
        for r in polygonize.polygonize_regions(tiles, meta, connect8=False).collect()
    )
    want4 = sorted((v, n) for v, n, *_ in polygonize.polygonize_np(arr, connect8=False))
    assert got4 == want4


def test_polygonize_connect8_corner_across_four_tiles(spark):
    """Diagonal contact exactly at a 4-tile corner."""
    from gdal_spark.raster import polygonize
    from gdal_spark.raster.model import RasterMeta, tiles_from_array

    arr = np.zeros((8, 8), dtype=np.uint8)
    arr[3, 3] = 9  # bottom-right pixel of tile (0,0)
    arr[4, 4] = 9  # top-left pixel of tile (1,1)
    meta = RasterMeta(width=8, height=8, dtype="uint8", block_w=4, block_h=4)
    tiles = tiles_from_array(spark, arr, meta)
    got = sorted(
        (r.value, r.n_pixels)
        for r in polygonize.polygonize_regions(tiles, meta, connect8=True).collect()
    )
    want = sorted((v, n) for v, n, *_ in polygonize.polygonize_np(arr, connect8=True))
    assert got == want


def test_sieve_true_adjacency_beats_bbox(spark):
    """Fixture where bbox-touch and true adjacency DIFFER: a concave
    C-shaped region's bbox touches an island that no pixel touches."""
    from gdal_spark.raster import polygonize
    from gdal_spark.raster.model import RasterMeta, tiles_from_array

    arr = np.zeros((8, 12), dtype=np.uint8)
    # big L-shape of value 1 whose bbox covers the whole left half
    arr[0:8, 0:2] = 1
    arr[6:8, 2:6] = 1
    # small region of value 2 inside L's bbox but NOT pixel-adjacent to it
    arr[1, 4] = 2
    # medium region of value 3 pixel-adjacent to the small region
    arr[0, 3:6] = 3
    meta = RasterMeta(width=12, height=8, dtype="uint8", block_w=6, block_h=4)
    tiles = tiles_from_array(spark, arr, meta)
    relabel = {
        (r.old_value, r.region_id): r.new_value
        for r in polygonize.sieve(tiles, meta, threshold=2).collect()
    }
    # the lone value-2 pixel (n=1 < 2) borders regions 3 and 0 only; its
    # largest TRUE neighbor is the background (0). The r1 bbox
    # approximation would have merged it into value 1 (bbox-overlap
    # without any shared pixel edge) — that must never happen.
    small = [v for (ov, _), v in relabel.items() if ov == 2.0]
    assert small == [0.0]


def test_grid_linear_distributed_matches_numpy(spark):
    import pandas as pd

    from gdal_spark.raster.grid import grid_linear, grid_linear_np
    from gdal_spark.raster.model import RasterMeta, tiles_to_array

    rng = np.random.default_rng(9)
    px = rng.uniform(0, 32, 80)
    py = rng.uniform(0, 24, 80)
    pz = rng.uniform(0, 100, 80)
    meta = RasterMeta(width=32, height=24, dtype="float64", block_w=16, block_h=12,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    pts = spark.createDataFrame(pd.DataFrame({"x": px, "y": py, "z": pz}))
    got = tiles_to_array(grid_linear(pts, meta, radius=5.0, nodata=-1.0), meta)
    want = grid_linear_np(px, py, pz, meta, radius=5.0, nodata=-1.0)
    np.testing.assert_array_equal(got, want)


def test_grid_linear_tiled_matches_numpy(spark):
    """r3 tiled TIN: 4x4 blocks, margin_rings=1 so most blocks certify
    from a partial neighborhood and some escalate — output must be
    bit-identical to the global-TIN oracle (certification contract)."""
    import pandas as pd

    from gdal_spark.raster.grid import grid_linear, grid_linear_np
    from gdal_spark.raster.model import RasterMeta, tiles_to_array

    rng = np.random.default_rng(17)
    px = rng.uniform(0, 32, 150)
    py = rng.uniform(0, 24, 150)
    pz = rng.uniform(0, 100, 150)
    meta = RasterMeta(width=32, height=24, dtype="float64", block_w=8, block_h=6,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    pts = spark.createDataFrame(pd.DataFrame({"x": px, "y": py, "z": pz}))
    got = tiles_to_array(
        grid_linear(pts, meta, radius=5.0, nodata=-1.0, mode="tiled", margin_rings=1),
        meta,
    )
    want = grid_linear_np(px, py, pz, meta, radius=5.0, nodata=-1.0)
    np.testing.assert_array_equal(got, want)


def test_grid_linear_tiled_sparse_corner_cloud(spark):
    """Points clustered in one corner: far blocks are outside the hull
    (nearest-fallback with unlimited radius) and must escalate to the
    exact final round; values still match the oracle exactly."""
    import pandas as pd

    from gdal_spark.raster.grid import grid_linear, grid_linear_np
    from gdal_spark.raster.model import RasterMeta, tiles_to_array

    rng = np.random.default_rng(23)
    px = rng.uniform(0, 8, 25)
    py = rng.uniform(0, 6, 25)
    pz = rng.uniform(0, 50, 25)
    meta = RasterMeta(width=32, height=24, dtype="float64", block_w=8, block_h=6,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    pts = spark.createDataFrame(pd.DataFrame({"x": px, "y": py, "z": pz}))
    got = tiles_to_array(
        grid_linear(pts, meta, radius=-1.0, nodata=-1.0, mode="tiled", margin_rings=1),
        meta,
    )
    want = grid_linear_np(px, py, pz, meta, radius=-1.0, nodata=-1.0)
    np.testing.assert_array_equal(got, want)


def test_grid_metric_algs_match_numpy(spark):
    import pandas as pd

    from gdal_spark.raster.grid import grid_points, grid_points_np
    from gdal_spark.raster.model import RasterMeta, tiles_to_array

    rng = np.random.default_rng(11)
    px = rng.uniform(0, 32, 100)
    py = rng.uniform(0, 24, 100)
    pz = rng.uniform(0, 50, 100)
    meta = RasterMeta(width=32, height=24, dtype="float64", block_w=16, block_h=12,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    pts = spark.createDataFrame(pd.DataFrame({"x": px, "y": py, "z": pz}))
    for alg in ("avgdist", "avgdistpts", "nearest", "range", "count"):
        got = tiles_to_array(
            grid_points(pts, meta, alg=alg, radius=4.0, min_points=1), meta
        )
        want = grid_points_np(px, py, pz, meta, alg=alg, radius=4.0, min_points=1)
        np.testing.assert_array_equal(got, want, err_msg=alg)


def test_pansharpen_matches_oracle(spark):
    """Weighted-Brovey pansharpen (alg/gdalpansharpen.cpp): distributed
    cubic upsample + fusion == single-node oracle, incl. nodata patch and
    saturation clamp."""
    from gdal_spark.raster.pansharpen import pansharpen, pansharpen_np

    smeta = RasterMeta(width=32, height=24, dtype="float32", block_w=16, block_h=12,
                       gt=(0.0, 2.0, 0.0, 48.0, 0.0, -2.0))
    pmeta = RasterMeta(width=64, height=48, dtype="uint16", block_w=16, block_h=12,
                       gt=(0.0, 1.0, 0.0, 48.0, 0.0, -1.0))
    rng = np.random.default_rng(5)
    spec = rng.uniform(10, 200, (3, 24, 32)).astype(np.float32)
    spec[1, 5:8, 5:8] = -1.0
    pan = rng.uniform(20, 250, (48, 64)).astype(np.uint16)
    parts = [tiles_from_array(spark, spec[b], smeta, band=b + 1) for b in range(3)]
    st = parts[0]
    for p in parts[1:]:
        st = st.unionByName(p)
    pt = tiles_from_array(spark, pan, pmeta)
    out = pansharpen(st, smeta, pt, pmeta, nodata=-1.0, max_value=255.0,
                     out_nodata=-9.0, weights=[0.5, 0.25, 0.25]).persist()
    outmeta = RasterMeta(width=64, height=48, dtype="float64", block_w=16,
                         block_h=12, gt=pmeta.gt)
    got = np.stack([tiles_to_array(out, outmeta, band=b + 1) for b in range(3)])
    want = pansharpen_np(spec.astype(np.float64), smeta, pan, pmeta,
                         weights=[0.5, 0.25, 0.25], nodata=-1.0,
                         max_value=255.0, out_nodata=-9.0)
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-12)
    # nodata semantics checked with NEAREST upsample (cubic smears the
    # sentinel before the equality test — same contract as the reference,
    # which compares the already-upsampled buffer to noData)
    outn = pansharpen(st, smeta, pt, pmeta, resample="near", nodata=-1.0,
                      out_nodata=-9.0).persist()
    gotn = tiles_to_array(outn, outmeta, band=2)
    assert (gotn[10:16, 10:16] == -9.0).all()


@pytest.mark.parametrize("op,kw", [
    ("hillshade", {"grad": "zt", "z": 2.0}),
    ("slope", {"grad": "zt"}),
    ("aspect", {"grad": "zt"}),
    ("hillshade_igor", {"grad": "zt"}),
])
def test_dem_zevenbergen_thorne_matches_oracle(spark, terrain, op, kw):
    """-alg ZevenbergenThorne gradient (gdaldem_lib.cpp:788,1351,1434)."""
    tiles, full, meta = terrain
    got = tiles_to_array(
        dem.dem_op(tiles, meta, op, **kw), RasterMeta(
            width=meta.width, height=meta.height, dtype="float64",
            block_w=meta.block_w, block_h=meta.block_h, gt=meta.gt,
        ),
    )
    want = dem.dem_op_np(full, meta, op, **kw)
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-12, equal_nan=True)
    # ZT differs from Horn on non-flat terrain (guards silent fallthrough)
    horn = dem.dem_op_np(full, meta, op)
    assert not np.allclose(np.nan_to_num(want), np.nan_to_num(horn))


def test_dem_op_rejects_unknown_option(spark, terrain):
    """An option the operator does not read raises instead of being
    dropped: a misspelling, or a band filter dem_op never applied."""
    tiles, full, meta = terrain
    with pytest.raises(ValueError, match="degres"):
        dem.dem_op(tiles, meta, "slope", degres=False)
    with pytest.raises(ValueError, match="band"):
        dem.dem_op(tiles, meta, "tpi", band=2)
    with pytest.raises(ValueError, match="az"):
        dem.dem_op_np(full, meta, "hillshade_multidirectional", az=90.0)


def test_rgb_pct_median_cut(spark):
    """Median-cut palette + nearest-color mapping: distributed ==
    single-node oracle; palette box-list order is the reference's
    (gdalmediancut.cpp prepend discipline)."""
    from gdal_spark.raster.quantize import (
        apply_pct, compute_median_cut_pct, rgb_to_pct_np,
    )

    rng = np.random.default_rng(31)
    base = rng.integers(0, 256, (5, 3))
    idx = rng.integers(0, 5, (30, 36))
    img = np.clip(base[idx] + rng.integers(-8, 9, (30, 36, 3)), 0, 255).astype(np.uint8)
    r, g, b = img[..., 0], img[..., 1], img[..., 2]
    pal, mapped = rgb_to_pct_np(r, g, b, n_colors=8)
    meta = RasterMeta(width=36, height=30, dtype="uint8", block_w=12, block_h=15)
    t = None
    for i, band in enumerate((r, g, b)):
        tt = tiles_from_array(spark, band, meta, band=i + 1)
        t = tt if t is None else t.unionByName(tt)
    pal2 = compute_median_cut_pct(t, meta, n_colors=8)
    assert np.array_equal(pal, pal2)
    got = tiles_to_array(apply_pct(t, meta, pal2), meta)
    assert np.array_equal(got, mapped)
    # quantized reconstruction approximates the clustered input
    assert np.abs(pal[mapped].astype(int) - img.astype(int)).mean() < 12.0


def test_mosaic_later_wins_and_nodata(spark):
    """gdal_merge semantics: later inputs overwrite, src_nodata skipped,
    uncovered pixels keep init; distributed == oracle."""
    from gdal_spark.raster.mosaic import mosaic, mosaic_np

    rng = np.random.default_rng(8)
    a = rng.uniform(1, 50, (24, 32)).astype(np.float32)
    a[2:5, 2:5] = -9.0
    ma = RasterMeta(width=32, height=24, dtype="float32", block_w=16, block_h=12,
                    gt=(0.0, 1.0, 0.0, 24.0, 0.0, -1.0))
    b = rng.uniform(100, 150, (20, 20)).astype(np.float32)
    mb = RasterMeta(width=20, height=20, dtype="float32", block_w=10, block_h=10,
                    gt=(20.0, 1.0, 0.0, 18.0, 0.0, -1.0))
    dmeta = RasterMeta(width=48, height=30, dtype="float64", block_w=16, block_h=15,
                       gt=(-2.0, 1.0, 0.0, 26.0, 0.0, -1.0))
    ta, tb = tiles_from_array(spark, a, ma), tiles_from_array(spark, b, mb)
    got = tiles_to_array(
        mosaic([(ta, ma), (tb, mb)], dmeta, src_nodata=-9.0, init=-1.0), dmeta)
    want = mosaic_np([(a, ma), (b, mb)], dmeta, src_nodata=-9.0, init=-1.0)
    assert np.array_equal(got, want)
    # order flip changes the overlap (later wins)
    want_flip = mosaic_np([(b, mb), (a, ma)], dmeta, src_nodata=-9.0, init=-1.0)
    assert not np.array_equal(want, want_flip)


def test_tile_index_rotated(spark):
    """gdaltindex corner walk: rotated GeoTransform, ring parses back to
    the exact corners, bbox covers all four."""
    from gdal_spark.geometry import wkb as W
    from gdal_spark.raster.tindex import tile_index

    cat = spark.createDataFrame(
        [("a.tif", 100, 50, 10.0, 2.0, 0.5, 20.0, 0.25, -1.0)],
        "location STRING, width INT, height INT, gt0 DOUBLE, gt1 DOUBLE,"
        " gt2 DOUBLE, gt3 DOUBLE, gt4 DOUBLE, gt5 DOUBLE",
    )
    r = tile_index(cat).collect()[0]
    kind, rings = W.parse_wkb(bytes(r.geometry))
    assert kind == "Polygon" and len(rings) == 1
    ring = [tuple(p) for p in rings[0]]
    # (0,0) (W,0) (W,H) (0,H) closed
    assert ring == [
        (10.0, 20.0), (210.0, 45.0), (235.0, -5.0), (35.0, -30.0), (10.0, 20.0)
    ]
    assert (r.xmin, r.ymin, r.xmax, r.ymax) == (10.0, -30.0, 235.0, 45.0)
