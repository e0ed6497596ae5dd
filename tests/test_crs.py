"""CRS transforms (geometry/crs.py) and the reprojecting warp.

Correctness evidence in lieu of PROJ (not installed here): the Krüger
series and the independent Redfearn/Snyder series — two unrelated
derivations of the ellipsoidal transverse Mercator — must agree to
sub-millimeter inside a UTM zone; roundtrips must close to ~1e-12 deg;
and the distributed reprojecting warp must match its single-node oracle
bit-for-bit.
"""
import numpy as np
import pytest

from gdal_spark.geometry import crs


def test_kruger_vs_redfearn_independent_series():
    tm = crs._utm_tmerc(32633)
    rng = np.random.default_rng(1)
    lon = rng.uniform(12, 18, 500)
    lat = rng.uniform(-80, 84, 500)
    x1, y1 = tm.forward(lon, lat)
    x2, y2 = crs.utm_forward_redfearn(lon, lat, 33)
    assert np.abs(x1 - x2).max() < 1e-3
    assert np.abs(y1 - y2).max() < 1e-3


def test_utm_roundtrip_closes():
    for epsg in (32601, 32633, 32660, 32733):
        tm = crs._utm_tmerc(epsg)
        zone = epsg % 100
        lon0 = zone * 6.0 - 183.0
        rng = np.random.default_rng(epsg)
        lon = rng.uniform(lon0 - 3, lon0 + 3, 200)
        lat = rng.uniform(-79, 83, 200)
        x, y = tm.forward(lon, lat)
        lo, la = tm.inverse(x, y)
        assert np.abs(lo - lon).max() < 1e-11
        assert np.abs(la - lat).max() < 1e-11


def test_utm_known_anchor_points():
    """Closed-form anchors: central meridian maps to x=500000 with scale
    0.9996; the equator maps to northing 0 (N) / 10^7 (S)."""
    tm = crs._utm_tmerc(32631)  # zone 31N, lon0 = 3
    x, y = tm.forward(np.array([3.0]), np.array([0.0]))
    assert abs(x[0] - 500000.0) < 1e-6 and abs(y[0]) < 1e-6
    tms = crs._utm_tmerc(32731)
    _, ys = tms.forward(np.array([3.0]), np.array([0.0]))
    assert abs(ys[0] - 10000000.0) < 1e-6
    # meridian quarter arc: pole northing = k0 * A * pi/2
    _, yp = tm.forward(np.array([3.0]), np.array([89.9999999]))
    assert abs(yp[0] - 0.9996 * tm.A * np.pi / 2) < 1.0


def test_transformer_pivot_webmerc_utm():
    fn = crs.transformer("EPSG:3857", "EPSG:32633")
    inv = crs.transformer("EPSG:32633", "EPSG:3857")
    x = np.array([1669792.36])  # lon 15
    y = np.array([6800125.45])
    ux, uy = fn(x, y)
    bx, by = inv(ux, uy)
    assert abs(bx[0] - x[0]) < 1e-6 and abs(by[0] - y[0]) < 1e-6


def test_transformer_unknown_crs_raises():
    with pytest.raises(NotImplementedError):
        crs.transformer("EPSG:27700", "EPSG:4326")


def test_vector_pipeline_reproject_utm(spark):
    from gdal_spark.geometry import wkb as _wkb
    from gdal_spark.operators.vector_pipeline import VectorPipeline

    lon, lat = 15.5, 52.0
    df = spark.createDataFrame(
        [(1, bytearray(_wkb.point_wkb(lon, lat)))], "fid INT, geometry BINARY"
    )
    out = VectorPipeline(df).reproject("EPSG:4326", "EPSG:32633").df
    g = _wkb.parse_wkb(bytes(out.collect()[0].geometry))
    ex, ey = crs._utm_tmerc(32633).forward(np.array([lon]), np.array([lat]))
    assert abs(g[1][0] - ex[0]) < 1e-9
    assert abs(g[1][1] - ey[0]) < 1e-9


@pytest.mark.parametrize("alg", ["near", "bilinear", "average"])
def test_warp_crs_distributed_matches_oracle(spark, alg):
    """byte.tif (UTM-style grid declared EPSG:32611) → EPSG:4326 on the
    suggested output grid; distributed == single-node oracle."""
    from gdal_spark.raster.model import byte_fixture, RasterMeta, tiles_from_array, tiles_to_array
    from gdal_spark.raster.warp import suggested_warp_output, warp_crs, warp_crs_np

    arr, meta = byte_fixture()
    meta_blocked = RasterMeta(width=20, height=20, dtype="uint8", block_w=8,
                              block_h=8, gt=meta.gt)
    dst = suggested_warp_output(meta_blocked, "EPSG:32611", "EPSG:4326",
                                block_w=10, block_h=10)
    got = tiles_to_array(
        warp_crs(tiles_from_array(spark, arr, meta_blocked), meta_blocked, dst,
                 "EPSG:32611", "EPSG:4326", alg=alg),
        dst,
    )
    want = warp_crs_np(arr, meta_blocked, dst, "EPSG:32611", "EPSG:4326",
                       alg=alg)
    np.testing.assert_array_equal(got, want)
    assert (got != 0).any()  # data actually landed


# ---------------------------------------------------------------------------
# NAD27 datum shift (r3): geocentric Helmert vs independent oracles
# ---------------------------------------------------------------------------

def _molodensky_abridged(lon_deg, lat_deg, src="NAD27", dst="WGS84"):
    """Independent oracle: abridged Molodensky formulas (DMA TR 8350.2,
    public) — shares nothing with the geocentric-Helmert path."""
    sa, sf = crs.ELLIPSOIDS[crs.DATUMS[src][0]]
    da, df = crs.ELLIPSOIDS[crs.DATUMS[dst][0]]
    dx, dy, dz = crs.DATUMS[src][1][:3]  # src -> WGS84; dst assumed WGS84
    assert dst == "WGS84" and crs.DATUMS[dst][1][:3] == (0.0, 0.0, 0.0)
    lam = np.deg2rad(np.asarray(lon_deg, float))
    phi = np.deg2rad(np.asarray(lat_deg, float))
    e2 = sf * (2 - sf)
    sp, cp = np.sin(phi), np.cos(phi)
    sl, cl = np.sin(lam), np.cos(lam)
    Rn = sa / np.sqrt(1 - e2 * sp**2)
    Rm = sa * (1 - e2) / (1 - e2 * sp**2) ** 1.5
    da_ = da - sa
    df_ = df - sf
    dphi = (
        -dx * sp * cl - dy * sp * sl + dz * cp
        + (sa * df_ + sf * da_) * np.sin(2 * phi)
    ) / Rm
    dlam = (-dx * sl + dy * cl) / (Rn * cp)
    return np.rad2deg(lam + dlam), np.rad2deg(phi + dphi)


def test_nad27_shift_matches_molodensky():
    """Geocentric Helmert vs abridged Molodensky: <1 m everywhere in
    CONUS (the two derivations are independent)."""
    lons = np.array([-117.64117, -100.0, -75.0, -122.4])
    lats = np.array([33.90234, 40.0, 42.0, 37.8])
    glon, glat = crs.datum_shift(lons, lats, "NAD27", "WGS84")
    mlon, mlat = _molodensky_abridged(lons, lats)
    # 1 m ~ 9e-6 deg lat, ~1.1e-5 deg lon at these latitudes
    assert np.all(np.abs(glat - mlat) < 1e-5)
    assert np.all(np.abs(glon - mlon) < 1.2e-5)


def test_nad27_utm_roundtrip_and_magnitude():
    """EPSG:26711 (byte.tif's SRS) → 4326 → back closes to <1 mm; the
    NAD27→WGS84 displacement in Southern California is the published
    ~80 m west / ~200 m north."""
    tf = crs.transformer(26711, 4326)
    inv = crs.transformer(4326, 26711)
    x = np.array([440720.0])
    y = np.array([3751320.0])
    lon, lat = tf(x, y)
    bx, by = inv(lon, lat)
    assert abs(bx[0] - x[0]) < 1e-3 and abs(by[0] - y[0]) < 1e-3
    lon_w, lat_w = crs.transformer(32611, 4326)(x, y)
    dx_m = (lon[0] - lon_w[0]) * 111320 * np.cos(np.deg2rad(lat[0]))
    dy_m = (lat[0] - lat_w[0]) * 110574
    assert -100 < dx_m < -60 and 150 < dy_m < 230


def test_nad27_utm_forward_matches_redfearn_clrk66():
    """TMerc on Clarke 1866 vs the independent Redfearn series on the
    same ellipsoid: sub-millimeter agreement inside the zone."""
    a, f = crs.ELLIPSOIDS["clrk66"]
    tm = crs._utm_tmerc(26711)
    lons = np.array([-118.2, -117.0, -116.2])
    lats = np.array([32.5, 34.0, 36.8])
    x1, y1 = tm.forward(lons, lats)
    x2, y2 = crs.utm_forward_redfearn(lons, lats, zone=11, a=a, f=f)
    assert np.all(np.abs(x1 - x2) < 1e-3)
    assert np.all(np.abs(y1 - y2) < 1e-3)


def test_nad83_is_wgs84_compatible():
    """NAD83/GRS80 → WGS84 shift is centimeter-level (identical towgs84)."""
    lon, lat = crs.datum_shift(
        np.array([-100.0]), np.array([40.0]), "NAD83", "WGS84"
    )
    assert abs(lon[0] + 100.0) < 1e-7 and abs(lat[0] - 40.0) < 1e-7
