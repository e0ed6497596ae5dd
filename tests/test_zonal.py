"""Zonal statistics + band histogram vs NumPy oracles; SELECT * EXCEPT
and geometry special fields in the OGR SQL compiler."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.raster.model import RasterMeta, synth_raster, tiles_from_array, tiles_to_array
from gdal_spark.raster.zonal import band_histogram, zonal_stats, zonal_stats_np


def test_zonal_stats_matches_oracle(spark):
    meta = RasterMeta(width=32, height=24, dtype="float32", block_w=16, block_h=12)
    vals = synth_raster(spark, meta, seed=3)
    full_vals = tiles_to_array(vals, meta)
    zmeta = RasterMeta(width=32, height=24, dtype="uint8", block_w=16, block_h=12)
    zones_arr = (np.indices((24, 32)).sum(axis=0) // 10 % 4).astype(np.uint8)
    zones = tiles_from_array(spark, zones_arr, zmeta)
    got = {r.zone: r for r in zonal_stats(vals, zones, meta, zmeta).collect()}
    want = zonal_stats_np(full_vals, zones_arr)
    assert set(got) == set(want)
    for z, (n, mn, mx, mean, std) in want.items():
        r = got[z]
        assert r.n == n and r.min == mn and r.max == mx
        assert r.mean == pytest.approx(mean, rel=1e-12)
        assert r.std == pytest.approx(std, rel=1e-9)


def test_band_histogram(spark):
    meta = RasterMeta(width=40, height=20, dtype="uint8", block_w=20, block_h=10)
    tiles = synth_raster(spark, meta)
    full = tiles_to_array(tiles, meta)
    got = {r.bin: r["count"] for r in band_histogram(tiles, meta).collect()}
    idx = np.clip((full.astype(np.float64) / 16.0).astype(np.int64), 0, 15)
    want = np.bincount(idx.ravel(), minlength=16)
    assert [got.get(b, 0) for b in range(16)] == want.tolist()
    assert sum(got.values()) == full.size


def test_select_star_except(spark):
    from gdal_spark.operators.ogr_sql import execute_sql

    t = spark.createDataFrame([(1, 2, 3)], "a INT, b INT, c INT")
    out = execute_sql(spark, "select * except (b) from t", {"t": t}, {"t": "a"})
    assert out.columns == ["a", "c"]


def test_ogr_geometry_special_fields(spark):
    from fixtures_poly import POLY_ATTRS, poly_rings
    from gdal_spark.geometry import wkb as _wkb
    from gdal_spark.operators.ogr_sql import execute_sql

    poly = spark.createDataFrame(
        [(0, bytearray(_wkb.polygon_wkb(poly_rings()[0][0])))],
        "fid INT, geometry BINARY",
    )
    row = execute_sql(
        spark,
        "select OGR_GEOMETRY as gtype, OGR_GEOM_WKT as wktxt from poly",
        {"poly": poly},
        {"poly": "fid"},
    ).collect()[0]
    # uppercase getGeometryName() form — the reference's autotests filter
    # WHERE OGR_GEOMETRY = 'POLYGON' (autotest/ogr/ogr_sql_test.py:1552)
    assert row.gtype == "POLYGON"
    assert row.wktxt.startswith("POLYGON ((")
