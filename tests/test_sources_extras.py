"""GeoJSON source/sink, color relief."""
import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.geometry import ops, wkb
from gdal_spark.raster.dem import color_relief, color_relief_np
from gdal_spark.raster.model import RasterMeta, synth_raster, tiles_to_array
from gdal_spark.sources import read_geojson, write_geojson_strings, wkb_to_geojson_geometry


@pytest.fixture()
def geojson_file(tmp_path):
    fc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"name": "sq", "pop": 100},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]]],
                },
            },
            {
                "type": "Feature",
                "properties": {"name": "pt", "pop": 5},
                "geometry": {"type": "Point", "coordinates": [1.5, 2.5]},
            },
            {
                "type": "Feature",
                "properties": {"name": "mp", "pop": 7},
                "geometry": {
                    "type": "MultiPolygon",
                    "coordinates": [
                        [[[10, 10], [11, 10], [11, 11], [10, 11], [10, 10]]],
                        [[[20, 20], [21, 20], [21, 21], [20, 21], [20, 20]]],
                    ],
                },
            },
        ],
    }
    p = tmp_path / "t.geojson"
    p.write_text(json.dumps(fc))
    return str(p)


def test_read_geojson(spark, geojson_file):
    df = read_geojson(spark, geojson_file)
    assert set(df.columns) == {"name", "pop", "geometry"}
    rows = {r.name: r for r in df.collect()}
    g = wkb.parse_wkb(bytes(rows["sq"].geometry))
    assert g[0] == "Polygon" and ops.area(g) == 16.0
    assert wkb.parse_wkb(bytes(rows["pt"].geometry))[1] == (1.5, 2.5)
    assert ops.area(wkb.parse_wkb(bytes(rows["mp"].geometry))) == 2.0
    assert rows["sq"].pop == 100


def test_geojson_roundtrip(spark, geojson_file):
    df = read_geojson(spark, geojson_file)
    back = write_geojson_strings(df)
    for r in back.collect():
        d = json.loads(r.geometry)
        assert d["type"] in ("Polygon", "Point", "MultiPolygon")
    # wkb→geojson→wkb equality for the square
    sq = [r for r in df.collect() if r.name == "sq"][0]
    gj = wkb_to_geojson_geometry(bytes(sq.geometry))
    from gdal_spark.sources import geojson_geometry_to_wkb

    assert ops.area(wkb.parse_wkb(geojson_geometry_to_wkb(gj))) == 16.0


def test_color_relief(spark):
    meta = RasterMeta(width=32, height=16, dtype="float32", block_w=16, block_h=16)
    tiles = synth_raster(spark, meta)
    full = tiles_to_array(tiles, meta)
    ramp = [(0.0, 0, 0, 255), (500.0, 0, 255, 0), (1000.0, 255, 0, 0)]
    out = color_relief(tiles, meta, ramp)
    out_meta = RasterMeta(width=32, height=16, dtype="uint8", block_w=16, block_h=16)
    want = color_relief_np(full, ramp)
    for b in range(3):
        got = tiles_to_array(out, out_meta, band=b + 1)
        assert (got == want[:, :, b]).all(), b
    # clamped ends
    assert (color_relief_np(np.array([[-10.0]]), ramp) == [0, 0, 255]).all()
    assert (color_relief_np(np.array([[2000.0]]), ramp) == [255, 0, 0]).all()
