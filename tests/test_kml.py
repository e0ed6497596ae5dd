"""KML source (sources/kml.py) vs the reference's canonical samples.kml
expectations (autotest/ogr/ogr_kml.py) + roundtrip."""

import numpy as np

from conftest import gdal_ref
from gdal_spark.geometry import wkb as _wkb
from gdal_spark.sources.kml import parse_kml_geometry, read_kml, write_kml

SAMPLES = "ogr/data/kml/samples.kml"  # under the GDAL autotest checkout
GEOMETRIES = "ogr/data/kml/geometries.kml"


def _el(xml: str):
    import xml.etree.ElementTree as ET

    return ET.fromstring(xml)


def test_samples_attributes_and_layers(spark):
    df = read_kml(spark, gdal_ref(SAMPLES))
    layers = {r.layer for r in df.select("layer").distinct().collect()}
    # nested <Document> containers are layers too (ogr_kml.py attributes_2)
    assert {"Placemarks", "Highlighted Icon", "Paths", "Google Campus"} <= layers
    pm = {r.Name: r for r in df.filter(df.layer == "Placemarks").collect()}
    # documented field values incl. the per-line-trimmed description
    assert pm["Simple placemark"].description == (
        "Attached to the ground. Intelligently places itself at the\n"
        "height of the underlying terrain.")
    hi = df.filter(df.layer == "Highlighted Icon").collect()
    assert len(hi) == 1 and hi[0].Name == "Roll over this icon"
    assert hi[0].description == ""  # missing → empty string, not NULL


def test_samples_point_z(spark):
    df = read_kml(spark, gdal_ref(SAMPLES))
    r = df.filter(df.Name == "Simple placemark").collect()[0]
    name, payload = _wkb.parse_wkb_z(bytes(r.geometry))
    # POINT(-122.0822035425683 37.42228990140251 0) — ogr_kml.py:191
    assert name == "Point"
    assert payload == (-122.0822035425683, 37.42228990140251, 0.0)
    f = df.filter(df.Name == "Floating placemark").collect()[0]
    assert _wkb.parse_wkb_z(bytes(f.geometry))[1][2] == 50.0  # altitude kept


def test_geometries_fixture_degenerate_cases(spark):
    """geometries.kml (#3558): empty/partial geometry elements must not
    crash; rows with no usable coordinates read as NULL geometry."""
    df = read_kml(spark, gdal_ref(GEOMETRIES))
    rows = df.collect()
    assert len(rows) == 25
    kinds = {}
    for r in rows:
        if r.geometry is None:
            kinds["null"] = kinds.get("null", 0) + 1
        else:
            kinds.setdefault(_wkb.parse_wkb(bytes(r.geometry))[0], 0)
            kinds[_wkb.parse_wkb(bytes(r.geometry))[0]] += 1
    assert kinds["null"] >= 8  # the all-empty variants
    assert kinds.get("Polygon", 0) >= 4 and kinds.get("Point", 0) >= 1


def test_multigeometry_kinds():
    g = parse_kml_geometry(_el(
        "<MultiGeometry><Point><coordinates>0,0</coordinates></Point>"
        "<Point><coordinates>1,1</coordinates></Point></MultiGeometry>"))
    assert g[0] == "MultiPoint" and len(g[1]) == 2
    g = parse_kml_geometry(_el(
        "<MultiGeometry><Point><coordinates>0,0</coordinates></Point>"
        "<LineString><coordinates>0,0 1,1</coordinates></LineString>"
        "</MultiGeometry>"))
    assert g[0] == "GeometryCollection"


def test_poly_roundtrip_extended_data(spark, tmp_path):
    from tests.fixtures_poly import POLY_ATTRS, poly_rings
    from gdal_spark.geometry.ops import area as _area

    rows = [
        (eas, prf, bytearray(_wkb.polygon_wkb(rr[0], holes=rr[1:])))
        for (a, eas, prf), rr in zip(POLY_ATTRS, poly_rings())
    ]
    df = spark.createDataFrame(rows, "eas_id BIGINT, prfedea STRING, geometry BINARY")
    p = str(tmp_path / "poly.kml")
    write_kml(df, p, layer="poly")
    back = {int(r.eas_id): r for r in read_kml(spark, p, keep_z=False).collect()}
    assert len(back) == 10
    for eas, prf, g in rows:
        r = back[eas]
        assert r.prfedea == prf
        assert _area(_wkb.parse_wkb(bytes(r.geometry))) == _area(_wkb.parse_wkb(bytes(g)))
