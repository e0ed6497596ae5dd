"""GML source (sources/gml.py) vs reference fixtures and GML2/GML3
encoding variants."""

import numpy as np
import pytest

from conftest import gdal_ref
from gdal_spark.geometry import wkt
from gdal_spark.sources.gml import parse_gml_geometry, read_gml, write_gml

REF = "ogr/data/gml"  # under the GDAL autotest checkout


def _el(xml: str):
    import xml.etree.ElementTree as ET

    return ET.fromstring(xml)


def test_gml2_coordinates_and_boundaries():
    g = parse_gml_geometry(_el(
        '<Polygon><outerBoundaryIs><LinearRing>'
        '<coordinates>0,0 4,0 4,4 0,4 0,0</coordinates>'
        '</LinearRing></outerBoundaryIs>'
        '<innerBoundaryIs><LinearRing>'
        '<coordinates>1,1 2,1 2,2 1,2 1,1</coordinates>'
        '</LinearRing></innerBoundaryIs></Polygon>'))
    assert g[0] == "Polygon" and len(g[1]) == 2
    assert np.array_equal(g[1][0][0], [0.0, 0.0])
    assert np.array_equal(g[1][1][1], [2.0, 1.0])


def test_gml3_poslist_surface_and_curve():
    g = parse_gml_geometry(_el(
        '<Surface><patches><PolygonPatch><exterior><LinearRing>'
        '<posList>0 0 1 0 1 1 0 0</posList>'
        '</LinearRing></exterior></PolygonPatch></patches></Surface>'))
    assert g[0] == "Polygon" and len(g[1][0]) == 4
    g = parse_gml_geometry(_el(
        '<Curve><segments>'
        '<LineStringSegment><posList>0 0 1 1</posList></LineStringSegment>'
        '<LineStringSegment><posList>1 1 2 0</posList></LineStringSegment>'
        '</segments></Curve>'))
    assert g[0] == "LineString"
    assert np.array_equal(g[1], [[0, 0], [1, 1], [2, 0]])
    g = parse_gml_geometry(_el(
        '<MultiSurface><surfaceMember><Polygon><exterior><LinearRing>'
        '<posList>0 0 1 0 1 1 0 0</posList>'
        '</LinearRing></exterior></Polygon></surfaceMember></MultiSurface>'))
    assert g[0] == "MultiPolygon" and len(g[1]) == 1


def test_urn_axis_inversion():
    # urn EPSG::4326 is lat/lon in the document; x must come back as lon
    g = parse_gml_geometry(_el(
        '<Point srsName="urn:ogc:def:crs:EPSG::4326"><pos>49 2</pos></Point>'))
    assert g == ("Point", (2.0, 49.0))
    # plain EPSG:4326 srsName: no flip (the reference's rule)
    g = parse_gml_geometry(_el(
        '<Point srsName="EPSG:4326"><pos>49 2</pos></Point>'))
    assert g == ("Point", (49.0, 2.0))
    # projected urn: no flip
    g = parse_gml_geometry(_el(
        '<Point srsName="urn:x-ogc:def:crs:EPSG:26713"><pos>5 6</pos></Point>'))
    assert g == ("Point", (5.0, 6.0))


def test_read_reference_gml3_fixture(spark):
    df = read_gml(spark, gdal_ref(f"{REF}/expected_gml_gml3.gml"))
    rows = {r.fid: r for r in df.collect()}
    assert len(rows) == 2
    assert wkt.wkb_to_wkt(bytes(rows["firstlayer.0"].geometry)) == "POINT (2 49)"
    assert rows["firstlayer.1"].string_field == "foo"


def test_read_archsites_with_xsd_types(spark):
    df = read_gml(spark, gdal_ref(f"{REF}/archsites.gml"))
    assert dict(df.dtypes)["cat"] == "bigint"  # from the sidecar .xsd
    r = df.collect()[0]
    assert (r.fid, r.cat, r.str1) == ("archsites.3951", 1, "Signature Rock")
    assert wkt.wkb_to_wkt(bytes(r.geometry)) == "POINT (593493 4914730)"


def test_poly_roundtrip(spark, tmp_path):
    from tests.fixtures_poly import POLY_ATTRS, poly_rings
    from gdal_spark.geometry import wkb as _wkb
    from gdal_spark.geometry.ops import area as _area
    from gdal_spark.geometry.wkb import parse_wkb

    rows = []
    for (a, eas, prf), rings in zip(POLY_ATTRS, poly_rings()):
        rows.append((eas, prf, bytearray(_wkb.polygon_wkb(rings[0], holes=rings[1:]))))
    df = spark.createDataFrame(rows, "eas_id BIGINT, prfedea STRING, geometry BINARY")
    p = str(tmp_path / "poly.gml")
    write_gml(df, p, layer="poly")
    back = {r.eas_id: r for r in read_gml(spark, p).collect()}
    assert len(back) == 10
    for eas, prf, g in rows:
        r = back[eas]
        assert r.prfedea == prf
        assert _area(parse_wkb(bytes(r.geometry))) == _area(parse_wkb(bytes(g)))
