"""GeoPackage reader vs the reference's own .gpkg fixtures."""
import pytest
from pyspark.sql import functions as F

from conftest import gdal_ref
from fixtures_poly import POLY_ATTRS
from gdal_spark.functions.st import st_area
from gdal_spark.sources.gpkg import gpkg_layers, parse_gpkg_blob, read_gpkg

GPKG = "ogr/data/gpkg/poly_golden.gpkg"  # under the GDAL autotest checkout


def test_layers_listing():
    assert gpkg_layers(gdal_ref(GPKG)) == ["poly"]


def test_poly_golden_attrs_and_areas(spark):
    df = read_gpkg(spark, gdal_ref(GPKG))
    assert df.columns == ["fid", "geometry", "AREA", "EAS_ID", "PRFEDEA"]
    got = {
        r.EAS_ID: (r.area, r.PRFEDEA)
        for r in df.select(
            "EAS_ID", "PRFEDEA",
            F.floor(st_area("geometry") + F.lit(0.5)).cast("long").alias("area"),
        ).collect()
    }
    for area, eas, prf in POLY_ATTRS:
        a, p = got[eas]
        assert a == int(abs(area) + 0.5)
        assert p == prf


def test_first_geometry_null(spark):
    df = read_gpkg(spark, gdal_ref("ogr/data/gpkg/first_geometry_null.gpkg"))
    rows = df.collect()
    geoms = [r[df.columns.index("geometry")] for r in [list(r) for r in rows]]
    assert geoms[0] is None and any(g is not None for g in geoms[1:])


def test_blob_parse_edges():
    # header: GP, v0, flags LE + envelope-1 (32 bytes) → wkb offset 40
    hdr = b"GP" + bytes([0, 0x03]) + (27700).to_bytes(4, "little") + b"\x00" * 32
    assert parse_gpkg_blob(hdr + b"WKB") == b"WKB"
    # no envelope
    hdr0 = b"GP" + bytes([0, 0x01]) + b"\x00" * 4
    assert parse_gpkg_blob(hdr0 + b"X") == b"X"
    # empty-geometry flag
    assert parse_gpkg_blob(b"GP" + bytes([0, 0x11]) + b"\x00" * 4) is None
    assert parse_gpkg_blob(None) is None
    with pytest.raises(ValueError):
        parse_gpkg_blob(b"NOPE0000")


def test_write_read_roundtrip(spark, tmp_path):
    """write_gpkg → read_gpkg: WKB byte-identical, schema/srs preserved."""
    src = read_gpkg(spark, gdal_ref(GPKG))
    path = str(tmp_path / "rt.gpkg")
    from gdal_spark.sources.gpkg import write_gpkg

    write_gpkg(src.drop("fid"), path, "poly", srs_id=27700, geometry_type="POLYGON")
    back = read_gpkg(spark, path)
    a = sorted((r.EAS_ID, bytes(r.geometry)) for r in src.select("EAS_ID", "geometry").collect())
    b = sorted((r.EAS_ID, bytes(r.geometry)) for r in back.select("EAS_ID", "geometry").collect())
    assert a == b
    assert back._gpkg_srs_id == 27700
    assert gpkg_layers(path) == ["poly"]
