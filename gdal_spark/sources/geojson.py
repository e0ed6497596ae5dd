"""GeoJSON source/sink — the engine's analogue of the reference's
GeoJSON driver (ogr/ogrsf_frmts/geojson/): features in, WKB-geometry
DataFrame out, and back.

``read_geojson`` accepts a path to a FeatureCollection file (driver-side
parse of the collection envelope, distributed parse of the features) or
an existing DataFrame with a geojson string column. Properties flatten
into columns with ``spark.read.json``-style inference; geometry becomes
the standard ``geometry BINARY`` (ISO WKB) column every operator in this
engine consumes.

Parquet/CSV/JSON sources are Spark-native (``spark.read.*``); GeoParquet
is plain parquet with this same WKB geometry column — no extra driver
needed (SURVEY.md §2.1).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import BinaryType, StringType

from gdal_spark.geometry import wkt as _wkt


def geojson_geometry_to_wkb(geom: dict) -> bytes | None:
    """GeoJSON geometry dict → ISO WKB."""
    if geom is None:
        return None
    t = geom["type"]
    c = geom.get("coordinates")
    # spark.read.json stringifies mixed-depth coordinate arrays (at any
    # nesting level) when geometry types are heterogeneous — deep-parse
    def _norm(v):
        if isinstance(v, str):
            return _norm(json.loads(v))
        if isinstance(v, (list, tuple)):
            return [_norm(x) for x in v]
        return v

    c = _norm(c)
    import numpy as np

    if t == "Point":
        return _wkt.geom_to_wkb("Point", (float(c[0]), float(c[1])))
    if t == "LineString":
        return _wkt.geom_to_wkb("LineString", np.asarray(c, dtype=float)[:, :2])
    if t == "Polygon":
        return _wkt.geom_to_wkb(
            "Polygon", [np.asarray(r, dtype=float)[:, :2] for r in c]
        )
    if t == "MultiPoint":
        return _wkt.geom_to_wkb(
            "MultiPoint", [("Point", (float(p[0]), float(p[1]))) for p in c]
        )
    if t == "MultiLineString":
        return _wkt.geom_to_wkb(
            "MultiLineString",
            [("LineString", np.asarray(l, dtype=float)[:, :2]) for l in c],
        )
    if t == "MultiPolygon":
        return _wkt.geom_to_wkb(
            "MultiPolygon",
            [("Polygon", [np.asarray(r, dtype=float)[:, :2] for r in p]) for p in c],
        )
    if t == "GeometryCollection":
        return _wkt.geom_to_wkb(
            "GeometryCollection",
            [
                _decode_parsed(g)
                for g in geom["geometries"]
            ],
        )
    raise ValueError(f"unsupported GeoJSON geometry {t}")


def _decode_parsed(geom: dict):
    from gdal_spark.geometry import wkb as _wkb

    return _wkb.parse_wkb(geojson_geometry_to_wkb(geom))


def wkb_to_geojson_geometry(buf: bytes) -> dict:
    """ISO WKB → GeoJSON geometry dict."""
    from gdal_spark.geometry import wkb as _wkb

    name, payload = _wkb.parse_wkb(bytes(buf))
    return _geom_to_gj(name, payload)


def _geom_to_gj(name, payload) -> dict:
    if name == "Point":
        return {"type": "Point", "coordinates": [payload[0], payload[1]]}
    if name == "LineString":
        return {"type": "LineString", "coordinates": payload.tolist()}
    if name == "Polygon":
        return {"type": "Polygon", "coordinates": [r.tolist() for r in payload]}
    if name == "MultiPoint":
        return {"type": "MultiPoint", "coordinates": [[c[0], c[1]] for _, c in payload]}
    if name == "MultiLineString":
        return {"type": "MultiLineString", "coordinates": [c.tolist() for _, c in payload]}
    if name == "MultiPolygon":
        return {
            "type": "MultiPolygon",
            "coordinates": [[r.tolist() for r in rings] for _, rings in payload],
        }
    if name == "GeometryCollection":
        return {
            "type": "GeometryCollection",
            "geometries": [_geom_to_gj(n, p) for n, p in payload],
        }
    raise ValueError(name)


@F.pandas_udf(BinaryType())
def _gj_to_wkb_udf(s: pd.Series) -> pd.Series:
    out = []
    for v in s:
        if v is None:
            out.append(None)
            continue
        d = json.loads(v)
        if d.get("type") == "Feature":
            d = d.get("geometry")
        out.append(geojson_geometry_to_wkb(d))
    return pd.Series(out)


@F.pandas_udf(StringType())
def _wkb_to_gj_udf(s: pd.Series) -> pd.Series:
    return pd.Series(
        [None if b is None else json.dumps(wkb_to_geojson_geometry(b)) for b in s]
    )


def read_geojson(spark: SparkSession, path: str) -> DataFrame:
    """FeatureCollection file → DataFrame(properties..., geometry WKB).

    The feature array is split driver-side (collection files are not
    line-splittable) into one JSON string per feature, then properties
    infer via spark.read.json and geometry decodes in an Arrow UDF.
    For line-delimited GeoJSONSeq use spark.read.json directly +
    ``F.col('geometry')`` through ``geojson_col_to_wkb``.
    """
    with open(path) as f:
        fc = json.load(f)
    feats = [json.dumps(feat) for feat in fc.get("features", [])]
    raw = spark.createDataFrame([(s,) for s in feats], "value STRING")
    parsed = spark.read.json(raw.rdd.map(lambda r: r.value))
    # flatten properties.*, decode geometry
    cols = []
    if "properties" in parsed.columns:
        props = parsed.select("properties.*").columns
        cols = [F.col(f"properties.{c}").alias(c) for c in props]
    return parsed.select(
        *cols, _gj_to_wkb_udf(F.to_json(F.col("geometry"))).alias("geometry")
    )


def geojson_col_to_wkb(col):
    """Geometry-bearing JSON string column → WKB column."""
    return _gj_to_wkb_udf(col)


def write_geojson_strings(df: DataFrame) -> DataFrame:
    """WKB geometry column → GeoJSON geometry string column (sink side)."""
    return df.withColumn("geometry", _wkb_to_gj_udf(F.col("geometry")))
