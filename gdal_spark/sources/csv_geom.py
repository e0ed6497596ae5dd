"""CSV-with-geometry source (``ogr/ogrsf_frmts/csv/``): the reference's
CSV driver conventions mapped onto Spark's NATIVE csv scan — which is
already splittable, predicate-pushing and schema-inferring, so the
driver's job here is only the geometry derivation:

- a WKT geometry column (the driver's ``GEOM_POSSIBLE_NAMES`` /
  ``WKT`` convention, ogrcsvlayer.cpp) → parsed to WKB;
- X/Y point columns (``X_POSSIBLE_NAMES``/``Y_POSSIBLE_NAMES``) → the
  vectorized 21-byte point WKB writer.

Column-name detection mirrors the reference's default possible-name
lists."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import BinaryType

from gdal_spark.geometry import wkb, wkt

_WKT_NAMES = ("wkt", "geometry", "the_geom", "geom")
_X_NAMES = ("x", "lon", "long", "longitude", "easting")
_Y_NAMES = ("y", "lat", "latitude", "northing")


@F.pandas_udf(BinaryType())
def _wkt_to_wkb_udf(s: pd.Series) -> pd.Series:
    return pd.Series(
        [None if v is None else wkt.wkt_to_wkb(str(v)) for v in s]
    )


@F.pandas_udf(BinaryType())
def _xy_to_point_udf(x: pd.Series, y: pd.Series) -> pd.Series:
    import numpy as np

    xv = pd.to_numeric(x, errors="coerce")
    yv = pd.to_numeric(y, errors="coerce")
    ok = xv.notna() & yv.notna()
    out = [None] * len(x)
    if ok.any():
        blobs = wkb.points_wkb_np(
            np.asarray(xv[ok], dtype=float), np.asarray(yv[ok], dtype=float)
        )
        for i, b in zip(ok[ok].index, blobs):
            out[i] = b
    return pd.Series(out)


def read_csv_geometry(spark: SparkSession, path: str) -> DataFrame:
    """Read a CSV layer (header row, inferred schema) with geometry. The
    scan itself is Spark's native (splittable) csv reader; the first
    column named like a WKT geometry is replaced by a ``geometry`` WKB
    column, else the first X-like and Y-like columns produce point
    WKBs."""
    df = spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    lower = {c.lower(): c for c in df.columns}
    for cand in _WKT_NAMES:
        if cand in lower:
            wkt_col = lower[cand]
            return df.withColumn(
                "geometry", _wkt_to_wkb_udf(F.col(wkt_col).cast("string"))
            ).drop(*([wkt_col] if wkt_col != "geometry" else []))
    xs = [lower[c] for c in _X_NAMES if c in lower]
    ys = [lower[c] for c in _Y_NAMES if c in lower]
    if xs and ys:
        return df.withColumn(
            "geometry",
            _xy_to_point_udf(F.col(xs[0]).cast("double"), F.col(ys[0]).cast("double")),
        )
    raise ValueError(f"no geometry column found (columns: {df.columns})")
