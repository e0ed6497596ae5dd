"""Raster tile index (``gdaltindex`` / ``gdal raster index``,
apps/gdaltindex_lib.cpp): one polygon feature per raster dataset — the
extent ring traced through the dataset's GeoTransform, corners
(0,0) → (W,0) → (W,H) → (0,H) → close, rotation terms included
(the reference walks the same four corners through GDALApplyGeoTransform).

Spark-first shape: the input is a CATALOG DataFrame (one row per raster
file: ``location, width, height, gt0..gt5``) rather than a loop over
opened datasets — corner math is pure JVM column arithmetic, and the WKB
ring packs in one Arrow pass. Indexing a million-raster catalog is a
map-only scan; the index itself is then a broadcast-sized dim table for
partition pruning in mosaics/warps (the reference uses the .shp index the
same way in VRT mosaicking).
"""

from __future__ import annotations

import struct

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType


# DataType instance, not a DDL string: module must import session-free
@pandas_udf(BinaryType())
def _ring_wkb(x0: pd.Series, y0: pd.Series, x1: pd.Series, y1: pd.Series,
              x2: pd.Series, y2: pd.Series, x3: pd.Series, y3: pd.Series
              ) -> pd.Series:
    # one 93-byte little-endian POLYGON per catalog row (per FILE, not
    # per pixel — struct.pack per row is fine at any catalog size)
    head = struct.pack("<BII", 1, 3, 1)
    out = [
        head + struct.pack(
            "<I10d", 5,
            a0, b0, a1, b1, a2, b2, a3, b3, a0, b0,
        )
        for a0, b0, a1, b1, a2, b2, a3, b3 in zip(x0, y0, x1, y1, x2, y2, x3, y3)
    ]
    return pd.Series(out)


def tile_index(catalog: DataFrame) -> DataFrame:
    """``catalog``: one row per raster with columns ``width, height,
    gt0..gt5`` plus any identifying columns (location, path, …) which
    pass through untouched. Returns the catalog plus ``geometry``
    (extent polygon WKB) and ``xmin/ymin/xmax/ymax`` (the bbox of the
    four corners — valid for rotated transforms too).
    """
    W = F.col("width").cast("double")
    H = F.col("height").cast("double")
    g = [F.col(f"gt{i}").cast("double") for i in range(6)]

    def corner(px, ln):
        return (g[0] + px * g[1] + ln * g[2], g[3] + px * g[4] + ln * g[5])

    zero = F.lit(0.0)
    cs = [corner(zero, zero), corner(W, zero), corner(W, H), corner(zero, H)]
    xs = [c[0] for c in cs]
    ys = [c[1] for c in cs]
    d = catalog
    for i, (cx, cy) in enumerate(cs):
        d = d.withColumn(f"__cx{i}", cx).withColumn(f"__cy{i}", cy)
    args = [F.col(f"__c{ax}{i}") for i in range(4) for ax in ("x", "y")]
    return (
        d.withColumn("geometry", _ring_wkb(*args))
        .withColumn("xmin", F.least(*xs))
        .withColumn("ymin", F.least(*ys))
        .withColumn("xmax", F.greatest(*xs))
        .withColumn("ymax", F.greatest(*ys))
        .drop(*[f"__c{ax}{i}" for i in range(4) for ax in ("x", "y")])
    )


def layer_extent(df: DataFrame) -> DataFrame:
    """OGRLayer::GetExtent / ``ogrtindex`` building block: the bbox of the
    layer's ``geometry`` column as ONE row ``(xmin, ymin, xmax, ymax, n_geoms)``. Per-row
    envelopes come from the vectorized WKB gather (the same kernel the
    staged spatial predicates use); the extent is a single min/max
    reduce — partial aggregation map-side, a one-row shuffle, works
    unchanged on a billion-feature layer."""
    from pyspark.sql.functions import pandas_udf

    from gdal_spark.geometry import wkb as _wkb

    @pandas_udf("minx DOUBLE, miny DOUBLE, maxx DOUBLE, maxy DOUBLE")
    def env(blobs: pd.Series) -> pd.DataFrame:
        minx, miny, maxx, maxy, _ = _wkb.envelopes_batch(
            [None if b is None else bytes(b) for b in blobs]
        )
        return pd.DataFrame(
            {"minx": minx, "miny": miny, "maxx": maxx, "maxy": maxy}
        )

    e = df.select(env(F.col("geometry")).alias("e"))
    return e.agg(
        F.min("e.minx").alias("xmin"),
        F.min("e.miny").alias("ymin"),
        F.max("e.maxx").alias("xmax"),
        F.max("e.maxy").alias("ymax"),
        F.count("e.minx").alias("n_geoms"),
    )


def vector_tile_index(layers: list) -> DataFrame:
    """``ogrtindex`` (apps/ogrtindex.cpp): one feature per input layer —
    LOCATION string + the layer-extent polygon. ``layers``: list of
    ``(location, DataFrame)``; geometry column must be ``geometry``.
    Each layer's extent is its own distributed reduce; the index union
    is len(layers) single rows. Layers with no (non-empty) geometries
    get a NULL extent polygon rather than failing."""
    import struct as _struct

    if not layers:
        raise ValueError("vector_tile_index needs at least one layer")
    out = None
    for location, df in layers:
        one = layer_extent(df).select(
            F.lit(location).alias("location"),
            "xmin", "ymin", "xmax", "ymax", "n_geoms",
        )
        out = one if out is None else out.unionByName(one)

    @pandas_udf("binary")
    def bbox_wkb(x0: pd.Series, y0: pd.Series, x1: pd.Series, y1: pd.Series
                 ) -> pd.Series:
        head = _struct.pack("<BII", 1, 3, 1)
        return pd.Series([
            None if a is None or pd.isna(a)  # empty layer → NULL geometry
            else head + _struct.pack("<I10d", 5, a, b, c, b, c, d, a, d, a, b)
            for a, b, c, d in zip(x0, y0, x1, y1)
        ])

    return out.withColumn(
        "geometry", bbox_wkb(F.col("xmin"), F.col("ymin"),
                             F.col("xmax"), F.col("ymax"))
    )
