"""Composable vector pipeline — ``ogr2ogr`` / ``gdal vector pipeline``
re-expressed as chained DataFrame transforms.

Step names follow the reference's pipeline steps 1:1
(apps/gdalalg_vector_{filter,select,reproject,clip,simplify,segmentize,
swap_xy,explode_collections,set_geom_type,sql}.cpp; option struct
apps/ogr2ogr_lib.cpp:136):

    VectorPipeline(df)
        .where("pop > 1000")         # -where
        .select(["name", "pop"])     # -select (geometry always kept)
        .spat(xmin, ymin, xmax, ymax)# -spat (envelope prefilter + exact)
        .clip_rect(...)              # gdalalg_vector_clip (rect case)
        .reproject("EPSG:4326", "EPSG:3857")  # -t_srs (built-in CRSs)
        .simplify(tol)               # -simplify (Douglas-Peucker)
        .segmentize(max_len)         # -segmentize
        .swap_xy()                   # gdalalg_vector_swap_xy
        .explode_collections()       # -explode_collections
        .df                          # terminal DataFrame

Geometry steps are Arrow pandas UDFs over the WKB ``geometry`` column;
attribute steps are plain Catalyst expressions (pushdown-friendly). Supported CRS
transforms without PROJ: EPSG:4326 ⇄ EPSG:3857 (spherical mercator) and
arbitrary affine — the reference delegates everything else to PROJ
(ogr/ogrct.cpp), out of scope GEOS/PROJ-free v1.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import BinaryType

from gdal_spark import tiling
from gdal_spark.geometry import ops, wkb, wkt


def _geom_udf(fn):
    @F.pandas_udf(BinaryType())
    def _udf(g: pd.Series) -> pd.Series:
        out = []
        for b in g:
            if b is None:
                out.append(None)
                continue
            res = fn(wkb.parse_wkb(bytes(b)))
            out.append(None if res is None else wkt.geom_to_wkb(*res))
        return pd.Series(out)

    return _udf


def _lonlat_to_merc(xs, ys):
    return tiling.lonlat_to_mercator_np(xs, ys)


def _merc_to_lonlat(xs, ys):
    lon = np.asarray(xs) / tiling.ORIGIN * 180.0
    lat = np.degrees(2.0 * np.arctan(np.exp(np.asarray(ys) / tiling.ORIGIN * np.pi)) - np.pi / 2.0)
    return lon, lat


class VectorPipeline:
    def __init__(self, df: DataFrame):
        self.df = df

    def _with_geom(self, udf) -> "VectorPipeline":
        return VectorPipeline(self.df.withColumn("geometry", udf(F.col("geometry"))))

    # -- attribute steps (stay in Catalyst) --------------------------------

    def where(self, predicate: str | Column) -> "VectorPipeline":
        return VectorPipeline(self.df.filter(predicate))

    def select(self, fields: list[str]) -> "VectorPipeline":
        cols = list(fields)
        if "geometry" not in cols:
            cols.append("geometry")
        return VectorPipeline(self.df.select(*cols))

    def sql(self, spark, query: str) -> "VectorPipeline":
        """Run ``query`` over the current layer, registered as view ``__pipe``."""
        self.df.createOrReplaceTempView("__pipe")
        return VectorPipeline(spark.sql(query))

    # -- spatial filter (filter-refine, ogrlayer.cpp:2253-2325) ------------

    def spat(self, xmin, ymin, xmax, ymax) -> "VectorPipeline":
        @F.pandas_udf("boolean")
        def hits(g: pd.Series) -> pd.Series:
            rect = (
                "Polygon",
                [np.array([[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax], [xmin, ymin]])],
            )
            out = []
            for b in g:
                if b is None:
                    out.append(False)
                    continue
                geom = wkb.parse_wkb(bytes(b))
                e = ops.envelope(geom)
                if np.isnan(e[0]) or e[0] > xmax or e[2] < xmin or e[1] > ymax or e[3] < ymin:
                    out.append(False)  # envelope reject
                else:
                    out.append(ops.intersects(geom, rect))  # exact refine
            return pd.Series(out)

        return VectorPipeline(self.df.filter(hits(F.col("geometry"))))

    # -- geometry steps ----------------------------------------------------

    def clip_rect(self, xmin, ymin, xmax, ymax) -> "VectorPipeline":
        rect = np.array(
            [[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax], [xmin, ymin]]
        )

        def _clip(g):
            polys = ops._polygons_of(g)
            if not polys:
                return g  # non-areal passthrough (reference keeps or drops by dim)
            rings = []
            for p in polys:
                r = ops.clip_polygon_convex(p[0], rect)
                if len(r):
                    rings.append(r)
            if not rings:
                return None
            if len(rings) == 1:
                return ("Polygon", [rings[0]])
            return ("MultiPolygon", [("Polygon", [r]) for r in rings])

        out = self._with_geom(_geom_udf(_clip))
        return VectorPipeline(out.df.filter(F.col("geometry").isNotNull()))

    def reproject(self, src: str, dst: str) -> "VectorPipeline":
        """Arbitrary supported-CRS reprojection (4326 / 3857 / WGS84 UTM
        zones) via the batched Krüger-series transforms in geometry/crs.py
        — the engine's ogrct.cpp analogue, evaluated inside the existing
        Arrow geometry UDF (no per-row Python)."""
        key = (src.upper(), dst.upper())
        if key == ("EPSG:4326", "EPSG:3857"):
            fn = _lonlat_to_merc
        elif key == ("EPSG:3857", "EPSG:4326"):
            fn = _merc_to_lonlat
        else:
            from gdal_spark.geometry import crs

            fn = crs.transformer(src, dst)
        return self._with_geom(_geom_udf(lambda g: ops.transform_geom(g, fn)))

    def affine(self, gt: tuple) -> "VectorPipeline":
        def fn(xs, ys):
            return (
                gt[0] + np.asarray(xs) * gt[1] + np.asarray(ys) * gt[2],
                gt[3] + np.asarray(xs) * gt[4] + np.asarray(ys) * gt[5],
            )

        return self._with_geom(_geom_udf(lambda g: ops.transform_geom(g, fn)))

    def simplify(self, tolerance: float) -> "VectorPipeline":
        return self._with_geom(
            _geom_udf(lambda g: ops.map_rings(g, lambda r: ops.simplify_ring(r, tolerance)))
        )

    def segmentize(self, max_length: float) -> "VectorPipeline":
        return self._with_geom(
            _geom_udf(lambda g: ops.map_rings(g, lambda r: ops.segmentize_line(r, max_length)))
        )

    def swap_xy(self) -> "VectorPipeline":
        return self._with_geom(
            _geom_udf(lambda g: ops.transform_geom(g, lambda x, y: (y, x)))
        )

    def explode_collections(self) -> "VectorPipeline":
        """Multi* → one row per part (ogr2ogr -explode_collections)."""
        @F.pandas_udf("array<binary>")
        def parts(g: pd.Series) -> pd.Series:
            out = []
            for b in g:
                if b is None:
                    out.append([None])
                    continue
                name, payload = wkb.parse_wkb(bytes(b))
                if name in ("MultiPoint", "MultiLineString", "MultiPolygon", "GeometryCollection"):
                    out.append([wkt.geom_to_wkb(n, p) for n, p in payload])
                else:
                    out.append([bytes(b)])
            return pd.Series(out)

        df = self.df.withColumn("__parts", parts(F.col("geometry")))
        df = df.withColumn("geometry", F.explode("__parts")).drop("__parts")
        return VectorPipeline(df)

    def set_geom_type(self) -> "VectorPipeline":
        """PROMOTE_TO_MULTI (ogr2ogr -nlt PROMOTE_TO_MULTI)."""

        def _promote(g):
            name, payload = g
            if name == "Point":
                return ("MultiPoint", [g])
            if name == "LineString":
                return ("MultiLineString", [g])
            if name == "Polygon":
                return ("MultiPolygon", [g])
            return g

        return self._with_geom(_geom_udf(_promote))

    def buffer(self, distance: float) -> "VectorPipeline":
        """`gdal vector pipeline ... buffer` (gdalalg_vector_buffer.cpp):
        per-feature true round buffer via ops.buffer_geom (capsule-union
        set identity; concavity/holes preserved, negative dist erodes)."""

        def _buf(g):
            return ops.buffer_geom(g, distance)

        return self._with_geom(_geom_udf(_buf))

    def make_valid(self) -> "VectorPipeline":
        """`... make_valid` (gdalalg_vector_make_valid.cpp): geometries
        failing ops.is_valid are repaired — self-intersecting rings are
        re-noded via their triangulated piece decomposition (union-equal,
        the engine's documented piece representation); degenerate
        geometries become NULL and are dropped (SKIP_INVALID semantics)."""

        out = self._with_geom(_geom_udf(ops.make_valid_geom))
        return VectorPipeline(out.df.filter(F.col("geometry").isNotNull()))

    def concat(self, other: "VectorPipeline") -> "VectorPipeline":
        """`... concat` (gdalalg_vector_concat.cpp): layer union by field
        name, missing fields NULL (OGRUnionLayer schema-union contract)."""
        return VectorPipeline(self.df.unionByName(other.df, allowMissingColumns=True))

    def grid(self, meta, alg: str = "invdist", **kw):
        """`... grid` step: terminate the vector pipeline into a raster
        tiles DataFrame (centroid x/y of each geometry + ``z`` column →
        raster/grid.py). Returns the tiles DataFrame, not a pipeline."""
        from gdal_spark.raster.grid import grid_points

        @F.pandas_udf("x DOUBLE, y DOUBLE")
        def _xy(g: pd.Series) -> pd.DataFrame:
            xs, ys = [], []
            for b in g:
                gg = wkb.parse_wkb(bytes(b))
                cx, cy = ops.centroid(gg)
                xs.append(cx)
                ys.append(cy)
            return pd.DataFrame({"x": xs, "y": ys})

        pts = self.df.select(_xy(F.col("geometry")).alias("p"), "z").select("p.x", "p.y", "z")
        return grid_points(pts, meta, alg=alg, **kw)

    def dissolve(self, by: list | None = None) -> "VectorPipeline":
        """``gdal vector pipeline ... dissolve`` analogue (aggregate
        UnaryUnion per key; layer_algebra.dissolve salted union tree)."""
        from gdal_spark.operators.layer_algebra import dissolve as _dissolve

        return VectorPipeline(_dissolve(self.df, by=by))

    def rasterize(self, meta, burn_col: str | None = None, burn: float = 1.0, **kw):
        """``... rasterize`` step: terminate into a raster tiles
        DataFrame (apps/gdalalg_vector_rasterize.cpp semantics via
        raster/rasterize.py). Returns the tiles DataFrame."""
        from gdal_spark.raster.rasterize import rasterize as _rasterize

        df = self.df
        if burn_col is None:
            df = df.withColumn("__burn", F.lit(float(burn)))
            burn_col = "__burn"
        return _rasterize(df, meta, burn_col=burn_col, **kw)
