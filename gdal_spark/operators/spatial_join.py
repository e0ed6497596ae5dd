"""Distributed point-in-polygon spatial join + tile assignment.

Re-expresses the reference's spatial filter-refine contract
(``OGRLayer::FilterGeometry``, ogr/ogrsf_frmts/generic/ogrlayer.cpp:2253-2325
— envelope reject → containment accept → exact GEOS refine) as a Spark plan:

1. **tile assignment** — pure column math (``GetTileIndices`` semantics,
   apps/gdalalg_raster_tile.cpp:274-342), whole-stage-codegen, no shuffle;
2. **cell-cover broadcast join** — each polygon covered by zoom-z tiles,
   tiles classified *full* (wholly inside → accept, no refine) or *partial*
   (boundary tile → refine). The cover is tiny and broadcast, so the join
   is a broadcast hash join: no shuffle of the trillion-row side, and hot
   cells cannot skew a shuffle that doesn't exist. Both sides key on the
   one packed BIGINT ``__cell`` of :mod:`gdal_spark.tiling`, so the
   broadcast side is a compact ``LongHashedRelation``;
3. **exact refine** — Arrow-vectorized pandas UDF running the reference's
   ray-cast (ogr/ogrlinearring.cpp:462-531) against the packed
   :class:`PolygonSet` only for boundary-tile candidates.

At 100 TB the expensive part is step 3; the full/partial split keeps it
proportional to polygon *perimeter* (boundary tiles) instead of *area*.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import BooleanType

from gdal_spark import tiling
from gdal_spark.geometry.index import PolygonSet


def assign_tiles(
    df: DataFrame,
    zoom: int,
    convention: str = "xyz",
) -> DataFrame:
    """Add ``tile_z/x/y`` columns for the ``lon``/``lat`` degree columns
    via GetTileIndices math (column-only).

    ``convention`` is ``'xyz'`` (y down from the north) or ``'tms'`` (y up)."""
    if convention not in ("xyz", "tms"):
        raise ValueError(f"convention must be 'xyz' or 'tms', got {convention!r}")
    tx_sql, ty_sql = tiling.lonlat_tile_sql("lon", "lat", zoom)
    out = df.withColumn("tile_z", F.lit(zoom)).withColumn("tile_x", F.expr(tx_sql))
    y = F.expr(ty_sql)
    if convention == "tms":  # GetFileY flip, gdalalg_raster_tile.cpp:348-352
        y = F.lit((1 << zoom) - 1) - y
    return out.withColumn("tile_y", y)


def _cover_df(spark: SparkSession, polyset: PolygonSet, zoom: int) -> DataFrame:
    pidx, tx, ty, full = polyset.tile_cover(zoom)
    pdf = pd.DataFrame(
        {
            "__pidx": pidx,
            "__cell": tiling.cell_id_np(tx, ty, zoom),
            "__full": full.astype(bool),
            "poly_id": polyset.ids[pidx],
        }
    )
    return spark.createDataFrame(pdf)


def point_in_polygon_join(points: DataFrame, polyset: PolygonSet, zoom: int = 7) -> DataFrame:
    """Join each point row to every polygon containing it (inner join).

    Points carry ``lon``/``lat`` columns in degrees; ``polyset``
    coordinates must be mercator meters (convert lon/lat polygons before
    packing). Output = point columns + ``poly_id``.
    """
    spark = points.sparkSession
    pts = points.withColumns(
        {"mx": F.expr(tiling.mercator_x_sql("lon")), "my": F.expr(tiling.mercator_y_sql("lat"))}
    ).withColumn("__cell", F.expr(tiling.mercator_cell_sql("mx", "my", zoom)))

    cover = _cover_df(spark, polyset, zoom)
    cand = pts.join(F.broadcast(cover), on=["__cell"], how="inner")

    # exact refine only for boundary tiles; interior-cell rows short-circuit
    # INSIDE the UDF (Spark evaluates ArrowEvalPython before the filter, so
    # a CASE outside the UDF would still ray-cast every candidate — the
    # in-batch mask keeps refine cost proportional to polygon perimeter)
    @F.pandas_udf(BooleanType())
    def _contains(mx: pd.Series, my: pd.Series, pidx: pd.Series, full: pd.Series) -> pd.Series:
        fm = full.to_numpy(dtype=bool)
        out = fm.copy()
        part = ~fm
        if part.any():
            out[part] = polyset.contains(
                mx.to_numpy()[part], my.to_numpy()[part], pidx.to_numpy()[part]
            )
        return pd.Series(out)

    hit = cand.withColumn(
        "__hit", _contains(F.col("mx"), F.col("my"), F.col("__pidx"), F.col("__full"))
    ).filter(F.col("__hit"))
    return hit.drop("__cell", "__pidx", "__full", "__hit", "mx", "my")


def pip_counts(points: DataFrame, polyset: PolygonSet, zoom: int = 7) -> DataFrame:
    """Count points per polygon (the flagship aggregate of the north rule).

    Partial aggregation is map-side (Catalyst HashAggregate) so the shuffle
    moves one row per (partition, polygon)."""
    joined = point_in_polygon_join(points, polyset, zoom=zoom)
    return joined.groupBy("poly_id").agg(F.count(F.lit(1)).alias("n_points"))
