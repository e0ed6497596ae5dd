"""Structured Streaming wrapper over the batch spatial pipeline.

The reference is a batch library (SURVEY.md §2.9: no watermarks, no
event-time state) — this module is the *additive* streaming face the
north rule's ingest scenario needs: pages stream in, geotags extract,
tiles assign, and windowed per-tile counts emit with late-data handling.

All transformations reuse the exact batch column expressions
(gdal_spark.pages / operators.spatial_join), so batch and streaming
paths cannot diverge — the Spark way of "one engine, two run modes".

- ``streaming_pages_from_rate``: deterministic pages stream from the
  built-in rate source (value → same splitmix64 synth as batch).
- ``streaming_tile_counts``: watermark on ``warc_ts`` + tumbling window
  + groupBy tile → append-mode aggregate. State is bounded by
  (watermark horizon × active tiles).
- ``streaming_url_dedup``: watermarked ``dropDuplicates`` on url — the
  streaming form of exact dedup (first occurrence wins, late dupes
  beyond the watermark age out).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from gdal_spark.operators.spatial_join import assign_tiles
from gdal_spark.pages import extract_geotags, pages_columns


def streaming_pages_from_rate(
    spark: SparkSession, rows_per_second: int = 1000
) -> DataFrame:
    """Deterministic pages stream: rate-source ``value`` drives the same
    splitmix64 synthesis as the batch ``synth_pages``."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    return rate.select(pages_columns(F.col("value"), F.col("timestamp")))


def streaming_tile_counts(
    pages: DataFrame,
    zoom: int = 8,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """pages stream → (window, tile_x, tile_y, n) with late-data bound."""
    tiled = assign_tiles(extract_geotags(pages), zoom)
    return (
        tiled.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            "tile_x",
            "tile_y",
            "n",
        )
    )


def streaming_url_dedup(pages: DataFrame) -> DataFrame:
    """Streaming exact dedup by url (state aged out past a 10-minute
    watermark on ``warc_ts``)."""
    return pages.withWatermark("warc_ts", "10 minutes").dropDuplicates(["url"])
