"""Bucketed table I/O — co-located joins without a shuffle.

At 100 TB the biggest repeated cost is re-shuffling the pages/tiles
tables on the same key for every join. Spark's bucketing (hive-style
bucket files + metastore metadata) persists the partitioning: two tables
bucketed on the same key with the same bucket count join with NO
Exchange on either side — the distributed analogue of the reference's
persistent spatial indexes (.qix/R*Tree), but for the join key itself.

Typical use: bucket the cell-keyed pages table and the cell-keyed
polygon cover by ``cell`` once at ingest; every subsequent spatial join
is exchange-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist df as a bucketed (and optionally sorted) managed table,
    replacing any table of that name."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)
