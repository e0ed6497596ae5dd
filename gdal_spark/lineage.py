"""Byte-identity lineage fingerprint (BASELINE.json input_hint invariant:
``text`` bytes unchanged per ``url`` through every pipeline stage).

This module is the one place the fingerprint is spelled:
:func:`global_fingerprint` is ``(count, xor of xxhash64(url, text))``,
computed by Spark's JVM-side ``xxhash64`` (seed 42), no Python in the
path. :mod:`gdal_spark.checkpoint` records it per shard in each commit
manifest (the per-partition artifact a resumable job emits) and
re-derives it to verify a committed root.

XOR aggregation is order- and partition-independent and cannot overflow,
so the fingerprint compares exactly across stages that repartition, and
the shards' values XOR to the whole table's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F


def global_fingerprint(df: DataFrame) -> tuple[int, int]:
    """One job: an Observation over a ``noop`` write aggregates as the rows
    stream past, where ``agg().collect()`` plans a shuffle and two jobs."""
    fp = Observation()
    df.select(F.xxhash64("url", "text").alias("h")).observe(
        fp, F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("x")
    ).write.format("noop").mode("overwrite").save()
    row = fp.get
    return int(row["n"]), int(row["x"] if row["x"] is not None else 0)


def assert_unchanged(before: tuple[int, int], after: tuple[int, int], stage: str = "") -> None:
    if before != after:
        raise AssertionError(
            f"text byte-identity violated at stage {stage!r}: {before} -> {after}"
        )
