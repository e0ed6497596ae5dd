"""Explicit skew handling: salted equi-joins for hot cells.

The flagship PIP join broadcasts the polygon cover, so no shuffle exists
to skew. This module covers the *fallback* regime the north rule calls
out: when the cell-keyed dimension side is too large to broadcast (e.g.
millions of fine-zoom cover cells), the join becomes a shuffle join and
web-scale geotag data makes some cells pathologically hot (30%+ of rows
in one city-cell). Two levers, composable with AQE's skew-join splitter:

- :func:`salted_join` — generic N-way salt: the fact side gets a
  deterministic salt in [0, n); the dimension side explodes n replicas.
  Hot keys spread across n reducers at the cost of replicating only the
  dimension rows.
- :func:`salted_join_hot_keys` — targeted variant: only keys in the
  ``hot_keys`` list are salted (replicated); the long tail joins
  unsalted, so dimension replication is O(#hot × n), not O(rows × n).

The salt is ``pmod(xxhash64(fact cols...), n)`` — deterministic, so
re-runs and resumed jobs produce identical partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str],
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with every dim row replicated n_salt times.

    Only inner/left joins are valid: with right/full, unmatched dim rows
    would be emitted once per replica. The salt hashes the FULL
    fact row content (not the join keys alone, which would put every hot
    key in one salt bucket; not spark_partition_id, which is not stable
    across re-runs/resumes).
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left only (got {how!r}): dim rows are "
            "replicated n_salt times, so right/full would duplicate unmatched dim rows"
        )
    salt_src = F.xxhash64(*[F.col(c) for c in fact.columns])
    f = fact.withColumn("__salt", F.pmod(salt_src, F.lit(n_salt)).cast("int"))
    d = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).withColumn("__salt", F.col("__salt").cast("int"))
    return f.join(d, on + ["__salt"], how).drop("__salt")


def salted_join_hot_keys(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str],
    hot_keys: DataFrame,
    n_salt: int = 16,
) -> DataFrame:
    """Inner join that salts only the hot keys (``hot_keys``: distinct
    rows of the join columns, small, broadcast); the tail joins
    unsalted."""
    hk = F.broadcast(hot_keys.select(*on).distinct().withColumn("__hot", F.lit(True)))
    f = fact.join(hk, on, "left")
    d = dim.join(hk, on, "left")
    f_hot = f.filter(F.col("__hot").isNotNull()).drop("__hot")
    f_tail = f.filter(F.col("__hot").isNull()).drop("__hot")
    d_hot = d.filter(F.col("__hot").isNotNull()).drop("__hot")
    d_tail = d.filter(F.col("__hot").isNull()).drop("__hot")
    joined_hot = salted_join(f_hot, d_hot, on, n_salt)
    joined_tail = f_tail.join(d_tail, on)
    return joined_hot.unionByName(joined_tail)


def top_hot_keys(df: DataFrame, on: list[str], top_n: int = 32) -> DataFrame:
    """Identify the heaviest join keys (one aggregation pass, map-side
    partials) — feed to :func:`salted_join_hot_keys`."""
    return (
        df.groupBy(*on)
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.col("__n").desc())
        .limit(top_n)
        .drop("__n")
    )
