"""kNN join via iterative cell k-ring expansion + window-ranked pruning.

The reference has no vector kNN operator; its nearest-neighbor machinery
lives in gridding (quadtree radius search + per-node NN,
alg/gdalgrid.cpp:241-427, port/cpl_quad_tree.cpp). The distributed
re-expression: both sides get a zoom-z tile cell (pure column math), query
cells are exploded over Chebyshev-ring offsets, offsets that leave the
world's ``[0, 2^z)`` tile range are dropped, the rest are packed into the
one BIGINT cell key of :mod:`gdal_spark.tiling`, an equi-join on that key
finds candidates, and ``row_number() OVER (PARTITION BY query ORDER BY dist,
nid)`` keeps the top k — ties broken by (dist, id) to stay
deterministic.

Correctness bound: any point in a cell at Chebyshev distance ≥ r+1 from
the query's cell is ≥ r*cell_span away, so a query is *final* once its
k-th distance ≤ r*cell_span. Queries not final at ``radius`` are re-run
with a doubled ring (driver loop, geometrically growing, at most
``max_rounds``) — the per-round shuffles stay proportional to the
*unfinished* queries only. The eager checkpoint of a round's final ids
also observes how many queries went in and how many came out final, so
no count job runs; the loop stops when the two agree. Queries still
unfinished after the last round keep what it found, so the result is
exact only within that reach (see :func:`knn_join`).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation, Window, functions as F

from gdal_spark import tiling


def knn_join(
    query: DataFrame,
    neighbors: DataFrame,
    k: int,
    zoom: int = 8,
    radius: int = 1,
    max_rounds: int = 4,
) -> DataFrame:
    """For every query row return up to k nearest neighbor rows.

    ``query`` has columns ``qid``, ``x``, ``y`` and ``neighbors`` has
    ``nid``, ``x``, ``y``. Output columns: qid, nid, dist, rank (1-based).
    Distances are planar in the coordinate space of x/y (use mercator
    meters for geographic data); ties are broken by (dist, nid).
    The ring join carries no hint: AQE broadcasts the neighbours when
    their measured size is under ``spark.sql.autoBroadcastJoinThreshold``.

    Bounded, not exact: the search reaches at most
    ``radius * 2**(max_rounds - 1)`` cells out from the query's cell (8 at
    the defaults), and the last round accepts whatever it found. A query
    whose k nearest all lie within that ring matches brute force; an
    isolated query can get fewer than k rows (none, if no neighbour is
    within reach) or rows that are not its true nearest. ROADMAP item 1
    plans the exact, histogram-sized search.
    """
    n_tiles = 1 << zoom
    span0 = tiling.WORLD_SPAN / n_tiles
    q = query.select(
        F.col("qid").alias("__qid"), F.col("x").alias("__qx"), F.col("y").alias("__qy")
    )
    q = q.withColumn("__qcx", F.expr(tiling.tile_x_sql("__qx", zoom))).withColumn(
        "__qcy", F.expr(tiling.tile_y_sql("__qy", zoom))
    )
    nb = neighbors.select(
        F.col("nid").alias("__nid"), F.col("x").alias("__nx"), F.col("y").alias("__ny")
    ).withColumn("__ncell", F.expr(tiling.mercator_cell_sql("__nx", "__ny", zoom)))

    done_parts: list[DataFrame] = []
    pending = q
    r = radius
    for round_i in range(max_rounds):
        # from pandas the offsets take the Arrow path and plan as a
        # LocalTableScan: no Python worker starts to broadcast them
        offs = pd.DataFrame(tiling.k_ring_offsets(r), columns=["dx", "dy"], dtype="int32")
        seen, done = Observation(), Observation()
        rx, ry = "(__qcx + dx)", "(__qcy + dy)"
        # off-world ring cells hold no points, and packed they would alias
        # a cell across the row edge: drop them before packing
        expanded = (
            pending.observe(seen, F.count(F.lit(1)).alias("n"))
            .crossJoin(F.broadcast(pending.sparkSession.createDataFrame(offs)))
            .filter(f"{rx} BETWEEN 0 AND {n_tiles - 1} AND {ry} BETWEEN 0 AND {n_tiles - 1}")
            .select(
                "__qid",
                "__qx",
                "__qy",
                F.expr(tiling.cell_id_sql(rx, ry, zoom)).alias("__ncell"),
            )
        )
        cand = expanded.join(nb, on=["__ncell"], how="inner")
        # explicit multiply (not pow): bit-identical to the SQL oracle's
        # (qx-nx)*(qx-nx) form in every engine
        dx_ = F.col("__qx") - F.col("__nx")
        dy_ = F.col("__qy") - F.col("__ny")
        d2 = dx_ * dx_ + dy_ * dy_
        w = Window.partitionBy("__qid").orderBy(F.col("__d2").asc(), F.col("__nid").asc())
        topk = (
            cand.withColumn("__d2", d2)
            .withColumn("__rank", F.row_number().over(w))
            .filter(F.col("__rank") <= k)
        )
        # final iff k found AND kth dist within the ring-r guarantee
        bound = float(r) * span0
        agg = topk.groupBy("__qid").agg(
            F.count(F.lit(1)).alias("__cnt"), F.max(F.sqrt("__d2")).alias("__kth")
        )
        final_ids = agg.filter(
            (F.col("__cnt") >= k) & (F.col("__kth") <= F.lit(bound))
        ).select("__qid")
        if round_i == max_rounds - 1:
            final_ids = agg.select("__qid")  # last round: accept what we have
        # Eager localCheckpoint instead of persist(): tiny ids-only table,
        # lineage cut, blocks reclaimed by the ContextCleaner on GC. Running
        # it fills both counts: `seen` counts pending rows (a query with no
        # candidate never reaches `agg`), `done` the final ids.
        final_ids = final_ids.observe(done, F.count(F.lit(1)).alias("n")).localCheckpoint()
        done_parts.append(topk.join(F.broadcast(final_ids), "__qid", "leftsemi"))
        if done.get["n"] == seen.get["n"]:
            break
        # from the unobserved pending: each observation is in one plan once
        pending = pending.join(F.broadcast(final_ids), "__qid", "leftanti")
        r *= 2

    out = done_parts[0]
    for p in done_parts[1:]:
        out = out.unionByName(p)
    return out.select(
        F.col("__qid").alias("qid"),
        F.col("__nid").alias("nid"),
        F.sqrt("__d2").alias("dist"),
        F.col("__rank").alias("rank"),
    )


def knn_join_bruteforce(
    query: DataFrame,
    neighbors: DataFrame,
    k: int,
) -> DataFrame:
    """O(N*M) oracle path (broadcast cross join + window). Small dims only.

    Same input columns and output as :func:`knn_join`."""
    q = query.select(
        F.col("qid").alias("__qid"), F.col("x").alias("__qx"), F.col("y").alias("__qy")
    )
    nb = neighbors.select(
        F.col("nid").alias("__nid"), F.col("x").alias("__nx"), F.col("y").alias("__ny")
    )
    dx_ = F.col("__qx") - F.col("__nx")
    dy_ = F.col("__qy") - F.col("__ny")
    d2 = dx_ * dx_ + dy_ * dy_
    w = Window.partitionBy("__qid").orderBy(F.col("__d2").asc(), F.col("__nid").asc())
    return (
        q.crossJoin(F.broadcast(nb))
        .withColumn("__d2", d2)
        .withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= k)
        .select(
            F.col("__qid").alias("qid"),
            F.col("__nid").alias("nid"),
            F.sqrt("__d2").alias("dist"),
            F.col("__rank").alias("rank"),
        )
    )
