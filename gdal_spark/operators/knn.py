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
k-th distance ≤ r*cell_span. Queries not final at radius r are re-run
with a doubled ring (driver loop, geometrically growing from radius 1) —
the per-round shuffles stay proportional to the *unfinished* queries
only. The eager checkpoint of a round's final ids also observes how many
queries went in and how many came out final, so no count job runs; the
loop stops when the two agree. Once r reaches ``2^zoom - 1`` the capped
ring holds every cell of the world: that round's answers are exact as
found, so it accepts them all and ends the loop. The ring join also
observes how many neighbours it reads: when round one reads none, no
query can become final, so the loop ends there.
"""

from __future__ import annotations

import pandas as pd
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, Window, functions as F

from gdal_spark import tiling


def knn_join(query: DataFrame, neighbors: DataFrame, k: int, zoom: int = 8) -> DataFrame:
    """For every query row return up to k nearest neighbor rows.

    ``query`` has columns ``qid``, ``x``, ``y`` and ``neighbors`` has
    ``nid``, ``x``, ``y``. Output columns: qid, nid, dist, rank (1-based).
    Distances are planar in the coordinate space of x/y (use mercator
    meters for geographic data); ties are broken by (dist, nid).
    The ring join carries no hint: AQE broadcasts the neighbours when
    their measured size is under ``spark.sql.autoBroadcastJoinThreshold``.

    Exact: the rows equal :func:`knn_join_bruteforce`'s; a query gets fewer
    than k only when the neighbour table holds fewer than k rows. A query
    whose k-th neighbour lies d cells out is final after about
    ``log2(d) + 1`` rounds. One that never meets the bound (far neighbours,
    or 1 to k-1 neighbours in the world) runs ``zoom + 1`` rounds, the last
    over 511² ring offsets at z8: 10–13 s for one such query, 16 s for
    2,000 with 5 neighbours in the world at k=8 (``local[4]``, shared
    4-vCPU VM). An empty neighbour table ends after the first round.
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
    n_nb = Observation()
    nb_counted = nb.observe(n_nb, F.count(F.lit(1)).alias("n"))
    # explicit multiply (not pow): bit-identical to the SQL oracle's
    # (qx-nx)*(qx-nx) form in every engine
    dx_ = F.col("__qx") - F.col("__nx")
    dy_ = F.col("__qy") - F.col("__ny")
    d2 = dx_ * dx_ + dy_ * dy_
    w = Window.partitionBy("__qid").orderBy(F.col("__d2").asc(), F.col("__nid").asc())

    done_parts: list[DataFrame] = []
    pending = q
    r = 1
    while True:
        world = r >= n_tiles - 1  # the capped ring holds every cell of the world
        r = min(r, n_tiles - 1)
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

        def ring_topk(nb_side: DataFrame) -> DataFrame:
            return (
                expanded.join(nb_side, on=["__ncell"], how="inner")
                .withColumn("__d2", d2)
                .withColumn("__rank", F.row_number().over(w))
                .filter(F.col("__rank") <= k)
            )

        topk = ring_topk(nb)
        # round one's checkpoint also counts the neighbours it reads; the
        # result keeps the unobserved join, so its rounds share one
        # neighbour exchange
        first = not done_parts
        agg = (ring_topk(nb_counted) if first else topk).groupBy("__qid").agg(
            F.count(F.lit(1)).alias("__cnt"), F.max(F.sqrt("__d2")).alias("__kth")
        )
        # final iff k found AND kth dist within the ring-r guarantee
        final = (F.col("__cnt") >= k) & (F.col("__kth") <= F.lit(float(r) * span0))
        final_ids = agg.filter(final | F.lit(world)).select("__qid")
        # Eager localCheckpoint instead of persist(): tiny ids-only table,
        # lineage cut, blocks reclaimed by the ContextCleaner on GC. Running
        # it fills the counts: `seen` counts pending rows, `done` final ids,
        # and in round one `n_nb` the neighbours.
        final_ids = final_ids.observe(done, F.count(F.lit(1)).alias("n")).localCheckpoint()
        done_parts.append(topk.join(F.broadcast(final_ids), "__qid", "leftsemi"))
        try:  # a query with no candidate never reaches `agg`: `world`, or no
            # neighbour at all, ends the loop
            stop = world or done.get["n"] == seen.get["n"] or (first and n_nb.get["n"] == 0)
        except Py4JJavaError:  # unfilled: the join was dropped for an empty side
            stop = True
        if stop:
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
