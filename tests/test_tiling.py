"""Tile-index math: NumPy oracle vs reference semantics vs SQL emission.

Reference semantics: GetTileIndices (apps/gdalalg_raster_tile.cpp:274-342),
GetFileY y-flip (:348-352).
"""
import duckdb
import math
import numpy as np

from gdal_spark import tiling


def test_mercator_roundtrip_known_values():
    # lon=0,lat=0 → (0,0); lon=180 → +ORIGIN
    mx, my = tiling.lonlat_to_mercator_np([0.0, 180.0, -180.0], [0.0, 0.0, 0.0])
    assert abs(mx[0]) < 1e-9 and abs(my[0]) < 1e-6
    assert abs(mx[1] - tiling.ORIGIN) < 1e-6
    assert abs(mx[2] + tiling.ORIGIN) < 1e-6
    # mercator "square world": lat ~85.0511 → +ORIGIN
    lat_top = math.degrees(2 * math.atan(math.exp(math.pi)) - math.pi / 2)
    _, my2 = tiling.lonlat_to_mercator_np([0.0], [lat_top])
    assert abs(my2[0] - tiling.ORIGIN) < 1e-3


def test_tile_indices_z0_z1():
    tx, ty = tiling.tile_indices_np([0.0], [0.0], 0)
    assert tx[0] == 0 and ty[0] == 0
    # z1: four quadrants; mercator (+, +) = top-right = (1, 0) in xyz
    tx, ty = tiling.tile_indices_np(
        [1e6, -1e6, 1e6, -1e6], [1e6, 1e6, -1e6, -1e6], 1
    )
    assert list(tx) == [1, 0, 1, 0]
    assert list(ty) == [0, 0, 1, 1]


def test_tile_indices_clamp_and_epsilon():
    # beyond world bounds clamps to the edge tile
    tx, ty = tiling.tile_indices_np([tiling.ORIGIN + 10], [-tiling.ORIGIN - 10], 3)
    assert tx[0] == 7 and ty[0] == 7
    # epsilon pulls a point just left of a boundary into the next tile
    z, n = 2, 4
    span = tiling.WORLD_SPAN / n
    eps_m = span * tiling.EPSILON
    x_edge = -tiling.ORIGIN + span  # boundary between tile 0 and 1
    tx, _ = tiling.tile_indices_np([x_edge - eps_m * 0.5], [0.0], z)
    assert tx[0] == 1  # the reference's +1e-3 nudge captures it


def test_tms_flip():
    assert tiling.tms_y(0, 3) == 7
    assert tiling.tms_y(7, 3) == 0


def test_ring_offsets():
    assert len(tiling.k_ring_offsets(2)) == 25


def test_sql_emission_matches_numpy_via_duckdb():
    rng = np.random.default_rng(7)
    lon = rng.uniform(-179.9, 179.9, 500)
    lat = rng.uniform(-83.9, 83.9, 500)
    con = duckdb.connect()
    con.execute("CREATE TABLE pts (lon DOUBLE, lat DOUBLE)")
    con.executemany("INSERT INTO pts VALUES (?, ?)", list(zip(lon.tolist(), lat.tolist())))
    for z in (0, 3, 7, 12):
        tx_sql, ty_sql = tiling.lonlat_tile_sql("lon", "lat", z)
        got = con.execute(f"SELECT {tx_sql} AS tx, {ty_sql} AS ty FROM pts").fetchnumpy()
        mx, my = tiling.lonlat_to_mercator_np(lon, lat)
        tx, ty = tiling.tile_indices_np(mx, my, z)
        assert (got["tx"] == tx).all(), z
        assert (got["ty"] == ty).all(), z


def test_spark_sql_matches_numpy(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.default_rng(3)
    lon = rng.uniform(-179.9, 179.9, 300)
    lat = rng.uniform(-83.9, 83.9, 300)
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    z = 9
    tx_sql, ty_sql = tiling.lonlat_tile_sql("lon", "lat", z)
    cell_sql = tiling.mercator_cell_sql(tiling.mercator_x_sql("lon"), tiling.mercator_y_sql("lat"), z)
    got = (
        df.select(
            F.expr(tx_sql).alias("tx"), F.expr(ty_sql).alias("ty"), F.expr(cell_sql).alias("cell")
        )
        .toPandas()
    )
    mx, my = tiling.lonlat_to_mercator_np(lon, lat)
    tx, ty = tiling.tile_indices_np(mx, my, z)
    assert (got["tx"].to_numpy() == tx).all()
    assert (got["ty"].to_numpy() == ty).all()
    # the packed join key: Spark-side SQL and driver-side NumPy agree
    assert (got["cell"].to_numpy() == tiling.cell_id_np(tx, ty, z)).all()
