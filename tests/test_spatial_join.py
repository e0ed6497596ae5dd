"""PIP spatial join vs a NumPy brute-force oracle, including the skewed
hot-cell variant; tile assignment vs the GetTileIndices oracle."""
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_spark import tiling
from gdal_spark.geometry import kernels
from gdal_spark.geometry.index import PolygonSet
from gdal_spark.operators.spatial_join import assign_tiles, pip_counts, point_in_polygon_join


def _lonlat_polyset(seed=19, n_poly=12):
    """Random convex-ish polygons in lon/lat converted to mercator."""
    rng = np.random.default_rng(seed)
    polys, ids = [], []
    for i in range(n_poly):
        cx = rng.uniform(-150, 150)
        cy = rng.uniform(-60, 60)
        r = rng.uniform(2, 12)
        k = rng.integers(5, 11)
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        lon = cx + r * np.cos(ang)
        lat = np.clip(cy + r * np.sin(ang), -83, 83)
        mx, my = tiling.lonlat_to_mercator_np(lon, lat)
        ring = np.column_stack([mx, my])
        ring = np.vstack([ring, ring[:1]])
        polys.append([ring])
        ids.append(100 + i)
    return PolygonSet.from_coords(ids, polys), polys, ids


def _points_df(spark, n=3000, seed=23, hot=None):
    rng = np.random.default_rng(seed)
    lon = rng.uniform(-179, 179, n)
    lat = rng.uniform(-80, 80, n)
    if hot is not None:
        m = n // 3
        lon[:m] = hot[0] + rng.uniform(-0.5, 0.5, m)
        lat[:m] = hot[1] + rng.uniform(-0.5, 0.5, m)
    pdf = pd.DataFrame({"pid": np.arange(n, dtype=np.int64), "lon": lon, "lat": lat})
    return spark.createDataFrame(pdf), pdf


def _oracle_pairs(pdf, polys, ids):
    mx, my = tiling.lonlat_to_mercator_np(pdf.lon.to_numpy(), pdf.lat.to_numpy())
    pairs = set()
    for rings, pid_poly in zip(polys, ids):
        inside = kernels.points_in_polygon_np(mx, my, rings)
        for p in pdf.pid.to_numpy()[inside]:
            pairs.add((int(p), int(pid_poly)))
    return pairs


@pytest.mark.parametrize("zoom", [5, 8])
def test_pip_join_matches_bruteforce(spark, zoom):
    ps, polys, ids = _lonlat_polyset()
    df, pdf = _points_df(spark)
    got = point_in_polygon_join(df, ps, zoom=zoom).select("pid", "poly_id").toPandas()
    got_pairs = set(zip(got.pid.astype(int), got.poly_id.astype(int)))
    assert got_pairs == _oracle_pairs(pdf, polys, ids)


def test_pip_join_skewed_hotspot(spark):
    ps, polys, ids = _lonlat_polyset(seed=31)
    # hot spot inside the first polygon's centroid
    ext = polys[0][0]
    clon = np.degrees(ext[:-1, 0].mean() / tiling.ORIGIN * np.pi) / np.pi * 180
    # convert centroid mercator back to lon/lat roughly: lon = mx/ORIGIN*180
    hot_lon = ext[:-1, 0].mean() / tiling.ORIGIN * 180.0
    hot_lat = np.degrees(
        2 * np.arctan(np.exp(ext[:-1, 1].mean() / tiling.ORIGIN * np.pi)) - np.pi / 2
    )
    df, pdf = _points_df(spark, n=4000, seed=37, hot=(hot_lon, hot_lat))
    got = point_in_polygon_join(df, ps, zoom=7).select("pid", "poly_id").toPandas()
    got_pairs = set(zip(got.pid.astype(int), got.poly_id.astype(int)))
    assert got_pairs == _oracle_pairs(pdf, polys, ids)


def test_pip_counts(spark):
    ps, polys, ids = _lonlat_polyset(seed=41)
    df, pdf = _points_df(spark, n=2500, seed=43)
    got = {r.poly_id: r.n_points for r in pip_counts(df, ps, zoom=6).collect()}
    oracle = {}
    for (p, g) in _oracle_pairs(pdf, polys, ids):
        oracle[g] = oracle.get(g, 0) + 1
    assert got == oracle


def test_assign_tiles_matches_numpy(spark):
    df, pdf = _points_df(spark, n=800, seed=53)
    out = assign_tiles(df, zoom=11).select("pid", "tile_x", "tile_y").toPandas().sort_values("pid")
    tx, ty = tiling.lonlat_to_tile_np(pdf.lon.to_numpy(), pdf.lat.to_numpy(), 11)
    assert (out.tile_x.to_numpy() == tx).all()
    assert (out.tile_y.to_numpy() == ty).all()
    # tms flip
    out2 = assign_tiles(df, zoom=11, convention="tms").select("pid", "tile_y").toPandas().sort_values("pid")
    assert (out2.tile_y.to_numpy() == tiling.tms_y(ty, 11)).all()


def test_unknown_coords_and_convention_raise(spark):
    """A typo in ``convention`` fails loudly instead of emitting xyz rows
    labelled tms."""
    df, _ = _points_df(spark, n=10, seed=3)
    with pytest.raises(ValueError, match="TMS"):
        assign_tiles(df, zoom=11, convention="TMS")


def test_pip_join_plan_is_broadcast(spark):
    """The polygon cover must broadcast — no shuffle of the big side."""
    ps, _, _ = _lonlat_polyset()
    df, _ = _points_df(spark, n=100)
    joined = point_in_polygon_join(df, ps, zoom=6)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # one packed BIGINT cell key → a compact LongHashedRelation; a two-long
    # key would broadcast an UnsafeHashedRelation of ~64 MB for this cover
    joined.collect()
    nodes = _executed_nodes(joined)
    (bhj,) = [n for n in nodes if n.nodeName() == "BroadcastHashJoin"]
    assert bhj.leftKeys().size() == 1 and bhj.rightKeys().size() == 1
    sizes = [
        int(n.metrics().get("dataSize").get().value())
        for n in nodes
        if n.nodeName() == "BroadcastExchange"
    ]
    assert len(sizes) == 1 and 0 < sizes[0] < 4 << 20, sizes


def _executed_nodes(df):
    """Every operator of ``df``'s executed plan, AQE query stages descended."""
    stack, out = [df._jdf.queryExecution().executedPlan()], []
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
        else:
            out.append(node)
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    return out
