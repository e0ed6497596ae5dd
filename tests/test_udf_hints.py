"""Grouped-pandas functions carry type hints on every parameter or on none.

PySpark infers a grouped UDF's kind from its hints as soon as one is
present; with only some parameters hinted it cannot, and warns
``Cannot infer the eval type from type hints`` on every ``applyInPandas``
call.
"""
import ast
import os
import warnings

import numpy as np
import pandas as pd

from gdal_spark.geometry import wkt
from gdal_spark.operators.layer_algebra import dissolve
from gdal_spark.raster.grid import grid_linear, grid_points
from gdal_spark.raster.model import RasterMeta, tiles_from_array
from gdal_spark.raster.mosaic import mosaic
from gdal_spark.raster.polygonize import polygonize_polygons
from gdal_spark.raster.quantize import apply_pct, compute_median_cut_pct
from gdal_spark.raster.warp import warp_affine

ENGINE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "gdal_spark")


def _square(x0, y0, x1, y1):
    return bytearray(wkt.wkt_to_wkb(f"POLYGON (({x0} {y0},{x1} {y0},{x1} {y1},{x0} {y1},{x0} {y0}))"))


def test_grouped_pandas_operators_plan_without_hint_warnings(spark):
    rng = np.random.default_rng(3)
    meta = RasterMeta(width=16, height=12, dtype="float64", block_w=8, block_h=6,
                      gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    tiles = tiles_from_array(spark, rng.integers(0, 3, (12, 16)).astype(np.float64), meta)
    pts = spark.createDataFrame(pd.DataFrame(
        {"x": rng.uniform(0, 16, 40), "y": rng.uniform(0, 12, 40), "z": rng.uniform(0, 9, 40)}
    ))
    meta8 = RasterMeta(width=16, height=12, dtype="uint8", block_w=8, block_h=6)
    rgb = None
    for band in (1, 2, 3):
        t = tiles_from_array(spark, rng.integers(0, 256, (12, 16)).astype(np.uint8), meta8, band=band)
        rgb = t if rgb is None else rgb.unionByName(t)
    polys = spark.createDataFrame(
        [("a", _square(0, 0, 2, 2)), ("a", _square(1, 1, 3, 3))], "grp STRING, geometry BINARY"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        dissolve(polys, by=["grp"])
        warp_affine(tiles, meta, meta, alg="near")
        mosaic([(tiles, meta)], meta)
        grid_points(pts, meta, radius=4.0, min_points=1)
        grid_linear(pts, meta, radius=5.0, mode="tiled", margin_rings=1)
        apply_pct(rgb, meta8, compute_median_cut_pct(rgb, meta8, n_colors=4))
        polygonize_polygons(tiles, meta)


def test_no_function_passed_to_apply_in_pandas_is_partially_hinted():
    partial = []
    for d, _, files in os.walk(ENGINE):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            passed = {
                node.args[0].id
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "applyInPandas"
                and node.args
                and isinstance(node.args[0], ast.Name)
            }
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name in passed:
                    hinted = {a.annotation is not None for a in node.args.args}
                    if len(hinted) > 1:
                        partial.append(f"{os.path.relpath(path, ENGINE)}:{node.lineno} {node.name}")
    assert partial == []
