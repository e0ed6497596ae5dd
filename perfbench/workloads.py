"""The benchmark's three workloads, driven through the engine's public
functions only.

Each workload builds its seeded inputs (``build``), runs one operation
(``op``), checks one operation's output (``check``), and, for the traced
run, runs one operation with every layer timed and counted
(``trace_op``). ``layers`` turns the medians of the traced samples into
the per-layer metrics named in BENCHMARK.json.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gdal_spark.checkpoint import run_sharded
from gdal_spark.fixtures import fixture_polygons
from gdal_spark.geometry.index import PolygonSet
from gdal_spark.lineage import global_fingerprint
from gdal_spark.operators.knn import knn_join
from gdal_spark.operators.spatial_join import assign_tiles, point_in_polygon_join
from gdal_spark.pages import extract_geotags, pages_columns

import oracle
import records
from oracle import require

FILES = 6  # parquet files per input table
ID_STRIDE = 10_000_000  # seed s reads page ids [s * ID_STRIDE, s * ID_STRIDE + N_PAGES)
N_PAGES = 60_000
N_POLY = 200
TILE_ZOOM = 12
N_SHARDS = 4
KNN_ZOOM = 8  # knn_join's default cell zoom
KNN_CELLS = 48  # neighbours fill a square of 48 x 48 zoom-8 cells
KNN_MARGIN = 4  # queries keep 4 cells away from the square's edges
N_NEIGHBOURS = 7_000  # about 3 per cell: most queries need ring 2, none ring 4
N_QUERIES = 2_000
K = 8
KNN_SAMPLE = 100  # queries checked against the brute force on every op


def clock(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def noop(df) -> None:
    """Run every column of ``df`` to its end and keep nothing."""
    df.write.format("noop").mode("overwrite").save()


def med(samples: dict, key: str) -> float:
    return float(np.median(samples[key]))


def square_points(rng, n: int, id_name: str, margin: int) -> pa.Table:
    """n points uniform in mercator metres over the kNN cell square, less a
    margin of cells on every side."""
    span = 2.0 * oracle.ORIGIN / (1 << KNN_ZOOM)
    lo, hi = margin * span, (KNN_CELLS - margin) * span
    x, y = rng.uniform(lo, hi, n), rng.uniform(lo, hi, n)
    return pa.table({id_name: np.arange(n, dtype=np.int64), "x": x, "y": y})


class TimedPolygonSet(PolygonSet):
    """A PolygonSet whose ``tile_cover`` records its wall time and rows."""

    def __init__(self, base: PolygonSet):
        self.__dict__.update(base.__dict__)
        self.cover_s: list[float] = []
        self.cover_rows: list[int] = []

    def tile_cover(self, z: int):
        out, s = clock(super().tile_cover, z)
        self.cover_s.append(s)
        self.cover_rows.append(len(out[0]))
        return out


class Workload:
    name = ""
    rows = 0  # input rows of one operation

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    _dir_ids = itertools.count(1)

    def fresh_dir(self, stem: str) -> str:
        return os.path.join(self.work, f"{stem}-{next(self._dir_ids)}")

    def op_counters(self, samples: dict, groups: list, t0: tuple) -> None:
        """Jobs, GC seconds and failed tasks of one traced operation."""
        samples["op.spark_jobs"] = sum(len(g.job_ids) for g in groups)
        samples["op.gc_s"] = records.gc_seconds(self.spark) - t0[0]
        samples["op.failed_tasks"] = records.failed_tasks(self.spark) - t0[1]

    def counters_now(self) -> tuple:
        return records.gc_seconds(self.spark), records.failed_tasks(self.spark)

    def final_check(self) -> None:
        """Checks made once per run, after the timed operations."""


class PagesWorkload(Workload):
    """A workload fed from the materialized pages table."""

    rows = N_PAGES

    def build(self) -> None:
        self.src = self.fresh_dir("pages")
        ids = self.spark.range(0, N_PAGES, 1, FILES)
        ids.select(pages_columns(F.col("id") + F.lit(self.seed * ID_STRIDE))).write.parquet(self.src)

    def tiled(self):
        return assign_tiles(extract_geotags(self.spark.read.parquet(self.src)), TILE_ZOOM)


class PagesPipTiles(PagesWorkload):
    """scan → extract_geotags → assign_tiles z12 → PIP join → counts."""

    name = "pages_pip_tiles"

    def prepare(self) -> None:
        self.ids, self.rings = fixture_polygons(N_POLY)  # one fixed polygon layer for every seed
        self.polys = PolygonSet.from_coords(self.ids, self.rings)
        self.first = None

    def counts(self, polys):
        joined = point_in_polygon_join(self.tiled(), polys)
        df = joined.groupBy("poly_id", "tile_x", "tile_y").agg(F.count(F.lit(1)).alias("n"))
        return df, df.toArrow()

    def op(self):
        return self.counts(self.polys)

    def check(self, out) -> None:
        df, tbl = out
        nodes = records.plan_nodes(df)
        tiles_kept = any(
            {"tile_x", "tile_y"} <= set(records.output_names(n)) for n in records.nodes_named(nodes, "Project")
        )
        refine = records.nodes_named(nodes, "ArrowEvalPython")
        require(tiles_kept, "the executed plan no longer computes tile_x/tile_y")
        require(bool(refine) and records.metric(refine[0], "pythonNumRowsReceived") > 0, "refine did not run")
        oracle.check_pip_properties(tbl, self.ids, self.rings, TILE_ZOOM)
        if self.first is None:
            self.first, self.digest = tbl, oracle.counts_digest(tbl)
        require(oracle.counts_digest(tbl) == self.digest, "result digest changed between operations")

    def final_check(self) -> None:
        require(self.first is not None, "no operation produced a result")
        html = pq.read_table(self.src, columns=["html"])["html"]
        oracle.check_pip_equal(self.first, oracle.pip_tile_counts(html, self.ids, self.rings, TILE_ZOOM))

    def trace_op(self):
        read = self.spark.read.parquet
        polys = TimedPolygonSet(self.polys)
        s: dict = {}
        _, s["prefix.scan"] = clock(lambda: noop(read(self.src).select("html")))
        _, s["prefix.extract"] = clock(lambda: noop(extract_geotags(read(self.src)).select("lat", "lon")))
        _, s["prefix.tiles"] = clock(lambda: noop(self.tiled().select("tile_x", "tile_y", "lat", "lon")))
        _, s["prefix.join"] = clock(
            lambda: noop(point_in_polygon_join(self.tiled(), polys).select("poly_id", "tile_x", "tile_y"))
        )
        t0 = self.counters_now()
        with records.JobGroup(self.spark, "op") as g:
            out, s["op_s"] = clock(self.counts, polys)
        self.op_counters(s, [g], t0)
        s["index.cover_s"] = polys.cover_s
        s["index.cover_rows"] = polys.cover_rows[-1]
        nodes = records.plan_nodes(out[0])
        cand = sum(records.metric(n, "numOutputRows") for n in records.nodes_named(nodes, "BroadcastHashJoin"))
        hits = sum(
            records.metric(n, "numOutputRows")
            for n in records.nodes_named(nodes, "Filter")
            if records.first_real_child(n).nodeName().startswith("ArrowEvalPython")
        )
        s["spatial_join.broadcast_bytes"] = sum(
            records.metric(n, "dataSize") for n in records.nodes_named(nodes, "BroadcastExchange")
        )
        s["spatial_join.candidates"] = cand
        s["spatial_join.hit_ratio"] = hits / cand if cand else 0.0
        s["spatial_join.refine_bytes_sent"] = sum(
            records.metric(n, "pythonDataSent") for n in records.nodes_named(nodes, "ArrowEvalPython")
        )
        s["aggregate.shuffle_bytes"] = sum(
            records.metric(n, "shuffleBytesWritten") for n in records.nodes_named(nodes, "Exchange")
        )
        return out, s

    def layers(self, s: dict) -> dict:
        scan, ext, tl = med(s, "prefix.scan"), med(s, "prefix.extract"), med(s, "prefix.tiles")
        join, cover = med(s, "prefix.join"), med(s, "index.cover_s")
        return {
            "scan.s": scan,
            "pages.extract_s": ext - scan,
            "tiling.assign_s": tl - ext,
            "index.cover_s": cover,
            "index.cover_rows": med(s, "index.cover_rows"),
            "spatial_join.broadcast_bytes": med(s, "spatial_join.broadcast_bytes"),
            "spatial_join.candidates": med(s, "spatial_join.candidates"),
            "spatial_join.hit_ratio": med(s, "spatial_join.hit_ratio"),
            "spatial_join.refine_s": join - tl - cover,
            "spatial_join.refine_bytes_sent": med(s, "spatial_join.refine_bytes_sent"),
            "aggregate.s": med(s, "op_s") - join,
            "aggregate.shuffle_bytes": med(s, "aggregate.shuffle_bytes"),
        }


class PagesShardCommit(PagesWorkload):
    """scan → extract_geotags → assign_tiles → run_sharded, then lineage."""

    name = "pages_shard_commit"

    def prepare(self) -> None:
        self.source = None

    def commit(self, root: str):
        summary = run_sharded(self.tiled(), root, N_SHARDS)
        fp = global_fingerprint(self.spark.read.parquet(os.path.join(root, "data")))
        return root, summary, fp

    def op(self):
        return self.commit(self.fresh_dir("commit"))

    def check(self, out) -> None:
        root, summary, fp = out
        try:
            if self.source is None:
                self.source = oracle.read_pairs(self.src)
                self.source_fp = global_fingerprint(self.spark.read.parquet(self.src))
            require(summary == {"ran": N_SHARDS, "skipped": 0, "rows_written": N_PAGES}, f"summary {summary}")
            require(fp == self.source_fp, "global fingerprint changed between source and commit")
            manifests = []
            for path in sorted(glob.glob(os.path.join(root, "manifests", "*.json"))):
                with open(path) as f:
                    manifests.append(json.load(f))
            shard_rows = {
                k: sum(
                    pq.ParquetFile(p).metadata.num_rows
                    for p in glob.glob(os.path.join(root, "data", f"shard={k}", "*.parquet"))
                )
                for k in range(N_SHARDS)
            }
            oracle.check_manifests(manifests, N_SHARDS, shard_rows, N_PAGES)
            oracle.check_pairs_equal(oracle.read_pairs(os.path.join(root, "data")), self.source)
            again = run_sharded(self.tiled(), root, N_SHARDS)
            require(again["ran"] == 0, f"a second run_sharded on a committed root ran {again['ran']} shards")
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def trace_op(self):
        read = self.spark.read.parquet
        s: dict = {}
        with records.JobGroup(self.spark, "scan") as g_scan:
            _, s["prefix.scan"] = clock(lambda: noop(read(self.src)))
        _, s["prefix.extract"] = clock(lambda: noop(extract_geotags(read(self.src))))
        _, s["prefix.tiles"] = clock(lambda: noop(self.tiled()))
        root = self.fresh_dir("commit")
        t0 = self.counters_now()
        start = time.perf_counter()
        with records.JobGroup(self.spark, "run_sharded") as g_rs:
            summary, s["checkpoint.run_sharded_s"] = clock(run_sharded, self.tiled(), root, N_SHARDS)
        with records.JobGroup(self.spark, "fingerprint") as g_fp:
            fp, s["lineage.fingerprint_s"] = clock(
                global_fingerprint, self.spark.read.parquet(os.path.join(root, "data"))
            )
        s["op_s"] = time.perf_counter() - start
        self.op_counters(s, [g_rs, g_fp], t0)
        source_rows = sum(int(st.inputRecords()) for st in g_scan.stages())
        writes = [st for st in g_rs.stages() if int(st.outputRecords()) > 0]
        s["checkpoint.spark_jobs"] = len(g_rs.job_ids)
        s["checkpoint.source_passes"] = sum(int(st.inputRecords()) for st in writes) / source_rows
        s["checkpoint.bytes_written"] = sum(int(st.outputBytes()) for st in writes)
        s["checkpoint.files_written"] = len(glob.glob(os.path.join(root, "data", "*", "*.parquet")))
        return (root, summary, fp), s

    def layers(self, s: dict) -> dict:
        scan, ext, tl = med(s, "prefix.scan"), med(s, "prefix.extract"), med(s, "prefix.tiles")
        keys = (
            "checkpoint.run_sharded_s",
            "checkpoint.spark_jobs",
            "checkpoint.source_passes",
            "checkpoint.bytes_written",
            "checkpoint.files_written",
            "lineage.fingerprint_s",
        )
        return {"scan.s": scan, "pages.extract_s": ext - scan, "tiling.assign_s": tl - ext} | {
            k: med(s, k) for k in keys
        }


class KnnKring(Workload):
    """knn_join from query points to neighbour points (k-ring expansion)."""

    name = "knn_kring"
    rows = N_QUERIES

    def build(self) -> None:
        rng = np.random.default_rng(self.seed)
        self.nb = square_points(rng, N_NEIGHBOURS, "nid", 0)
        self.q = square_points(rng, N_QUERIES, "qid", KNN_MARGIN)
        self.src = self.fresh_dir("points")
        for stem, t in (("neighbours", self.nb), ("queries", self.q)):
            os.makedirs(os.path.join(self.src, stem))
            step = -(-t.num_rows // FILES)
            for i in range(FILES):
                pq.write_table(t.slice(i * step, step), os.path.join(self.src, stem, f"part-{i}.parquet"))

    def prepare(self) -> None:
        self.expected = None

    def inputs(self):
        read = self.spark.read.parquet
        return read(os.path.join(self.src, "queries")), read(os.path.join(self.src, "neighbours"))

    def op(self):
        res = knn_join(*self.inputs(), K)
        return res.toArrow()

    def check(self, tbl) -> None:
        if self.expected is None:
            pick = np.arange(0, N_QUERIES, N_QUERIES // KNN_SAMPLE)
            cols = [self.q[c].to_numpy()[pick] for c in ("qid", "x", "y")]
            cols += [self.nb[c].to_numpy() for c in ("nid", "x", "y")]
            self.expected = oracle.knn_bruteforce(*cols, K)
        oracle.check_knn_properties(tbl, K, self.q["qid"].to_numpy())
        oracle.check_knn_sample(tbl, self.expected)

    def trace_op(self):
        s: dict = {}
        q, nb = self.inputs()
        _, s["prefix.scan"] = clock(lambda: (noop(q), noop(nb)))
        t0 = self.counters_now()
        with records.JobGroup(self.spark, "knn_call") as g_call:
            res, s["knn.call_s"] = clock(knn_join, q, nb, K)
        with records.JobGroup(self.spark, "knn_action") as g_act:
            tbl, s["knn.action_s"] = clock(res.toArrow)
        s["op_s"] = s["knn.call_s"] + s["knn.action_s"]
        self.op_counters(s, [g_call, g_act], t0)
        s["knn.call_jobs"] = len(g_call.job_ids)
        joins = [
            n
            for n in records.plan_nodes(res)
            if n.nodeName() in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
            and n.joinType().toString() == "Inner"
        ]
        s["knn.candidates_per_query"] = sum(records.metric(n, "numOutputRows") for n in joins) / N_QUERIES
        s["knn.shuffle_bytes"] = g_call.stage_sum("shuffleWriteBytes") + g_act.stage_sum("shuffleWriteBytes")
        return tbl, s

    def layers(self, s: dict) -> dict:
        keys = ("knn.call_s", "knn.call_jobs", "knn.action_s", "knn.candidates_per_query", "knn.shuffle_bytes")
        return {"scan.s": med(s, "prefix.scan")} | {k: med(s, k) for k in keys}


WORKLOADS = {w.name: w for w in (PagesPipTiles, PagesShardCommit, KnnKring)}
