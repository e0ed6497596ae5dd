"""Self-test of the benchmark at toy size (about a minute).

    python3 perfbench/selftest.py

For each workload it runs one operation and shows that the checks pass
on the engine's real output and refuse a corrupted copy of it (a dropped
row, a count off by one, a swapped neighbour, a changed text byte, a
pruned plan). It then runs one traced operation and compares the counts
read from Spark's records with counts made by hand on the same input.
Exits 1 if anything does not hold.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import run  # noqa: F401 - puts the checkout root on sys.path
import oracle
import records
import workloads as W
from oracle import CheckError

FAILED: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        FAILED.append(what)


def refuses(fn, *args) -> bool:
    try:
        fn(*args)
    except CheckError:
        return True
    return False


def passes(fn, *args) -> bool:
    return not refuses(fn, *args)


def toy_sizes() -> None:
    W.N_PAGES, W.N_POLY, W.N_SHARDS = 3_000, 20, 2
    W.N_NEIGHBOURS, W.N_QUERIES, W.KNN_SAMPLE = 5_000, 50, 50
    W.PagesWorkload.rows = W.N_PAGES
    W.KnnKring.rows = W.N_QUERIES


def pip(spark, work: str) -> None:
    wl = W.PagesPipTiles(spark, work, seed=3)
    wl.build()
    wl.prepare()
    out = wl.op()
    expect(passes(wl.check, out), "pip: checks pass on the engine's output")
    expect(passes(wl.final_check), "pip: counts equal the NumPy oracle")
    tbl = out[1]
    html = pq.read_table(wl.src, columns=["html"])["html"]
    want = oracle.pip_tile_counts(html, wl.ids, wl.rings, W.TILE_ZOOM)
    expect(refuses(oracle.check_pip_equal, tbl.slice(1), want), "pip: a dropped row is refused")
    n = tbl["n"].to_numpy().copy()
    n[0] += 1
    bumped = tbl.set_column(tbl.schema.get_field_index("n"), "n", pa.array(n))
    expect(refuses(oracle.check_pip_equal, bumped, want), "pip: a count off by one is refused")
    expect(refuses(wl.check, (out[0], bumped)), "pip: a changed digest is refused")
    pruned = W.point_in_polygon_join(wl.tiled(), wl.polys).groupBy("poly_id").count()
    expect(refuses(wl.check, (pruned, tbl)), "pip: a plan without tile_x/tile_y is refused")

    _, s = wl.trace_op()
    lon, lat = oracle.geotags(html)
    mx, my = oracle.mercator(lon, lat)
    cx, cy = oracle.tiles(mx, my, 7)  # the join's default cover zoom
    pidx, tx, ty, _ = wl.polys.tile_cover(7)
    per_cell = {}
    for key in zip(cx.tolist(), cy.tolist()):
        per_cell[key] = per_cell.get(key, 0) + 1
    cand = sum(per_cell.get(key, 0) for key in zip(tx.tolist(), ty.tolist()))
    hits = int(pc.sum(want["n"]).as_py())
    expect(s["spatial_join.candidates"] == cand, f"pip: candidates {s['spatial_join.candidates']} == hand count {cand}")
    expect(
        abs(s["spatial_join.hit_ratio"] - hits / cand) < 1e-12,
        f"pip: hit ratio {s['spatial_join.hit_ratio']:.6f} == {hits}/{cand}",
    )
    expect(s["index.cover_rows"] == len(pidx), f"pip: cover rows {s['index.cover_rows']} == {len(pidx)}")
    for k in ("spatial_join.broadcast_bytes", "spatial_join.refine_bytes_sent", "aggregate.shuffle_bytes"):
        expect(s[k] > 0, f"pip: {k} = {s[k]} is read")


def commit(spark, work: str) -> None:
    wl = W.PagesShardCommit(spark, work, seed=3)
    wl.build()
    wl.prepare()
    out = wl.op()
    root = out[0]
    got = oracle.read_pairs(os.path.join(root, "data"))
    source = oracle.read_pairs(wl.src)
    expect(passes(oracle.check_pairs_equal, got, source), "commit: committed pairs equal the source")
    expect(refuses(oracle.check_pairs_equal, got.slice(1), source), "commit: a dropped row is refused")
    text = got["text"].to_pylist()
    text[7] = text[7][:-1] + ("X" if text[7][-1] != "X" else "Y")
    changed = got.set_column(1, "text", pa.array(text))
    expect(refuses(oracle.check_pairs_equal, changed, source), "commit: a changed text byte is refused")
    rows = {k: 10 for k in range(W.N_SHARDS)}
    fake = [{"shard": k, "row_count": 10} for k in range(W.N_SHARDS)]
    expect(refuses(oracle.check_manifests, fake[:-1], W.N_SHARDS, rows, 10 * W.N_SHARDS), "commit: a missing manifest is refused")
    expect(refuses(oracle.check_manifests, fake, W.N_SHARDS, rows, 10 * W.N_SHARDS + 1), "commit: a row-count sum off by one is refused")
    expect(passes(wl.check, out), "commit: checks pass on the engine's output")

    (root, _, _), s = wl.trace_op()
    files = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(root, "data")) for f in fs if f.endswith(".parquet")]
    on_disk = sum(os.path.getsize(f) for f in files)
    expect(s["checkpoint.files_written"] == len(files), f"commit: files written {s['checkpoint.files_written']} == {len(files)}")
    expect(s["checkpoint.bytes_written"] == on_disk, f"commit: bytes written {s['checkpoint.bytes_written']} == {on_disk} on disk")
    expect(s["checkpoint.source_passes"] == W.N_SHARDS, f"commit: source passes {s['checkpoint.source_passes']} == one per shard")
    shutil.rmtree(root)


def knn_candidates_by_hand(wl) -> float:
    """Candidate pairs of knn_join's rounds (radius 1, 2, 4, 8), made in NumPy."""
    z = W.KNN_ZOOM
    span = 2.0 * oracle.ORIGIN / (1 << z)
    qx, qy = wl.q["x"].to_numpy(), wl.q["y"].to_numpy()
    nx, ny = wl.nb["x"].to_numpy(), wl.nb["y"].to_numpy()
    qcx, qcy = oracle.tiles(qx, qy, z)
    ncx, ncy = oracle.tiles(nx, ny, z)
    pending, total, r = np.arange(len(qx)), 0, 1
    for round_i in range(4):
        still = []
        for i in pending:
            near = (np.abs(ncx - qcx[i]) <= r) & (np.abs(ncy - qcy[i]) <= r)
            total += int(near.sum())
            d = np.sort(np.hypot(nx[near] - qx[i], ny[near] - qy[i]))[: W.K]
            if round_i < 3 and not (len(d) >= W.K and d[-1] <= r * span):
                still.append(i)
        pending, r = still, r * 2
        if not pending:
            break
    return total / len(qx)


def knn(spark, work: str) -> None:
    wl = W.KnnKring(spark, work, seed=3)
    wl.build()
    wl.prepare()
    tbl = wl.op()
    expect(passes(wl.check, tbl), "knn: checks pass on the engine's output")
    expect(refuses(wl.check, tbl.slice(1)), "knn: a dropped row is refused")
    s_ = tbl.sort_by([("qid", "ascending"), ("rank", "ascending")])
    nid = s_["nid"].to_numpy().copy()
    nid[0], nid[1] = nid[1], nid[0]
    swapped = s_.set_column(s_.schema.get_field_index("nid"), "nid", pa.array(nid))
    expect(refuses(wl.check, swapped), "knn: a swapped neighbour is refused")

    _, s = wl.trace_op()
    want = knn_candidates_by_hand(wl)
    expect(
        abs(s["knn.candidates_per_query"] - want) < 1e-9,
        f"knn: candidates per query {s['knn.candidates_per_query']} == hand count {want}",
    )
    expect(s["knn.shuffle_bytes"] > 0, f"knn: shuffle bytes {s['knn.shuffle_bytes']} are read")


def main() -> int:
    from gdal_spark.session import get_spark

    toy_sizes()
    work = os.path.join(run.HERE, ".work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    spark = get_spark("perfbench-selftest", f"local[{run.SLOTS}]", run.SHUFFLE_PARTITIONS, run.isolate(work))
    try:
        spark.sparkContext.setLogLevel("ERROR")
        with records.JobGroup(spark, "one") as g:
            spark.range(10).collect()
        expect(len(g.job_ids) == 1, f"records: one collect is {len(g.job_ids)} job")
        pip(spark, work)
        commit(spark, work)
        knn(spark, work)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"{len(FAILED)} failed", flush=True)
    return 1 if FAILED else 0


if __name__ == "__main__":
    sys.exit(main())
