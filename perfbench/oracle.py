"""Correctness checks made apart from the engine.

Nothing here imports ``gdal_spark``: the geotag parse, the mercator
projection, the z-tile formula and the ray-cast are written again from
their definitions (the page's ``geo.position`` meta tag, spherical
mercator, GetTileIndices with its 1e-3 epsilon, even-odd ray casting),
and the kNN reference is a NumPy brute force. The checks take the
engine's output as an Arrow table, so the self-test can hand them a
corrupted copy and see them refuse it.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ORIGIN = math.pi * 6378137.0  # half the EPSG:3857 world span, in metres
TILE_EPS = 1e-3  # GetTileIndices epsilon, in tiles
GEO_TAG = r'<meta name="geo\.position" content="(?P<lat>-?\d+\.\d+);(?P<lon>-?\d+\.\d+)"'


class CheckError(AssertionError):
    """An engine output that is not what the method must produce."""


def require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckError(what)


# -- pages → tiles → point-in-polygon ----------------------------------------


def geotags(html: pa.ChunkedArray) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) parsed from each page's geo.position tag; NaN when absent."""
    parts = pc.extract_regex(html.cast(pa.string()), GEO_TAG)
    lat = pc.cast(pc.struct_field(parts, "lat"), pa.float64())
    lon = pc.cast(pc.struct_field(parts, "lon"), pa.float64())
    return (
        lon.to_numpy(zero_copy_only=False).astype(np.float64),
        lat.to_numpy(zero_copy_only=False).astype(np.float64),
    )


def mercator(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    x = lon * ORIGIN / 180.0
    y = np.log(np.tan((90.0 + lat) * (math.pi / 360.0))) / math.pi * ORIGIN
    return x, y


def tiles(mx: np.ndarray, my: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    n = 1 << z
    span = 2.0 * ORIGIN / n
    tx = np.clip(np.floor((mx + ORIGIN) / span + TILE_EPS), 0, n - 1)
    ty = np.clip(np.floor((ORIGIN - my) / span + TILE_EPS), 0, n - 1)
    return tx.astype(np.int64), ty.astype(np.int64)


def in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd test: a +x ray from the point crosses an edge whose ends lie
    on either side of the point's y (half-open at the upper end)."""
    inside = np.zeros(len(px), dtype=bool)
    for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
        straddle = (ay > py) != (by > py)
        if not straddle.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at = ax + (py - ay) * (bx - ax) / (by - ay)
        inside ^= straddle & (px < x_at)
    return inside


def envelopes(rings: list) -> np.ndarray:
    """(minx, miny, maxx, maxy) of each polygon's exterior ring."""
    return np.array([[r[0][:, 0].min(), r[0][:, 1].min(), r[0][:, 0].max(), r[0][:, 1].max()] for r in rings])


def pip_tile_counts(html: pa.ChunkedArray, ids: list, rings: list, z: int) -> pa.Table:
    """(poly_id, tile_x, tile_y, n) for every page inside every polygon."""
    lon, lat = geotags(html)
    ok = ~(np.isnan(lon) | np.isnan(lat))
    mx, my = mercator(lon[ok], lat[ok])
    tx, ty = tiles(mx, my, z)
    env = envelopes(rings)
    pid, kx, ky = [], [], []
    for p, poly in enumerate(rings):
        e = env[p]
        idx = np.nonzero((mx >= e[0]) & (mx <= e[2]) & (my >= e[1]) & (my <= e[3]))[0]
        hit = in_ring(mx[idx], my[idx], poly[0])
        for hole in poly[1:]:
            hit &= ~in_ring(mx[idx], my[idx], hole)
        idx = idx[hit]
        pid.append(np.full(len(idx), ids[p], dtype=np.int64))
        kx.append(tx[idx])
        ky.append(ty[idx])
    keys = np.stack([np.concatenate(pid), np.concatenate(kx), np.concatenate(ky)], axis=1)
    uniq, n = np.unique(keys, axis=0, return_counts=True)
    return pa.table({"poly_id": uniq[:, 0], "tile_x": uniq[:, 1], "tile_y": uniq[:, 2], "n": n.astype(np.int64)})


def _sorted_counts(t: pa.Table) -> pa.Table:
    t = t.select(["poly_id", "tile_x", "tile_y", "n"]).cast(
        pa.schema([(c, pa.int64()) for c in ("poly_id", "tile_x", "tile_y", "n")])
    )
    return t.sort_by([("poly_id", "ascending"), ("tile_x", "ascending"), ("tile_y", "ascending")])


def counts_digest(t: pa.Table) -> str:
    s = _sorted_counts(t)
    h = hashlib.sha256()
    for c in s.columns:
        h.update(c.to_numpy().tobytes())
    return h.hexdigest()


def check_pip_properties(t: pa.Table, ids: list, rings: list, z: int) -> None:
    """Tiles in [0, 2^z), each inside its polygon's envelope, counts > 0."""
    require(t.num_rows > 0, "empty result")
    s = _sorted_counts(t)
    pid, tx, ty, n = (s[c].to_numpy() for c in ("poly_id", "tile_x", "tile_y", "n"))
    lim = 1 << z
    require(((tx >= 0) & (tx < lim) & (ty >= 0) & (ty < lim)).all(), "tile outside [0, 2^z)")
    require((n > 0).all(), "non-positive count")
    keys = np.stack([pid, tx, ty], axis=1)
    require(len(np.unique(keys, axis=0)) == len(keys), "duplicate (poly_id, tile_x, tile_y)")
    pos = {p: i for i, p in enumerate(ids)}
    require(all(p in pos for p in np.unique(pid)), "unknown poly_id")
    env = envelopes(rings)[[pos[p] for p in pid]]
    span = 2.0 * ORIGIN / lim
    x0 = -ORIGIN + tx * span
    y1 = ORIGIN - ty * span
    # the tile rectangle (widened by the epsilon sliver) meets the envelope
    pad = TILE_EPS * span
    meets = (x0 - pad <= env[:, 2]) & (x0 + span >= env[:, 0]) & (y1 + pad >= env[:, 1]) & (y1 - span <= env[:, 3])
    require(meets.all(), "tile outside its polygon's envelope")


def check_pip_equal(got: pa.Table, expected: pa.Table) -> None:
    g, e = _sorted_counts(got), _sorted_counts(expected)
    require(g.num_rows == e.num_rows, f"{g.num_rows} count rows, oracle has {e.num_rows}")
    require(g.equals(e), "counts differ from the oracle")


# -- sharded commit ------------------------------------------------------------


def read_pairs(path: str) -> pa.Table:
    """(url, text) of a parquet directory tree, read by pyarrow, sorted by url."""
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
    require(bool(files), f"no parquet files under {path}")
    t = pa.concat_tables([pq.read_table(f, columns=["url", "text"]) for f in files])
    return t.sort_by([("url", "ascending")])


def check_pairs_equal(got: pa.Table, source: pa.Table) -> None:
    """Byte identity of every (url, text) pair, and no pair lost or added."""
    require(got.num_rows == source.num_rows, f"{got.num_rows} rows committed, source has {source.num_rows}")
    require(got["url"].equals(source["url"]), "url set differs from the source")
    require(got["text"].equals(source["text"]), "text bytes differ from the source")


def check_manifests(manifests: list[dict], n_shards: int, shard_rows: dict, n_rows: int) -> None:
    require(len(manifests) == n_shards, f"{len(manifests)} manifests for {n_shards} shards")
    require(sorted(m["shard"] for m in manifests) == list(range(n_shards)), "manifest shard ids")
    for m in manifests:
        require(m["row_count"] == shard_rows.get(m["shard"], 0), f"manifest row count of shard {m['shard']}")
    require(sum(m["row_count"] for m in manifests) == n_rows, "manifest row counts do not sum to the input")


# -- kNN -------------------------------------------------------------------------


def knn_bruteforce(qid, qx, qy, nid, nx, ny, k: int) -> dict:
    """{qid: [(nid, rank, dist_mm)]} with ties broken by (d², nid)."""
    out = {}
    for i in range(len(qid)):
        dx = qx[i] - nx
        dy = qy[i] - ny
        d2 = dx * dx + dy * dy
        near = np.nonzero(d2 <= np.partition(d2, k - 1)[k - 1])[0]  # the k nearest and their ties
        order = near[np.lexsort((nid[near], d2[near]))][:k]
        out[int(qid[i])] = [
            (int(nid[j]), r + 1, int(round(math.sqrt(d2[j]) * 1000.0))) for r, j in enumerate(order)
        ]
    return out


def check_knn_properties(t: pa.Table, k: int, qids: np.ndarray) -> None:
    """Exactly k rows per query, ranks 1..k, dist not decreasing with rank."""
    s = t.sort_by([("qid", "ascending"), ("rank", "ascending")])
    q, r, d = (s[c].to_numpy() for c in ("qid", "rank", "dist"))
    require(len(q) == k * len(qids), f"{len(q)} rows for {len(qids)} queries at k={k}")
    require(np.array_equal(q.reshape(-1, k)[:, 0], np.sort(qids)), "query set differs")
    require((q.reshape(-1, k) == q.reshape(-1, k)[:, :1]).all(), "not k rows per query")
    require((r.reshape(-1, k) == np.arange(1, k + 1)).all(), "ranks are not 1..k")
    require((np.diff(d.reshape(-1, k), axis=1) >= 0).all(), "dist decreases with rank")


def check_knn_sample(t: pa.Table, expected: dict) -> None:
    sample = pa.array(list(expected), pa.int64())
    s = t.filter(pc.is_in(t["qid"], value_set=sample)).sort_by([("qid", "ascending"), ("rank", "ascending")])
    got: dict = {}
    for q, n, r, d in zip(*(s[c].to_pylist() for c in ("qid", "nid", "rank", "dist"))):
        got.setdefault(q, []).append((n, r, int(round(d * 1000.0))))
    for q, want in expected.items():
        require(got.get(q) == want, f"neighbours of query {q} differ from brute force")
