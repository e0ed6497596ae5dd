"""Broadcastable packed polygon index — the engine's analogue of the
reference's prepared-geometry + spatial-index acceleration
(ogrlayer.cpp:2311-2320 prepared geoms; .qix quadtree shptree.c:80).

A :class:`PolygonSet` packs N polygons into flat NumPy arrays (coords +
ring offsets + per-polygon ring spans + envelopes) so the whole dimension
table serializes once into the closure of a pandas UDF / Spark broadcast
and refines point batches with zero per-row Python.

The filter-refine contract matches ``OGRLayer::FilterGeometry``
(ogrlayer.cpp:2253-2325): envelope reject → (cell-level full-containment
accept, our addition for scale) → exact ray-cast refine.
"""

from __future__ import annotations

import numpy as np

from gdal_spark.geometry import kernels, wkb
from gdal_spark import tiling


class PolygonSet:
    """Packed set of polygons addressable by dense index 0..N-1."""

    def __init__(self, ids, coords, ring_starts, ring_counts, poly_ring_start, poly_ring_count):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.coords = coords  # (total_pts, 2) float64
        self.ring_starts = ring_starts  # per ring: start offset into coords
        self.ring_counts = ring_counts  # per ring: number of points
        self.poly_ring_start = poly_ring_start  # per poly: first ring index
        self.poly_ring_count = poly_ring_count  # per poly: number of rings
        # envelopes: (N, 4) minx miny maxx maxy
        env = np.empty((len(ids), 4), dtype=np.float64)
        for i in range(len(ids)):
            rs = self._rings(i)
            env[i] = kernels.envelope(rs)
        self.env = env
        self._covers: dict[int, tuple] = {}  # zoom -> tile_cover(zoom)

    def __getstate__(self):
        # the cover memo stays with the driver's object: pickled closures
        # (the refine UDF) would otherwise ship every cover computed so far
        return {**self.__dict__, "_covers": {}}

    # -- construction --------------------------------------------------

    @classmethod
    def from_wkb(cls, ids, blobs) -> "PolygonSet":
        coords_list, ring_starts, ring_counts = [], [], []
        poly_ring_start, poly_ring_count = [], []
        off = 0
        for blob in blobs:
            rings = wkb.polygon_rings(bytes(blob))
            poly_ring_start.append(len(ring_starts))
            poly_ring_count.append(len(rings))
            for r in rings:
                ring_starts.append(off)
                ring_counts.append(len(r))
                coords_list.append(np.asarray(r, dtype=np.float64))
                off += len(r)
        coords = np.vstack(coords_list) if coords_list else np.zeros((0, 2))
        return cls(
            ids,
            coords,
            np.asarray(ring_starts, dtype=np.int64),
            np.asarray(ring_counts, dtype=np.int64),
            np.asarray(poly_ring_start, dtype=np.int64),
            np.asarray(poly_ring_count, dtype=np.int64),
        )

    @classmethod
    def from_coords(cls, ids, polys) -> "PolygonSet":
        """polys: list of list-of-rings, each ring an (N,2) array (closed)."""
        blobs = [wkb.polygon_wkb(p[0], p[1:]) for p in polys]
        return cls.from_wkb(ids, blobs)

    def _rings(self, i: int) -> list[np.ndarray]:
        out = []
        for r in range(self.poly_ring_start[i], self.poly_ring_start[i] + self.poly_ring_count[i]):
            s, c = self.ring_starts[r], self.ring_counts[r]
            out.append(self.coords[s : s + c])
        return out

    def __len__(self) -> int:
        return len(self.ids)

    # -- refine --------------------------------------------------------

    def contains(self, px, py, poly_idx) -> np.ndarray:
        """Exact containment for (point_i, candidate_poly_idx_i) pairs.

        Envelope prefilter then ray-cast, grouped by polygon so each
        polygon's rings are tested against all its candidate points in one
        vectorized pass.
        """
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        poly_idx = np.asarray(poly_idx, dtype=np.int64)
        out = np.zeros(len(px), dtype=bool)
        if len(px) == 0:
            return out
        e = self.env[poly_idx]
        alive = (px >= e[:, 0]) & (px <= e[:, 2]) & (py >= e[:, 1]) & (py <= e[:, 3])
        idx_alive = np.nonzero(alive)[0]
        if len(idx_alive) == 0:
            return out
        order = idx_alive[np.argsort(poly_idx[idx_alive], kind="stable")]
        sorted_pidx = poly_idx[order]
        bounds = np.nonzero(np.diff(sorted_pidx))[0] + 1
        for grp in np.split(order, bounds):
            pi = int(poly_idx[grp[0]])
            out[grp] = kernels.points_in_polygon_np(px[grp], py[grp], self._rings(pi))
        return out

    # -- cell cover ------------------------------------------------------

    def tile_cover(self, z: int):
        """Cover every polygon with zoom-z WebMercator tiles.

        Memoized per zoom: the cover depends on nothing but the polygons
        and ``z``, so a second call returns the first call's arrays, made
        read-only. Only joining one ``PolygonSet`` object again gains.

        Returns int64 arrays (poly_idx, tx, ty, full): per polygon, in
        row-major (ty, tx) order, each tile of its bbox tile range that a
        ring segment touches or whose centre is inside. ``full=1`` marks
        tiles no segment touches: wholly inside, their points are accepted
        without refinement (the scale lever: interior cells skip the UDF).

        Each segment is paired only with the tiles of its own bbox range,
        padded by one tile (``tile_indices_np`` adds EPSILON; the rect test
        is closed), and ``segments_intersect_rect_np`` runs once over all
        pairs, so cost ∝ segment-tile crossings (for a long diagonal
        segment, its bbox tiles). Only pairs the test rejects are left out,
        and the rect floats and predicate are those of testing every
        segment against every bbox tile, so the rows equal that loop's.

        Coordinates are mercator meters; convert lon/lat rings first.
        """
        if z not in self._covers:
            cover = self._tile_cover(z)
            for a in cover:
                a.flags.writeable = False
            self._covers[z] = cover
        return self._covers[z]

    def _tile_cover(self, z: int):
        span = tiling.WORLD_SPAN / (1 << z)
        P, X, Y, F = [], [], [], []
        for i, (minx, miny, maxx, maxy) in enumerate(self.env):
            rings = self._rings(i)
            (tx0, tx1), (ty1, ty0) = tiling.tile_indices_np([minx, maxx], [miny, maxy], z)
            nx, ny = tx1 - tx0 + 1, ty1 - ty0 + 1
            gx, gy = (g.ravel() for g in np.meshgrid(np.arange(tx0, tx1 + 1), np.arange(ty0, ty1 + 1)))
            # tile rectangles in mercator meters
            rx0, ry1 = -tiling.ORIGIN + gx * span, tiling.ORIGIN - gy * span
            rx1, ry0 = rx0 + span, ry1 - span
            # each segment's padded tile range (bbox-local), then one pair per tile in it
            ax, ay, bx, by = np.vstack([np.hstack([r[:-1], r[1:]]) for r in rings]).T
            sx, sy = tiling.tile_indices_np(np.minimum(ax, bx), np.maximum(ay, by), z)
            ex, ey = tiling.tile_indices_np(np.maximum(ax, bx), np.minimum(ay, by), z)
            sx, sy = np.maximum(sx - 1 - tx0, 0), np.maximum(sy - 1 - ty0, 0)
            cx = np.minimum(ex + 1 - tx0, nx - 1) - sx + 1
            cnt = cx * (np.minimum(ey + 1 - ty0, ny - 1) - sy + 1)
            k = np.repeat(np.arange(len(cnt)), cnt)
            j = np.arange(len(k)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
            t = (sy[k] + j // cx[k]) * nx + sx[k] + j % cx[k]
            hit = kernels.segments_intersect_rect_np(ax[k], ay[k], bx[k], by[k], rx0[t], ry0[t], rx1[t], ry1[t])
            crossed = np.bincount(t[hit], minlength=len(gx)) > 0
            center_in = kernels.points_in_polygon_np((rx0 + rx1) * 0.5, (ry0 + ry1) * 0.5, rings)
            keep = crossed | center_in
            full = center_in & ~crossed
            P.append(np.full(int(keep.sum()), i, dtype=np.int64))
            X.append(gx[keep])
            Y.append(gy[keep])
            F.append(full[keep].astype(np.int64))
        return tuple(np.concatenate(a) if a else np.zeros(0, np.int64) for a in (P, X, Y, F))

    # -- misc ------------------------------------------------------------

    def areas(self) -> np.ndarray:
        return np.array([kernels.polygon_area(self._rings(i)) for i in range(len(self.ids))])

