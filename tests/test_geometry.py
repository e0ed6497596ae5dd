"""Geometry kernels + WKB vs the reference fixture goldens.

- ray-cast semantics: ogr/ogrlinearring.cpp:462-531
- OGR_GEOM_AREA: shoelace minus holes, vs poly.dbf AREA values
- spatial-filter golden: first-feature envelope selects exactly 1 of 10
  (autotest/ogr/ogr_basic_test.py:112-131)
"""
import numpy as np
import pytest

from fixtures_poly import POLY_ATTRS, poly_rings
from gdal_spark.geometry import kernels, wkb
from gdal_spark.geometry.index import PolygonSet


def test_ring_area_matches_dbf_goldens():
    rings = poly_rings()
    for p, (area, _, _) in zip(rings, POLY_ATTRS):
        got = kernels.polygon_area(p)
        assert got == pytest.approx(abs(area), abs=0.05)


def test_point_in_ring_square():
    sq = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    px = np.array([5.0, 15.0, -1.0, 5.0])
    py = np.array([5.0, 5.0, 5.0, 15.0])
    got = kernels.points_in_ring_np(px, py, sq)
    assert list(got) == [True, False, False, False]


def test_point_in_polygon_with_hole():
    ext = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    hole = np.array([[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]], dtype=float)
    px = np.array([5.0, 2.0])
    py = np.array([5.0, 2.0])
    got = kernels.points_in_polygon_np(px, py, [ext, hole])
    assert list(got) == [False, True]


def test_centroids_inside_own_polygon_only_mostly():
    """Each fixture polygon's representative point is inside it."""
    rings = poly_rings()
    for p in rings:
        ext = p[0]
        cx, cy = ext[:-1, 0].mean(), ext[:-1, 1].mean()
        # vertex-mean may fall outside concave polys; then skip
        inside = kernels.points_in_polygon_np([cx], [cy], p)[0]
        if inside:
            for q in rings:
                if q is p:
                    continue
                assert not kernels.points_in_polygon_np([cx], [cy], q)[0]


def _poly_intersects_rect(rings, minx, miny, maxx, maxy) -> bool:
    """Exact polygon-rect intersects: any edge crosses the rect, any vertex
    inside it, or a rect corner inside the polygon."""
    for r in rings:
        ax, ay, bx, by = r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]
        if kernels.segments_intersect_rect_np(ax, ay, bx, by, minx, miny, maxx, maxy).any():
            return True
    cx = np.array([minx, maxx, maxx, minx])
    cy = np.array([miny, miny, maxy, maxy])
    return bool(kernels.points_in_polygon_np(cx, cy, rings).any())


def test_spatial_filter_golden_one_of_ten():
    """ogr_basic_test.py:90-131 golden: rect (479405,4762826,480732,4763590)
    intersects exactly 1 of the 10 poly.shp features."""
    rings = poly_rings()
    hits = sum(
        1 for p in rings if _poly_intersects_rect(p, 479405, 4762826, 480732, 4763590)
    )
    assert hits == 1


def test_wkb_point_roundtrip():
    b = wkb.point_wkb(1.5, -2.25)
    name, (x, y) = wkb.parse_wkb(b)
    assert name == "Point" and x == 1.5 and y == -2.25
    xs, ys = wkb.parse_point_wkb_np(wkb.points_wkb_np([1.0, 2.0], [3.0, 4.0]))
    assert list(xs) == [1.0, 2.0] and list(ys) == [3.0, 4.0]


def test_wkb_polygon_roundtrip():
    ext = np.array([[0, 0], [4, 0], [4, 4], [0, 4]], dtype=float)
    hole = np.array([[1, 1], [2, 1], [2, 2], [1, 2]], dtype=float)
    b = wkb.polygon_wkb(ext, [hole])
    name, rings = wkb.parse_wkb(b)
    assert name == "Polygon" and len(rings) == 2
    assert len(rings[0]) == 5  # auto-closed
    assert np.allclose(rings[0][:4], ext)


def test_wkb_big_endian_parse():
    import struct
    b = struct.pack(">BIdd", 0, 1, 7.0, 8.0)
    name, (x, y) = wkb.parse_wkb(b)
    assert name == "Point" and x == 7.0 and y == 8.0


def test_polygonset_contains_matches_kernels():
    rings = poly_rings()
    ids = [a[1] for a in POLY_ATTRS]
    ps = PolygonSet.from_coords(ids, rings)
    rng = np.random.default_rng(11)
    allc = np.vstack([np.vstack(p) for p in rings])
    px = rng.uniform(allc[:, 0].min(), allc[:, 0].max(), 2000)
    py = rng.uniform(allc[:, 1].min(), allc[:, 1].max(), 2000)
    for i in range(len(ps)):
        idx = np.full(len(px), i, dtype=np.int64)
        got = ps.contains(px, py, idx)
        want = kernels.points_in_polygon_np(px, py, rings[i])
        assert (got == want).all(), i


def test_polygonset_tile_cover_consistency():
    """cover ⊇ contains: every contained point's tile is in the cover, and
    full tiles contain only inside points."""
    from gdal_spark import tiling

    # synthetic lon/lat triangle converted to mercator
    tri = np.array([[5.0, 5.0], [20.0, 8.0], [10.0, 25.0], [5.0, 5.0]])
    mx, my = tiling.lonlat_to_mercator_np(tri[:, 0], tri[:, 1])
    merc = np.column_stack([mx, my])
    ps = PolygonSet.from_coords([1], [[merc]])
    z = 7
    pidx, tx, ty, full = ps.tile_cover(z)
    cover = set(zip(tx.tolist(), ty.tolist()))
    fullset = {(x, y) for x, y, f in zip(tx.tolist(), ty.tolist(), full.tolist()) if f}
    rng = np.random.default_rng(5)
    lon = rng.uniform(3, 27, 4000)
    lat = rng.uniform(3, 27, 4000)
    qx, qy = tiling.lonlat_to_mercator_np(lon, lat)
    inside = kernels.points_in_polygon_np(qx, qy, [merc])
    ptx, pty = tiling.tile_indices_np(qx, qy, z)
    for i in range(len(lon)):
        t = (int(ptx[i]), int(pty[i]))
        if inside[i]:
            assert t in cover
        if t in fullset:
            assert inside[i]


def _tile_cover_loop(ps, z):
    """Reference oracle for ``PolygonSet.tile_cover``: every ring segment
    against every tile of the polygon's bbox tile range, one tile at a
    time. Slow (Python over tiles × rings) but obviously complete."""
    from gdal_spark import tiling

    n = 1 << z
    span = tiling.WORLD_SPAN / n
    P, X, Y, F = [], [], [], []
    for i in range(len(ps.ids)):
        minx, miny, maxx, maxy = ps.env[i]
        tx0, ty1 = tiling.tile_indices_np(np.array([minx]), np.array([miny]), z)
        tx1, ty0 = tiling.tile_indices_np(np.array([maxx]), np.array([maxy]), z)
        txs = np.arange(tx0[0], tx1[0] + 1, dtype=np.int64)
        tys = np.arange(ty0[0], ty1[0] + 1, dtype=np.int64)
        gx, gy = np.meshgrid(txs, tys)
        gx, gy = gx.ravel(), gy.ravel()
        rx0 = -tiling.ORIGIN + gx * span
        rx1 = rx0 + span
        ry1 = tiling.ORIGIN - gy * span
        ry0 = ry1 - span
        crossed = np.zeros(len(gx), dtype=bool)
        for ring in ps._rings(i):
            ax, ay = ring[:-1, 0], ring[:-1, 1]
            bx, by = ring[1:, 0], ring[1:, 1]
            for t in range(len(gx)):
                if not crossed[t]:
                    crossed[t] = kernels.segments_intersect_rect_np(
                        ax, ay, bx, by, rx0[t], ry0[t], rx1[t], ry1[t]
                    ).any()
        cx = (rx0 + rx1) * 0.5
        cy = (ry0 + ry1) * 0.5
        center_in = kernels.points_in_polygon_np(cx, cy, ps._rings(i))
        keep = crossed | center_in
        full = center_in & ~crossed
        P.append(np.full(int(keep.sum()), i, dtype=np.int64))
        X.append(gx[keep])
        Y.append(gy[keep])
        F.append(full[keep].astype(np.int64))
    return tuple(np.concatenate(a) for a in (P, X, Y, F))


def _merc_ring(lonlat):
    from gdal_spark import tiling

    a = np.asarray(lonlat, dtype=float)
    mx, my = tiling.lonlat_to_mercator_np(a[:, 0], a[:, 1])
    return np.column_stack([mx, my])


def _cover_case(name, z):
    from gdal_spark import tiling
    from gdal_spark.fixtures import fixture_polyset

    if name == "fixture200":
        return fixture_polyset(200)
    if name == "holes":
        outer = _merc_ring([(-20, -15), (20, -15), (20, 25), (-20, 25), (-20, -15)])
        box_hole = _merc_ring([(-8, 0), (-8, 12), (8, 12), (8, 0), (-8, 0)])
        tri_hole = _merc_ring([(10, -10), (15, -10), (12, -2), (10, -10)])
        return PolygonSet.from_coords([1], [[outer, box_hole, tri_hole]])
    if name == "world_edge":
        o = tiling.ORIGIN
        north_west = _merc_ring([(-180, 60), (-150, 60), (-150, 85), (-180, 85), (-180, 60)])
        south_east = _merc_ring([(150, -85), (180, -85), (180, -70), (150, -70), (150, -85)])
        # one vertex a metre past the antimeridian: tile indices clamp to 2^z - 1
        past_edge = np.array([[o - 3e6, 0.0], [o + 1.0, 1e6], [o, 4e6], [o - 3e6, 0.0]])
        return PolygonSet.from_coords([1, 2, 3], [[north_west], [south_east], [past_edge]])
    if name == "grid_square":
        # vertices on zoom-z tile corners, built with the cover's own rect floats
        span = tiling.WORLD_SPAN / (1 << z)
        x0, x1 = -tiling.ORIGIN + 3 * span, -tiling.ORIGIN + 6 * span
        y1, y0 = tiling.ORIGIN - 2 * span, tiling.ORIGIN - 5 * span
        sq = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
        return PolygonSet.from_coords([1], [[sq]])
    if name == "repeated_vertices":
        ring = _merc_ring([(5, 5), (5, 5), (20, 8), (20, 8), (20, 8), (10, 25), (5, 5), (5, 5)])
        return PolygonSet.from_coords([1], [[ring]])
    raise AssertionError(name)


@pytest.mark.parametrize("z", range(4, 10))
@pytest.mark.parametrize(
    "case", ["fixture200", "holes", "world_edge", "grid_square", "repeated_vertices"]
)
def test_tile_cover_equals_loop_oracle(case, z):
    """The vectorized cover returns the reference loop's rows, in its order."""
    ps = _cover_case(case, z)
    got = ps.tile_cover(z)
    want = _tile_cover_loop(ps, z)
    assert len(want[0]) > 0
    for g, w in zip(got, want):
        assert g.dtype == np.int64
        np.testing.assert_array_equal(g, w)


def test_tile_cover_is_memoized_read_only_and_not_pickled(monkeypatch):
    """A second call reuses the first cover: equal arrays, none writable,
    and the memo is not part of the pickled object (the refine UDF's
    closure ships the PolygonSet to every task)."""
    import pickle

    ps = _cover_case("holes", 7)
    size = len(pickle.dumps(ps))
    first = ps.tile_cover(7)
    calls = []
    seg_rect = kernels.segments_intersect_rect_np
    monkeypatch.setattr(kernels, "segments_intersect_rect_np", lambda *a: calls.append(1) or seg_rect(*a))
    second = ps.tile_cover(7)
    assert calls == []
    for a, b in zip(first, second):
        np.testing.assert_array_equal(a, b)
        assert not b.flags.writeable
        with pytest.raises(ValueError):
            b[:1] = 0
    assert len(pickle.dumps(ps)) == size
    ps.tile_cover(8)
    assert calls  # another zoom is computed


# ---------------------------------------------------------------------------
# general (non-convex) overlay kernel
# ---------------------------------------------------------------------------

def _ring(*pts):
    import numpy as np
    a = np.asarray(pts, dtype=float)
    return np.vstack([a, a[:1]])


def _pieces_area(pieces):
    from gdal_spark.geometry import kernels
    return sum(kernels.ring_area(p) for p in pieces)


def test_triangulate_concave_area():
    import numpy as np
    from gdal_spark.geometry import kernels, ops
    # L-shape (concave), area 3
    L = _ring((0, 0), (2, 0), (2, 1), (1, 1), (1, 2), (0, 2))
    tris = ops.triangulate_ring(L)
    assert len(tris) == 4
    assert abs(sum(kernels.ring_area(t) for t in tris) - 3.0) < 1e-12


def test_intersection_concave_concave():
    from gdal_spark.geometry import ops
    # L-shape ∩ its mirror: overlap is the 1x1 square [0,1]x[0,1] plus
    # strips — compute vs a half-plane-free oracle by construction:
    L = _ring((0, 0), (2, 0), (2, 1), (1, 1), (1, 2), (0, 2))
    # concave "staircase" overlapping the L
    S = _ring((0, 0), (3, 0), (3, 0.5), (0.5, 0.5), (0.5, 3), (0, 3))
    name, payload = ops.intersection(("Polygon", [L]), ("Polygon", [S]))
    rings = [r for _, rr in (payload if name == "MultiPolygon" else [(None, payload)]) for r in rr] \
        if name == "MultiPolygon" else payload
    # truth: L ∩ S = [0,2]x[0,0.5] (area 1.0) ∪ [0,0.5]x[0.5,2] (area 0.75)
    assert abs(_pieces_area(rings) - 1.75) < 1e-9


def test_intersection_with_hole():
    from gdal_spark.geometry import ops
    # 4x4 square with 2x2 centered hole ∩ 4x2 bottom half:
    # bottom half covers [0,4]x[0,2]; hole removes [1,3]x[1,2] → 8-2=6
    ext = _ring((0, 0), (4, 0), (4, 4), (0, 4))
    hole = _ring((1, 1), (3, 1), (3, 3), (1, 3))
    half = _ring((0, 0), (4, 0), (4, 2), (0, 2))
    name, payload = ops.intersection(("Polygon", [ext, hole]), ("Polygon", [half]))
    rings = [r for _, rr in payload for r in rr] if name == "MultiPolygon" else payload
    assert abs(_pieces_area(rings) - 6.0) < 1e-9


def test_difference_nonconvex_clip():
    from gdal_spark.geometry import ops
    # square minus L-shape: 4 - 3 = 1 (the [1,2]x[1,2] corner)
    sq = _ring((0, 0), (2, 0), (2, 2), (0, 2))
    L = _ring((0, 0), (2, 0), (2, 1), (1, 1), (1, 2), (0, 2))
    pieces = ops.difference_pieces([sq], [[L]])
    assert abs(_pieces_area(pieces) - 1.0) < 1e-9


def test_difference_clip_with_hole():
    from gdal_spark.geometry import ops
    # subject [0,4]^2 minus (4x4 with 2x2 hole) = the hole area = 4
    sq = _ring((0, 0), (4, 0), (4, 4), (0, 4))
    ext = _ring((0, 0), (4, 0), (4, 4), (0, 4))
    hole = _ring((1, 1), (3, 1), (3, 3), (1, 3))
    pieces = ops.difference_pieces([sq], [[ext, hole]])
    assert abs(_pieces_area(pieces) - 4.0) < 1e-9


def test_subject_holes_respected():
    from gdal_spark.geometry import ops
    # subject with hole minus nothing-overlapping clip keeps area 12
    ext = _ring((0, 0), (4, 0), (4, 4), (0, 4))
    hole = _ring((1, 1), (3, 1), (3, 3), (1, 3))
    far = _ring((10, 10), (11, 10), (11, 11), (10, 11))
    pieces = ops.difference_pieces([ext, hole], [[far]])
    assert abs(_pieces_area(pieces) - 12.0) < 1e-9


def _star_polygon(rng, n_min=6, n_max=14, cx=0.0, cy=0.0, rmin=0.5, rmax=3.0):
    """Random simple (star-shaped, usually concave) polygon: angles from
    bounded positive increments (max angular gap < π — an over-π gap with
    varying radii can self-intersect), random radii around a center."""
    import numpy as np
    n = int(rng.integers(n_min, n_max))
    inc = rng.uniform(0.3, 1.0, n)
    ang = np.cumsum(inc) / inc.sum() * 2 * np.pi
    rad = rng.uniform(rmin, rmax, n)
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def test_overlay_set_algebra_properties_random():
    """For 40 random concave pairs: area(A∩B) + area(A∖B) == area(A) and
    inclusion–exclusion for the union — the defining identities of a
    correct overlay, checked without any reference to the kernel's own
    internals."""
    import numpy as np
    from gdal_spark.geometry import kernels, ops

    rng = np.random.default_rng(123)
    for trial in range(40):
        A = _star_polygon(rng, cx=rng.uniform(-1, 1), cy=rng.uniform(-1, 1))
        B = _star_polygon(rng, cx=rng.uniform(-1, 1), cy=rng.uniform(-1, 1))
        ga, gb = ("Polygon", [A]), ("Polygon", [B])
        area_a = kernels.ring_area(A)
        area_b = kernels.ring_area(B)
        inter = ops.area(ops.intersection(ga, gb))
        diff_ab = ops.area(("MultiPolygon", [("Polygon", [r]) for r in ops.difference_pieces([A], [[B]])])) if ops.difference_pieces([A], [[B]]) else 0.0
        diff_ba = ops.area(("MultiPolygon", [("Polygon", [r]) for r in ops.difference_pieces([B], [[A]])])) if ops.difference_pieces([B], [[A]]) else 0.0
        union = ops.area(ops.union_geom(ga, gb))
        scale = max(area_a, area_b, 1.0)
        assert abs(inter + diff_ab - area_a) < 1e-7 * scale, trial
        assert abs(inter + diff_ba - area_b) < 1e-7 * scale, trial
        assert abs(union - (area_a + area_b - inter)) < 1e-7 * scale, trial


def test_overlay_properties_with_holes_random():
    import numpy as np
    from gdal_spark.geometry import kernels, ops

    rng = np.random.default_rng(7)
    for trial in range(15):
        ext = _star_polygon(rng, rmin=2.0, rmax=4.0)
        hole = _star_polygon(rng, rmin=0.3, rmax=0.9)  # centered inside
        B = _star_polygon(rng, cx=rng.uniform(-2, 2), cy=rng.uniform(-2, 2))
        ga = ("Polygon", [ext, hole])
        gb = ("Polygon", [B])
        area_a = kernels.ring_area(ext) - kernels.ring_area(hole)
        inter = ops.area(ops.intersection(ga, gb))
        pieces = ops.difference_pieces([ext, hole], [[B]])
        diff_ab = sum(kernels.ring_area(p) for p in pieces)
        scale = max(area_a, 1.0)
        assert abs(inter + diff_ab - area_a) < 1e-7 * scale, trial


def test_unary_union_dissolves_overlaps_and_duplicates():
    import numpy as np
    from gdal_spark.geometry import ops

    def rect(x0, y0, x1, y1):
        return ("Polygon", [np.array(
            [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)])

    # 4 + 4 − 1 overlap + 2 edge-touching = 9
    g = ("GeometryCollection", [rect(0, 0, 2, 2), rect(1, 1, 3, 3), rect(2, 0, 4, 1)])
    assert abs(ops.area(ops.unary_union(g)) - 9.0) < 1e-12
    # exact duplicate counted once
    g2 = ("MultiPolygon", [rect(0, 0, 1, 1), rect(0, 0, 1, 1)])
    assert abs(ops.area(ops.unary_union(g2)) - 1.0) < 1e-12
    # fold vs random permutation: area invariant
    rng = np.random.default_rng(3)
    parts = [rect(*sorted(rng.uniform(0, 5, 2)), *sorted(rng.uniform(0, 5, 2)))
             for _ in range(6)]
    parts = [("Polygon", [np.array(
        [[a, c], [b, c], [b, d], [a, d], [a, c]], float)])
        for (a, c), (b, d) in
        [((min(p[1][0][:, 0]), min(p[1][0][:, 1])),
          (max(p[1][0][:, 0]), max(p[1][0][:, 1]))) for p in parts]]
    a1 = ops.area(ops.unary_union(("GeometryCollection", parts)))
    a2 = ops.area(ops.unary_union(("GeometryCollection", parts[::-1])))
    assert abs(a1 - a2) < 1e-9 * max(a1, 1.0)


def test_delaunay_triangles_tile_hull():
    import numpy as np
    from gdal_spark.geometry import ops

    pts = [("Point", np.array([float(i % 4), float(i // 4)])) for i in range(16)]
    name, tris = ops.delaunay_triangles(("GeometryCollection", pts))
    assert name == "GeometryCollection"
    # 2n − h − 2 triangles tiling the hull: 32 − 12 − 2 = 18, area 9
    assert len(tris) == 18
    assert abs(sum(ops.area(t) for t in tris) - 9.0) < 1e-12
    # triangles are CCW and disjoint-interior (areas all positive)
    assert all(ops.area(t) > 0 for t in tris)
    # degenerate inputs
    assert ops.delaunay_triangles(("Point", np.array([0.0, 0.0])))[1] == []


def test_wkb_zm_and_ewkb_variants():
    import struct

    import numpy as np
    from gdal_spark.geometry import wkb

    # ISO XYZ point (type 1001)
    b = struct.pack("<BIddd", 1, 1001, 3.0, 4.0, 9.0)
    assert wkb.parse_wkb(b) == ("Point", (3.0, 4.0))
    # ISO XYM (2001) and XYZM (3001)
    assert wkb.parse_wkb(struct.pack("<BIddd", 1, 2001, 1.0, 2.0, 7.0))[1] == (1.0, 2.0)
    assert wkb.parse_wkb(struct.pack("<BIdddd", 1, 3001, 1.0, 2.0, 7.0, 8.0))[1] == (1.0, 2.0)
    # EWKB Z flag + embedded SRID
    b = struct.pack("<BI", 1, 1 | 0x80000000 | 0x20000000) + struct.pack(
        "<Iddd", 4326, 5.0, 6.0, 0.5)
    assert wkb.parse_wkb(b) == ("Point", (5.0, 6.0))
    # ISO XYZ linestring: Z dropped
    b = struct.pack("<BII", 1, 1002, 2) + struct.pack("<dddddd", 0, 0, 9, 1, 1, 9)
    name, c = wkb.parse_wkb(b)
    assert name == "LineString" and np.array_equal(c, [[0, 0], [1, 1]])


def test_wkb_curved_types_linearize():
    import struct

    import numpy as np
    from gdal_spark.geometry import ops, wkb

    # half circle radius 1: (-1,0) → (0,1) → (1,0); length → π
    cs = struct.pack("<BII", 1, 8, 3) + np.array(
        [[-1, 0], [0, 1], [1, 0]], "<f8").tobytes()
    name, c = wkb.parse_wkb(cs)
    assert name == "LineString"
    assert np.allclose(c[0], [-1, 0]) and np.allclose(c[-1], [1, 0])
    assert abs(ops.length(("LineString", c)) - np.pi) < 2e-3
    # CurvePolygon of a full circle (two half arcs in one CircularString):
    # area → π r²
    circ = struct.pack("<BII", 1, 8, 5) + np.array(
        [[-1, 0], [0, 1], [1, 0], [0, -1], [-1, 0]], "<f8").tobytes()
    cp = struct.pack("<BII", 1, 10, 1) + circ
    name, rings = wkb.parse_wkb(cp)
    assert name == "Polygon"
    assert abs(ops.area(("Polygon", rings)) - np.pi) < 3e-3
    # CompoundCurve: straight segment + half arc, joint vertex deduped
    seg = struct.pack("<BII", 1, 2, 2) + np.array([[-2, 0], [-1, 0]], "<f8").tobytes()
    cc = struct.pack("<BII", 1, 9, 2) + seg + cs
    name, c = wkb.parse_wkb(cc)
    assert name == "LineString"
    assert np.allclose(c[0], [-2, 0]) and np.allclose(c[-1], [1, 0])
    assert abs(ops.length(("LineString", c)) - (1.0 + np.pi)) < 2e-3
    # MultiCurve → MultiLineString
    mc = struct.pack("<BII", 1, 11, 1) + cs
    assert wkb.parse_wkb(mc)[0] == "MultiLineString"


def test_wkt_curved_types_linearize():
    import numpy as np
    from gdal_spark.geometry import ops, wkt

    name, c = wkt.parse_wkt("CIRCULARSTRING (-1 0, 0 1, 1 0)")
    assert name == "LineString"
    assert abs(ops.length(("LineString", c)) - np.pi) < 2e-3
    # compound: straight + arc
    name, c = wkt.parse_wkt(
        "COMPOUNDCURVE ((-2 0, -1 0), CIRCULARSTRING (-1 0, 0 1, 1 0))"
    )
    assert name == "LineString"
    assert abs(ops.length(("LineString", c)) - (1.0 + np.pi)) < 2e-3
    # curve polygon: full circle
    name, rings = wkt.parse_wkt(
        "CURVEPOLYGON (CIRCULARSTRING (-1 0, 0 1, 1 0, 0 -1, -1 0))"
    )
    assert name == "Polygon"
    assert abs(ops.area(("Polygon", rings)) - np.pi) < 3e-3
    # multicurve / multisurface
    assert wkt.parse_wkt("MULTICURVE ((0 0, 1 1), CIRCULARSTRING (-1 0, 0 1, 1 0))")[0] == "MultiLineString"
    ms = wkt.parse_wkt(
        "MULTISURFACE (((0 0,1 0,1 1,0 1,0 0)), CURVEPOLYGON (CIRCULARSTRING (4 0,5 1,6 0,5 -1,4 0)))"
    )
    assert ms[0] == "MultiPolygon" and len(ms[1]) == 2
    total = sum(ops.area(p) for p in ms[1])
    assert abs(total - (1.0 + np.pi)) < 3e-3


def test_decode_polygon1_batch_bit_equal():
    """Vectorized single-ring-polygon WKB decode (VERDICT r3 wrong-2):
    fast-path areas must be bit-identical to the per-row parse, and the
    fast path must engage on plain little-endian Polygon blobs."""
    import numpy as np

    from gdal_spark.geometry import ops, wkb
    from gdal_spark.geometry.wkb import decode_polygon1_batch, polygon_wkb

    rng = np.random.default_rng(5)
    blobs = []
    for i in range(500):
        k = int(rng.integers(4, 12))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        r = rng.uniform(1, 5, k)
        blobs.append(polygon_wkb(np.column_stack([r * np.cos(ang) + i, r * np.sin(ang)])))
    blobs[3] = None
    blobs[9] = polygon_wkb([(0, 0), (4, 0), (4, 4), (0, 4)],
                           holes=[[(1, 1), (2, 1), (2, 2), (1, 2)]])
    ok, xs, ys, npv = decode_polygon1_batch(blobs)
    assert not ok[3] and not ok[9] and int(ok.sum()) == 498
    cross = xs[:, :-1] * ys[:, 1:] - xs[:, 1:] * ys[:, :-1]
    ks = np.nonzero(ok)[0]
    for j, i in enumerate(ks):
        fast = abs(float(np.sum(cross[j, : npv[j] - 1]))) * 0.5
        assert fast == ops.area(wkb.parse_wkb(bytes(blobs[i])))


def test_batch_decode_pad_budget_routes_oversized_rows():
    """ADVICE r4: one huge geometry among many small ones must NOT be
    zero-padded to the batch max (k×maxp memory blowup) — it falls off
    the fast path (ok=False) and takes the per-row fallback, while the
    small rows keep their vectorized decode."""
    import math

    from gdal_spark.geometry.wkb import (
        decode_polygon1_batch,
        decode_linestring_batch,
        polygon_wkb,
    )
    from gdal_spark.geometry import wkt as _wkt

    small = [
        polygon_wkb(np.array([[0.0, 0.0], [i + 1.0, 0.0], [0.0, 1.0],
                              [0.0, 0.0]]))
        for i in range(200)
    ]
    t = np.linspace(0.0, 2 * math.pi, 50_000)
    big_ring = np.column_stack([np.cos(t), np.sin(t)])
    big_ring[-1] = big_ring[0]
    big = polygon_wkb(big_ring)
    blobs = small[:100] + [big] + small[100:]
    ok, xs, ys, npv = decode_polygon1_batch(blobs)
    assert not ok[100]          # oversized row routed to fallback
    assert ok.sum() == 200      # all small rows stay vectorized
    assert xs.shape[1] == 4     # padded to the SMALL max, not 50k

    ls_small = [_wkt.wkt_to_wkb("LINESTRING (0 0,1 1,2 0)")] * 150
    coords = " ,".join(f"{x} {x}" for x in range(60_000))
    ls_big = _wkt.wkt_to_wkb(f"LINESTRING ({coords})")
    ok2, xs2, _, _ = decode_linestring_batch(ls_small + [ls_big])
    assert not ok2[-1]
    assert ok2.sum() == 150
    assert xs2.shape[1] == 3
