"""ISO WKB encode/decode, NumPy-vectorized where it matters.

WKB is the engine's on-the-wire geometry representation (BinaryType
columns), matching the reference's interchange format
(``exportToWkb``/``importFromWkb``, ogr/ogr_geometry.h:457-463). Only
little-endian 2-D geometries are produced; both byte orders are parsed.

Supported types: Point(1), LineString(2), Polygon(3), MultiPoint(4),
MultiLineString(5), MultiPolygon(6), GeometryCollection(7) — the
non-curved OGR core set (ogr/ogr_core.h:405-409) — plus, ON INGEST:
ISO Z/M/ZM and EWKB flag/SRID variants (extra ordinates dropped — 2D
engine) and the curved types CircularString(8), CompoundCurve(9),
CurvePolygon(10), MultiCurve(11), MultiSurface(12), linearized at the
reference's 4° default arc step (OGR_G_GetLinearGeometry semantics).
Only little-endian 2-D non-curved geometries are produced.
"""

from __future__ import annotations

import struct

import numpy as np

WKB_POINT = 1
WKB_LINESTRING = 2
WKB_POLYGON = 3
WKB_MULTIPOINT = 4
WKB_MULTILINESTRING = 5
WKB_MULTIPOLYGON = 6
WKB_GEOMETRYCOLLECTION = 7
WKB_CIRCULARSTRING = 8
WKB_COMPOUNDCURVE = 9
WKB_CURVEPOLYGON = 10
WKB_MULTICURVE = 11
WKB_MULTISURFACE = 12

_POINT_HDR = struct.pack("<BI", 1, WKB_POINT)


def linearize_circularstring(pts: np.ndarray) -> np.ndarray:
    """Linearize a CircularString's arc triples (p0→p1→p2 per arc) into a
    polyline, ≤ 4° per step — the reference's
    OGR_ARC_STEPSIZE default (ogr/ogrgeometryfactory.cpp
    approximateArcAngles contract). Collinear triples emit straight
    segments; endpoints are exact."""
    pts = np.asarray(pts, dtype=np.float64)
    if len(pts) < 3:
        return pts.copy()
    out = [pts[0]]
    step = np.radians(4.0)
    for i in range(0, len(pts) - 2, 2):
        p0, p1, p2 = pts[i], pts[i + 1], pts[i + 2]
        d = 2.0 * (p0[0] * (p1[1] - p2[1]) + p1[0] * (p2[1] - p0[1]) + p2[0] * (p0[1] - p1[1]))
        if d == 0.0:  # collinear — straight chords
            out.extend([p1, p2])
            continue
        a2, b2, c2 = (p0 ** 2).sum(), (p1 ** 2).sum(), (p2 ** 2).sum()
        cx = (a2 * (p1[1] - p2[1]) + b2 * (p2[1] - p0[1]) + c2 * (p0[1] - p1[1])) / d
        cy = (a2 * (p2[0] - p1[0]) + b2 * (p0[0] - p2[0]) + c2 * (p1[0] - p0[0])) / d
        r = float(np.hypot(p0[0] - cx, p0[1] - cy))
        t0 = np.arctan2(p0[1] - cy, p0[0] - cx)
        t1 = np.arctan2(p1[1] - cy, p1[0] - cx)
        t2 = np.arctan2(p2[1] - cy, p2[0] - cx)
        # sweep direction: the one that passes through t1 on the way to t2
        ccw1 = (t1 - t0) % (2 * np.pi)
        ccw2 = (t2 - t0) % (2 * np.pi)
        if ccw1 <= ccw2:  # counter-clockwise through p1
            sweep = ccw2 if ccw2 > 0 else 2 * np.pi
            n = max(int(np.ceil(sweep / step)), 1)
            ts = t0 + sweep * np.arange(1, n) / n
        else:  # clockwise
            cw2 = (t0 - t2) % (2 * np.pi)
            sweep = cw2 if cw2 > 0 else 2 * np.pi
            n = max(int(np.ceil(sweep / step)), 1)
            ts = t0 - sweep * np.arange(1, n) / n
        out.extend(np.column_stack([cx + r * np.cos(ts), cy + r * np.sin(ts)]))
        out.append(p2)
    return np.asarray(out, dtype=np.float64)


def _join_curve_parts(parts: list) -> np.ndarray:
    """Concatenate CompoundCurve component polylines, dropping duplicated
    joint vertices (the spec guarantees end(i) == start(i+1))."""
    out = []
    for i, c in enumerate(parts):
        c = np.asarray(c, dtype=np.float64)
        if i > 0 and len(out) and len(c) and np.array_equal(out[-1], c[0]):
            c = c[1:]
        out.extend(c)
    return np.asarray(out, dtype=np.float64) if out else np.zeros((0, 2))


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------

def point_wkb(x: float, y: float) -> bytes:
    return _POINT_HDR + struct.pack("<dd", x, y)


def points_wkb_np(xs, ys) -> list[bytes]:
    """Vectorized batch encode of N points → list of 21-byte WKB blobs."""
    xs = np.ascontiguousarray(xs, dtype="<f8")
    ys = np.ascontiguousarray(ys, dtype="<f8")
    n = len(xs)
    buf = np.zeros((n, 21), dtype=np.uint8)
    buf[:, 0] = 1
    buf[:, 1] = WKB_POINT  # little-endian uint32 type: bytes 1..4
    buf[:, 5:13] = xs.view(np.uint8).reshape(n, 8)
    buf[:, 13:21] = ys.view(np.uint8).reshape(n, 8)
    return [b.tobytes() for b in buf]


def linestring_wkb(coords) -> bytes:
    coords = np.asarray(coords, dtype="<f8")
    return (
        struct.pack("<BII", 1, WKB_LINESTRING, len(coords))
        + coords.tobytes()
    )


def polygon_wkb(exterior, holes=()) -> bytes:
    """Polygon from rings (each an (N,2) array; closed or not — closed here)."""
    rings = [np.asarray(exterior, dtype="<f8")] + [
        np.asarray(h, dtype="<f8") for h in holes
    ]
    out = [struct.pack("<BII", 1, WKB_POLYGON, len(rings))]
    for r in rings:
        if len(r) and not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        out.append(struct.pack("<I", len(r)))
        out.append(r.astype("<f8").tobytes())
    return b"".join(out)


def point_wkb_z(x: float, y: float, z: float) -> bytes:
    return struct.pack("<BIddd", 1, 1000 + WKB_POINT, x, y, z)


def linestring_wkb_z(coords) -> bytes:
    """ISO LINESTRING Z from an (N,3) array."""
    coords = np.asarray(coords, dtype="<f8")
    return struct.pack("<BII", 1, 1000 + WKB_LINESTRING, len(coords)) + coords.tobytes()


def polygon_wkb_z(exterior, holes=()) -> bytes:
    """ISO POLYGON Z from (N,3) rings (auto-closed)."""
    rings = [np.asarray(exterior, dtype="<f8")] + [
        np.asarray(h, dtype="<f8") for h in holes
    ]
    out = [struct.pack("<BII", 1, 1000 + WKB_POLYGON, len(rings))]
    for r in rings:
        if len(r) and not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        out.append(struct.pack("<I", len(r)))
        out.append(r.astype("<f8").tobytes())
    return b"".join(out)


def multipolygon_wkb(polys) -> bytes:
    parts = [polygon_wkb(*p) if isinstance(p, tuple) else polygon_wkb(p) for p in polys]
    return struct.pack("<BII", 1, WKB_MULTIPOLYGON, len(parts)) + b"".join(parts)


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

class _Reader:
    __slots__ = ("buf", "pos", "keep_z", "_has_z")

    def __init__(self, buf: bytes, keep_z: bool = False):
        self.buf = buf
        self.pos = 0
        self.keep_z = keep_z

    def geom(self):
        order = self.buf[self.pos]
        self.pos += 1
        fmt = "<" if order == 1 else ">"
        gtype = struct.unpack_from(fmt + "I", self.buf, self.pos)[0]
        self.pos += 4
        # EWKB flag bits (PostGIS convention): Z/M dimension flags and an
        # embedded SRID; ISO encodes the same via +1000/+2000/+3000
        ndim = 2 + bool(gtype & 0x80000000) + bool(gtype & 0x40000000)
        if gtype & 0x20000000:
            self.pos += 4  # embedded SRID — carried at column level here
        has_z = bool(gtype & 0x80000000)
        gtype &= 0x0FFFFFFF
        zm = gtype // 1000  # ISO: 0 (2D), 1 (Z), 2 (M), 3 (ZM)
        if zm:
            ndim = 2 + (1 if zm in (1, 2) else 2)
            has_z = zm in (1, 3)
        base = gtype % 1000
        self._has_z = has_z
        if base == WKB_POINT:
            vals = struct.unpack_from(fmt + "d" * ndim, self.buf, self.pos)
            self.pos += 8 * ndim
            if self.keep_z:
                z = vals[2] if (ndim >= 3 and has_z) else 0.0
                return ("Point", (vals[0], vals[1], z))
            return ("Point", (vals[0], vals[1]))
        if base == WKB_LINESTRING:
            return ("LineString", self._coords(fmt, ndim))
        if base == WKB_CIRCULARSTRING:
            # linearized on ingest (OGRGeometryFactory::curveToLineString /
            # GetLinearGeometry, ogr/ogr_api.h OGR_G_GetLinearGeometry)
            return ("LineString", linearize_circularstring(self._coords(fmt, ndim)))
        if base == WKB_POLYGON:
            nrings = self._u32(fmt)
            return ("Polygon", [self._coords(fmt, ndim) for _ in range(nrings)])
        if base == WKB_COMPOUNDCURVE:
            n = self._u32(fmt)
            segs = [self.geom() for _ in range(n)]
            return ("LineString", _join_curve_parts([s[1] for s in segs]))
        if base == WKB_CURVEPOLYGON:
            nrings = self._u32(fmt)
            rings = []
            for _ in range(nrings):
                _, c = self.geom()  # LineString after linearization
                rings.append(c)
            return ("Polygon", rings)
        if base in (WKB_MULTIPOINT, WKB_MULTILINESTRING, WKB_MULTIPOLYGON,
                    WKB_GEOMETRYCOLLECTION, WKB_MULTICURVE, WKB_MULTISURFACE):
            name = {4: "MultiPoint", 5: "MultiLineString", 6: "MultiPolygon",
                    7: "GeometryCollection", 11: "MultiLineString",
                    12: "MultiPolygon"}[base]
            n = self._u32(fmt)
            return (name, [self.geom() for _ in range(n)])
        raise ValueError(f"unsupported WKB geometry type {gtype}")

    def _u32(self, fmt):
        v = struct.unpack_from(fmt + "I", self.buf, self.pos)[0]
        self.pos += 4
        return v

    def _coords(self, fmt, ndim):
        n = self._u32(fmt)
        if fmt == "<":
            arr = np.frombuffer(self.buf, dtype="<f8", count=n * ndim, offset=self.pos)
        else:
            arr = np.frombuffer(self.buf, dtype=">f8", count=n * ndim, offset=self.pos).astype("<f8")
        self.pos += 8 * n * ndim
        arr = arr.reshape(n, ndim)
        if self.keep_z:
            out = np.zeros((n, 3))
            out[:, :2] = arr[:, :2]
            if ndim >= 3 and self._has_z:
                out[:, 2] = arr[:, 2]  # M-only inputs keep Z=0 (OGR getZ())
            return out
        return arr[:, :2].copy()


def parse_wkb(buf: bytes):
    """Parse one WKB blob → (type_name, payload).

    Point → (x, y); LineString → (N,2) ndarray; Polygon → [rings];
    Multi*/Collection → [children].
    """
    return _Reader(buf).geom()


def parse_wkb_z(buf: bytes):
    """Z-preserving parse: like parse_wkb but coordinate arrays are (N,3)
    (Z = 0 for 2-D inputs) and Point payloads are (x, y, z) — the
    GDALCollectRingsFromGeometry getZ() path (alg/gdalrasterize.cpp:427+)
    feeding BURN_VALUE_FROM=Z."""
    return _Reader(buf, keep_z=True).geom()


def parse_point_wkb_np(blobs) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized decode of a column of little-endian point WKBs → (xs, ys)."""
    arr = np.frombuffer(b"".join(blobs), dtype=np.uint8).reshape(-1, 21)
    xs = arr[:, 5:13].copy().view("<f8").ravel()
    ys = arr[:, 13:21].copy().view("<f8").ravel()
    return xs, ys


def has_z(buf: bytes) -> bool:
    """True when the root WKB type carries Z (ISO +1000/+3000 or the
    EWKB 0x80000000 flag) — OGRGeometry::Is3D() on ingest."""
    fmt = "<" if buf[0] == 1 else ">"
    g = struct.unpack_from(fmt + "I", buf, 1)[0]
    if g & 0x80000000:
        return True
    return ((g & 0x0FFFFFFF) // 1000) in (1, 3)


def _u32_gather(flat: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Little-endian u32 at (possibly unaligned) byte positions."""
    p = np.minimum(pos, len(flat) - 4) if len(flat) >= 4 else np.zeros_like(pos)
    return (
        flat[p].astype(np.int64)
        | (flat[p + 1].astype(np.int64) << 8)
        | (flat[p + 2].astype(np.int64) << 16)
        | (flat[p + 3].astype(np.int64) << 24)
    )


_PAD_BUDGET_BYTES = 1 << 28  # per-batch gather ceiling (256 MB of f8 pads)


def _pad_budget_filter(ok: np.ndarray, npts: np.ndarray) -> np.ndarray:
    """Bound the zero-padded fast path's k×maxp memory blowup: every
    fast-path row pads to the batch max vertex count, and the gather
    index costs 128 bytes per coordinate byte — one huge geometry among
    thousands of small ones would OOM an executor. Rows far above the
    batch median (>8×, floor 1024 pts) or blowing the absolute budget
    are dropped from ``ok`` and take the per-row fallback (identical
    values — the fast paths are bit-equal to the per-row kernels)."""
    ks = np.nonzero(ok)[0]
    if len(ks) <= 1:
        return ok
    npv = npts[ks].astype(np.float64)
    cap = max(1024.0, 8.0 * max(float(np.median(npv)), 1.0))
    keep = npv <= cap
    while keep.any():
        maxp = float(npv[keep].max())
        if float(keep.sum()) * maxp * 16.0 <= _PAD_BUDGET_BYTES:
            break
        keep &= npv < maxp  # shed the largest size class, re-check
    if keep.all():
        return ok
    out = ok.copy()
    out[ks[~keep]] = False
    return out


def decode_polygon1_batch(blobs):
    """Vectorized decode of the dominant real-world geometry shape —
    little-endian single-ring Polygon WKB: one header-validation pass +
    one fancy-index gather per Arrow batch instead of a Python parse per
    row (the polygon analogue of the 21-byte point fast path).

    Returns ``(ok, xs, ys, npts)``: ``ok`` (n,) marks rows decoded on the
    fast path; ``xs``/``ys`` are zero-padded ``(k, max_pts)`` float64
    arrays for those rows in input order; rows not matching the shape
    (NULL, big-endian, multi-ring, Z, trailing bytes) are left to the
    caller's per-row fallback."""
    n = len(blobs)
    if n == 0:
        return np.zeros(0, dtype=bool), None, None, None
    lens = np.fromiter(
        (0 if b is None else len(b) for b in blobs), np.int64, count=n
    )
    cat = b"".join(bytes(b) for b in blobs if b is not None)
    flat = np.frombuffer(cat, dtype=np.uint8)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    ok = lens >= 13 + 4 * 16  # header + minimum closed ring
    if not ok.any() or len(flat) < 13:
        return np.zeros(n, dtype=bool), None, None, None
    s = starts.copy()
    s[~ok] = 0
    b0 = flat[np.minimum(s, len(flat) - 1)]
    gtype = _u32_gather(flat, s + 1)
    nrings = _u32_gather(flat, s + 5)
    npts = _u32_gather(flat, s + 9)
    ok &= (b0 == 1) & (gtype == WKB_POLYGON) & (nrings == 1)
    ok &= lens == 13 + 16 * npts
    ok = _pad_budget_filter(ok, npts)
    ks = np.nonzero(ok)[0]
    if not len(ks):
        return ok, None, None, None
    npv = npts[ks]
    maxp = int(npv.max())
    idx = s[ks, None] + 13 + np.arange(maxp * 16, dtype=np.int64)[None, :]
    np.minimum(idx, len(flat) - 1, out=idx)
    coords = flat[idx].view("<f8")  # (k, maxp*2), fancy-index → contiguous
    xs = np.ascontiguousarray(coords[:, 0::2])
    ys = np.ascontiguousarray(coords[:, 1::2])
    pad = np.arange(maxp)[None, :] >= npv[:, None]
    xs[pad] = 0.0
    ys[pad] = 0.0
    return ok, xs, ys, npv


def decode_linestring_batch(blobs):
    """Vectorized decode of little-endian 2-D LineString WKBs (the
    linear analogue of decode_polygon1_batch). Returns (ok, xs, ys,
    npts) with zero-padded (k, max_pts) coordinate arrays."""
    n = len(blobs)
    if n == 0:
        return np.zeros(0, dtype=bool), None, None, None
    lens = np.fromiter(
        (0 if b is None else len(b) for b in blobs), np.int64, count=n
    )
    cat = b"".join(bytes(b) for b in blobs if b is not None)
    flat = np.frombuffer(cat, dtype=np.uint8)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    ok = lens >= 9 + 2 * 16
    if not ok.any() or len(flat) < 9:
        return np.zeros(n, dtype=bool), None, None, None
    s = starts.copy()
    s[~ok] = 0
    b0 = flat[np.minimum(s, len(flat) - 1)]
    gtype = _u32_gather(flat, s + 1)
    npts = _u32_gather(flat, s + 5)
    ok &= (b0 == 1) & (gtype == WKB_LINESTRING) & (lens == 9 + 16 * npts)
    ok = _pad_budget_filter(ok, npts)
    ks = np.nonzero(ok)[0]
    if not len(ks):
        return ok, None, None, None
    npv = npts[ks]
    maxp = int(npv.max())
    idx = s[ks, None] + 9 + np.arange(maxp * 16, dtype=np.int64)[None, :]
    np.minimum(idx, len(flat) - 1, out=idx)
    coords = flat[idx].view("<f8")
    xs = np.ascontiguousarray(coords[:, 0::2])
    ys = np.ascontiguousarray(coords[:, 1::2])
    pad = np.arange(maxp)[None, :] >= npv[:, None]
    xs[pad] = 0.0
    ys[pad] = 0.0
    return ok, xs, ys, npv


def decode_point_batch(blobs):
    """Vectorized decode of LE 2-D 21-byte point WKBs inside a mixed
    batch. Returns ``(ok, xs, ys)`` with xs/ys aligned to ``ok`` rows."""
    n = len(blobs)
    if n == 0:
        return np.zeros(0, dtype=bool), None, None
    lens = np.fromiter(
        (0 if b is None else len(b) for b in blobs), np.int64, count=n
    )
    ok = lens == 21
    if not ok.any():
        return np.zeros(n, dtype=bool), None, None
    cat = b"".join(bytes(b) for b in blobs if b is not None)
    flat = np.frombuffer(cat, dtype=np.uint8)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    s = starts.copy()
    s[~ok] = 0
    b0 = flat[np.minimum(s, len(flat) - 1)]
    gtype = _u32_gather(flat, s + 1)
    ok &= (b0 == 1) & (gtype == WKB_POINT)
    ks = np.nonzero(ok)[0]
    if not len(ks):
        return ok, None, None
    idx = s[ks, None] + 5 + np.arange(16, dtype=np.int64)[None, :]
    xy = flat[idx].view("<f8")
    return ok, np.ascontiguousarray(xy[:, 0]), np.ascontiguousarray(xy[:, 1])


def parse_wkb_batch(blobs):
    """Column-batched parse → list of geometry tuples (same shapes as
    :func:`parse_wkb`; None rows stay None). The dominant little-endian
    2-D shapes — Point, LineString, single-ring Polygon — decode through
    the vectorized batch gathers (one header pass + one fancy-index
    gather per Arrow batch) instead of a per-row byte walk; everything
    else falls back to parse_wkb."""
    n = len(blobs)
    out: list = [None] * n
    if n == 0:
        return out
    okpt, pxs, pys = decode_point_batch(blobs)
    for j, i in enumerate(np.nonzero(okpt)[0]):
        out[i] = ("Point", (float(pxs[j]), float(pys[j])))
    okpl, xs, ys, npv = decode_polygon1_batch(blobs)
    for j, i in enumerate(np.nonzero(okpl)[0]):
        m = int(npv[j])
        ring = np.empty((m, 2))
        ring[:, 0] = xs[j, :m]
        ring[:, 1] = ys[j, :m]
        out[i] = ("Polygon", [ring])
    okls, lxs, lys, lnp = decode_linestring_batch(blobs)
    for j, i in enumerate(np.nonzero(okls)[0]):
        m = int(lnp[j])
        c = np.empty((m, 2))
        c[:, 0] = lxs[j, :m]
        c[:, 1] = lys[j, :m]
        out[i] = ("LineString", c)
    for i, b in enumerate(blobs):
        if out[i] is None and b is not None:
            out[i] = parse_wkb(bytes(b))
    return out


def _tuple_envelope(g):
    """(minx, miny, maxx, maxy) of a parsed geometry tuple — same
    all-coordinate walk as ops.envelope (holes included); NaN for empty."""
    name, payload = g
    if name == "Point":
        return payload[0], payload[1], payload[0], payload[1]
    if name == "LineString":
        c = np.asarray(payload, dtype=float)
        if len(c) == 0:
            return (np.nan,) * 4
        return c[:, 0].min(), c[:, 1].min(), c[:, 0].max(), c[:, 1].max()
    if name == "Polygon":
        boxes = [_tuple_envelope(("LineString", r)) for r in payload if len(r)]
    else:  # Multi* / GeometryCollection
        boxes = [_tuple_envelope(child) for child in payload]
    boxes = [b for b in boxes if not np.isnan(b[0])]
    if not boxes:
        return (np.nan,) * 4
    return (min(b[0] for b in boxes), min(b[1] for b in boxes),
            max(b[2] for b in boxes), max(b[3] for b in boxes))


def envelopes_batch(blobs, _dedup: bool = True):
    """Batched envelope gather — the bbox half of the reference's
    FilterGeometry staging (ogrlayer.cpp:2253-2325: envelope reject
    before the exact geometry test). Returns ``(minx, miny, maxx, maxy,
    parsed)`` float64 arrays with NaN for NULL/empty rows; ``parsed``
    holds the geometry tuple for rows that needed a per-row parse so the
    caller can reuse it instead of parsing twice.

    Repeated blobs (the broadcast dim side of a spatial join repeats a
    handful of geometries across the whole batch) are deduped first:
    envelopes are computed once per distinct blob and scattered back."""
    n = len(blobs)
    minx = np.full(n, np.nan)
    miny = np.full(n, np.nan)
    maxx = np.full(n, np.nan)
    maxy = np.full(n, np.nan)
    parsed: list = [None] * n
    if n == 0:
        return minx, miny, maxx, maxy, parsed
    if _dedup and n >= 32:
        index: dict = {}
        for b in blobs:
            if b is not None and b not in index:
                index[b] = len(index)
        if 2 * len(index) <= n:
            res = envelopes_batch(list(index), _dedup=False)
            pos = np.fromiter(
                (-1 if b is None else index[b] for b in blobs),
                np.int64, count=n,
            )
            has = pos >= 0
            hp = pos[has]
            minx[has] = res[0][hp]
            miny[has] = res[1][hp]
            maxx[has] = res[2][hp]
            maxy[has] = res[3][hp]
            if any(g is not None for g in res[4]):
                for i in np.nonzero(has)[0].tolist():
                    parsed[i] = res[4][pos[i]]
            return minx, miny, maxx, maxy, parsed
    handled = np.zeros(n, dtype=bool)
    okpt, pxs, pys = decode_point_batch(blobs)
    ks = np.nonzero(okpt)[0]
    if len(ks):
        minx[ks] = maxx[ks] = pxs
        miny[ks] = maxy[ks] = pys
        handled |= okpt
    for ok, xs, ys, npv in (decode_polygon1_batch(blobs),
                            decode_linestring_batch(blobs)):
        ks = np.nonzero(ok)[0]
        if not len(ks):
            continue
        # pad cells repeat the row's first coordinate so min/max hold
        padm = np.arange(xs.shape[1])[None, :] >= npv[:, None]
        x = np.where(padm, xs[:, :1], xs)
        y = np.where(padm, ys[:, :1], ys)
        minx[ks] = x.min(axis=1)
        miny[ks] = y.min(axis=1)
        maxx[ks] = x.max(axis=1)
        maxy[ks] = y.max(axis=1)
        handled |= ok
    for i, b in enumerate(blobs):
        if b is None or handled[i]:
            continue
        g = parse_wkb(bytes(b))
        parsed[i] = g
        minx[i], miny[i], maxx[i], maxy[i] = _tuple_envelope(g)
    return minx, miny, maxx, maxy, parsed


def polygon_rings(buf: bytes) -> list[np.ndarray]:
    """All rings of a Polygon/MultiPolygon WKB as a flat list of (N,2) arrays,
    exterior-first per part."""
    name, payload = parse_wkb(buf)
    if name == "Polygon":
        return payload
    if name == "MultiPolygon":
        out = []
        for _, rings in payload:
            out.extend(rings)
        return out
    raise ValueError(f"not a polygon: {name}")
