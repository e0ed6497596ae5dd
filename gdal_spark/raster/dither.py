"""Floyd–Steinberg dithering to a palette (``GDALDitherRGB2PCT``,
alg/gdaldither.cpp), distributed as a SKEWED block wavefront.

Reference semantics replicated exactly (the public entry point's
nBits=5 colormap path, gdaldither.cpp:140-151 → DitherRGB2PCTInternal):

- per scanline, the carried error row is first applied with a 0..255
  clamp (gdaldither.cpp:380-391), then pixels run left→right adding the
  in-line carry with a second clamp;
- nearest color via a precomputed 32³ level cube: cell (iR,iG,iB) with
  representative value ``(i*255)/(nCLevels-1)`` mapped by L1 distance,
  first index wins ties (FindNearestColor, gdaldither.cpp:582+, 692+);
- error split (NOT the textbook 7/16 weights — GDAL uses sixths,
  gdaldither.cpp:514-553, all C ints with trunc-toward-zero division):
  ``nSixth = nError/6``; next line gets ``nSixth`` at x−1 and x+1 and
  ``nError − 5·nSixth`` at x; the in-line carry to x+1 is ``2·nSixth``;
- errors falling outside the raster are dropped (the ±1 slots of the
  padded error row, gdaldither.cpp:265).

Distribution. The recurrence's dependency cone — pixel (y,x) needs
(y,x−1) and (y−1,x+1) — makes any rectangular column split cyclic, but
in SKEWED coordinates ``u = x + 2y`` every dependency points to a
strictly smaller u: (y,x−1)→u−1, (y−1,x+1)→u−1, (y−1,x)→u−2,
(y−1,x−1)→u−3. So parallelogram blocks (row band ``by`` × u-range
``bu``) form a wavefront: block (by,bu) depends only on (by,bu−1),
(by−1,bu) and (by−1,bu−1), all with smaller ``by+bu`` — anti-diagonal
round t = by+bu, the same machinery as raster/viewshed.py. Between
rounds only slim int64 packets move: per block, the right boundary
(in-line carries + 3 u-columns of next-row slots, 12 ints/row) and the
bottom error row (3·(buw+3) ints). Inside a block the sweep is fully
vectorized: pixels sharing one u-column are mutually independent, so
the kernel does ``buw`` NumPy steps of height ``block_h`` — no per-pixel
Python in the distributed path.

Critical path = nby + nbu rounds (the serial scan order is inherent to
error diffusion — the reference is a strict single scanline loop);
parallelism = anti-diagonal width. Pick block_h/block_u ≈
raster_diameter / acceptable_rounds exactly as for viewshed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gdal_spark.raster.model import RasterMeta, TILES_SCHEMA

N_LEVELS = 32  # public GDALDitherRGB2PCT path: nBits=5 → 32 levels/axis


def find_nearest_color_np(pct: np.ndarray, r, g, b) -> np.ndarray:
    """Vectorized FindNearestColor (gdaldither.cpp:667-681 scalar form):
    L1 distance over the palette, lowest index wins ties (argmin
    first-occurrence ≡ the reference's strict ``<`` update)."""
    p = np.asarray(pct, dtype=np.int64)
    r = np.atleast_1d(np.asarray(r, dtype=np.int64))
    g = np.atleast_1d(np.asarray(g, dtype=np.int64))
    b = np.atleast_1d(np.asarray(b, dtype=np.int64))
    d = (
        np.abs(r[:, None] - p[None, :, 0])
        + np.abs(g[:, None] - p[None, :, 1])
        + np.abs(b[:, None] - p[None, :, 2])
    )
    return d.argmin(axis=1)


def build_colormap(pct: np.ndarray, n_levels: int = N_LEVELS) -> np.ndarray:
    """The nCLevels³ direct colormap (gdaldither.cpp:692+): cell
    (iR,iG,iB) keyed ``iR + iG·n + iB·n²`` holds the nearest palette
    index of the representative ``(i*255)//(n-1)`` per axis."""
    lv = (np.arange(n_levels, dtype=np.int64) * 255) // (n_levels - 1)
    ib, ig, ir = np.meshgrid(lv, lv, lv, indexing="ij")
    idx = find_nearest_color_np(pct, ir.ravel(), ig.ravel(), ib.ravel())
    return idx.astype(np.uint8)  # index [iR + iG*n + iB*n*n]


def _trunc6(e: np.ndarray) -> np.ndarray:
    """C integer division by 6 (truncation toward zero, not floor)."""
    return np.sign(e) * (np.abs(e) // 6)


def dither_rgb2pct_np(
    r: np.ndarray, g: np.ndarray, b: np.ndarray, pct: np.ndarray,
) -> np.ndarray:
    """Single-node oracle: the reference's scanline loop transcribed as
    plain per-pixel integer arithmetic (no vectorization tricks — this
    is the ground truth the distributed kernel is tested against)."""
    H, W = r.shape
    pct = np.asarray(pct, dtype=np.int64)
    cmap = build_colormap(pct)
    n_levels = N_LEVELS
    out = np.zeros((H, W), dtype=np.uint8)
    err = np.zeros((W + 2, 3), dtype=np.int64)  # slot j at index j+1
    chans = (r.astype(np.int64), g.astype(np.int64), b.astype(np.int64))
    for y in range(H):
        line = [np.clip(c[y] + err[1 : W + 1, i], 0, 255) for i, c in enumerate(chans)]
        nxt = np.zeros((W + 2, 3), dtype=np.int64)
        last = [0, 0, 0]
        for x in range(W):
            v = [int(min(255, max(0, line[i][x] + last[i]))) for i in range(3)]
            q = [(v[i] * n_levels) // 256 for i in range(3)]
            ii = int(cmap[q[0] + q[1] * n_levels + q[2] * n_levels * n_levels])
            out[y, x] = ii
            for i in range(3):
                e = v[i] - int(pct[ii, i])
                s = int(abs(e) // 6) * (1 if e >= 0 else -1)
                nxt[x, i] += s            # slot x-1
                nxt[x + 2, i] += s        # slot x+1 (assignment ≡ add on zeroed row)
                nxt[x + 1, i] += e - 5 * s  # slot x
                last[i] = 2 * s
        err = nxt
    return out


def _dither_sweep(
    raw: np.ndarray,        # (bh, buw, 3) int64 pixel values (garbage where invalid)
    valid: np.ndarray,      # (bh, buw) bool
    err_in: np.ndarray,     # (bh, buw+3, 3) int64 incoming slot errors
    c2_in: np.ndarray,      # (bh, 3) int64 incoming in-line carries
    pct: np.ndarray, cmap: np.ndarray, n_levels: int,
):
    """Vectorized parallelogram sweep: one NumPy step per u-column (all
    rows of a u-column are mutually independent — see module docstring).
    Returns (out_idx, err_out, c2_out) where err_out is (bh+1, buw+3, 3):
    rows 1..bh-1 columns buw..buw+3 cross to the right neighbor, row bh
    crosses to the band below."""
    bh, buw = valid.shape
    err = np.zeros((bh + 1, buw + 3, 3), dtype=np.int64)
    err[:bh] += err_in
    c2 = c2_in.astype(np.int64).copy()
    out = np.zeros((bh, buw), dtype=np.uint8)
    n2 = n_levels * n_levels
    rows = np.arange(bh)
    for du in range(buw):
        m = valid[:, du]
        if not m.any():
            continue
        rm = rows[m]
        q = np.empty((m.sum(), 3), dtype=np.int64)
        vs = np.empty((m.sum(), 3), dtype=np.int64)
        for ch in range(3):
            v1 = np.clip(raw[rm, du, ch] + err[rm, du, ch], 0, 255)
            vs[:, ch] = np.clip(v1 + c2[rm, ch], 0, 255)
            q[:, ch] = (vs[:, ch] * n_levels) // 256
        ii = cmap[q[:, 0] + q[:, 1] * n_levels + q[:, 2] * n2].astype(np.int64)
        out[rm, du] = ii
        e = vs - pct[ii]            # (k, 3)
        s = _trunc6(e)
        err[rm + 1, du + 1] += s
        err[rm + 1, du + 2] += e - 5 * s
        err[rm + 1, du + 3] += s
        c2[rm] = 2 * s
    return out, err, c2


_DITHER_SCHEMA = (
    "role STRING, by INT, bu INT, band INT, tx INT, u0 LONG, y0 LONG, data BINARY"
)


def dither_rgb2pct(
    tiles: DataFrame,
    meta: RasterMeta,
    pct: np.ndarray,
    block_u: int | None = None,
) -> DataFrame:
    """Distributed GDALDitherRGB2PCT: RGB tiles (bands 1, 2, 3) →
    single-band uint8 palette-index tiles on ``meta``'s grid.

    Wavefront rounds t = by + bu over skewed blocks (module docstring);
    per-round boundary traffic is O(block_h + block_u) int64s per block
    — no pixel data on the driver."""
    H, W = meta.height, meta.width
    bh, bw = meta.block_h, meta.block_w
    pct = np.asarray(pct, dtype=np.int64)
    cmap = build_colormap(pct)
    buw = int(block_u) if block_u else bw + 2 * bh
    nby = meta.blocks_y
    umax = (W - 1) + 2 * (H - 1)
    nbu = umax // buw + 1
    spark = tiles.sparkSession

    # need list: (by, bu) → source tile tx range (ty == by; bands aligned)
    needs = []
    for by in range(nby):
        y0, y1 = by * bh, min((by + 1) * bh, H)
        for bu in range(nbu):
            u0, u1 = bu * buw, (bu + 1) * buw
            xlo = max(0, u0 - 2 * (y1 - 1))
            xhi = min(W, u1 - 2 * y0)
            if xhi <= xlo:
                continue
            for tx in range(xlo // bw, (xhi - 1) // bw + 1):
                needs.append((by, bu, tx))
    need_df = spark.createDataFrame(needs, "by INT, bu INT, tx INT")
    src = tiles.filter(F.col("band").isin(1, 2, 3)).select(
        F.col("block_y").alias("by"),
        F.col("block_x").alias("tx"),
        "band", "h", "w", "data",
    )
    pix = (
        need_df.join(src, ["by", "tx"])
        .select(
            F.lit("PIX").alias("role"), "by", "bu", "band", "tx",
            F.lit(0).cast("long").alias("u0"), F.lit(0).cast("long").alias("y0"),
            "data",
        )
    )
    dtype = meta.dtype

    def proc(key, pdf):
        by, bu = int(key[0]), int(key[1])
        y0, y1 = by * bh, min((by + 1) * bh, H)
        nrow = y1 - y0
        u0, u1 = bu * buw, (bu + 1) * buw
        xlo = max(0, u0 - 2 * (y1 - 1))
        xhi = min(W, u1 - 2 * y0)
        rect = np.zeros((nrow, max(0, xhi - xlo), 3), dtype=np.int64)
        seen_pix = False
        err_in = np.zeros((nrow, buw + 3, 3), dtype=np.int64)
        c2_in = np.zeros((nrow, 3), dtype=np.int64)
        for rr in pdf.itertuples():
            role = str(rr.role)
            if role == "PIX":
                seen_pix = True
                th = min(bh, H - by * bh)
                tw = min(bw, W - int(rr.tx) * bw)
                a = np.frombuffer(rr.data, dtype=dtype).reshape(th, tw)
                gx0 = int(rr.tx) * bw
                cx0 = max(gx0, xlo)
                cx1 = min(gx0 + a.shape[1], xhi)
                if cx1 > cx0:
                    rect[:, cx0 - xlo : cx1 - xlo, int(rr.band) - 1] = a[
                        :nrow, cx0 - gx0 : cx1 - gx0
                    ]
            elif role == "R":
                buf = np.frombuffer(rr.data, dtype=np.int64)
                c2_in += buf[: nrow * 3].reshape(nrow, 3)
                err_in[:, 0:3] += buf[nrow * 3 :].reshape(nrow, 3, 3)
            elif role == "TB":
                err_in[0, 0:buw] += np.frombuffer(rr.data, dtype=np.int64).reshape(buw, 3)
            elif role == "TD":
                err_in[0, 0:3] += np.frombuffer(rr.data, dtype=np.int64).reshape(3, 3)
        if not seen_pix:  # packet addressed past the active block set
            return pd.DataFrame([], columns=[
                "role", "by", "bu", "band", "tx", "u0", "y0", "data"])
        ys = y0 + np.arange(nrow)
        xs = u0 + np.arange(buw)[None, :] - 2 * ys[:, None]
        valid = (xs >= 0) & (xs < W)
        xc = np.clip(xs - xlo, 0, max(0, xhi - xlo - 1))
        raw = rect[np.arange(nrow)[:, None], xc]
        out_idx, err_out, c2_out = _dither_sweep(
            raw, valid, err_in, c2_in, pct, cmap, N_LEVELS
        )
        rows = []
        # result fragments: one per covered storage tile column
        payload = out_idx.tobytes()
        for tx in range(xlo // bw, (xhi - 1) // bw + 1):
            rows.append(("OUT", by, bu, 0, tx, u0, y0, payload))
        # right packet: in-line carries + 3 u-columns of next-row slots
        if bu + 1 < nbu:
            # err_out[k] = slot errors for target relative row k; row 0's
            # slice is always zero (contributions only write rows ≥ 1) and
            # row nrow belongs to the bottom packet, not this one.
            rbuf = np.concatenate([
                c2_out.ravel(), err_out[0:nrow, buw : buw + 3].ravel()
            ]).astype(np.int64)
            rows.append(("R", by, bu + 1, 0, -1, u0, y0, rbuf.tobytes()))
        if by + 1 < nby:
            bot = err_out[nrow]  # (buw+3, 3) targets row y1, u ∈ [u0, u1+3)
            rows.append(("TB", by + 1, bu, 0, -1, u0, y0,
                         np.ascontiguousarray(bot[0:buw]).tobytes()))
            if bu + 1 < nbu:
                rows.append(("TD", by + 1, bu + 1, 0, -1, u0, y0,
                             np.ascontiguousarray(bot[buw : buw + 3]).tobytes()))
        return pd.DataFrame(
            rows, columns=["role", "by", "bu", "band", "tx", "u0", "y0", "data"]
        )

    results = []
    bounds = None
    max_t = (nby - 1) + (nbu - 1)
    for t in range(max_t + 1):
        cand = pix.filter(F.col("by") + F.col("bu") == t)
        if bounds is not None:
            cand = cand.unionByName(bounds.filter(F.col("by") + F.col("bu") == t))
        out = cand.groupBy("by", "bu").applyInPandas(proc, _DITHER_SCHEMA).persist()
        results.append(out.filter(F.col("role") == "OUT"))
        nb = out.filter(F.col("role").isin(["R", "TB", "TD"]))
        bounds = nb if bounds is None else bounds.unionByName(nb)

    def assemble(key, pdf):
        by, tx = int(key[0]), int(key[1])
        y0t, x0t = by * bh, tx * bw
        hgt = min(bh, H - y0t)
        wid = min(bw, W - x0t)
        arr = np.zeros((hgt, wid), dtype=np.uint8)
        for rr in pdf.itertuples():
            u0 = int(rr.u0)
            sk = np.frombuffer(rr.data, dtype=np.uint8).reshape(hgt, -1)
            ys = y0t + np.arange(hgt)
            xs = u0 + np.arange(sk.shape[1])[None, :] - 2 * ys[:, None]
            m = (xs >= x0t) & (xs < x0t + wid)
            ri, ci = np.nonzero(m)
            arr[ri, xs[ri, ci] - x0t] = sk[ri, ci]
        return pd.DataFrame(
            [(1, by, tx, hgt, wid, arr.tobytes())],
            columns=["band", "block_y", "block_x", "h", "w", "data"],
        )

    allres = results[0]
    for p in results[1:]:
        allres = allres.unionByName(p)
    return (
        allres.select(F.col("by"), F.col("tx"), F.col("u0"), F.col("data"))
        .groupBy("by", "tx")
        .applyInPandas(assemble, TILES_SCHEMA)
    )
