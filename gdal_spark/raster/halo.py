"""Tile-halo exchange — the distributed substrate for focal/kernel ops.

Every raster operator whose output pixel needs a neighborhood (cubic
interpolation 4×4, DEM 3×3 stencils, focal filters) requires each block to
see ``halo`` pixels of its neighbors. The reference gets this for free from
its in-process block cache (gcore/gdalrasterblock.cpp); the distributed
re-expression is a strip-exchange:

1. every block emits its interior + up to 8 boundary strips keyed by the
   *receiving* block (mapInPandas — pure NumPy slicing),
2. groupBy(receiving block) assembles a padded (h+2r)×(w+2r) array
   (applyInPandas),
3. outside the raster, edge pixels replicate (index-clamp semantics —
   exactly the reference's out-of-border "drag",
   alg/gdal_interpolateatpoint.cpp:205-265).

Shuffle volume is O(perimeter × halo) per block — the minimum possible.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from gdal_spark.raster.model import RasterMeta

PADDED_SCHEMA = "band INT, block_y INT, block_x INT, h INT, w INT, halo INT, data BINARY"


def padded_blocks(tiles: DataFrame, meta: RasterMeta, halo: int) -> DataFrame:
    """Return a DataFrame of blocks padded by ``halo`` pixels on each side.

    ``data`` holds the (h+2*halo)×(w+2*halo) array; edge replication is
    applied at raster borders so consumers can index without bounds checks.
    """
    dtype = meta.dtype
    bxs, bys = meta.blocks_x, meta.blocks_y
    r = halo

    def emit_strips(iterator):
        for pdf in iterator:
            rows = []
            for _, row in pdf.iterrows():
                h, w = int(row.h), int(row.w)
                arr = np.frombuffer(row.data, dtype=dtype).reshape(h, w)
                bx, by = int(row.block_x), int(row.block_y)
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        tby, tbx = by + dy, bx + dx
                        if not (0 <= tbx < bxs and 0 <= tby < bys):
                            continue
                        # slice of *this* block the target needs
                        ys = slice(max(0, h - r), h) if dy == 1 else (slice(0, min(r, h)) if dy == -1 else slice(0, h))
                        xs = slice(max(0, w - r), w) if dx == 1 else (slice(0, min(r, w)) if dx == -1 else slice(0, w))
                        piece = np.ascontiguousarray(arr[ys, xs])
                        # global coords of the piece's top-left
                        gy0 = by * meta.block_h + (ys.start or 0)
                        gx0 = bx * meta.block_w + (xs.start or 0)
                        rows.append(
                            (
                                int(row.band), tby, tbx,
                                gy0, gx0, piece.shape[0], piece.shape[1],
                                piece.tobytes(),
                            )
                        )
            yield pd.DataFrame(
                rows,
                columns=["band", "block_y", "block_x", "gy0", "gx0", "ph", "pw", "piece"],
            )

    strips = tiles.mapInPandas(
        emit_strips,
        "band INT, block_y INT, block_x INT, gy0 INT, gx0 INT, ph INT, pw INT, piece BINARY",
    )

    def assemble(key, pdf):
        band, by, bx = int(key[0]), int(key[1]), int(key[2])
        h = min(meta.block_h, meta.height - by * meta.block_h)
        w = min(meta.block_w, meta.width - bx * meta.block_w)
        y0 = by * meta.block_h - r  # global coord of padded[0,0]
        x0 = bx * meta.block_w - r
        pad = np.zeros((h + 2 * r, w + 2 * r), dtype=dtype)
        filled = np.zeros(pad.shape, dtype=bool)
        for _, row in pdf.iterrows():
            piece = np.frombuffer(row.piece, dtype=dtype).reshape(int(row.ph), int(row.pw))
            oy = int(row.gy0) - y0
            ox = int(row.gx0) - x0
            sy0, sx0 = max(0, -oy), max(0, -ox)
            ey = min(piece.shape[0], pad.shape[0] - oy)
            ex = min(piece.shape[1], pad.shape[1] - ox)
            if ey <= sy0 or ex <= sx0:
                continue
            pad[oy + sy0 : oy + ey, ox + sx0 : ox + ex] = piece[sy0:ey, sx0:ex]
            filled[oy + sy0 : oy + ey, ox + sx0 : ox + ex] = True
        # replicate raster edges into unfilled border (index-clamp semantics)
        ys = np.clip(np.arange(pad.shape[0]) + y0, 0, meta.height - 1) - y0
        xs = np.clip(np.arange(pad.shape[1]) + x0, 0, meta.width - 1) - x0
        pad = pad[np.ix_(ys, xs)]
        return pd.DataFrame(
            [(band, by, bx, h, w, r, pad.tobytes())],
            columns=["band", "block_y", "block_x", "h", "w", "halo", "data"],
        )

    return strips.groupBy("band", "block_y", "block_x").applyInPandas(assemble, PADDED_SCHEMA)
