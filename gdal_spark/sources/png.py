"""PNG reader/writer hand-rolled from the public PNG spec (ISO 15948 /
RFC 2083) — the capability surface of the reference's PNG driver
(``frmts/png/pngdataset.cpp``), built on stdlib zlib only.

Read: bit depths 8/16; color types 0 (gray), 2 (RGB), 3 (palette —
exposed as the INDEX band plus a color table, exactly the reference's
band model, so its documented checksums apply), 4 (gray+alpha),
6 (RGBA); interlace 0 and Adam7; tRNS on type 2 surfaces as the
reference's NODATA_VALUES metadata (pngdataset.cpp tRNS handling), on
type 3 as per-index alpha. Verified against the reference's own
documented fixture checksums (autotest/gdrivers/png.py:38,102,112;
gdrivers/tga.py:147 for the interlaced stefan_full_rgba).

Write: non-interlaced 8/16-bit gray / gray+alpha / RGB / RGBA / palette
with per-row adaptive filtering (min-sum-of-absolute-differences, the
libpng default heuristic the reference inherits).

Scale note: one PNG is ONE zlib stream — not splittable, so (like
shapefile/GPKG and unlike GeoTIFF/FlatGeobuf) a single file decodes in
one task. The distributed uses are many-small-files: the XYZ tile
pyramid sink writes one PNG per tile executor-side, and
multimodal.decode="real" decodes per-blob inside Arrow batches. Bulk
raster interchange stays GeoTIFF/parquet (PLANS.md §4).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.raster.model import RasterMeta, TILES_SCHEMA

SIGNATURE = b"\x89PNG\r\n\x1a\n"
WRITE_MAX_ROWS = 200_000  # write_png collects at most this many tile rows

# channels per color type
_CTYPE_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# Adam7 pass grid: (x0, y0, dx, dy) per the spec's interlace table
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _iter_chunks(data: bytes):
    if data[:8] != SIGNATURE:
        raise ValueError("not a PNG file")
    pos = 8
    while pos + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + ln]
        if len(payload) != ln:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack(">I", data[pos + 8 + ln : pos + 12 + ln])
        if zlib.crc32(ctype + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {ctype!r} chunk")
        yield ctype, payload
        pos += 12 + ln
        if ctype == b"IEND":
            return
    raise ValueError("missing IEND")


def _unfilter(raw: memoryview, h: int, row_bytes: int, bpp: int) -> np.ndarray:
    """Reverse the per-scanline filters (spec §6) over ``h`` rows of
    ``1 + row_bytes`` bytes each → (h, row_bytes) uint8.

    None/Sub/Up vectorize (Sub is a per-lane prefix sum mod 256);
    Average/Paeth carry a left-neighbor dependency and walk the row."""
    arr = np.frombuffer(raw, dtype=np.uint8, count=h * (1 + row_bytes))
    arr = arr.reshape(h, 1 + row_bytes)
    out = np.zeros((h, row_bytes), dtype=np.uint8)
    prev = np.zeros(row_bytes, dtype=np.int64)
    for y in range(h):
        ft = int(arr[y, 0])
        line = arr[y, 1:].astype(np.int64)
        if ft == 0:
            rec = line
        elif ft == 1:  # Sub: recon[x] = filt[x] + recon[x-bpp]
            rec = line
            for lane in range(bpp):
                rec[lane::bpp] = np.cumsum(rec[lane::bpp]) % 256
        elif ft == 2:  # Up
            rec = (line + prev) % 256
        elif ft == 3:  # Average
            rec = np.empty_like(line)
            for x in range(row_bytes):
                left = rec[x - bpp] if x >= bpp else 0
                rec[x] = (line[x] + ((left + prev[x]) >> 1)) % 256
        elif ft == 4:  # Paeth
            rec = np.empty_like(line)
            for x in range(row_bytes):
                a = rec[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa = abs(p - a)
                pb = abs(p - b)
                pc = abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (line[x] + pr) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[y] = rec
        prev = rec
    return out


def _rows_to_samples(rows: np.ndarray, w: int, channels: int, depth: int) -> np.ndarray:
    """(h, row_bytes) filtered-out rows → (h, w, channels) uint8/uint16
    (16-bit samples are big-endian in the stream)."""
    h = rows.shape[0]
    if depth == 8:
        return rows.reshape(h, w, channels)
    u16 = rows.reshape(h, w * channels * 2).copy().view(">u2").astype(np.uint16)
    return u16.reshape(h, w, channels)


def decode_png(data: bytes):
    """Decode one PNG → ``(bands, info)``: bands = {1..n: (H, W) array}
    (palette images yield the index band, like the reference driver);
    info carries width/height/bit_depth/color_type/palette/trns/nodata."""
    width = height = depth = ctype = interlace = None
    palette = None
    trns = None
    idat = []
    for tag, payload in _iter_chunks(data):
        if tag == b"IHDR":
            width, height, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if comp != 0 or filt != 0:
                raise ValueError("invalid IHDR compression/filter method")
            if depth not in (8, 16):
                raise NotImplementedError(f"PNG bit depth {depth} (only 8/16)")
            if ctype not in _CTYPE_CHANNELS:
                raise ValueError(f"invalid PNG color type {ctype}")
            if interlace not in (0, 1):
                raise ValueError(f"invalid interlace method {interlace}")
        elif tag == b"PLTE":
            palette = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"tRNS":
            trns = payload
        elif tag == b"IDAT":
            idat.append(payload)
    if width is None:
        raise ValueError("missing IHDR")
    stream = zlib.decompress(b"".join(idat))
    channels = _CTYPE_CHANNELS[ctype]
    bps = depth // 8
    bpp = channels * bps
    img = np.zeros((height, width, channels),
                   dtype=np.uint8 if depth == 8 else np.uint16)
    if interlace == 0:
        row_bytes = width * bpp
        rows = _unfilter(memoryview(stream), height, row_bytes, bpp)
        img[:] = _rows_to_samples(rows, width, channels, depth)
    else:  # Adam7: seven independently-filtered sub-images
        mv = memoryview(stream)
        pos = 0
        for (x0, y0, dx, dy) in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            row_bytes = pw * bpp
            rows = _unfilter(mv[pos:], ph, row_bytes, bpp)
            pos += ph * (1 + row_bytes)
            img[y0::dy, x0::dx] = _rows_to_samples(rows, pw, channels, depth)
    info = {
        "width": int(width), "height": int(height), "bit_depth": int(depth),
        "color_type": int(ctype), "interlace": int(interlace),
        "palette": palette, "trns": None, "nodata_values": None,
    }
    if trns is not None:
        if ctype == 3:
            info["trns"] = np.frombuffer(trns, dtype=np.uint8)
        elif ctype == 2:
            # the reference maps tRNS on RGB to NODATA_VALUES metadata
            info["nodata_values"] = list(struct.unpack(">HHH", trns[:6]))
        elif ctype == 0:
            info["nodata_values"] = [struct.unpack(">H", trns[:2])[0]]
    bands = {
        b + 1: np.ascontiguousarray(img[:, :, b]) for b in range(channels)
    }
    return bands, info


def _paeth_pred(left, up, ul):
    p = left + up - ul
    pa = np.abs(p - left)
    pb = np.abs(p - up)
    pc = np.abs(p - ul)
    return np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul))


def encode_png(
    bands: dict[int, np.ndarray],
    palette: np.ndarray | None = None,
    trns=None,
    filter_type: int | str = "adaptive",
) -> bytes:
    """Encode band arrays (uint8 or uint16) → PNG bytes. Band counts map
    to color types 1→0 (or 3 with ``palette``), 2→4, 3→2, 4→6.
    ``filter_type``: a fixed filter 0-4 or 'adaptive' (per-row min-sum-
    of-abs, the libpng default heuristic). Filtering is closed-form over
    the original samples, so every candidate vectorizes."""
    keys = sorted(bands)
    channels = len(keys)
    arrs = [np.asarray(bands[k]) for k in keys]
    h, w = arrs[0].shape
    depth = 16 if arrs[0].dtype == np.uint16 else 8
    if palette is not None:
        if channels != 1 or depth != 8:
            raise ValueError("palette PNG needs one uint8 index band")
        ctype = 3
    else:
        ctype = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    bps = depth // 8
    bpp = channels * bps
    img = np.stack(arrs, axis=-1)
    if depth == 16:
        raw = np.ascontiguousarray(
            img.astype(">u2").reshape(h, w * channels)
        ).view(np.uint8)
    else:
        raw = img.astype(np.uint8).reshape(h, w * channels)
    raw = np.ascontiguousarray(raw)
    left = np.zeros_like(raw)
    left[:, bpp:] = raw[:, :-bpp]
    up = np.zeros_like(raw)
    up[1:] = raw[:-1]
    ul = np.zeros_like(raw)
    ul[1:, bpp:] = raw[:-1, :-bpp]
    r16 = raw.astype(np.int16)
    cands = {
        0: raw,
        1: (r16 - left).astype(np.uint8),
        2: (r16 - up).astype(np.uint8),
        3: (r16 - ((left.astype(np.int16) + up) >> 1)).astype(np.uint8),
        4: (r16 - _paeth_pred(left.astype(np.int16), up.astype(np.int16),
                              ul.astype(np.int16))).astype(np.uint8),
    }
    if filter_type == "adaptive":
        costs = np.stack([
            np.minimum(c.astype(np.int16), 256 - c.astype(np.int16)).sum(axis=1)
            for c in (cands[f] for f in range(5))
        ])
        pick = np.argmin(costs, axis=0)
    else:
        pick = np.full(h, int(filter_type), dtype=np.int64)
    stream = bytearray()
    for y in range(h):
        f = int(pick[y])
        stream.append(f)
        stream.extend(cands[f][y].tobytes())

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))

    out = bytearray(SIGNATURE)
    out += chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0))
    if palette is not None:
        out += chunk(b"PLTE", np.asarray(palette, dtype=np.uint8).tobytes())
    if trns is not None:
        if ctype == 3:
            out += chunk(b"tRNS", np.asarray(trns, dtype=np.uint8).tobytes())
        elif ctype == 2:
            out += chunk(b"tRNS", struct.pack(">HHH", *[int(v) for v in trns]))
        elif ctype == 0:
            out += chunk(b"tRNS", struct.pack(">H", int(trns[0])))
    out += chunk(b"IDAT", zlib.compress(bytes(stream), 6))
    out += chunk(b"IEND", b"")
    return bytes(out)


def read_png(
    spark: SparkSession, path: str, block_w: int = 256, block_h: int = 256,
) -> tuple[DataFrame, RasterMeta]:
    """PNG → tiles DataFrame + meta. Driver-side decode (single zlib
    stream — not splittable; documented like the shapefile reader); a
    sidecar ``.wld`` world file is honored for the geotransform, else the
    identity GT the reference reports for bare PNGs."""
    bands, info = decode_png(open(path, "rb").read())
    gt = (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)
    for ext in (".wld", ".pgw"):
        try:
            vals = [float(v) for v in open(path.rsplit(".", 1)[0] + ext).read().split()]
            # world file order: GT1 GT4 GT2 GT5 GT0 GT3, anchored at the
            # CENTER of the top-left pixel
            gt = (vals[4] - vals[0] / 2 - vals[2] / 2, vals[0], vals[2],
                  vals[5] - vals[1] / 2 - vals[3] / 2, vals[1], vals[3])
            break
        except FileNotFoundError:
            continue
    meta = RasterMeta(
        width=info["width"], height=info["height"],
        dtype="uint8" if info["bit_depth"] == 8 else "uint16",
        block_w=min(block_w, info["width"]), block_h=min(block_h, info["height"]),
        gt=gt, bands=len(bands),
    )
    rows = []
    for b, arr in bands.items():
        for by in range(meta.blocks_y):
            for bx in range(meta.blocks_x):
                bh, bw = meta.block_shape(bx, by)
                blk = arr[by * meta.block_h : by * meta.block_h + bh,
                          bx * meta.block_w : bx * meta.block_w + bw]
                rows.append((b, by, bx, bh, bw,
                             np.ascontiguousarray(blk).tobytes()))
    return spark.createDataFrame(rows, TILES_SCHEMA), meta


def write_png(
    tiles: DataFrame, meta: RasterMeta, path: str,
) -> None:
    """Fixture-scale PNG sink (at most ``WRITE_MAX_ROWS`` tile rows);
    assembles the band arrays on the driver and encodes one file. The distributed
    PNG sink is the tile pyramid (one PNG per tile, executor-side)."""
    rows = tiles.limit(WRITE_MAX_ROWS + 1).collect()
    if len(rows) > WRITE_MAX_ROWS:
        raise ValueError(
            f"write_png is a fixture-scale sink (> {WRITE_MAX_ROWS} tile rows)")
    np_dtype = np.dtype(meta.dtype)
    bands = sorted({r.band for r in rows})
    arrs = {
        b: np.zeros((meta.height, meta.width), dtype=np_dtype) for b in bands
    }
    for r in rows:
        blk = np.frombuffer(bytes(r.data), dtype=np_dtype).reshape(r.h, r.w)
        arrs[r.band][
            r.block_y * meta.block_h : r.block_y * meta.block_h + r.h,
            r.block_x * meta.block_w : r.block_x * meta.block_w + r.w,
        ] = blk
    with open(path, "wb") as f:
        f.write(encode_png(arrs))
