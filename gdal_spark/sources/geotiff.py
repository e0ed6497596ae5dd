"""Classic GeoTIFF reader/writer (reference driver ``frmts/gtiff/`` over
libtiff; everything here is hand-rolled from the PUBLIC Adobe TIFF 6.0
specification, TIFF TechNote 3 (floating-point predictor), and the OGC
GeoTIFF tags — no libtiff code consulted).

Supported on read: classic (non-Big) TIFF, little- and big-endian,
strips and tiles (including partial final strips/tiles, the
autotest #1179 cases), PlanarConfiguration 1 (chunky) and 2 (separate),
compression none(1) / LZW(5) / Deflate(8, 32946) / PackBits(32773),
predictors 1 / 2 (horizontal differencing) / 3 (floating-point byte
split), sample types uint8/16/32, int16/32, float32/64. Georeferencing
from ModelPixelScale(33550) + ModelTiepoint(33922); nodata from the
GDAL_NODATA ASCII tag (42113).

Distributed shape: the driver parses ONLY the IFD (hundreds of bytes —
the strip/tile offset+bytecount index), then executors read and decode
disjoint byte ranges via ``mapInPandas`` straight into the repo's tiles
model (``TILES_SCHEMA`` blocks: strips → full-width blocks, TIFF tiles
→ square blocks). A 100 GB tiled GeoTIFF therefore scans exactly like
a parquet tileset — no driver-side pixel I/O.

Writer: classic little-endian, stripped, PlanarConfiguration 2 (one
strip run per band), optional Deflate; ModelPixelScale/Tiepoint +
GDAL_NODATA emitted from RasterMeta. Fixture-scale (driver collect,
row-capped) — the 100 TB sink remains parquet tiles.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.raster.model import TILES_SCHEMA, RasterMeta

WRITE_MAX_ROWS = 200_000  # write_geotiff collects at most this many tile rows

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8, 11: 4, 12: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 6: "b", 8: "h", 9: "i", 11: "f", 12: "d"}

_T_WIDTH, _T_HEIGHT, _T_BITS, _T_COMP, _T_PHOTO = 256, 257, 258, 259, 262
_T_STRIP_OFF, _T_SAMPLES, _T_ROWS_PER_STRIP, _T_STRIP_CNT = 273, 277, 278, 279
_T_PLANAR, _T_PREDICTOR, _T_SAMPLE_FMT = 284, 317, 339
_T_TILE_W, _T_TILE_H, _T_TILE_OFF, _T_TILE_CNT = 322, 323, 324, 325
_T_PIXEL_SCALE, _T_TIEPOINT, _T_GDAL_NODATA = 33550, 33922, 42113


@dataclass
class TiffInfo:
    path: str
    bo: str  # "<" or ">"
    width: int
    height: int
    samples: int
    dtype: str  # numpy dtype name (native order)
    compression: int
    predictor: int
    planar: int
    block_w: int
    block_h: int
    tiled: bool
    # (band(1-based), block_x, block_y, offset, bytecount)
    chunks: list = field(default_factory=list)
    gt: tuple = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    nodata: float | None = None

    def meta(self) -> RasterMeta:
        return RasterMeta(
            width=self.width, height=self.height, dtype=self.dtype,
            block_w=self.block_w, block_h=self.block_h, gt=self.gt,
            nodata=self.nodata, bands=self.samples,
        )


def _read_tag_values(buf: bytes, bo: str, typ: int, cnt: int, raw: bytes):
    size = _TYPE_SIZES.get(typ, 1) * cnt
    if size <= 4:
        val = raw[:size]
    else:
        (ptr,) = struct.unpack(bo + "I", raw)
        val = buf[ptr : ptr + size]
    if typ == 2:  # ASCII
        return val.split(b"\0")[0].decode("ascii", "replace")
    if typ == 5:  # RATIONAL
        parts = struct.unpack(bo + f"{2 * cnt}I", val)
        return tuple(parts[i] / parts[i + 1] for i in range(0, len(parts), 2))
    fmt = _TYPE_FMT.get(typ)
    if fmt is None:
        return val
    return struct.unpack(bo + f"{cnt}{fmt}", val)


def tiff_ifd_count(path: str) -> int:
    """Number of IFDs in the chain (1 + overviews/masks)."""
    with open(path, "rb") as f:
        buf = f.read()
    bo = "<" if buf[:2] == b"II" else ">"
    _magic, off = struct.unpack(bo + "HI", buf[2:8])
    count = 0
    while off and count < 64:
        (n,) = struct.unpack(bo + "H", buf[off : off + 2])
        (off,) = struct.unpack(bo + "I", buf[off + 2 + n * 12 : off + 6 + n * 12])
        count += 1
    return count


def read_tiff_header(path: str, ifd: int = 0) -> TiffInfo:
    """Driver-side IFD parse: header + tag table + offset arrays only.
    ``ifd`` selects an entry of the IFD chain — COG overview levels are
    IFDs 1.. (frmts/gtiff overview model)."""
    with open(path, "rb") as f:
        buf = f.read()  # fixture scale; a production reader would pread
    if buf[:2] == b"II":
        bo = "<"
    elif buf[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError(f"{path}: not a TIFF (no II/MM)")
    magic, ifd_off = struct.unpack(bo + "HI", buf[2:8])
    if magic == 43:
        raise NotImplementedError("BigTIFF (0x2B) not supported; classic only")
    if magic != 42:
        raise ValueError(f"{path}: bad TIFF magic {magic}")
    for _ in range(ifd):
        (n,) = struct.unpack(bo + "H", buf[ifd_off : ifd_off + 2])
        (ifd_off,) = struct.unpack(
            bo + "I", buf[ifd_off + 2 + n * 12 : ifd_off + 6 + n * 12]
        )
        if not ifd_off:
            raise ValueError(f"{path}: IFD {ifd} past end of chain")
    (n,) = struct.unpack(bo + "H", buf[ifd_off : ifd_off + 2])
    tags: dict[int, object] = {}
    for i in range(n):
        t, typ, cnt = struct.unpack(
            bo + "HHI", buf[ifd_off + 2 + i * 12 : ifd_off + 10 + i * 12]
        )
        raw = buf[ifd_off + 10 + i * 12 : ifd_off + 14 + i * 12]
        tags[t] = _read_tag_values(buf, bo, typ, cnt, raw)

    width = int(tags[_T_WIDTH][0])
    height = int(tags[_T_HEIGHT][0])
    samples = int(tags.get(_T_SAMPLES, (1,))[0])
    bits = int(tags[_T_BITS][0]) if _T_BITS in tags else 8
    fmt = int(tags.get(_T_SAMPLE_FMT, (1,))[0])
    kind = {1: "uint", 2: "int", 3: "float"}.get(fmt)
    if kind is None:
        raise NotImplementedError(f"sample format {fmt} (complex/void) unsupported")
    if bits not in (8, 16, 32, 64) or (kind != "float" and bits == 64):
        raise NotImplementedError(f"{bits}-bit {kind} samples unsupported")
    if kind == "float" and bits not in (32, 64):
        raise NotImplementedError(f"float{bits} unsupported")
    dtype = f"{kind}{bits}"
    comp = int(tags.get(_T_COMP, (1,))[0])
    if comp not in (1, 5, 8, 32946, 32773):
        raise NotImplementedError(f"TIFF compression {comp} unsupported")
    predictor = int(tags.get(_T_PREDICTOR, (1,))[0])
    planar = int(tags.get(_T_PLANAR, (1,))[0])

    tiled = _T_TILE_OFF in tags
    if tiled:
        bw, bh = int(tags[_T_TILE_W][0]), int(tags[_T_TILE_H][0])
        offs = tags[_T_TILE_OFF]
        cnts = tags[_T_TILE_CNT]
    else:
        bh = int(tags.get(_T_ROWS_PER_STRIP, (height,))[0])
        bh = min(bh, height)
        bw = width
        offs = tags[_T_STRIP_OFF]
        cnts = tags[_T_STRIP_CNT]

    across = (width + bw - 1) // bw
    down = (height + bh - 1) // bh
    per_plane = across * down
    chunks = []
    for i, (o, c) in enumerate(zip(offs, cnts)):
        if planar == 2:
            band = i // per_plane + 1
            j = i % per_plane
        else:
            band, j = 1, i
        chunks.append((band, j % across, j // across, int(o), int(c)))

    gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    if _T_PIXEL_SCALE in tags and _T_TIEPOINT in tags:
        sx, sy = tags[_T_PIXEL_SCALE][0], tags[_T_PIXEL_SCALE][1]
        tp = tags[_T_TIEPOINT]
        # raster (i,j,k) ↔ model (x,y,z): GT anchored at the tiepoint
        gt = (tp[3] - tp[0] * sx, sx, 0.0, tp[4] + tp[1] * sy, 0.0, -sy)
    nodata = None
    if _T_GDAL_NODATA in tags:
        try:
            nodata = float(str(tags[_T_GDAL_NODATA]).strip())
        except ValueError:
            nodata = None
    return TiffInfo(
        path=path, bo=bo, width=width, height=height, samples=samples,
        dtype=dtype, compression=comp, predictor=predictor, planar=planar,
        block_w=bw, block_h=bh, tiled=tiled, chunks=chunks, gt=gt,
        nodata=nodata,
    )


# ---------------------------------------------------------------------------
# codecs (TIFF 6.0 spec algorithms)
# ---------------------------------------------------------------------------


def packbits_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n and len(out) < expected:
        h = data[i]
        i += 1
        if h < 128:  # literal run of h+1
            out += data[i : i + h + 1]
            i += h + 1
        elif h > 128:  # repeat next byte 257-h times
            out += data[i : i + 1] * (257 - h)
            i += 1
        # h == 128: no-op
    return bytes(out[:expected])


def packbits_encode(data: bytes) -> bytes:
    # simple literal-run emitter (valid PackBits, not maximally compact)
    out = bytearray()
    for i in range(0, len(data), 128):
        chunk = data[i : i + 128]
        out.append(len(chunk) - 1)
        out += chunk
    return bytes(out)


def lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF-variant LZW: MSB-first bit packing, ClearCode 256, EOI 257,
    EARLY code-width change (width bumps when the table reaches
    2^w − 1, one entry before the naive point) — TIFF 6.0 §13."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = []
    width = 9
    prev: bytes | None = None
    bitpos = 0
    total = len(data) * 8
    base = [bytes([i]) for i in range(256)] + [b"", b""]
    while bitpos + width <= total and len(out) < expected:
        bytepos = bitpos >> 3
        window = int.from_bytes(data[bytepos : bytepos + 4].ljust(4, b"\0"), "big")
        code = (window >> (32 - (bitpos & 7) - width)) & ((1 << width) - 1)
        bitpos += width
        if code == CLEAR:
            table = list(base)
            width = 9
            prev = None
            continue
        if code == EOI:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]
        else:
            raise ValueError("corrupt LZW stream (code beyond table)")
        out += entry
        if prev is not None:
            table.append(prev + entry[:1])
        prev = entry
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1
    return bytes(out[:expected])


def _undo_predictor(raw: bytes, info: TiffInfo, rows: int, cols: int,
                    n_samples: int) -> bytes:
    """Reverse predictor 2 (horizontal differencing on sample values) or
    3 (TechNote 3 floating-point: per-row byte-plane split + byte
    differencing). ``cols`` = pixels per row in this chunk."""
    if info.predictor == 1:
        return raw
    itemsize = np.dtype(info.dtype).itemsize
    row_vals = cols * n_samples
    if info.predictor == 2:
        u = f"uint{itemsize * 8}"
        a = np.frombuffer(raw, dtype=np.dtype(u).newbyteorder(info.bo)).astype(u)
        a = a.reshape(rows, row_vals)
        with np.errstate(over="ignore"):
            for s in range(n_samples):  # per-sample interleaved cumsum
                np.cumsum(a[:, s::n_samples], axis=1, dtype=u,
                          out=a[:, s::n_samples])
        return a.astype(np.dtype(u).newbyteorder(info.bo)).tobytes()
    if info.predictor == 3:
        b = np.frombuffer(raw, dtype=np.uint8).reshape(rows, row_vals * itemsize)
        b = b.copy()
        with np.errstate(over="ignore"):
            np.cumsum(b, axis=1, dtype=np.uint8, out=b)
        # planes: all byte0s, then byte1s, ... big-endian significance
        planes = b.reshape(rows, itemsize, row_vals)
        be = np.transpose(planes, (0, 2, 1)).copy()  # (rows, vals, itemsize)
        return be.tobytes()  # big-endian value bytes
    raise NotImplementedError(f"predictor {info.predictor}")


def decode_chunk(raw: bytes, info: TiffInfo, rows: int, cols: int) -> np.ndarray:
    """One strip/tile → ndarray (rows, cols, samples_in_chunk)."""
    n_samples = info.samples if info.planar == 1 else 1
    itemsize = np.dtype(info.dtype).itemsize
    expected = rows * cols * n_samples * itemsize
    if info.compression in (8, 32946):
        raw = zlib.decompress(raw)
    elif info.compression == 32773:
        raw = packbits_decode(raw, expected)
    elif info.compression == 5:
        raw = lzw_decode(raw, expected)
    raw = raw[:expected]
    if len(raw) < expected:
        # short final strip/tile (autotest #1179 family): the reference
        # zero-fills the missing tail rather than erroring
        raw = raw + b"\0" * (expected - len(raw))
    if info.predictor == 3:
        data = _undo_predictor(raw, info, rows, cols, n_samples)
        arr = np.frombuffer(data, dtype=np.dtype(info.dtype).newbyteorder(">"))
    elif info.predictor == 2:
        data = _undo_predictor(raw, info, rows, cols, n_samples)
        arr = np.frombuffer(data, dtype=np.dtype(info.dtype).newbyteorder(info.bo))
    else:
        arr = np.frombuffer(raw, dtype=np.dtype(info.dtype).newbyteorder(info.bo))
    return arr.astype(info.dtype).reshape(rows, cols, n_samples)


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def read_geotiff(
    spark: SparkSession, path: str, overview: int = 0
) -> tuple[DataFrame, RasterMeta]:
    """Distributed read into the tiles model: executors decode disjoint
    strip/tile byte ranges; chunky chunks fan out one row per band.
    ``overview`` selects an IFD-chain level (0 = full resolution).
    Sparse blocks (strile offset 0 — the COG SPARSE_OK layout) read as
    zero-filled, matching the reference's implicit-empty-block rule."""
    info = read_tiff_header(path, ifd=overview)
    meta = info.meta()
    idx = spark.createDataFrame(
        [(info.path, b, bx, by, o, c) for b, bx, by, o, c in info.chunks],
        "path STRING, band INT, block_x INT, block_y INT, off LONG, size LONG",
    )
    idx = idx.repartition(
        min(len(info.chunks), spark.sparkContext.defaultParallelism)
    )

    def scan(iterator):
        for pdf in iterator:
            out = []
            with open(info.path, "rb") as f:
                # NB: column access by key — pandas attribute access would
                # shadow the "size" column with Series.size
                for band, bx, by, off, size in zip(
                    pdf["band"], pdf["block_x"], pdf["block_y"],
                    pdf["off"], pdf["size"],
                ):
                    # full tile size on disk; crop to image bounds below
                    rows_disk = info.block_h if info.tiled else min(
                        info.block_h, info.height - int(by) * info.block_h
                    )
                    if int(off) == 0 or int(size) == 0:  # sparse block
                        n_s = info.samples if info.planar == 1 else 1
                        arr = np.zeros(
                            (rows_disk, info.block_w, n_s), dtype=info.dtype
                        )
                    else:
                        f.seek(int(off))
                        raw = f.read(int(size))
                        arr = decode_chunk(raw, info, rows_disk, info.block_w)
                    h, w = meta.block_shape(int(bx), int(by))
                    arr = arr[:h, :w, :]
                    if info.planar == 1:
                        for s in range(info.samples):
                            out.append((s + 1, int(by), int(bx), h, w,
                                        np.ascontiguousarray(arr[:, :, s]).tobytes()))
                    else:
                        out.append((int(band), int(by), int(bx), h, w,
                                    np.ascontiguousarray(arr[:, :, 0]).tobytes()))
            yield pd.DataFrame(
                out, columns=["band", "block_y", "block_x", "h", "w", "data"]
            )

    return idx.mapInPandas(scan, TILES_SCHEMA), meta


def write_geotiff(
    tiles: DataFrame,
    meta: RasterMeta,
    path: str,
    compress: str | None = "deflate",
) -> None:
    """Classic little-endian stripped GeoTIFF writer (PlanarConfig 2:
    each band's strips in sequence). Fixture/interchange scale — the
    driver collects at most ``WRITE_MAX_ROWS`` tile rows. For the
    distributed per-tile sink see raster/tile_pyramid.py, which calls
    :func:`encode_geotiff` executor-side."""
    rows = tiles.limit(WRITE_MAX_ROWS + 1).collect()
    if len(rows) > WRITE_MAX_ROWS:
        raise ValueError(
            f"write_geotiff is a fixture-scale sink (> {WRITE_MAX_ROWS} tile rows); "
            "write parquet tiles for bulk output"
        )
    np_dtype = np.dtype(meta.dtype)
    # assemble per-band full arrays (block_h-strip slicing below)
    bands = sorted({r.band for r in rows})
    arrs = {b: np.zeros((meta.height, meta.width), dtype=np_dtype) for b in bands}
    for r in rows:
        blk = np.frombuffer(bytes(r.data), dtype=np_dtype).reshape(r.h, r.w)
        arrs[r.band][
            r.block_y * meta.block_h : r.block_y * meta.block_h + r.h,
            r.block_x * meta.block_w : r.block_x * meta.block_w + r.w,
        ] = blk
    with open(path, "wb") as f:
        f.write(encode_geotiff(arrs, meta, compress))


def encode_geotiff(
    arrs: dict[int, np.ndarray],
    meta: RasterMeta,
    compress: str | None = "deflate",
) -> bytes:
    """Encode per-band full arrays into classic-TIFF bytes (pure
    function, safe executor-side)."""
    if meta.gt[2] != 0.0 or meta.gt[4] != 0.0:
        raise NotImplementedError("rotated geotransforms need GCP tags")
    np_dtype = np.dtype(meta.dtype)
    kind = {"u": 1, "i": 2, "f": 3}[np_dtype.kind]
    bands = sorted(arrs)
    rps = min(meta.block_h, meta.height)
    strips = []
    for b in bands:
        for y0 in range(0, meta.height, rps):
            seg = np.ascontiguousarray(arrs[b][y0 : y0 + rps]).tobytes()
            strips.append(zlib.compress(seg) if compress == "deflate" else seg)
    comp_tag = 8 if compress == "deflate" else 1

    tag_data = bytearray()
    header_sz = 8
    n_entries = 14 if meta.nodata is not None else 13
    ifd_off = header_sz
    ifd_sz = 2 + n_entries * 12 + 4
    ext_off = ifd_off + ifd_sz  # external values area, then strip data

    ext = bytearray()

    def ext_put(fmt: str, values) -> int:
        off = ext_off + len(ext)
        ext.extend(struct.pack("<" + fmt * len(values), *values))
        return off

    entries = []

    def tag(t: int, typ: int, cnt: int, inline=None, off=None):
        if inline is not None:
            raw = struct.pack("<" + _TYPE_FMT[typ] * len(inline), *inline)
            raw = raw.ljust(4, b"\0")
        else:
            raw = struct.pack("<I", off)
        entries.append(struct.pack("<HHI", t, typ, cnt) + raw)

    n_strips_per_band = (meta.height + rps - 1) // rps
    n_strips = n_strips_per_band * len(bands)
    bits = [np_dtype.itemsize * 8] * len(bands)
    tag(_T_WIDTH, 3, 1, inline=[meta.width])
    tag(_T_HEIGHT, 3, 1, inline=[meta.height])
    if len(bands) <= 2:
        tag(_T_BITS, 3, len(bands), inline=bits)
    else:
        tag(_T_BITS, 3, len(bands), off=ext_put("H", bits))
    tag(_T_COMP, 3, 1, inline=[comp_tag])
    tag(_T_PHOTO, 3, 1, inline=[1])
    strip_off_pos = len(entries)
    tag(_T_STRIP_OFF, 4, n_strips, off=0)  # patched below
    tag(_T_SAMPLES, 3, 1, inline=[len(bands)])
    tag(_T_ROWS_PER_STRIP, 3, 1, inline=[rps])
    strip_cnt_pos = len(entries)
    tag(_T_STRIP_CNT, 4, n_strips, off=0)  # patched below
    tag(_T_PLANAR, 3, 1, inline=[2])
    tag(_T_SAMPLE_FMT, 3, 1, inline=[kind])
    tag(_T_PIXEL_SCALE, 12, 3, off=ext_put("d", [meta.gt[1], -meta.gt[5], 0.0]))
    tag(_T_TIEPOINT, 12, 6,
        off=ext_put("d", [0.0, 0.0, 0.0, meta.gt[0], meta.gt[3], 0.0]))
    if meta.nodata is not None:
        nd = (f"{meta.nodata:.18g}".encode("ascii") + b"\0")
        if len(nd) <= 4:
            # TIFF 6.0: total value size ≤4 bytes is stored INLINE in the
            # entry (the reader's size<=4 branch decodes it from there);
            # an offset here would be misread as ASCII bytes.
            entries.append(
                struct.pack("<HHI", _T_GDAL_NODATA, 2, len(nd))
                + nd.ljust(4, b"\0")
            )
        else:
            off = ext_off + len(ext)
            ext.extend(nd)
            tag(_T_GDAL_NODATA, 2, len(nd), off=off)
    # sort tags ascending as the spec requires
    order = sorted(range(len(entries)),
                   key=lambda i: struct.unpack("<H", entries[i][:2])[0])
    strip_off_pos = order.index(strip_off_pos)
    strip_cnt_pos = order.index(strip_cnt_pos)
    entries = [entries[i] for i in order]

    # strip offsets/counts arrays live in ext, data follows ext.
    # TIFF spec: a value whose size ≤ 4 bytes is stored INLINE in the
    # entry, so a single-strip file gets no external arrays.
    counts = [len(s) for s in strips]
    if n_strips == 1:
        data_start = ext_off + len(ext)
        entries[strip_off_pos] = entries[strip_off_pos][:8] + struct.pack(
            "<I", data_start
        )
        entries[strip_cnt_pos] = entries[strip_cnt_pos][:8] + struct.pack(
            "<I", counts[0]
        )
    else:
        cnt_arr_off = ext_put("I", counts)
        data_start_guess = ext_off + len(ext) + 4 * n_strips  # offsets next
        offsets = []
        pos = data_start_guess
        for c in counts:
            offsets.append(pos)
            pos += c
        off_arr_off = ext_put("I", offsets)
        entries[strip_off_pos] = entries[strip_off_pos][:8] + struct.pack(
            "<I", off_arr_off
        )
        entries[strip_cnt_pos] = entries[strip_cnt_pos][:8] + struct.pack(
            "<I", cnt_arr_off
        )

    out = bytearray()
    out += b"II" + struct.pack("<HI", 42, ifd_off)
    out += struct.pack("<H", n_entries)
    for e in entries:
        out += e
    out += struct.pack("<I", 0)  # next IFD
    out += bytes(ext)
    for s in strips:
        out += s
    return bytes(out)
