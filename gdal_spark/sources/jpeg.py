"""Baseline JPEG codec (the capability surface of the reference's
``frmts/jpeg/jpgdataset.cpp`` + its vendored IJG libjpeg 6b) —
hand-rolled from the public JPEG standard (ITU-T T.81) and the published
IJG algorithms. Decoder first (bit-exact with the vendored 6b), then an
encoder (``encode_jpeg``: Annex K tables + jcparam quality scaling,
islow integer FDCT, 4:4:4 / 4:2:0) covering the reference's write path:

- entropy decode: baseline sequential Huffman (DC diff + AC run-length,
  byte unstuffing, restart markers);
- dequantize + the Loeffler-Ligtenberg-Moshovitz fixed-point IDCT the
  IJG documents as ``jpeg_idct_islow`` (CONST_BITS=13, PASS1_BITS=2,
  the published FIX constants, round-then-arithmetic-shift descales,
  wrap-around range-limit table) — implemented VECTORIZED over all
  blocks at once; the reference's per-column/row zero-AC shortcuts are
  bit-equal to the general path (the descale identities fold exactly),
  so no data-dependent branches are needed;
- the default "fancy" (triangular) chroma upsampling for h2v2/h2v1 with
  the exact 7/8 alternating round biases and edge duplication;
- the fixed-point YCbCr→RGB conversion tables (SCALEBITS=16).

Decoded output is pinned to the reference's own fixture checksums for
the vendored-6b decode (autotest/gdrivers/jpeg.py:46 — albania.jpg
band 2 = 17016; the 8/9b variants in that test differ only by their
libjpeg's changed upsampling).

Progressive (SOF2) and arithmetic coding are out of scope (raise).

Scale note: like PNG, one JPEG is one entropy stream — per-file decode
parallelism only; the distributed use is per-blob multimodal decode
inside Arrow batches.
"""

from __future__ import annotations

import struct

import numpy as np

# --------------------------------------------------------------------------
# fixed-point constants (published IJG islow tables: FIX(x) at 2^13)
# --------------------------------------------------------------------------

_C = {
    "0_298631336": 2446, "0_390180644": 3196, "0_541196100": 4433,
    "0_765366865": 6270, "0_899976223": 7373, "1_175875602": 9633,
    "1_501321110": 12299, "1_847759065": 15137, "1_961570560": 16069,
    "2_053119869": 16819, "2_562915447": 20995, "3_072711026": 25172,
}
CONST_BITS = 13
PASS1_BITS = 2

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# post-IDCT range-limit table (jdmaster.c layout): idx = value & 1023,
# center at 128 with saturating wrap
_RANGE_LIMIT = np.empty(1024, dtype=np.uint8)
_RANGE_LIMIT[0:128] = np.arange(128, 256)
_RANGE_LIMIT[128:512] = 255
_RANGE_LIMIT[512:896] = 0
_RANGE_LIMIT[896:1024] = np.arange(0, 128)


def _descale(x: np.ndarray, n: int) -> np.ndarray:
    return (x + (1 << (n - 1))) >> n


def idct_islow_blocks(coefs: np.ndarray, quant: np.ndarray) -> np.ndarray:
    """Vectorized jpeg_idct_islow over (N, 8, 8) de-zigzagged coefficient
    blocks with an (8, 8) quant table → (N, 8, 8) uint8 samples."""
    d = coefs.astype(np.int64) * quant.astype(np.int64)[None, :, :]

    def pass_core(col, shift):
        # col: dict axis-index → (N, 8) int64 vectors (frequency rows)
        z2, z3 = col[2], col[6]
        z1 = (z2 + z3) * _C["0_541196100"]
        tmp2 = z1 + z3 * (-_C["1_847759065"])
        tmp3 = z1 + z2 * _C["0_765366865"]
        t0 = (col[0] + col[4]) << CONST_BITS
        t1 = (col[0] - col[4]) << CONST_BITS
        tmp10, tmp13 = t0 + tmp3, t0 - tmp3
        tmp11, tmp12 = t1 + tmp2, t1 - tmp2
        a0, a1, a2, a3 = col[7], col[5], col[3], col[1]
        z1 = a0 + a3
        z2 = a1 + a2
        z3 = a0 + a2
        z4 = a1 + a3
        z5 = (z3 + z4) * _C["1_175875602"]
        b0 = a0 * _C["0_298631336"]
        b1 = a1 * _C["2_053119869"]
        b2 = a2 * _C["3_072711026"]
        b3 = a3 * _C["1_501321110"]
        z1 = z1 * (-_C["0_899976223"])
        z2 = z2 * (-_C["2_562915447"])
        z3 = z3 * (-_C["1_961570560"]) + z5
        z4 = z4 * (-_C["0_390180644"]) + z5
        b0 += z1 + z3
        b1 += z2 + z4
        b2 += z2 + z3
        b3 += z1 + z4
        return [
            _descale(tmp10 + b3, shift), _descale(tmp11 + b2, shift),
            _descale(tmp12 + b1, shift), _descale(tmp13 + b0, shift),
            _descale(tmp13 - b0, shift), _descale(tmp12 - b1, shift),
            _descale(tmp11 - b2, shift), _descale(tmp10 - b3, shift),
        ]

    # pass 1: columns (frequency index = row axis)
    cols = {k: d[:, k, :] for k in range(8)}
    ws_rows = pass_core(cols, CONST_BITS - PASS1_BITS)  # 8 × (N, 8)
    ws = np.stack(ws_rows, axis=1)  # (N, 8 out rows, 8 cols)
    # pass 2: rows (frequency index = column axis)
    rows = {k: ws[:, :, k] for k in range(8)}
    out_cols = pass_core(rows, CONST_BITS + PASS1_BITS + 3)  # 8 × (N, 8)
    out = np.stack(out_cols, axis=2)  # (N, 8, 8)
    return _RANGE_LIMIT[out & 1023]


# --------------------------------------------------------------------------
# Huffman
# --------------------------------------------------------------------------

def _build_huff(counts: list[int], values: bytes) -> dict:
    """(length, code) → value, canonical ascending per T.81 annex C."""
    table = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            table[(ln, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    __slots__ = ("bits", "pos", "n")

    def __init__(self, data: bytes):
        self.bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8)).tolist()
        self.pos = 0
        self.n = len(self.bits)

    def bit(self) -> int:
        p = self.pos
        if p >= self.n:
            return 0  # pad with zero bits past the segment (T.81 F.2.2.5)
        self.pos = p + 1
        return self.bits[p]

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def huff(self, table: dict) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.bit()
            v = table.get((ln, code))
            if v is not None:
                return v
        raise ValueError("bad Huffman code")


def _extend(v: int, t: int) -> int:
    return v - (1 << t) + 1 if v < (1 << (t - 1)) else v


# --------------------------------------------------------------------------
# decoder
# --------------------------------------------------------------------------

def decode_jpeg(data: bytes):
    """Decode one baseline JPEG → ``(bands, info)``: bands = {1..n:
    (H, W) uint8} (YCbCr decodes to R/G/B like the reference's
    out_color_space=JCS_RGB default; grayscale to one band)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    restart_interval = 0
    adobe_transform = None
    frame = None
    i = 2
    while i < len(data):
        if data[i] != 0xFF:
            raise ValueError(f"marker expected at {i}")
        m = data[i + 1]
        if m == 0x01 or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if m == 0xD9:  # EOI
            break
        ln = struct.unpack(">H", data[i + 2 : i + 4])[0]
        seg = data[i + 4 : i + 2 + ln]
        if m == 0xEE and seg[:5] == b"Adobe":  # APP14: color transform
            adobe_transform = seg[11]
        elif m == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                prec, tid = seg[p] >> 4, seg[p] & 15
                p += 1
                if prec:
                    vals = np.frombuffer(seg[p : p + 128], dtype=">u2").astype(np.int64)
                    p += 128
                else:
                    vals = np.frombuffer(seg[p : p + 64], dtype=np.uint8).astype(np.int64)
                    p += 64
                tbl = np.zeros(64, dtype=np.int64)
                tbl[_ZIGZAG] = vals
                qt[tid] = tbl.reshape(8, 8)
        elif m == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                cls, tid = seg[p] >> 4, seg[p] & 15
                counts = list(seg[p + 1 : p + 17])
                nv = sum(counts)
                values = seg[p + 17 : p + 17 + nv]
                (huff_ac if cls else huff_dc)[tid] = _build_huff(counts, values)
                p += 17 + nv
        elif m in (0xC0, 0xC1):  # SOF0/1 baseline/extended sequential
            if seg[0] != 8:
                raise NotImplementedError(
                    f"{seg[0]}-bit JPEG (the reference needs its separate "
                    "12-bit libjpeg build too)")
            h, w, nc = struct.unpack(">HHB", seg[1:6])
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            frame = {"w": w, "h": h, "comps": comps}
        elif m in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD,
                   0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG (SOF marker 0x{m:02x}); only "
                "baseline/extended-sequential Huffman is supported")
        elif m == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif m == 0xDA:  # SOS
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                scan.append((cs, tt >> 4, tt & 15))
            i = i + 2 + ln
            i = _decode_scan(data, i, frame, scan, qt, huff_dc, huff_ac,
                             restart_interval)
            continue
        i += 2 + ln
    if frame is None or "planes" not in frame:
        raise ValueError("no decoded scan")
    frame["adobe_transform"] = adobe_transform
    return _postprocess(frame)


def _decode_scan(data, i, frame, scan, qt, huff_dc, huff_ac, restart_interval):
    """Entropy-decode one (interleaved or single-component) scan starting
    at byte offset ``i``; fills frame['planes']. Returns the offset of
    the next marker."""
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    frame["hmax"], frame["vmax"] = hmax, vmax
    byid = {c["id"]: c for c in comps}
    try:
        scomps = [byid[cs] for cs, _, _ in scan]
        tabs = {cs: (huff_dc[td], huff_ac[ta]) for cs, td, ta in scan}
    except KeyError as e:
        raise ValueError(f"corrupt JPEG scan header (missing table/component {e})")
    if len(scomps) > 1:
        mcux = -(-frame["w"] // (8 * hmax))
        mcuy = -(-frame["h"] // (8 * vmax))
        units = [(c, c["h"], c["v"]) for c in scomps]
    else:
        c = scomps[0]
        dw = -(-frame["w"] * c["h"] // hmax)
        dh = -(-frame["h"] * c["v"] // vmax)
        mcux = -(-dw // 8)
        mcuy = -(-dh // 8)
        units = [(c, 1, 1)]
    # per-component coefficient buffers (blocks in raster order)
    for c, bh, bv in units:
        if len(scomps) > 1:
            c["bw"], c["bh"] = mcux * c["h"], mcuy * c["v"]
        else:
            c["bw"], c["bh"] = mcux, mcuy
        c["coef"] = np.zeros((c["bh"] * c["bw"], 64), dtype=np.int32)

    # split the entropy bytes at restart markers, unstuff 0xFF00
    segments = []
    cur = bytearray()
    j = i
    while j < len(data):
        b = data[j]
        if b == 0xFF:
            nxt = data[j + 1] if j + 1 < len(data) else 0xD9
            if nxt == 0x00:
                cur.append(0xFF)
                j += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                segments.append(bytes(cur))
                cur = bytearray()
                j += 2
                continue
            segments.append(bytes(cur))
            break
        cur.append(b)
        j += 1
    else:
        segments.append(bytes(cur))

    n_mcu = mcux * mcuy
    per_seg = restart_interval if restart_interval else n_mcu
    mcu = 0
    for seg_bytes in segments:
        if mcu >= n_mcu:
            break
        br = _BitReader(seg_bytes)
        pred = {c["id"]: 0 for c, _, _ in units}
        for _ in range(min(per_seg, n_mcu - mcu)):
            my, mx = divmod(mcu, mcux)
            for c, bh, bv in units:
                dc_tab, ac_tab = tabs[c["id"]]
                for v in range(bv):
                    for hh in range(bh):
                        blk = np.zeros(64, dtype=np.int32)
                        t = br.huff(dc_tab)
                        diff = _extend(br.receive(t), t) if t else 0
                        pred[c["id"]] += diff
                        blk[0] = pred[c["id"]]
                        k = 1
                        while k < 64:
                            rs = br.huff(ac_tab)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            blk[k] = _extend(br.receive(s), s)
                            k += 1
                        if len(scomps) > 1:
                            by = my * bv + v
                            bx = mx * bh + hh
                        else:
                            by, bx = my, mx
                        c["coef"][by * c["bw"] + bx] = blk
            mcu += 1
    frame.setdefault("planes", {})
    for c, _, _ in units:
        dez = np.zeros((len(c["coef"]), 64), dtype=np.int32)
        dez[:, _ZIGZAG] = c["coef"]
        px = idct_islow_blocks(dez.reshape(-1, 8, 8), qt[c["tq"]])
        plane = np.zeros((c["bh"] * 8, c["bw"] * 8), dtype=np.uint8)
        for b in range(len(px)):
            by, bx = divmod(b, c["bw"])
            plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = px[b]
        frame["planes"][c["id"]] = plane
    return j


def _fancy_h2(rowsum: np.ndarray, bias_even: int = 8, bias_odd: int = 7,
              shift: int = 4, scale4: int = 4) -> np.ndarray:
    """Horizontal triangular doubling of per-row sums with the IJG
    biases (jdsample.c h2v2/h2v1 inner loops)."""
    n = rowsum.shape[-1]
    left = np.empty_like(rowsum)
    left[..., 1:] = rowsum[..., :-1]
    left[..., 0] = rowsum[..., 0]
    right = np.empty_like(rowsum)
    right[..., :-1] = rowsum[..., 1:]
    right[..., -1] = rowsum[..., -1]
    out = np.empty(rowsum.shape[:-1] + (2 * n,), dtype=np.int64)
    out[..., 0::2] = (rowsum * 3 + left + bias_even) >> shift
    out[..., 1::2] = (rowsum * 3 + right + bias_odd) >> shift
    # first / last columns: nearer-pixel-only forms
    out[..., 0] = (rowsum[..., 0] * scale4 + bias_even) >> shift
    out[..., -1] = (rowsum[..., -1] * scale4 + bias_odd) >> shift
    return out


def _upsample(plane: np.ndarray, hf: int, vf: int) -> np.ndarray:
    """Fancy (triangle) upsampling by the component's h/v factors —
    h2v2_fancy_upsample / h2v1_fancy_upsample exactly."""
    if hf == 1 and vf == 1:
        return plane.astype(np.int64)
    p = plane.astype(np.int64)
    if hf == 2 and vf == 2:
        above = np.vstack([p[:1], p[:-1]])
        below = np.vstack([p[1:], p[-1:]])
        out = np.empty((p.shape[0] * 2, p.shape[1] * 2), dtype=np.int64)
        out[0::2] = _fancy_h2(p * 3 + above)
        out[1::2] = _fancy_h2(p * 3 + below)
        return out
    if hf == 2 and vf == 1:
        # h2v1: plain samples through the 3:1 horizontal filter with
        # biases 1/2 and edge passthrough
        n = p.shape[1]
        left = np.empty_like(p)
        left[:, 1:] = p[:, :-1]
        left[:, 0] = p[:, 0]
        right = np.empty_like(p)
        right[:, :-1] = p[:, 1:]
        right[:, -1] = p[:, -1]
        out = np.empty((p.shape[0], 2 * n), dtype=np.int64)
        out[:, 0::2] = (p * 3 + left + 1) >> 2
        out[:, 1::2] = (p * 3 + right + 2) >> 2
        out[:, 0] = p[:, 0]
        out[:, -1] = p[:, -1]
        return out
    raise NotImplementedError(f"unsupported sampling {hf}x{vf}")


# YCbCr→RGB fixed-point tables (jdcolor.c, SCALEBITS=16)
_SCALE = 16
_HALF = 1 << (_SCALE - 1)


def _fix(x: float) -> int:
    return int(x * (1 << _SCALE) + 0.5)


_X = np.arange(256, dtype=np.int64) - 128
_CR_R = (_fix(1.40200) * _X + _HALF) >> _SCALE
_CB_B = (_fix(1.77200) * _X + _HALF) >> _SCALE
_CR_G = -_fix(0.71414) * _X
_CB_G = -_fix(0.34414) * _X + _HALF


def read_jpeg(spark, path: str):
    """JPEG → tiles DataFrame + RasterMeta of up to 256² blocks
    (driver-side decode like PNG; one entropy stream per file). A sidecar ``.wld``/``.jgw`` world file
    is honored for the geotransform."""
    from pyspark.sql import SparkSession  # noqa: F401  (typing parity)

    from gdal_spark.raster.model import RasterMeta, TILES_SCHEMA

    bands, info = decode_jpeg(open(path, "rb").read())
    gt = (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)
    for ext in (".wld", ".jgw"):
        try:
            vals = [float(v) for v in
                    open(path.rsplit(".", 1)[0] + ext).read().split()]
            gt = (vals[4] - vals[0] / 2 - vals[2] / 2, vals[0], vals[2],
                  vals[5] - vals[1] / 2 - vals[3] / 2, vals[1], vals[3])
            break
        except FileNotFoundError:
            continue
    meta = RasterMeta(
        width=info["width"], height=info["height"], dtype="uint8",
        block_w=min(256, info["width"]),
        block_h=min(256, info["height"]), gt=gt, bands=len(bands),
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


def _postprocess(frame):
    comps = frame["comps"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    W, H = frame["w"], frame["h"]
    planes = []
    for c in comps:
        dw = -(-W * c["h"] // hmax)
        dh = -(-H * c["v"] // vmax)
        pl = frame["planes"][c["id"]][:dh, :dw]
        up = _upsample(pl, hmax // c["h"], vmax // c["v"])
        planes.append(up[:H, :W])
    info = {"width": W, "height": H, "n_components": len(comps)}
    if len(comps) == 1:
        return {1: planes[0].astype(np.uint8)}, info
    if len(comps) == 3:
        y, cb, cr = planes
        r = np.clip(y + _CR_R[cr], 0, 255).astype(np.uint8)
        g = np.clip(y + ((_CB_G[cb] + _CR_G[cr]) >> _SCALE), 0, 255).astype(np.uint8)
        b = np.clip(y + _CB_B[cb], 0, 255).astype(np.uint8)
        return {1: r, 2: g, 3: b}, info
    if len(comps) == 4:
        # Adobe 4-component: transform 2 = YCCK → CMYK via the inverse
        # ycc tables + 255−x (jdcolor.c ycck_cmyk_convert); transform 0 /
        # absent = CMYK passthrough. The reference then exposes RGB as
        # C·K/255 etc. (jpgdataset.cpp:1487-1520, its JCS_RGB-over-CMYK
        # default).
        c0, c1, c2, k = planes
        if frame.get("adobe_transform") == 2:
            y, cb, cr = c0, c1, c2
            c0 = 255 - np.clip(y + _CR_R[cr], 0, 255)
            c1 = 255 - np.clip(y + ((_CB_G[cb] + _CR_G[cr]) >> _SCALE), 0, 255)
            c2 = 255 - np.clip(y + _CB_B[cb], 0, 255)
        info["source_color_space"] = "CMYK"
        return (
            {1: ((c0 * k) // 255).astype(np.uint8),
             2: ((c1 * k) // 255).astype(np.uint8),
             3: ((c2 * k) // 255).astype(np.uint8)},
            info,
        )
    raise NotImplementedError(f"{len(comps)}-component JPEG")


# --------------------------------------------------------------------------
# encoder (baseline sequential, ITU-T T.81 Annex K tables — the write path
# the reference gets from libjpeg's jcmaster/jfdctint/jchuff; decoded by
# the decoder above and by any standard JPEG reader)
# --------------------------------------------------------------------------

# Annex K.1/K.2 base quantization tables (natural raster order)
_STD_LUMA_Q = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
_STD_CHROMA_Q = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K.3 standard Huffman tables: (16 BITS counts, HUFFVAL)
_DC_LUMA_HUFF = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
                 bytes(range(12)))
_DC_CHROMA_HUFF = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                   bytes(range(12)))
_AC_LUMA_HUFF = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    bytes([
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ]),
)
_AC_CHROMA_HUFF = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    bytes([
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ]),
)


def _quant_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """jcparam.c quality scaling: linear in (5000/q | 200−2q)/100,
    clamped to the baseline 1..255 range."""
    quality = max(1, min(100, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - quality * 2
    out = []
    for base in (_STD_LUMA_Q, _STD_CHROMA_Q):
        t = (base * scale + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int64))
    return out[0], out[1]


def _enc_codes(counts: list[int], values: bytes) -> dict:
    """value → (code, length), canonical ascending per T.81 C.1-C.3
    (the encoder-direction mirror of _build_huff)."""
    table = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            table[values[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return table


def fdct_islow_blocks(pixels: np.ndarray) -> np.ndarray:
    """Published IJG ``jpeg_fdct_islow`` (jfdctint.c algorithm), vectorized
    over all blocks: (N, 8, 8) uint8 samples → (N, 8, 8) int64 DCT
    coefficients scaled by 8 (the encoder's quantizer divides by qval<<3)."""
    d = pixels.astype(np.int64) - 128

    def butterfly(m, first_pass: bool):
        # m: (..., 8) along the transformed axis
        t0 = m[..., 0] + m[..., 7]; t7 = m[..., 0] - m[..., 7]
        t1 = m[..., 1] + m[..., 6]; t6 = m[..., 1] - m[..., 6]
        t2 = m[..., 2] + m[..., 5]; t5 = m[..., 2] - m[..., 5]
        t3 = m[..., 3] + m[..., 4]; t4 = m[..., 3] - m[..., 4]
        t10 = t0 + t3; t13 = t0 - t3
        t11 = t1 + t2; t12 = t1 - t2
        out = np.empty_like(m)
        if first_pass:
            out[..., 0] = (t10 + t11) << PASS1_BITS
            out[..., 4] = (t10 - t11) << PASS1_BITS
            ds = CONST_BITS - PASS1_BITS
        else:
            out[..., 0] = _descale(t10 + t11, PASS1_BITS)
            out[..., 4] = _descale(t10 - t11, PASS1_BITS)
            ds = CONST_BITS + PASS1_BITS
        z1 = (t12 + t13) * _C["0_541196100"]
        out[..., 2] = _descale(z1 + t13 * _C["0_765366865"], ds)
        out[..., 6] = _descale(z1 - t12 * _C["1_847759065"], ds)
        z1 = t4 + t7; z2 = t5 + t6; z3 = t4 + t6; z4 = t5 + t7
        z5 = (z3 + z4) * _C["1_175875602"]
        t4 = t4 * _C["0_298631336"]; t5 = t5 * _C["2_053119869"]
        t6 = t6 * _C["3_072711026"]; t7 = t7 * _C["1_501321110"]
        z1 = -z1 * _C["0_899976223"]; z2 = -z2 * _C["2_562915447"]
        z3 = -z3 * _C["1_961570560"] + z5; z4 = -z4 * _C["0_390180644"] + z5
        out[..., 7] = _descale(t4 + z1 + z3, ds)
        out[..., 5] = _descale(t5 + z2 + z4, ds)
        out[..., 3] = _descale(t6 + z2 + z3, ds)
        out[..., 1] = _descale(t7 + z1 + z4, ds)
        return out

    rows = butterfly(d, True)                       # pass 1: each row
    cols = butterfly(rows.transpose(0, 2, 1), False)  # pass 2: each column
    return cols.transpose(0, 2, 1)


def _quantize_zz(coefs: np.ndarray, qtbl: np.ndarray) -> np.ndarray:
    """(N, 8, 8) ×8-scaled coefficients → (N, 64) zigzag-ordered quantized
    ints (jcdctmgr rounding: half-away-from-zero against qval<<3)."""
    q8 = (qtbl << 3).reshape(8, 8)
    a = coefs
    q = np.sign(a) * ((np.abs(a) + (q8 >> 1)) // q8)
    zz = q.reshape(-1, 64)[:, _ZIGZAG]
    # baseline AC categories stop at 10 bits. For uint8 input the islow
    # FDCT provably stays within ±1020 even at all-1 tables (basis-
    # matched adversarial input, tests/test_jpeg.py), but clamp anyway —
    # a silent ±3 at the extreme beats an unencodable stream
    np.clip(zz[:, 1:], -1023, 1023, out=zz[:, 1:])
    return zz


class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:       # byte stuffing (T.81 F.1.2.3)
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self):
        # pad the final partial byte with 1 bits (T.81 F.1.2.3)
        while self.nbits:
            self.put(1, 1)


def _nbits(v: int) -> int:
    return int(v).bit_length()


def _encode_block(bw: _BitWriter, zz: np.ndarray, pred: int,
                  dc_codes: dict, ac_codes: dict) -> int:
    dc = int(zz[0])
    diff = dc - pred
    t = _nbits(abs(diff))
    bw.put(*dc_codes[t])
    if t:
        bw.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    nz = np.nonzero(zz[1:])[0]
    last = nz[-1] + 1 if len(nz) else 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            bw.put(*ac_codes[0xF0])  # ZRL
            run -= 16
        s = _nbits(abs(v))
        bw.put(*ac_codes[(run << 4) | s])
        bw.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        bw.put(*ac_codes[0x00])      # EOB
    return dc


def _rgb_to_ycc(rgb: np.ndarray) -> np.ndarray:
    """jccolor.c fixed-point forward transform (SCALEBITS=16; the −1 in
    the Cb/Cr offset is libjpeg's exact-half tiebreak toward Y)."""
    r = rgb[..., 0].astype(np.int64)
    g = rgb[..., 1].astype(np.int64)
    b = rgb[..., 2].astype(np.int64)
    half = 1 << 15
    off = (128 << 16) + half - 1
    y = (19595 * r + 38470 * g + 7471 * b + half) >> 16
    cb = (-11059 * r - 21709 * g + 32768 * b + off) >> 16
    cr = (32768 * r - 27439 * g - 5329 * b + off) >> 16
    return np.stack([y, cb, cr], axis=-1).astype(np.uint8)


def _pad_to(plane: np.ndarray, th: int, tw: int) -> np.ndarray:
    """Edge-replicate pad to exactly (th, tw) — each component pads to
    its MCU coverage (mcuy·8·vf × mcux·8·hf), not just to 8 (a 4:2:0
    luma plane must reach 16-multiples so every MCU has 4 blocks)."""
    h, w = plane.shape
    return np.pad(plane, ((0, th - h), (0, tw - w)), mode="edge")


def _plane_blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) → (by*bx, 8, 8) raster block order (H, W multiples of 8)."""
    h, w = plane.shape
    return (plane.reshape(h // 8, 8, w // 8, 8)
            .transpose(0, 2, 1, 3).reshape(-1, 8, 8))


def encode_jpeg(arr: np.ndarray, quality: int = 75,
                subsampling: str = "444") -> bytes:
    """Encode a (H, W) grayscale or (H, W, 3) RGB uint8 array as a
    baseline sequential JFIF JPEG: Annex K quantization (jcparam.c
    quality scaling) + standard Huffman tables, islow integer FDCT.
    ``subsampling``: '444' (no chroma subsampling) or '420' (2×2 chroma
    average, libjpeg h2v2 box mean).

    Scale note: like the decoder, one JPEG is one entropy stream — the
    distributed use is per-blob encode inside Arrow batches (tile sinks,
    multimodal re-encode)."""
    arr = np.asarray(arr, dtype=np.uint8)
    gray = arr.ndim == 2
    if not gray and (arr.ndim != 3 or arr.shape[2] != 3):
        raise ValueError("encode_jpeg wants (H,W) gray or (H,W,3) RGB")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    h, w = arr.shape[:2]
    if h == 0 or w == 0 or h > 65535 or w > 65535:
        raise ValueError("image dimensions out of JPEG range")
    ql, qc = _quant_tables(quality)

    if gray:
        raw = [arr]
        samp = [(1, 1)]
    else:
        ycc = _rgb_to_ycc(arr)
        y, cb, cr = ycc[..., 0], ycc[..., 1], ycc[..., 2]
        if subsampling == "420":

            def down(p):
                p = np.pad(p, ((0, h % 2), (0, w % 2)), mode="edge")
                q = p.astype(np.int64)
                # h2v2 box mean with the libjpeg bias alternation folded
                # to round-half-up (deterministic, not bit-pinned)
                return (((q[0::2, 0::2] + q[0::2, 1::2]
                          + q[1::2, 0::2] + q[1::2, 1::2]) + 2) >> 2
                        ).astype(np.uint8)

            raw = [y, down(cb), down(cr)]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            raw = [y, cb, cr]
            samp = [(1, 1), (1, 1), (1, 1)]

    hmax_ = max(s[0] for s in samp)
    vmax_ = max(s[1] for s in samp)
    nmx = (w + 8 * hmax_ - 1) // (8 * hmax_)
    nmy = (h + 8 * vmax_ - 1) // (8 * vmax_)
    planes = [
        _pad_to(p, nmy * 8 * vf, nmx * 8 * hf)
        for p, (hf, vf) in zip(raw, samp)
    ]

    # per-component quantized zigzag blocks in raster order
    qtbls = [ql] + [qc] * (len(planes) - 1)
    comp_zz = [
        _quantize_zz(fdct_islow_blocks(_plane_blocks(p)), q)
        for p, q in zip(planes, qtbls)
    ]
    comp_bw = [p.shape[1] // 8 for p in planes]  # blocks per row

    # ---- headers -----------------------------------------------------
    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, b"\x00" + bytes(ql[_ZIGZAG].astype(np.uint8)))
    if not gray:
        out += seg(0xDB, b"\x01" + bytes(qc[_ZIGZAG].astype(np.uint8)))
    ncomp = len(planes)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        hf, vf = samp[ci]
        sof += bytes([ci + 1, (hf << 4) | vf, 0 if ci == 0 else 1])
    out += seg(0xC0, sof)
    huffs = [(0x00, _DC_LUMA_HUFF), (0x10, _AC_LUMA_HUFF)]
    if not gray:
        huffs += [(0x01, _DC_CHROMA_HUFF), (0x11, _AC_CHROMA_HUFF)]
    for tc_th, (counts, values) in huffs:
        out += seg(0xC4, bytes([tc_th]) + bytes(counts) + values)
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, sos)

    # ---- interleaved entropy scan -------------------------------------
    dc_l = _enc_codes(*_DC_LUMA_HUFF)
    ac_l = _enc_codes(*_AC_LUMA_HUFF)
    dc_c = _enc_codes(*_DC_CHROMA_HUFF)
    ac_c = _enc_codes(*_AC_CHROMA_HUFF)
    codes = [(dc_l, ac_l)] + [(dc_c, ac_c)] * (ncomp - 1)
    # nmx/nmy sized the plane padding above — the MCU loop MUST agree
    bw_ = _BitWriter()
    preds = [0] * ncomp
    for my in range(nmy):
        for mx in range(nmx):
            for ci in range(ncomp):
                hf, vf = samp[ci]
                for by in range(vf):
                    for bx in range(hf):
                        row = my * vf + by
                        col = mx * hf + bx
                        zz = comp_zz[ci][row * comp_bw[ci] + col]
                        preds[ci] = _encode_block(
                            bw_, zz, preds[ci], *codes[ci])
    bw_.flush()
    out += bw_.out
    out += b"\xff\xd9"
    return bytes(out)
