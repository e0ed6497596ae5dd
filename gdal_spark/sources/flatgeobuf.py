"""FlatGeobuf reader/writer (``ogr/ogrsf_frmts/flatgeobuf/``; format spec
at https://flatgeobuf.org — magic ``fgb\\x03fgb\\x00``, a size-prefixed
flatbuffers Header, an optional packed Hilbert R-tree, then size-prefixed
flatbuffers Feature records).

Unlike shapefile/GeoPackage, the feature section is SPLITTABLE: each
record is independently parseable from its (offset, length), so the scan
distributes — the driver touches only the header and the per-feature
offset list (from the packed index when present, else one cheap
size-prefix walk), and executors parse disjoint byte ranges. That is the
100 TB shape: offsets are O(features) longs, pixels^Wproperties never
reach the driver.

The flatbuffers subset here (vtables, strings, scalar vectors, nested
tables) is hand-rolled against the public wire format — the container
has no ``flatbuffers`` package. Schema field ids follow the spec's
header.fbs / feature.fbs:

- Header: name=0, envelope=1, geometry_type=2, has_z=3, …, columns=7,
  features_count=8, index_node_size=9
- Column: name=0, type=1 (Byte0 UByte1 Bool2 Short3 UShort4 Int5 UInt6
  Long7 ULong8 Float9 Double10 String11 Json12 DateTime13 Binary14)
- Feature: geometry=0, properties=1
- Geometry: ends=0 (pair indices), xy=1, z=2, type=6, parts=7

Properties encoding: per value a uint16 column index then the value
(fixed-width scalars; string/binary = uint32 length + bytes).
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

MAGIC = b"fgb\x03fgb\x00"

GEOM_TYPES = {
    "Point": 1, "LineString": 2, "Polygon": 3, "MultiPoint": 4,
    "MultiLineString": 5, "MultiPolygon": 6, "GeometryCollection": 7,
}
GEOM_NAMES = {v: k for k, v in GEOM_TYPES.items()}

COL_BOOL, COL_INT, COL_LONG, COL_DOUBLE, COL_STRING, COL_BINARY = 2, 5, 7, 10, 11, 14
_SPARK_TO_COL = {
    "boolean": COL_BOOL, "int": COL_INT, "bigint": COL_LONG,
    "double": COL_DOUBLE, "string": COL_STRING, "binary": COL_BINARY,
}
_COL_TO_SPARK = {v: k for k, v in _SPARK_TO_COL.items()}


# ---------------------------------------------------------------------------
# minimal flatbuffers builder (back-to-front, spec-correct alignment)
# ---------------------------------------------------------------------------

class _Builder:
    def __init__(self):
        self.buf = bytearray()  # grows at the FRONT of the final buffer

    def _prepend(self, b: bytes):
        self.buf[:0] = b

    def _pad(self, align: int, extra: int = 0):
        while (len(self.buf) + extra) % align:
            self._prepend(b"\x00")

    def offset(self) -> int:
        return len(self.buf)

    def string(self, s: str) -> int:
        b = s.encode("utf-8")
        # pad FIRST so the length prefix lands immediately before the bytes
        self._pad(4, 4 + len(b) + 1)
        self._prepend(b"\x00")  # null terminator (excluded from length)
        self._prepend(b)
        self._prepend(struct.pack("<I", len(b)))
        return self.offset()

    def vector(self, fmt: str, items) -> int:
        size = struct.calcsize("<" + fmt)
        data = b"".join(struct.pack("<" + fmt, x) for x in items)
        self._pad(max(4, size), 4 + len(data))
        self._prepend(data)
        self._prepend(struct.pack("<I", len(items)))
        return self.offset()

    def byte_vector(self, b: bytes) -> int:
        self._pad(4, 4 + len(b))
        self._prepend(bytes(b))
        self._prepend(struct.pack("<I", len(b)))
        return self.offset()

    def offset_vector(self, offs: list[int]) -> int:
        # uoffsets relative to each slot location
        self._pad(4, 4 + 4 * len(offs))
        n = len(self.buf) + 4 * len(offs)  # offset-from-end after all slots
        out = b""
        for i, t in enumerate(offs):
            slot_off = n - 4 * i  # offset-from-end of this slot
            out += struct.pack("<I", slot_off - t)
        self._prepend(out)
        self._prepend(struct.pack("<I", len(offs)))
        return self.offset()

    _SCALARS = {"u8": ("B", 1), "bool": ("?", 1), "u16": ("H", 2),
                "u32": ("I", 4), "u64": ("Q", 8), "f64": ("d", 8)}

    def table(self, fields: list[tuple[int, str, object]]) -> int:
        """fields: (field_id, kind, value); kind in _SCALARS or 'off'.
        Builds [vtable][table] with per-field alignment."""
        # lay out table content forward: soffset slot then fields by
        # descending size (simplest correct alignment)
        order = sorted(fields, key=lambda f: -(8 if f[1] in ("off",) else 0)
                       - self._SCALARS.get(f[1], ("", 4))[1])
        pos = 4  # after soffset
        slots: dict[int, int] = {}
        chunks: list[tuple[int, str, object]] = []
        max_fid = -1
        for fid, kind, val in order:
            size = 4 if kind == "off" else self._SCALARS[kind][1]
            while pos % size:
                pos += 1
            slots[fid] = pos
            chunks.append((pos, kind, val))
            pos += size
            max_fid = max(max_fid, fid)
        tbl_size = pos
        # align table start to 8 so 8-byte fields land aligned
        self._pad(8, tbl_size)
        n_after = len(self.buf) + tbl_size
        body = bytearray(tbl_size)
        for p, kind, val in chunks:
            if kind == "off":
                # uoffset from this field location (offset-from-end n_after-p)
                struct.pack_into("<I", body, p, (n_after - p) - int(val))
            else:
                struct.pack_into("<" + self._SCALARS[kind][0], body, p, val)
        self._prepend(bytes(body))
        table_off = self.offset()
        # vtable
        nslots = max_fid + 1
        vt = struct.pack("<HH", 4 + 2 * nslots, tbl_size)
        vt += b"".join(
            struct.pack("<H", slots.get(fid, 0)) for fid in range(nslots)
        )
        self._pad(2)
        self._prepend(vt)
        vt_off = self.offset()
        # patch soffset (vtable is before the table in the final buffer)
        soff = vt_off - table_off
        total = len(self.buf)
        struct.pack_into("<i", self.buf, total - table_off, soff)
        return table_off

    def finish(self, root: int) -> bytes:
        self._pad(4, 4)
        self._prepend(struct.pack("<I", self.offset() + 4 - root))
        return bytes(self.buf)


# ---------------------------------------------------------------------------
# minimal flatbuffers reader
# ---------------------------------------------------------------------------

class _Tab:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, pos: int):
        self.buf, self.pos = buf, pos

    @classmethod
    def root(cls, buf: bytes):
        return cls(buf, struct.unpack_from("<I", buf, 0)[0])

    def _slot(self, fid: int) -> int:
        soff = struct.unpack_from("<i", self.buf, self.pos)[0]
        vt = self.pos - soff
        vt_size = struct.unpack_from("<H", self.buf, vt)[0]
        off = 4 + 2 * fid
        if off >= vt_size:
            return 0
        fo = struct.unpack_from("<H", self.buf, vt + off)[0]
        return self.pos + fo if fo else 0

    def scalar(self, fid: int, fmt: str, default=0):
        p = self._slot(fid)
        return struct.unpack_from("<" + fmt, self.buf, p)[0] if p else default

    def _indirect(self, fid: int) -> int:
        p = self._slot(fid)
        if not p:
            return 0
        return p + struct.unpack_from("<I", self.buf, p)[0]

    def string(self, fid: int):
        p = self._indirect(fid)
        if not p:
            return None
        n = struct.unpack_from("<I", self.buf, p)[0]
        return self.buf[p + 4 : p + 4 + n].decode("utf-8")

    def vector_np(self, fid: int, dtype: str):
        p = self._indirect(fid)
        if not p:
            return None
        n = struct.unpack_from("<I", self.buf, p)[0]
        return np.frombuffer(self.buf, dtype=dtype, count=n, offset=p + 4)

    def byte_vector(self, fid: int):
        p = self._indirect(fid)
        if not p:
            return None
        n = struct.unpack_from("<I", self.buf, p)[0]
        return self.buf[p + 4 : p + 4 + n]

    def tables(self, fid: int):
        p = self._indirect(fid)
        if not p:
            return []
        n = struct.unpack_from("<I", self.buf, p)[0]
        out = []
        for i in range(n):
            sp = p + 4 + 4 * i
            out.append(_Tab(self.buf, sp + struct.unpack_from("<I", self.buf, sp)[0]))
        return out

    def table(self, fid: int):
        p = self._indirect(fid)
        return _Tab(self.buf, p) if p else None

# ---------------------------------------------------------------------------
# geometry <-> flatgeobuf Geometry table
# ---------------------------------------------------------------------------

def _geom_fields(b: _Builder, geom) -> list:
    """Encode a parsed geometry tuple into Geometry-table builder fields."""
    name, payload = geom
    t = GEOM_TYPES[name]
    if name == "Point":
        xy = b.vector("d", [payload[0], payload[1]])
        return [(1, "off", xy), (6, "u8", t)]
    if name == "LineString":
        c = np.asarray(payload, dtype=float)
        xy = b.vector("d", c[:, :2].ravel().tolist())
        return [(1, "off", xy), (6, "u8", t)]
    if name == "Polygon":
        rings = [np.asarray(r, dtype=float) for r in payload]
        flat, ends, acc = [], [], 0
        for r in rings:
            flat.extend(r[:, :2].ravel().tolist())
            acc += len(r)
            ends.append(acc)
        fields = [(6, "u8", t)]
        if len(rings) > 1:
            fields.append((0, "off", b.vector("I", ends)))
        fields.append((1, "off", b.vector("d", flat)))
        return fields
    if name == "MultiPoint":
        # spec (geometryreader.cpp readMultiPoint): ONE flat xy vector,
        # never parts — parts-encoded MultiPoints are unreadable by GDAL.
        flat = []
        for _, pt in payload:
            flat.extend([pt[0], pt[1]])
        return [(1, "off", b.vector("d", flat)), (6, "u8", t)]
    if name == "MultiLineString":
        # spec (readMultiLineString): flat xy + ends (ends omitted for a
        # single part, same convention as single-ring Polygon).
        flat, ends, acc = [], [], 0
        for _, line in payload:
            c = np.asarray(line, dtype=float)
            flat.extend(c[:, :2].ravel().tolist())
            acc += len(c)
            ends.append(acc)
        fields = [(6, "u8", t)]
        if len(payload) > 1:
            fields.append((0, "off", b.vector("I", ends)))
        fields.append((1, "off", b.vector("d", flat)))
        return fields
    if name in ("MultiPolygon", "GeometryCollection"):
        parts = []
        for child in payload:
            pf = _geom_fields(b, child)
            parts.append(b.table(pf))
        return [(7, "off", b.offset_vector(parts)), (6, "u8", t)]
    raise ValueError(f"unsupported geometry {name}")


def _geom_decode(tab: _Tab, outer_type: int = 0):
    t = tab.scalar(6, "B", outer_type) or outer_type
    name = GEOM_NAMES.get(t)
    if name is None:
        raise ValueError(f"unsupported flatgeobuf geometry type {t}")
    parts = tab.tables(7)
    if parts:
        child_default = {"MultiPolygon": 3, "MultiLineString": 2,
                         "MultiPoint": 1}.get(name, 0)
        return (name, [_geom_decode(p, child_default) for p in parts])
    xy = tab.vector_np(1, "<f8")
    xy = np.asarray(xy, dtype=float).reshape(-1, 2) if xy is not None else np.zeros((0, 2))
    if name == "Point":
        return ("Point", (float(xy[0, 0]), float(xy[0, 1])))
    if name == "LineString":
        return ("LineString", xy.copy())
    if name == "Polygon":
        ends = tab.vector_np(0, "<u4")
        if ends is None:
            return ("Polygon", [xy.copy()])
        rings, prev = [], 0
        for e in ends:
            rings.append(xy[prev:int(e)].copy())
            prev = int(e)
        return ("Polygon", rings)
    if name == "MultiPoint":
        # flat xy per spec (reference readMultiPoint)
        return ("MultiPoint", [("Point", (float(x), float(y))) for x, y in xy])
    if name == "MultiLineString":
        # flat xy + optional ends per spec (reference readMultiLineString)
        ends = tab.vector_np(0, "<u4")
        if ends is None:
            return ("MultiLineString", [("LineString", xy.copy())])
        lines, prev = [], 0
        for e in ends:
            lines.append(("LineString", xy[prev:int(e)].copy()))
            prev = int(e)
        return ("MultiLineString", lines)
    raise ValueError(f"flat coordinates for unexpected type {name}")


# ---------------------------------------------------------------------------
# writer (driver-side fixture sink, like sources/gpkg.write_gpkg)
# ---------------------------------------------------------------------------

def _encode_props(schema: list[tuple[str, int]], row: dict) -> bytes:
    out = b""
    for i, (cname, ctype) in enumerate(schema):
        v = row.get(cname)
        if v is None:
            continue
        out += struct.pack("<H", i)
        if ctype == COL_BOOL:
            out += struct.pack("<?", bool(v))
        elif ctype == COL_INT:
            out += struct.pack("<i", int(v))
        elif ctype == COL_LONG:
            out += struct.pack("<q", int(v))
        elif ctype == COL_DOUBLE:
            out += struct.pack("<d", float(v))
        elif ctype in (COL_STRING,):
            bb = str(v).encode("utf-8")
            out += struct.pack("<I", len(bb)) + bb
        elif ctype == COL_BINARY:
            bb = bytes(v)
            out += struct.pack("<I", len(bb)) + bb
        else:
            raise ValueError(f"unsupported column type {ctype}")
    return out


def _decode_props(buf, schema: list[tuple[str, int]]) -> dict:
    out: dict = {}
    if not buf:
        return out
    pos = 0
    while pos < len(buf):
        i = struct.unpack_from("<H", buf, pos)[0]
        pos += 2
        cname, ctype = schema[i]
        if ctype == COL_BOOL:
            out[cname] = struct.unpack_from("<?", buf, pos)[0]
            pos += 1
        elif ctype == COL_INT:
            out[cname] = struct.unpack_from("<i", buf, pos)[0]
            pos += 4
        elif ctype == COL_LONG:
            out[cname] = struct.unpack_from("<q", buf, pos)[0]
            pos += 8
        elif ctype == COL_DOUBLE:
            out[cname] = struct.unpack_from("<d", buf, pos)[0]
            pos += 8
        elif ctype in (COL_STRING, COL_BINARY):
            n = struct.unpack_from("<I", buf, pos)[0]
            pos += 4
            raw = bytes(buf[pos : pos + n])
            out[cname] = raw.decode("utf-8") if ctype == COL_STRING else raw
            pos += n
        else:
            raise ValueError(f"unsupported column type {ctype}")
    return out


def write_fgb(
    df, path: str, name: str = "layer",
    geometry_type: str = "Unknown", max_rows: int = 1_000_000,
) -> None:
    """Write a DataFrame (WKB geometry + typed columns) as FlatGeobuf.
    Driver-side fixture sink (the 100 TB sink is parquet); no spatial
    index (index_node_size=0 — legal per spec; readers then walk the
    size-prefixed feature records)."""
    from gdal_spark.geometry import wkb as _wkb

    n = df.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(f"write_fgb is a fixture sink (> {max_rows} rows)")
    cols = [(c, _SPARK_TO_COL[t]) for c, t in df.dtypes if c != "geometry"]
    rows = df.collect()
    other = [c for c, _ in cols]
    rows = sorted(rows, key=lambda r: tuple(str(r[c]) for c in other))

    hb = _Builder()
    col_offs = []
    for cname, ctype in cols:
        s = hb.string(cname)
        col_offs.append(hb.table([(0, "off", s), (1, "u8", ctype)]))
    cols_vec = hb.offset_vector(col_offs)
    name_off = hb.string(name)
    header = hb.table([
        (0, "off", name_off),
        (2, "u8", GEOM_TYPES.get(geometry_type, 0)),
        (7, "off", cols_vec),
        (8, "u64", len(rows)),
        (9, "u16", 0),  # no spatial index
    ])
    hbuf = hb.finish(header)

    with open(path, "wb") as f:
        f.write(MAGIC)
        f.write(struct.pack("<I", len(hbuf)))
        f.write(hbuf)
        for r in rows:
            fb = _Builder()
            g = r["geometry"]
            fields = []
            if g is not None:
                gt = fb.table(_geom_fields(fb, _wkb.parse_wkb(bytes(g))))
                fields.append((0, "off", gt))
            props = _encode_props(cols, r.asDict())
            if props:
                fields.append((1, "off", fb.byte_vector(props)))
            fbuf = fb.finish(fb.table(fields) if fields else fb.table([(6, "u8", 0)]))
            f.write(struct.pack("<I", len(fbuf)))
            f.write(fbuf)


# ---------------------------------------------------------------------------
# reader (distributed feature scan)
# ---------------------------------------------------------------------------

def fgb_header(path: str):
    """Header metadata + the feature-section offset list. Driver-side
    cost: the header bytes plus one size-prefix walk (O(features) seeks;
    with a packed R-tree present the offsets would come from the index
    leaves instead — our writer emits index_node_size=0)."""
    with open(path, "rb") as f:
        if f.read(8) != MAGIC:
            raise ValueError("not a FlatGeobuf file")
        (hlen,) = struct.unpack("<I", f.read(4))
        hdr = _Tab.root(f.read(hlen))
        schema = [(t.string(0), t.scalar(1, "B")) for t in hdr.tables(7)]
        info = {
            "name": hdr.string(0),
            "geometry_type": hdr.scalar(2, "B"),
            "features_count": hdr.scalar(8, "Q"),
            "index_node_size": hdr.scalar(9, "H", 16),
            "columns": schema,
        }
        if info["index_node_size"]:
            raise NotImplementedError(
                "packed R-tree index skipping not implemented (our writer "
                "emits index_node_size=0)"
            )
        offsets = []
        while True:
            pos = f.tell()
            raw = f.read(4)
            if len(raw) < 4:
                break
            (flen,) = struct.unpack("<I", raw)
            offsets.append((pos + 4, flen))
            f.seek(flen, 1)
    return info, offsets


def parse_feature(buf: bytes, schema) -> tuple:
    """One size-prefixed Feature record → (wkb_bytes|None, props dict)."""
    from gdal_spark.geometry import wkt as _wkt

    tab = _Tab.root(buf)
    g = tab.table(0)
    wkb_bytes = None
    if g is not None:
        geom = _geom_decode(g)
        wkb_bytes = _wkt.geom_to_wkb(*geom)
    props = _decode_props(tab.byte_vector(1), schema)
    return wkb_bytes, props


def read_fgb(spark: SparkSession, path: str) -> DataFrame:
    """Distributed FlatGeobuf read: the driver reads header + offsets;
    executors each parse a disjoint slice of feature records (the format
    is record-splittable by construction — this is why FGB distributes
    where shapefile/GPKG cannot)."""
    info, offsets = fgb_header(path)
    schema = info["columns"]
    fields = ", ".join(
        f"`{c}` {_COL_TO_SPARK[t]}" for c, t in schema
    )
    out_schema = (fields + ", " if fields else "") + "`geometry` binary"
    off_df = spark.createDataFrame(
        [(int(o), int(l)) for o, l in offsets], "off LONG, len INT"
    ).repartition(max(1, min(len(offsets) // 64 + 1, spark.sparkContext.defaultParallelism)))

    def scan(iterator):
        with open(path, "rb") as f:
            for pdf in iterator:
                rows = []
                for off, ln in zip(pdf["off"], pdf["len"]):
                    f.seek(int(off))
                    wkb_bytes, props = parse_feature(f.read(int(ln)), schema)
                    rows.append(
                        [props.get(c) for c, _ in schema] + [wkb_bytes]
                    )
                yield pd.DataFrame(rows, columns=[c for c, _ in schema] + ["geometry"])

    return off_df.mapInPandas(scan, out_schema)
