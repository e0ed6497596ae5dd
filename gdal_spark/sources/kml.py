"""KML reader/writer (``ogr/ogrsf_frmts/kml/`` capability surface) —
stdlib ``xml.etree.ElementTree`` parse, no expat dependency.

The reference's classic KML driver models each ``<Folder>`` (or the
``<Document>`` when no folders exist) as a LAYER whose features are its
``<Placemark>`` children with fields ``Name`` and ``description`` (its
fixed schema, ogr2kmlgeometry.cpp/kmlnode.cpp) — we add ``ExtendedData``
``Data``/``SchemaData SimpleData`` pairs as extra string fields, which
the reference's LIBKML sibling reads the same way. Coordinates are
``lon,lat[,alt]`` tuples; altitude is preserved as WKB Z (the
reference's 2.5D geometries) unless ``keep_z=False``.

Scale note: one KML document is one XML stream — driver-side parse like
GML/shapefile (fixture/interchange scale by contract; parquet is the
bulk path).
"""

from __future__ import annotations

import struct
import xml.etree.ElementTree as ET

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.geometry import wkb as _wkb

WRITE_MAX_ROWS = 100_000  # write_kml collects at most this many rows

_GEOM_TAGS = {"Point", "LineString", "LinearRing", "Polygon", "MultiGeometry"}


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _norm_text(s: str | None) -> str:
    """Per-line trim + join — the reference's multi-line text handling
    (a wrapped <description> reads back with single newlines)."""
    return "\n".join(line.strip() for line in (s or "").split("\n")).strip()


def _coords(el) -> np.ndarray:
    """<coordinates> text → (N, 3) lon/lat/alt (alt 0 when absent)."""
    pts = []
    for tok in (el.text or "").split():
        vals = tok.split(",")
        if len(vals) < 2:
            continue
        pts.append((float(vals[0]), float(vals[1]),
                    float(vals[2]) if len(vals) > 2 else 0.0))
    return np.asarray(pts, dtype=np.float64).reshape(-1, 3)


def _first_coords(el) -> np.ndarray:
    for c in el.iter():
        if _local(c.tag) == "coordinates":
            return _coords(c)
    return np.zeros((0, 3))


def parse_kml_geometry(el):
    """One KML geometry element → (name, payload) with (N,3) arrays /
    (x, y, z) points — the 2.5D tuples geometry/wkb's Z writers encode."""
    tag = _local(el.tag)
    if tag == "Point":
        c = _first_coords(el)
        if not len(c):
            return None
        return ("Point", (c[0, 0], c[0, 1], c[0, 2]))
    if tag == "LineString" or tag == "LinearRing":
        c = _first_coords(el)
        if not len(c):
            return None
        return ("LineString", c)
    if tag == "Polygon":
        outer, inner = None, []
        for b in el:
            lb = _local(b.tag)
            if lb == "outerBoundaryIs":
                c = _first_coords(b)
                if len(c):
                    outer = c
            elif lb == "innerBoundaryIs":
                c = _first_coords(b)
                if len(c):
                    inner.append(c)
        if outer is None:
            return None
        return ("Polygon", [outer] + inner)
    if tag == "MultiGeometry":
        kids = []
        for g in el:
            if _local(g.tag) in _GEOM_TAGS:
                k = parse_kml_geometry(g)
                if k is not None:
                    kids.append(k)
        if not kids:
            return None
        kinds = {k[0] for k in kids}
        if kinds == {"Point"}:
            return ("MultiPoint", kids)
        if kinds == {"LineString"}:
            return ("MultiLineString", kids)
        if kinds == {"Polygon"}:
            return ("MultiPolygon", kids)
        return ("GeometryCollection", kids)
    return None


# -- 2.5D WKB encoding (ISO +1000 codes; reuses wkb.py's Z writers) ----------

_MULTI_CODE = {"MultiPoint": 4, "MultiLineString": 5, "MultiPolygon": 6,
               "GeometryCollection": 7}


def geom_to_wkb_z(g) -> bytes:
    name, payload = g
    if name == "Point":
        return _wkb.point_wkb_z(payload[0], payload[1], payload[2])
    if name == "LineString":
        return _wkb.linestring_wkb_z(payload)
    if name == "Polygon":
        return _wkb.polygon_wkb_z(payload[0], holes=payload[1:])
    if name in _MULTI_CODE:
        code = _MULTI_CODE[name] + (0 if name == "GeometryCollection" else 1000)
        out = [struct.pack("<BII", 1, code, len(payload))]
        out += [geom_to_wkb_z(child) for child in payload]
        return b"".join(out)
    raise ValueError(f"unsupported geometry {name}")


def _drop_z(g):
    name, payload = g
    if name == "Point":
        return ("Point", (payload[0], payload[1]))
    if name == "LineString":
        return ("LineString", np.asarray(payload)[:, :2])
    if name == "Polygon":
        return ("Polygon", [np.asarray(r)[:, :2] for r in payload])
    return (name, [_drop_z(c) for c in payload])


def read_kml(
    spark: SparkSession, path: str, keep_z: bool = True,
) -> DataFrame:
    """KML → DataFrame of every layer: each Folder or Document with
    direct Placemarks, named by its <name> (the whole file when none).
    Schema: layer STRING,
    Name STRING, description STRING, extra ExtendedData string fields,
    geometry (WKB, 2.5D unless keep_z=False)."""
    from gdal_spark.geometry import wkt as _wkt

    root = ET.parse(path).getroot()
    # layers = Folder/Document containers with DIRECT Placemark children
    # (samples.kml's "Highlighted Icon" layer is a nested <Document> —
    # the reference driver surfaces both container kinds as layers)
    folders = [
        el for el in root.iter()
        if _local(el.tag) in ("Folder", "Document")
        and any(_local(c.tag) == "Placemark" for c in el)
    ] or [root]
    rows = []
    extra: list[str] = []
    for folder in folders:
        fname = None
        for c in folder:
            if _local(c.tag) == "name":
                fname = (c.text or "").strip()
                break
        fname = fname or "Layer"
        # only DIRECT placemarks: nested Folders are their own layers
        stack = [c for c in folder if _local(c.tag) == "Placemark"]
        for pm in stack:
            # the reference's fixed Placemark schema: Name/description
            # default to "" when absent, and multi-line text is trimmed
            # per line (kmlnode.cpp whitespace handling)
            name = desc = ""
            props: dict = {}
            geom = None
            for c in pm:
                lc = _local(c.tag)
                if lc == "name":
                    name = _norm_text(c.text)
                elif lc == "description":
                    desc = _norm_text(c.text)
                elif lc in _GEOM_TAGS:
                    geom = parse_kml_geometry(c)
                elif lc == "ExtendedData":
                    for d in c.iter():
                        ld = _local(d.tag)
                        if ld == "Data" and d.get("name"):
                            for v in d:
                                if _local(v.tag) == "value":
                                    props[d.get("name")] = v.text
                        elif ld == "SimpleData" and d.get("name"):
                            props[d.get("name")] = d.text
            for k in props:
                if k not in extra:
                    extra.append(k)
            if geom is not None and not keep_z:
                geom = _drop_z(geom)
            wkb_bytes = None
            if geom is not None:
                wkb_bytes = bytearray(
                    geom_to_wkb_z(geom) if keep_z else _wkt.geom_to_wkb(*geom)
                )
            rows.append((fname, name, desc, props, wkb_bytes))
    schema = ("layer STRING, Name STRING, description STRING, "
              + "".join(f"`{c}` STRING, " for c in extra)
              + "`geometry` BINARY")
    out = [
        [ly, nm, de] + [pr.get(c) for c in extra] + [gb]
        for ly, nm, de, pr, gb in rows
    ]
    return spark.createDataFrame(out, schema)


def write_kml(
    df, path: str, layer: str = "layer",
) -> None:
    """Fixture-scale KML writer: one Folder, Placemarks named
    ``{layer}.{i}`` with attributes in ExtendedData (the encoding the
    reference drivers roundtrip); driver sink of at most
    ``WRITE_MAX_ROWS`` rows."""
    n = df.limit(WRITE_MAX_ROWS + 1).count()
    if n > WRITE_MAX_ROWS:
        raise ValueError(f"write_kml is a fixture sink (> {WRITE_MAX_ROWS} rows)")
    rows = df.collect()
    cols = [c for c, _ in df.dtypes if c != "geometry"]

    def esc(s: str) -> str:
        return (str(s).replace("&", "&amp;").replace("<", "&lt;")
                .replace(">", "&gt;"))

    def coords_txt(arr) -> str:
        a = np.asarray(arr, dtype=float)
        if a.shape[1] == 2:
            return " ".join(f"{x:.17g},{y:.17g}" for x, y in a)
        return " ".join(f"{x:.17g},{y:.17g},{z:.17g}" for x, y, z in a)

    def geom_xml(g) -> str:
        name, payload = g
        if name == "Point":
            p = ",".join(f"{v:.17g}" for v in payload)
            return f"<Point><coordinates>{p}</coordinates></Point>"
        if name == "LineString":
            return (f"<LineString><coordinates>{coords_txt(payload)}"
                    "</coordinates></LineString>")
        if name == "Polygon":
            out = ("<Polygon><outerBoundaryIs><LinearRing><coordinates>"
                   + coords_txt(payload[0])
                   + "</coordinates></LinearRing></outerBoundaryIs>")
            for r in payload[1:]:
                out += ("<innerBoundaryIs><LinearRing><coordinates>"
                        + coords_txt(r)
                        + "</coordinates></LinearRing></innerBoundaryIs>")
            return out + "</Polygon>"
        if name in _MULTI_CODE:
            return ("<MultiGeometry>"
                    + "".join(geom_xml(c) for c in payload)
                    + "</MultiGeometry>")
        raise ValueError(f"unsupported geometry {name}")

    with open(path, "w", encoding="utf-8") as f:
        f.write('<?xml version="1.0" encoding="utf-8" ?>\n')
        f.write('<kml xmlns="http://www.opengis.net/kml/2.2"><Document><Folder>')
        f.write(f"<name>{esc(layer)}</name>\n")
        for i, r in enumerate(rows):
            f.write("<Placemark>")
            f.write(f"<name>{esc(f'{layer}.{i}')}</name>")
            if cols:
                f.write("<ExtendedData>")
                for c in cols:
                    if r[c] is None:
                        continue
                    f.write(f'<Data name="{esc(c)}"><value>{esc(r[c])}'
                            "</value></Data>")
                f.write("</ExtendedData>")
            g = r["geometry"]
            if g is not None:
                f.write(geom_xml(_wkb.parse_wkb(bytes(g))))
            f.write("</Placemark>\n")
        f.write("</Folder></Document></kml>\n")
