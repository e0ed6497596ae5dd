"""GML reader/writer (``ogr/ogrsf_frmts/gml/gmlreader.cpp`` capability
surface) — stdlib ``xml.etree.ElementTree`` pull-parse to the WKB
feature model; no libexpat/Xerces dependency.

Read handles both classic encodings the reference's autotest fixtures
use:

- GML2: ``<gml:coordinates cs="," ts=" ">x,y x,y</gml:coordinates>``,
  ``outerBoundaryIs``/``innerBoundaryIs`` polygon rings,
  ``polygonMember``/``lineStringMember``/``pointMember`` multis;
- GML3: ``pos``/``posList`` (+``srsDimension``), ``exterior``/
  ``interior``, ``Surface/patches/PolygonPatch``, ``MultiSurface/
  surfaceMember``, ``MultiCurve/curveMember``, ``Curve/segments/
  LineStringSegment``, ``MultiGeometry``.

Axis order: GML3 documents that name geographic CRS by URN
(``urn:ogc:def:crs:EPSG::4326``) store lat/lon; the reference flips them
back to x=lon (GML_INVERT_AXIS_ORDER_IF_LAT_LONG, gmlreader defaults).
We mirror that for the common geographic codes; projected URNs and plain
``EPSG:n`` srsNames pass through.

Field types come from the sidecar ``.xsd`` when present (the reference's
GMLParseXSD path) else per-column value inference (the reference's
``forceto``-style first-pass scan).

Scale note: one GML document is one XML stream — not splittable (same
contract as shapefile/GPKG; parquet is the 100 TB ingest path). The
driver parses tags only; coordinate text converts via np.fromstring-like
splits, and features land in a normal DataFrame immediately.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.geometry import wkt as _wkt

WRITE_MAX_ROWS = 100_000  # write_gml collects at most this many rows

_GEOM_TAGS = {
    "Point", "LineString", "Polygon", "MultiPoint", "MultiLineString",
    "MultiPolygon", "MultiSurface", "MultiCurve", "Curve", "Surface",
    "MultiGeometry", "LinearRing",
}
# geographic (lat/lon-ordered) EPSG codes the URN axis flip applies to —
# the common subset of the reference's EPSG-database lookup
_LATLON_CODES = {"4326", "4267", "4269", "4258", "4283", "4301", "4617"}


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _srs_inverted(el) -> bool:
    srs = el.get("srsName") or ""
    if not srs.lower().startswith("urn:"):
        return False
    code = srs.rsplit(":", 1)[-1]
    return code in _LATLON_CODES


def _coords_text(el, invert: bool) -> np.ndarray:
    """gml:coordinates / gml:posList / gml:pos → (N, 2) xy array."""
    tag = _local(el.tag)
    if tag == "coordinates":
        cs = el.get("cs", ",")
        ts = el.get("ts", " ")
        pts = []
        for tok in (el.text or "").replace("\n", ts).split(ts):
            tok = tok.strip()
            if tok:
                vals = tok.split(cs)
                pts.append((float(vals[0]), float(vals[1])))
        arr = np.asarray(pts, dtype=np.float64).reshape(-1, 2)
    else:
        vals = np.asarray((el.text or "").split(), dtype=np.float64)
        dim = int(el.get("srsDimension", 2)) if tag == "posList" else (
            len(vals) if tag == "pos" else 2
        )
        if tag == "pos":
            arr = vals[:2].reshape(1, 2) if len(vals) >= 2 else np.zeros((0, 2))
        else:
            arr = vals.reshape(-1, max(dim, 2))[:, :2]
    if invert and len(arr):
        arr = arr[:, ::-1].copy()
    return arr


def _ring_coords(ring_parent, invert: bool) -> np.ndarray:
    """exterior/interior/outerBoundaryIs/innerBoundaryIs → ring array."""
    for el in ring_parent.iter():
        if _local(el.tag) in ("coordinates", "posList"):
            return _coords_text(el, invert)
        if _local(el.tag) == "pos":
            # rings written as a pos sequence
            pts = [
                _coords_text(p, invert)[0]
                for p in ring_parent.iter() if _local(p.tag) == "pos"
            ]
            return np.asarray(pts, dtype=np.float64)
    return np.zeros((0, 2))


def parse_gml_geometry(el, invert: bool | None = None):
    """One GML geometry element → the engine's geometry tuple."""
    tag = _local(el.tag)
    inv = _srs_inverted(el) if invert is None else invert
    if tag == "Point":
        for c in el:
            lc = _local(c.tag)
            if lc in ("pos", "coordinates"):
                xy = _coords_text(c, inv)
                return ("Point", (float(xy[0, 0]), float(xy[0, 1])))
        raise ValueError("Point without coordinates")
    if tag == "LineString":
        for c in el:
            if _local(c.tag) in ("posList", "coordinates"):
                return ("LineString", _coords_text(c, inv))
        pts = [_coords_text(c, inv)[0] for c in el if _local(c.tag) == "pos"]
        return ("LineString", np.asarray(pts, dtype=np.float64))
    if tag == "Curve":  # GML3 curve with LineStringSegment pieces
        parts = []
        for seg in el.iter():
            if _local(seg.tag) == "LineStringSegment":
                for c in seg:
                    if _local(c.tag) in ("posList", "coordinates"):
                        parts.append(_coords_text(c, inv))
        if not parts:
            raise ValueError("Curve without LineStringSegment")
        joined = [parts[0]]
        for p in parts[1:]:
            joined.append(p[1:] if np.array_equal(p[0], joined[-1][-1]) else p)
        return ("LineString", np.vstack(joined))
    if tag in ("Polygon", "PolygonPatch"):
        rings = []
        for c in el:
            lc = _local(c.tag)
            if lc in ("exterior", "outerBoundaryIs"):
                rings.insert(0, _ring_coords(c, inv))
            elif lc in ("interior", "innerBoundaryIs"):
                rings.append(_ring_coords(c, inv))
        return ("Polygon", rings)
    if tag == "Surface":
        patches = [
            parse_gml_geometry(p, inv)
            for p in el.iter() if _local(p.tag) == "PolygonPatch"
        ]
        if len(patches) == 1:
            return patches[0]
        return ("MultiPolygon", patches)
    if tag in ("MultiPolygon", "MultiSurface"):
        kids = [
            parse_gml_geometry(g, inv)
            for m in el if _local(m.tag) in ("polygonMember", "surfaceMember",
                                             "surfaceMembers")
            for g in m if _local(g.tag) in ("Polygon", "Surface")
        ]
        kids = [k if k[0] == "Polygon" else ("Polygon", k[1]) for k in kids]
        return ("MultiPolygon", kids)
    if tag in ("MultiLineString", "MultiCurve"):
        kids = [
            parse_gml_geometry(g, inv)
            for m in el if _local(m.tag) in ("lineStringMember", "curveMember")
            for g in m if _local(g.tag) in ("LineString", "Curve")
        ]
        return ("MultiLineString", kids)
    if tag == "MultiPoint":
        kids = [
            parse_gml_geometry(g, inv)
            for m in el if _local(m.tag) in ("pointMember", "pointMembers")
            for g in m if _local(g.tag) == "Point"
        ]
        return ("MultiPoint", kids)
    if tag == "MultiGeometry":
        kids = [
            parse_gml_geometry(g, inv)
            for m in el if _local(m.tag) == "geometryMember"
            for g in m if _local(g.tag) in _GEOM_TAGS
        ]
        return ("GeometryCollection", kids)
    raise ValueError(f"unsupported GML geometry <{tag}>")


def _xsd_types(path: str) -> dict[str, str]:
    """Sidecar .xsd → {field: spark type} (the reference's XSD path)."""
    try:
        tree = ET.parse(path.rsplit(".", 1)[0] + ".xsd")
    except (FileNotFoundError, ET.ParseError):
        return {}
    out = {}
    for el in tree.iter():
        if _local(el.tag) != "element" or not el.get("name"):
            continue
        t = (el.get("type") or "").rsplit(":", 1)[-1]
        mapped = {
            "long": "bigint", "integer": "bigint", "int": "int",
            "short": "int", "double": "double", "decimal": "double",
            "float": "double", "string": "string", "boolean": "boolean",
            "date": "string", "dateTime": "string",
        }.get(t)
        if mapped:
            out[el.get("name")] = mapped
    return out


def read_gml(spark: SparkSession, path: str) -> DataFrame:
    """GML document → DataFrame (fid string, properties, WKB geometry).

    Features are the child elements of ``featureMember``/
    ``featureMembers`` members whose tag is the first tag seen (the
    reference's first-layer default)."""
    root = ET.parse(path).getroot()
    feats = []
    for member in root.iter():
        if _local(member.tag) not in ("featureMember", "featureMembers"):
            continue
        for feat in member:
            feats.append(feat)
    rows = []
    names: list[str] = []
    layer_name = None
    for feat in feats:
        tag = _local(feat.tag)
        if layer_name is None:
            layer_name = tag
        if tag != layer_name:
            continue
        fid = None
        for k, v in feat.attrib.items():
            if _local(k) in ("id", "fid"):
                fid = v
        props: dict = {}
        geom = None
        for child in feat:
            lc = _local(child.tag)
            if lc == "boundedBy":
                continue
            geoms = [g for g in child if _local(g.tag) in _GEOM_TAGS]
            if geoms:
                geom = parse_gml_geometry(geoms[0])
                continue
            if _local(child.tag) in _GEOM_TAGS:  # inline geometry element
                geom = parse_gml_geometry(child)
                continue
            props[lc] = child.text
            if lc not in names:
                names.append(lc)
        rows.append((fid, props, geom))
    types = _xsd_types(path)

    def infer(col: str) -> str:
        if col in types:
            return types[col]
        vals = [p.get(col) for _, p, _ in rows if p.get(col) is not None]
        if not vals:
            return "string"
        try:
            ints = [int(v) for v in vals]
            return "bigint" if all(str(i) == str(v).strip() for i, v in zip(ints, vals)) else "double"
        except ValueError:
            pass
        try:
            [float(v) for v in vals]
            return "double"
        except ValueError:
            return "string"

    col_types = [(c, infer(c)) for c in names]
    schema = "fid STRING, " + "".join(f"`{c}` {t}, " for c, t in col_types) + "`geometry` BINARY"
    cast = {"bigint": int, "int": int, "double": float, "string": str,
            "boolean": lambda v: str(v).lower() in ("true", "1")}
    out_rows = []
    for fid, props, geom in rows:
        vals = [
            None if props.get(c) is None else cast[t](props[c])
            for c, t in col_types
        ]
        wkb_bytes = None if geom is None else bytearray(_wkt.geom_to_wkb(*geom))
        out_rows.append([fid] + vals + [wkb_bytes])
    return spark.createDataFrame(out_rows, schema)


def write_gml(
    df, path: str, layer: str = "layer",
) -> None:
    """Fixture-scale GML 3 writer (ogr:FeatureCollection with posList /
    exterior encodings — what ``ogr2ogr -f GML`` emits), plus the sidecar
    ``.xsd`` the reference writer always produces so field types survive
    the roundtrip (digit-valued strings stay strings); row-capped driver
    sink (at most ``WRITE_MAX_ROWS`` rows); geometries carry no srsName."""
    from gdal_spark.geometry import wkb as _wkb

    n = df.limit(WRITE_MAX_ROWS + 1).count()
    if n > WRITE_MAX_ROWS:
        raise ValueError(f"write_gml is a fixture sink (> {WRITE_MAX_ROWS} rows)")
    rows = df.collect()
    cols = [c for c, _ in df.dtypes if c != "geometry"]
    xsd_of = {"bigint": "xsd:long", "int": "xsd:int", "double": "xsd:double",
              "string": "xsd:string", "boolean": "xsd:boolean"}
    with open(path.rsplit(".", 1)[0] + ".xsd", "w", encoding="utf-8") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n'
                '<xsd:schema xmlns:xsd="http://www.w3.org/2001/XMLSchema" '
                'xmlns:gml="http://www.opengis.net/gml">\n')
        for c, t in df.dtypes:
            if c != "geometry" and t in xsd_of:
                f.write(f'  <xsd:element name="{c}" nillable="true" '
                        f'type="{xsd_of[t]}"/>\n')
        f.write("</xsd:schema>\n")

    def ring_xml(tag: str, r: np.ndarray) -> str:
        txt = " ".join(f"{v:.17g}" for v in np.asarray(r, dtype=float)[:, :2].ravel())
        return (f"<gml:{tag}><gml:LinearRing><gml:posList>{txt}"
                f"</gml:posList></gml:LinearRing></gml:{tag}>")

    def geom_xml(g) -> str:
        name, payload = g
        if name == "Point":
            return (f"<gml:Point><gml:pos>{payload[0]:.17g} "
                    f"{payload[1]:.17g}</gml:pos></gml:Point>")
        if name == "LineString":
            txt = " ".join(f"{v:.17g}" for v in np.asarray(payload)[:, :2].ravel())
            return (f"<gml:LineString><gml:posList>{txt}"
                    f"</gml:posList></gml:LineString>")
        if name == "Polygon":
            parts = [ring_xml("exterior", payload[0])] + [
                ring_xml("interior", r) for r in payload[1:]
            ]
            return f"<gml:Polygon>" + "".join(parts) + "</gml:Polygon>"
        if name == "MultiPolygon":
            parts = "".join(
                "<gml:surfaceMember>" + geom_xml(child) + "</gml:surfaceMember>"
                for child in payload
            )
            return f"<gml:MultiSurface>{parts}</gml:MultiSurface>"
        if name == "MultiLineString":
            parts = "".join(
                "<gml:curveMember>" + geom_xml(child) + "</gml:curveMember>"
                for child in payload
            )
            return f"<gml:MultiCurve>{parts}</gml:MultiCurve>"
        if name == "MultiPoint":
            parts = "".join(
                "<gml:pointMember>" + geom_xml(child) + "</gml:pointMember>"
                for child in payload
            )
            return f"<gml:MultiPoint>{parts}</gml:MultiPoint>"
        raise ValueError(f"unsupported geometry {name}")

    with open(path, "w", encoding="utf-8") as f:
        f.write('<?xml version="1.0" encoding="utf-8" ?>\n')
        f.write('<ogr:FeatureCollection xmlns:ogr="http://ogr.maptools.org/" '
                'xmlns:gml="http://www.opengis.net/gml">\n')
        for i, r in enumerate(rows):
            f.write(f'  <gml:featureMember>\n    <ogr:{layer} fid="{layer}.{i}">\n')
            g = r["geometry"]
            if g is not None:
                geom = _wkb.parse_wkb(bytes(g))
                f.write("      <ogr:geometryProperty>"
                        + geom_xml(geom) + "</ogr:geometryProperty>\n")
            for c in cols:
                v = r[c]
                if v is not None:
                    txt = (str(v).replace("&", "&amp;").replace("<", "&lt;")
                           .replace(">", "&gt;"))
                    f.write(f"      <ogr:{c}>{txt}</ogr:{c}>\n")
            f.write(f"    </ogr:{layer}>\n  </gml:featureMember>\n")
        f.write("</ogr:FeatureCollection>\n")
