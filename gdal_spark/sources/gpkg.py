"""GeoPackage vector reader (.gpkg) → DataFrame with a WKB geometry
column — runs the reference's own .gpkg fixtures (e.g.
autotest/ogr/data/gpkg/poly_golden.gpkg) directly.

Format parsed from the public OGC GeoPackage Encoding Standard
(https://www.geopackage.org/spec/ — GeoPackageBinaryHeader §2.1.3 + the
SQLite container tables gpkg_contents / gpkg_geometry_columns); the
reference's driver lives at ogr/ogrsf_frmts/gpkg/ (not consulted for
code, only the same public spec). SQLite access is the Python stdlib
``sqlite3`` module — no native dependency.

Geometry blobs: 'GP' magic, version, flags byte (bit0 header byte
order, bits1-3 envelope size, bit4 empty-geometry), int32 srs_id, the
declared envelope, then standard ISO WKB (2D parsed; Z/M linearized
away like the shapefile reader).

Scale note: like the .shp reader this is driver-side ingest-only —
SQLite files are not splittable. At pipeline scale, convert once to
parquet (``read_gpkg(...).write.parquet``) and let every later scan be
columnar + distributed.
"""

from __future__ import annotations

import sqlite3
import struct

WRITE_MAX_ROWS = 1_000_000  # write_gpkg collects at most this many rows

_ENVELOPE_BYTES = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}


def _connect_ro(path: str) -> sqlite3.Connection:
    return sqlite3.connect(f"file:{path}?mode=ro", uri=True)


def gpkg_layers(path: str) -> list[str]:
    """Feature layer names (gpkg_contents data_type='features')."""
    con = _connect_ro(path)
    try:
        return [
            r[0]
            for r in con.execute(
                "SELECT table_name FROM gpkg_contents "
                "WHERE data_type = 'features' ORDER BY table_name"
            )
        ]
    finally:
        con.close()


def parse_gpkg_blob(blob: bytes | None) -> bytes | None:
    """GeoPackageBinaryHeader (spec §2.1.3) → the embedded standard WKB
    bytes. None only for NULL input or an empty-flagged blob with no WKB
    body; empty-flagged blobs that carry WKB (e.g. POINT EMPTY with NaN
    coords) keep it, preserving the EMPTY/NULL distinction."""
    if blob is None:
        return None
    if len(blob) < 8 or blob[0:2] != b"GP":
        raise ValueError("not a GeoPackage geometry blob")
    flags = blob[3]
    if flags & 0x20:
        raise ValueError("extended (non-standard) GeoPackage geometry")
    env = _ENVELOPE_BYTES.get((flags >> 1) & 0x07)
    if env is None:
        raise ValueError(f"invalid envelope indicator in flags {flags:#x}")
    body = blob[8 + env :]
    if flags & 0x10:
        # Empty-geometry flag: per spec §2.1.3 the WKB body (e.g. POINT
        # EMPTY with NaN coords) is still present — preserve the
        # EMPTY/NULL distinction instead of collapsing both to None.
        return body if body else None
    return body


def _spark_type(decl: str) -> str:
    d = decl.upper()
    if d.startswith("BOOL"):
        return "boolean"
    if any(d.startswith(p) for p in ("INT", "MEDIUMINT", "TINYINT", "SMALLINT", "BIGINT")):
        return "bigint"
    if any(d.startswith(p) for p in ("REAL", "DOUBLE", "FLOAT")):
        return "double"
    if d.startswith("BLOB") or d == "":
        return "binary"
    return "string"  # TEXT(n), DATE, DATETIME travel as strings


def read_gpkg(spark, path: str):
    """Read the single feature layer of a GeoPackage into a DataFrame.

    Columns: the layer's attribute columns (SQLite declared types mapped
    INTEGER→bigint, REAL→double, TEXT/DATE→string, BLOB→binary) plus
    ``geometry`` holding standard WKB. A package with several feature
    layers raises ValueError."""
    layers = gpkg_layers(path)
    if len(layers) != 1:
        raise ValueError(f"{path}: expected one feature layer, found {layers}")
    layer = layers[0]

    con = _connect_ro(path)
    try:
        g = con.execute(
            "SELECT column_name, srs_id FROM gpkg_geometry_columns "
            "WHERE table_name = ?",
            (layer,),
        ).fetchone()
        gcol, srs_id = (g[0], int(g[1])) if g else (None, 0)
        info = con.execute(f'PRAGMA table_info("{layer}")').fetchall()
        names = [r[1] for r in info]
        decls = {r[1]: (r[2] or "") for r in info}
        sel = ", ".join(f'"{n}"' for n in names)
        raw = con.execute(f'SELECT {sel} FROM "{layer}"').fetchall()
    finally:
        con.close()

    fields = []
    rows = []
    for n in names:
        if n == gcol:
            fields.append("`geometry` binary")
        else:
            fields.append(f"`{n}` {_spark_type(decls[n])}")
    gi = names.index(gcol) if gcol in names else -1
    for r in raw:
        vals = list(r)
        if gi >= 0:
            w = parse_gpkg_blob(vals[gi])
            vals[gi] = bytearray(w) if w is not None else None
        for i, n in enumerate(names):
            if i != gi and isinstance(vals[i], bytes):
                vals[i] = bytearray(vals[i])
        rows.append(tuple(vals))
    df = spark.createDataFrame(rows, ", ".join(fields))
    df._gpkg_srs_id = srs_id  # informational; SRS carried at column level
    return df


def _gp_blob(wkb_bytes: bytes | None, srs_id: int) -> bytes | None:
    """Wrap standard WKB in a GeoPackageBinaryHeader (spec §2.1.3):
    little-endian flags, envelope indicator 1 (minx,maxx,miny,maxy)."""
    if wkb_bytes is None:
        return None
    from gdal_spark.geometry import ops as _ops, wkb as _wkb

    g = _wkb.parse_wkb(bytes(wkb_bytes))
    minx, miny, maxx, maxy = _ops.envelope(g)
    head = b"GP" + bytes([0, 0x03]) + int(srs_id).to_bytes(4, "little", signed=True)
    env = struct.pack("<dddd", minx, maxx, miny, maxy)
    return head + env + bytes(wkb_bytes)


def write_gpkg(
    df, path: str, layer: str,
    srs_id: int = 4326, geometry_type: str = "GEOMETRY",
) -> None:
    """Write a DataFrame with a WKB geometry column as a GeoPackage
    feature layer (OGC spec container tables + §2.1.3 blobs).

    Driver-side like the reader (SQLite is a single-writer local file);
    intended for fixture-scale exports — the 100 TB sink is parquet.
    Rows collect in a deterministic order (all non-geometry columns).
    ``WRITE_MAX_ROWS`` guards the driver collect: a mis-aimed huge write
    fails fast instead of OOMing the driver."""
    n = df.limit(WRITE_MAX_ROWS + 1).count()
    if n > WRITE_MAX_ROWS:
        raise ValueError(
            f"write_gpkg is a driver-side fixture sink (> {WRITE_MAX_ROWS} rows); "
            "write parquet for large tables"
        )
    rows = df.collect()
    names = df.columns
    gi = names.index("geometry")
    other = [n for n in names if n != "geometry"]
    idx = [names.index(n) for n in other]
    rows = sorted(rows, key=lambda r: tuple(str(r[i]) for i in idx))

    def decl(n):
        t = dict(df.dtypes)[n]
        if t in ("bigint", "int", "smallint", "tinyint"):
            return "INTEGER"
        if t in ("double", "float"):
            return "REAL"
        if t == "binary":
            return "BLOB"
        if t == "boolean":
            return "BOOLEAN"
        return "TEXT"

    con = sqlite3.connect(path)
    try:
        cur = con.cursor()
        cur.execute("PRAGMA application_id = 0x47504B47")  # 'GPKG'
        cur.execute("PRAGMA user_version = 10300")
        cur.execute(
            "CREATE TABLE IF NOT EXISTS gpkg_spatial_ref_sys ("
            "srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY, "
            "organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL, "
            "definition TEXT NOT NULL, description TEXT)"
        )
        for sid, name in ((-1, "Undefined cartesian"), (0, "Undefined geographic"),
                          (int(srs_id), f"EPSG:{srs_id}")):
            cur.execute(
                "INSERT OR IGNORE INTO gpkg_spatial_ref_sys VALUES (?,?,?,?,?,?)",
                (name, sid, "EPSG" if sid > 0 else "NONE", max(sid, 0), "undefined", None),
            )
        cur.execute(
            "CREATE TABLE IF NOT EXISTS gpkg_contents ("
            "table_name TEXT NOT NULL PRIMARY KEY, data_type TEXT NOT NULL, "
            "identifier TEXT UNIQUE, description TEXT DEFAULT '', "
            "last_change DATETIME, min_x DOUBLE, min_y DOUBLE, "
            "max_x DOUBLE, max_y DOUBLE, srs_id INTEGER)"
        )
        cur.execute(
            "CREATE TABLE IF NOT EXISTS gpkg_geometry_columns ("
            "table_name TEXT NOT NULL, column_name TEXT NOT NULL, "
            "geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL, "
            "z TINYINT NOT NULL, m TINYINT NOT NULL, "
            "CONSTRAINT pk_geom_cols PRIMARY KEY (table_name, column_name))"
        )
        cols_sql = ", ".join(
            [f'"geometry" {geometry_type}'] + [f'"{n}" {decl(n)}' for n in other]
        )
        cur.execute(f'CREATE TABLE "{layer}" (fid INTEGER PRIMARY KEY AUTOINCREMENT, {cols_sql})')
        ins = (
            f'INSERT INTO "{layer}" ("geometry", '
            + ", ".join(f'"{n}"' for n in other)
            + ") VALUES ("
            + ", ".join("?" * (1 + len(other)))
            + ")"
        )
        ext = [None, None, None, None]
        from gdal_spark.geometry import ops as _ops, wkb as _wkb

        for r in rows:
            b = r[gi]
            blob = _gp_blob(bytes(b), srs_id) if b is not None else None
            if b is not None:
                e = _ops.envelope(_wkb.parse_wkb(bytes(b)))
                ext[0] = e[0] if ext[0] is None else min(ext[0], e[0])
                ext[1] = e[1] if ext[1] is None else min(ext[1], e[1])
                ext[2] = e[2] if ext[2] is None else max(ext[2], e[2])
                ext[3] = e[3] if ext[3] is None else max(ext[3], e[3])
            vals = [blob] + [
                bytes(r[i]) if isinstance(r[i], (bytes, bytearray)) else r[i]
                for i in idx
            ]
            cur.execute(ins, vals)
        cur.execute(
            "INSERT INTO gpkg_contents (table_name, data_type, identifier, "
            "last_change, min_x, min_y, max_x, max_y, srs_id) "
            "VALUES (?, 'features', ?, '2000-01-01T00:00:00.000Z', ?, ?, ?, ?, ?)",
            (layer, layer, ext[0], ext[1], ext[2], ext[3], int(srs_id)),
        )
        cur.execute(
            "INSERT INTO gpkg_geometry_columns VALUES (?, ?, ?, ?, 0, 0)",
            (layer, "geometry", geometry_type, int(srs_id)),
        )
        con.commit()
    finally:
        con.close()
