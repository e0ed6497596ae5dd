"""Coordinate reference systems and batched NumPy transforms — the
engine's replacement for the reference's PROJ-backed
``OGRCoordinateTransformation`` (ogr/ogrct.cpp) for the projections a
web-scale tiling pipeline actually uses:

- EPSG:4326 geographic (WGS84)
- EPSG:3857 spherical web mercator
- EPSG:32601-32660 / 32701-32760 UTM (WGS84), and generic transverse
  Mercator via :class:`TMerc`

The ellipsoidal transverse Mercator is the Krüger series in the
exponential form (Karney, "Transverse Mercator with an accuracy of a few
nanometers", J. Geod. 2011 — the same formulation PROJ's ``etmerc``
uses; coefficients to n^6 give sub-micrometer accuracy inside a UTM
zone). The inverse recovers latitude from the conformal latitude by
Newton iteration. An independent Redfearn/Snyder series implementation
(:func:`utm_forward_redfearn`, USGS PP 1395 eq. 8-9..8-17) exists purely
as a cross-check oracle: two unrelated derivations agreeing to
sub-millimeter is the correctness evidence in lieu of PROJ itself
(tests/test_crs.py).

All transforms are vectorized NumPy (lon/lat arrays in, x/y arrays out)
and plug into the existing pandas-UDF geometry plumbing
(``ops.transform_geom``) and the raster warp gather — no per-row Python.
"""

from __future__ import annotations

import numpy as np

# WGS84
A_WGS84 = 6378137.0
F_WGS84 = 1.0 / 298.257223563


class TMerc:
    """Ellipsoidal transverse Mercator (Krüger series, 6th order in n) with
    the UTM scale 0.9996 and false easting 500 km."""

    def __init__(
        self,
        lon0_deg: float,
        false_n: float = 0.0,
        a: float = A_WGS84,
        f: float = F_WGS84,
    ):
        self.lon0 = np.deg2rad(lon0_deg)
        self.k0 = 0.9996
        self.fe = 500000.0
        self.fn = false_n
        self.a = a
        self.f = f
        n = f / (2.0 - f)
        self.n = n
        self.e2 = f * (2.0 - f)
        self.e = np.sqrt(self.e2)
        self.A = a / (1 + n) * (1 + n**2 / 4 + n**4 / 64 + n**6 / 256)
        self.alpha = np.array([
            n / 2 - 2 * n**2 / 3 + 5 * n**3 / 16 + 41 * n**4 / 180
            - 127 * n**5 / 288 + 7891 * n**6 / 37800,
            13 * n**2 / 48 - 3 * n**3 / 5 + 557 * n**4 / 1440 + 281 * n**5 / 630
            - 1983433 * n**6 / 1935360,
            61 * n**3 / 240 - 103 * n**4 / 140 + 15061 * n**5 / 26880
            + 167603 * n**6 / 181440,
            49561 * n**4 / 161280 - 179 * n**5 / 168 + 6601661 * n**6 / 7257600,
            34729 * n**5 / 80640 - 3418889 * n**6 / 1995840,
            212378941 * n**6 / 319334400,
        ])
        self.beta = np.array([
            n / 2 - 2 * n**2 / 3 + 37 * n**3 / 96 - n**4 / 360
            - 81 * n**5 / 512 + 96199 * n**6 / 604800,
            n**2 / 48 + n**3 / 15 - 437 * n**4 / 1440 + 46 * n**5 / 105
            - 1118711 * n**6 / 3870720,
            17 * n**3 / 480 - 37 * n**4 / 840 - 209 * n**5 / 4480
            + 5569 * n**6 / 90720,
            4397 * n**4 / 161280 - 11 * n**5 / 504 - 830251 * n**6 / 7257600,
            4583 * n**5 / 161280 - 108847 * n**6 / 3991680,
            20648693 * n**6 / 638668800,
        ])

    def forward(self, lon_deg, lat_deg):
        """(lon, lat) degrees → (easting, northing) meters."""
        lam = np.deg2rad(np.asarray(lon_deg, dtype=np.float64)) - self.lon0
        phi = np.deg2rad(np.asarray(lat_deg, dtype=np.float64))
        e = self.e
        s = np.sin(phi)
        # conformal latitude tangent via Gauss-Schreiber: t = sinh(ψ)
        t = np.sinh(np.arctanh(s) - e * np.arctanh(e * s))
        xi_p = np.arctan2(t, np.cos(lam))
        eta_p = np.arcsinh(np.sin(lam) / np.sqrt(t * t + np.cos(lam) ** 2))
        xi = xi_p.copy()
        eta = eta_p.copy()
        for j in range(6):
            k = 2.0 * (j + 1)
            xi += self.alpha[j] * np.sin(k * xi_p) * np.cosh(k * eta_p)
            eta += self.alpha[j] * np.cos(k * xi_p) * np.sinh(k * eta_p)
        x = self.fe + self.k0 * self.A * eta
        y = self.fn + self.k0 * self.A * xi
        return x, y

    def inverse(self, x, y):
        """(easting, northing) meters → (lon, lat) degrees."""
        eta = (np.asarray(x, dtype=np.float64) - self.fe) / (self.k0 * self.A)
        xi = (np.asarray(y, dtype=np.float64) - self.fn) / (self.k0 * self.A)
        xi_p = xi.copy()
        eta_p = eta.copy()
        for j in range(6):
            k = 2.0 * (j + 1)
            xi_p -= self.beta[j] * np.sin(k * xi) * np.cosh(k * eta)
            eta_p -= self.beta[j] * np.cos(k * xi) * np.sinh(k * eta)
        tau_p = np.sin(xi_p) / np.sqrt(np.sinh(eta_p) ** 2 + np.cos(xi_p) ** 2)
        lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))
        # Newton-invert the conformal latitude: solve tau'(tau) = tau_p
        e = self.e
        e2 = self.e2
        tau = tau_p / (1.0 - e2)  # first guess
        for _ in range(5):
            sig = np.sinh(e * np.arctanh(e * tau / np.sqrt(1.0 + tau * tau)))
            f_tau = tau * np.sqrt(1.0 + sig * sig) - sig * np.sqrt(1.0 + tau * tau)
            dtau = (
                (tau_p - f_tau)
                * (1.0 + (1.0 - e2) * tau * tau)
                / ((1.0 - e2) * np.sqrt((1.0 + f_tau * f_tau) * (1.0 + tau * tau)))
            )
            tau = tau + dtau
        phi = np.arctan(tau)
        return np.rad2deg(lam + self.lon0), np.rad2deg(phi)


# ---------------------------------------------------------------------------
# spherical web mercator (EPSG:3857)
# ---------------------------------------------------------------------------

R_MERC = 6378137.0


def lonlat_to_webmerc(lon, lat):
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = np.deg2rad(lon) * R_MERC
    y = np.log(np.tan(np.pi / 4.0 + np.deg2rad(lat) / 2.0)) * R_MERC
    return x, y


def webmerc_to_lonlat(x, y):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = np.rad2deg(x / R_MERC)
    lat = np.rad2deg(2.0 * np.arctan(np.exp(y / R_MERC)) - np.pi / 2.0)
    return lon, lat


# ---------------------------------------------------------------------------
# datums: ellipsoids + Helmert shifts to WGS84
# ---------------------------------------------------------------------------

# name → (a, f)
ELLIPSOIDS = {
    "WGS84": (A_WGS84, F_WGS84),
    # Clarke 1866 (a, b published; f derived) — NAD27's ellipsoid
    "clrk66": (6378206.4, (6378206.4 - 6356583.8) / 6378206.4),
    "GRS80": (6378137.0, 1.0 / 298.257222101),
}

# datum → (ellipsoid, towgs84 7-tuple: dx dy dz (m), rx ry rz (arcsec),
# ds (ppm)) — position-vector convention, same as PROJ +towgs84.
# NAD27 uses the EPSG:1173 CONUS 3-parameter values (the PROJ default).
DATUMS = {
    "WGS84": ("WGS84", (0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),
    "NAD27": ("clrk66", (-8.0, 160.0, 176.0, 0.0, 0.0, 0.0, 0.0)),
    "NAD83": ("GRS80", (0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),
}


def geodetic_to_geocentric(lon_deg, lat_deg, a: float, f: float):
    """(lon, lat) degrees on the ellipsoid (h=0) → ECEF (X, Y, Z) meters."""
    lam = np.deg2rad(np.asarray(lon_deg, np.float64))
    phi = np.deg2rad(np.asarray(lat_deg, np.float64))
    e2 = f * (2.0 - f)
    N = a / np.sqrt(1.0 - e2 * np.sin(phi) ** 2)
    X = N * np.cos(phi) * np.cos(lam)
    Y = N * np.cos(phi) * np.sin(lam)
    Z = N * (1.0 - e2) * np.sin(phi)
    return X, Y, Z


def geocentric_to_geodetic(X, Y, Z, a: float, f: float):
    """ECEF → (lon, lat) degrees on the ellipsoid by 8 fixed-point
    latitude iterations (height discarded — the engine's transforms are
    2D, matching the reference's default)."""
    X = np.asarray(X, np.float64)
    Y = np.asarray(Y, np.float64)
    Z = np.asarray(Z, np.float64)
    e2 = f * (2.0 - f)
    lon = np.arctan2(Y, X)
    p = np.hypot(X, Y)
    phi = np.arctan2(Z, p * (1.0 - e2))
    for _ in range(8):
        N = a / np.sqrt(1.0 - e2 * np.sin(phi) ** 2)
        phi = np.arctan2(Z + e2 * N * np.sin(phi), p)
    return np.rad2deg(lon), np.rad2deg(phi)


def helmert(X, Y, Z, params, inverse: bool = False):
    """3/7-parameter Helmert transform (position-vector sign convention,
    EPSG method 9606): small-angle rotation matrix + scale + translation.
    ``inverse=True`` applies the reverse transform."""
    dx, dy, dz, rx, ry, rz, ds = params
    rx = np.deg2rad(rx / 3600.0)
    ry = np.deg2rad(ry / 3600.0)
    rz = np.deg2rad(rz / 3600.0)
    m = 1.0 + ds * 1e-6
    if not inverse:
        X2 = m * (X - rz * Y + ry * Z) + dx
        Y2 = m * (rz * X + Y - rx * Z) + dy
        Z2 = m * (-ry * X + rx * Y + Z) + dz
        return X2, Y2, Z2
    # reverse: subtract translation, apply transposed rotation / scale
    Xp = (X - dx) / m
    Yp = (Y - dy) / m
    Zp = (Z - dz) / m
    X2 = Xp + rz * Yp - ry * Zp
    Y2 = -rz * Xp + Yp + rx * Zp
    Z2 = ry * Xp - rx * Yp + Zp
    return X2, Y2, Z2


def datum_shift(lon, lat, src_datum: str, dst_datum: str):
    """Geographic coords between datums via geocentric Helmert pivot
    (src → WGS84 → dst). Identity when the datums match."""
    if src_datum == dst_datum:
        return np.asarray(lon, np.float64), np.asarray(lat, np.float64)
    se, sp = DATUMS[src_datum]
    de, dp = DATUMS[dst_datum]
    sa, sf = ELLIPSOIDS[se]
    da, df = ELLIPSOIDS[de]
    X, Y, Z = geodetic_to_geocentric(lon, lat, sa, sf)
    X, Y, Z = helmert(X, Y, Z, sp)
    X, Y, Z = helmert(X, Y, Z, dp, inverse=True)
    return geocentric_to_geodetic(X, Y, Z, da, df)


# ---------------------------------------------------------------------------
# registry + transformer factory
# ---------------------------------------------------------------------------

def _parse_epsg(code: str | int) -> int:
    if isinstance(code, int):
        return code
    c = code.strip().upper()
    if c.startswith("EPSG:"):
        return int(c[5:])
    return int(c)


def _utm_spec(epsg: int):
    """(zone, south, datum) for every UTM family in the registry."""
    if 32601 <= epsg <= 32660:
        return epsg - 32600, False, "WGS84"
    if 32701 <= epsg <= 32760:
        return epsg - 32700, True, "WGS84"
    if 26701 <= epsg <= 26722:  # NAD27 / UTM 1N-22N (e.g. 26711: byte.tif)
        return epsg - 26700, False, "NAD27"
    if 26901 <= epsg <= 26923:  # NAD83 / UTM 1N-23N
        return epsg - 26900, False, "NAD83"
    return None


def _utm_tmerc(epsg: int) -> TMerc:
    spec = _utm_spec(epsg)
    if spec is None:
        raise ValueError(f"not a registry UTM code: EPSG:{epsg}")
    zone, south, datum = spec
    a, f = ELLIPSOIDS[DATUMS[datum][0]]
    return TMerc(
        lon0_deg=zone * 6.0 - 183.0,
        false_n=10000000.0 if south else 0.0,
        a=a,
        f=f,
    )


def _is_utm(epsg: int) -> bool:
    return _utm_spec(epsg) is not None


_GEOGRAPHIC = {4326: "WGS84", 4267: "NAD27", 4269: "NAD83"}

_REGISTRY_DESC = (
    "4326/4267/4269 geographic, 3857, UTM on WGS84 (326xx/327xx), "
    "NAD27 (267xx), NAD83 (269xx)"
)


def crs_datum(epsg: int) -> str:
    """Datum name of a registry CRS."""
    if epsg in _GEOGRAPHIC:
        return _GEOGRAPHIC[epsg]
    if epsg == 3857:
        return "WGS84"
    spec = _utm_spec(epsg)
    if spec is not None:
        return spec[2]
    raise NotImplementedError(
        f"EPSG:{epsg} not in the supported registry ({_REGISTRY_DESC})"
    )


def _to_lonlat(epsg: int):
    """fn(x, y) -> (lon, lat) in the CRS's OWN datum."""
    if epsg in _GEOGRAPHIC:
        return lambda x, y: (np.asarray(x, np.float64), np.asarray(y, np.float64))
    if epsg == 3857:
        return webmerc_to_lonlat
    if _is_utm(epsg):
        tm = _utm_tmerc(epsg)
        return tm.inverse
    raise NotImplementedError(
        f"EPSG:{epsg} not in the supported registry ({_REGISTRY_DESC})"
    )


def _from_lonlat(epsg: int):
    if epsg in _GEOGRAPHIC:
        return lambda lon, lat: (np.asarray(lon, np.float64), np.asarray(lat, np.float64))
    if epsg == 3857:
        return lonlat_to_webmerc
    if _is_utm(epsg):
        tm = _utm_tmerc(epsg)
        return tm.forward
    raise NotImplementedError(
        f"EPSG:{epsg} not in the supported registry ({_REGISTRY_DESC})"
    )


def transformer(src: str | int, dst: str | int):
    """Batched fn(xs, ys) -> (xs, ys) between two supported CRS.

    Pivot through geographic; when the endpoint datums differ (e.g.
    NAD27 / UTM 11N → WGS84, the reference's byte.tif warp), the pivot
    additionally runs the geocentric 3/7-parameter Helmert datum shift
    (:func:`datum_shift`) — replacing the PROJ pipeline the reference
    gets from ogrct.cpp for these datums."""
    s, d = _parse_epsg(src), _parse_epsg(dst)
    if s == d:
        return lambda x, y: (np.asarray(x, np.float64), np.asarray(y, np.float64))
    inv = _to_lonlat(s)
    fwd = _from_lonlat(d)
    sdat, ddat = crs_datum(s), crs_datum(d)

    if sdat == ddat:
        def fn(x, y):
            lon, lat = inv(x, y)
            return fwd(lon, lat)
    else:
        def fn(x, y):
            lon, lat = inv(x, y)
            lon, lat = datum_shift(lon, lat, sdat, ddat)
            return fwd(lon, lat)

    return fn


# ---------------------------------------------------------------------------
# independent cross-check: Redfearn/Snyder UTM series (USGS PP 1395)
# ---------------------------------------------------------------------------

def utm_forward_redfearn(
    lon_deg, lat_deg, zone: int,
    a: float = A_WGS84, f: float = F_WGS84,
):
    """Northern-hemisphere UTM forward by the classic Redfearn/Snyder
    expansion (eq. 8-9..8-17) — shares NOTHING with the Krüger path
    above; test oracle only.
    Takes the ellipsoid so NAD27 (Clarke 1866) zones cross-check too."""
    e2 = f * (2 - f)
    ep2 = e2 / (1 - e2)
    k0 = 0.9996
    lon0 = np.deg2rad(zone * 6.0 - 183.0)
    lam = np.deg2rad(np.asarray(lon_deg, dtype=np.float64))
    phi = np.deg2rad(np.asarray(lat_deg, dtype=np.float64))
    N = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
    T = np.tan(phi) ** 2
    C = ep2 * np.cos(phi) ** 2
    Aq = (lam - lon0) * np.cos(phi)
    # meridian arc (Snyder 3-21)
    M = a * (
        (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256) * phi
        - (3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024) * np.sin(2 * phi)
        + (15 * e2**2 / 256 + 45 * e2**3 / 1024) * np.sin(4 * phi)
        - (35 * e2**3 / 3072) * np.sin(6 * phi)
    )
    x = k0 * N * (
        Aq
        + (1 - T + C) * Aq**3 / 6
        + (5 - 18 * T + T**2 + 72 * C - 58 * ep2) * Aq**5 / 120
    ) + 500000.0
    y = k0 * (
        M
        + N
        * np.tan(phi)
        * (
            Aq**2 / 2
            + (5 - T + 9 * C + 4 * C**2) * Aq**4 / 24
            + (61 - 58 * T + T**2 + 600 * C - 330 * ep2) * Aq**6 / 720
        )
    )
    return x, y
