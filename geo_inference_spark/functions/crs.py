"""CRS checks and bounds reprojection (SURVEY.md §2.8 F10/F11).

The reference leans on pyproj/rasterio (utils/geo.py:83-103
check_crs; transform_bounds calls in utils/geo_transforms.py:237-252).
pyproj is not in this container, so the CRSs the engine supports are
implemented from public formulas: EPSG:4326 (lon/lat), EPSG:3857
(spherical web mercator), the full UTM family EPSG:326xx/327xx
(ellipsoidal transverse Mercator, Krüger n-series, sub-mm vs the
series' own truncation), and the common national/continental equal-
area and conformal conics on GRS80 — EPSG:2154 (Lambert-93, LCC 2SP),
EPSG:5070 (CONUS Albers), EPSG:3035 (Europe LAEA) — via Snyder's
ellipsoidal formulas (Map Projections: A Working Manual, USGS PP
1395, §14/§15/§24). Correctness is pinned by differential-geometry
property oracles in tests/test_crs.py (conformality h == k for LCC,
Jacobian == ellipsoidal area element for Albers/LAEA, unit scale on
standard parallels, sub-mm roundtrips) — no external library needed.
Anything else raises, loudly, rather than silently misprojecting.
"""

from __future__ import annotations

import math
import re

_R = 6378137.0  # WGS84 spherical earth radius used by EPSG:3857

_EPSG_RE = re.compile(r"(?:EPSG:)?(\d+)$", re.IGNORECASE)


def check_crs(crs) -> str:
    """Normalize a CRS spec to 'EPSG:<code>' (check_crs parity:
    accepts int codes and 'EPSG:x' strings)."""
    if isinstance(crs, int):
        return f"EPSG:{crs}"
    if isinstance(crs, str):
        m = _EPSG_RE.match(crs.strip())
        if m:
            return f"EPSG:{int(m.group(1))}"
    raise ValueError(f"unsupported CRS spec: {crs!r}")


def _to_3857(lon: float, lat: float) -> tuple[float, float]:
    x = math.radians(lon) * _R
    y = math.log(math.tan(math.pi / 4 + math.radians(lat) / 2)) * _R
    return x, y


def _to_4326(x: float, y: float) -> tuple[float, float]:
    lon = math.degrees(x / _R)
    lat = math.degrees(2 * math.atan(math.exp(y / _R)) - math.pi / 2)
    return lon, lat


def transform_bounds(
    src_crs, dst_crs, minx: float, miny: float, maxx: float, maxy: float
) -> tuple[float, float, float, float]:
    """Reproject a bbox between EPSG:4326 and EPSG:3857 (F11).

    Corner-based (sufficient for the axis-aligned, mid-latitude boxes
    the pipelines use); identity when src == dst.
    """
    src, dst = check_crs(src_crs), check_crs(dst_crs)
    if src == dst:
        return (minx, miny, maxx, maxy)
    # densified edges (transform_bounds parity: UTM edges curve)
    pts = []
    for i in range(21):
        f = i / 20.0
        pts.append((minx + f * (maxx - minx), miny))
        pts.append((minx + f * (maxx - minx), maxy))
        pts.append((minx, miny + f * (maxy - miny)))
        pts.append((maxx, miny + f * (maxy - miny)))
    out = [transform_point(src, dst, x, y) for x, y in pts]
    xs = [p[0] for p in out]
    ys = [p[1] for p in out]
    return (min(xs), min(ys), max(xs), max(ys))


# ---------------------------------------------------------------- UTM
# Ellipsoidal transverse Mercator via the Krüger n-series (public
# formulation: Krüger 1912; Karney 2011 "Transverse Mercator with an
# accuracy of a few nanometers"). Third order in n — truncation error
# O(n^4) ~ 0.05 mm for WGS84 — replaces the reference's pyproj path
# for EPSG:326xx/327xx (UTM north/south) without any dependency.

_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
_K0 = 0.9996
_E0 = 500_000.0
_NS_FALSE = 10_000_000.0

_e2 = _WGS84_F * (2 - _WGS84_F)
_e = math.sqrt(_e2)
_n = _WGS84_F / (2 - _WGS84_F)
# rectifying radius
_A = _WGS84_A / (1 + _n) * (1 + _n**2 / 4 + _n**4 / 64)
_ALPHA = (
    _n / 2 - 2 * _n**2 / 3 + 5 * _n**3 / 16,
    13 * _n**2 / 48 - 3 * _n**3 / 5,
    61 * _n**3 / 240,
)
_BETA = (
    _n / 2 - 2 * _n**2 / 3 + 37 * _n**3 / 96,
    _n**2 / 48 + _n**3 / 15,
    17 * _n**3 / 480,
)


def _utm_central_lon(epsg: int) -> tuple[float, bool]:
    code = epsg % 100
    north = 32600 < epsg < 32661
    if not (1 <= code <= 60 and (north or 32700 < epsg < 32761)):
        raise ValueError(f"not a UTM EPSG code: {epsg}")
    return -183.0 + 6.0 * code, north


def lonlat_to_utm(lon: float, lat: float, epsg: int) -> tuple[float, float]:
    lon0, north = _utm_central_lon(epsg)
    lam = math.radians(lon - lon0)
    phi = math.radians(lat)
    s = math.sin(phi)
    # conformal latitude via the Gauss-Schreiber tau
    t = math.sinh(math.atanh(s) - _e * math.atanh(_e * s))
    xi_p = math.atan2(t, math.cos(lam))
    eta_p = math.asinh(math.sin(lam) / math.hypot(t, math.cos(lam)))
    xi, eta = xi_p, eta_p
    for j, a in enumerate(_ALPHA, start=1):
        xi += a * math.sin(2 * j * xi_p) * math.cosh(2 * j * eta_p)
        eta += a * math.cos(2 * j * xi_p) * math.sinh(2 * j * eta_p)
    e_ = _E0 + _K0 * _A * eta
    n_ = _K0 * _A * xi + (0.0 if north else _NS_FALSE)
    return e_, n_


def utm_to_lonlat(easting: float, northing: float, epsg: int) -> tuple[float, float]:
    lon0, north = _utm_central_lon(epsg)
    if not north:
        northing -= _NS_FALSE
    xi = northing / (_K0 * _A)
    eta = (easting - _E0) / (_K0 * _A)
    xi_p, eta_p = xi, eta
    for j, b in enumerate(_BETA, start=1):
        xi_p -= b * math.sin(2 * j * xi) * math.cosh(2 * j * eta)
        eta_p -= b * math.cos(2 * j * xi) * math.sinh(2 * j * eta)
    t = math.sin(xi_p) / math.sqrt(
        math.sinh(eta_p) ** 2 + math.cos(xi_p) ** 2
    )
    lam = math.atan2(math.sinh(eta_p), math.cos(xi_p))
    # invert the conformal latitude: Newton on
    # g(phi) = sinh(atanh(sin phi) - e atanh(e sin phi)) - t
    phi = math.atan(t)
    for _ in range(12):
        s = math.sin(phi)
        psi = math.atanh(s) - _e * math.atanh(_e * s)
        g = math.sinh(psi) - t
        dpsi = (1 - _e2) / ((1 - _e2 * s * s) * math.cos(phi))
        d = math.cosh(psi) * dpsi
        step = g / d
        phi -= step
        if abs(step) < 1e-15:
            break
    return _norm_lon(lon0 + math.degrees(lam)), math.degrees(phi)


def _norm_lon(lon: float) -> float:
    """Wrap an inverse-projection longitude into [-180, 180].

    ``lon0 + degrees(lam)`` leaves the range when the point sits
    across the antimeridian from the projection center (e.g. LAEA
    Europe lon0=10 inverting a lon=-170 point to 190 — caught by the
    round-trip property test). IEEE ``math.remainder`` is exact, so
    in-range longitudes pass through bit-identical."""
    return math.remainder(lon, 360.0)


# ------------------------------------------------- conic / azimuthal
# Ellipsoidal Lambert Conformal Conic 2SP, Albers Equal-Area 2SP and
# Lambert Azimuthal Equal-Area on GRS80, from the public Snyder
# formulas (USGS PP 1395 §15 / §14 / §24). Parameters below are the
# published EPSG registry definitions.

_GRS80_A = 6378137.0
_GRS80_F = 1.0 / 298.257222101
_g_e2 = _GRS80_F * (2 - _GRS80_F)
_g_e = math.sqrt(_g_e2)


def _m(phi: float) -> float:
    s = math.sin(phi)
    return math.cos(phi) / math.sqrt(1 - _g_e2 * s * s)


def _t(phi: float) -> float:
    s = math.sin(phi)
    return math.tan(math.pi / 4 - phi / 2) / (
        (1 - _g_e * s) / (1 + _g_e * s)
    ) ** (_g_e / 2)


def _q(phi: float) -> float:
    s = math.sin(phi)
    return (1 - _g_e2) * (
        s / (1 - _g_e2 * s * s)
        - (1 / (2 * _g_e)) * math.log((1 - _g_e * s) / (1 + _g_e * s))
    )


def _phi_from_t(t: float) -> float:
    phi = math.pi / 2 - 2 * math.atan(t)
    for _ in range(15):
        s = math.sin(phi)
        new = math.pi / 2 - 2 * math.atan(
            t * ((1 - _g_e * s) / (1 + _g_e * s)) ** (_g_e / 2)
        )
        if abs(new - phi) < 1e-14:
            return new
        phi = new
    return phi


def _phi_from_q(q: float) -> float:
    phi = math.asin(max(-1.0, min(1.0, q / 2)))
    for _ in range(15):  # Snyder 3-16
        s = math.sin(phi)
        d = (1 - _g_e2 * s * s) ** 2 / (2 * math.cos(phi)) * (
            q / (1 - _g_e2)
            - s / (1 - _g_e2 * s * s)
            + (1 / (2 * _g_e)) * math.log((1 - _g_e * s) / (1 + _g_e * s))
        )
        phi += d
        if abs(d) < 1e-14:
            break
    return phi


class _LCC2SP:
    """Lambert Conformal Conic, two standard parallels (Snyder §15)."""

    def __init__(self, phi1, phi2, phi0, lon0, fe, fn):
        p1, p2, p0 = map(math.radians, (phi1, phi2, phi0))
        self.lon0, self.fe, self.fn = math.radians(lon0), fe, fn
        self.n = (math.log(_m(p1)) - math.log(_m(p2))) / (
            math.log(_t(p1)) - math.log(_t(p2))
        )
        self.F = _m(p1) / (self.n * _t(p1) ** self.n)
        self.rho0 = _GRS80_A * self.F * _t(p0) ** self.n

    def fwd(self, lon, lat):
        rho = _GRS80_A * self.F * _t(math.radians(lat)) ** self.n
        th = self.n * (math.radians(lon) - self.lon0)
        return (self.fe + rho * math.sin(th),
                self.fn + self.rho0 - rho * math.cos(th))

    def inv(self, x, y):
        xp, yp = x - self.fe, self.rho0 - (y - self.fn)
        rho = math.copysign(math.hypot(xp, yp), self.n)
        t = (rho / (_GRS80_A * self.F)) ** (1 / self.n)
        th = math.atan2(xp, yp)
        return (_norm_lon(math.degrees(self.lon0 + th / self.n)),
                math.degrees(_phi_from_t(t)))


class _Albers2SP:
    """Albers Equal-Area Conic, two standard parallels (Snyder §14)."""

    def __init__(self, phi1, phi2, phi0, lon0, fe, fn):
        p1, p2, p0 = map(math.radians, (phi1, phi2, phi0))
        self.lon0, self.fe, self.fn = math.radians(lon0), fe, fn
        m1, m2 = _m(p1), _m(p2)
        q1, q2 = _q(p1), _q(p2)
        self.n = (m1 * m1 - m2 * m2) / (q2 - q1)
        self.C = m1 * m1 + self.n * q1
        self.rho0 = _GRS80_A * math.sqrt(self.C - self.n * _q(p0)) / self.n

    def fwd(self, lon, lat):
        rho = _GRS80_A * math.sqrt(
            self.C - self.n * _q(math.radians(lat))
        ) / self.n
        th = self.n * (math.radians(lon) - self.lon0)
        return (self.fe + rho * math.sin(th),
                self.fn + self.rho0 - rho * math.cos(th))

    def inv(self, x, y):
        xp, yp = x - self.fe, self.rho0 - (y - self.fn)
        rho = math.hypot(xp, yp)
        q = (self.C - (rho * self.n / _GRS80_A) ** 2) / self.n
        th = math.atan2(xp, yp)
        return (_norm_lon(math.degrees(self.lon0 + th / self.n)),
                math.degrees(_phi_from_q(q)))


class _LAEA:
    """Lambert Azimuthal Equal-Area, oblique ellipsoidal (Snyder §24)."""

    def __init__(self, phi0, lon0, fe, fn):
        p0 = math.radians(phi0)
        self.lon0, self.fe, self.fn = math.radians(lon0), fe, fn
        self.qp = _q(math.pi / 2)
        self.b0 = math.asin(_q(p0) / self.qp)
        self.Rq = _GRS80_A * math.sqrt(self.qp / 2)
        self.D = _GRS80_A * _m(p0) / (self.Rq * math.cos(self.b0))

    def fwd(self, lon, lat):
        b = math.asin(max(-1.0, min(1.0, _q(math.radians(lat)) / self.qp)))
        dl = math.radians(lon) - self.lon0
        B = self.Rq * math.sqrt(
            2 / (1 + math.sin(self.b0) * math.sin(b)
                 + math.cos(self.b0) * math.cos(b) * math.cos(dl))
        )
        x = self.fe + B * self.D * math.cos(b) * math.sin(dl)
        y = self.fn + (B / self.D) * (
            math.cos(self.b0) * math.sin(b)
            - math.sin(self.b0) * math.cos(b) * math.cos(dl)
        )
        return (x, y)

    def inv(self, x, y):
        xp, yp = x - self.fe, y - self.fn
        rho = math.hypot(xp / self.D, self.D * yp)
        if rho == 0.0:
            return (math.degrees(self.lon0),
                    math.degrees(_phi_from_q(self.qp * math.sin(self.b0))))
        ce = 2 * math.asin(max(-1.0, min(1.0, rho / (2 * self.Rq))))
        b = math.asin(
            math.cos(ce) * math.sin(self.b0)
            + (self.D * yp * math.sin(ce) * math.cos(self.b0) / rho)
        )
        lam = math.atan2(
            xp * math.sin(ce),
            self.D * rho * math.cos(self.b0) * math.cos(ce)
            - self.D * self.D * yp * math.sin(self.b0) * math.sin(ce),
        )
        return (_norm_lon(math.degrees(self.lon0 + lam)),
                math.degrees(_phi_from_q(self.qp * math.sin(b))))


# published EPSG parameter sets (all GRS80-based datums; the datum
# shift ETRS89/RGF93/NAD83 <-> WGS84 is < 1-2 m and out of scope, as
# in the reference's transform_bounds usage)
_PROJ_REGISTRY = {
    2154: _LCC2SP(49.0, 44.0, 46.5, 3.0, 700_000.0, 6_600_000.0),
    5070: _Albers2SP(29.5, 45.5, 23.0, -96.0, 0.0, 0.0),
    3035: _LAEA(52.0, 10.0, 4_321_000.0, 3_210_000.0),
}


def transform_point(src_crs, dst_crs, x: float, y: float) -> tuple[float, float]:
    """Point reprojection across 4326 / 3857 / UTM 326xx-327xx /
    2154 / 5070 / 3035."""
    src, dst = check_crs(src_crs), check_crs(dst_crs)
    if src == dst:
        return (x, y)
    # normalize through lon/lat
    sc = int(src.split(":")[1])
    if src == "EPSG:4326":
        lon, lat = x, y
    elif src == "EPSG:3857":
        lon, lat = _to_4326(x, y)
    elif sc in _PROJ_REGISTRY:
        lon, lat = _PROJ_REGISTRY[sc].inv(x, y)
    else:
        lon, lat = utm_to_lonlat(x, y, sc)
    dc = int(dst.split(":")[1])
    if dst == "EPSG:4326":
        return (lon, lat)
    if dst == "EPSG:3857":
        return _to_3857(lon, lat)
    if dc in _PROJ_REGISTRY:
        return _PROJ_REGISTRY[dc].fwd(lon, lat)
    return lonlat_to_utm(lon, lat, dc)
