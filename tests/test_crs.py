"""CRS: UTM Krüger-series forward/inverse vs independent oracles
(numerically integrated meridian arc, roundtrip, symmetry)."""

import math

import numpy as np
import pytest

from geo_inference_spark.functions.crs import (
    _A,
    _K0,
    check_crs,
    lonlat_to_utm,
    transform_bounds,
    transform_point,
    utm_to_lonlat,
)

A, F = 6378137.0, 1.0 / 298.257223563
E2 = F * (2 - F)


def meridian_arc_numeric(lat_deg: float) -> float:
    """Independent oracle: Simpson integration of the ellipsoid
    meridian integrand a(1-e^2)/(1-e^2 sin^2 phi)^{3/2}."""
    phi = np.linspace(0.0, math.radians(lat_deg), 20001)
    integrand = A * (1 - E2) / (1 - E2 * np.sin(phi) ** 2) ** 1.5
    h = phi[1] - phi[0]
    return float(
        h / 3 * (integrand[0] + integrand[-1]
                 + 4 * integrand[1:-1:2].sum() + 2 * integrand[2:-1:2].sum())
    )


def test_utm_central_meridian_anchor():
    """On the central meridian: easting exactly 500000, northing ==
    k0 * meridian arc length (vs numeric integration, < 0.5 mm)."""
    for lat in (0.0, 12.3, 45.0, 71.5):
        e, n = lonlat_to_utm(-75.0, lat, 32618)  # zone 18N, lon0 = -75
        assert e == pytest.approx(500_000.0, abs=1e-6)
        assert n == pytest.approx(_K0 * meridian_arc_numeric(lat), abs=5e-4)
    # rectifying radius sanity: quarter meridian == A * pi/2
    assert meridian_arc_numeric(90.0) == pytest.approx(_A * math.pi / 2, abs=1e-3)


def test_utm_roundtrip_grid():
    rng = np.random.RandomState(2)
    for _ in range(200):
        lon = rng.uniform(-180, 180)
        lat = rng.uniform(-80, 84)
        # the EPSG code of the zone holding (lon, lat)
        epsg = (32600 if lat >= 0 else 32700) + int((lon + 180.0) // 6.0) % 60 + 1
        e, n = lonlat_to_utm(lon, lat, epsg)
        lon2, lat2 = utm_to_lonlat(e, n, epsg)
        assert abs(lon2 - lon) < 1e-9 and abs(lat2 - lat) < 1e-9
        # inside-zone coordinates stay in the standard ranges
        assert 100_000 < e < 900_000
        assert 0 <= n <= 10_000_000


def test_utm_hemisphere_symmetry_and_scale():
    en, nn = lonlat_to_utm(7.0, 46.5, 32632)
    es, ns = lonlat_to_utm(7.0, -46.5, 32732)
    assert es == pytest.approx(en, abs=1e-6)
    assert ns == pytest.approx(10_000_000.0 - nn, abs=1e-6)
    # 1 degree of longitude at the equator ~ 111.32 km * k0
    e1, _ = lonlat_to_utm(-74.0, 0.0, 32618)
    assert e1 - 500_000 == pytest.approx(111_319.49 * _K0, rel=2e-4)


def test_transform_point_chains():
    # 4326 -> UTM -> 3857 -> 4326 closes
    lon, lat = -73.99, 40.73
    e, n = transform_point(4326, 32618, lon, lat)
    x, y = transform_point(32618, 3857, e, n)
    lon2, lat2 = transform_point(3857, 4326, x, y)
    assert abs(lon2 - lon) < 1e-9 and abs(lat2 - lat) < 1e-9
    assert check_crs("epsg:32618") == "EPSG:32618"


def test_transform_bounds_utm_densified():
    b = transform_bounds(4326, 32632, 6.0, 45.0, 12.0, 48.0)
    # bbox corners alone under-cover a curved UTM edge; the densified
    # bounds must CONTAIN every transformed interior sample
    rng = np.random.RandomState(1)
    for _ in range(100):
        lon = rng.uniform(6.0, 12.0)
        lat = rng.uniform(45.0, 48.0)
        e, n = lonlat_to_utm(lon, lat, 32632)
        assert b[0] - 1e-6 <= e <= b[2] + 1e-6
        assert b[1] - 1e-6 <= n <= b[3] + 1e-6
    with pytest.raises(ValueError):
        transform_bounds(4326, "EPSG:9999", 0, 0, 1, 1)


# ------------------------- conic / azimuthal (Snyder) property oracles

def _area_element(lat):
    """Ellipsoidal area element M * N * cos(phi) on GRS80."""
    import math

    from geo_inference_spark.functions.crs import _g_e2, _GRS80_A

    phi = math.radians(lat)
    s2 = math.sin(phi) ** 2
    M = _GRS80_A * (1 - _g_e2) / (1 - _g_e2 * s2) ** 1.5
    N = _GRS80_A / math.sqrt(1 - _g_e2 * s2)
    return M * N * math.cos(phi)


def _jacobian(fwd, lon, lat, d=1e-6):
    """Numeric d(x,y)/d(lon,lat) in meters per RADIAN."""
    import math
    x0, y0 = fwd(lon - d, lat)
    x1, y1 = fwd(lon + d, lat)
    x2, y2 = fwd(lon, lat - d)
    x3, y3 = fwd(lon, lat + d)
    r = math.degrees(1) / (2 * d)  # per-radian scaling
    return ((x1 - x0) * r, (y1 - y0) * r, (x3 - x2) * r, (y3 - y2) * r)


def _scales(fwd, lon, lat):
    """(k along parallel, h along meridian) vs the ellipsoid."""
    import math

    from geo_inference_spark.functions.crs import _g_e2, _GRS80_A

    dxdl, dydl, dxdp, dydp = _jacobian(fwd, lon, lat)
    phi = math.radians(lat)
    s2 = math.sin(phi) ** 2
    M = _GRS80_A * (1 - _g_e2) / (1 - _g_e2 * s2) ** 1.5
    N = _GRS80_A / math.sqrt(1 - _g_e2 * s2)
    k = math.hypot(dxdl, dydl) / (N * math.cos(phi))
    h = math.hypot(dxdp, dydp) / M
    return k, h


def test_lcc2154_roundtrip_and_conformal():
    """Lambert-93: sub-mm roundtrip over France; conformality (h == k
    everywhere) and unit scale exactly on the standard parallels —
    the defining properties of the projection, checked numerically."""
    from geo_inference_spark.functions.crs import _PROJ_REGISTRY

    p = _PROJ_REGISTRY[2154]
    for lon in (-4.0, 0.0, 3.0, 7.5):
        for lat in (41.5, 44.0, 46.5, 49.0, 51.0):
            x, y = p.fwd(lon, lat)
            lo, la = p.inv(x, y)
            assert abs(lo - lon) < 1e-9 and abs(la - lat) < 1e-9
            k, h = _scales(p.fwd, lon, lat)
            assert abs(k - h) < 1e-6 * k  # conformal
    for sp in (44.0, 49.0):  # standard parallels: k = 1
        k, _ = _scales(p.fwd, 3.0, sp)
        assert abs(k - 1.0) < 1e-7
    # k > 1 outside the parallels, < 1 between
    assert _scales(p.fwd, 3.0, 46.5)[0] < 1.0 < _scales(p.fwd, 3.0, 51.0)[0]
    # sanity: Paris lands where Lambert-93 puts it (public approx)
    x, y = p.fwd(2.3522, 48.8566)
    assert abs(x - 652_000) < 5000 and abs(y - 6_862_000) < 5000


def test_albers5070_roundtrip_and_equal_area():
    """CONUS Albers: sub-mm roundtrip; the numeric Jacobian equals the
    ellipsoidal area element everywhere (equal-area property) and
    k = 1 on both standard parallels."""
    from geo_inference_spark.functions.crs import _PROJ_REGISTRY

    p = _PROJ_REGISTRY[5070]
    for lon in (-120.0, -96.0, -75.0):
        for lat in (25.0, 29.5, 37.0, 45.5, 49.0):
            x, y = p.fwd(lon, lat)
            lo, la = p.inv(x, y)
            assert abs(lo - lon) < 1e-9 and abs(la - lat) < 1e-9
            dxdl, dydl, dxdp, dydp = _jacobian(p.fwd, lon, lat)
            jac = abs(dxdl * dydp - dxdp * dydl)
            assert abs(jac - _area_element(lat)) < 1e-5 * _area_element(lat)
    for sp in (29.5, 45.5):
        k, _ = _scales(p.fwd, -96.0, sp)
        assert abs(k - 1.0) < 1e-7


def test_laea3035_roundtrip_and_equal_area():
    """Europe LAEA: sub-mm roundtrip; equal-area Jacobian; the
    projection center maps to the false origin exactly."""
    from geo_inference_spark.functions.crs import _PROJ_REGISTRY

    p = _PROJ_REGISTRY[3035]
    x0, y0 = p.fwd(10.0, 52.0)
    assert abs(x0 - 4_321_000.0) < 1e-6 and abs(y0 - 3_210_000.0) < 1e-6
    for lon in (-10.0, 4.35, 10.0, 25.0):
        for lat in (35.0, 45.0, 52.0, 60.0, 70.0):
            x, y = p.fwd(lon, lat)
            lo, la = p.inv(x, y)
            assert abs(lo - lon) < 1e-8 and abs(la - lat) < 1e-8
            dxdl, dydl, dxdp, dydp = _jacobian(p.fwd, lon, lat)
            jac = abs(dxdl * dydp - dxdp * dydl)
            assert abs(jac - _area_element(lat)) < 1e-5 * _area_element(lat)


def test_transform_point_routes_conics():
    from geo_inference_spark.functions.crs import transform_point

    x, y = transform_point(4326, 2154, 2.3522, 48.8566)
    lon, lat = transform_point(2154, 4326, x, y)
    assert abs(lon - 2.3522) < 1e-9 and abs(lat - 48.8566) < 1e-9
    # chained: Lambert-93 -> LAEA Europe and back through lon/lat
    ex, ny = transform_point(2154, 3035, x, y)
    x2, y2 = transform_point(3035, 2154, ex, ny)
    assert abs(x2 - x) < 1e-6 and abs(y2 - y) < 1e-6
