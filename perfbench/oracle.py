"""Independent expected values for every checked output.

Nothing here imports the engine's geometry, grid or join code: the
point-in-polygon reference is this file's own ray cast over its own
WKB decoder, and kNN / radius answers are brute force over all points.
The raster reference is the engine's single-process dense path
(raster.dense + raster.polygonize), which the distributed stitch and
polygonize must reproduce.
"""

from __future__ import annotations

import struct

import numpy as np

R_KM = 6371.0088


def wkb_polygons(wkb: bytes) -> list[list[np.ndarray]]:
    """Little-endian Polygon / MultiPolygon WKB -> [[ring (n, 2)], ...]."""
    buf = memoryview(wkb)

    def polygon(off):
        order, gtype, nrings = struct.unpack_from("<BII", buf, off)
        if order != 1 or gtype != 3:
            raise ValueError(f"unsupported WKB polygon header {order}/{gtype}")
        off += 9
        rings = []
        for _ in range(nrings):
            (n,) = struct.unpack_from("<I", buf, off)
            off += 4
            rings.append(np.frombuffer(buf, "<f8", 2 * n, off).reshape(n, 2).copy())
            off += 16 * n
        return rings, off

    order, gtype = struct.unpack_from("<BI", buf, 0)
    if gtype == 3:
        return [polygon(0)[0]]
    if gtype != 6:
        raise ValueError(f"unsupported WKB geometry type {gtype}")
    (n,) = struct.unpack_from("<I", buf, 5)
    off, out = 9, []
    for _ in range(n):
        rings, off = polygon(off)
        out.append(rings)
    return out


def ray_cast(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd test of points against one closed ring, one edge at a
    time (PNPOLY)."""
    inside = np.zeros(len(px), dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        if y1 == y2:
            continue
        straddle = (y1 > py) != (y2 > py)
        x_at = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= straddle & (px < x_at)
    return inside


def points_in_area(lat: np.ndarray, lon: np.ndarray, wkb: bytes) -> np.ndarray:
    hit = np.zeros(len(lat), dtype=bool)
    for rings in wkb_polygons(wkb):
        ext = rings[0]
        box = ((lon >= ext[:, 0].min()) & (lon <= ext[:, 0].max())
               & (lat >= ext[:, 1].min()) & (lat <= ext[:, 1].max()))
        idx = np.flatnonzero(box)
        inside = np.zeros(len(idx), dtype=bool)
        for ring in rings:
            inside ^= ray_cast(lon[idx], lat[idx], ring)
        hit[idx[inside]] = True
    return hit


def area_counts(lat: np.ndarray, lon: np.ndarray, polygons) -> dict[int, int]:
    """Pages per area (areas with no page are absent, as in a join)."""
    out = {}
    for aid, wkb in zip(polygons["area_id"], polygons["geom_wkb"]):
        n = int(points_in_area(lat, lon, wkb).sum())
        if n:
            out[int(aid)] = n
    return out


def _dist(lat, lon, qlat, qlon, metric):
    if metric == "planar":
        return np.sqrt((lon - qlon) ** 2 + (lat - qlat) ** 2)
    return 2.0 * R_KM * np.arcsin(np.sqrt(
        np.sin(np.radians(lat - qlat) / 2) ** 2
        + np.cos(np.radians(qlat)) * np.cos(np.radians(lat))
        * np.sin(np.radians(lon - qlon) / 2) ** 2
    ))


def knn(ids, lat, lon, qlat, qlon, k, metric):
    """(ids in rank order, distances) of the k nearest, ties by id."""
    d = _dist(lat, lon, qlat, qlon, metric)
    order = np.lexsort((ids, d))[:k]
    return ids[order], d[order]


def knn_matches(got_ids, got_d, exp_ids, exp_d, rtol=1e-9) -> bool:
    """Same distances, and the same ids strictly inside the k-th
    distance (rows tied with the k-th within float noise may differ)."""
    if len(got_ids) != len(exp_ids):
        return False
    if not np.allclose(got_d, exp_d, rtol=rtol, atol=1e-12):
        return False
    cut = exp_d[-1] * (1 - rtol) - 1e-12
    return set(got_ids[got_d < cut].tolist()) == set(exp_ids[exp_d < cut].tolist())


def radius(ids, lat, lon, qlat, qlon, r_km, eps=1e-9):
    """(ids surely within, ids within or on the float edge)."""
    d = _dist(lat, lon, qlat, qlon, "haversine")
    return set(ids[d <= r_km - eps].tolist()), set(ids[d <= r_km + eps].tolist())


def raster_polygons(arr: np.ndarray, stride: int, classes: int, transform,
                    min_area: float) -> tuple[int, float]:
    """(polygon count, area sum) from the dense single-process path."""
    from geo_inference_spark.raster.dense import dense_infer_mask
    from geo_inference_spark.raster.kernels import make_linear_model
    from geo_inference_spark.raster.polygonize import mask_to_polygons

    mask = dense_infer_mask(arr.astype(np.float64), make_linear_model(classes),
                            2 * stride, classes)
    polys = mask_to_polygons(mask, transform=transform, min_area=min_area)
    return len(polys), float(sum(_shoelace(r) for r, _ in polys))


def _shoelace(rings) -> float:
    def a(r):
        x, y = r[:, 0], r[:, 1]
        return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))

    return abs(a(rings[0])) - sum(abs(a(h)) for h in rings[1:])
