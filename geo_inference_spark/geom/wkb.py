"""Minimal WKB codec (Point / Polygon / MultiPolygon, little-endian).

Geometry travels between Spark rows as WKB in BinaryType columns —
the engine-wide replacement for the reference's in-process shapely
objects (FIXTURES.md §2 mandates ``geom_wkb: binary``).
"""

from __future__ import annotations

import struct

import numpy as np

_POINT = 1
_POLYGON = 3
_MULTIPOLYGON = 6


# ---------------------------------------------------------------- encode

def point_to_wkb(x: float, y: float) -> bytes:
    return struct.pack("<BI", 1, _POINT) + struct.pack("<dd", x, y)


def _ring_bytes(ring: np.ndarray) -> bytes:
    ring = np.asarray(ring, dtype="<f8")
    return struct.pack("<I", len(ring)) + ring.tobytes()


def polygon_to_wkb(rings: list[np.ndarray]) -> bytes:
    out = [struct.pack("<BII", 1, _POLYGON, len(rings))]
    for r in rings:
        out.append(_ring_bytes(r))
    return b"".join(out)


def multipolygon_to_wkb(polys: list[list[np.ndarray]]) -> bytes:
    out = [struct.pack("<BII", 1, _MULTIPOLYGON, len(polys))]
    for p in polys:
        out.append(polygon_to_wkb(p))
    return b"".join(out)


# ---------------------------------------------------------------- decode

def _read_ring(buf: memoryview, off: int) -> tuple[np.ndarray, int]:
    (n,) = struct.unpack_from("<I", buf, off)
    off += 4
    if off + 16 * n > len(buf):
        raise ValueError("truncated WKB")
    ring = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=off).reshape(n, 2)
    return ring.astype(np.float64), off + 16 * n


def _read_polygon(buf: memoryview, off: int) -> tuple[list[np.ndarray], int]:
    byte_order, gtype, nrings = struct.unpack_from("<BII", buf, off)
    if byte_order != 1 or (gtype & 0xFF) != _POLYGON:
        raise ValueError(f"expected LE polygon, got order={byte_order} type={gtype}")
    off += 9
    rings = []
    for _ in range(nrings):
        ring, off = _read_ring(buf, off)
        rings.append(ring)
    return rings, off


def parse_wkb(wkb: bytes):
    """Parse WKB -> (kind, payload).

    kind: 'point' -> (x, y); 'polygon' -> list[ring];
    'multipolygon' -> list[list[ring]]. Malformed bytes raise ValueError.
    """
    try:
        return _parse(memoryview(wkb))
    except struct.error:
        raise ValueError("truncated WKB") from None


def _parse(buf: memoryview):
    byte_order, gtype = struct.unpack_from("<BI", buf, 0)
    if byte_order != 1:
        raise ValueError("only little-endian WKB supported")
    gtype &= 0xFF
    if gtype == _POINT:
        x, y = struct.unpack_from("<dd", buf, 5)
        return "point", (x, y)
    if gtype == _POLYGON:
        rings, _ = _read_polygon(buf, 0)
        return "polygon", rings
    if gtype == _MULTIPOLYGON:
        (npolys,) = struct.unpack_from("<I", buf, 5)
        off = 9
        polys = []
        for _ in range(npolys):
            p, off = _read_polygon(buf, off)
            polys.append(p)
        return "multipolygon", polys
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def iter_polygons(wkb: bytes):
    """Yield each polygon (list of rings) of a Polygon/MultiPolygon WKB."""
    kind, payload = parse_wkb(wkb)
    if kind == "polygon":
        yield payload
    elif kind == "multipolygon":
        yield from payload
    else:
        raise ValueError(f"not a polygonal geometry: {kind}")


def geom_bounds_wkb(wkb: bytes) -> tuple[float, float, float, float]:
    pts = np.vstack([r for poly in iter_polygons(wkb) for r in poly])
    return (
        float(pts[:, 0].min()),
        float(pts[:, 1].min()),
        float(pts[:, 0].max()),
        float(pts[:, 1].max()),
    )


# ---------------------------------------------------------------- WKT (debug/export)

def _ring_wkt(r: np.ndarray) -> str:
    return "(" + ", ".join(f"{x:.10g} {y:.10g}" for x, y in r) + ")"


def wkt_of(wkb: bytes) -> str:
    kind, payload = parse_wkb(wkb)
    if kind == "point":
        return f"POINT ({payload[0]:.10g} {payload[1]:.10g})"
    if kind == "polygon":
        return "POLYGON (" + ", ".join(_ring_wkt(r) for r in payload) + ")"
    return (
        "MULTIPOLYGON ("
        + ", ".join(
            "(" + ", ".join(_ring_wkt(r) for r in poly) + ")" for poly in payload
        )
        + ")"
    )

