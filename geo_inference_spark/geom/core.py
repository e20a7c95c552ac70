"""Vectorized geometry primitives (numpy only).

Covers the geometry surface the reference uses through shapely
(SURVEY.md §2.8): area/bounds (utils/polygon.py:131-133), affine
transform (utils/geo_transforms.py:32-136), Douglas-Peucker simplify
(utils/polygon.py:67-68), rect intersection for the YOLO overlap
filter (utils/polygon.py:131-135), and point-in-polygon for the PIP
join that replaces the R-tree subset (utils/geo_transforms.py:197-258).
"""

from __future__ import annotations

import numpy as np

Ring = np.ndarray  # (N, 2) float64, closed
Polygon = list  # list[Ring]; [0] exterior, [1:] holes


# ---------------------------------------------------------------- area / bounds

def ring_signed_area(ring: Ring) -> float:
    """Shoelace signed area; CCW positive."""
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def polygon_area(rings: Polygon) -> float:
    """Unsigned area of exterior minus holes (shapely .area semantics
    for valid polygons)."""
    if not rings:
        return 0.0
    a = abs(ring_signed_area(rings[0]))
    for hole in rings[1:]:
        a -= abs(ring_signed_area(hole))
    return a


def bounds_of_rings(rings: Polygon) -> tuple[float, float, float, float]:
    pts = np.vstack(rings)
    return (
        float(pts[:, 0].min()),
        float(pts[:, 1].min()),
        float(pts[:, 0].max()),
        float(pts[:, 1].max()),
    )


# ---------------------------------------------------------------- PIP

def _crossings(px: np.ndarray, py: np.ndarray, ring: Ring) -> np.ndarray:
    """Even-odd crossing parity of many points against one ring.

    Vectorized over points x edges; edges chunked to bound memory.
    """
    inside = np.zeros(px.shape[0], dtype=bool)
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    n_edges = x1.shape[0]
    # chunk so px[:,None] x edges stays < ~8M cells
    step = max(1, int(8_000_000 / max(px.shape[0], 1)))
    for s in range(0, n_edges, step):
        e = slice(s, min(s + step, n_edges))
        ex1, ey1, ex2, ey2 = x1[e], y1[e], x2[e], y2[e]
        cond = (ey1[None, :] > py[:, None]) != (ey2[None, :] > py[:, None])
        # divide only where the edge straddles py: there ey1 != ey2 and
        # |py - ey1| <= |ey2 - ey1|, so |xint - ex1| <= |ex2 - ex1| and
        # nothing overflows; the other cells (a flat or subnormal dy
        # could overflow there) keep their product, which cond masks out
        xint = (ex2 - ex1)[None, :] * (py[:, None] - ey1[None, :])
        np.divide(xint, (ey2 - ey1)[None, :], out=xint, where=cond)
        xint += ex1[None, :]
        cross = cond & (px[:, None] < xint)
        inside ^= (np.count_nonzero(cross, axis=1) % 2).astype(bool)
    return inside


def points_in_polygon(px: np.ndarray, py: np.ndarray, rings: Polygon) -> np.ndarray:
    """Even-odd point-in-polygon over exterior + holes (bool array).

    Boundary points follow ray-cast convention (left/bottom-ish edges
    inside); synthetic data never lands exactly on boundaries, and the
    convention is applied identically engine-wide.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape[0], dtype=bool)
    for ring in rings:
        inside ^= _crossings(px, py, ring)
    return inside


# ---------------------------------------------------------------- segments vs bbox

def segments_intersect_bboxes(ring: Ring, boxes: np.ndarray) -> np.ndarray:
    """Vectorized edge-vs-many-boxes test: boxes (N, 4) [minx, miny,
    maxx, maxy] -> bool (N,). Liang-Barsky over edges x boxes with
    numpy broadcasting; the per-cell Python loop this replaces was the
    polyfill bottleneck (64 s covers at bench sf0.1)."""
    boxes = np.asarray(boxes, dtype=np.float64)
    x1, y1 = ring[:-1, 0][:, None], ring[:-1, 1][:, None]  # (E, 1)
    x2, y2 = ring[1:, 0][:, None], ring[1:, 1][:, None]
    minx, miny = boxes[None, :, 0], boxes[None, :, 1]  # (1, N)
    maxx, maxy = boxes[None, :, 2], boxes[None, :, 3]
    dx, dy = x2 - x1, y2 - y1
    t0 = np.zeros((x1.shape[0], boxes.shape[0]))
    t1 = np.ones_like(t0)
    ok = np.ones_like(t0, dtype=bool)
    for p, q in (
        (-dx, x1 - minx),
        (dx, maxx - x1),
        (-dy, y1 - miny),
        (dy, maxy - y1),
    ):
        p = np.broadcast_to(p, t0.shape)
        q = np.broadcast_to(q, t0.shape)
        with np.errstate(divide="ignore", invalid="ignore"):
            r = np.where(p != 0, q / np.where(p != 0, p, 1.0), 0.0)
        ok &= ~((p == 0) & (q < 0))
        t0 = np.where((p < 0) & ok, np.maximum(t0, r), t0)
        t1 = np.where((p > 0) & ok, np.minimum(t1, r), t1)
    return ((t0 <= t1) & ok).any(axis=0)


def segments_intersect_bbox(
    ring: Ring, minx: float, miny: float, maxx: float, maxy: float
) -> bool:
    """True if any edge of ``ring`` intersects the axis-aligned box.

    Used to classify grid cells as interior vs boundary during
    polygon cover generation (conservative: used so errors fall on
    the 'boundary -> exact refine' side).
    """
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    # quick reject: edge bbox disjoint from box
    emnx, emxx = np.minimum(x1, x2), np.maximum(x1, x2)
    emny, emxy = np.minimum(y1, y2), np.maximum(y1, y2)
    cand = ~((emxx < minx) | (emnx > maxx) | (emxy < miny) | (emny > maxy))
    if not cand.any():
        return False
    # exact test via Liang-Barsky clipping of candidate segments
    x1, y1, x2, y2 = x1[cand], y1[cand], x2[cand], y2[cand]
    dx, dy = x2 - x1, y2 - y1
    t0 = np.zeros_like(x1)
    t1 = np.ones_like(x1)
    ok = np.ones(x1.shape[0], dtype=bool)
    for p, q in (
        (-dx, x1 - minx),
        (dx, maxx - x1),
        (-dy, y1 - miny),
        (dy, maxy - y1),
    ):
        with np.errstate(divide="ignore", invalid="ignore"):
            r = np.where(p != 0, q / np.where(p != 0, p, 1.0), 0.0)
        ok &= ~((p == 0) & (q < 0))  # parallel and outside
        ent = (p < 0) & ok  # entering
        ext = (p > 0) & ok  # exiting
        t0 = np.where(ent, np.maximum(t0, r), t0)
        t1 = np.where(ext, np.minimum(t1, r), t1)
    ok &= t0 <= t1
    return bool(ok.any())


# ---------------------------------------------------------------- rect clip

def clip_ring_rect(
    ring: Ring, minx: float, miny: float, maxx: float, maxy: float
) -> Ring | None:
    """Sutherland-Hodgman clip of one ring against an axis-aligned rect.

    Returns a closed ring (or None if empty). Exact for the YOLO
    overlap-ratio filter (reference intersects polygons with the image
    rectangle, utils/polygon.py:132-133).
    """
    pts = ring[:-1]  # open
    for axis, bound, keep_ge in (
        (0, minx, True),
        (0, maxx, False),
        (1, miny, True),
        (1, maxy, False),
    ):
        if len(pts) == 0:
            return None
        out = []
        prev = pts[-1]
        prev_in = (prev[axis] >= bound) if keep_ge else (prev[axis] <= bound)
        for cur in pts:
            cur_in = (cur[axis] >= bound) if keep_ge else (cur[axis] <= bound)
            if cur_in != prev_in:
                t = (bound - prev[axis]) / (cur[axis] - prev[axis])
                out.append(prev + t * (cur - prev))
            if cur_in:
                out.append(cur)
            prev, prev_in = cur, cur_in
        pts = np.array(out) if out else np.empty((0, 2))
    if len(pts) < 3:
        return None
    return np.vstack([pts, pts[:1]])


def clip_polygon_rect(
    rings: Polygon, minx: float, miny: float, maxx: float, maxy: float
) -> float:
    """Area of polygon ∩ rect (exterior clipped area minus holes')."""
    ext = clip_ring_rect(rings[0], minx, miny, maxx, maxy)
    if ext is None:
        return 0.0
    area = abs(ring_signed_area(ext))
    for hole in rings[1:]:
        h = clip_ring_rect(hole, minx, miny, maxx, maxy)
        if h is not None:
            area -= abs(ring_signed_area(h))
    return area


# ---------------------------------------------------------------- simplify

def douglas_peucker(coords: Ring, tolerance: float) -> Ring:
    """Douglas-Peucker on a closed ring (keeps first/last anchors).

    Matches shapely's simplify(tolerance) for the reference's optional
    simplify step (utils/polygon.py:67-68) on simple rings.
    """
    pts = np.asarray(coords, dtype=np.float64)
    n = len(pts)
    if n < 4:
        return pts
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i0, i1 = stack.pop()
        if i1 <= i0 + 1:
            continue
        seg = pts[i1] - pts[i0]
        seglen = np.hypot(seg[0], seg[1])
        mid = pts[i0 + 1 : i1]
        if seglen == 0:
            d = np.hypot(mid[:, 0] - pts[i0][0], mid[:, 1] - pts[i0][1])
        else:
            d = np.abs(
                (mid[:, 0] - pts[i0][0]) * seg[1] - (mid[:, 1] - pts[i0][1]) * seg[0]
            ) / seglen
        imax = int(np.argmax(d))
        if d[imax] > tolerance:
            k = i0 + 1 + imax
            keep[k] = True
            stack.append((i0, k))
            stack.append((k, i1))
    out = pts[keep]
    if len(out) < 4:  # degenerate after simplify: keep original
        return pts
    return out


# ---------------------------------------------------------------- affine

def affine_transform_coords(coords: np.ndarray, m: list[float]) -> np.ndarray:
    """Apply shapely-style affine [a, b, d, e, xoff, yoff]:
    x' = a*x + b*y + xoff ; y' = d*x + e*y + yoff.

    Semantics of utils/geo_transforms.py:80-86 (shapely
    affinity.affine_transform over an affine.Affine).
    """
    a, b, d, e, xoff, yoff = m
    x = coords[..., 0]
    y = coords[..., 1]
    return np.stack([a * x + b * y + xoff, d * x + e * y + yoff], axis=-1)


def invert_affine(t: tuple[float, float, float, float, float, float]):
    """Invert a rasterio-style Affine (a, b, c, d, e, f) where
    x_geo = a*col + b*row + c ; y_geo = d*col + e*row + f.

    Mirrors `~affine_obj` used for geo->px (utils/geo_transforms.py:68).
    Returns same 6-tuple layout.
    """
    a, b, c, d, e, f = t
    det = a * e - b * d
    if det == 0:
        raise ValueError("degenerate affine")
    ia, ib = e / det, -b / det
    id_, ie = -d / det, a / det
    ic = -(ia * c + ib * f)
    if_ = -(id_ * c + ie * f)
    return (ia, ib, ic, id_, ie, if_)


def affine_to_shapely_list(t):
    """(a,b,c,d,e,f) rasterio order -> [a,b,d,e,xoff,yoff] shapely order
    (utils/geo_transforms.py:80-86)."""
    a, b, c, d, e, f = t
    return [a, b, d, e, c, f]
