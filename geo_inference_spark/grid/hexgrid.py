"""Hexagonal hierarchical grid with H3-shaped algebra (pure numpy).

Pointy-top axial-coordinate hexagons over an equirectangular (lon,
lat)-degree plane. Resolution r has circumradius ``s(r) = 36 * 7**(-r/2)``
degrees, mimicking H3's aperture-7 area scaling (cell area shrinks ~7x
per resolution). Ids pack (res, q, r) into a positive int64.

This is NOT the true icosahedral H3 grid — it is the engine's
deterministic stand-in with the identical algebra the north star needs
(BASELINE.json north_star: "H3 (res 7-10) ... k-ring expansion"),
gated behind an import-try on the real `h3` package (absent here).
k_ring/parent/polyfill are exact for this grid, so join/kNN semantics
are exact; only the cell shapes differ from true H3.
"""

from __future__ import annotations

import numpy as np

from ..geom.core import points_in_polygon, segments_intersect_bboxes

SQRT3 = np.sqrt(3.0)
_BASE = 36.0  # res-0 circumradius in degrees
_OFF = 1 << 27  # axial coordinate offset for packing
_RES_SHIFT = 56
_FLAG = 1 << 62

MAX_RES = 15


def cell_size(res: int) -> float:
    """Circumradius in degrees at ``res``."""
    return _BASE * 7.0 ** (-res / 2.0)


# ---------------------------------------------------------------- core transforms

def _axial_to_xy(q, r, s):
    x = s * SQRT3 * (q + r / 2.0)
    y = s * 1.5 * r
    return x, y


def _xy_to_axial_frac(x, y, s):
    q = (SQRT3 / 3.0 * x - y / 3.0) / s
    r = (2.0 / 3.0 * y) / s
    return q, r


def _cube_round(qf, rf):
    """Round fractional axial coords to the nearest hex (vectorized)."""
    xf = qf
    zf = rf
    yf = -xf - zf
    rx = np.rint(xf)
    ry = np.rint(yf)
    rz = np.rint(zf)
    dx = np.abs(rx - xf)
    dy = np.abs(ry - yf)
    dz = np.abs(rz - zf)
    fix_x = (dx > dy) & (dx > dz)
    fix_z = ~fix_x & (dz > dy)
    rx = np.where(fix_x, -ry - rz, rx)
    rz = np.where(fix_z, -rx - ry, rz)
    return rx.astype(np.int64), rz.astype(np.int64)


def pack(res, q, r):
    q = np.asarray(q, dtype=np.int64)
    r = np.asarray(r, dtype=np.int64)
    res = np.int64(res)
    return _FLAG | (res << _RES_SHIFT) | ((q + _OFF) << 28) | (r + _OFF)


def unpack(cell):
    cell = np.asarray(cell, dtype=np.int64)
    res = (cell >> _RES_SHIFT) & 0x3F
    q = ((cell >> 28) & ((1 << 28) - 1)) - _OFF
    r = (cell & ((1 << 28) - 1)) - _OFF
    return res, q, r


# ---------------------------------------------------------------- public API

def latlng_to_cell(lat, lng, res: int):
    """Vectorized (lat, lng) degrees -> int64 cell id at ``res``.

    A point off the globe (|lat| > 90 or |lng| > 180, so also NaN,
    null read as NaN and +-inf) has no cell: its id is 0, which lacks
    the flag bit and so is never a real cell. Out-of-range
    coordinates are rejected, not wrapped."""
    lat = np.asarray(lat, dtype=np.float64)
    lng = np.asarray(lng, dtype=np.float64)
    ok = (np.abs(lat) <= 90) & (np.abs(lng) <= 180)
    valid = bool(ok.all())
    if not valid:  # zero the bad rows so the int cast stays defined
        lat, lng = np.where(ok, lat, 0.0), np.where(ok, lng, 0.0)
    s = cell_size(res)
    qf, rf = _xy_to_axial_frac(lng, lat, s)
    q, r = _cube_round(qf, rf)
    cell = pack(res, q, r)
    return cell if valid else np.where(ok, cell, 0)


def cell_to_latlng(cell):
    """Cell center as (lat, lng) arrays."""
    res, q, r = unpack(cell)
    # res may be an array; cell_size is scalar per res value
    s = _BASE * 7.0 ** (-res.astype(np.float64) / 2.0)
    x, y = _axial_to_xy(q.astype(np.float64), r.astype(np.float64), s)
    return y, x


def parent(cell, parent_res: int):
    """Cell at ``parent_res`` containing this cell's center."""
    lat, lng = cell_to_latlng(cell)
    return latlng_to_cell(lat, lng, parent_res)


def k_ring_offsets(k: int) -> np.ndarray:
    """All (dq, dr) within hex distance k — (M, 2) int64, M = 1+3k(k+1)."""
    out = []
    for dq in range(-k, k + 1):
        lo = max(-k, -dq - k)
        hi = min(k, -dq + k)
        for dr in range(lo, hi + 1):
            out.append((dq, dr))
    return np.array(out, dtype=np.int64)


def k_ring(cell, k: int) -> np.ndarray:
    """Cells within hex distance k of each input cell.

    Returns shape (n_cells, 1 + 3k(k+1)). This is the candidate
    generator for kNN (SURVEY.md §2.3 J2 / §2.6 O3).
    """
    cell = np.atleast_1d(np.asarray(cell, dtype=np.int64))
    res, q, r = unpack(cell)
    off = k_ring_offsets(k)
    qq = q[:, None] + off[None, :, 0]
    rr = r[:, None] + off[None, :, 1]
    return pack(int(res.flat[0]), qq, rr)


def cell_boundary(cell) -> np.ndarray:
    """(n, 7, 2) boundary vertices (lon, lat), closed."""
    cell = np.atleast_1d(np.asarray(cell, dtype=np.int64))
    res, q, r = unpack(cell)
    s = _BASE * 7.0 ** (-res.astype(np.float64) / 2.0)
    cx, cy = _axial_to_xy(q.astype(np.float64), r.astype(np.float64), s)
    ang = np.deg2rad(60.0 * np.arange(7) + 30.0)  # pointy-top, closed
    vx = cx[:, None] + s[:, None] * np.cos(ang)[None, :]
    vy = cy[:, None] + s[:, None] * np.sin(ang)[None, :]
    return np.stack([vx, vy], axis=-1)


def cell_bbox(cell) -> np.ndarray:
    """(n, 4) [minx, miny, maxx, maxy] of each hex."""
    b = cell_boundary(cell)
    return np.stack(
        [
            b[:, :, 0].min(axis=1),
            b[:, :, 1].min(axis=1),
            b[:, :, 0].max(axis=1),
            b[:, :, 1].max(axis=1),
        ],
        axis=1,
    )


def polyfill(rings: list[np.ndarray], res: int) -> tuple[np.ndarray, np.ndarray]:
    """Cells intersecting a polygon -> (cells, is_boundary).

    is_boundary=False means the cell is PROVABLY fully inside the
    polygon (every point in it is inside): join rows landing there skip
    exact PIP refinement. Classification is conservative — uncertain
    cells are flagged boundary, so correctness never depends on it.
    Mirrors the role of H3 polyfill in the north star (BASELINE.json).
    """
    s = cell_size(res)
    pts = np.vstack(rings)
    minx, miny = pts[:, 0].min(), pts[:, 1].min()
    maxx, maxy = pts[:, 0].max(), pts[:, 1].max()
    # enumerate candidate axial coords covering the bbox (+1 cell margin)
    r_lo = int(np.floor((2.0 / 3.0 * miny) / s)) - 1
    r_hi = int(np.ceil((2.0 / 3.0 * maxy) / s)) + 1
    cells = []
    for rr in range(r_lo, r_hi + 1):
        y = s * 1.5 * rr
        q_lo = int(np.floor((SQRT3 / 3.0 * minx - y / 3.0) / s)) - 1
        q_hi = int(np.ceil((SQRT3 / 3.0 * maxx - y / 3.0) / s)) + 1
        qs = np.arange(q_lo, q_hi + 1, dtype=np.int64)
        cells.append(pack(res, qs, np.full_like(qs, rr)))
    cand = np.concatenate(cells) if cells else np.empty(0, dtype=np.int64)
    if len(cand) == 0:
        return cand, np.empty(0, dtype=bool)
    bnd = cell_boundary(cand)  # (n, 7, 2)
    centers = bnd[:, :6, :].mean(axis=1)
    # sample points per cell: center + 6 vertices
    sample_x = np.concatenate([centers[:, 0:1], bnd[:, :6, 0]], axis=1)
    sample_y = np.concatenate([centers[:, 1:2], bnd[:, :6, 1]], axis=1)
    n, m = sample_x.shape
    inside = points_in_polygon(sample_x.ravel(), sample_y.ravel(), rings).reshape(n, m)
    any_in = inside.any(axis=1)
    all_in = inside.all(axis=1)
    boxes = cell_bbox(cand)
    edge_hit = np.zeros(n, dtype=bool)
    for ring in rings:
        edge_hit |= segments_intersect_bboxes(ring, boxes)
    keep = any_in | edge_hit
    interior = all_in & ~edge_hit
    return cand[keep], ~interior[keep]


def fit_cover_res(rings: list[np.ndarray], max_res: int, max_cells: int = 4096) -> int:
    """Coarsest-enough resolution so a polygon's cell cover stays
    bounded: at 10^12-page scale the cover table must stay broadcast-
    sized no matter how large an admin polygon is; boundary cells are
    refined exactly anyway, so coarser covers trade a little UDF work
    for a bounded broadcast."""
    pts = np.vstack(rings)
    w = float(pts[:, 0].max() - pts[:, 0].min())
    h = float(pts[:, 1].max() - pts[:, 1].min())
    for res in range(max_res, -1, -1):
        s = cell_size(res)
        # hex cell area = (3*sqrt(3)/2) s^2; bbox cells ~ area ratio
        approx = (w + 2 * s) * (h + 2 * s) / (1.5 * SQRT3 * s * s)
        if approx <= max_cells:
            return res
    return 0


def children(cell, child_res: int | None = None) -> np.ndarray:
    """Cells at child_res (default res+1) whose parent() is this cell.

    Aperture-7 hierarchy: candidates are the k_ring of the center's
    child cell (k=2 covers the parent hex), filtered by exact parent
    membership — mirrors h3.cell_to_children for the engine's grid.
    Returns (n_cells, <=variable) object is awkward; single cell in,
    1-D int64 array out.
    """
    cell = np.asarray(cell, dtype=np.int64)
    if cell.ndim != 0 and cell.size != 1:
        raise ValueError("children() takes a single cell")
    c = np.int64(cell.flat[0] if cell.ndim else cell)
    res = int((c >> _RES_SHIFT) & 0x3F)
    cr = child_res if child_res is not None else res + 1
    if cr <= res:
        raise ValueError("child_res must be finer than the cell's res")
    lat, lng = cell_to_latlng(np.array([c]))
    center_child = latlng_to_cell(lat, lng, cr)
    # ring large enough to cover the parent at any res gap
    k = int(np.ceil(7.0 ** ((cr - res) / 2.0))) + 1
    cand = k_ring(center_child, k).ravel()
    par = parent(cand, res)
    return np.unique(cand[par == c])
