"""S2 cell ids, vectorized in numpy, from the public S2 geometry spec.

Implements the standard pipeline: lat/lng -> unit XYZ -> cube face +
(u,v) -> quadratic (s,t) -> leaf (i,j) at level 30 -> Hilbert-curve
position -> 64-bit cell id (3 face bits, 61 position bits, trailing
1-bit marks the level). Parent/level/range operations are pure bit
arithmetic, identical to the reference S2 libraries' semantics.

Used as the second cell system the north star names ("H3 (res 7-10)
and S2 cells", BASELINE.json). All functions accept numpy arrays.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 30
_LOOKUP_BITS = 4
_SWAP = 1
_INVERT = 2

_POS_TO_IJ = np.array(
    [[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]], dtype=np.int64
)
_POS_TO_ORIENT = np.array([_SWAP, 0, 0, _INVERT + _SWAP], dtype=np.int64)


def _build_lookups():
    lookup_pos = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)
    lookup_ij = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)

    def init(level, i, j, orig_orient, pos, orient):
        if level == _LOOKUP_BITS:
            ij = (i << _LOOKUP_BITS) + j
            lookup_pos[(ij << 2) + orig_orient] = (pos << 2) + orient
            lookup_ij[(pos << 2) + orig_orient] = (ij << 2) + orient
            return
        level += 1
        i <<= 1
        j <<= 1
        pos <<= 2
        r = _POS_TO_IJ[orient]
        for idx in range(4):
            init(
                level,
                i + (int(r[idx]) >> 1),
                j + (int(r[idx]) & 1),
                orig_orient,
                pos + idx,
                orient ^ int(_POS_TO_ORIENT[idx]),
            )

    for o in range(4):
        init(0, 0, 0, o, 0, o)
    return lookup_pos, lookup_ij


_LOOKUP_POS, _LOOKUP_IJ = _build_lookups()


# ---------------------------------------------------------------- projections

def _latlng_to_xyz(lat, lng):
    phi = np.deg2rad(np.asarray(lat, dtype=np.float64))
    theta = np.deg2rad(np.asarray(lng, dtype=np.float64))
    cosphi = np.cos(phi)
    return cosphi * np.cos(theta), cosphi * np.sin(theta), np.sin(phi)


def _xyz_to_latlng(x, y, z):
    lat = np.rad2deg(np.arctan2(z, np.hypot(x, y)))
    lng = np.rad2deg(np.arctan2(y, x))
    return lat, lng


def _xyz_to_face_uv(x, y, z):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= np.maximum(ay, az), 0, np.where(ay >= az, 1, 2))
    comp = np.choose(face, [x, y, z])
    face = np.where(comp < 0, face + 3, face).astype(np.int64)
    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4, face == 5],
            [y / x, -x / y, -x / z, z / x, z / y, -y / z],
        )
        v = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4, face == 5],
            [z / x, z / y, -y / z, y / x, -x / y, -x / z],
        )
    return face, u, v


def _face_uv_to_xyz(face, u, v):
    x = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4, face == 5],
        [np.ones_like(u), -u, -u, -np.ones_like(u), v, v],
    )
    y = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4, face == 5],
        [u, np.ones_like(u), -v, -v, -np.ones_like(u), u],
    )
    z = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4, face == 5],
        [v, v, np.ones_like(u), -u, -u, -np.ones_like(u)],
    )
    return x, y, z


def _st_to_uv(s):
    s = np.asarray(s, dtype=np.float64)
    return np.where(
        s >= 0.5, (1.0 / 3.0) * (4 * s * s - 1), (1.0 / 3.0) * (1 - 4 * (1 - s) * (1 - s))
    )


def _uv_to_st(u):
    u = np.asarray(u, dtype=np.float64)
    r = 0.5 * np.sqrt(1 + 3 * np.abs(u))
    return np.where(u >= 0, r, 1 - r)


def _st_to_ij(s):
    return np.clip(
        np.floor(np.asarray(s) * (1 << MAX_LEVEL)).astype(np.int64),
        0,
        (1 << MAX_LEVEL) - 1,
    )


# ---------------------------------------------------------------- cell ids

def from_face_ij(face, i, j):
    """(face, leaf i, leaf j) -> leaf cell id.

    Ids are the canonical S2 uint64 values, exposed as int64
    (two's-complement view — faces 4-5 appear negative), matching how
    Spark's LongType stores them.
    """
    face = np.asarray(face, dtype=np.uint64)
    i = np.asarray(i, dtype=np.uint64)
    j = np.asarray(j, dtype=np.uint64)
    n = face << np.uint64(60)
    bits = (face & np.uint64(_SWAP)).astype(np.int64)
    mask = np.uint64((1 << _LOOKUP_BITS) - 1)
    for k in range(7, -1, -1):
        bits = bits + (
            ((i >> np.uint64(k * 4)) & mask).astype(np.int64) << (_LOOKUP_BITS + 2)
        )
        bits = bits + (((j >> np.uint64(k * 4)) & mask).astype(np.int64) << 2)
        bits = _LOOKUP_POS[bits]
        n = n | (bits.astype(np.uint64) >> np.uint64(2)) << np.uint64(k * 8)
        bits = bits & (_SWAP | _INVERT)
    return (n * np.uint64(2) + np.uint64(1)).astype(np.int64)


def to_face_ij(cell_id):
    """cell id -> (face, i, j) of the corresponding leaf position."""
    u = np.asarray(cell_id, dtype=np.int64).astype(np.uint64)
    face = (u >> np.uint64(61)).astype(np.int64)
    i = np.zeros(u.shape, dtype=np.int64)
    j = np.zeros(u.shape, dtype=np.int64)
    bits = (face & _SWAP).astype(np.int64)
    for k in range(7, -1, -1):
        nbits = (MAX_LEVEL - 7 * _LOOKUP_BITS) if k == 7 else _LOOKUP_BITS
        chunk = (u >> np.uint64(k * 2 * _LOOKUP_BITS + 1)) & np.uint64(
            (1 << (2 * nbits)) - 1
        )
        bits = bits + (chunk.astype(np.int64) << 2)
        bits = _LOOKUP_IJ[bits]
        i = i + ((bits >> (_LOOKUP_BITS + 2)) << (k * 4))
        j = j + (((bits >> 2) & ((1 << _LOOKUP_BITS) - 1)) << (k * 4))
        bits = bits & (_SWAP | _INVERT)
    return face, i, j


def latlng_to_cell(lat, lng, level: int = MAX_LEVEL):
    """Vectorized (lat, lng) degrees -> cell id at ``level``."""
    x, y, z = _latlng_to_xyz(lat, lng)
    face, u, v = _xyz_to_face_uv(x, y, z)
    i = _st_to_ij(_uv_to_st(u))
    j = _st_to_ij(_uv_to_st(v))
    leaf = from_face_ij(face, i, j)
    return parent(leaf, level) if level < MAX_LEVEL else leaf


def lsb(cell_id):
    cell_id = np.asarray(cell_id, dtype=np.int64)
    return cell_id & (-cell_id)


def level(cell_id):
    """Cell level: 30 - trailing_zero_bits/2."""
    low = lsb(cell_id).astype(np.uint64)
    # position of the single set bit
    tz = np.zeros(low.shape, dtype=np.int64)
    v = low.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        big = v >= (np.uint64(1) << np.uint64(shift))
        tz = tz + np.where(big, shift, 0)
        v = np.where(big, v >> np.uint64(shift), v)
    return MAX_LEVEL - (tz >> 1)


def parent(cell_id, lvl: int):
    cell_id = np.asarray(cell_id, dtype=np.int64)
    new_lsb = np.int64(1) << np.int64(2 * (MAX_LEVEL - lvl))
    return (cell_id & ~(new_lsb - 1)) | new_lsb


def cell_to_latlng(cell_id):
    """Cell center -> (lat, lng) degree arrays."""
    cell_id = np.asarray(cell_id, dtype=np.int64)
    face, i, j = to_face_ij(cell_id)
    is_leaf = (cell_id & 1).astype(bool)
    correction = np.where(((i ^ (cell_id >> 2)) & 1).astype(bool), 2, 0)
    delta = np.where(is_leaf, 1, correction)
    si = 2 * i + delta
    ti = 2 * j + delta
    s = si.astype(np.float64) / (2.0 * (1 << MAX_LEVEL))
    t = ti.astype(np.float64) / (2.0 * (1 << MAX_LEVEL))
    u = _st_to_uv(s)
    v = _st_to_uv(t)
    x, y, z = _face_uv_to_xyz(face, u, v)
    norm = np.sqrt(x * x + y * y + z * z)
    return _xyz_to_latlng(x / norm, y / norm, z / norm)
