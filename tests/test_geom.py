"""Geometry kernel unit tests (numpy oracle)."""

import warnings

import numpy as np
import pytest

from geo_inference_spark.geom import core, wkb
from geo_inference_spark.geom.strtree import STRtree


RECT = np.array([[0, 0], [4, 0], [4, 3], [0, 3], [0, 0]], dtype=float)


def test_area_bounds():
    assert core.ring_signed_area(RECT) == pytest.approx(12.0)
    assert core.polygon_area([RECT]) == pytest.approx(12.0)
    hole = np.array([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]], dtype=float)
    assert core.polygon_area([RECT, hole]) == pytest.approx(11.0)
    assert core.bounds_of_rings([RECT]) == (0, 0, 4, 3)


def test_pip_rect_and_hole():
    hole = np.array([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]], dtype=float)
    px = np.array([0.5, 1.5, 3.9, 4.1, -1.0])
    py = np.array([0.5, 1.5, 2.9, 1.0, 1.0])
    got = core.points_in_polygon(px, py, [RECT, hole])
    assert got.tolist() == [True, False, True, False, False]


def test_pip_random_vs_matplotlib_free_oracle():
    # concave polygon; oracle = independent winding-number implementation
    poly = np.array(
        [[0, 0], [6, 0], [6, 4], [3, 4], [3, 2], [1, 2], [1, 4], [0, 4], [0, 0]],
        dtype=float,
    )
    rng = np.random.RandomState(1)
    px = rng.uniform(-1, 7, 500)
    py = rng.uniform(-1, 5, 500)
    got = core.points_in_polygon(px, py, [poly])

    def slow_pip(x, y):
        inside = False
        for k in range(len(poly) - 1):
            x1, y1 = poly[k]
            x2, y2 = poly[k + 1]
            if (y1 > y) != (y2 > y):
                xint = (x2 - x1) * (y - y1) / (y2 - y1) + x1
                if x < xint:
                    inside = not inside
        return inside

    exp = np.array([slow_pip(x, y) for x, y in zip(px, py)])
    assert (got == exp).all()


def test_pip_near_horizontal_edges_warn_nothing():
    """Edges whose dy is subnormal or zero overflow or divide by zero
    for points they do not straddle; the ray-cast divides only where
    an edge straddles the point, so it warns nothing and its parity
    equals a per-edge reference in Python floats."""
    tiny = 5e-324  # the least subnormal
    ring = np.array(
        [[0, 0], [10, tiny], [10, 1], [5, 1], [0, 1 + tiny], [-3, 1 + tiny],
         [-3, 2 * tiny], [0, 0]],
        dtype=float,
    )
    rng = np.random.RandomState(3)
    px = np.r_[rng.uniform(-4, 11, 200), [1, 5, 9, 5, -1, 12]]
    py = np.r_[rng.uniform(-1, 2, 200), [0, tiny, tiny / 2, 1, 1, 1e300]]
    py[:50] = rng.choice([0, tiny, 2 * tiny, 1, 1 + tiny, -tiny], 50)

    def ref(x, y):
        inside = False
        for (x1, y1), (x2, y2) in zip(ring[:-1].tolist(), ring[1:].tolist()):
            if (y1 > y) != (y2 > y) and x < (x2 - x1) * (y - y1) / (y2 - y1) + x1:
                inside = not inside
        return inside

    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = core.points_in_polygon(px, py, [ring])
    assert got.tolist() == [ref(x, y) for x, y in zip(px.tolist(), py.tolist())]
    assert got.any() and not got.all()


def test_clip_area():
    assert core.clip_polygon_rect([RECT], 2, 1, 10, 10) == pytest.approx(4.0)
    assert core.clip_polygon_rect([RECT], -5, -5, 10, 10) == pytest.approx(12.0)
    assert core.clip_polygon_rect([RECT], 10, 10, 20, 20) == 0.0


def test_douglas_peucker():
    line = np.array([[0, 0], [1, 0.001], [2, 0], [2, 2], [0, 2], [0, 0]])
    out = core.douglas_peucker(line, 0.01)
    assert len(out) == 5  # collinear-ish vertex dropped
    out2 = core.douglas_peucker(line, 0.0)
    assert len(out2) == len(line)


def test_affine_roundtrip():
    t = (0.5, 0.0, 733601.0, 0.0, -0.5, 3725139.0)  # reference fixture affine
    inv = core.invert_affine(t)
    pts = np.array([[10.0, 20.0], [0.0, 0.0], [512.0, 512.0]])
    geo = core.affine_transform_coords(pts, core.affine_to_shapely_list(t))
    back = core.affine_transform_coords(geo, core.affine_to_shapely_list(inv))
    assert np.allclose(back, pts)


def test_wkb_roundtrip():
    hole = np.array([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]], dtype=float)
    b = wkb.polygon_to_wkb([RECT, hole])
    kind, rings = wkb.parse_wkb(b)
    assert kind == "polygon"
    assert np.allclose(rings[0], RECT) and np.allclose(rings[1], hole)
    mb = wkb.multipolygon_to_wkb([[RECT], [hole]])
    kind, polys = wkb.parse_wkb(mb)
    assert kind == "multipolygon" and len(polys) == 2
    assert wkb.geom_bounds_wkb(mb) == (0, 0, 4, 3)
    assert wkb.wkt_of(wkb.point_to_wkb(1.5, -2.0)) == "POINT (1.5 -2)"


def test_strtree_matches_bruteforce():
    rng = np.random.RandomState(3)
    lo = rng.uniform(0, 100, (300, 2))
    sz = rng.uniform(0.1, 5, (300, 2))
    boxes = np.column_stack([lo, lo + sz])
    tree = STRtree(boxes)
    for _ in range(50):
        q = rng.uniform(0, 100, 2)
        qbox = (q[0], q[1], q[0] + rng.uniform(0.1, 20), q[1] + rng.uniform(0.1, 20))
        got = np.sort(tree.query(*qbox))
        exp = np.where(
            ~(
                (boxes[:, 2] < qbox[0])
                | (boxes[:, 0] > qbox[2])
                | (boxes[:, 3] < qbox[1])
                | (boxes[:, 1] > qbox[3])
            )
        )[0]
        assert got.tolist() == exp.tolist()


def test_wkt_roundtrip():
    """WKB built from rings prints as the WKT those rings spell."""
    ring = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
    hole = np.array([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]], dtype=float)
    w = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))"
    assert wkb.wkt_of(wkb.polygon_to_wkb([ring, hole])) == w
    tri = np.array([[0, 0], [1, 0], [1, 1], [0, 0]], dtype=float)
    mp = "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))"
    assert wkb.wkt_of(wkb.multipolygon_to_wkb([[tri], [tri + 5]])) == mp
    assert wkb.wkt_of(wkb.point_to_wkb(3.5, -2.0)) == "POINT (3.5 -2)"
