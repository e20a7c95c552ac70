"""Cell grid invariants: hexgrid (H3-shaped) and S2 (public spec)."""

import numpy as np

from geo_inference_spark.geom.core import points_in_polygon
from geo_inference_spark.grid import hexgrid, s2


def test_hex_roundtrip_and_parent():
    rng = np.random.RandomState(0)
    lat = rng.uniform(-80, 80, 2000)
    lng = rng.uniform(-179, 179, 2000)
    for res in (5, 7, 9, 11):
        c = hexgrid.latlng_to_cell(lat, lng, res)
        clat, clng = hexgrid.cell_to_latlng(c)
        # center distance bounded by circumradius
        assert (np.hypot(clat - lat, clng - lng) <= hexgrid.cell_size(res) + 1e-9).all()
        # center re-encodes to same cell
        assert (hexgrid.latlng_to_cell(clat, clng, res) == c).all()
        # parent contains child center
        p = hexgrid.parent(c, res - 2)
        assert (hexgrid.latlng_to_cell(clat, clng, res - 2) == p).all()


def test_hex_kring_counts_and_adjacency():
    c = hexgrid.latlng_to_cell(np.array([45.0]), np.array([-73.0]), 8)
    for k in (1, 2, 3):
        ring = hexgrid.k_ring(c, k)
        assert ring.shape == (1, 1 + 3 * k * (k + 1))
        assert len(np.unique(ring)) == ring.shape[1]
        assert c[0] in ring
    # every k=1 neighbor center is within 2*size of the center
    r1 = hexgrid.k_ring(c, 1)[0]
    clat, clng = hexgrid.cell_to_latlng(r1)
    olat, olng = hexgrid.cell_to_latlng(c)
    d = np.hypot(clat - olat[0], clng - olng[0])
    s = hexgrid.cell_size(8)
    assert (d[d > 0] <= 2 * s).all()


def test_hex_polyfill_covers_polygon():
    # every random point inside the polygon must land in a cover cell
    tri = np.array([[0, 0], [2.0, 0.2], [1.3, 1.7], [0.2, 1.1], [0, 0]])
    res = 6
    cells, boundary = hexgrid.polyfill([tri], res)
    cellset = set(cells.tolist())
    rng = np.random.RandomState(5)
    px = rng.uniform(-0.2, 2.2, 3000)
    py = rng.uniform(-0.2, 1.9, 3000)
    inside = points_in_polygon(px, py, [tri])
    pc = hexgrid.latlng_to_cell(py[inside], px[inside], res)
    assert all(c in cellset for c in pc.tolist())
    # interior cells contain only inside points
    interior = set(cells[~boundary].tolist())
    pc_all = hexgrid.latlng_to_cell(py, px, res)
    in_interior = np.array([c in interior for c in pc_all.tolist()])
    assert inside[in_interior].all()


def test_s2_structure_and_roundtrip():
    rng = np.random.RandomState(1)
    lat = rng.uniform(-89, 89, 5000)
    lng = rng.uniform(-180, 180, 5000)
    leaf = s2.latlng_to_cell(lat, lng)
    assert (s2.level(leaf) == 30).all()
    rlat, rlng = s2.cell_to_latlng(leaf)
    dlng = np.abs(((rlng - lng + 180) % 360) - 180)
    assert np.max(np.hypot(rlat - lat, dlng)) < 1e-5
    for lv in (0, 4, 9, 16, 25):
        p = s2.parent(leaf, lv)
        assert (s2.level(p) == lv).all()
        assert (p == s2.latlng_to_cell(lat, lng, lv)).all()
        lo = s2.range_min(p).astype(np.uint64)
        hi = s2.range_max(p).astype(np.uint64)
        u = leaf.astype(np.uint64)
        assert ((lo <= u) & (u <= hi)).all()
        clat, clng = s2.cell_to_latlng(p)
        assert (s2.latlng_to_cell(clat, clng, lv) == p).all()


def test_s2_face_centers():
    lat = np.array([0.0, 0.0, 90.0, 0.0, 0.0, -90.0])
    lng = np.array([0.0, 90.0, 0.0, 180.0, -90.0, 0.0])
    f = s2.parent(s2.latlng_to_cell(lat, lng), 0)
    # six distinct face cells, ids = (face*2+1) << 60 as uint64
    u = np.sort(f.astype(np.uint64))
    exp = np.sort(np.array([(2 * k + 1) << 60 for k in range(6)], dtype=np.uint64))
    assert (u == exp).all()


def test_children_partition_property():
    import numpy as np

    from geo_inference_spark.grid import hexgrid as hg

    rng = np.random.RandomState(4)
    lats = rng.uniform(-60, 60, 20)
    lons = rng.uniform(-170, 170, 20)
    cells = hg.latlng_to_cell(lats, lons, 6)
    counts = []
    for c in np.unique(cells):
        ch = hg.children(np.int64(c))
        counts.append(len(ch))
        assert (hg.parent(ch, 6) == c).all()
        # every child is distinct and at res 7
        res, _, _ = hg.unpack(ch)
        assert (res == 7).all()
    # aperture-7 grid: ~7 children on average
    assert 5.5 <= np.mean(counts) <= 8.5, np.mean(counts)
    assert (hg.grid_disk(cells[:3], 2) == hg.k_ring(cells[:3], 2)).all()


def test_hex_ids_never_collide_across_resolutions():
    # pip_join looks every cover resolution's keys up in ONE index:
    # that is exact only while an id names its own resolution
    rng = np.random.RandomState(5)
    lat = np.concatenate([rng.uniform(-90, 90, 2000), [-90, 90, 0, 0]])
    lng = np.concatenate([rng.uniform(-180, 180, 2000), [-180, 180, -180, 180]])
    seen = {}
    for res in range(hexgrid.MAX_RES + 1):
        c = hexgrid.latlng_to_cell(lat, lng, res)
        assert (hexgrid.unpack(c)[0] == res).all()
        for other, ids in seen.items():
            assert not np.isin(c, ids).any(), (res, other)
        seen[res] = c
