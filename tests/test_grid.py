"""Cell grid invariants: hexgrid (H3-shaped) and S2 (public spec)."""

import numpy as np
import pytest

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


def _tie_points(res, rng):
    """(lat, lng) pairs whose fractional axial coords land EXACTLY on a
    .5 tie in float64, so round-half-even decides the cell: a tie in r
    (set by lat alone), then ties in q and in y = -q - r (set by lng)."""
    s = hexgrid.cell_size(res)
    frac = hexgrid._xy_to_axial_frac

    def tie_near(x0, f):
        # the first float within 64 ulps of x0 where f is exactly k + .5
        xs = x0 + np.arange(-64, 65) * np.spacing(x0)
        hit = xs[np.mod(f(xs), 1.0) == 0.5]
        return float(hit[0]) if len(hit) else None

    kmax = int(90 / (1.5 * s) - 0.5)
    mmax = max(1, int(70 / s))
    out = []
    for k in rng.randint(-kmax - 1, kmax + 1, 12):
        lat = tie_near((k + 0.5) * 1.5 * s, lambda v: frac(0.0, v, s)[1])
        if lat is None:
            continue
        out.append((lat, float(rng.uniform(-170, 170))))
        rf = frac(0.0, lat, s)[1]
        m = rng.randint(-mmax, mmax) + 0.5
        for q0, f in ((m, lambda v: frac(v, lat, s)[0]),
                      (-m - rf, lambda v: -frac(v, lat, s)[0] - rf)):
            lng = tie_near((q0 * s + lat / 3.0) / (hexgrid.SQRT3 / 3.0), f)
            if lng is not None and abs(lng) <= 180:
                out.append((lat, lng))
    return out


@pytest.mark.parametrize("res", [0, 5, 7, 9, 10])
def test_hex_cell_sql_twins_match_latlng_to_cell(spark, res):
    """hex_cell_sql in Spark (F.expr) and in DuckDB (dialect='duck')
    equal hexgrid.latlng_to_cell bit for bit: seeded points, exact
    round-half-even ties, the poles and +-180 degrees. Off-globe, NaN,
    +-inf and null coordinates are id 0 in all three (a point with no
    cell changes no PIP, kNN or radius result, so the SQL twin keeps
    the same rule)."""
    import duckdb
    from pyspark.sql import functions as F

    from geo_inference_spark.operators.geocode import hex_cell_sql

    rng = np.random.RandomState(100 + res)
    n = 4000
    pts = list(zip(rng.uniform(-90, 90, n).tolist(),
                   rng.uniform(-180, 180, n).tolist()))
    ties = _tie_points(res, rng)
    assert len(ties) >= 6, ties  # the tie search found real ties
    pts += ties
    pts += [(90.0, 0.0), (-90.0, 0.0), (90.0, 180.0), (-90.0, -180.0),
            (0.0, 180.0), (0.0, -180.0), (45.5, 180.0), (-45.5, -180.0)]
    off = [(90.000001, 0.0), (-90.5, 10.0), (0.0, 180.000001),
           (10.0, -181.0), (float("nan"), 0.0), (0.0, float("nan")),
           (float("inf"), 0.0), (0.0, float("-inf")), (None, 1.0),
           (1.0, None)]
    pts += off
    rows = [(i, lat, lng) for i, (lat, lng) in enumerate(pts)]
    lat = np.array([np.nan if p[0] is None else p[0] for p in pts])
    lng = np.array([np.nan if p[1] is None else p[1] for p in pts])
    exp = hexgrid.latlng_to_cell(lat, lng, res)
    assert (exp[-len(off):] == 0).all()

    sdf = spark.createDataFrame(rows, "i long, lat double, lon double")
    got_spark = np.array(
        [r.cell for r in sdf.select("i", F.expr(hex_cell_sql(res)).alias("cell"))
         .orderBy("i").collect()], dtype=np.int64,
    )
    with duckdb.connect() as con:
        con.execute("CREATE TABLE pts (i BIGINT, lat DOUBLE, lon DOUBLE)")
        con.executemany("INSERT INTO pts VALUES (?, ?, ?)", rows)
        got_duck = np.array(
            [c for (c,) in con.execute(
                f"SELECT {hex_cell_sql(res, dialect='duck')} FROM pts ORDER BY i"
            ).fetchall()], dtype=np.int64,
        )
    np.testing.assert_array_equal(got_spark, exp)
    np.testing.assert_array_equal(got_duck, exp)
