"""PIP join vs brute-force numpy oracle (generic irregular polygons)."""

import numpy as np
import pandas as pd
import pytest

from geo_inference_spark.geom.core import points_in_polygon
from geo_inference_spark.geom.wkb import iter_polygons, point_to_wkb, polygon_to_wkb
from geo_inference_spark.operators.pip_join import build_cover, pip_join
from geo_inference_spark.sources import pages as P


def brute_force_matches(pts_pdf, polygons_pdf):
    exp = set()
    for _, row in polygons_pdf.iterrows():
        hit = np.zeros(len(pts_pdf), dtype=bool)
        for rings in iter_polygons(row["geom_wkb"]):
            hit |= points_in_polygon(
                pts_pdf["lon"].to_numpy(), pts_pdf["lat"].to_numpy(), rings
            )
        for pid in pts_pdf["page_id"].to_numpy()[hit]:
            exp.add((int(pid), int(row["area_id"])))
    return exp


def test_cover_interior_boundary_split():
    polys = P.synth_admin_polygons(n_areas=8)
    cover = build_cover(polys, res=7)
    assert len(cover) > 0
    assert set(cover.columns) == {"res", "cell", "area_id", "boundary"}
    assert not cover.duplicated(["res", "cell", "area_id"]).any()
    # adaptive cover keeps every polygon's cell count bounded
    per_poly = cover.groupby("area_id").size()
    assert (per_poly <= 4096).all()


def test_pip_join_matches_bruteforce(spark):
    pages = P.pages_df(spark, 4000, partitions=8)
    polys = P.synth_admin_polygons(n_areas=24)
    got_rows = (
        pip_join(spark, pages, polys, res=8, keep_cols=("page_id",))
        .select("page_id", "area_id")
        .collect()
    )
    got = {(r["page_id"], r["area_id"]) for r in got_rows}
    assert len(got_rows) == len(got)  # no duplicate matches
    pts = P.pages_pdf(np.arange(4000, dtype=np.uint64))
    exp = brute_force_matches(pts, polys)
    assert got == exp
    assert len(exp) > 50  # test is non-vacuous


def test_pip_join_grid_polygons(spark):
    pages = P.pages_df(spark, 2000, partitions=4)
    grid = P.admin_grid_polygons()
    got = (
        pip_join(spark, pages, grid, res=6, keep_cols=("page_id",))
        .select("page_id", "area_id")
        .toPandas()
    )
    # every page falls in exactly one grid rect
    assert len(got) == 2000
    assert got["page_id"].is_unique
    pts = P.pages_pdf(np.arange(2000, dtype=np.uint64))
    ix = np.floor((pts["lon"].to_numpy() + 180) / 45).clip(0, 7).astype(int)
    iy = np.floor((pts["lat"].to_numpy() + 90) / 45).clip(0, 3).astype(int)
    exp = dict(zip(pts["page_id"], ix * 4 + iy))
    for pid, aid in zip(got["page_id"], got["area_id"]):
        assert exp[pid] == aid


def test_pip_join_10k_polygon_layer(spark):
    """A 10k-polygon layer, each candidate refined against only its
    own area's parts, must still equal brute force and stay
    duplicate-free."""
    pages = P.pages_df(spark, 1500, partitions=4)
    polys = P.synth_admin_polygons(n_areas=10_000)
    plan = pip_join(
        spark, pages, polys, res=6, keep_cols=("page_id",)
    ).select("page_id", "area_id")
    # the big side never shuffles and never meets a nested loop: the
    # pages generator and the one PIP pass are its only Python stages
    ex = plan._jdf.queryExecution().executedPlan().toString()
    assert ex.count("MapInPandas") == 2 and "ArrowEvalPython" not in ex, ex
    assert "Exchange" not in ex, ex
    for j in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert j not in ex, ex
    got_rows = plan.collect()
    got = {(r["page_id"], r["area_id"]) for r in got_rows}
    assert len(got_rows) == len(got)
    pts = P.pages_pdf(np.arange(1500, dtype=np.uint64))
    exp = brute_force_matches(pts, polys)
    assert got == exp
    assert len(exp) > 100


def test_pip_join_multipart_adaptive_res_no_double_count(spark):
    """A multipolygon whose parts would fit different adaptive cover
    resolutions must not double-count points (one res per area_id)."""
    from geo_inference_spark.geom.wkb import multipolygon_to_wkb

    def square(cx, cy, r):
        return np.array(
            [
                [cx - r, cy - r],
                [cx + r, cy - r],
                [cx + r, cy + r],
                [cx - r, cy + r],
                [cx - r, cy - r],
            ],
            dtype=float,
        )

    # huge part (forces coarse adaptive res at the 4096-cell cap) +
    # tiny part that would fit the full requested res
    mp = multipolygon_to_wkb([[square(0.0, 0.0, 40.0)], [square(60.0, 0.5, 0.05)]])
    polys = pd.DataFrame(
        [{"area_id": 7, "name": "mp", "value": 1.0, "geom_wkb": mp,
          "crs": "EPSG:4326"}]
    )
    pages = P.pages_df(spark, 3000, partitions=4)
    got_rows = (
        pip_join(spark, pages, polys, res=9, keep_cols=("page_id",))
        .select("page_id", "area_id")
        .collect()
    )
    got = {(r["page_id"], r["area_id"]) for r in got_rows}
    assert len(got_rows) == len(got)  # the ADVICE double-count bug
    pts = P.pages_pdf(np.arange(3000, dtype=np.uint64))
    exp = brute_force_matches(pts, polys)
    assert got == exp
    assert len(exp) > 10


def _unfiltered_refine(polys, x, y, a):
    """Reference refine: every candidate ray-cast against every part
    of its area, no bbox filter."""
    parts: dict[int, list] = {}
    for aid, wkb in zip(polys["area_id"], polys["geom_wkb"]):
        parts.setdefault(int(aid), []).extend(iter_polygons(wkb))
    out = np.zeros(len(x), dtype=bool)
    for aid in np.unique(a):
        m = a == aid
        for rings in parts.get(int(aid), ()):
            out[m] |= points_in_polygon(x[m], y[m], rings)
    return out


def test_refine_matches_unfiltered_ray_cast():
    """The refine equals the unfiltered reference on every boundary
    candidate of the admin layer's res-9 cover."""
    import geo_inference_spark.operators.pip_join as PJ
    from geo_inference_spark.grid import hexgrid

    polys = P.synth_admin_polygons(64)
    cover = build_cover(polys, 9)
    bnd = cover[cover["boundary"]]
    pts = P.pages_pdf(np.arange(20_000, dtype=np.uint64))
    lat, lon = pts["lat"].to_numpy(), pts["lon"].to_numpy()
    # every (page, candidate area) pair in a boundary cell
    cand = pd.concat([
        pd.DataFrame({"i": np.arange(len(lat)), "cell": hexgrid.latlng_to_cell(lat, lon, r)})
        .merge(bnd[bnd["res"] == r], on="cell")
        for r in sorted(bnd["res"].unique())
    ])
    i = cand["i"].to_numpy()
    x, y, a = lon[i], lat[i], cand["area_id"].to_numpy(np.int64)
    got = PJ._refine(polys)(x, y, a)
    assert len(a) > 1000 and got.any() and not got.all()
    np.testing.assert_array_equal(got, _unfiltered_refine(polys, x, y, a))


def test_refine_many_part_areas_on_part_edges():
    """4 areas x 400 islands (touching squares and diamonds): points
    exactly on part vertices, edges and bbox corners, each tested
    against its own area and a neighbour's, refine as the unfiltered
    reference does."""
    import geo_inference_spark.operators.pip_join as PJ
    from geo_inference_spark.geom.wkb import multipolygon_to_wkb

    side = 40
    islands, probes = [], []
    for i in range(side):
        for j in range(side):
            cx, cy, h = i + 0.5, j + 0.5, 0.5
            if (i + j) % 2:
                ring = [[cx - h, cy - h], [cx + h, cy - h], [cx + h, cy + h], [cx - h, cy + h]]
            else:
                ring = [[cx, cy - h], [cx + h, cy], [cx, cy + h], [cx - h, cy]]
            ring = np.array(ring + ring[:1], float)
            islands.append(ring)
            corners = [[cx - h, cy - h], [cx + h, cy - h], [cx + h, cy + h], [cx - h, cy + h]]
            mids = (ring[:-1] + ring[1:]) / 2
            probes.append(np.vstack([ring[:-1], mids, corners, [[cx, cy]]]))
    area = np.arange(side * side) % 4  # neighbours in j differ in area
    polys = pd.DataFrame({"area_id": np.arange(4), "geom_wkb": [
        multipolygon_to_wkb([[r] for r, a in zip(islands, area) if a == k])
        for k in range(4)]})
    xy = np.vstack(probes)
    own = np.repeat(area, [len(p) for p in probes])
    x, y = np.tile(xy[:, 0], 2), np.tile(xy[:, 1], 2)
    a = np.concatenate([own, (own + 1) % 4])
    exp = _unfiltered_refine(polys, x, y, a)
    # points on a part's lower-left bbox edges are inside by the
    # ray-cast convention, so an exclusive bbox test would drop them
    assert exp[(x == np.floor(x)) & (a == np.tile(own, 2))].any() and not exp.all()
    np.testing.assert_array_equal(PJ._refine(polys)(x, y, a), exp)


def test_prepared_layer_memo(monkeypatch):
    """Equal layer content is prepared once; a moved vertex, a changed
    area_id or another res each get a new preparation; the memo stays
    within its fixed size, oldest out."""
    import geo_inference_spark.operators.pip_join as PJ

    monkeypatch.setattr(PJ, "_PREPARED", {})
    real, calls = PJ.build_cover, []

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(PJ, "build_cover", counting)
    base = P.synth_admin_polygons(64)
    first = PJ._prepare(base, 8)
    # an equal copy, and a column _prepare does not read, reuse it
    assert PJ._prepare(P.synth_admin_polygons(64), 8) is first
    assert PJ._prepare(base.assign(name="renamed"), 8) is first
    assert len(calls) == 1

    moved = base.copy()
    rings = [r.copy() for r in next(iter_polygons(moved.at[0, "geom_wkb"]))]
    rings[0][1, 0] += 1e-6
    moved.at[0, "geom_wkb"] = polygon_to_wkb(rings)
    relabeled = base.copy()
    relabeled.loc[0, "area_id"] = 10_000
    for layer, res in ((moved, 8), (relabeled, 8), (base, 7)):
        n = len(calls)
        assert PJ._prepare(layer, res) is not first
        assert len(calls) == n + 1
        assert len(PJ._PREPARED) <= PJ._PREPARED_MAX
    PJ._prepare(base, 6)  # a fifth layer evicts the oldest (base, 8)
    assert len(PJ._PREPARED) == PJ._PREPARED_MAX == 4
    n = len(calls)
    PJ._prepare(base, 8)
    assert len(calls) == n + 1 and len(PJ._PREPARED) == 4


def test_empty_layer_gives_empty_results_with_schema(spark):
    from geo_inference_spark.operators.pip_join import pages_per_area

    pages = P.pages_df(spark, 500, partitions=2).select("page_id", "lat", "lon")
    empty = P.synth_admin_polygons(8).iloc[:0]
    j = pip_join(spark, pages, empty, res=8)
    assert j.dtypes == [
        ("page_id", "bigint"), ("lat", "double"), ("lon", "double"),
        ("area_id", "bigint"),
    ]
    assert j.count() == 0
    c = pages_per_area(spark, pages, empty, res=8)
    assert c.dtypes == [("area_id", "bigint"), ("cnt", "bigint")]
    assert c.count() == 0


def test_duplicate_area_ids_act_as_one_multipart_area(spark):
    """Two rows with one area_id join like their merged MULTIPOLYGON:
    a page inside both overlapping parts matches the area once."""
    from geo_inference_spark.geom.wkb import multipolygon_to_wkb
    from geo_inference_spark.operators.pip_join import pages_per_area

    polys = P.synth_admin_polygons(64)
    # areas 8 and 24 overlap where the pages are dense
    dup = polys.copy()
    dup.loc[dup["area_id"] == 24, "area_id"] = 8
    parts = [
        rings for w in polys.loc[polys["area_id"].isin([8, 24]), "geom_wkb"]
        for rings in iter_polygons(w)
    ]
    merged = polys[polys["area_id"] != 24].copy()
    merged.loc[merged["area_id"] == 8, "geom_wkb"] = multipolygon_to_wkb(parts)
    pages = P.pages_df(spark, 4000, partitions=4)

    def matches(layer):
        rows = pip_join(spark, pages, layer, res=9, keep_cols=("page_id",)).collect()
        return sorted((r["page_id"], r["area_id"]) for r in rows)

    def counts(layer):
        return dict(pages_per_area(spark, pages, layer, res=9).collect())

    got = matches(dup)
    assert got == matches(merged)
    assert len(got) == len(set(got))
    pts = P.pages_pdf(np.arange(4000, dtype=np.uint64))
    assert set(got) == brute_force_matches(pts, merged)
    assert counts(dup) == counts(merged)
    assert counts(dup)[8] > 531  # more than either part alone


_SQUARE = np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]], float)


@pytest.mark.parametrize("wkb, reason", [
    (polygon_to_wkb([]), "empty polygon or ring"),
    (polygon_to_wkb([np.zeros((0, 2))]), "empty polygon or ring"),
    (polygon_to_wkb([_SQUARE])[:-8], "truncated WKB"),
    (polygon_to_wkb([_SQUARE])[:2], "truncated WKB"),
    (point_to_wkb(0.5, 0.5), "not a polygonal geometry"),
    (polygon_to_wkb([np.where(_SQUARE == 1, np.nan, _SQUARE)]),
     "non-finite coordinate"),
    (None, "geom_wkb is null"),
], ids=["no_rings", "empty_ring", "truncated", "two_bytes", "point",
        "nan_vertex", "null"])
def test_invalid_polygon_row_is_named(spark, wkb, reason):
    """An invalid row fails the call on the driver with one ValueError
    naming its area_id and the reason, before any Spark job."""
    layer = pd.DataFrame({"area_id": [4, 5],
                          "geom_wkb": [polygon_to_wkb([_SQUARE]), wkb]})
    pages = P.pages_df(spark, 100, partitions=1)
    with pytest.raises(ValueError, match=f"area_id=5: {reason}"):
        pip_join(spark, pages, layer, res=8)


def test_open_and_bowtie_rings_are_even_odd():
    """An open ring reads as closed and a self-intersecting (bowtie)
    ring keeps even-odd parity, at every cover resolution."""
    import geo_inference_spark.operators.pip_join as PJ

    rng = np.random.default_rng(3)
    lon, lat = rng.uniform(-1, 2, 20_000), rng.uniform(-1, 2, 20_000)
    bowtie = np.array([[0, 0], [1, 1], [1, 0], [0, 1], [0, 0]], float)
    for ring in (_SQUARE, bowtie):
        exp = points_in_polygon(lon, lat, [ring])
        for rings in ([ring], [ring[:-1]]):
            layer = pd.DataFrame({"area_id": [7], "geom_wkb": [polygon_to_wkb(rings)]})
            for res in (5, 7):
                i, a = PJ._match(PJ._prepare(layer, res), lat, lon)
                got = np.zeros(len(lat), bool)
                got[i] = True
                np.testing.assert_array_equal(got, exp)
                assert (a == 7).all()
