"""Geocode entry points and the geo operators' coordinate contract:
a point without finite, in-range coordinates gets cell id 0, matches
nothing and changes no result; a query without them, or one that
repeats a qid, is rejected."""

import warnings

import numpy as np
import pandas as pd
import pytest

from geo_inference_spark.grid import hexgrid, s2
from geo_inference_spark.operators.geocode import s2_cell_udf
from geo_inference_spark.operators.knn import knn_join, radius_join
from geo_inference_spark.operators.pip_join import pip_join
from geo_inference_spark.sources.pages import pages_df, synth_admin_polygons


def test_latlng_to_cell_non_finite_is_zero_without_warning():
    rng = np.random.RandomState(3)
    lat = rng.uniform(-80, 80, 64)
    lon = rng.uniform(-179, 179, 64)
    clean = hexgrid.latlng_to_cell(lat, lon, 9)
    # non-finite, then out of range: lon 200 is not wrapped, and a far
    # lon or lat must not overflow into another resolution's id
    bad = np.array([0, 5, 17, 40, 41, 42, 43, 44])
    lat_d, lon_d = lat.copy(), lon.copy()
    lat_d[bad] = [np.nan, np.inf, 1.0, 2.0, 0.0, 0.0, 1e30, 95.0]
    lon_d[bad] = [3.0, 4.0, np.nan, -np.inf, 200.0, 1e12, 0.0, 0.0]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = hexgrid.latlng_to_cell(lat_d, lon_d, 9)
        assert hexgrid.latlng_to_cell(np.nan, 0.0, 9) == 0
    assert (got[bad] == 0).all()
    keep = np.setdiff1d(np.arange(64), bad)
    # finite rows are bit-identical to the clean call
    assert (got[keep] == clean[keep]).all()
    assert (clean != 0).all()  # 0 is never a real cell


def test_s2_cell_udf_matches_numpy(spark):
    rng = np.random.RandomState(11)
    pdf = pd.DataFrame({
        "lat": rng.uniform(-89, 89, 500),
        "lon": rng.uniform(-180, 180, 500),
    })
    df = spark.createDataFrame(pdf, schema="lat double, lon double")
    got = (
        df.select(s2_cell_udf(12)(df["lat"], df["lon"]).alias("c"))
        .toPandas()["c"]
        .to_numpy(np.int64)
    )
    exp = s2.latlng_to_cell(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), 12)
    assert np.array_equal(got, np.asarray(exp, dtype=np.int64))


def _with_bad_coordinates(spark, pages):
    """``pages`` plus rows whose lat or lon is NaN, null, infinite or
    out of range, in a partition of their own."""
    nan, inf = float("nan"), float("inf")
    bad = spark.createDataFrame(
        [(10**9 + i, la, lo) for i, (la, lo) in enumerate([
            (nan, 10.0), (40.7, nan), (None, -74.0), (40.7, None),
            (None, None), (inf, 5.0), (nan, nan),
            (0.0, 200.0), (0.0, 1e12), (1e30, 0.0), (95.0, 0.0),
        ])],
        schema="page_id long, lat double, lon double",
    )
    return pages.unionByName(bad)


QUERIES = pd.DataFrame({
    "qid": [0, 1, 2],
    "lat": [40.7, -60.0, 10.0],
    "lon": [-74.0, 170.0, 10.0],
})
# plus a polar query: the (95, 0) row lies 667 km (haversine) from it
RADIUS_QUERIES = pd.concat(
    [QUERIES, pd.DataFrame({"qid": [3], "lat": [89.0], "lon": [0.0]})],
    ignore_index=True,
)


def test_non_finite_points_change_no_result(spark):
    pages = pages_df(spark, 3000, partitions=4).select("page_id", "lat", "lon")
    dirty = _with_bad_coordinates(spark, pages)

    def pip(df):
        rows = pip_join(
            spark, df, synth_admin_polygons(24), res=8, keep_cols=("page_id",)
        ).select("page_id", "area_id").collect()
        return sorted((r["page_id"], r["area_id"]) for r in rows)

    def knn(df, **kw):
        got = knn_join(spark, df, QUERIES, k=5, res=7, **kw).toPandas()
        return got.sort_values(["qid", "rn"]).to_numpy().tolist()

    def radius(df):
        got = radius_join(spark, df, RADIUS_QUERIES, radius_km=700.0, res=6)
        return sorted(map(tuple, got.toPandas().to_numpy().tolist()))

    exp_pip = pip(pages)
    assert exp_pip and pip(dirty) == exp_pip
    for kw in ({}, {"metric": "haversine"}):
        exp = knn(pages, **kw)
        assert len(exp) == 5 * len(QUERIES)
        assert knn(dirty, **kw) == exp, kw
    exp_radius = radius(pages)
    assert exp_radius and radius(dirty) == exp_radius


@pytest.mark.parametrize("qid,lat,lon,match", [
    pytest.param(1, lat, lon, "finite", id=f"{lat}-{lon}") for lat, lon in [
        (np.nan, 0.0), (0.0, np.inf), (None, 1.0),
        (0.0, 200.0), (0.0, 1e12), (1e30, 0.0), (95.0, 0.0),
    ]
] + [
    # a repeated qid paired each cell with both positions: kNN mixed
    # the two answers, radius_join merged them under one qid
    pytest.param(0, 51.5, -0.12, "repeat qid 0", id="duplicate-qid"),
])
def test_non_finite_query_is_rejected(spark, qid, lat, lon, match):
    pages = pages_df(spark, 100, partitions=2)
    queries = pd.DataFrame({"qid": [0, qid], "lat": [1.0, lat], "lon": [2.0, lon]})
    with pytest.raises(ValueError, match=match):
        knn_join(spark, pages, queries, k=3)
    with pytest.raises(ValueError, match=match):
        radius_join(spark, pages, queries, radius_km=10.0)
