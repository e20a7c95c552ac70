"""kNN: k-ring expansion + distance-bounded refinement vs brute-force
numpy oracle (SURVEY.md §2.6 O3)."""

import re
import uuid

import numpy as np
import pandas as pd
import pytest

from geo_inference_spark.operators.knn import knn_join, radius_join
from geo_inference_spark.sources.pages import pages_df


def brute_force(pts: pd.DataFrame, queries: pd.DataFrame, k: int):
    out = {}
    for _, q in queries.iterrows():
        d = np.sqrt(
            (pts["lon"].to_numpy() - q["lon"]) ** 2
            + (pts["lat"].to_numpy() - q["lat"]) ** 2
        )
        order = np.lexsort((pts["page_id"].to_numpy(), d))[:k]
        out[int(q["qid"])] = [
            (int(pts["page_id"].iloc[i]), float(d[i])) for i in order
        ]
    return out


def test_knn_exact_vs_brute_force(spark):
    pages = pages_df(spark, 4000, partitions=8)
    pts = pages.select("page_id", "lat", "lon").toPandas()
    queries = pd.DataFrame(
        {
            "qid": [0, 1, 2, 3],
            "lat": [40.7, 51.5, -23.5, 0.0],
            "lon": [-74.0, -0.1, -46.6, 10.0],
        }
    )
    got = knn_join(spark, pages, queries, k=7, res=7).toPandas()
    exp = brute_force(pts, queries, 7)
    for qid, grp in got.groupby("qid"):
        grp = grp.sort_values("rn")
        assert [
            (int(i), round(float(d), 9))
            for i, d in zip(grp["id"], grp["dist"])
        ] == [(i, round(d, 9)) for i, d in exp[int(qid)]], f"qid {qid}"


def test_knn_sparse_region_escalates(spark):
    # a query in the middle of the ocean forces ring escalation /
    # fallback but must still be exact
    pages = pages_df(spark, 500, partitions=4)
    pts = pages.select("page_id", "lat", "lon").toPandas()
    queries = pd.DataFrame({"qid": [9], "lat": [-60.0], "lon": [170.0]})
    got = knn_join(spark, pages, queries, k=3, res=8).toPandas()
    exp = brute_force(pts, queries, 3)
    assert [
        (int(i), round(float(d), 9)) for i, d in zip(got["id"], got["dist"])
    ] == [(i, round(d, 9)) for i, d in exp[9]]


def test_knn_fallback_is_bounded_not_crossjoin(spark):
    """VERDICT r2 #8: a straggler query must resolve through the
    per-partition local-top-k fallback (one mapInPandas over the index,
    re-ranked on the driver), never a crossJoin — and still be exact.
    max_rounds=0 forces every query straight into the fallback."""
    pages = pages_df(spark, 2000, partitions=8)
    pts = pages.select("page_id", "lat", "lon").toPandas()
    queries = pd.DataFrame(
        {"qid": [0, 1], "lat": [-60.0, 40.7], "lon": [170.0, -74.0]}
    )
    sink: list = []
    got = knn_join(
        spark, pages, queries, k=5, res=7, max_rounds=0, plan_sink=sink
    ).toPandas()
    exp = brute_force(pts, queries, 5)
    for qid, grp in got.groupby("qid"):
        grp = grp.sort_values("rn")
        assert [
            (int(i), round(float(d), 9))
            for i, d in zip(grp["id"], grp["dist"])
        ] == [(i, round(d, 9)) for i, d in exp[int(qid)]], f"qid {qid}"
    assert sink, "fallback did not run"
    for plan in sink:
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "MapInPandas" in plan and "InMemoryTableScan" in plan
        assert "Exchange" not in plan  # neither a shuffle nor a broadcast


def test_knn_haversine_antimeridian_and_pole_exact(spark):
    """Queries hugging the +-180 line or the polar cap must return
    exact geodesic kNN. Since round 4 these ride the main path: the
    haversine escalation uses spherical-box covers that split at
    +-180 and degrade to the full band at the poles, so the guarantee
    is the radius itself and never -inf (fallback remains only for
    covers past the cell cap)."""
    from geo_inference_spark.operators.knn import knn_join

    # points straddling the antimeridian: geodesically near a +179.9
    # query, planar-far (lon=-179.9 is 359.8 planar degrees away)
    rows = []
    pid = 0
    for lon in (179.5, 179.9, -179.9, -179.5, -178.0, 178.0):
        for lat in (9.0, 10.0, 11.0, 65.0):
            rows.append((pid, float(lat), float(lon)))
            pid += 1
    # polar cluster
    for lon in (-120.0, 0.0, 60.0, 175.0, -175.0):
        rows.append((pid, 89.5, lon))
        pid += 1
    pts = pd.DataFrame(rows, columns=["page_id", "lat", "lon"])
    pdf = spark.createDataFrame(pts, schema="page_id long, lat double, lon double")
    queries = pd.DataFrame(
        {"qid": [0, 1], "lat": [10.0, 89.8], "lon": [179.9, 180.0 - 1e-9]}
    )
    got = knn_join(
        spark, pdf, queries, k=4, res=6, metric="haversine"
    ).toPandas()
    lat, lon = pts["lat"].to_numpy(), pts["lon"].to_numpy()
    for _, q in queries.iterrows():
        dphi = np.radians(lat - q.lat)
        dlam = np.radians(lon - q.lon)
        a = (
            np.sin(dphi / 2) ** 2
            + np.cos(np.radians(q.lat)) * np.cos(np.radians(lat))
            * np.sin(dlam / 2) ** 2
        )
        d = 2 * 6371.0088 * np.arcsin(np.sqrt(a))
        order = np.lexsort((pts["page_id"].to_numpy(), d))[:4]
        exp_ids = pts["page_id"].to_numpy()[order].tolist()
        got_ids = got[got.qid == q.qid].sort_values("rn")["id"].tolist()
        assert got_ids == exp_ids, (q.qid, got_ids, exp_ids)


def test_knn_haversine_matches_bruteforce(spark):
    """Geodesic kNN == brute-force haversine ranking; at high latitude
    the planar and geodesic neighbor sets genuinely differ somewhere,
    so the metric option is not a no-op."""
    import pandas as pd

    from geo_inference_spark.operators.knn import KM_PER_DEG, knn_join
    from geo_inference_spark.sources import pages as P

    docs = P.pages_df(spark, 3000, partitions=4)
    qpdf = pd.DataFrame(
        [(0, 62.0, 10.0), (1, 40.7, -74.0), (2, -35.0, 149.0)],
        columns=["qid", "lat", "lon"],
    )
    got = knn_join(
        spark, docs, qpdf, k=5, res=6, id_col="page_id", metric="haversine"
    ).toPandas()
    pts = P.pages_pdf(np.arange(3000, dtype=np.uint64))
    lat = pts["lat"].to_numpy()
    lon = pts["lon"].to_numpy()
    for _, q in qpdf.iterrows():
        dphi = np.radians(lat - q.lat)
        dlam = np.radians(lon - q.lon)
        a = (
            np.sin(dphi / 2) ** 2
            + np.cos(np.radians(q.lat)) * np.cos(np.radians(lat))
            * np.sin(dlam / 2) ** 2
        )
        d = 2 * 6371.0088 * np.arcsin(np.sqrt(a))
        order = np.lexsort((pts["page_id"].to_numpy(), d))[:5]
        exp_ids = pts["page_id"].to_numpy()[order].tolist()
        got_ids = got[got.qid == q.qid].sort_values("rn")["id"].tolist()
        assert got_ids == exp_ids, (q.qid, got_ids, exp_ids)
    # sanity: distances are km-scale (not degrees)
    assert got["dist"].max() > 2.0 * KM_PER_DEG / 111.0  # > planar-deg scale


def test_knn_all_covers_exceed_cap_still_exact(spark):
    """ADVICE r4 (high): when EVERY remaining query's box cover blows
    past max_cover_cells, the escalation loop breaks — and the break
    must still reach the exact-scan fallback instead of silently
    dropping the queries (the old for/else skipped it)."""
    pages = pages_df(spark, 1500, partitions=4)
    pts = pages.select("page_id", "lat", "lon").toPandas()
    queries = pd.DataFrame(
        {"qid": [0, 1], "lat": [85.0, -60.0], "lon": [10.0, 170.0]}
    )
    sink: list = []
    got = knn_join(
        spark, pages, queries, k=4, res=8, metric="haversine",
        max_cover_cells=0, plan_sink=sink,  # every cover "explodes"
    ).toPandas()
    assert sink, "break did not reach the fallback"
    assert sorted(got["qid"].unique().tolist()) == [0, 1]
    lat, lon = pts["lat"].to_numpy(), pts["lon"].to_numpy()
    for _, q in queries.iterrows():
        dphi = np.radians(lat - q.lat)
        dlam = np.radians(lon - q.lon)
        a = (
            np.sin(dphi / 2) ** 2
            + np.cos(np.radians(q.lat)) * np.cos(np.radians(lat))
            * np.sin(dlam / 2) ** 2
        )
        d = 2 * 6371.0088 * np.arcsin(np.sqrt(a))
        order = np.lexsort((pts["page_id"].to_numpy(), d))[:4]
        exp_ids = pts["page_id"].to_numpy()[order].tolist()
        got_ids = got[got.qid == q.qid].sort_values("rn")["id"].tolist()
        assert got_ids == exp_ids, (q.qid, got_ids, exp_ids)


def test_radius_join_empty_queries_returns_empty(spark):
    """ADVICE r4: an empty query frame must yield an empty (qid, id,
    dist_km) result, not IndexError."""
    from geo_inference_spark.operators.knn import radius_join

    pages = pages_df(spark, 100, partitions=2)
    queries = pd.DataFrame({"qid": [], "lat": [], "lon": []})
    out = radius_join(spark, pages, queries, radius_km=100.0, res=6)
    assert out.columns == ["qid", "id", "dist_km"]
    assert out.count() == 0


def test_radius_join_matches_bruteforce_incl_antimeridian(spark):
    """Geofence radius query == brute-force haversine filter, including
    a query hugging the antimeridian — which rides the spherical-box
    cell cover (lon ranges split at +-180) on the SAME broadcast
    semi-join path as interior queries: no
    BroadcastNestedLoopJoin anywhere in the plan (VERDICT r3 #6)."""
    from geo_inference_spark.operators.knn import radius_join

    pages = pages_df(spark, 3000, partitions=4)
    pts = pages.select("page_id", "lat", "lon").toPandas()
    queries = pd.DataFrame(
        {"qid": [0, 1, 2], "lat": [10.0, 55.0, -20.0],
         "lon": [-60.0, 5.0, 179.95]}
    )
    out = radius_join(spark, pages, queries, radius_km=800.0, res=6)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    got = out.toPandas()
    lat, lon = pts["lat"].to_numpy(), pts["lon"].to_numpy()
    for _, q in queries.iterrows():
        dphi = np.radians(lat - q.lat)
        dlam = np.radians(lon - q.lon)
        a = (
            np.sin(dphi / 2) ** 2
            + np.cos(np.radians(q.lat)) * np.cos(np.radians(lat))
            * np.sin(dlam / 2) ** 2
        )
        d = 2 * 6371.0088 * np.arcsin(np.sqrt(a))
        exp_ids = set(pts["page_id"].to_numpy()[d <= 800.0].tolist())
        got_ids = set(got[got.qid == q.qid]["id"].tolist())
        assert got_ids == exp_ids, (q.qid, len(got_ids), len(exp_ids))


def _twin_points():
    """Random points plus hand-placed ones around five queries: several
    points tied at the k-th distance (exact duplicates for both metrics;
    a symmetric cross for planar), an antimeridian and a polar query."""
    rng = np.random.default_rng(5)
    n = 1500
    lat = rng.uniform(-80, 80, n)
    lon = rng.uniform(-180, 180, n)
    extra = [(10.0, 20.5), (10.0, 19.5), (10.5, 20.0), (9.5, 20.0)]  # cross
    extra += [(-30.0, -60.0)] * 2 + [(-30.2, -60.1)] * 5  # 5 tie at k=4
    extra += [(1.0, 179.97), (-1.0, -179.98), (0.5, -179.9), (0.0, 179.9)]
    extra += [(89.95, 10.0), (89.9, -170.0), (89.97, 100.0), (88.0, 45.0)]
    lat = np.r_[lat, [a for a, _ in extra]]
    lon = np.r_[lon, [b for _, b in extra]]
    # ids descend, so the tie-break by id is not the insertion order
    ids = np.arange(len(lat), dtype=np.int64)[::-1] * 7
    return pd.DataFrame({"page_id": ids, "lat": lat, "lon": lon})


@pytest.mark.parametrize("metric", ["planar", "haversine"])
def test_ring_path_and_fallback_agree(spark, metric):
    """Twin paths: the indexed ring rounds and the full-scan fallback
    (max_rounds=0) return identical (qid, id, dist, rn), ties at the
    k-th distance included, and every qid unchanged up to int64 range
    (2^53 + 3 and 2^53 + 4 are one float64)."""
    pts = _twin_points()
    pdf = spark.createDataFrame(pts, schema="page_id long, lat double, lon double")
    queries = pd.DataFrame({
        "qid": [0, 1, 2**53 + 3, 2**53 + 4, 2**63 - 1],
        "lat": [10.0, -30.0, 0.0, 89.99, 35.0],
        "lon": [20.0, -60.0, -179.99, 0.0, 139.0],
    })
    sink: list = []
    ring = knn_join(spark, pdf, queries, k=4, res=6, metric=metric,
                    plan_sink=sink).toPandas()
    assert any("MapInPandas" not in p for p in sink), "no ring round ran"
    fallback = knn_join(spark, pdf, queries, k=4, res=6, metric=metric,
                        max_rounds=0).toPandas()
    assert len(ring) == 4 * len(queries)
    assert sorted(set(ring["qid"])) == queries["qid"].tolist()
    pd.testing.assert_frame_equal(ring, fallback)
    # qid 1: two points on the query, then the two smallest ids of the
    # five duplicates tied at the k-th distance
    dups = pts[(pts["lat"] == -30.2) & (pts["lon"] == -60.1)]["page_id"]
    assert ring[ring["qid"] == 1]["id"].tolist()[2:] == sorted(dups)[:2]
    if metric == "planar":  # the cross: four points tied at 0.5
        assert ring[ring["qid"] == 0]["dist"].tolist() == [0.5] * 4


def _dense_query():
    # a hot city of the synthetic pages: ring 1 answers k=5 at res 8
    return pd.DataFrame({"qid": [0], "lat": [40.7], "lon": [-74.0]})


def test_knn_index_is_built_once(spark, monkeypatch):
    """A second knn_join on the same points frame geocodes nothing: no
    _keyed_points call, and its round plan reads the cached index with
    no ArrowEvalPython outside it."""
    from geo_inference_spark.operators import knn

    pages = pages_df(spark, 3000, partitions=4)
    first = knn_join(spark, pages, _dense_query(), k=5).toPandas()
    built = []
    keyed = knn._keyed_points
    monkeypatch.setattr(
        knn, "_keyed_points", lambda *a: built.append(a) or keyed(*a))
    sink: list = []
    second = knn_join(spark, pages, _dense_query(), k=5, plan_sink=sink)
    pd.testing.assert_frame_equal(second.toPandas(), first)
    assert not built
    assert len(sink) == 1, "a dense query is answered by ring 1"
    outside = sink[0].split("InMemoryRelation")[0]
    assert "InMemoryTableScan" in outside, sink[0]
    assert "ArrowEvalPython" not in outside, sink[0]
    # the planar distance is still this expression, so dist is
    # bit-identical to what every earlier version ranked by
    dist = "SQRT((POWER((lon - qlon), 2.0) + POWER((lat - qlat), 2.0))) AS dist"
    assert dist in re.sub(r"#\d+L?", "", outside), sink[0]


def _compiles(spark) -> int:
    """Whole-stage and expression classes this JVM has compiled."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_new_request_compiles_no_java(spark):
    """A probe holds a request's cells and coordinates by reference,
    never as literals in generated code: once a request kind has run,
    a request with a new ring or centre reuses the compiled classes.
    A ring-1 planar probe's IN list of 7 literals compiled 3 new
    classes on every request. (radius_join's bound is still a literal:
    a new radius_km compiles new classes.)"""
    pages = pages_df(spark, 3000, partitions=4)

    def q(lat, lon):
        return pd.DataFrame({"qid": [0], "lat": [lat], "lon": [lon]})

    kinds = {
        "planar": lambda lat, lon: knn_join(spark, pages, q(lat, lon), k=5),
        "haversine": lambda lat, lon: knn_join(
            spark, pages, q(lat, lon), k=5, metric="haversine"),
        "radius": lambda lat, lon: radius_join(
            spark, pages, q(lat, lon), radius_km=5.0),
    }
    for kind, run in kinds.items():
        run(40.7, -74.0).toPandas()  # the kind's first plan compiles
        before = _compiles(spark)
        got = run(40.72, -74.03).toPandas()
        assert len(got) >= 5, kind
        assert _compiles(spark) == before, kind


def test_dense_knn_runs_at_most_two_jobs(spark):
    """A dense single query, the caller's toPandas included, is one
    probe job and one collect of the local result."""
    sc = spark.sparkContext
    pages = pages_df(spark, 3000, partitions=4)
    knn_join(spark, pages, _dense_query(), k=5).toPandas()  # builds the index
    group = f"dense-knn-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "dense kNN")
    try:
        got = knn_join(spark, pages, _dense_query(), k=5).toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(got) == 5
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2


def test_same_shape_frames_never_share_an_index(spark):
    pts = _twin_points()
    moved = pts.assign(lat=pts["lat"] * 0.5, lon=pts["lon"] * 0.5)
    queries = pd.DataFrame({"qid": [0, 1], "lat": [10.0, -20.0], "lon": [20.0, 100.0]})
    for p in (pts, moved, pts):
        df = spark.createDataFrame(p, schema="page_id long, lat double, lon double")
        got = knn_join(spark, df, queries, k=3, res=6).toPandas()
        exp = brute_force(p, queries, 3)
        for qid, grp in got.groupby("qid"):
            assert list(grp["id"]) == [i for i, _ in exp[int(qid)]], qid


def test_index_survives_clear_cache(spark):
    from pyspark import StorageLevel

    from geo_inference_spark.operators import knn

    pages = pages_df(spark, 2500, partitions=4)
    pts = pages.select("page_id", "lat", "lon").toPandas()
    queries = pd.DataFrame({"qid": [0, 1], "lat": [40.7, -60.0], "lon": [-74.0, 170.0]})
    exp = brute_force(pts, queries, 4)
    knn_join(spark, pages, queries, k=4, res=7).toPandas()
    idx = knn._index(pages, "page_id", "lat", "lon", 7)
    spark.catalog.clearCache()
    assert idx.storageLevel == StorageLevel.NONE
    got = knn_join(spark, pages, queries, k=4, res=7).toPandas()
    for qid, grp in got.groupby("qid"):
        assert list(grp["id"]) == [i for i, _ in exp[int(qid)]], qid
    assert idx.storageLevel != StorageLevel.NONE  # persisted again
    assert knn._index(pages, "page_id", "lat", "lon", 7) is idx


def test_evicted_index_is_unpersisted(spark):
    from pyspark import StorageLevel

    from geo_inference_spark.operators import knn

    frames = [pages_df(spark, 200 + i, partitions=2) for i in range(knn._INDEXES_MAX + 1)]
    first = knn._index(frames[0], "page_id", "lat", "lon", 6)
    assert first.storageLevel != StorageLevel.NONE
    for f in frames[1:]:
        knn._index(f, "page_id", "lat", "lon", 6)
    assert first.storageLevel == StorageLevel.NONE
    assert all(idx is not first for _, idx in knn._INDEXES.values())
