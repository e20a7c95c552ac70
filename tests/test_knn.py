"""kNN and radius joins: one cell cover from the index's per-cell
counts + distance-bounded refinement vs brute-force numpy oracle
(SURVEY.md §2.6 O3)."""

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
    # a query in the middle of the ocean: its cover reaches out to the
    # nearest non-empty cells, and the answer must still be exact
    pages = pages_df(spark, 500, partitions=4)
    pts = pages.select("page_id", "lat", "lon").toPandas()
    queries = pd.DataFrame({"qid": [9], "lat": [-60.0], "lon": [170.0]})
    got = knn_join(spark, pages, queries, k=3, res=8).toPandas()
    exp = brute_force(pts, queries, 3)
    assert [
        (int(i), round(float(d), 9)) for i, d in zip(got["id"], got["dist"])
    ] == [(i, round(d, 9)) for i, d in exp[9]]


def test_knn_sparse_query_is_one_narrow_probe(spark):
    """VERDICT r2 #8: a sparse query is answered by the same one probe
    as a dense one, a narrow scan of the cached index: never a
    crossJoin, a full-scan pass or a shuffle, and still exact."""
    pages = pages_df(spark, 2000, partitions=8)
    pts = pages.select("page_id", "lat", "lon").toPandas()
    queries = pd.DataFrame(
        {"qid": [0, 1], "lat": [-60.0, 40.7], "lon": [170.0, -74.0]}
    )
    sink: list = []
    got = knn_join(
        spark, pages, queries, k=5, res=7, plan_sink=sink
    ).toPandas()
    exp = brute_force(pts, queries, 5)
    for qid, grp in got.groupby("qid"):
        grp = grp.sort_values("rn")
        assert [
            (int(i), round(float(d), 9))
            for i, d in zip(grp["id"], grp["dist"])
        ] == [(i, round(d, 9)) for i, d in exp[int(qid)]], f"qid {qid}"
    assert len(sink) == 1, sink
    plan = sink[0].split("InMemoryRelation")[0]
    assert "InMemoryTableScan" in plan, sink[0]
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin", "MapInPandas",
                 "Exchange"):  # neither a shuffle nor a broadcast
        assert node not in plan, sink[0]


def test_knn_haversine_antimeridian_and_pole_exact(spark):
    """Queries hugging the +-180 line or the polar cap must return
    exact geodesic kNN: the cover's haversine distance to a cell
    center wraps at +-180 and holds for centers past the pole."""
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


def test_knn_haversine_polar_and_sparse_exact(spark):
    """ADVICE r4 (high): a polar and a sparse haversine query, whose
    answers lie many cells away, come back exact from the one probe,
    neither dropped nor sent to a scan of the whole index."""
    pages = pages_df(spark, 1500, partitions=4)
    pts = pages.select("page_id", "lat", "lon").toPandas()
    queries = pd.DataFrame(
        {"qid": [0, 1], "lat": [85.0, -60.0], "lon": [10.0, 170.0]}
    )
    sink: list = []
    got = knn_join(
        spark, pages, queries, k=4, res=8, metric="haversine", plan_sink=sink,
    ).toPandas()
    assert len(sink) == 1 and "MapInPandas" not in sink[0].split("InMemoryRelation")[0]
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
    a query hugging the antimeridian — which rides the SAME cell-cover
    probe as interior queries: no BroadcastNestedLoopJoin anywhere in
    the plan (VERDICT r3 #6)."""
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


def _ranked(pts: pd.DataFrame, q, k: int, metric: str) -> pd.DataFrame:
    """Brute force: the k nearest of ``pts`` to ``q`` by (dist, id),
    off-globe rows excluded."""
    pts = pts[(pts["lat"].abs() <= 90) & (pts["lon"].abs() <= 180)]
    lat, lon = pts["lat"].to_numpy(), pts["lon"].to_numpy()
    if metric == "planar":
        d = np.sqrt((lon - q.lon) ** 2 + (lat - q.lat) ** 2)
    else:
        a = (np.sin(np.radians(lat - q.lat) / 2) ** 2
             + np.cos(np.radians(q.lat)) * np.cos(np.radians(lat))
             * np.sin(np.radians(lon - q.lon) / 2) ** 2)
        d = 2 * 6371.0088 * np.arcsin(np.sqrt(a))
    order = np.lexsort((pts["page_id"].to_numpy(), d))[:k]
    return pd.DataFrame({"id": pts["page_id"].to_numpy()[order], "dist": d[order]})


@pytest.mark.parametrize("metric", ["planar", "haversine"])
def test_one_plan_matches_brute_force(spark, metric):
    """The one cover-and-probe plan returns the brute-force (id, dist)
    ranking: ties at the k-th distance broken by id, off-globe rows
    never ranked, every qid unchanged up to int64 range (2^53 + 3 and
    2^53 + 4 are one float64), and every row when k exceeds them."""
    pts = pd.concat([_twin_points(), pd.DataFrame({
        "page_id": [-1, -2, -3], "lat": [95.0, 0.0, np.nan],
        "lon": [0.0, 200.0, 10.0]})], ignore_index=True)
    queries = pd.DataFrame({
        "qid": [0, 1, 2**53 + 3, 2**53 + 4, 2**63 - 1],
        "lat": [10.0, -30.0, 0.0, 89.99, 35.0],
        "lon": [20.0, -60.0, -179.99, 0.0, 139.0],
    })
    few = pts[pts["page_id"] < 100]  # 15 on-globe rows and the 3 off it
    top = {}
    for sub, k in ((pts, 4), (few, 20)):
        df = spark.createDataFrame(sub, schema="page_id long, lat double, lon double")
        got = top[k] = knn_join(
            spark, df, queries, k=k, res=6, metric=metric).toPandas()
        assert got["qid"].drop_duplicates().tolist() == queries["qid"].tolist()
        for q in queries.itertuples():
            exp = _ranked(sub, q, k, metric)
            mine = got[got["qid"] == q.qid]
            assert mine["rn"].tolist() == list(range(1, len(exp) + 1))
            assert mine["id"].tolist() == exp["id"].tolist(), (metric, q.qid)
            np.testing.assert_allclose(mine["dist"], exp["dist"], rtol=1e-12)
    assert len(top[4]) == 4 * len(queries)
    assert len(top[20]) == 15 * len(queries)
    # qid 1: two points on the query, then the two smallest ids of the
    # five duplicates tied at the k-th distance
    dups = pts[(pts["lat"] == -30.2) & (pts["lon"] == -60.1)]["page_id"]
    assert top[4][top[4]["qid"] == 1]["id"].tolist()[2:] == sorted(dups)[:2]
    if metric == "planar":  # the cross: four points tied at 0.5
        assert top[4][top[4]["qid"] == 0]["dist"].tolist() == [0.5] * 4


def _dense_query():
    # a hot city of the synthetic pages
    return pd.DataFrame({"qid": [0], "lat": [40.7], "lon": [-74.0]})


def test_knn_index_is_built_once(spark, monkeypatch):
    """A second knn_join on the same points frame geocodes nothing: no
    _keyed_points call, and its probe plan reads the cached index with
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
    assert len(sink) == 1, "one probe per call"
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
    a request with new cells or a new centre reuses the compiled classes.
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
    """On a warm index every request kind, the caller's toPandas
    included, is one probe job and at most one collect of the local
    result: dense and sparse planar, dense and high-latitude
    haversine, dense and antimeridian radius requests alike."""
    sc = spark.sparkContext
    pages = pages_df(spark, 3000, partitions=4)
    pts = pages.select("page_id", "lat", "lon").toPandas()

    def q(lat, lon):
        return pd.DataFrame({"qid": [0], "lat": [lat], "lon": [lon]})

    requests = {
        "dense planar": lambda: knn_join(spark, pages, _dense_query(), k=5),
        "sparse planar": lambda: knn_join(spark, pages, q(-60.0, 170.0), k=5),
        "dense haversine": lambda: knn_join(
            spark, pages, _dense_query(), k=5, metric="haversine"),
        "high-latitude haversine": lambda: knn_join(
            spark, pages, q(78.0, 20.0), k=5, metric="haversine"),
        "dense radius": lambda: radius_join(spark, pages, _dense_query(), 5.0),
        "antimeridian radius": lambda: radius_join(
            spark, pages, q(10.0, 179.95), 800.0),
    }
    radius = {"dense radius": (_dense_query(), 5.0),
              "antimeridian radius": (q(10.0, 179.95), 800.0)}
    for run in requests.values():
        run().toPandas()  # builds the res-8 and res-6 indexes
    for kind, run in requests.items():
        group = f"knn-{uuid.uuid4().hex}"
        sc.setJobGroup(group, kind)
        try:
            got = run().toPandas()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        if kind in radius:  # every point within the radius, none beyond
            query, km = radius[kind]
            want = _ranked(pts, next(query.itertuples()), len(pts), "haversine")
            assert len(got) and sorted(got["id"]) == sorted(
                want["id"][want["dist"] <= km]), kind
        else:
            assert len(got) == 5, kind
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2, kind


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
    idx, _ = knn._index(pages, "page_id", "lat", "lon", 7)
    spark.catalog.clearCache()
    assert idx.storageLevel == StorageLevel.NONE
    got = knn_join(spark, pages, queries, k=4, res=7).toPandas()
    for qid, grp in got.groupby("qid"):
        assert list(grp["id"]) == [i for i, _ in exp[int(qid)]], qid
    assert idx.storageLevel != StorageLevel.NONE  # persisted again
    assert knn._index(pages, "page_id", "lat", "lon", 7)[0] is idx


@pytest.mark.parametrize("refresh", ["clear_cache", "in_session_write", "refresh_by_path"])
def test_rewritten_source_is_exact(spark, tmp_path, refresh):
    """The per-cell counts are collected again whenever the index's
    cache is rebuilt: after clearCache, after an in-session overwrite
    of the source (Spark recaches by path) and after refreshByPath of
    a source rewritten outside the session. Counts kept from the old
    file would steer each query to the old points' cells and silently
    drop the new points."""
    import shutil

    path = str(tmp_path / "points")
    queries = pd.DataFrame({"qid": [0, 1], "lat": [10.0, -20.0], "lon": [20.0, 100.0]})
    rng = np.random.default_rng(7)
    for version in (1, 2):  # new points in every version of the file
        pts = pd.DataFrame({
            "page_id": np.arange(3000, dtype=np.int64),
            "lat": rng.uniform(-60, 60, 3000),
            "lon": rng.uniform(-180, 180, 3000),
        })
        new = spark.createDataFrame(pts).write.mode("overwrite")
        if refresh == "refresh_by_path" and version == 2:
            new.parquet(path + "-next")
            shutil.rmtree(path)
            shutil.move(path + "-next", path)
            spark.catalog.refreshByPath(path)
        else:
            new.parquet(path)
        if refresh == "clear_cache":
            spark.catalog.clearCache()
        df = spark.read.parquet(path)
        got = knn_join(spark, df, queries, k=4, res=7).toPandas()
        exp = brute_force(pts, queries, 4)
        assert len(got) == 4 * len(queries)
        for qid, grp in got.groupby("qid"):
            assert list(grp["id"]) == [i for i, _ in exp[int(qid)]], (version, qid)
        near = radius_join(spark, df, queries, radius_km=400.0).toPandas()
        for q in queries.itertuples():
            want = _ranked(pts, q, len(pts), "haversine")
            assert sorted(near[near["qid"] == q.qid]["id"]) == sorted(
                want["id"][want["dist"] <= 400.0]), (version, q.qid)


def test_evicted_index_is_unpersisted(spark):
    from pyspark import StorageLevel

    from geo_inference_spark.operators import knn

    frames = [pages_df(spark, 200 + i, partitions=2) for i in range(knn._INDEXES_MAX + 1)]
    first, _ = knn._index(frames[0], "page_id", "lat", "lon", 6)
    assert first.storageLevel != StorageLevel.NONE
    for f in frames[1:]:
        knn._index(f, "page_id", "lat", "lon", 6)
    assert first.storageLevel == StorageLevel.NONE
    assert all(entry[1] is not first for entry in knn._INDEXES.values())
