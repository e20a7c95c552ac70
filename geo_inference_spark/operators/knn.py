"""kNN and radius joins over a prepared point index: H3-style cell
covers with distance-bounded refinement (north-star stage c;
SURVEY.md §2.3 J2 / §2.6 O3).

The index, the (id, lat, lon, cell) projection of a points table, is
geocoded and persisted once and probed by every later call on that
table (a pre-built cell index, as in DGFIndex). ``_index`` memoizes it
oldest-out per SparkContext, points plan (semanticHash, confirmed by
sameResult), column names and res, unpersists what it evicts and
re-persists an index whose cache was dropped. Like Spark's own cache
it is keyed on the plan, not the data: after the source changes, call
``spark.catalog.refreshByPath`` or ``spark.catalog.clearCache`` (an
in-session write to the source refreshes it by path itself).

With each materialisation of an index's cache, ``_index`` also
collects the index's non-empty cells once: each one's point count and
center (DGFIndex's pre-aggregated per-cell summary), so a query plans
without touching data. The counts are tied to the cache's column-buffer
RDD, which a re-persist and a refresh by path both replace, so they
never outlive the data they count. Every point lies within b of its cell's center: b = s, the
circumradius, in the grid's lon/lat plane. On the sphere, move along
the meridian by |dlat|, then along the point's parallel by at most
|dlon|: KM_PER_DEG * (|dlat| + cos(lat_p) * |dlon|) km. With
dlat^2 + dlon^2 <= s^2 and |lat_p| >= |lat_c| - s, that is at most
b = s * KM_PER_DEG * sqrt(1 + c^2), c = cos(min(90, max(0, |lat_c| - s)))
degrees: sqrt(2) * s * KM_PER_DEG at the equator, less toward the
poles. The haversine formula is the great-circle distance between the
points its coordinates name, so this holds for centers past +-180 or
the poles too. A cell c thus holds only points within d(q,c) +- b_c
of a query q.

A query's bound D is ``radius_km`` for radius_join. For knn_join it
is the least d(q,c) + b_c over which the cells' counts, taken in that
order, reach k, so at least k points lie within D. The cells with
d(q,c) - b_c <= D (widened by float slack) hold every point within D,
so they hold the k nearest and every tie at the k-th distance: one
probe answers each query exactly, for both metrics, at the
antimeridian and the poles too.

A probe is one Spark job (two if its pairs are broadcast) that never
shuffles the index: the (qid, cell) pairs, inlined into the plan as
literals that generated code holds by reference (no cell or query
coordinate is compiled into Java; see ``_probe``), pick the index
points, whose dist (the SQL expression the oracle runs) is collected
and ranked by (dist, id) on the driver. Distances are planar lon/lat
degrees (the hexgrid's own plane) or haversine km.
"""

from __future__ import annotations

import threading

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..grid import hexgrid
from .geocode import cell_keyed

R_KM = 6371.0088  # IUGG mean earth radius
KM_PER_DEG = np.pi * R_KM / 180.0


def haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Great-circle km — the SAME expression string runs in Spark SQL
    and DuckDB (radians/sin/cos/asin/sqrt/pow exist in both)."""
    r = f"cast('{R_KM!r}' as double)"
    return (
        f"(2 * {r} * asin(sqrt("
        f"pow(sin(radians({lat2} - {lat1}) / 2), 2)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * pow(sin(radians({lon2} - {lon1}) / 2), 2))))"
    )


def _dist_col(metric: str) -> F.Column:
    if metric == "planar":
        return F.expr("sqrt(power(lon - qlon, 2) + power(lat - qlat, 2))")
    if metric == "haversine":
        return F.expr(haversine_sql("qlat", "qlon", "lat", "lon"))
    raise ValueError(f"unknown metric {metric!r}")


def _center_dist(metric: str, qlat: float, qlon: float, lat, lon) -> np.ndarray:
    """Distance from a query to each cell center (module docstring)."""
    if metric == "planar":
        return np.hypot(lon - qlon, lat - qlat)
    h = (np.sin(np.radians(lat - qlat) / 2) ** 2
         + np.cos(np.radians(qlat)) * np.cos(np.radians(lat))
         * np.sin(np.radians(lon - qlon) / 2) ** 2)
    return 2.0 * R_KM * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


def _cover(
    cells: tuple, queries: pd.DataFrame, metric: str, res: int,
    k: int = 0, radius: float | None = None,
) -> pd.DataFrame:
    """(qid, cell) pairs: for each query, the non-empty cells that can
    hold a point within its bound, ``radius`` or else the k-th
    nearest's upper bound (module docstring)."""
    cell, n, clat, clon = cells
    s = hexgrid.cell_size(res)
    if metric == "planar":
        b = s
    else:
        c = np.cos(np.radians(np.clip(np.abs(clat) - s, 0.0, 90.0)))
        b = s * KM_PER_DEG * np.sqrt(1.0 + c * c)
    qids, chosen = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    for qid, qlat, qlon in queries[["qid", "lat", "lon"]].itertuples(index=False):
        d = _center_dist(metric, qlat, qlon, clat, clon)
        bound = radius
        if bound is None:
            # the k cells with the least upper bounds hold >= k points:
            # the bound is the upper one of the cell where, least
            # first, the counts reach k
            up = d + b
            near = np.argpartition(up, k - 1)[:k] if k < len(up) else np.arange(len(up))
            near = near[np.argsort(up[near])]
            reach = np.searchsorted(np.cumsum(n[near]), k)
            bound = up[near[reach]] if reach < len(near) else np.inf
        # the slack covers float error in d, in the SQL dist and near
        # the antipode, where asin amplifies it
        keep = cell[d - b <= bound + 1e-6 * (bound + b)]
        qids.append(np.full(keep.size, qid, np.int64))
        chosen.append(keep)
    return pd.DataFrame({"qid": np.concatenate(qids), "cell": np.concatenate(chosen)})


# A probe inlines up to this many (qid, cell) pairs into its plan as SQL
# literals (a cell array filter and a cell -> queries map with linear
# lookup);
# more go in a broadcast frame, which costs a Spark job of its own.
_INLINE_PAIRS = 256


def _probe(
    spark: SparkSession, idx: DataFrame, cand: pd.DataFrame, queries: pd.DataFrame
) -> DataFrame:
    """(id, lat, lon, qid, qlat, qlon) of each index point in a (qid,
    cell) pair of ``cand``: a narrow scan of the index.

    No cell or query coordinate is written into generated code: Spark
    compiles an IN list of at most 10 literals and any primitive
    literal into the Java source, so each new request compiled new
    classes (3 for a ring-1 probe). The cells and the query values go
    in constant-folded array and map literals, held by reference."""
    cand = cand.merge(queries[["qid", "lat", "lon"]], on="qid")
    if len(cand) > _INLINE_PAIRS:  # columns are named by position
        cand = spark.createDataFrame(
            cand, schema="qid long, cell long, qlat double, qlon double")
        return idx.join(F.broadcast(cand), on="cell")
    q = "named_struct('qid', %dL, 'qlat', %rD, 'qlon', %rD)"
    by = cand.groupby("cell")
    m = ", ".join("%dL, array(%s)" % (c, ", ".join(
        q % (int(i), float(a), float(o))
        for i, a, o in zip(g["qid"], g["lat"], g["lon"]))) for c, g in by)
    cells = ", ".join(f"{c}L" for c in by.groups)
    return idx.where(F.expr(f"array_contains(array({cells}), cell)")).select(
        "id", "lat", "lon", F.expr(f"inline(map({m})[cell])"))


def _topk(hits: pd.DataFrame, k: int) -> pd.DataFrame:
    """The k nearest hits per query, ties broken by id: (qid, id,
    dist, rn), sorted by (qid, rn)."""
    top = hits.sort_values(["qid", "dist", "id"]).groupby("qid").head(k)
    return top.assign(rn=top.groupby("qid").cumcount() + 1)


def _keyed_points(
    points: DataFrame, id_col: str, lat_col: str, lon_col: str, res: int
) -> DataFrame:
    """The slim (id, lat, lon, cell) projection both operators probe."""
    return cell_keyed(
        points.select(
            F.col(id_col).alias("id"), F.col(lat_col).alias("lat"),
            F.col(lon_col).alias("lon"),
        ),
        res,
    )


def _count_cells(batches):
    cells = [pdf["cell"].to_numpy() for pdf in batches]
    if cells:  # one row per distinct cell of the partition
        cell, n = np.unique(np.concatenate(cells), return_counts=True)
        yield pd.DataFrame({"cell": cell, "n": n})


def _cells(idx: DataFrame) -> tuple:
    """(cell, count, center lat, center lon) arrays of the non-empty
    cells of ``idx``; an off-globe point (cell 0) has no cell. One
    Spark job that also fills the index's cache: counted per partition,
    summed on the driver (an aggregate shuffles, and with adaptive
    execution it ran three jobs on a cold index)."""
    pdf = idx.select("cell").where("cell != 0").mapInPandas(
        _count_cells, "cell long, n long").toPandas()
    n = pdf.groupby("cell")["n"].sum()
    cell = n.index.to_numpy(np.int64)
    lat, lon = hexgrid.cell_to_latlng(cell)
    return cell, n.to_numpy(np.int64), lat, lon


def _buffers_id(idx: DataFrame) -> int:
    """The id of the RDD that holds the persisted ``idx``'s cache: a
    new one whenever the cache is dropped and re-persisted or refreshed
    by path (both rebuild the cache from the source's current files)."""
    cached = idx.sparkSession._jsparkSession.sharedState().cacheManager(
        ).lookupCachedData(idx._jdf).get()
    return cached.cachedRepresentation().cacheBuilder().cachedColumnBuffers().id()


# The indexes of the last few (points plan, columns, res), oldest out:
# [plan, index, its _cells, the _buffers_id they were counted from].
_INDEXES: dict[tuple, list] = {}
_INDEXES_MAX = 4
_INDEXES_LOCK = threading.Lock()


def _index(
    points: DataFrame, id_col: str, lat_col: str, lon_col: str, res: int
) -> tuple[DataFrame, tuple]:
    """The persisted ``_keyed_points`` of ``points`` and its ``_cells``
    (module docstring)."""
    plan = points._jdf.queryExecution().analyzed()
    key = (points.sparkSession.sparkContext, plan.semanticHash(),
           id_col, lat_col, lon_col, res)
    with _INDEXES_LOCK:
        hit = _INDEXES.get(key)
        if hit is None or not hit[0].sameResult(plan):
            # a hash collision replaces its entry, else the oldest goes
            n_old = max(0, len(_INDEXES) + 1 - _INDEXES_MAX)
            for old in [key] if hit else list(_INDEXES)[:n_old]:
                if old[0]._jsc is not None:  # its context still runs
                    _INDEXES[old][1].unpersist()
                del _INDEXES[old]
            hit = _INDEXES[key] = [
                plan, _keyed_points(points, id_col, lat_col, lon_col, res),
                None, None]
        if hit[1].storageLevel == StorageLevel.NONE:
            hit[1].persist()
        buffers = _buffers_id(hit[1])
        if hit[3] != buffers:  # counts of another materialisation: stale
            hit[2], hit[3] = _cells(hit[1]), buffers
        return hit[1], hit[2]


def _check_queries(queries: pd.DataFrame) -> None:
    """A query needs its own qid and a finite, in-range lat and lon: a
    NaN or off-globe one has no distance to rank by."""
    ll = np.abs(queries[["lat", "lon"]].to_numpy(dtype=np.float64))
    if not (ll <= [90, 180]).all():
        raise ValueError(
            "queries need finite lat in [-90, 90] and lon in [-180, 180]")
    dup = queries["qid"][queries["qid"].duplicated()]
    if len(dup):  # a probe pairs each qid's cells with its one position
        raise ValueError(f"queries repeat qid {dup.iloc[0]}")


def knn_join(
    spark: SparkSession,
    points: DataFrame,
    queries: pd.DataFrame,
    k: int,
    res: int = 8,
    lat_col: str = "lat",
    lon_col: str = "lon",
    id_col: str = "page_id",
    metric: str = "planar",
    plan_sink: list | None = None,
) -> DataFrame:
    """Exact k nearest points per query -> (qid, id, dist, rn), in
    (qid, rn) order.

    queries: pandas (qid, lat, lon). Ties broken by id for full
    determinism (matches the oracle's ORDER BY dist, id).

    metric: 'planar' (lon/lat degrees) or 'haversine' (great-circle
    km, the geodesic answer at high latitude and across +-180).

    One probe of the memoized index's cells that can hold a point
    within each query's k-th nearest bound (module docstring), with no
    Window and no shuffle, ranked on the driver; a call persists
    nothing beyond the index and returns a local DataFrame of the
    ranked rows. plan_sink, if given, gets the probe's executed plan.
    """
    dist = _dist_col(metric)
    _check_queries(queries)
    idx, cells = _index(points, id_col, lat_col, lon_col, res)
    cand = _cover(cells, queries, metric, res, k=k)
    out = pd.DataFrame(columns=["qid", "id", "dist", "rn"])
    if len(cand):
        hits = _probe(spark, idx, cand, queries).select(
            "qid", "id", dist.alias("dist"))
        if plan_sink is not None:  # tests pin the plan shape
            plan_sink.append(hits._jdf.queryExecution().executedPlan().toString())
        out = _topk(hits.toPandas(), k)
    return spark.createDataFrame(out, schema="qid long, id long, dist double, rn int")


def radius_join(
    spark: SparkSession,
    points: DataFrame,
    queries: pd.DataFrame,
    radius_km: float,
    res: int = 6,
    lat_col: str = "lat",
    lon_col: str = "lon",
    id_col: str = "page_id",
) -> DataFrame:
    """All points within ``radius_km`` (haversine) of each query —
    the geofencing shape: (qid, id, dist_km), a lazy DataFrame.

    One probe of the memoized index's cells that can hold a point
    within ``radius_km`` (module docstring), which never shuffles the
    index; the exact haversine filter runs on the candidates only.
    Antimeridian and polar geofences ride the same probe as interior
    ones, never a nested-loop join (VERDICT r3 #6).
    """
    _check_queries(queries)
    idx, cells = _index(points, id_col, lat_col, lon_col, res)
    cand = _cover(cells, queries, "haversine", res, radius=float(radius_km))
    if not len(cand):  # no query, or no point near one
        return spark.createDataFrame([], schema="qid long, id long, dist_km double")
    hits = _probe(spark, idx, cand, queries).select(
        "qid", "id", _dist_col("haversine").alias("dist_km"))
    return hits.filter(F.col("dist_km") <= float(radius_km))
