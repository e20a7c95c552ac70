"""kNN and radius joins over a prepared point index: H3-style k-ring
expansion with distance-bounded refinement (north-star stage c;
SURVEY.md §2.3 J2 / §2.6 O3).

The index, the (id, lat, lon, cell) projection of a points table, is
geocoded and persisted once and probed by every later call on that
table (a pre-built cell index, as in DGFIndex). ``_index`` memoizes it
oldest-out per SparkContext, points plan (semanticHash, confirmed by
sameResult), column names and res, unpersists what it evicts and
re-persists an index whose cache was dropped. Like Spark's own cache
it is keyed on the plan, not the data: after the source changes, call
``spark.catalog.refreshByPath`` or ``spark.catalog.clearCache``.

A kNN round is one Spark job (two if its candidates are broadcast)
that never shuffles the index: the (qid, cell) pairs of each
unsatisfied query's k_ring(kr), inlined into the plan as literals that
generated code holds by reference (no cell or query coordinate is
compiled into Java; see ``_probe``), pick the index points, whose dist
(the SQL expression the oracle runs) is collected and ranked by
(dist, id) on the driver. A query is EXACT when it has k hits within
the guarantee radius g(kr) = 1.5*s*(kr+1) - 2*s — any point outside
the ring is provably farther (hex centers at hex-distance h are
>= 1.5*s*h apart, points at most one circumradius s from their
center); otherwise kr doubles. Distances are planar lon/lat degrees
(the hexgrid's own plane) or haversine km.
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


def radius_lon_halfwidth(radius_km: float, lat_far_deg: float) -> float:
    """Max geodesic longitude offset (degrees) of any point within
    ``radius_km`` of a query, both within ``lat_far_deg`` of the
    equator: from the haversine identity sin^2(theta/2) >=
    cos(lat_q) cos(lat_p) sin^2(dlam/2), so sin(dlam/2) <=
    sin(r/2R)/cos(lat_far). Returns 360 when the bound degenerates
    (polar cap / globe-spanning radius)."""
    x = np.sin(radius_km / (2.0 * R_KM)) / np.cos(np.radians(lat_far_deg))
    if x >= 1.0:
        return 360.0
    return float(np.degrees(2.0 * np.arcsin(x)))


def _ring_cover(queries: pd.DataFrame, res: int, kr: int) -> pd.DataFrame:
    """(qid, cell) cover of each query's k-ring."""
    cells = hexgrid.latlng_to_cell(
        queries["lat"].to_numpy(), queries["lon"].to_numpy(), res
    )
    ring = hexgrid.k_ring(cells, kr)  # (nq, m)
    return pd.DataFrame({
        "qid": np.repeat(queries["qid"].to_numpy(), ring.shape[1]),
        "cell": ring.ravel(),
    })


def _box_cover_cells(
    qlat: float, qlon: float, radius_km: float, res: int
) -> np.ndarray:
    """Cell cover of the exact spherical bounding box of a
    radius_km disc around (qlat, qlon): |dlat| <= r/KM_PER_DEG and
    geodesic |dlam| <= radius_lon_halfwidth (tight at high latitude),
    SPLIT AT +-180 into two lon ranges when the box wraps — so every
    point within radius_km lies in a returned cell, for any query
    including antimeridian and polar ones (polar caps degrade to the
    whole latitude band, still a valid cover)."""
    dlat = radius_km / KM_PER_DEG
    lat0 = max(-90.0, qlat - dlat)
    lat1 = min(90.0, qlat + dlat)
    lat_far = min(89.99, max(abs(lat0), abs(lat1)))
    dlam = radius_lon_halfwidth(radius_km, lat_far)
    if dlam >= 180.0 or lat1 >= 89.99 or lat0 <= -89.99:
        lon_ranges = [(-180.0, 180.0)]  # cap: the whole lat band
    else:
        lo, hi = qlon - dlam, qlon + dlam
        lon_ranges = []
        if lo < -180.0:  # wrap west: add the eastern remnant
            lon_ranges.append((lo + 360.0, 180.0))
            lo = -180.0
        if hi > 180.0:  # wrap east: add the western remnant
            lon_ranges.append((-180.0, hi - 360.0))
            hi = 180.0
        lon_ranges.append((lo, hi))
    return np.unique(np.concatenate([
        hexgrid.cells_in_bbox(l0, lat0, l1, lat1, res)
        for l0, l1 in lon_ranges
    ]))


def _box_cover(
    queries: pd.DataFrame, radius_km: float, res: int, max_cover_cells: int
):
    """(qid, cell) spherical-box cover of every query whose cover has
    at most ``max_cover_cells`` cells (None if no query's does), and
    the qids of the queries over that cap."""
    frames, over = [], []
    for qid, qlat, qlon in queries[["qid", "lat", "lon"]].itertuples(
        index=False
    ):
        cells = _box_cover_cells(float(qlat), float(qlon), radius_km, res)
        if cells.size > max_cover_cells:
            over.append(int(qid))
        else:
            frames.append(pd.DataFrame({
                "qid": np.full(cells.size, int(qid), np.int64),
                "cell": cells,
            }))
    return (pd.concat(frames, ignore_index=True) if frames else None), over


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


# The indexes of the last few (points plan, columns, res), oldest out.
_INDEXES: dict[tuple, tuple] = {}
_INDEXES_MAX = 4
_INDEXES_LOCK = threading.Lock()


def _index(
    points: DataFrame, id_col: str, lat_col: str, lon_col: str, res: int
) -> DataFrame:
    """The persisted ``_keyed_points`` of ``points`` (module docstring)."""
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
            hit = _INDEXES[key] = (
                plan, _keyed_points(points, id_col, lat_col, lon_col, res))
        if hit[1].storageLevel == StorageLevel.NONE:
            hit[1].persist()
        return hit[1]


def _check_queries(queries: pd.DataFrame) -> None:
    """A query needs its own qid and a finite, in-range lat and lon: a
    NaN or off-globe one has no cell to ring and no distance to rank by."""
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
    kr0: int = 1,
    max_rounds: int = 8,
    metric: str = "planar",
    plan_sink: list | None = None,
    max_cover_cells: int = 200_000,
) -> DataFrame:
    """Exact k nearest points per query -> (qid, id, dist, rn), in
    (qid, rn) order.

    queries: pandas (qid, lat, lon). Ties broken by id for full
    determinism (matches the oracle's ORDER BY dist, id).

    metric: 'planar' (lon/lat degrees; k-ring escalation with the
    planar guarantee radius) or 'haversine' (great-circle km, the
    geodesic answer at high latitude; escalation = radius-doubling
    spherical-box covers, whose guarantee is the radius ITSELF: every
    point within r km is in the cover, so >= k hits within r are
    exact. The box splits at +-180 and widens to the full latitude
    band at the poles, so such queries stay off the fallback).

    Rounds and fallback probe the memoized index (module docstring)
    with no Window and no shuffle and rank on the driver; a call
    persists nothing and returns a local DataFrame of the ranked rows.
    plan_sink, if given, gets each probe's executed plan.
    """
    _check_queries(queries)
    s = hexgrid.cell_size(res)
    idx = _index(points, id_col, lat_col, lon_col, res)

    def ranked(hits: DataFrame) -> pd.DataFrame:
        hits = hits.select("qid", "id", _dist_col(metric).alias("dist"))
        if plan_sink is not None:  # tests pin the plan shapes
            plan_sink.append(hits._jdf.queryExecution().executedPlan().toString())
        return _topk(hits.toPandas(), k)

    remaining = queries[["qid", "lat", "lon"]].copy()
    results: list = []
    kr = kr0
    r_km = 2.0 * s * KM_PER_DEG * kr0  # ~2 cells of geodesic radius
    for _ in range(max_rounds):
        if remaining.empty:
            break
        if metric == "planar":
            cand = _ring_cover(remaining, res, kr)
        else:
            # a query over the cap gets no cover this round and
            # survives to the fallback
            cand, _ = _box_cover(remaining, r_km, res, max_cover_cells)
            if cand is None:
                break  # every remaining cover explodes: fallback
        got = ranked(_probe(spark, idx, cand, remaining))
        guarantee = (
            1.5 * s * (kr + 1) - 2.0 * s if metric == "planar" else r_km
        )
        g = got.groupby("qid")["dist"].agg(["size", "max"])
        done = g.index[(g["size"] >= k) & (g["max"] <= guarantee)]
        results.append(got[got["qid"].isin(done)])
        remaining = remaining[~remaining["qid"].isin(done)]
        kr *= 2
        r_km *= 2.0
    # NOT a for/else: the fallback must also run when the loop BREAKS
    # (every remaining cover past max_cover_cells), not only when it
    # exhausts max_rounds — a for/else here silently dropped those
    # queries (ADVICE r4 high).
    if not remaining.empty:
        # final fallback for stragglers (rare: queries in
        # near-empty regions / antimeridian / polar cap). Bounded,
        # not a crossJoin (VERDICT r2 #8): ONE mapInPandas pass
        # over the index emits, per query, the partition's local
        # top-k PLUS every row within an epsilon of the k-th
        # distance (ADVICE r3: a fixed +8 margin breaks if >8
        # candidates tie at the cut with ulp-level numpy/SQL
        # divergence; the epsilon band is exact for ANY tie width
        # since numpy-vs-SQL divergence is ulps, below 1e-6 rel).
        # dist and the ranking are the rounds' (oracle-identical).
        # qids stay int64: through float64 a qid above 2^53 changes,
        # and two such qids can merge into one
        qids = remaining["qid"].to_numpy(np.int64)
        qll = remaining[["lat", "lon"]].to_numpy(np.float64)
        metric_ = metric
        k_ = k

        def local_topk(batches):
            for pdf in batches:
                # a point off the globe (or NaN) has no cell, so no
                # distance either: the same rule as latlng_to_cell
                pdf = pdf[(pdf["lat"].abs() <= 90) & (pdf["lon"].abs() <= 180)]
                if not len(pdf):
                    continue
                ids = pdf["id"].to_numpy(np.int64)
                plat = pdf["lat"].to_numpy(np.float64)
                plon = pdf["lon"].to_numpy(np.float64)
                frames = []
                for qid, (qlat, qlon) in zip(qids, qll):
                    if metric_ == "planar":
                        d = np.sqrt(
                            (plon - qlon) ** 2 + (plat - qlat) ** 2
                        )
                    else:
                        d = 2.0 * R_KM * np.arcsin(np.sqrt(
                            np.sin(np.radians(plat - qlat) / 2) ** 2
                            + np.cos(np.radians(qlat))
                            * np.cos(np.radians(plat))
                            * np.sin(np.radians(plon - qlon) / 2) ** 2
                        ))
                    order = np.lexsort((ids, d))
                    if len(order) > k_:
                        kth = d[order[k_ - 1]]
                        eps = 1e-6 * (1.0 + abs(kth))
                        sel = order[d[order] <= kth + eps]
                    else:
                        sel = order
                    frames.append(pd.DataFrame({
                        "qid": np.full(len(sel), qid, np.int64),
                        "id": ids[sel],
                        "lat": plat[sel],
                        "lon": plon[sel],
                        "qlat": np.full(len(sel), qlat),
                        "qlon": np.full(len(sel), qlon),
                    }))
                if frames:
                    yield pd.concat(frames, ignore_index=True)

        results.append(ranked(idx.mapInPandas(
            local_topk,
            "qid long, id long, lat double, lon double, qlat double, qlon double",
        )))

    out = (
        pd.concat(results, ignore_index=True).sort_values(["qid", "rn"])
        if results else pd.DataFrame(columns=["qid", "id", "dist", "rn"])
    )
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
    max_cover_cells: int = 200_000,
) -> DataFrame:
    """All points within ``radius_km`` (haversine) of each query —
    the geofencing shape: (qid, id, dist_km), a lazy DataFrame.

    Each query's cell cover probes the memoized index (module
    docstring), which never shuffles; the exact haversine filter runs
    on the candidates only. The cover is the cell set of the query's
    exact spherical bounding box (_box_cover_cells), split at +-180,
    so antimeridian geofences ride the same probe as interior ones and
    never a nested-loop join (VERDICT r3 #6). Only queries whose cover
    explodes past ``max_cover_cells`` (polar caps, globe-spanning
    radii) fall back to an exact filter over one scan of the index.
    """
    _check_queries(queries)
    idx = _index(points, id_col, lat_col, lon_col, res)
    cover, fallback = _box_cover(queries, radius_km, res, max_cover_cells)
    parts = [] if cover is None else [_probe(spark, idx, cover, queries)]
    if fallback:
        fb = spark.createDataFrame(  # columns are named by position
            queries.loc[queries["qid"].isin(fallback), ["qid", "lat", "lon"]],
            schema="qid long, qlat double, qlon double",
        )
        # a point off the globe has no distance: latlng_to_cell's rule
        on_globe = (F.abs("lat") <= 90) & (F.abs("lon") <= 180)
        parts.append(idx.where(on_globe).crossJoin(F.broadcast(fb)))
    if not parts:  # empty query frame -> empty result (ADVICE r4)
        return spark.createDataFrame([], schema="qid long, id long, dist_km double")
    hits = [p.select("qid", "id", _dist_col("haversine").alias("dist_km"))
            for p in parts]
    out = hits[0] if len(hits) == 1 else hits[0].unionByName(hits[1])
    return out.filter(F.col("dist_km") <= float(radius_km))
