"""Broadcast point-in-polygon join (north-star stage b).

Replaces the reference's R-tree spatial semi-join
(get_overlapping_subset, /root/reference/geo_inference/utils/
geo_transforms.py:197-258) with the scalable Spark shape:

1. polygon layer (small) -> per-polygon cell cover at res R
   (polyfill), each cell labeled interior vs boundary;
2. pages geocoded to the same res -> **broadcast hash equi-join** on
   cell id (zero shuffle of the big side; Catalyst picks
   BroadcastHashJoin);
3. rows landing in interior cells are accepted outright; rows in
   boundary cells get exact PIP refinement in one Arrow-batched
   pandas UDF (vectorized ray casting, grouped by area within the
   batch).

At 100TB the only data movement is the broadcast of the cover table
(O(polygons x cells/polygon)) — pages never shuffle. Skewed hot
cells cost nothing here because there is no shuffle; skew matters in
the downstream groupBy, where AQE + optional salting handle it
(operators/salting.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..geom.wkb import iter_polygons
from ..grid import hexgrid
from .geocode import cell_keyed


def build_cover(
    polygons_pdf: pd.DataFrame, res: int, max_cells_per_polygon: int = 4096
) -> pd.DataFrame:
    """Cell cover of a polygon layer: (res, cell, area_id, boundary).

    boundary=False cells are provably fully inside their polygon
    (hexgrid.polyfill is conservative), so the join can skip exact
    refinement for them.

    Resolution is ADAPTIVE per AREA (capped at ``res``): the area is
    covered at the min over its parts of the coarsest resolution whose
    per-part cover fits max_cells_per_polygon. One resolution per
    area_id (not per part) keeps the per-res joins disjoint in
    area_id — otherwise a point could match the same multipolygon
    area at two resolutions (inside one part's cover at res a, in a
    boundary cell of another part's cover at res b) and the unioned
    join would double-count it. This bounds the broadcast at
    O(polygons x parts x max_cells) regardless of polygon size — the
    continental-admin-area case at 10^12 pages — while points only
    pay one extra geocode per distinct res.
    """
    res_by_area: dict[int, int] = {}
    for _, row in polygons_pdf.iterrows():
        aid = int(row["area_id"])
        for rings in iter_polygons(row["geom_wkb"]):
            r = min(res, hexgrid.fit_cover_res(rings, res, max_cells_per_polygon))
            res_by_area[aid] = min(res_by_area.get(aid, res), r)
    cells, areas, bnds, ress = [], [], [], []
    for _, row in polygons_pdf.iterrows():
        aid = int(row["area_id"])
        r = res_by_area[aid]
        for rings in iter_polygons(row["geom_wkb"]):
            cs, bs = hexgrid.polyfill(rings, r)
            cells.append(cs)
            areas.append(np.full(len(cs), aid, dtype=np.int64))
            bnds.append(bs)
            ress.append(np.full(len(cs), r, dtype=np.int32))
    if not cells:
        return pd.DataFrame({"res": [], "cell": [], "area_id": [], "boundary": []})
    out = pd.DataFrame(
        {
            "res": np.concatenate(ress),
            "cell": np.concatenate(cells),
            "area_id": np.concatenate(areas),
            "boundary": np.concatenate(bnds),
        }
    )
    # a multipolygon part may repeat cells; a cell is interior if ANY
    # part fully contains it (then no refine needed)
    out = (
        out.groupby(["res", "cell", "area_id"], as_index=False)
        .agg(boundary=("boundary", "min"))
        .astype({"boundary": bool})
    )
    return out


# above this many polygon parts the refine switches from the
# per-area loop to STRtree bbox candidate lookup (north-star:
# "broadcast prepared-geometry R-tree per partition")
_STRTREE_MIN_PARTS = 64


def _refine_udf(polygons_pdf: pd.DataFrame):
    """Exact PIP for boundary-cell candidates.

    Small layers (admin areas): one vectorized ray-cast per area
    present in the batch. Large layers (10^5-polygon AOI sets): a
    packed STRtree over ALL part bboxes (geom/strtree.py — the Spark
    form of the reference's gdf.sindex in get_overlapping_subset,
    /root/reference/geo_inference/utils/geo_transforms.py:230-256)
    turns the per-area scan into O(log #parts) candidate lookups,
    then one vectorized ray-cast per candidate part.
    """
    from ..geom.core import bounds_of_rings
    from ..geom.strtree import STRtree

    part_rings: list = []
    part_area: list[int] = []
    for _, r in polygons_pdf.iterrows():
        for rings in iter_polygons(r["geom_wkb"]):
            part_rings.append(rings)
            part_area.append(int(r["area_id"]))
    part_area_arr = np.asarray(part_area, dtype=np.int64)
    use_tree = len(part_rings) > _STRTREE_MIN_PARTS
    if use_tree:
        tree = STRtree(np.array([bounds_of_rings(p) for p in part_rings]))
        parts_by_area = None
    else:
        tree = None
        parts_by_area: dict[int, list] = {}
        for rings, aid in zip(part_rings, part_area):
            parts_by_area.setdefault(aid, []).append(rings)

    @F.pandas_udf(BooleanType())
    def pip_exact(lon: pd.Series, lat: pd.Series, area: pd.Series) -> pd.Series:
        from ..geom.core import points_in_polygon

        x = lon.to_numpy()
        y = lat.to_numpy()
        a = area.to_numpy()
        res = np.zeros(len(x), dtype=bool)
        if use_tree:
            # degenerate point boxes -> (point_idx, part_idx) pairs
            qboxes = np.stack([x, y, x, y], axis=1)
            qi, pi = tree.query_many(qboxes)
            keep = part_area_arr[pi] == a[qi]
            qi, pi = qi[keep], pi[keep]
            # one vectorized ray-cast per candidate part
            order = np.argsort(pi, kind="stable")
            qi, pi = qi[order], pi[order]
            starts = np.flatnonzero(np.r_[True, pi[1:] != pi[:-1]])
            ends = np.r_[starts[1:], len(pi)]
            for s, e in zip(starts, ends):
                idx = qi[s:e]
                res[idx] |= points_in_polygon(x[idx], y[idx], part_rings[pi[s]])
        else:
            for aid in np.unique(a):
                m = a == aid
                hit = np.zeros(int(m.sum()), dtype=bool)
                for rings in parts_by_area.get(int(aid), ()):
                    hit |= points_in_polygon(x[m], y[m], rings)
                res[m] = hit
        return pd.Series(res)

    return pip_exact


def pip_join(
    spark: SparkSession,
    points: DataFrame,
    polygons_pdf: pd.DataFrame,
    res: int = 9,
    lat_col: str = "lat",
    lon_col: str = "lon",
    keep_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """points ⋈ polygons via cell-cover broadcast join + PIP refine.

    Returns points rows (optionally projected to keep_cols) with
    area_id/name/value attached; a point inside k overlapping areas
    yields k rows — same semantics as a spatial inner join.
    """
    cover_pdf = build_cover(polygons_pdf, res)
    pts = points
    if keep_cols is not None:
        pts = pts.select(*keep_cols, lat_col, lon_col)
    refine = _refine_udf(polygons_pdf)
    res_list = sorted(int(r) for r in cover_pdf["res"].unique())
    if not res_list:
        return pts.limit(0).withColumn("area_id", F.lit(None).cast("long"))
    # ONE scan, ONE geocode eval, ONE broadcast join for ALL cover
    # resolutions. Cell ids embed their resolution (res bits << 56),
    # so the per-res covers never collide and one union cover keyed
    # by cell alone is exactly the per-res join union — the previous
    # per-res union re-ran the full scan + a separate geocode python
    # eval PER RESOLUTION (3 full passes over the pages table for a
    # 3-res cover; steady-state 1.7 s -> 0.72 s at 300k pages, and at
    # 100 TB the duplicate scans are the whole cost).
    # cell_keyed fuses the resolutions as one long column per res,
    # exploded in the JVM; Spark evaluates all of them in that single
    # ArrowEvalPython node. An array<long> UDF output (one list per
    # point) was slower: every row became a numpy array in the worker
    # and an Arrow list on the way back — perfbench pip_scan
    # (pages_per_area(res=9), 2M pages, 4 vCPU) op_p50_ms, median of
    # 6 seeds: 3.38 s fused columns vs 5.46 s array UDF, same counts.
    # Arrow-batched UDF geocode: measured faster end-to-end than
    # the pure-SQL expression (hex_cell_sql) in this pipeline —
    # re-measured round 4 at 30M rows/local[8]: UDF 7.7 s vs
    # 61.5 s for the withColumn SQL-expr variant.
    cov_all = spark.createDataFrame(
        cover_pdf.drop(columns=["res"]),
        schema="cell long, area_id long, boundary boolean",
    )
    pts_g = cell_keyed(pts, res_list, lat_col, lon_col, "_cell")
    out = pts_g.join(
        F.broadcast(cov_all), on=pts_g["_cell"] == cov_all["cell"],
        how="inner",
    ).drop("cell")
    return out.filter(
        (~F.col("boundary"))
        | refine(F.col(lon_col), F.col(lat_col), F.col("area_id"))
    ).drop("boundary", "_cell")


def pages_per_area(
    spark: SparkSession,
    points: DataFrame,
    polygons_pdf: pd.DataFrame,
    res: int = 9,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """The flagship aggregate: page count per admin area.

    Plan: scan -> project -> geocode UDF -> BroadcastHashJoin ->
    (partial hash agg map-side) -> single small shuffle on area_id.

    keep_cols=() prunes to (lat, lon) BEFORE the UDF chain — without
    it every html/text byte rides through Arrow into the Python
    worker; with it the parquet scan reads two doubles per row
    (ReadSchema shows only lat/lon).
    """
    j = pip_join(
        spark, points, polygons_pdf, res, lat_col, lon_col, keep_cols=()
    )
    return j.groupBy("area_id").agg(F.count(F.lit(1)).alias("cnt"))
