"""Distributed mask polygonization with cross-tile stitching (R3).

The reference polygonizes the fully assembled mask in one process
(utils/polygon.py:51-63). Distributed, a component may span tiles, so
the pipeline splits the work by what is local vs global. Every local
component is named by its SEED, its first global row-major pixel
``(gy << 32) + gx``: unique across tiles, and the minimum seed of a
merged component is its ``poly_id``.

  mask tiles (ty, tx, s x s uint8)
    -> mapInPandas  per-tile facts (ONE pass, one long schema, every
       row keyed by the seed ``nid`` of its local component):
         kind 1  boundary edge in GLOBAL pixel coords
         kind 2  border-strip cell (axis, border line, index, value)
    -> border cells self-join on the shared border key: equal values
       across a border => the two local components are one global one
    -> border_labels over the BORDER graph only (never the full
       O(#components) node set — that driver union-find was the
       round-1 scale-killer #2): numpy label propagation on the
       collected perimeter-sized graph when small, distributed hash-min
       label propagation + pointer jumping (O(log diameter) rounds)
       when one collect capped at CC_DRIVER_EDGES + 1 edges comes back
       full; gid = min seed
    -> edges left-join the labels, gid = coalesce(gid, nid): a
       component that touches no border is its own global component
    -> SHUFFLE groupBy(gid): reversed duplicate edge pairs (the two
       sides of an internal tile border) cancel; the surviving edge
       set is EXACTLY the global boundary-edge set, so ring chaining,
       hole assignment, affine transform, min_area and simplify all
       run on exact global geometry (chain_rings is order-canonical).

tests/test_vectorize.py proves distributed == mask_to_polygons on the
assembled mask, including components spanning 4+ tiles and holes
crossing tile borders.
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geom.core import douglas_peucker, polygon_area
from ..geom.wkb import polygon_to_wkb
from ..raster.polygonize import (
    IDENTITY,
    boundary_edges,
    chain_rings,
    label_components,
    rings_to_polygon,
    transform_rings,
)

FACTS_SCHEMA = "kind tinyint, nid long, value double, a long, b long, c long, d long"
POLY_SCHEMA = "poly_id long, value double, area double, geom_wkb binary"

# border graphs up to this many edges are labeled on the driver (one
# Arrow collect of perimeter-sized data); larger ones distributed
CC_DRIVER_EDGES = 5_000_000
# distributed label propagation rounds before giving up: pointer
# jumping needs O(log diameter) of them
CC_MAX_ROUNDS = 64


def tile_facts(pdf_iter, stride: int):
    """Per-tile local pass: global-coord edges and border strips, each
    keyed by its local component's seed. Fully vectorized — no
    per-edge Python (a 512x512 tile has O(10^5) boundary edges; the
    loops this replaces were the per-tile hot spot)."""
    s = stride
    for pdf in pdf_iter:
        frames = []
        for r in pdf.itertuples():
            ty, tx = int(r.ty), int(r.tx)
            m = np.frombuffer(r.mask, dtype=np.uint8).reshape(s, s)
            # label == flat index of the component's first pixel, so
            # its global seed follows from the tile origin
            lab = label_components(m)
            ox, oy = tx * s, ty * s
            flat_val = m.ravel().astype(np.float64)

            def seed(lid):
                lid = np.asarray(lid, dtype=np.int64)
                return ((oy + lid // s) << 32) + (ox + lid % s)

            # kind 1: boundary edges in global pixel coords
            e = boundary_edges(lab)  # (n, 5): label, x0, y0, x1, y1
            if len(e):
                frames.append(
                    _facts_frame(1, seed(e[:, 0]), flat_val[e[:, 0]],
                                 e[:, 1] + ox, e[:, 2] + oy,
                                 e[:, 3] + ox, e[:, 4] + oy)
                )
            # kind 2: border strips — vertical borders (axis 0) keyed
            # by (line=x/s, global row), horizontal (axis 1) by
            # (line=y/s, global col); both adjacent tiles emit the key
            for axis, line, idx_base, vals, blids in (
                (0, tx, oy, m[:, 0], lab[:, 0]),
                (0, tx + 1, oy, m[:, -1], lab[:, -1]),
                (1, ty, ox, m[0, :], lab[0, :]),
                (1, ty + 1, ox, m[-1, :], lab[-1, :]),
            ):
                fg = np.nonzero(blids >= 0)[0]
                if len(fg):
                    frames.append(
                        _facts_frame(2, seed(blids[fg]),
                                     vals[fg].astype(np.float64),
                                     axis, line, idx_base + fg, 0)
                    )
        if frames:
            yield pd.concat(frames, ignore_index=True)
        else:
            yield _facts_frame(0, np.empty(0, np.int64), np.empty(0),
                               0, 0, 0, 0)


def _facts_frame(kind, nid, value, a, b, c, d) -> pd.DataFrame:
    n = len(nid)
    full = lambda v: np.full(n, v, dtype=np.int64) if np.isscalar(v) else np.asarray(v, dtype=np.int64)  # noqa: E731
    return pd.DataFrame(
        {
            "kind": np.full(n, kind, dtype=np.int8),
            "nid": np.asarray(nid, dtype=np.int64),
            "value": np.asarray(value, dtype=np.float64),
            "a": full(a), "b": full(b), "c": full(c), "d": full(d),
        }
    )


def border_labels(edges: DataFrame) -> DataFrame:
    """Undirected edges (nid1, nid2) -> (nid, gid) for every node on
    an edge, gid = min nid of its connected component.

    Only nodes on an edge are labeled. In polygonize those are the
    components that touch a tile border — the only ones that can
    merge — so the full node set (O(mask area / component size))
    never enters; the border graph is O(tile perimeter), ~3 orders of
    magnitude smaller. A node on no edge is its own component, gid =
    nid, which the caller's left join and ``coalesce(gid, nid)``
    supply.

    Two regimes, told apart by one Arrow collect capped at
    CC_DRIVER_EDGES + 1 edges (a bounded collect never holds more than
    that on the driver, so no separate count is needed to protect it):
    * up to CC_DRIVER_EDGES -> that collect is the input of vectorized
      min-label propagation on the driver;
    * above it -> distributed hash-min label propagation with pointer
      jumping (the O(log diameter) doubling of Kiveris et al.'s star
      operations), on RDDs: Catalyst recomputes plan statistics
      inside every DataFrame localCheckpoint and a per-round plan
      with ~5 join leaves COMPOUNDS the size estimate round over
      round — by round ~8 the sizeInBytes BigInteger has millions of
      digits and stats estimation burns minutes of driver CPU
      (measured). RDD localCheckpoint truncates lineage with no stats
      machinery — the classic reason iterative graph algorithms
      (GraphX, Pregel) live on RDDs.
    """
    ep = edges.limit(CC_DRIVER_EDGES + 1).toPandas()
    if len(ep) <= CC_DRIVER_EDGES:
        labels = _labels_on_driver(ep)
    else:
        labels = _labels_distributed(edges)
    return edges.sparkSession.createDataFrame(labels, schema="nid long, gid long")


def _labels_on_driver(ep: pd.DataFrame) -> pd.DataFrame:
    """Arrow toPandas instead of collect(): Row-object pickling of ~1M
    edges cost seconds. Labeling is vectorized min-label propagation
    with pointer jumping (numpy, O(E) per round, O(log n) rounds) — the
    per-edge Python union-find loop was the driver hot spot."""
    e1 = ep.iloc[:, 0].to_numpy(np.int64)
    e2 = ep.iloc[:, 1].to_numpy(np.int64)
    ids = np.unique(np.concatenate([e1, e2]))
    a = np.searchsorted(ids, e1)
    b = np.searchsorted(ids, e2)
    lbl = np.arange(len(ids), dtype=np.int64)
    while True:
        new = lbl.copy()
        mn = np.minimum(lbl[a], lbl[b])
        np.minimum.at(new, a, mn)
        np.minimum.at(new, b, mn)
        while True:  # pointer jumping to the round's fixpoint
            nn = new[new]
            if np.array_equal(nn, new):
                break
            new = nn
        if np.array_equal(new, lbl):
            break
        lbl = new
    # ids is sorted, so a component's min index is its min nid
    return pd.DataFrame({"nid": ids, "gid": ids[lbl]})


def _labels_distributed(edges: DataFrame):
    # partition count sized to the border graph, NOT inherited from
    # upstream — every Python-RDD task costs a worker round-trip, so
    # a tiny graph on many partitions is pure overhead
    p = max(4, min(256, edges.count() // 2_000_000))
    e = edges.rdd.map(lambda r: (r[0], r[1]))
    both = (
        e.union(e.map(lambda kv: (kv[1], kv[0]))).distinct(p).cache()
    )
    labels = both.keys().distinct(p).map(lambda n: (n, n)).cache()
    labels.localCheckpoint()
    for _ in range(CC_MAX_ROUNDS):
        # hash-min: min label over neighbors
        msgs = (
            both.join(labels, p)
            .map(lambda kv: (kv[1][0], kv[1][1]))
            .reduceByKey(min, p)
        )
        # pointer jump: a label is a nid, so take that node's label
        jump = (
            labels.map(lambda kv: (kv[1], kv[0]))  # (lbl, nid)
            .join(labels, p)  # (lbl, (nid, lbl's lbl))
            .map(lambda kv: (kv[1][0], kv[1][1]))
        )
        # new label = min over (own, neighbor-min, jump) — msgs/jump
        # key sets are subsets of labels', so the union covers all
        upd = labels.union(msgs).union(jump).reduceByKey(min, p).cache()
        upd.localCheckpoint()  # per-round lineage stays O(1)
        changed = (
            upd.join(labels, p).filter(lambda kv: kv[1][0] < kv[1][1]).count()
        )
        labels = upd
        if changed == 0:
            return labels
    raise RuntimeError(f"border_labels: no fixpoint in {CC_MAX_ROUNDS} rounds")


def connected_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """nodes (nid), undirected edges (nid1, nid2) -> (nid, gid) with
    gid = min nid of the node's component: border_labels on the edges,
    and every node on no edge is its own component."""
    return nodes.join(border_labels(edges), "nid", "left").select(
        "nid", F.coalesce(F.col("gid"), F.col("nid")).alias("gid")
    )


def polygonize_tiles(
    spark: SparkSession,
    tiles: DataFrame,
    stride: int,
    transform=IDENTITY,
    min_area: float = 0.0,
    simplify: bool = False,
    tolerance: float = 1.0,
) -> DataFrame:
    """(ty, tx, mask) -> (poly_id, value, area, geom_wkb).

    poly_id is the component's first global row-major pixel id —
    stable across any partitioning (O2 determinism).
    """
    s = stride
    # the border self-join and the edge scan both read the facts: a
    # lazy local checkpoint keeps the one tile pass's blocks for both,
    # and unlike cache() it leaves no CacheManager entry behind, so a
    # later call on the same tiles reads them again (the master is
    # local, so no executor holding the blocks can be lost)
    facts = tiles.mapInPandas(
        lambda it: tile_facts(it, s), schema=FACTS_SCHEMA
    ).localCheckpoint(eager=False)

    borders = facts.filter(F.col("kind") == 2).select(
        "nid", "value", "a", "b", "c"
    )
    l, r = borders.alias("l"), borders.alias("r")
    adj = (
        l.join(
            r,
            on=[
                F.col("l.a") == F.col("r.a"),
                F.col("l.b") == F.col("r.b"),
                F.col("l.c") == F.col("r.c"),
                F.col("l.value") == F.col("r.value"),
                # strict ordering => each cross-tile pair once, no
                # self-pairs (two tiles' components never share a seed)
                F.col("l.nid") < F.col("r.nid"),
            ],
        )
        .select(F.col("l.nid").alias("nid1"), F.col("r.nid").alias("nid2"))
        .distinct()
    )
    tagged = (
        facts.filter(F.col("kind") == 1)
        .join(border_labels(adj), "nid", "left")
        .select(
            F.coalesce(F.col("gid"), F.col("nid")).alias("gid"),
            "value", "a", "b", "c", "d",
        )
    )

    min_area_ = float(min_area)
    simplify_ = bool(simplify)
    tol_ = float(tolerance)
    t_ = tuple(float(x) for x in transform)

    def build_polygon(key: tuple[Any, ...], pdf: pd.DataFrame) -> pd.DataFrame:
        e = pdf[["a", "b", "c", "d"]].to_numpy(dtype=np.int64)
        # cancel internal tile-border edges: an edge and its exact
        # reverse (emitted by the two adjacent tiles) both vanish.
        # Vectorized multiset subtraction (the per-edge Python dict
        # loop here was the r2 polygonize hot spot: a continent-sized
        # component lands in ONE task, so the constant factor is the
        # wall clock): unique over fwd ∪ rev keys, per-key counts, and
        # each surviving key is re-emitted count_fwd - min(fwd, rev)
        # times. Copies of a key are identical rows, so WHICH copies
        # survive is immaterial, and chain_rings is order-canonical.
        uniq, inv = np.unique(
            np.concatenate([e, e[:, [2, 3, 0, 1]]]), axis=0, return_inverse=True
        )
        n = len(e)
        fcnt = np.bincount(inv[:n], minlength=len(uniq))
        rcnt = np.bincount(inv[n:], minlength=len(uniq))
        keep = np.repeat(
            np.arange(len(uniq)), fcnt - np.minimum(fcnt, rcnt)
        )
        keep = uniq[keep]
        rings = rings_to_polygon(chain_rings(keep))
        rings = transform_rings(rings, t_)
        area = polygon_area(rings)
        if area < min_area_:
            return pd.DataFrame(
                columns=["poly_id", "value", "area", "geom_wkb"]
            ).astype({"poly_id": "int64", "value": "float64", "area": "float64"})
        if simplify_:
            rings = [douglas_peucker(rg, tol_) for rg in rings]
            area = polygon_area(rings)
        return pd.DataFrame(
            {
                "poly_id": [int(key[0])],
                "value": [float(pdf["value"].iloc[0])],
                "area": [area],
                "geom_wkb": [polygon_to_wkb(rings)],
            }
        )

    # explicit-numPartitions repartition by gid: AQE would otherwise
    # coalesce the tiny tagged shuffle to ONE post-shuffle partition
    # and every component's ring chaining would run sequentially in a
    # single python task (measured 1.48 s of a 4.7 s query in one
    # 1-task stage). A user repartition with an explicit count is
    # exempt from AQE coalescing, and HashPartitioning(gid) satisfies
    # the groupBy's clustering requirement, so no second exchange is
    # added. Same value for any partitioning — groups stay whole.
    par = spark.sparkContext.defaultParallelism
    return (
        tagged.repartition(par, "gid")
        .groupBy("gid")
        .applyInPandas(build_polygon, POLY_SCHEMA)
    )
