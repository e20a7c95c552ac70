"""Distributed polygonize == global polygonize, and YOLO/COCO
pipelines vs hand-derived oracles (reference semantics:
utils/polygon.py gdf_to_yolo / geojson2coco)."""

import json
import uuid
import warnings

import numpy as np
import pandas as pd
import pytest

import geo_inference_spark.operators.vectorize as V
from geo_inference_spark.geom.core import polygon_area
from geo_inference_spark.geom.wkb import parse_wkb, polygon_to_wkb
from geo_inference_spark.operators.annotations import (
    coco_annotations,
    coco_dict,
    polygons_to_px,
    yolo_annotations,
)
from geo_inference_spark.operators.overlap import np_to_bytes
from geo_inference_spark.operators.vectorize import polygonize_tiles
from geo_inference_spark.raster.polygonize import mask_to_polygons


def tiles_of(spark, mask, s):
    h, w = mask.shape
    assert h % s == 0 and w % s == 0
    rows = [
        (ty, tx, np_to_bytes(mask[ty * s : (ty + 1) * s, tx * s : (tx + 1) * s]))
        for ty in range(h // s)
        for tx in range(w // s)
    ]
    return spark.createDataFrame(rows, schema="ty int, tx int, mask binary")


def polys_of(df):
    out = []
    for r in sorted(df.collect(), key=lambda r: r.poly_id):
        kind, rings = parse_wkb(bytes(r.geom_wkb))
        assert kind == "polygon"
        out.append((rings, r.value, r.area))
    return out


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_distributed_equals_global(spark, seed):
    rng = np.random.RandomState(seed)
    # values 0..3, plenty of cross-tile components at s=8 on 24x32
    mask = (rng.rand(24, 32) > 0.4).astype(np.uint8) * rng.randint(
        1, 4, size=(24, 32)
    ).astype(np.uint8)
    got = polys_of(polygonize_tiles(spark, tiles_of(spark, mask, 8), 8))
    exp = mask_to_polygons(mask)
    assert len(got) == len(exp)
    for (g_rings, g_val, g_area), (e_rings, e_val) in zip(got, exp):
        assert g_val == e_val
        assert g_area == polygon_area(e_rings)
        assert len(g_rings) == len(e_rings)
        for gr, er in zip(g_rings, e_rings):
            np.testing.assert_array_equal(gr, er)


def test_distributed_cross_tile_donut(spark):
    # donut spanning all 4 tiles of a 2x2 grid (s=4): exterior and the
    # hole both cross tile borders
    mask = np.zeros((8, 8), dtype=np.uint8)
    mask[1:7, 1:7] = 5
    mask[3:5, 3:5] = 0
    got = polys_of(polygonize_tiles(spark, tiles_of(spark, mask, 4), 4))
    exp = mask_to_polygons(mask)
    assert len(got) == len(exp) == 1
    assert len(got[0][0]) == 2  # exterior + hole
    for gr, er in zip(got[0][0], exp[0][0]):
        np.testing.assert_array_equal(gr, er)
    assert got[0][2] == 32.0  # 36 - 4


def test_distributed_min_area_and_transform(spark):
    mask = np.zeros((8, 8), dtype=np.uint8)
    mask[0, 0] = 1
    mask[4:8, 4:8] = 2
    t = (2.0, 0.0, 10.0, 0.0, -2.0, 50.0)  # north-up style, scale 2
    got = polys_of(
        polygonize_tiles(spark, tiles_of(spark, mask, 4), 4, transform=t, min_area=5.0)
    )
    assert len(got) == 1
    assert got[0][1] == 2.0
    assert got[0][2] == 64.0  # 16 px * 4


# ---------------------------------------------------------------- annotations

TRANSFORM = (0.5, 0.0, 100.0, 0.0, -0.5, 300.0)  # px->geo
W, H = 16, 12


def _geo_square(px_minx, px_miny, size):
    """A px-space square converted to geo coords via TRANSFORM."""
    a, b, c, d, e, f = TRANSFORM
    pts = np.array(
        [
            [px_minx, px_miny],
            [px_minx + size, px_miny],
            [px_minx + size, px_miny + size],
            [px_minx, px_miny + size],
            [px_minx, px_miny],
        ],
        dtype=float,
    )
    geo = np.stack(
        [a * pts[:, 0] + b * pts[:, 1] + c, d * pts[:, 0] + e * pts[:, 1] + f],
        axis=1,
    )
    return geo


def _poly_df(spark):
    rows = [
        # fully inside, 4x4 px at (2,2), value 1
        (1, 1.0, polygon_to_wkb([_geo_square(2, 2, 4)])),
        # half outside (x in [-2,2]): overlap 0.5 < 0.66 -> dropped by yolo
        (2, 2.0, polygon_to_wkb([_geo_square(-2, 2, 4)])),
        # fully outside the image bbox -> dropped by the bbox subset
        (3, 1.0, polygon_to_wkb([_geo_square(40, 40, 4)])),
        # second value-1 polygon, 2x2 px at (10, 6)
        (4, 1.0, polygon_to_wkb([_geo_square(10, 6, 2)])),
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["poly_id", "value", "geom_wkb"]),
        schema="poly_id long, value double, geom_wkb binary",
    )


def test_polygons_to_px_roundtrip(spark):
    df = polygons_to_px(_poly_df(spark), TRANSFORM, W, H, "img.tif")
    rows = {r.poly_id: r for r in df.collect()}
    assert set(rows) == {1, 2, 4}  # poly 3 dropped by bbox subset
    assert rows[1].image_fname == "img.tif"
    _, rings = parse_wkb(bytes(rows[1].geom_wkb))
    np.testing.assert_allclose(
        rings[0], [[2, 2], [6, 2], [6, 6], [2, 6], [2, 2]], atol=1e-9
    )


def test_yolo_reference_math(spark):
    out = yolo_annotations(_poly_df(spark), TRANSFORM, W, H).collect()
    # poly 2 dropped (overlap 0.5 < 0.66), poly 3 dropped (no bbox hit)
    assert [r.seq for r in out] == [1, 4]
    r1 = out[0]
    # px bbox (2,2)-(6,6): mid (4,4), size 4 -> /16, /12
    assert (r1.value, r1.x, r1.y, r1.w, r1.h) == (
        1.0, 4.0 / 16, 4.0 / 12, 4.0 / 16, 4.0 / 12,
    )
    r4 = out[1]
    np.testing.assert_allclose(
        [r4.x, r4.y, r4.w, r4.h], [11 / 16, 7 / 12, 2 / 16, 2 / 12]
    )


def test_coco_first_seen_categories_and_ids(spark):
    annos, cats = coco_annotations(
        _poly_df(spark), TRANSFORM, W, H, category_col="value"
    )
    cat_rows = list(cats.itertuples(index=False))
    # value 1.0 first seen at seq 1 -> id 1; value 2.0 at seq 2 -> id 2
    assert [(r.category_str, r.category_id) for r in cat_rows] == [
        ("1.0", 1), ("2.0", 2),
    ]
    a = list(annos.itertuples(index=False))
    assert [r.id for r in a] == [1, 2, 3]
    assert [r.category_id for r in a] == [1, 2, 1]
    r1 = a[0]
    assert r1.iscrowd == 0 and r1.image_id == 1
    assert list(r1.bbox) == [2.0, 2.0, 4.0, 4.0]
    assert r1.area == 16.0
    assert list(r1.segmentation[0][:4]) == [2.0, 2.0, 6.0, 2.0]
    doc = coco_dict(annos, cats, "img.tif", W, H,
                    license_dict={"CC0": "http://x"})
    assert doc["images"] == [
        {"id": 1, "file_name": "img.tif", "width": 16, "height": 12,
         "license": 1}
    ]
    assert doc["licenses"][0]["id"] == 1
    assert len(doc["annotations"]) == 3


def test_coco_export_is_one_job_and_plain_json(spark):
    """coco_annotations + coco_dict collect the polygons once: one
    Spark job, and a document of plain Python values that json.dumps
    takes with no ``default``."""
    sc = spark.sparkContext
    polys = _poly_df(spark)
    group = f"coco-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "coco export")
    try:
        annos, cats = coco_annotations(polys, TRANSFORM, W, H)
        doc = coco_dict(annos, cats, "img.tif", W, H)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert json.loads(json.dumps(doc)) == doc
    assert [a["id"] for a in doc["annotations"]] == [1, 2, 3]


def test_border_labels_driver_regime_collects_once(spark, monkeypatch):
    """Up to CC_DRIVER_EDGES edges, border_labels is one bounded
    collect: nothing persists or counts the edges."""
    from pyspark.sql import DataFrame

    def forbidden(*args, **kwargs):
        raise AssertionError("border_labels counted or persisted its edges")

    for name in ("count", "persist", "cache"):
        monkeypatch.setattr(DataFrame, name, forbidden)
    edges = spark.createDataFrame(
        [(1, 2), (3, 2), (7, 9)], schema="nid1 long, nid2 long"
    )
    got = sorted(tuple(r) for r in V.border_labels(edges).collect())
    assert got == [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)]


def test_annotations_multipolygon_full_parts(spark):
    """MULTIPOLYGON stats use ALL parts: union bbox, summed area,
    one COCO segmentation ring per part (the reference's
    geojson_to_px_gdf / gdf_to_yolo handle multi-part in full)."""
    from geo_inference_spark.geom.wkb import multipolygon_to_wkb

    mp = multipolygon_to_wkb(
        [[_geo_square(2, 2, 2)], [_geo_square(10, 8, 2)]]
    )
    df = spark.createDataFrame(
        pd.DataFrame(
            [(1, 1.0, mp)], columns=["poly_id", "value", "geom_wkb"]
        ),
        schema="poly_id long, value double, geom_wkb binary",
    )
    annos, _ = coco_annotations(df, TRANSFORM, W, H, category_col="value")
    a = next(annos.itertuples(index=False))
    # union bbox spans both parts: x 2..12, y 2..10 in px space
    assert list(a.bbox) == [2.0, 2.0, 10.0, 8.0]
    assert a.area == 8.0  # 2x2 + 2x2 px squares
    assert len(a.segmentation) == 2  # one ring per part
    # px roundtrip preserves the multipolygon
    px = polygons_to_px(df, TRANSFORM, W, H, "img.tif").collect()[0]
    kind, parts = parse_wkb(bytes(px.geom_wkb))
    assert kind == "multipolygon" and len(parts) == 2


def test_distributed_cc_snake_many_tiles(spark, monkeypatch):
    """A 1-px boustrophedon snake across a 16x16 tile grid (128x128
    mask): one component spanning ~every tile with a long graph
    diameter — exercises the distributed hash-min + pointer-jumping
    connected components (no driver union-find)."""
    monkeypatch.setattr(V, "CC_DRIVER_EDGES", 0)
    real, ran = V._labels_distributed, []

    def spy(edges):
        ran.append(True)
        return real(edges)

    monkeypatch.setattr(V, "_labels_distributed", spy)
    mask = np.zeros((128, 128), dtype=np.uint8)
    for band in range(0, 128, 16):
        mask[band, :] = 1  # horizontal run
        if band + 16 < 128:
            if (band // 16) % 2 == 0:
                mask[band : band + 17, -1] = 1  # right connector
            else:
                mask[band : band + 17, 0] = 1  # left connector
    got = polys_of(
        polygonize_tiles(spark, tiles_of(spark, mask, 8), 8)
    )
    exp = mask_to_polygons(mask)
    assert ran
    assert len(got) == len(exp) == 1
    assert got[0][2] == polygon_area(exp[0][0])
    for gr, er in zip(got[0][0], exp[0][0]):
        np.testing.assert_array_equal(gr, er)


def test_polygonize_reads_each_tile_once_per_call(spark):
    """One facts pass per call: the border self-join and the edge scan
    share it, and nothing an earlier call on the same tiles left
    behind stands in for it."""
    rng = np.random.RandomState(7)
    mask = ((rng.rand(32, 32) > 0.4) * rng.randint(1, 3, size=(32, 32))).astype(
        np.uint8
    )
    reads = spark.sparkContext.accumulator(0)

    def counted(it):
        for pdf in it:
            reads.add(len(pdf))
            yield pdf

    base = tiles_of(spark, mask, 8)
    tiles = base.mapInPandas(counted, schema=base.schema)
    exp = mask_to_polygons(mask)
    for _ in range(2):
        reads.value = 0
        got = polys_of(polygonize_tiles(spark, tiles, 8))
        assert len(got) == len(exp)
        assert reads.value == 16


def test_polygonize_builds_without_user_warning(spark):
    """build_polygon is fully type-hinted, so PySpark infers its
    grouped-map eval type instead of warning that it cannot."""
    tiles = tiles_of(spark, np.ones((8, 8), np.uint8), 4)
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        polygonize_tiles(spark, tiles, 4)


def test_yolo_annotations_parse_each_polygon_once(spark):
    """The image-overlap filter reads the geo bounds from the same
    stats UDF as the px geometry: one ArrowEvalPython in the plan."""
    out = yolo_annotations(_poly_df(spark), TRANSFORM, W, H)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
