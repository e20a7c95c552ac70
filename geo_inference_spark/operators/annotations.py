"""Vector annotation pipelines: geo->px transform, YOLO, COCO.

DataFrame re-expressions of the reference's file-in/file-out stage:

* ``polygons_to_px``  == geojson_to_px_gdf (utils/geo_transforms.py:
  138-195): bbox overlap subset (the R-tree semi-join J1 becomes a
  plain bounds predicate — the image bbox is a scalar, so no index is
  needed), inverse-affine transform, image_fname column.
* ``yolo_annotations`` == gdf_to_yolo (utils/polygon.py:73-149):
  area != 0, clip-overlap ratio >= min_overlap (P6), bbox midpoint /
  size normalized by image dims (F9) -> columns [value, x, y, w, h].
* ``coco_annotations`` == geojson2coco + df_to_coco_annos
  (utils/polygon.py:151-267, utils/geo_transforms.py:377-511):
  COCO bbox [x, y, w, h] (F7) and flattened exterior ring (F8) in one
  Arrow collect; first-seen category ids (A4 — in seq order, never
  partition order) and sequential annotation ids are assigned on the
  driver, where the one COCO document is built anyway.

All geometry math runs in ONE Arrow-batched pandas UDF per pipeline
(geom stats below); everything downstream is plain column algebra
that Catalyst folds into the same stage — no per-row Python
(input_hint), and no shuffle but YOLO's final sort by seq.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    StructField,
    StructType,
)

from ..geom.core import (
    affine_to_shapely_list,
    bounds_of_rings,
    clip_polygon_rect,
    invert_affine,
    polygon_area,
)
from ..geom.wkb import multipolygon_to_wkb, parse_wkb, polygon_to_wkb

_STATS_T = StructType(
    [
        StructField("px_wkb", BinaryType()),
        StructField("minx", DoubleType()),
        StructField("miny", DoubleType()),
        StructField("maxx", DoubleType()),
        StructField("maxy", DoubleType()),
        StructField("area", DoubleType()),
        StructField("inter_area", DoubleType()),
        # one flattened exterior ring per polygon part (COCO allows
        # multi-part segmentation as a list of flat coordinate lists)
        StructField("ext_flat", ArrayType(ArrayType(DoubleType()))),
        # geo-space bounds, for the image-overlap filter
        StructField("gminx", DoubleType()),
        StructField("gminy", DoubleType()),
        StructField("gmaxx", DoubleType()),
        StructField("gmaxy", DoubleType()),
    ]
)


def _apply_affine(rings, m):
    a, b, d, e, xoff, yoff = m
    out = []
    for r in rings:
        x, y = r[:, 0], r[:, 1]
        out.append(np.stack([a * x + b * y + xoff, d * x + e * y + yoff], axis=1))
    return out


def _union_bounds(polys):
    bnds = [bounds_of_rings(rings) for rings in polys]
    return (min(b[0] for b in bnds), min(b[1] for b in bnds),
            max(b[2] for b in bnds), max(b[3] for b in bnds))


def _geom_stats_udf(transform, width: int, height: int):
    """WKB (geo coords) -> px geometry + every scalar the annotation
    formats need and the geo bounds the overlap filter needs, in one
    Arrow batch pass (one WKB parse per polygon)."""
    inv = affine_to_shapely_list(invert_affine(transform))
    w, h = float(width), float(height)

    @F.pandas_udf(_STATS_T)
    def stats(wkb: pd.Series) -> pd.DataFrame:
        rows = []
        for b in wkb:
            kind, payload = parse_wkb(bytes(b))
            polys = [payload] if kind == "polygon" else payload
            px_polys = [_apply_affine(rings, inv) for rings in polys]
            # multi-part geometry: union of part bounds, sum of part
            # areas/intersections, one segmentation ring per part
            minx, miny, maxx, maxy = _union_bounds(px_polys)
            area = sum(polygon_area(p) for p in px_polys)
            inter = sum(clip_polygon_rect(p, 0.0, 0.0, w, h) for p in px_polys)
            ext = [p[0].ravel().tolist() for p in px_polys]
            out_wkb = (
                polygon_to_wkb(px_polys[0])
                if len(px_polys) == 1
                else multipolygon_to_wkb(px_polys)
            )
            rows.append((out_wkb, minx, miny, maxx, maxy, area, inter, ext,
                         *_union_bounds(polys)))
        return pd.DataFrame(
            rows, columns=[f.name for f in _STATS_T.fields]
        )

    # marked nondeterministic so the optimizer cannot push a filter on
    # its fields below it as a second copy of the UDF: one eval, one
    # WKB parse per polygon
    return stats.asNondeterministic()


def _with_px_stats(
    polygons: DataFrame, transform, width: int, height: int
) -> DataFrame:
    """Attach px-space geometry stats; keep only polygons whose
    geo-bbox intersects the image bbox (J1 as a predicate)."""
    # image bbox in geo coords: corners of the px rect through the fwd
    # affine (axis-aligned for the typical north-up transform)
    a, b, c, d, e, f = transform
    xs = [a * x + b * y + c for x in (0, width) for y in (0, height)]
    ys = [d * x + e * y + f for x in (0, width) for y in (0, height)]
    gminx, gmaxx, gminy, gmaxy = min(xs), max(xs), min(ys), max(ys)

    stats = _geom_stats_udf(transform, width, height)
    return polygons.withColumn("_st", stats(F.col("geom_wkb"))).filter(
        ~(
            (F.col("_st.gmaxx") < F.lit(gminx))
            | (F.col("_st.gminx") > F.lit(gmaxx))
            | (F.col("_st.gmaxy") < F.lit(gminy))
            | (F.col("_st.gminy") > F.lit(gmaxy))
        )
    )


def polygons_to_px(
    polygons: DataFrame, transform, width: int, height: int, image_fname: str
) -> DataFrame:
    """R4: overlap subset + inverse affine + image_fname."""
    df = _with_px_stats(polygons, transform, width, height)
    return df.select(
        *[c for c in polygons.columns if c != "geom_wkb"],
        F.col("_st.px_wkb").alias("geom_wkb"),
        F.lit(image_fname).alias("image_fname"),
    )


def yolo_annotations(
    polygons: DataFrame,
    transform,
    width: int,
    height: int,
    value_col: str = "value",
    min_overlap: float = 0.66,
    seq_col: str = "poly_id",
) -> DataFrame:
    """R5: (value, x, y, w, h) normalized to [0,1], reference filters.

    Ordered by seq_col — the reference writes rows in input order.
    """
    dw, dh = 1.0 / width, 1.0 / height
    df = _with_px_stats(polygons, transform, width, height)
    st = F.col("_st")
    return (
        df.filter(st["area"] != 0.0)
        .filter(st["inter_area"] / st["area"] >= F.lit(min_overlap))
        .select(
            F.col(seq_col).alias("seq"),
            F.col(value_col).alias("value"),
            ((st["minx"] + st["maxx"]) / 2.0 * dw).alias("x"),
            ((st["miny"] + st["maxy"]) / 2.0 * dh).alias("y"),
            ((st["maxx"] - st["minx"]) * dw).alias("w"),
            ((st["maxy"] - st["miny"]) * dh).alias("h"),
        )
        .orderBy("seq")
    )


def coco_annotations(
    polygons: DataFrame,
    transform,
    width: int,
    height: int,
    category_col: str = "value",
    seq_col: str = "poly_id",
    starting_id: int = 1,
    image_id: int = 1,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """R6: (annotations, categories) pandas frames, from one collect.

    Category ids are assigned in FIRST-SEEN order of seq_col (A4 —
    the reference's pandas ``unique()`` order), annotation ids
    sequentially from starting_id in seq order.
    """
    df = _with_px_stats(polygons, transform, width, height)
    st = F.col("_st")
    base = df.select(
        F.col(seq_col).alias("seq"),
        F.col(category_col).cast("string").alias("category_str"),
        st["area"].alias("area"),
        F.array(
            st["minx"], st["miny"],
            st["maxx"] - st["minx"], st["maxy"] - st["miny"],
        ).alias("bbox"),
        st["ext_flat"].alias("segmentation"),
    ).toPandas().sort_values("seq", kind="stable", ignore_index=True)
    codes, names = pd.factorize(base["category_str"])
    annos = base.assign(
        id=np.arange(starting_id, starting_id + len(base)),
        image_id=image_id, category_id=codes + 1, iscrowd=0,
    )[["id", "image_id", "category_id", "segmentation", "area", "bbox", "iscrowd"]]
    cats = pd.DataFrame({"category_str": names,
                         "category_id": np.arange(1, len(names) + 1)})
    return annos, cats


def coco_dict(
    annos: pd.DataFrame,
    cats: pd.DataFrame,
    image_fname: str,
    width: int,
    height: int,
    image_id: int = 1,
    info_dict: dict | None = None,
    license_dict: dict | None = None,
) -> dict:
    """S11: assemble the single COCO JSON document from
    coco_annotations' frames, as plain Python values."""
    out = {
        "annotations": [
            {
                "id": int(r.id),
                "image_id": int(r.image_id),
                "category_id": int(r.category_id),
                "segmentation": [list(map(float, p)) for p in r.segmentation],
                "area": float(r.area),
                "bbox": list(map(float, r.bbox)),
                "iscrowd": 0,
            }
            for r in annos.itertuples(index=False)
        ],
        "categories": [
            {"id": int(i), "name": n}
            for n, i in zip(cats["category_str"], cats["category_id"])
        ],
    }
    license_id = None
    if license_dict is not None:
        out["licenses"] = [
            {"name": n, "url": u, "id": i + 1}
            for i, (n, u) in enumerate(license_dict.items())
        ]
        if len(license_dict) == 1:
            license_id = 1
    img = {"id": image_id, "file_name": image_fname,
           "width": width, "height": height}
    if license_id is not None:
        img["license"] = license_id
    out["images"] = [img]
    if info_dict is not None:
        out["info"] = info_dict
    return out
