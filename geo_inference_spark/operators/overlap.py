"""Distributed Hann-overlap stitch: the reference's two dask
``map_overlap`` stages (/root/reference/geo_inference/
geo_inference.py:358-388) as two explicit Spark shuffles.

Dataflow (SURVEY.md §2.3 J2 + §2.4 A1/A2):

  chunks (ty, tx, s x s)                                 [scan]
    -> explode: each chunk serves the <=4 patches containing it
    -> SHUFFLE 1: groupBy(py, px) . applyInPandas           [halo join]
         assemble 2s x 2s patch, run model, multiply by the
         positional Hann window, append the window channel,
         cut the (C+1, 2s, 2s) result into 4 s x s fragments
         keyed by the output cell each covers
    -> SHUFFLE 2: groupBy(oy, ox) . applyInPandas           [overlap agg]
         sum fragments, zero-guarded divide by weight channel,
         threshold / argmax -> uint8 mask tile

Halo exchange becomes data routing (a join), not runtime
introspection: every byte moves at most twice, partial sums never
cross the network (fragments are pre-windowed), and both shuffles key
on dense int pairs that AQE can coalesce/split freely. At 100 TB the
chunk table is Iceberg-partitioned by (ty bucket), so shuffle 1 is
near-local; zero patches (nodata / missing halo) still emit fragments
so every output cell materializes, matching the reference's dense
output — a sparse variant would drop them and densify at the sink.
"""

from __future__ import annotations

from typing import Any, Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..raster.kernels import finalize_cell, model_window_patch
from ..sources.raster_io import assemble_mask

CHUNK_SCHEMA = "ty int, tx int, chunk binary"
FRAG_SCHEMA = "oy int, ox int, frag binary"
MASK_SCHEMA = "ty int, tx int, mask binary"


def np_to_bytes(a: np.ndarray) -> bytes:
    return np.ascontiguousarray(a).tobytes()


def bytes_to_np(b: bytes, shape: tuple, dtype=np.float64) -> np.ndarray:
    return np.frombuffer(b, dtype=dtype).reshape(shape)


# ------------------------------------------------------------- tile cutting

def pad_to_multiple(arr: np.ndarray, stride: int) -> np.ndarray:
    """R1 (geo_inference.py:344-355): zero-pad y/x up to multiples of
    stride."""
    _, h, w = arr.shape
    ph = (stride - h % stride) % stride
    pw = (stride - w % stride) % stride
    return np.pad(arr, ((0, 0), (0, ph), (0, pw)), mode="constant")


def raster_to_chunks(
    spark: SparkSession, arr: np.ndarray, stride: int, partitions: int | None = None
) -> tuple[DataFrame, int, int]:
    """Cut a (bands, H, W) array into an (ty, tx, chunk) DataFrame of
    stride x stride float64 chunks. Driver-side cut — test/ingest
    path only; at scale chunks live in Iceberg already."""
    arr = pad_to_multiple(np.asarray(arr, dtype=np.float64), stride)
    _, h, w = arr.shape
    ny, nx = h // stride, w // stride
    rows = [
        (ty, tx, np_to_bytes(arr[:, ty * stride : (ty + 1) * stride,
                                 tx * stride : (tx + 1) * stride]))
        for ty in range(ny)
        for tx in range(nx)
    ]
    df = spark.createDataFrame(rows, schema=CHUNK_SCHEMA)
    if partitions:
        df = df.repartition(partitions)
    return df, ny, nx


# ------------------------------------------------------------- the operator

def overlap_stitch(
    chunks: DataFrame,
    model_fn: Callable[[np.ndarray], np.ndarray],
    bands: int,
    stride: int,
    ny: int,
    nx: int,
    num_classes: int,
    no_data: float | None = None,
    prediction_threshold: float = 0.3,
) -> DataFrame:
    """chunks (ty, tx, chunk) -> mask tiles (ty, tx, mask uint8 bytes).

    Output grid == chunk grid; every (ty, tx) in [0,ny) x [0,nx) is
    present in the result.
    """
    patch = 2 * stride
    s = stride

    # chunk (ty,tx) participates in patches (ty-dy, tx-dx), dy,dx in {0,1}
    d = F.explode(F.array(F.lit(0), F.lit(1)))
    routed = (
        chunks.withColumn("dy", d)
        .withColumn("dx", d)
        .withColumn("py", F.col("ty") - F.col("dy"))
        .withColumn("px", F.col("tx") - F.col("dx"))
        .filter((F.col("py") >= 0) & (F.col("px") >= 0)
                & (F.col("py") < F.lit(ny)) & (F.col("px") < F.lit(nx)))
        .select("py", "px", "dy", "dx", "chunk")
    )

    def run_patch(key: tuple[Any, ...], pdf: pd.DataFrame) -> pd.DataFrame:
        py, px = int(key[0]), int(key[1])
        quads = {
            (int(r.dy), int(r.dx)): bytes_to_np(r.chunk, (bands, s, s))
            for r in pdf.itertuples()
        }
        if len(quads) == 4:
            patch_arr = np.empty((bands, patch, patch))
            for (dy, dx), q in quads.items():
                patch_arr[:, dy * s : (dy + 1) * s, dx * s : (dx + 1) * s] = q
        else:
            # boundary='none': no right/bottom halo -> degenerate input
            patch_arr = np.empty((bands, 0, 0))
        out = model_window_patch(
            patch_arr, model_fn, patch, num_classes, py, px, ny, nx, no_data
        )
        rows = []
        for dy in (0, 1):
            for dx in (0, 1):
                oy, ox = py + dy, px + dx
                if oy < ny and ox < nx:
                    rows.append(
                        (oy, ox,
                         np_to_bytes(out[:, dy * s : (dy + 1) * s,
                                         dx * s : (dx + 1) * s]))
                    )
        return pd.DataFrame(rows, columns=["oy", "ox", "frag"])

    frags = routed.groupBy("py", "px").applyInPandas(run_patch, FRAG_SCHEMA)

    def reduce_cell(key: tuple[Any, ...], pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.zeros((num_classes + 1, s, s))
        for b in pdf["frag"]:
            acc += bytes_to_np(b, (num_classes + 1, s, s))
        mask = finalize_cell(acc, prediction_threshold)
        return pd.DataFrame(
            {"ty": [int(key[0])], "tx": [int(key[1])], "mask": [np_to_bytes(mask)]}
        )

    return frags.groupBy("oy", "ox").applyInPandas(reduce_cell, MASK_SCHEMA)


# ------------------------------------------------------------- driver e2e

def infer_nodata(arr: np.ndarray, no_data: float | None) -> float:
    """geo_inference.py:304-310: NaN for float dtypes else 0."""
    if no_data is not None:
        return no_data
    return float("nan") if np.issubdtype(arr.dtype, np.floating) else 0.0


def validity_mask(arr: np.ndarray, no_data: float) -> np.ndarray:
    """P2/A3 (geo_inference.py:311-314): valid where every band is
    finite / != nodata."""
    if np.isnan(no_data):
        return np.isfinite(arr).all(axis=0)
    return (arr != no_data).all(axis=0)


def infer_raster(
    spark: SparkSession,
    arr: np.ndarray,
    model_fn,
    patch_size: int,
    num_classes: int,
    no_data: float | None = None,
    prediction_threshold: float = 0.3,
) -> np.ndarray:
    """End-to-end parity path: raster array -> stitched uint8 mask,
    trimmed to the original shape with nodata painted 255
    (geo_inference.py:394-395, R7+P2). Driver collect is test-scale
    only; the production sink is the mask-tile table itself."""
    stride = patch_size // 2
    nd = infer_nodata(arr, no_data)
    valid = validity_mask(np.asarray(arr), nd)
    chunks, ny, nx = raster_to_chunks(spark, arr, stride)
    tiles = overlap_stitch(
        chunks, model_fn, arr.shape[0], stride, ny, nx,
        num_classes, nd, prediction_threshold,
    ).collect()
    mask = assemble_mask(tiles, stride, arr.shape[1], arr.shape[2])
    return np.where(valid, mask, np.uint8(255))


def select_bands(
    chunks: DataFrame, bands_requested: list[int], n_bands: int, stride: int
) -> DataFrame:
    """P1 — band select/reorder on the chunk table (the reference's
    bands_requested handling, geo_inference.py:237-266 / aoi band
    subsetting): one Arrow pass re-slices the leading (band) axis of
    every chunk; order is preserved, duplicates allowed (e.g. gray ->
    pseudo-RGB [1,1,1]). 1-based indices like the reference CLI."""
    idx = [int(b) - 1 for b in bands_requested]
    if not idx or min(idx) < 0 or max(idx) >= n_bands:
        raise ValueError(
            f"bands_requested {bands_requested} out of range for {n_bands} bands"
        )
    s = int(stride)

    def run(pdf_iter):
        for pdf in pdf_iter:
            out = []
            for b in pdf["chunk"]:
                a = bytes_to_np(bytes(b), (n_bands, s, s))
                out.append(np_to_bytes(a[idx]))
            pdf = pdf.copy()
            pdf["chunk"] = out
            yield pdf

    return chunks.mapInPandas(run, CHUNK_SCHEMA)
