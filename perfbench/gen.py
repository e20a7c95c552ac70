"""Seeded inputs, made with the engine's public generators and cached
under the checkout's ``.perfbench/cache`` keyed by seed and size, so a
repeated seed skips generation. The timed workloads' pages come from a
fixed pool of cached shards that the seed picks from (pool_pages). The
same seed always gives the same inputs; the engine only ever sees the
generated files and frames.
"""

from __future__ import annotations

import os
import shutil

import numpy as np


KEEP = 8  # newest per-seed cache entries kept per kind


def _cached(cache: str, name: str, make, keep: int | None = KEEP) -> str:
    """Path of cache/name, built by make(tmp_path) if missing; the
    rename makes a half-written entry impossible. Building an entry
    drops all but the newest ``keep`` entries of its kind, so a long
    series of seeds does not fill the disk."""
    path = os.path.join(cache, name)
    if os.path.exists(path):
        os.utime(path)  # in use: newest of its kind
    else:
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        os.replace(tmp, path)
        if keep is None:
            return path
        kind = name.split("-")[0] + "-"
        old = sorted((os.path.join(cache, e) for e in os.listdir(cache)
                      if e.startswith(kind) and ".tmp" not in e),
                     key=os.path.getmtime)
        for p in old[:-keep]:
            shutil.rmtree(p, ignore_errors=True)
    return path


def pages_table(spark, cache: str, seed: int, n: int) -> str:
    """Common-Crawl-shaped pages (url, warc_ts, html, text, lang,
    lat, lon) as parquet: 70% of pages cluster on 8 hot cities."""
    from geo_inference_spark.sources.pages import pages_df

    def make(tmp):
        pages_df(spark, n, seed=seed).write.parquet(tmp)

    return _cached(cache, f"pages-s{seed}-n{n}", make)


POOL_SEED = 0


def pool_pages(spark, cache: str, seed: int, shard_rows: int, pool: int, k: int) -> list[str]:
    """``k`` of the ``pool`` shards of one pages_df table of
    ``pool * shard_rows`` pages (shard j holds the page ids
    [j * shard_rows, (j + 1) * shard_rows)); the seed picks which.
    Shards are built once and kept, so a new seed costs no generation."""
    from geo_inference_spark.sources.pages import PAGES_SCHEMA, pages_pdf

    def shard(j):
        def make(tmp):
            def batches(it):
                for pdf in it:
                    yield pages_pdf(pdf["id"].to_numpy(), POOL_SEED)

            spark.range(j * shard_rows, (j + 1) * shard_rows, 1,
                        spark.sparkContext.defaultParallelism).mapInPandas(
                batches, schema=PAGES_SCHEMA).write.parquet(tmp)

        return _cached(cache, f"pool-r{shard_rows}-j{j}", make, keep=None)

    # the whole pool at first use, so only a checkout's first run
    # generates pages and later runs all start from the same state
    paths = [shard(j) for j in range(pool)]
    pick = np.random.RandomState(seed).choice(pool, k, replace=False)
    return [paths[j] for j in sorted(pick)]


def page_points(paths: str | list[str]):
    """(page_id, lat, lon) numpy columns of cached pages tables."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = [paths] if isinstance(paths, str) else paths
    t = pa.concat_tables(pq.read_table(p, columns=["page_id", "lat", "lon"]) for p in paths)
    return (t["page_id"].to_numpy(), t["lat"].to_numpy(), t["lon"].to_numpy())


# The polygon layers are fixed, not seeded: their cover size sets most
# of a PIP job's fixed cost, and a per-seed layer made that cost (and
# the op time) differ from seed to seed. The pages vary with the seed.

def admin_layer():
    """The 64-polygon synthetic admin layer (the generator's default)."""
    from geo_inference_spark.sources.pages import synth_admin_polygons

    return synth_admin_polygons(64)


def aoi_layer(n: int):
    """An AOI layer of ``n`` polygons, more parts than the PIP refine's
    STRtree threshold."""
    from geo_inference_spark.sources.pages import synth_admin_polygons

    return synth_admin_polygons(n, seed=11)


def raster(cache: str, seed: int, px: int, bands: int = 3):
    """A spatially smooth uint8 image (sums of seeded low-frequency
    waves) written as an LZW GeoTIFF with horizontal differencing.
    Returns (tif path, the array)."""
    from geo_inference_spark.sources.tiff import write_geotiff

    rng = np.random.RandomState(seed)
    yy, xx = np.mgrid[0:px, 0:px] / px
    planes = []
    for _ in range(bands):
        p = np.zeros((px, px))
        for _ in range(3):
            fx, fy, ph = rng.uniform(0.5, 3.0), rng.uniform(0.5, 3.0), rng.uniform(0, 2 * np.pi)
            p += np.sin(2 * np.pi * (fx * xx + fy * yy) + ph)
        planes.append(p * 40.0 + 128.0)
    # no 0 pixels: 0 is the nodata value inferred for integer rasters
    arr = np.clip(np.stack(planes), 1, 255).astype(np.uint8)

    def make(tmp):
        os.makedirs(tmp)
        write_geotiff(arr, os.path.join(tmp, "image.tif"), transform=RASTER_TRANSFORM,
                      compression="lzw", predictor=2)

    d = _cached(cache, f"raster-s{seed}-px{px}", make)
    return os.path.join(d, "image.tif"), arr


# north-up, 1 m pixels, offset like a projected CRS
RASTER_TRANSFORM = (1.0, 0.0, 500000.0, 0.0, -1.0, 5000000.0)


def request_point(seed: int, i: int, kind: str, lat: np.ndarray, lon: np.ndarray,
                  dense_radius_deg: float = 0.0, k: int = 1):
    """(lat, lon) of request ``i`` of a seeded stream. A dense point is
    a page's position plus ~1 km of jitter, redrawn until its k-th
    nearest page lies within ``dense_radius_deg`` (so ring 1 answers
    it); sparse, high-latitude and antimeridian points are drawn where
    pages are rare."""
    rng = np.random.RandomState((seed * 1_000_003 + i) % (2 ** 32))
    if kind == "dense":
        while True:
            j = rng.randint(len(lat))
            q = lat[j] + rng.normal(0, 0.01), lon[j] + rng.normal(0, 0.01)
            d = np.hypot(lat - q[0], lon - q[1])
            if np.partition(d, k - 1)[k - 1] <= dense_radius_deg:
                return float(q[0]), float(q[1])
    if kind == "sparse":
        return float(rng.uniform(-60, 60)), float(rng.uniform(-180, 180))
    if kind == "high_lat":
        return float(rng.choice([-1, 1]) * rng.uniform(70, 84)), float(rng.uniform(-180, 180))
    if kind == "antimeridian":
        return float(rng.uniform(-60, 60)), float(rng.choice([-1, 1]) * rng.uniform(179.0, 179.99))
    raise ValueError(f"unknown request kind {kind!r}")
