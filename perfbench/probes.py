"""Layer probes for the traced run.

Each probe calls one layer's public functions on the run's seeded
probe inputs inside a span, checks what it can against oracle.py, and
returns that layer's metrics. Every traced run executes every probe,
so each per-layer metric is measured on every workload.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

import gen
import oracle
import tracing


def _timed(fn, reps: int = 3) -> float:
    """Median time of ``reps`` calls, net of steal like the loop's ops."""
    times = []
    for _ in range(reps):
        with tracing.Interval() as iv:
            fn()
        times.append(iv.net)
    return statistics.median(times)


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


class Probes:
    def __init__(self, spark, tracer, ctx, size: dict, log):
        self.spark, self.tr, self.ctx, self.size, self.log = spark, tracer, ctx, size, log
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, float] = {}
        self.pages_path = gen.pages_table(spark, ctx.cache, ctx.seed, size["probe_pages"])
        self.ids, self.lat, self.lon = gen.page_points(self.pages_path)
        self.admin = gen.admin_layer()
        self.aoi = gen.aoi_layer(size["aoi_polygons"])

    def _verdict(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.log(f"WRONG probe output: {what}")

    def run_all(self, raster_workload) -> dict[str, float]:
        for probe in (self.geocode, self.grid, self.cover, self.refine, self.fixed,
                      self.strtree, self.knn, self.plans):
            probe()
        self.raster(raster_workload)
        return self.metrics

    # -------------------------------------------------------- geocode, grid
    def geocode(self):
        from pyspark.sql import functions as F

        from geo_inference_spark.operators.geocode import hex_cell_udf

        df = self.spark.read.parquet(self.pages_path)

        def once():
            with self.tr.span("geocode.hex_cell_udf"):
                df.select(hex_cell_udf(9)(F.col("lat"), F.col("lon"))).write.format(
                    "noop").mode("overwrite").save()

        self.metrics["geocode.rows_per_s"] = len(self.lat) / _timed(once)

    def grid(self):
        from geo_inference_spark.grid import hexgrid

        def once():
            with self.tr.span("grid.latlng_to_cell"):
                hexgrid.latlng_to_cell(self.lat, self.lon, 9)

        self.metrics["grid.cells_per_s"] = len(self.lat) / _timed(once)

    # -------------------------------------------------------- pip_join, geom
    def cover(self):
        from geo_inference_spark.operators.pip_join import build_cover

        with self.tr.span("pip_join.build_cover") as c:
            t = time.perf_counter()
            cov = build_cover(self.aoi, self.size["aoi_res"])
            self.metrics["pip_join.cover_build_s"] = time.perf_counter() - t
            c["cells"] = len(cov)
        self.metrics["pip_join.cover_cells"] = float(len(cov))

    def refine(self):
        """The admin layer's res-9 cover (pip_scan's), its boundary
        fraction, candidates per page and the refine's useful-to-attempted
        ratio, counted from outside with hex_cell_udf and build_cover;
        the boundary candidates then time geom.points_in_polygon."""
        import pandas as pd
        from pyspark.sql import functions as F

        from geo_inference_spark.geom.core import points_in_polygon
        from geo_inference_spark.geom.wkb import iter_polygons
        from geo_inference_spark.operators.geocode import hex_cell_udf
        from geo_inference_spark.operators.pip_join import build_cover

        with self.tr.span("pip_join.build_cover", layer="admin"):
            t = time.perf_counter()
            cov = build_cover(self.admin, 9)
            self.admin_cover_s = time.perf_counter() - t
        self.metrics["pip_join.cover_boundary_frac"] = float(cov["boundary"].mean())
        res_list = sorted(int(r) for r in cov["res"].unique())
        with self.tr.span("geocode.hex_cell_udf"):
            pts = self.spark.read.parquet(self.pages_path).select(
                "lat", "lon",
                *[hex_cell_udf(r)(F.col("lat"), F.col("lon")).alias(f"c{r}") for r in res_list],
            ).toPandas()
        cand = pd.concat([
            pts[["lat", "lon", f"c{r}"]].merge(
                cov[cov["res"] == r], left_on=f"c{r}", right_on="cell")
            for r in res_list
        ])
        bnd = cand[cand["boundary"]]
        rings = {int(a): list(iter_polygons(w))
                 for a, w in zip(self.admin["area_id"], self.admin["geom_wkb"])}
        groups = [(g["lon"].to_numpy(), g["lat"].to_numpy(), rings[int(a)])
                  for a, g in bnd.groupby("area_id")]
        matched = 0
        with self.tr.span("geom.points_in_polygon", points=len(bnd)):
            t = time.perf_counter()
            for x, y, parts in groups:
                hit = np.zeros(len(x), dtype=bool)
                for p in parts:
                    hit |= points_in_polygon(x, y, p)
                matched += int(hit.sum())
            dt = time.perf_counter() - t
        self.metrics["pip_join.candidates_per_page"] = len(cand) / len(pts)
        self.metrics["pip_join.refine_yield"] = matched / max(len(bnd), 1)
        self.metrics["geom.pip_points_per_s"] = len(bnd) / dt

    def fixed(self):
        """pages_per_area on a 2,000-page table: the part of a pip_scan
        op that does not grow with the page count (cover build, job
        planning, cover broadcast, UDF set-up)."""
        from geo_inference_spark.operators.pip_join import pages_per_area

        path = gen.pages_table(self.spark, self.ctx.cache, self.ctx.seed, 2_000)
        _, lat, lon = gen.page_points(path)
        exp = oracle.area_counts(lat, lon, self.admin)
        df = self.spark.read.parquet(path)
        got = []

        def once():
            with self.tr.span("pip_join.pages_per_area", pages=len(lat)):
                got.append(pages_per_area(self.spark, df, self.admin, res=9).collect())

        self.metrics["pip_join.fixed_op_s"] = _timed(once)
        self._verdict("fixed-cost pages_per_area counts", all(
            {int(r["area_id"]): int(r["cnt"]) for r in rows} == exp for rows in got))

    def strtree(self):
        from geo_inference_spark.geom.core import bounds_of_rings
        from geo_inference_spark.geom.strtree import STRtree
        from geo_inference_spark.geom.wkb import iter_polygons

        boxes = np.array([bounds_of_rings(p) for w in self.aoi["geom_wkb"]
                          for p in iter_polygons(w)])
        tree = STRtree(boxes)
        n = min(self.size["strtree_queries"], len(self.lat))
        q = np.stack([self.lon[:n], self.lat[:n], self.lon[:n], self.lat[:n]], axis=1)
        with self.tr.span("geom.strtree_query_many", queries=n):
            t = time.perf_counter()
            qi, _ = tree.query_many(q)
            dt = time.perf_counter() - t
        self.metrics["geom.strtree_queries_per_s"] = n / dt
        self.metrics["geom.strtree_candidates_per_query"] = len(qi) / n

    # -------------------------------------------------------- knn
    def knn(self):
        """One rotation of dense and hard (sparse, high-latitude,
        antimeridian) requests on the probe table: Spark jobs per
        request (job group per span) and the share of kNN requests that
        ran more jobs than ring 1 needs. A dense request is drawn so
        that ring 1 answers it, so its job count is the ring-1 count of
        its metric; a request with more jobs escalated or fell back."""
        from workloads import KnnServe

        wl = KnnServe(self.ctx, self.size, KnnServe.MIXED)
        wl.generate(self.spark)
        wl.load(self.spark)
        done = []  # (point kind, request type, jobs)
        for _ in range(len(KnnServe.MIXED)):
            r = wl.op(self.spark, self.tr)
            done.append((self.tr.spans[-1]["counts"]["kind"], r["rtype"],
                         self.tr.spans[-1]["counts"]["jobs"]))
            self._verdict(f"{r['rtype']} request", wl.check(r))
        ring1 = {rtype: jobs for kind, rtype, jobs in done if kind == "dense"}
        knn = [(rtype, jobs) for _, rtype, jobs in done if rtype != "radius"]
        self.log(f"knn probe jobs per request (kind, type, jobs): {done}")
        self.metrics["knn.jobs_per_query"] = float(np.mean([j for *_, j in done]))
        self.metrics["knn.escalated_share"] = sum(
            jobs > ring1[rtype] for rtype, jobs in knn) / len(knn)

    # -------------------------------------------------------- plans
    def plans(self):
        from geo_inference_spark.plans.ledger import CheckpointLedger
        from geo_inference_spark.plans.pip_job import (
            finalize_pip_job,
            resumable_pip_job,
            unit_keys,
        )

        base = os.path.join(self.ctx.run_dir, "plans")
        shutil.rmtree(base, ignore_errors=True)
        out, led = os.path.join(base, "out"), os.path.join(base, "ledger")
        units = 8
        ledger = CheckpointLedger(self.spark, led)
        pages = self.spark.read.parquet(self.pages_path)
        with self.tr.span("plans.resumable_pip_job", units=units):
            t = time.perf_counter()
            resumable_pip_job(self.spark, pages, self.aoi, out, self.size["aoi_res"],
                              ledger, f"s{self.ctx.seed}", n_units=units)
            wall = time.perf_counter() - t
        with self.tr.span("plans.finalize_pip_job"):
            fin = finalize_pip_job(self.spark, out, units).toPandas()
        rows = ledger.metrics().toPandas()
        got = {int(a): int(c) for a, c in zip(fin["area_id"], fin["cnt"])}
        exp = oracle.area_counts(self.lat, self.lon, self.aoi)
        self._verdict("pip_job per-area counts", got == exp)
        self._verdict("pip_job ledger rows", sorted(rows["part_key"]) == sorted(
            unit_keys(f"s{self.ctx.seed}", units)))
        unit_s = rows["wall_ms"].to_numpy() / 1e3
        self.metrics["plans.unit_s_p50"] = float(np.median(unit_s))
        self.metrics["plans.orchestration_s"] = wall - float(unit_s.sum())
        self.metrics["plans.bytes_written_mb"] = _du_mb(out) + _du_mb(led)

    # -------------------------------------------------------- raster
    def raster(self, workload):
        """One raster op at probe size, plus a tiff-scan-only pass."""
        from geo_inference_spark.sources.tiff import read_geotiff_chunks_distributed

        def scan():
            with self.tr.span("sources.read_geotiff_chunks_distributed"):
                chunks, *_ = read_geotiff_chunks_distributed(
                    self.spark, workload.tif, workload.stride)
                chunks.write.format("noop").mode("overwrite").save()

        self.metrics["sources.tiff_read_s"] = _timed(scan)
        result = workload.op(self.spark, self.tr)
        self._verdict("raster probe polygons", workload.check(result))
        for k, v in result["layer"].items():
            self.metrics[k] = v
