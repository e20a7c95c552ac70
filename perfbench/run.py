"""Geo-engine benchmark.

    python3 perfbench/run.py --workload pip_scan --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout. One run builds a local[nproc] Spark
session through geo_inference_spark.session.get_spark, makes (or
reuses) its seeded inputs, times the set-up (session build with the
JVM start, input load and one untimed operation), warms up for
--seconds, then runs the workload's operation in a closed loop for
--seconds and checks every output. Times are reported net of hypervisor steal (see
tracing.Interval); the raw wall times are printed beside them. Lines before the
last one print each metric by name with its unit; the last line is
one JSON object: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics. --trace 1 alternates traced
and untraced operations (the difference is the tracing overhead),
records the Spark event log, runs every layer probe, writes the spans
to .perfbench/spans-<workload>-<seed>.jsonl and reports the per-layer
metrics. See perfbench/README.md for what each metric should move.
"""

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# pip_scan reads pip_shards and knn_serve one of the pool_shards
# shards of shard_rows pages (gen.pool_pages). pip_scan's 2M pages: each
# pages_per_area op carries ~1.5 s of fixed cost (4 cores), a third of
# an op at 2M; at 100k pages the per-page work was under a tenth
SIZES = {
    "full": {"shard_rows": 100_000, "pool_shards": 24, "pip_shards": 20,
             "probe_pages": 50_000, "probe_px": 512, "probe_stride": 64,
             "aoi_polygons": 96, "aoi_res": 7, "strtree_queries": 5_000},
    "small": {"shard_rows": 10_000, "pool_shards": 4, "pip_shards": 2,
              "probe_pages": 10_000, "probe_px": 128, "probe_stride": 32,
              "aoi_polygons": 72, "aoi_res": 6, "strtree_queries": 1_000},
}

# name -> (unit, better); the same lists as BENCHMARK.json
END_TO_END = {
    "op_p50_ms": ("ms", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "setup_s": ("s", "lower"),
}
# name -> (unit, better, the end-to-end metric and workload it should move)
PER_LAYER = {
    "session.build_s": ("s", "lower", "setup_s on every workload"),
    "sources.scan_mb": ("MB", "lower", "op_p50_ms on pip_scan (pruning keeps it to lat/lon)"),
    "sources.scan_rows": ("count", "lower", "op_p50_ms on pip_scan"),
    "sources.tiff_read_s": ("s", "lower", "raster probe wall time"),
    "sources.sink_write_s": ("s", "lower", "raster probe wall time"),
    "sources.sink_bytes_per_poly": ("B", "lower", "raster probe wall time"),
    "grid.cells_per_s": ("1/s", "higher", "op_p50_ms on pip_scan"),
    "geocode.rows_per_s": ("1/s", "higher", "op_p50_ms on pip_scan and knn_serve; not the raster probe"),
    "pip_join.cover_build_s": ("s", "lower", "pip_job unit time (plans.*); barely pip_scan"),
    "pip_join.cover_cells": ("count", "lower", "pip_job unit time (plans.*)"),
    "pip_join.cover_boundary_frac": ("ratio", "lower", "op_p50_ms on pip_scan"),
    "pip_join.candidates_per_page": ("count", "lower", "op_p50_ms on pip_scan"),
    "pip_join.refine_yield": ("ratio", "higher", "op_p50_ms on pip_scan"),
    "pip_join.fixed_op_s": ("s", "lower", "op_p50_ms on pip_scan"),
    "geom.pip_points_per_s": ("1/s", "higher", "op_p50_ms on pip_scan"),
    "geom.strtree_queries_per_s": ("1/s", "higher", "pip_job unit time (plans.*)"),
    "geom.strtree_candidates_per_query": ("count", "lower", "pip_job unit time (plans.*)"),
    "knn.jobs_per_query": ("count", "lower", "op_p50_ms on knn_serve"),
    "knn.escalated_share": ("ratio", "lower", "the kNN probe's hard requests; not knn_serve"),
    "overlap.stitch_s": ("s", "lower", "raster probe wall time"),
    "vectorize.polygonize_s": ("s", "lower", "raster probe wall time"),
    "vectorize.polygons": ("count", "lower", "raster probe wall time"),
    "vectorize.jobs": ("count", "lower", "raster probe wall time"),
    "annotations.export_s": ("s", "lower", "raster probe wall time"),
    "plans.unit_s_p50": ("s", "lower", "pip_job wall time (plans probe) only"),
    "plans.orchestration_s": ("s", "lower", "pip_job wall time (plans probe) only"),
    "plans.bytes_written_mb": ("MB", "lower", "pip_job wall time (plans probe) only"),
    "spark.tasks": ("count", "lower", "op_p50_ms on the traced workload"),
    "spark.failed_tasks": ("count", "lower", "op_p50_ms on the traced workload"),
    "spark.shuffle_write_mb": ("MB", "lower", "op_p50_ms on the traced workload"),
    "spark.spill_mb": ("MB", "lower", "op_p50_ms on the traced workload"),
    "spark.gc_s": ("s", "lower", "op_p50_ms on the traced workload"),
    "spark.cpu_frac": ("ratio", "higher", "op_p50_ms on the traced workload"),
    "trace.overhead_ms": ("ms", "lower", "nothing: traced minus untraced op_p50_ms"),
}


def log(msg: str) -> None:
    print(msg, flush=True)


class Context:
    def __init__(self, seed: int, corrupt: bool):
        self.seed = seed
        self.corrupt = corrupt
        self.cache = os.path.join(WORK, "cache")
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")


def fence() -> int:
    """Size the session to this machine and keep every file the run
    writes inside the checkout. Must run before the JVM starts."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = f"{min(2048, mem_mb // 4)}m"
    os.environ["SPARK_DRIVER_MEM"] = heap
    # the heap is committed and touched whole at JVM start: left to
    # grow, its resident size followed GC timing and moved peak_rss_mb
    # by 10-15% between runs; fixed, peak_rss_mb moves
    # with off-heap, Arrow and Python worker memory
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m "
        f"-Xms{heap} -XX:+AlwaysPreTouch")
    # python workers import the engine from the checkout, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return nproc


def percentile_tail(values: list[float]) -> tuple[float, int] | None:
    """Highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return None
    s = sorted(values)
    idx = n - 11
    return s[idx], round(100.0 * (idx + 1) / n)


def run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "geo_inference_spark")):
        print(f"geo_inference_spark not found under {ROOT}", file=sys.stderr)
        return 2
    nproc = fence()
    sys.path.insert(0, ROOT)
    import probes
    import tracing
    from workloads import RasterVectorize, WORKLOADS

    size = SIZES[args.size]
    ctx = Context(args.seed, args.corrupt)
    os.makedirs(ctx.cache, exist_ok=True)
    load_before = tracing.load1()
    conf = {"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")}
    event_dir = os.path.join(WORK, "eventlog")
    if args.trace:
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})

    def build():
        from geo_inference_spark.session import get_spark

        s = get_spark(f"perfbench-{args.workload}", cores=nproc, extra_conf=conf)
        s.sparkContext.setLogLevel("ERROR")
        return s

    wl = WORKLOADS[args.workload](ctx, size)
    off = tracing.Tracer("off", False)
    spark = None
    try:
        # set-up: session build with the JVM start, input load and one
        # untimed op; input generation (cached by seed) is excluded
        with tracing.Interval() as build_iv:
            spark = build()
        wl.generate(spark)
        with tracing.Interval() as first:
            wl.load(spark)
            wl.op(spark, off)
        setup_wall = build_iv.wall + first.wall
        setup_net = build_iv.net + first.net
        sc = spark.sparkContext
        tracer = tracing.Tracer(f"{args.workload}-{args.seed}", args.trace, sc)

        attempted = failed = 0
        ops = []  # (Interval, traced)
        with tracing.RssSampler() as rss:
            # untimed warm-up as long as the timed loop: with a third of
            # it, kNN request times still fell by ~15% through the loop
            sc.setJobGroup("warm/-", "warm-up")
            t = time.perf_counter()
            while time.perf_counter() - t < args.seconds:
                wl.op(spark, off)
            tracer.group_prefix = "loop"
            t_loop = time.perf_counter()
            while True:
                # start another op only if it should end within the run
                # length (the first op always runs); a traced run needs
                # at least one op of each kind
                elapsed = time.perf_counter() - t_loop
                n_tr = sum(1 for _, tr in ops if tr)
                if ops and elapsed + ops[-1][0].wall > args.seconds and (
                        not args.trace or min(n_tr, len(ops) - n_tr) >= 1):
                    break
                traced = bool(args.trace) and len(ops) % 2 == 1
                sc.setJobGroup("loop/-", "untraced")
                try:
                    with tracing.Interval() as iv:
                        with tracer.span("op") if traced else contextlib.nullcontext():
                            result = wl.op(spark, tracer if traced else off)
                    ok = wl.check(result)
                except Exception:
                    traceback.print_exc()
                    ok = False
                attempted += 1
                failed += not ok
                if not ok:
                    log(f"WRONG output: {args.workload} op {len(ops)}")
                ops.append((iv, traced))
        untraced = [iv.net for iv, tr in ops if not tr]
        p50 = statistics.median(untraced)
        e2e = {
            "op_p50_ms": p50 * 1e3,
            "peak_rss_mb": rss.held_peak() / 1e6,
            "setup_s": setup_net,
        }
        layer = {}
        if args.trace:
            traced_ops = [iv.net for iv, tr in ops if tr]
            loop_spans = {s["id"] for s in tracer.spans}
            tracer.group_prefix = "probe"
            pr = probes.Probes(spark, tracer, ctx, size, log)
            raster_probe = RasterVectorize(ctx, size)
            raster_probe.generate(spark)
            raster_probe.load(spark)
            layer.update(pr.run_all(raster_probe))
            attempted += pr.attempted
            failed += pr.failed
            layer["session.build_s"] = build_iv.net
            layer["trace.overhead_ms"] = (statistics.median(traced_ops) - p50) * 1e3
            if args.workload == "pip_scan":
                fixed = layer["pip_join.fixed_op_s"]
                log(f"pip_scan op split at {wl.n} pages: op p50 {p50:.3f} s, fixed cost "
                    f"{fixed:.3f} s ({fixed / p50:.0%}; build_cover {pr.admin_cover_s:.3f} s, "
                    f"{pr.admin_cover_s / p50:.0%}), per-page work {p50 - fixed:.3f} s "
                    f"({1 - fixed / p50:.0%})")
            app_id = sc.applicationId
            self_s = tracer.self_seconds(loop_spans)
            tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
        tracing.shutdown_spark(spark)
        spark = None
        if args.trace:
            ev = tracing.parse_event_log(event_dir, app_id, "loop")
            shutil.rmtree(event_dir)
            n = len(ops)
            layer.update({
                "sources.scan_mb": ev["input_b"] / 1e6 / n,
                "sources.scan_rows": ev["input_rows"] / n,
                "spark.tasks": ev["tasks"] / n,
                "spark.failed_tasks": float(ev["failed_tasks"]),
                "spark.shuffle_write_mb": ev["shuffle_write_b"] / 1e6 / n,
                "spark.spill_mb": ev["spill_b"] / 1e6 / n,
                "spark.gc_s": ev["gc_ms"] / 1e3 / n,
                "spark.cpu_frac": ev["cpu_ns"] / 1e6 / max(ev["run_ms"], 1),
            })
            for name, sec in sorted(self_s.items()):
                log(f"span self time {name}: {sec / max(len(traced_ops), 1) * 1e3:.1f} ms/op")
    finally:
        if spark is not None:
            tracing.shutdown_spark(spark)
        shutil.rmtree(ctx.run_dir, ignore_errors=True)

    load_after = tracing.load1()
    steal = statistics.mean(iv.steal for iv, _ in ops)
    # the 1-minute load still carries the previous run's own work, so
    # only a load well above the core count marks another tenant; steal
    # is other guests on the same host
    contended = load_before > 1.5 * nproc or steal > 0.1
    log(f"workload {args.workload} seed {args.seed} local[{nproc}] "
        f"driver {os.environ['SPARK_DRIVER_MEM']} ops {len(ops)} "
        f"set-up wall {setup_wall:.2f} s net {setup_net:.2f} s")
    log(f"op wall s {[round(iv.wall, 3) for iv, _ in ops]} "
        f"steal {[round(iv.steal, 3) for iv, _ in ops]}")
    rss_med = statistics.median(rss.samples) / 1e6 if rss.samples else 0.0
    log(f"memory samples {len(rss.samples)} median {rss_med:.0f} MB held peak "
        f"{rss.held_peak() / 1e6:.0f} MB raw peak {rss.peak / 1e6:.0f} MB")
    log(f"load1 before {load_before:.2f} after {load_after:.2f} mean steal {steal:.3f}"
        f"{' CONTENDED' if contended else ''}")
    log(f"metric error_rate {failed / attempted:.4f} ratio ({failed}/{attempted})")
    if args.workload == "pip_scan":
        log(f"metric pages_per_s {wl.n / p50:.6g} 1/s")
    log(f"metric op_wall_p50_ms "
        f"{statistics.median(iv.wall for iv, tr in ops if not tr) * 1e3:.6g} ms")
    tail = percentile_tail(untraced)
    log("metric op_tail_ms " + (f"{tail[0] * 1e3:.6g} ms (p{tail[1]}, n={len(untraced)})"
                                if tail else f"n/a (n={len(untraced)} < 11)"))
    for name, (unit, _) in END_TO_END.items():
        log(f"metric {name} {e2e[name]:.6g} {unit}")
    for name, value in sorted(layer.items()):
        log(f"metric {name} {value:.6g} {PER_LAYER[name][0]}")
    chosen = layer if args.trace else e2e
    table = PER_LAYER if args.trace else END_TO_END
    missing = set(table) - set(chosen)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(chosen[k]), "unit": table[k][0]} for k in table},
    }), flush=True)
    return 0


def self_test() -> int:
    """Each workload once at the smallest sizes, traced and untraced,
    plus one run with a corrupted expected value that must be caught."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    if {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} != END_TO_END:
        problems.append("BENCHMARK.json end_to_end differs from END_TO_END")
    if {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} != {
            k: v[:2] for k, v in PER_LAYER.items()}:
        problems.append("BENCHMARK.json per_layer differs from PER_LAYER")
    for w in (x["name"] for x in spec["workloads"]):
        for trace, corrupt in ((0, False), (1, False), (0, True)):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--size", "small"]
            if corrupt:
                cmd.append("--corrupt")
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            tag = f"{w} trace={trace} corrupt={corrupt}"
            if p.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-3000:]}")
                continue
            out = json.loads(lines[-1])
            printed = {ln.split()[1]: ln.split()[3] for ln in lines[:-1]
                       if ln.startswith("metric ") and len(ln.split()) >= 4}
            table = PER_LAYER if trace else END_TO_END
            for name, spec_ in table.items():
                if out["metrics"].get(name, {}).get("unit") != spec_[0]:
                    problems.append(f"{tag}: {name} missing from the result")
            units = {"error_rate": "ratio", "op_wall_p50_ms": "ms"}
            if w == "pip_scan":
                units["pages_per_s"] = "1/s"
            units.update((k, v[0]) for k, v in END_TO_END.items())
            if trace:
                units.update((k, v[0]) for k, v in PER_LAYER.items())
            for name, unit in units.items():
                if printed.get(name) != unit:
                    problems.append(f"{tag}: {name} not printed with unit {unit}")
            if "op_tail_ms" not in p.stdout:
                problems.append(f"{tag}: op_tail_ms not printed")
            if corrupt and (out["correct"] or out["failed"] == 0):
                problems.append(f"{tag}: corrupted expected value was not caught")
            if not corrupt and not out["correct"]:
                problems.append(f"{tag}: outputs wrong\n{p.stdout[-2000:]}")
            log(f"self-test {tag}: correct={out['correct']} "
                f"attempted={out['attempted']} failed={out['failed']}")
    for p in problems:
        log(f"SELF-TEST FAILURE {p}")
    log("self-test " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["pip_scan", "knn_serve"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="input sizes; 'small' is the self-test's")
    ap.add_argument("--corrupt", action="store_true",
                    help="perturb one expected value (self-test: must be caught)")
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if args.self_test:
        return self_test()
    if args.workload is None:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
