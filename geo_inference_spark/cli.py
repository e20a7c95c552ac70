"""Command-line entry point — Spark form of the reference's
``geo_inference`` console script (cmd_interface,
/root/reference/geo_inference/utils/helpers.py:416-553; sample YAML
config/sample.yaml; console script pyproject.toml:34).

Same argument surface where it transfers to Spark (yaml config, image,
bbox, classes, patch size, prediction threshold, vec/yolo/coco sinks,
TTA flags); GPU/device selection becomes --cores (Spark resource
profiles own accelerators on a real cluster). Inputs: GeoTIFF when
rasterio is installed, or an .npy (bands, H, W) array anywhere — so
the full pipeline is drivable in this sandbox.

Usage:
  python -m geo_inference_spark.cli -i raster.npy -cls 3 -ps 16 \
      -wd /tmp/out -v True --coco True
  python -m geo_inference_spark.cli -a config.yaml
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np

from .raster.kernels import make_linear_model, tta_wrap

DEFAULTS = {
    "image": None,
    "model": None,
    "bbox": None,
    "work_dir": ".",
    "workers": 0,
    "vec": False,
    "yolo": False,
    "coco": False,
    "classes": 5,
    "patch_size": 1024,
    "prediction_thr": 0.3,
    "transformers": False,
    "transformer_flip": False,
    "transformer_rotate": False,
    "cores": 8,
    "min_area": 0.0,
    "run_id": None,
}

_TRUE = {"true", "1", "yes", "y"}


def _to_bool(v) -> bool:
    if isinstance(v, bool):
        return v
    return str(v).strip().lower() in _TRUE


def cmd_interface(argv=None) -> dict:
    """Parse argv (or a -a/--args YAML like the reference's
    config/sample.yaml, same ``arguments:`` root key) -> plain dict."""
    p = argparse.ArgumentParser(
        prog="geo-inference-spark",
        description="Extract features from imagery with the Spark engine.",
    )
    p.add_argument("-a", "--args", nargs=1, help="YAML config path")
    p.add_argument("-bb", "--bbox", nargs=1, help="'minx, miny, maxx, maxy'")
    p.add_argument("-i", "--image", nargs=1, help="GeoTIFF or .npy raster")
    p.add_argument("-m", "--model", nargs=1, help="model spec (linear:<seed>)")
    p.add_argument("-wd", "--work_dir", nargs=1, help="output directory")
    p.add_argument("-ps", "--patch_size", type=int, nargs=1)
    p.add_argument("-w", "--workers", type=int, nargs=1)
    p.add_argument("-v", "--vec", nargs=1, help="write GeoJSON polygons")
    p.add_argument("-cls", "--classes", type=int, nargs=1)
    p.add_argument("-y", "--yolo", nargs=1, help="write YOLO csv")
    p.add_argument("-c", "--coco", nargs=1, help="write COCO json")
    p.add_argument("-pr", "--prediction_thr", type=float, nargs=1)
    p.add_argument("-tr", "--transformers", nargs=1, help="enable TTA")
    p.add_argument("-tr_f", "--transformer_flip", nargs=1)
    p.add_argument("-tr_e", "--transformer_rotate", nargs=1)
    p.add_argument("--cores", type=int, nargs=1, help="local[N] cores")
    p.add_argument("--min_area", type=float, nargs=1)
    p.add_argument("--run-id", dest="run_id", nargs=1,
                   help="output-name suffix (default: random 6-hex, "
                        "the reference's uuid4().hex[:6]; pass a fixed "
                        "value for reproducible paths)")
    a = p.parse_args(argv)

    args = dict(DEFAULTS)
    if a.args:
        import yaml

        with open(a.args[0]) as f:
            cfg = yaml.safe_load(f)["arguments"]
        for k, v in cfg.items():
            key = {"mgpu": None, "device": None, "gpu_id": None}.get(k, k)
            if key in args:
                args[key] = v
        if str(args["bbox"]) == "None":
            args["bbox"] = None
    elif a.image:
        for k in args:
            v = getattr(a, k, None)
            if v is not None:
                args[k] = v[0] if isinstance(v, list) else v
    else:
        p.error("provide --image or --args (use -h for usage)")
    for k in ("vec", "yolo", "coco", "transformers", "transformer_flip",
              "transformer_rotate"):
        args[k] = _to_bool(args[k])
    for k in ("classes", "patch_size", "workers", "cores"):
        args[k] = int(args[k])
    args["prediction_thr"] = float(args["prediction_thr"])
    return args


def _load_raster(path: str, bbox):
    """GeoTIFF via the rasterio seam, .npy anywhere; bbox crops in
    pixel coords for npy, geo coords for GeoTIFF."""
    if path.endswith(".npy"):
        arr = np.load(path)
        meta = {
            "transform": (1.0, 0.0, 0.0, 0.0, 1.0, 0.0),
            "crs": None,
            "width": arr.shape[2],
            "height": arr.shape[1],
            "count": arr.shape[0],
            "nodata": None,
        }
        if bbox:
            minx, miny, maxx, maxy = (int(x) for x in str(bbox).split(","))
            arr = arr[:, miny:maxy, minx:maxx]
            meta["height"], meta["width"] = arr.shape[1], arr.shape[2]
            # shift the affine origin to the crop window so downstream
            # vec/COCO/YOLO coordinates stay in the UNCROPPED raster's
            # frame (mirrors rasterio's window_transform; ADVICE r2)
            a, b, c, d, e, f = meta["transform"]
            meta["transform"] = (
                a, b, a * minx + b * miny + c,
                d, e, d * minx + e * miny + f,
            )
        return arr.astype(np.float64), meta
    try:
        import rasterio
    except ImportError:
        # stdlib codec: classic + BigTIFF, uncompressed/LZW/deflate,
        # zero dependencies; exotic codecs raise pointing at rasterio
        from .sources.tiff import read_geotiff

        if bbox:
            raise ValueError(
                "bbox crop on GeoTIFF needs rasterio windowed reads"
            )
        return read_geotiff(path)

    with rasterio.open(path) as src:
        if bbox:
            from rasterio.windows import from_bounds

            minx, miny, maxx, maxy = (float(x) for x in str(bbox).split(","))
            win = from_bounds(minx, miny, maxx, maxy, src.transform)
            arr = src.read(window=win).astype(np.float64)
            transform = tuple(src.window_transform(win))[:6]
        else:
            arr = src.read().astype(np.float64)
            transform = tuple(src.transform)[:6]
        return arr, {
            "transform": transform,
            "crs": src.crs.to_string() if src.crs else None,
            "width": arr.shape[2],
            "height": arr.shape[1],
            "count": arr.shape[0],
            "nodata": src.nodata,
        }


def _load_model(spec, num_classes: int, work_dir=None):
    """Resolve a model spec to a callable (S7):

    * 'linear[:seed]' — the deterministic stand-in, inline;
    * a path or URL (http(s)://, file://) to a ``.gjmodel.json``
      descriptor, or to a ``.tar.gz`` bundle containing one —
      resolved through sources/artifacts.get_model (cached download,
      bearer token via $GEO_INFERENCE_TOKEN, tar.gz extract; the
      reference's model-zoo path, helpers.py:104-196);
    * a .pt path raises with the --archives deployment pointer
      (torch is absent in this sandbox).
    """
    import json
    import os

    s = str(spec)
    if spec is None or s.startswith("linear"):
        seed = int(s.split(":")[1]) if spec and ":" in s else 17
        return make_linear_model(num_classes, seed=seed)
    if s.endswith((".gjmodel.json", ".tar.gz")):
        from .sources.artifacts import get_model

        local = get_model(
            s, work_dir, access_token=os.environ.get("GEO_INFERENCE_TOKEN")
        )
        if not local.name.endswith(".gjmodel.json"):
            raise ValueError(
                f"model bundle {s!r} does not contain a .gjmodel.json "
                f"descriptor (got {local.name!r})"
            )
        desc = json.loads(local.read_text())
        if desc.get("kind") != "linear":
            raise NotImplementedError(
                f"model kind {desc.get('kind')!r} needs torch "
                "(ship via spark-submit --archives)"
            )
        return make_linear_model(
            int(desc.get("num_classes", num_classes)),
            seed=int(desc.get("seed", 17)),
        )
    raise NotImplementedError(
        "TorchScript models need torch (ship via spark-submit --archives); "
        "this sandbox supports the 'linear[:seed]' stand-in and "
        ".gjmodel.json artifacts (path, URL, or tar.gz bundle)"
    )


def run(args: dict) -> dict:
    """Execute the pipeline; returns {sink name: path} manifest."""
    from .operators.overlap import overlap_stitch, raster_to_chunks
    from .operators.vectorize import polygonize_tiles
    from .session import get_spark
    from .sources.sinks import (
        write_coco_json,
        write_geojson,
        write_mask_tiles,
        write_yolo_csv,
    )

    spark = get_spark("geo-inference-cli", cores=args["cores"])
    # artifact cache rides the job's work_dir (reference
    # geo_inference.py:98-106 uses the same dir for the model zoo)
    model = _load_model(args["model"], args["classes"],
                        work_dir=args["work_dir"])
    if args["transformers"]:
        model = tta_wrap(
            model,
            flip=args["transformer_flip"],
            rotate=args["transformer_rotate"],
        )
    stride = max(2, args["patch_size"] // 2)
    # GeoTIFF without a bbox: the distributed windowed scan — the
    # driver parses only the IFD, executors decode their own
    # strips/tiles (the 100 TB shape). Exotic codecs / .npy / bbox
    # crops fall back to the driver-side load.
    chunks = None
    if args["image"].lower().endswith((".tif", ".tiff")) and not args["bbox"]:
        try:
            from .sources.tiff import read_geotiff_chunks_distributed

            chunks, ny, nx, meta = read_geotiff_chunks_distributed(
                spark, args["image"], stride,
                partitions=args["workers"] or None,
            )
            n_bands = meta["count"]
        except ValueError:
            chunks = None
    if chunks is None:
        arr, meta = _load_raster(args["image"], args["bbox"])
        n_bands = arr.shape[0]
        chunks, ny, nx = raster_to_chunks(
            spark, arr, stride, partitions=args["workers"] or None
        )
    tiles = overlap_stitch(
        chunks, model, n_bands, stride, ny, nx, args["classes"],
        meta["nodata"], args["prediction_thr"],
    )
    wd = args["work_dir"]
    os.makedirs(wd, exist_ok=True)
    # F13: collision-avoidance suffix on output names (reference
    # geo_inference.py:225 uuid4().hex[:6]); seedable via --run-id
    from uuid import uuid4

    rid = args.get("run_id") or uuid4().hex[:6]
    out = {"run_id": rid}
    mask_path = os.path.join(wd, f"mask_tiles_{rid}.parquet")
    write_mask_tiles(tiles, mask_path)
    out["mask"] = mask_path
    if args["vec"] or args["yolo"] or args["coco"]:
        polys = polygonize_tiles(
            spark, spark.read.parquet(mask_path), stride,
            transform=meta["transform"], min_area=args["min_area"],
        ).persist()
        if args["vec"]:
            gj = os.path.join(wd, f"polygons_{rid}.geojson")
            write_geojson(polys, gj)
            out["vec"] = gj
        if args["yolo"]:
            from .operators.annotations import yolo_annotations

            yp = os.path.join(wd, f"yolo_{rid}.csv")
            write_yolo_csv(
                yolo_annotations(
                    polys, meta["transform"], meta["width"], meta["height"]
                ),
                yp,
            )
            out["yolo"] = yp
        if args["coco"]:
            from .operators.annotations import coco_annotations, coco_dict

            annos, cats = coco_annotations(
                polys, meta["transform"], meta["width"], meta["height"]
            )
            cp = os.path.join(wd, f"coco_{rid}.json")
            doc = coco_dict(
                annos, cats, os.path.basename(args["image"]),
                meta["width"], meta["height"],
            )
            write_coco_json(doc, cp)
            out["coco"] = cp
    return out


def main(argv=None) -> None:
    out = run(cmd_interface(argv))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
