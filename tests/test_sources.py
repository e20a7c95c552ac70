"""Manifest / GeoJSON / zarr-metadata sources and CRS helpers."""

import json

import math
import pytest

from geo_inference_spark.functions.crs import check_crs, transform_bounds
from geo_inference_spark.sources.manifest import (
    parse_zarr_metadata,
    read_geojson_polygons,
    read_manifest,
    zarr_metadata_dict,
)


def test_read_manifest_sorted_by_split(spark, tmp_path):
    p = tmp_path / "aoi.csv"
    p.write_text(
        "b.tif,b.gpkg,val,aoi2\n"
        "a.tif,a.gpkg,trn,aoi1\n"
        ",x.gpkg,tst,aoi3\n"  # missing tif -> dropped
    )
    rows = read_manifest(spark, str(p)).collect()
    assert [r.split for r in rows] == ["trn", "val"]
    assert rows[0].tif == "a.tif"


def test_read_geojson_polygons(spark, tmp_path):
    doc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"value": 4.0},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]],
                },
            },
            {"type": "Feature", "properties": {},
             "geometry": {"type": "Point", "coordinates": [0, 0]}},
        ],
    }
    p = tmp_path / "v.geojson"
    p.write_text(json.dumps(doc))
    rows = read_geojson_polygons(spark, str(p)).collect()
    assert len(rows) == 1 and rows[0].value == 4.0
    # graceful empty on missing file (geo.py:36-56 behavior)
    assert read_geojson_polygons(spark, str(tmp_path / "nope.geojson")).count() == 0


ZMETA = {
    "crs": "EPSG:4326",
    "transform": "| 0.5, 0.0, 100.0 |\n| 0.0, -0.5, 300.0 |",
    "count": 3, "width": 512, "height": 256,
    "driver": "GTiff", "dtype": "uint8",
}


def test_zarr_metadata_in_plan(spark):
    df = spark.createDataFrame([(json.dumps(ZMETA),)], schema="meta_json string")
    row = parse_zarr_metadata(spark, df).collect()[0]
    assert row.width == 512 and row["count"] == 3  # .count is Row's method
    assert list(row.affine6) == [0.5, 0.0, 100.0, 0.0, -0.5, 300.0]


def test_zarr_metadata_driver_twin(tmp_path):
    p = tmp_path / "m.json"
    p.write_text(json.dumps(ZMETA))
    meta = zarr_metadata_dict(str(p))
    assert meta["transform"] == (0.5, 0.0, 100.0, 0.0, -0.5, 300.0)


def test_crs_check_and_bounds():
    assert check_crs(4326) == "EPSG:4326"
    assert check_crs("epsg:3857") == "EPSG:3857"
    with pytest.raises(ValueError):
        check_crs("not-a-crs")
    b = transform_bounds(4326, 3857, -1.0, -1.0, 1.0, 1.0)
    assert b[0] == pytest.approx(-111319.49, rel=1e-4)
    rt = transform_bounds(3857, 4326, *b)
    assert all(math.isclose(a, e, abs_tol=1e-9) for a, e in zip(rt, (-1, -1, 1, 1)))
    assert transform_bounds(4326, 4326, 1, 2, 3, 4) == (1, 2, 3, 4)


STAC_ITEM = {
    "type": "Feature",
    "assets": {
        "B04": {"href": "s3://x/red.tif", "eo:bands": [{"common_name": "red"}]},
        "B03": {"href": "s3://x/green.tif", "eo:bands": [{"common_name": "green"}]},
        "B02": {"href": "s3://x/blue.tif", "eo:bands": [{"common_name": "blue"}]},
        "thumb": {"href": "s3://x/t.png"},
    },
}


def test_stac_asset_resolution(tmp_path):
    import json as _json

    from geo_inference_spark.sources.manifest import (
        stac_assets_by_common_name,
        stac_band_hrefs,
    )

    p = tmp_path / "item.json"
    p.write_text(_json.dumps(STAC_ITEM))
    assets = stac_assets_by_common_name(str(p))
    assert set(assets) == {"red", "green", "blue"}
    assert assets["red"]["name"] == "B04"
    assert stac_band_hrefs(str(p), ["blue", "red"]) == [
        "s3://x/blue.tif", "s3://x/red.tif",
    ]
    with pytest.raises(ValueError):
        stac_band_hrefs(str(p), ["nir", "red"])
    bad = dict(STAC_ITEM)
    bad["assets"] = {"B1": {"href": "x", "eo:bands": [{"common_name": "purple"}]}}
    p2 = tmp_path / "bad.json"
    p2.write_text(_json.dumps(bad))
    with pytest.raises(ValueError):
        stac_assets_by_common_name(str(p2))


# --------------------------------------------------------- raster IO seam

def test_raster_io_gated_without_rasterio():
    import geo_inference_spark.sources.raster_io as rio_mod

    if rio_mod._HAS_RASTERIO:  # pragma: no cover - not in this container
        return
    import pytest as _pytest

    with _pytest.raises(ImportError, match="rasterio"):
        rio_mod.read_geotiff_chunks(None, "/x.tif", 8)
    # write_mask_geotiff no longer gates on rasterio: the stdlib codec
    # writes the LZW profile itself (test_mask_geotiff_sink_stdlib_lzw)


def test_raster_io_profile_and_assembly():
    """The rasterio-free pieces: reference mask profile fields and the
    tile -> dense assembly (trim + 255 fill for absent tiles)."""
    import numpy as np

    from geo_inference_spark.sources.raster_io import assemble_mask, mask_profile

    meta = {"width": 10, "height": 7, "crs": "EPSG:4326",
            "transform": (1.0, 0.0, 5.0, 0.0, -1.0, 9.0)}
    prof = mask_profile(meta)
    assert prof["driver"] == "GTiff" and prof["dtype"] == "uint8"
    assert prof["compress"] == "lzw" and prof["BIGTIFF"] == "YES"
    assert prof["nodata"] == 255 and prof["count"] == 1 and prof["tiled"]

    t00 = np.arange(16, dtype=np.uint8).reshape(4, 4)
    rows = [
        {"ty": 0, "tx": 0, "mask": t00.tobytes()},
        {"ty": 1, "tx": 2, "mask": np.full((4, 4), 7, np.uint8).tobytes()},
    ]
    m = assemble_mask(rows, 4, 7, 10)
    assert m.shape == (7, 10)
    np.testing.assert_array_equal(m[:4, :4], t00)
    assert (m[4:7, 8:10] == 7).all()
    assert (m[:4, 4:8] == 255).all()  # absent tiles -> nodata


# --------------------------------------------------------- zarr v2 store

def test_zarr_v2_roundtrip_and_stitch(spark, tmp_path):
    """write_zarr_v2 -> read_zarr_chunks -> overlap stitch == the dense
    pipeline on the original array (real zarr end-to-end, stdlib-only);
    edge chunks pad, missing chunks fill, zlib + raw both work."""
    import numpy as np

    from geo_inference_spark.operators.overlap import (
        bytes_to_np,
        overlap_stitch,
    )
    from geo_inference_spark.raster.dense import dense_infer_mask
    from geo_inference_spark.raster.kernels import make_linear_model
    from geo_inference_spark.sources.zarr_store import (
        read_zarr_chunks,
        write_zarr_v2,
    )

    rng = np.random.RandomState(12)
    arr = rng.uniform(0, 255, size=(2, 18, 27))  # NOT chunk-aligned
    for comp in ("zlib", None):
        zp = str(tmp_path / f"a_{comp}.zarr")
        write_zarr_v2(arr, zp, spatial_chunk=4, compressor=comp)
        chunks, ny, nx, meta = read_zarr_chunks(spark, zp)
        assert (ny, nx) == (5, 7) and meta["shape"] == [2, 18, 27]
        rows = {(r.ty, r.tx): bytes_to_np(bytes(r.chunk), (2, 4, 4))
                for r in chunks.collect()}
        assert len(rows) == 35
        np.testing.assert_array_equal(rows[(0, 0)], arr[:, :4, :4])
        # edge chunk zero-padded beyond the array extent
        edge = rows[(4, 6)]
        np.testing.assert_array_equal(edge[:, :2, :3], arr[:, 16:18, 24:27])
        assert (edge[:, 2:, :] == 0).all() and (edge[:, :, 3:] == 0).all()
        got_tiles = overlap_stitch(
            chunks, make_linear_model(3), 2, 4, ny, nx, 3
        ).collect()
        mask = np.zeros((ny * 4, nx * 4), dtype=np.uint8)
        for r in got_tiles:
            m = np.frombuffer(bytes(r.mask), dtype=np.uint8).reshape(4, 4)
            mask[r.ty * 4:(r.ty + 1) * 4, r.tx * 4:(r.tx + 1) * 4] = m
        # dense reference pads 18x27 -> 20x28 with zeros exactly like
        # the zarr edge chunks do
        exp = dense_infer_mask(arr, make_linear_model(3), 8, 3)
        np.testing.assert_array_equal(mask[:18, :27], exp)


def test_zarr_v2_unsupported_codec(tmp_path):
    import json
    import os

    import pytest as _pytest

    from geo_inference_spark.sources.zarr_store import _zarray_meta

    zp = str(tmp_path / "b.zarr")
    os.makedirs(zp)
    with open(os.path.join(zp, ".zarray"), "w") as f:
        json.dump({"zarr_format": 2, "shape": [1, 4, 4],
                   "chunks": [1, 4, 4], "dtype": "<f8", "order": "C",
                   "fill_value": 0, "filters": None,
                   "compressor": {"id": "blosc"}}, f)
    with _pytest.raises(ValueError, match="blosc"):
        _zarray_meta(zp)


# --------------------------------------------------------- stdlib GeoTIFF

def test_geotiff_roundtrip_and_chunks(spark, tmp_path):
    """write_geotiff -> read_geotiff roundtrips pixels, transform and
    EPSG for multi-band float and single-band uint8; the chunk scan
    feeds the stitch unchanged."""
    import numpy as np

    from geo_inference_spark.operators.overlap import bytes_to_np, raster_to_chunks
    from geo_inference_spark.sources.tiff import read_geotiff, write_geotiff

    rng = np.random.RandomState(5)
    t = (0.5, 0.0, 100.0, 0.0, -0.5, 300.0)
    # multi-band float32, multiple strips
    a = rng.uniform(0, 255, size=(3, 70, 40)).astype(np.float32)
    fp = str(tmp_path / "a.tif")
    write_geotiff(a, fp, transform=t, epsg=32618, rows_per_strip=16)
    got, meta = read_geotiff(fp)
    np.testing.assert_array_equal(got, a.astype(np.float64))
    assert meta["transform"] == t
    assert meta["crs"] == "EPSG:32618"
    assert (meta["count"], meta["height"], meta["width"]) == (3, 70, 40)
    # single-band uint8 mask (the S8 shape), one strip
    m = rng.randint(0, 4, size=(12, 16)).astype(np.uint8)
    fp2 = str(tmp_path / "m.tif")
    write_geotiff(m, fp2, transform=t, epsg=4326, rows_per_strip=64)
    got2, meta2 = read_geotiff(fp2)
    np.testing.assert_array_equal(got2[0], m.astype(np.float64))
    assert meta2["crs"] == "EPSG:4326"
    # distributed chunk scan
    df, ny, nx = raster_to_chunks(spark, got, stride=8)
    assert (ny, nx) == (9, 5)  # 70->72, 40->40 at stride 8
    r = {(x.ty, x.tx): bytes_to_np(bytes(x.chunk), (3, 8, 8))
         for x in df.collect()}
    np.testing.assert_array_equal(r[(0, 0)], a[:, :8, :8].astype(np.float64))


def test_geotiff_reader_rejects_exotic_codec(tmp_path):
    import struct

    import pytest as _pytest

    from geo_inference_spark.sources.tiff import read_geotiff

    # forge a minimal IFD claiming OLD-style JPEG compression (6) —
    # deprecated by TechNote 2 and outside the codec set (new-style
    # JPEG (7) is handled natively since round 5)
    ifd = struct.pack("<H", 1) + struct.pack(
        "<HHI", 259, 3, 1
    ) + struct.pack("<HH", 6, 0) + struct.pack("<I", 0)
    buf = b"II*\0" + struct.pack("<I", 8) + ifd
    fp = str(tmp_path / "c.tif")
    open(fp, "wb").write(buf)
    with _pytest.raises(ValueError, match="rasterio"):
        read_geotiff(fp)


# ---------------------------------------------------- TIFF codec matrix

def _comp_seg(raw: bytes, comp: int) -> bytes:
    import zlib as _z

    from geo_inference_spark.sources.tiff import lzw_encode, packbits_encode

    if comp == 5:
        return lzw_encode(raw)
    if comp == 8:
        return _z.compress(raw)
    if comp == 32773:
        return packbits_encode(raw)
    return raw


def _forge_tiff(arr_hwb, bo, path, comp=1, tiled=False, predictor=1,
                big=False, rps=8, ts=8):
    """Build a TIFF the stdlib WRITER can't produce (big-endian, tiled,
    predictor, BigTIFF) so the READER's full matrix is pinned. arr is
    (h, w, bands) in native order."""
    import struct
    import zlib as _zlib

    import numpy as np

    from geo_inference_spark.sources.tiff import lzw_encode

    h, w, bands = arr_hwb.shape
    dt = arr_hwb.dtype.newbyteorder(bo)
    segs = []
    if tiled:
        for ty in range(-(-h // ts)):
            for tx in range(-(-w // ts)):
                block = np.zeros((ts, ts, bands), arr_hwb.dtype)
                sub = arr_hwb[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts]
                block[: sub.shape[0], : sub.shape[1]] = sub
                segs.append(block)
    else:
        segs = [arr_hwb[y0:y0 + rps] for y0 in range(0, h, rps)]
    data = []
    for s in segs:
        if predictor == 2:
            s = s.copy()
            s[:, 1:] = s[:, 1:] - s[:, :-1]  # wraps in the uint dtype
        if predictor == 3:
            from geo_inference_spark.sources.tiff import _fp_predict

            data.append(_comp_seg(_fp_predict(s.astype(s.dtype)), comp))
            continue
        raw = np.ascontiguousarray(s.astype(dt)).tobytes()
        if comp == 5:
            raw = lzw_encode(raw)
        elif comp == 8:
            raw = _zlib.compress(raw)
        elif comp == 32773:
            from geo_inference_spark.sources.tiff import packbits_encode
            raw = packbits_encode(raw)
        data.append(raw)

    fmt = {"u": 1, "i": 2, "f": 3}[arr_hwb.dtype.kind]
    bits = arr_hwb.dtype.itemsize * 8
    off_t = 16 if big else 4  # LONG8 vs LONG for offsets/counts
    ent = [  # (tag, typ, [values])
        (256, 3, [w]), (257, 3, [h]), (258, 3, [bits] * bands),
        (259, 3, [comp]), (262, 3, [1]), (277, 3, [bands]),
        (284, 3, [1]), (339, 3, [fmt] * bands),
    ]
    if predictor != 1:
        ent.append((317, 3, [predictor]))
    if tiled:
        ent += [(322, 3, [ts]), (323, 3, [ts]),
                (324, off_t, None), (325, off_t, None)]
    else:
        ent += [(278, 3, [rps]), (273, off_t, None), (279, off_t, None)]
    ent.sort(key=lambda e: e[0])

    tsz = {3: 2, 4: 4, 16: 8}
    inline = 8 if big else 4
    esz = 20 if big else 12
    hdr = 16 if big else 8
    ifd_sz = (8 if big else 2) + len(ent) * esz + (8 if big else 4)
    blob0 = hdr + ifd_sz
    # blob layout: out-of-line payloads in entry order
    cur = blob0
    blob_off = {}
    for tag, typ, vals in ent:
        n = len(data) if vals is None else len(vals)
        sz = tsz[typ] * n
        if sz > inline:
            blob_off[tag] = cur
            cur += sz
    seg0 = cur
    seg_off = []
    for d in data:
        seg_off.append(cur)
        cur += len(d)

    def pk(code, vals):
        return struct.pack(f"{bo}{len(vals)}{code}", *vals)

    code_of = {3: "H", 4: "I", 16: "Q"}
    out = bytearray()
    if big:
        out += ("II" if bo == "<" else "MM").encode()
        out += struct.pack(f"{bo}HHHQ", 43, 8, 0, hdr)
        out += struct.pack(f"{bo}Q", len(ent))
    else:
        out += ("II" if bo == "<" else "MM").encode()
        out += struct.pack(f"{bo}HI", 42, hdr)
        out += struct.pack(f"{bo}H", len(ent))
    blobs = bytearray()
    for tag, typ, vals in ent:
        if vals is None:
            vals = seg_off if tag in (273, 324) else [len(d) for d in data]
        payload = pk(code_of[typ], vals)
        out += struct.pack(f"{bo}HH", tag, typ)
        out += struct.pack(f"{bo}{'Q' if big else 'I'}", len(vals))
        if len(payload) > inline:
            out += struct.pack(f"{bo}{'Q' if big else 'I'}", blob_off[tag])
            blobs += payload
        else:
            out += payload.ljust(inline, b"\0")
    out += struct.pack(f"{bo}{'Q' if big else 'I'}", 0)  # next IFD
    out += blobs
    assert len(out) == seg0, (len(out), seg0)
    for d in data:
        out += d
    open(path, "wb").write(bytes(out))


def test_geotiff_reader_full_matrix(tmp_path):
    """byte order x striped/tiled x dtype x codec against the forge —
    pins the reader before the codec grows (VERDICT r3 task)."""
    import itertools

    import numpy as np

    from geo_inference_spark.sources.tiff import read_geotiff

    rng = np.random.RandomState(9)
    i = 0
    for bo, tiled, comp, dtype in itertools.product(
        ("<", ">"), (False, True), (1, 5, 8, 32773),
        (np.uint8, np.uint16, np.float32),
    ):
        if dtype == np.float32:
            a = rng.uniform(0, 255, size=(20, 13, 2)).astype(dtype)
        else:
            a = rng.randint(0, 200, size=(20, 13, 2)).astype(dtype)
        fp = str(tmp_path / f"m{i}.tif")
        _forge_tiff(a, bo, fp, comp=comp, tiled=tiled)
        got, meta = read_geotiff(fp)
        np.testing.assert_array_equal(
            got, np.moveaxis(a, -1, 0).astype(np.float64),
            err_msg=f"bo={bo} tiled={tiled} comp={comp} dtype={dtype}",
        )
        assert (meta["count"], meta["height"], meta["width"]) == (2, 20, 13)
        i += 1


def test_geotiff_reader_lzw_predictor2(tmp_path):
    """LZW + horizontal-differencing predictor (the common GDAL
    profile) for uint8 and uint16, striped and tiled."""
    import numpy as np

    from geo_inference_spark.sources.tiff import read_geotiff

    rng = np.random.RandomState(10)
    for dtype in (np.uint8, np.uint16):
        for tiled in (False, True):
            a = rng.randint(0, 250, size=(17, 11, 1)).astype(dtype)
            fp = str(tmp_path / f"p_{dtype.__name__}_{tiled}.tif")
            _forge_tiff(a, "<", fp, comp=5, tiled=tiled, predictor=2)
            got, _ = read_geotiff(fp)
            np.testing.assert_array_equal(
                got[0], a[:, :, 0].astype(np.float64)
            )


def test_geotiff_float_predictor3(tmp_path):
    """TIFF predictor 3 (TechNote 3 float horizontal differencing) —
    write+read across f32/f64, LZW/deflate, 1/3 bands, truncated final
    strips (VERDICT r3 #7); plus a hand-computed byte golden pinning
    the MSB-first plane order (a symmetric encode/decode bug would
    roundtrip but break spec interop)."""
    import numpy as np

    from geo_inference_spark.sources.tiff import (
        _fp_predict,
        read_geotiff,
        write_geotiff,
    )

    # golden: [1.0, 2.0] f32 -> BE bytes 3F800000 40000000 ->
    # planes 3F 40 | 80 00 | 00 00 | 00 00 -> diff(stride 1)
    got = _fp_predict(np.array([[[1.0], [2.0]]], dtype=np.float32))
    assert got == bytes.fromhex("3f014080 00000000".replace(" ", ""))

    rng = np.random.RandomState(31)
    for dtype in (np.float32, np.float64):
        for comp in ("lzw", "deflate"):
            for bands in (1, 3):
                a = rng.uniform(-1e3, 1e3, size=(bands, 45, 37)).astype(dtype)
                fp = str(tmp_path / f"p3_{np.dtype(dtype).name}_{comp}_{bands}.tif")
                write_geotiff(a, fp, compression=comp, predictor=3,
                              rows_per_strip=16)
                got_a, meta = read_geotiff(fp)
                np.testing.assert_array_equal(got_a.astype(dtype), a)

    # predictor 3 actually helps: smooth f32 raster compresses smaller
    import os

    yy, xx = np.mgrid[0:64, 0:64]
    smooth = (np.sin(yy / 9.0) + np.cos(xx / 7.0)).astype(np.float32)[None]
    write_geotiff(smooth, str(tmp_path / "nop.tif"), compression="lzw")
    write_geotiff(smooth, str(tmp_path / "p3.tif"), compression="lzw",
                  predictor=3)
    assert os.path.getsize(str(tmp_path / "p3.tif")) < os.path.getsize(
        str(tmp_path / "nop.tif")
    )


def test_geotiff_writer_predictor2_int(tmp_path):
    """Writer-side predictor 2 (int horizontal differencing) for
    uint8/16/32 with wraparound, read back by the existing cumsum."""
    import numpy as np

    from geo_inference_spark.sources.tiff import read_geotiff, write_geotiff

    rng = np.random.RandomState(32)
    for dtype in (np.uint8, np.uint16, np.int32):
        a = rng.randint(0, 200, size=(2, 40, 31)).astype(dtype)
        fp = str(tmp_path / f"p2_{np.dtype(dtype).name}.tif")
        write_geotiff(a, fp, compression="lzw", predictor=2,
                      rows_per_strip=16)
        got, _ = read_geotiff(fp)
        np.testing.assert_array_equal(got.astype(dtype), a)


def test_geotiff_distributed_scan_predictor3(spark, tmp_path):
    """The executor-side windowed scan decodes predictor-3 LZW floats
    identically to the driver full read."""
    import numpy as np

    from geo_inference_spark.operators.overlap import bytes_to_np
    from geo_inference_spark.sources.tiff import (
        read_geotiff,
        read_geotiff_chunks_distributed,
        write_geotiff,
    )

    rng = np.random.RandomState(33)
    a = rng.uniform(-500, 500, size=(2, 37, 29)).astype(np.float32)
    fp = str(tmp_path / "p3d.tif")
    write_geotiff(a, fp, compression="lzw", predictor=3, rows_per_strip=16)
    full, _ = read_geotiff(fp)
    chunks, ny, nx, meta = read_geotiff_chunks_distributed(spark, fp, 8)
    got = {(r.ty, r.tx): bytes_to_np(bytes(r.chunk), (2, 8, 8))
           for r in chunks.collect()}
    assert len(got) == ny * nx
    for (ty, tx), chunk in got.items():
        y0, x0 = ty * 8, tx * 8
        ys, xs = min(8, 37 - y0), min(8, 29 - x0)
        np.testing.assert_array_equal(
            chunk[:, :ys, :xs], full[:, y0:y0 + ys, x0:x0 + xs]
        )


def test_geotiff_reader_bigtiff(tmp_path):
    """BigTIFF (magic 43, 8-byte offsets, LONG8 strip tags), both byte
    orders, LZW-compressed — the reference's container format."""
    import numpy as np

    from geo_inference_spark.sources.tiff import read_geotiff

    rng = np.random.RandomState(11)
    for bo in ("<", ">"):
        a = rng.randint(0, 255, size=(23, 9, 3)).astype(np.uint8)
        fp = str(tmp_path / f"big_{'le' if bo == '<' else 'be'}.tif")
        _forge_tiff(a, bo, fp, comp=5, big=True)
        got, meta = read_geotiff(fp)
        np.testing.assert_array_equal(
            got, np.moveaxis(a, -1, 0).astype(np.float64)
        )
        assert (meta["count"], meta["height"], meta["width"]) == (3, 23, 9)


def test_geotiff_writer_compression_roundtrip(tmp_path):
    """write_geotiff(compression=lzw/deflate) -> read_geotiff equals
    the array, for every supported dtype; LZW actually shrinks a
    low-entropy mask."""
    import os

    import numpy as np

    from geo_inference_spark.sources.tiff import read_geotiff, write_geotiff

    rng = np.random.RandomState(12)
    t = (0.25, 0.0, 10.0, 0.0, -0.25, 90.0)
    for comp in ("lzw", "deflate"):
        for dtype in (np.uint8, np.uint16, np.uint32, np.float32, np.float64):
            if np.issubdtype(dtype, np.floating):
                a = rng.uniform(0, 255, size=(2, 33, 21)).astype(dtype)
            else:
                a = rng.randint(0, 5, size=(2, 33, 21)).astype(dtype)
            fp = str(tmp_path / f"w_{comp}_{np.dtype(dtype).name}.tif")
            write_geotiff(a, fp, transform=t, epsg=32618,
                          rows_per_strip=16, compression=comp)
            got, meta = read_geotiff(fp)
            np.testing.assert_array_equal(got, a.astype(np.float64))
            assert meta["transform"] == t and meta["crs"] == "EPSG:32618"
    # compression really compresses: constant mask, lzw vs none
    m = np.zeros((1, 256, 256), dtype=np.uint8)
    fu = str(tmp_path / "u.tif")
    fl = str(tmp_path / "l.tif")
    write_geotiff(m, fu, compression=None)
    write_geotiff(m, fl, compression="lzw")
    assert os.path.getsize(fl) < os.path.getsize(fu) / 10


def test_mask_geotiff_sink_stdlib_lzw(spark, tmp_path):
    """write_mask_geotiff without rasterio -> striped LZW classic TIFF
    via the stdlib codec, same pixels and georeferencing."""
    import numpy as np

    from geo_inference_spark.sources.raster_io import write_mask_geotiff
    from geo_inference_spark.sources.tiff import read_geotiff

    rng = np.random.RandomState(13)
    t00 = rng.randint(0, 3, (4, 4)).astype(np.uint8)
    t01 = rng.randint(0, 3, (4, 4)).astype(np.uint8)
    tiles = spark.createDataFrame(
        [(0, 0, t00.tobytes()), (0, 1, t01.tobytes())],
        schema="ty int, tx int, mask binary",
    )
    meta = {"height": 4, "width": 7, "crs": "EPSG:32618",
            "transform": (0.5, 0.0, 10.0, 0.0, -0.5, 20.0)}
    fp = str(tmp_path / "mask.tif")
    write_mask_geotiff(tiles, 4, meta, fp)
    got, m2 = read_geotiff(fp)
    exp = np.concatenate([t00, t01], axis=1)[:4, :7]
    np.testing.assert_array_equal(got[0], exp.astype(np.float64))
    assert m2["transform"] == meta["transform"]
    assert m2["crs"] == "EPSG:32618"


def test_mask_zarr_sink_distributed(spark, tmp_path):
    """Distributed zarr mask sink: executor-written chunks read back
    exactly; absent tiles come back as fill 255."""
    import numpy as np

    from geo_inference_spark.sources.zarr_store import (
        read_zarr_chunks,
        write_mask_zarr,
    )

    rng = np.random.RandomState(3)
    t00 = rng.randint(0, 3, (4, 4)).astype(np.uint8)
    t11 = rng.randint(0, 3, (4, 4)).astype(np.uint8)
    tiles = spark.createDataFrame(
        [(0, 0, t00.tobytes()), (1, 1, t11.tobytes())],
        schema="ty int, tx int, mask binary",
    )
    zp = str(tmp_path / "mask.zarr")
    write_mask_zarr(tiles, zp, stride=4, height=8, width=8)
    chunks, ny, nx, meta = read_zarr_chunks(spark, zp)
    assert (ny, nx) == (2, 2) and meta["fill_value"] == 255
    got = {(r.ty, r.tx): np.frombuffer(bytes(r.chunk), dtype=np.float64)
           .reshape(1, 4, 4) for r in chunks.collect()}
    np.testing.assert_array_equal(got[(0, 0)][0], t00.astype(np.float64))
    np.testing.assert_array_equal(got[(1, 1)][0], t11.astype(np.float64))
    assert (got[(0, 1)] == 255.0).all()  # unwritten tile -> fill


def test_mask_zarr_sink_true_extent(spark, tmp_path):
    """ADVICE r2: .zarray shape must be the TRUE raster extent, not the
    padded chunk grid — a non-multiple raster reads back at exactly
    (height, width), edge chunks padded per the v2 spec."""
    import json as _json

    import numpy as np

    from geo_inference_spark.sources.zarr_store import write_mask_zarr

    rng = np.random.RandomState(7)
    tiles_np = {(ty, tx): rng.randint(0, 3, (4, 4)).astype(np.uint8)
                for ty in range(2) for tx in range(2)}
    tiles = spark.createDataFrame(
        [(ty, tx, m.tobytes()) for (ty, tx), m in tiles_np.items()],
        schema="ty int, tx int, mask binary",
    )
    zp = str(tmp_path / "mask.zarr")
    # true extent 6 x 7 — NOT a multiple of the 4-pixel chunks
    write_mask_zarr(tiles, zp, stride=4, height=6, width=7)
    meta = _json.load(open(f"{zp}/.zarray"))
    assert meta["shape"] == [1, 6, 7]
    assert meta["chunks"] == [1, 4, 4]
    # a standard zarr v2 read (chunk stitch, crop to shape) sees the
    # unpadded mask
    full = np.zeros((8, 8), np.uint8)
    for (ty, tx), m in tiles_np.items():
        raw = open(f"{zp}/0.{ty}.{tx}", "rb").read()
        full[ty * 4:(ty + 1) * 4, tx * 4:(tx + 1) * 4] = (
            np.frombuffer(raw, np.uint8).reshape(4, 4)
        )
    exp = np.zeros((6, 7), np.uint8)
    for (ty, tx), m in tiles_np.items():
        exp[ty * 4:min((ty + 1) * 4, 6), tx * 4:min((tx + 1) * 4, 7)] = (
            m[: max(0, 6 - ty * 4), : max(0, 7 - tx * 4)]
        )
    np.testing.assert_array_equal(full[:6, :7], exp)


def test_stac_item_band_stack(tmp_path):
    """STAC item with local single-band GeoTIFF assets -> stacked
    array in requested order via the stdlib codec."""
    import json

    import numpy as np

    from geo_inference_spark.sources.tiff import (
        read_stac_item_stack,
        write_geotiff,
    )

    rng = np.random.RandomState(4)
    bands = {}
    for cn in ("red", "green", "nir"):
        a = rng.uniform(0, 255, size=(10, 12)).astype(np.float32)
        write_geotiff(a, str(tmp_path / f"{cn}.tif"),
                      transform=(1.0, 0, 0, 0, -1.0, 0), epsg=32610)
        bands[cn] = a
    item = {
        "assets": {
            cn: {"href": f"{cn}.tif",
                 "eo:bands": [{"common_name": cn}]}
            for cn in bands
        }
    }
    ip = str(tmp_path / "item.json")
    json.dump(item, open(ip, "w"))
    arr, meta = read_stac_item_stack(ip, ["nir", "red"])
    assert arr.shape == (2, 10, 12) and meta["count"] == 2
    np.testing.assert_array_equal(arr[0], bands["nir"].astype(np.float64))
    np.testing.assert_array_equal(arr[1], bands["red"].astype(np.float64))
    assert meta["crs"] == "EPSG:32610"


def test_geotiff_distributed_chunks_equal_full_read(spark, tmp_path):
    """Executor-side windowed GeoTIFF scan == driver full-read cut,
    for uncompressed/LZW/deflate striped files and a tiled LZW forge —
    the raster pixels never touch the driver (IFD-only parse)."""
    import numpy as np

    from geo_inference_spark.operators.overlap import bytes_to_np, raster_to_chunks
    from geo_inference_spark.sources.tiff import (
        read_geotiff,
        read_geotiff_chunks_distributed,
        write_geotiff,
    )

    rng = np.random.RandomState(15)
    a = rng.uniform(0, 255, size=(2, 37, 29)).astype(np.float32)
    cases = []
    for comp in (None, "lzw", "deflate"):
        fp = str(tmp_path / f"d_{comp}.tif")
        write_geotiff(a, fp, transform=(0.5, 0, 10.0, 0, -0.5, 90.0),
                      epsg=32618, rows_per_strip=16, compression=comp)
        cases.append(fp)
    at = rng.randint(0, 200, size=(19, 23, 3)).astype(np.uint16)
    fp_t = str(tmp_path / "d_tiled.tif")
    _forge_tiff(at, "<", fp_t, comp=5, tiled=True, ts=8)
    cases.append(fp_t)

    for fp in cases:
        full, meta = read_geotiff(fp)
        ref, rny, rnx = raster_to_chunks(spark, full, 8)
        dist, ny, nx, dmeta = read_geotiff_chunks_distributed(spark, fp, 8)
        assert (ny, nx) == (rny, rnx)
        assert dmeta["width"] == meta["width"]
        exp = {(r.ty, r.tx): bytes_to_np(bytes(r.chunk), (meta["count"], 8, 8))
               for r in ref.collect()}
        got = {(r.ty, r.tx): bytes_to_np(bytes(r.chunk), (meta["count"], 8, 8))
               for r in dist.collect()}
        assert got.keys() == exp.keys()
        for k in exp:
            np.testing.assert_array_equal(got[k], exp[k], err_msg=f"{fp} {k}")


def test_packbits_spec_golden_and_file_roundtrip(tmp_path):
    """PackBits (TIFF 6.0 §9): the spec's worked example decodes to its
    published expansion, encoder/decoder roundtrip arbitrary bytes, and
    a packbits GeoTIFF written by the library reads back exactly."""
    import numpy as np

    from geo_inference_spark.sources.tiff import (
        packbits_decode,
        packbits_encode,
        read_geotiff,
        write_geotiff,
    )

    # the worked example from the TIFF 6.0 spec, §9
    packed = bytes.fromhex("FEAA 0280 002A FDAA 0380 002A 22F7 AA".replace(" ", ""))
    expanded = bytes.fromhex(
        "AAAAAA80002AAAAAAAAA80002A22AAAAAAAAAAAAAAAAAAAA"
    )
    assert packbits_decode(packed) == expanded
    assert packbits_decode(packbits_encode(expanded)) == expanded

    rng = np.random.RandomState(34)
    for data in (b"", b"x", b"x" * 500, bytes(rng.randint(0, 256, 1000, dtype=np.uint8))):
        assert packbits_decode(packbits_encode(data)) == data

    mask = rng.randint(0, 3, size=(1, 50, 37)).astype(np.uint8)
    fp = str(tmp_path / "pb.tif")
    write_geotiff(mask, fp, compression="packbits", rows_per_strip=16)
    got, _ = read_geotiff(fp)
    np.testing.assert_array_equal(got.astype(np.uint8), mask)


def test_geotiff_reader_tiled_predictor3(tmp_path):
    """Forged TILED float predictor-3 TIFF (both byte orders, LZW and
    packbits) — pins the reader's tile-shaped byte-plane unshuffle,
    which the striped writer roundtrips never exercise."""
    import numpy as np

    from geo_inference_spark.sources.tiff import read_geotiff

    rng = np.random.RandomState(35)
    a = rng.uniform(-100, 100, size=(19, 13, 2)).astype(np.float32)
    for bo in ("<", ">"):
        for comp in (5, 32773):
            fp = str(tmp_path / f"t3_{ord(bo)}_{comp}.tif")
            _forge_tiff(a, bo, fp, comp=comp, tiled=True, predictor=3, ts=8)
            got, _ = read_geotiff(fp)
            np.testing.assert_array_equal(
                got.astype(np.float32), np.moveaxis(a, -1, 0),
                err_msg=f"bo={bo} comp={comp}",
            )


def test_geotiff_jpeg_compression_roundtrip(tmp_path):
    """JPEG-in-TIFF (compression 7, TechNote 2): write full
    interchange streams per strip, read back — per-strip pixels equal
    the analytic JPEG expectation (lossy but deterministic)."""
    import numpy as np

    from geo_inference_spark.sources.jpeg import expected_decode
    from geo_inference_spark.sources.tiff import read_geotiff, write_geotiff

    rng = np.random.RandomState(51)
    for bands, q in ((3, 80), (1, 60)):
        arr = rng.randint(0, 256, (bands, 37, 50), dtype=np.uint8)
        fp = str(tmp_path / f"j{bands}.tif")
        write_geotiff(arr, fp, rows_per_strip=8, compression="jpeg",
                      jpeg_quality=q)
        got, meta = read_geotiff(fp)
        pix = np.moveaxis(arr, 0, -1)
        exp = np.zeros((37, 50, bands))
        for y0 in range(0, 37, 8):
            blk = pix[y0:y0 + 8]
            e = expected_decode(
                blk if bands == 3 else blk[:, :, 0], quality=q,
                subsample="444",
            )
            exp[y0:y0 + 8] = e if bands == 3 else e[:, :, None]
        np.testing.assert_array_equal(got, np.moveaxis(exp, -1, 0))


def test_geotiff_jpegtables_abbreviated_streams():
    """The JPEGTables layout (tag 347): shared DQT/DHT in an SOI..EOI
    wrapper, abbreviated per-strip streams without them — the splice
    in _decode_segment must reproduce the full-stream decode."""
    import numpy as np

    from geo_inference_spark.sources.jpeg import decode_jpeg, encode_jpeg
    from geo_inference_spark.sources.tiff import _decode_segment

    rng = np.random.RandomState(52)
    pix = rng.randint(0, 256, (16, 24, 3), dtype=np.uint8)
    full = encode_jpeg(pix, quality=75, subsample="444")
    # split the stream: DQT/DHT segments -> tables, rest -> abbreviated
    import struct as _s

    tables = bytearray(b"\xff\xd8")
    abbrev = bytearray(b"\xff\xd8")
    pos = 2
    while pos < len(full) - 1:
        assert full[pos] == 0xFF
        marker = full[pos + 1]
        if marker == 0xD9:
            break
        ln = _s.unpack(">H", full[pos + 2:pos + 4])[0]
        seg = full[pos:pos + 2 + ln]
        if marker in (0xDB, 0xC4):
            tables += seg
        else:
            abbrev += seg
        if marker == 0xDA:
            abbrev += full[pos + 2 + ln:]  # ECS + EOI
            break
        pos += 2 + ln
    tables += b"\xff\xd9"
    dt = np.dtype(np.uint8)
    got = _decode_segment(bytes(abbrev), 0, len(abbrev), 7, dt,
                          16 * 24 * 3, (16, 24, 3), 1,
                          jpegtables=bytes(tables))
    np.testing.assert_array_equal(got, decode_jpeg(full))


def test_geotiff_jpeg_distributed_scan(spark, tmp_path):
    """The distributed windowed scan decodes JPEG strips executor-side
    identically to the single-process read."""
    import numpy as np

    from geo_inference_spark.operators.overlap import bytes_to_np
    from geo_inference_spark.sources.tiff import (
        read_geotiff,
        read_geotiff_chunks_distributed,
        write_geotiff,
    )

    rng = np.random.RandomState(53)
    arr = rng.randint(0, 256, (3, 32, 48), dtype=np.uint8)
    fp = str(tmp_path / "dj.tif")
    write_geotiff(arr, fp, rows_per_strip=8, compression="jpeg")
    ref, _ = read_geotiff(fp)
    chunks, ny, nx, meta = read_geotiff_chunks_distributed(spark, fp, 16)
    got = np.zeros_like(ref)
    for r in chunks.collect():
        c = bytes_to_np(bytes(r["chunk"]), (3, 16, 16))
        y0, x0 = r["ty"] * 16, r["tx"] * 16
        ys, xs = min(16, 32 - y0), min(16, 48 - x0)
        got[:, y0:y0 + ys, x0:x0 + xs] = c[:, :ys, :xs]
    np.testing.assert_array_equal(got, ref)
