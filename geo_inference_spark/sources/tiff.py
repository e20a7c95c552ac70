"""Minimal GeoTIFF codec — from scratch, stdlib struct/zlib only.

The reference's raster IO is rasterio/xarray
(/root/reference/geo_inference/geo_inference.py:237-302) and its mask
sink writes tiled LZW BigTIFF
(/root/reference/geo_inference/utils/helpers.py:289-300,
geo_inference.py:394-397). rasterio is absent here, so the subset of
the public TIFF 6.0 + BigTIFF + GeoTIFF 1.1 specs the engine actually
needs is implemented directly:

* ``write_geotiff`` — single- or multi-band arrays as classic TIFF:
  little-endian, striped, pixel-interleaved, uncompressed or
  LZW/deflate-compressed per strip, with ModelPixelScaleTag/
  ModelTiepointTag (the north-up affine) and a GeoKeyDirectory
  carrying the EPSG code — the reference's output profile minus the
  BigTIFF container (needed only past 4 GiB; the gated rasterio seam
  still covers that).
* ``read_geotiff`` — classic AND BigTIFF, either byte order,
  striped or tiled, contiguous planar config; uncompressed, LZW
  (with horizontal-differencing predictor 2) and deflate (8/32946)
  codecs; uint8/16/32 and float32/64 samples. Returns
  ((bands, H, W) float64, meta) with the same meta dict shape as
  raster_io.read_geotiff_chunks; ``overlap.raster_to_chunks`` cuts the
  array into the engine's (ty, tx, chunk) table.

The LZW codec follows TIFF 6.0 §13: MSB-first variable-width codes
starting at 9 bits, ClearCode 256 / EOI 257, table reset at 4094, and
the "early change" width bump one code early. Every tag id below is
from the public TIFF/GeoTIFF registries.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# TIFF tag ids (TIFF 6.0 spec)
T_WIDTH, T_HEIGHT = 256, 257
T_BITS, T_COMPRESSION, T_PHOTOMETRIC = 258, 259, 262
T_STRIP_OFFSETS, T_SAMPLES_PER_PIXEL, T_ROWS_PER_STRIP = 273, 277, 278
T_STRIP_COUNTS, T_PLANAR = 279, 284
T_TILE_WIDTH, T_TILE_HEIGHT, T_TILE_OFFSETS, T_TILE_COUNTS = 322, 323, 324, 325
T_SAMPLE_FORMAT = 339
T_PREDICTOR = 317
T_JPEG_TABLES = 347
# GeoTIFF 1.1
T_MODEL_PIXEL_SCALE, T_MODEL_TIEPOINT, T_GEO_KEYS = 33550, 33922, 34735

_FMT_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 11: 4, 12: 8, 16: 8, 17: 8}

# ------------------------------------------------------------- TIFF LZW

_CLEAR, _EOI = 256, 257


def lzw_decode(data: bytes) -> bytes:
    """TIFF 6.0 §13 LZW: MSB-first variable-width codes, early change."""
    out = bytearray()
    buf = 0  # bit accumulator (MSB-first)
    nbuf = 0
    pos = 0
    nbits = 9
    table: list[bytes] = []
    w = b""

    def reset():
        nonlocal table, nbits
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        nbits = 9

    reset()
    n = len(data)
    while True:
        while nbuf < nbits:
            if pos >= n:
                return bytes(out)  # missing EOI: tolerate (common)
            buf = (buf << 8) | data[pos]
            pos += 1
            nbuf += 8
        code = (buf >> (nbuf - nbits)) & ((1 << nbits) - 1)
        nbuf -= nbits
        if code == _EOI:
            return bytes(out)
        if code == _CLEAR:
            reset()
            w = b""
            continue
        if w == b"":  # first code after a clear
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(w + entry[:1])
        elif code == len(table):  # the KwKwK case
            entry = w + w[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt LZW stream")
        out += entry
        # early change: the decoder's table is one entry behind the
        # encoder's at read time, so it widens when its next free code
        # hits 2^nbits - 2 (510/1022/2046) — one earlier than naive LZW
        if len(table) == (1 << nbits) - 2 and nbits < 12:
            nbits += 1
        w = entry


def lzw_encode(data: bytes) -> bytes:
    """TIFF-variant LZW encoder (the exact inverse of lzw_decode)."""
    out = bytearray()
    buf = 0
    nbuf = 0

    def emit(code: int, width: int) -> None:
        nonlocal buf, nbuf
        buf = (buf << width) | code
        nbuf += width
        while nbuf >= 8:
            out.append((buf >> (nbuf - 8)) & 0xFF)
            nbuf -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    nbits = 9
    emit(_CLEAR, nbits)
    w = b""
    for b in data:
        c = bytes([b])
        wc = w + c
        if wc in table:
            w = wc
            continue
        emit(table[w], nbits)
        table[wc] = next_code
        next_code += 1
        # early change: widen right after ADDING entry 510/1022/2046
        # (the spec's one-early switch); reset near the 12-bit ceiling
        if next_code == (1 << nbits) - 1 and nbits < 12:
            nbits += 1
        elif next_code == 4094:  # table nearly full: reset
            emit(_CLEAR, nbits)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            nbits = 9
        w = c
    if w:
        emit(table[w], nbits)
    emit(_EOI, nbits)
    if nbuf:
        out.append((buf << (8 - nbuf)) & 0xFF)
    return bytes(out)


def packbits_decode(data: bytes) -> bytes:
    """TIFF PackBits (compression 32773, Apple RLE — TIFF 6.0 §9):
    n in [0,127] -> copy n+1 literals; n in [-127,-1] -> repeat next
    byte 1-n times; -128 is a no-op."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        c = data[i]
        i += 1
        if c < 128:  # literal run of c+1 bytes
            out += data[i : i + c + 1]
            i += c + 1
        elif c > 128:  # repeat next byte 257-c times
            out += bytes([data[i]]) * (257 - c)
            i += 1
        # c == 128: no-op
    return bytes(out)


def packbits_encode(data: bytes) -> bytes:
    """PackBits encoder: greedy runs (>=3 repeats become a replicate
    packet, else literal packets of <=128 bytes)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        # find run length at i
        j = i + 1
        while j < n and j - i < 128 and data[j] == data[i]:
            j += 1
        run = j - i
        if run >= 3:
            out.append(257 - run)
            out.append(data[i])
            i = j
            continue
        # literal: extend until a >=3 run starts or 128 bytes
        lit_end = i
        while lit_end < n and lit_end - i < 128:
            k = lit_end + 1
            while k < n and k - lit_end < 3 and data[k] == data[lit_end]:
                k += 1
            if k - lit_end >= 3:
                break
            lit_end += 1
        if lit_end == i:
            lit_end = min(i + 128, n)
        out.append(lit_end - i - 1)
        out += data[i:lit_end]
        i = lit_end
    return bytes(out)


def _np_dtype(bits: int, sample_format: int, bo: str) -> np.dtype:
    if sample_format == 3:  # IEEE float
        return np.dtype(f"{bo}f{bits // 8}")
    if sample_format == 2:  # signed int
        return np.dtype(f"{bo}i{bits // 8}")
    return np.dtype(f"{bo}u{bits // 8}")  # unsigned (default)


_COMP_IDS = {None: 1, "none": 1, "lzw": 5, "deflate": 8,
             "packbits": 32773, "jpeg": 7}


def _fp_predict(block: np.ndarray) -> bytes:
    """TIFF predictor 3 (TechNote 3 floating-point horizontal
    differencing) for one strip/tile: per row, split values into
    big-endian byte planes (all MSBs first), then byte-wise difference
    with stride = samples-per-pixel — floats become long runs of
    near-zero bytes that LZW/deflate actually compress."""
    rows, w, bands = block.shape
    bps = block.dtype.itemsize
    be = block.astype(f">f{bps}")
    vb = np.frombuffer(be.tobytes(), np.uint8).reshape(rows, w * bands, bps)
    planes = np.ascontiguousarray(vb.transpose(0, 2, 1)).reshape(
        rows, w * bps, bands
    )
    d = planes.astype(np.int16)
    d[:, 1:, :] -= planes[:, :-1, :].astype(np.int16)
    return (d & 0xFF).astype(np.uint8).tobytes()


def _fp_unpredict(
    raw: bytes, rows: int, w: int, bands: int, dt: np.dtype
) -> np.ndarray:
    """Inverse of _fp_predict: byte-wise cumsum (stride = samples per
    pixel) then gather each value's bytes from the MSB-first planes.
    Truncated final segments are zero-padded like the int path."""
    bps = dt.itemsize
    n = w * bands * bps
    need = rows * n
    if len(raw) < need:
        raw = raw + b"\0" * (need - len(raw))
    u8 = np.frombuffer(raw, np.uint8, need).reshape(rows, n)
    cum = (
        np.cumsum(u8.reshape(rows, w * bps, bands), axis=1, dtype=np.int64)
        & 0xFF
    ).astype(np.uint8)
    planes = cum.reshape(rows, bps, w * bands)
    vb = np.ascontiguousarray(planes.transpose(0, 2, 1))
    vals = np.frombuffer(vb.tobytes(), np.dtype(f">f{bps}"))
    return vals.reshape(rows, w, bands).astype(dt.newbyteorder("="))


def write_geotiff(
    arr: np.ndarray,
    path: str,
    transform=(1.0, 0.0, 0.0, 0.0, -1.0, 0.0),
    epsg: int | None = 4326,
    rows_per_strip: int = 64,
    compression: str | None = None,
    predictor: int | None = None,
    jpeg_quality: int = 90,
) -> None:
    """(bands, H, W) or (H, W) -> striped GeoTIFF (LE, pixel-
    interleaved; compression None/'lzw'/'deflate' — the reference's
    mask profile is LZW, helpers.py:289-300). transform is the affine
    (a, b, c, d, e, f) with x = a*col + b*row + c — only north-up
    (b == d == 0) is expressible via PixelScale+Tiepoint.

    predictor: None (default), 2 (horizontal differencing, int
    samples) or 3 (TechNote 3 float byte-shuffle differencing, float
    samples — the profile real geo rasters use for f32 DEMs/masks)."""
    a = np.asarray(arr)
    if a.ndim == 2:
        a = a[None, :, :]
    bands, h, w = a.shape
    ta, tb, tc, td, te, tf = (float(x) for x in transform)
    if tb != 0.0 or td != 0.0:
        raise ValueError("rotated transforms need the rasterio seam")
    if compression not in _COMP_IDS:
        raise ValueError(f"compression must be one of {sorted(_COMP_IDS, key=str)}")
    comp_id = _COMP_IDS[compression]
    if a.dtype.kind == "f":
        fmt, bits = 3, a.dtype.itemsize * 8
    elif a.dtype.kind == "i":
        fmt, bits = 2, a.dtype.itemsize * 8
    else:
        fmt, bits = 1, a.dtype.itemsize * 8
    if predictor not in (None, 1, 2, 3):
        raise ValueError("predictor must be None, 2 or 3")
    if comp_id == 7:
        if a.dtype != np.uint8 or bands not in (1, 3):
            raise ValueError(
                "JPEG-in-TIFF writes uint8 with 1 or 3 bands"
            )
        if predictor not in (None, 1):
            raise ValueError("JPEG compression excludes predictors")
    if predictor == 2 and a.dtype.kind == "f":
        raise ValueError("predictor 2 is for int samples; use 3 for float")
    if predictor == 3 and a.dtype.kind != "f":
        raise ValueError("predictor 3 is for float samples; use 2 for int")
    pix = np.ascontiguousarray(np.moveaxis(a, 0, -1))  # (H, W, bands)
    mask = (1 << bits) - 1
    strips = []
    for y0 in range(0, h, rows_per_strip):
        block = pix[y0 : y0 + rows_per_strip]
        if predictor == 2:
            d = block.astype(np.int64)
            d[:, 1:, :] -= block[:, :-1, :].astype(np.int64)
            raw = (d & mask).astype(block.dtype).tobytes()
        elif predictor == 3:
            raw = _fp_predict(block)
        else:
            raw = block.tobytes()
        if comp_id == 5:
            raw = lzw_encode(raw)
        elif comp_id == 8:
            raw = zlib.compress(raw, 6)
        elif comp_id == 32773:
            raw = packbits_encode(raw)
        elif comp_id == 7:
            from .jpeg import encode_jpeg

            img = block if bands == 3 else block[:, :, 0]
            # full interchange stream per strip (no shared JPEGTables
            # — simplest valid TechNote-2 form; the reader also
            # handles the abbreviated JPEGTables layout)
            raw = encode_jpeg(img, quality=jpeg_quality, subsample="444")
        strips.append(raw)

    entries = []  # (tag, type, count, value_or_bytes)

    def short(tag, v):
        entries.append((tag, 3, 1, struct.pack("<HH", v, 0)))

    def long_(tag, v):
        entries.append((tag, 4, 1, struct.pack("<I", v)))

    short(T_WIDTH, w)
    short(T_HEIGHT, h)
    entries.append(
        (T_BITS, 3, bands,
         struct.pack(f"<{bands}H", *([bits] * bands)).ljust(4, b"\0"))
    )
    short(T_COMPRESSION, comp_id)
    # JPEG-compressed RGB is photometric 6 (YCbCr per TechNote 2)
    short(T_PHOTOMETRIC, 6 if comp_id == 7 and bands == 3 else 1)
    entries.append((T_STRIP_OFFSETS, 4, len(strips), None))  # patched below
    short(T_SAMPLES_PER_PIXEL, bands)
    short(T_ROWS_PER_STRIP, rows_per_strip)
    entries.append((T_STRIP_COUNTS, 4, len(strips), None))
    short(T_PLANAR, 1)
    if predictor in (2, 3):
        short(T_PREDICTOR, predictor)
    entries.append(
        (T_SAMPLE_FORMAT, 3, bands,
         struct.pack(f"<{bands}H", *([fmt] * bands)).ljust(4, b"\0"))
    )
    # GeoTIFF: pixel scale (a, -e, 0) + tiepoint (0,0,0 -> c,f,0)
    entries.append(
        (T_MODEL_PIXEL_SCALE, 12, 3, struct.pack("<3d", ta, -te, 0.0))
    )
    entries.append(
        (T_MODEL_TIEPOINT, 12, 6,
         struct.pack("<6d", 0.0, 0.0, 0.0, tc, tf, 0.0))
    )
    if epsg is not None:
        # GeoKeyDirectory: version 1.1.0, 1 key: 2048 (geographic) or
        # 3072 (projected) CRS code
        geo_key = 2048 if epsg == 4326 else 3072
        keys = struct.pack("<8H", 1, 1, 0, 1, geo_key, 0, 1, epsg)
        entries.append((T_GEO_KEYS, 3, 8, keys))

    entries.sort(key=lambda e: e[0])
    n = len(entries)
    ifd_offset = 8
    data_offset = ifd_offset + 2 + n * 12 + 4  # after IFD
    # lay out out-of-line values first, then strips
    blobs = []
    blob_off = {}
    cur = data_offset
    for i, (tag, typ, cnt, val) in enumerate(entries):
        if val is not None and len(val) > 4:
            blob_off[i] = cur
            blobs.append(val)
            cur += len(val)
    # strip offsets/counts arrays
    strip_offsets = []
    strip_counts = [len(s) for s in strips]
    so_bytes = sc_bytes = b""
    so_off = sc_off = 0
    if len(strips) > 1:
        so_off, cur = cur, cur + 4 * len(strips)
        sc_off, cur = cur, cur + 4 * len(strips)
    strip_start = cur
    off = strip_start
    for s in strips:
        strip_offsets.append(off)
        off += len(s)
    so_bytes = struct.pack(f"<{len(strips)}I", *strip_offsets)
    sc_bytes = struct.pack(f"<{len(strips)}I", *strip_counts)

    out = [b"II*\0", struct.pack("<I", ifd_offset), struct.pack("<H", n)]
    for i, (tag, typ, cnt, val) in enumerate(entries):
        if tag == T_STRIP_OFFSETS:
            v = (struct.pack("<I", strip_offsets[0]) if len(strips) == 1
                 else struct.pack("<I", so_off))
        elif tag == T_STRIP_COUNTS:
            v = (struct.pack("<I", strip_counts[0]) if len(strips) == 1
                 else struct.pack("<I", sc_off))
        elif val is not None and len(val) > 4:
            v = struct.pack("<I", blob_off[i])
        else:
            v = (val or b"").ljust(4, b"\0")
        out.append(struct.pack("<HHI", tag, typ, cnt) + v)
    out.append(struct.pack("<I", 0))  # next IFD
    out.extend(blobs)
    if len(strips) > 1:
        out.append(so_bytes)
        out.append(sc_bytes)
    out.extend(strips)
    with open(path, "wb") as f:
        f.write(b"".join(out))


def _decode_vals(bo: str, typ: int, cnt: int, raw: bytes):
    if typ == 3:
        return struct.unpack(f"{bo}{cnt}H", raw)
    if typ == 4:
        return struct.unpack(f"{bo}{cnt}I", raw)
    if typ in (16, 17):  # BigTIFF LONG8 / SLONG8
        return struct.unpack(f"{bo}{cnt}{'q' if typ == 17 else 'Q'}", raw)
    if typ == 12:
        return struct.unpack(f"{bo}{cnt}d", raw)
    if typ == 11:
        return struct.unpack(f"{bo}{cnt}f", raw)
    return (raw,)


def read_geotiff_tags(path: str):
    """Parse the first IFD by SEEKING — a few KB of IO regardless of
    raster size (the driver-side step of the distributed scan).
    Returns (tags, byte_order)."""
    with open(path, "rb") as f:
        head = f.read(4)
        if head[:2] == b"II":
            bo = "<"
        elif head[:2] == b"MM":
            bo = ">"
        else:
            raise ValueError("not a TIFF file")
        (magic,) = struct.unpack(f"{bo}H", head[2:4])
        if magic == 42:
            big = False
            (off,) = struct.unpack(f"{bo}I", f.read(4))
        elif magic == 43:
            big = True
            offsz, pad = struct.unpack(f"{bo}HH", f.read(4))
            if offsz != 8 or pad != 0:
                raise ValueError("malformed BigTIFF header")
            (off,) = struct.unpack(f"{bo}Q", f.read(8))
        else:
            raise ValueError(f"unknown TIFF magic {magic}")
        f.seek(off)
        if big:
            (n,) = struct.unpack(f"{bo}Q", f.read(8))
            esz, inline, cnt_fmt, ptr_fmt = 20, 8, "Q", "Q"
        else:
            (n,) = struct.unpack(f"{bo}H", f.read(2))
            esz, inline, cnt_fmt, ptr_fmt = 12, 4, "I", "I"
        ent = f.read(n * esz)
        tags = {}
        deferred = []
        for i in range(n):
            tag, typ = struct.unpack_from(f"{bo}HH", ent, i * esz)
            (cnt,) = struct.unpack_from(f"{bo}{cnt_fmt}", ent, i * esz + 4)
            raw = ent[i * esz + esz - inline : i * esz + esz]
            size = _FMT_SIZES.get(typ, 1) * cnt
            if size > inline:
                (ptr,) = struct.unpack(f"{bo}{ptr_fmt}", raw)
                deferred.append((tag, typ, cnt, ptr, size))
            else:
                tags[tag] = _decode_vals(bo, typ, cnt, raw[:size])
        for tag, typ, cnt, ptr, size in deferred:
            f.seek(ptr)
            tags[tag] = _decode_vals(bo, typ, cnt, f.read(size))
    return tags, bo


def _meta_from_tags(t: dict) -> dict:
    transform = (1.0, 0.0, 0.0, 0.0, -1.0, 0.0)
    if T_MODEL_PIXEL_SCALE in t and T_MODEL_TIEPOINT in t:
        sx, sy = t[T_MODEL_PIXEL_SCALE][0], t[T_MODEL_PIXEL_SCALE][1]
        tp = t[T_MODEL_TIEPOINT]
        transform = (
            sx, 0.0, tp[3] - tp[0] * sx, 0.0, -sy, tp[4] + tp[1] * sy
        )
    epsg = None
    if T_GEO_KEYS in t:
        keys = t[T_GEO_KEYS]
        for i in range(4, len(keys), 4):
            if keys[i] in (2048, 3072):
                epsg = keys[i + 3]
    return {
        "transform": transform,
        "crs": f"EPSG:{epsg}" if epsg else None,
        "width": t[T_WIDTH][0],
        "height": t[T_HEIGHT][0],
        "count": t.get(T_SAMPLES_PER_PIXEL, (1,))[0],
        "nodata": None,
    }


def geotiff_index(path: str) -> dict:
    """Segment index for executor-side windowed reads: per-segment
    (byte offset, byte count, pixel window), plus decode parameters.
    Driver cost is the IFD only — never the pixel data."""
    t, bo = read_geotiff_tags(path)
    comp = t.get(T_COMPRESSION, (1,))[0]
    if comp not in (1, 5, 8, 32946, 32773, 7):
        raise ValueError(
            f"TIFF compression {comp} needs the rasterio seam "
            "(this codec reads none/LZW/deflate/packbits/JPEG)"
        )
    predictor = t.get(T_PREDICTOR, (1,))[0]
    if predictor not in (1, 2, 3):
        raise ValueError(f"TIFF predictor {predictor} not supported")
    if t.get(T_PLANAR, (1,))[0] != 1:
        raise ValueError("only contiguous planar config supported")
    w, h = t[T_WIDTH][0], t[T_HEIGHT][0]
    bands = t.get(T_SAMPLES_PER_PIXEL, (1,))[0]
    dt = _np_dtype(t[T_BITS][0], t.get(T_SAMPLE_FORMAT, (1,))[0], bo)
    segs = []  # (off, cnt, y0, y1, x0, x1, seg_h, seg_w)
    if T_TILE_OFFSETS in t:
        tw, th = t[T_TILE_WIDTH][0], t[T_TILE_HEIGHT][0]
        tnx = -(-w // tw)
        for i, (off, cnt) in enumerate(zip(t[T_TILE_OFFSETS], t[T_TILE_COUNTS])):
            ty, tx = divmod(i, tnx)
            y0, x0 = ty * th, tx * tw
            segs.append((off, cnt, y0, min(y0 + th, h), x0,
                         min(x0 + tw, w), th, tw))
    else:
        rps = t.get(T_ROWS_PER_STRIP, (h,))[0]
        y0 = 0
        for off, cnt in zip(t[T_STRIP_OFFSETS], t[T_STRIP_COUNTS]):
            rows = min(rps, h - y0)
            segs.append((off, cnt, y0, y0 + rows, 0, w, rows, w))
            y0 += rows
    return {
        "path": path, "comp": comp, "predictor": predictor,
        "dtype_str": dt.str, "width": w, "height": h, "count": bands,
        "jpegtables": (
            t.get(T_JPEG_TABLES, (None,))[0] if comp == 7 else None
        ),
        "segments": segs, "meta": _meta_from_tags(t),
    }


def read_geotiff_chunks_distributed(
    spark, path: str, stride: int, partitions: int | None = None
):
    """The 100 TB GeoTIFF scan: driver parses only the IFD (KBs) and
    builds the (ty, tx) chunk-grid task table; every EXECUTOR seeks
    and decodes just the strips/tiles its chunks overlap — the raster
    pixels never touch the driver (same contract as the zarr scan;
    the path must be visible to executors, which at scale is the
    object store / shared FS the raster lives on).

    Returns ((ty, tx, chunk) DataFrame, ny, nx, meta) — the engine's
    CHUNK layout, consumable by overlap_stitch unchanged; edge chunks
    zero-padded exactly like raster_to_chunks.
    """
    import pandas as pd

    from ..operators.overlap import CHUNK_SCHEMA, np_to_bytes

    idx = geotiff_index(path)
    h, w, bands = idx["height"], idx["width"], idx["count"]
    s = int(stride)
    ny, nx = -(-h // s), -(-w // s)
    tasks = spark.createDataFrame(
        [(ty, tx) for ty in range(ny) for tx in range(nx)],
        schema="ty int, tx int",
    )
    if partitions:
        tasks = tasks.repartition(partitions)
    b = spark.sparkContext.broadcast(idx)

    def decode(pdf_iter):
        ix = b.value
        dt = np.dtype(ix["dtype_str"])
        comp, pred = ix["comp"], ix["predictor"]
        cache: dict = {}  # segment id -> decoded array (LZW strips
        # span many chunks in a row; tiny LRU avoids re-inflating)
        with open(ix["path"], "rb") as f:
            for pdf in pdf_iter:
                out = []
                for ty, tx in zip(pdf["ty"], pdf["tx"]):
                    y0, x0 = int(ty) * s, int(tx) * s
                    y1, x1 = min(y0 + s, ix["height"]), min(x0 + s, ix["width"])
                    chunk = np.zeros((ix["count"], s, s), np.float64)
                    for si, (off, cnt, sy0, sy1, sx0, sx1, sh, sw) in enumerate(
                        ix["segments"]
                    ):
                        if sy1 <= y0 or sy0 >= y1 or sx1 <= x0 or sx0 >= x1:
                            continue
                        seg = cache.pop(si, None)
                        if seg is None:
                            f.seek(off)
                            raw = f.read(cnt)
                            seg = _decode_segment(
                                raw, 0, cnt, comp, dt,
                                sh * sw * ix["count"],
                                (sh, sw, ix["count"]), pred,
                                jpegtables=ix["jpegtables"],
                            )
                            if len(cache) >= 4:
                                cache.pop(next(iter(cache)))
                        # (re)insert at the end: dict order = recency,
                        # so eviction above is true LRU, not FIFO
                        cache[si] = seg
                        iy0, iy1 = max(y0, sy0), min(y1, sy1)
                        ixx0, ixx1 = max(x0, sx0), min(x1, sx1)
                        piece = seg[iy0 - sy0:iy1 - sy0, ixx0 - sx0:ixx1 - sx0]
                        chunk[:, iy0 - y0:iy1 - y0, ixx0 - x0:ixx1 - x0] = (
                            np.moveaxis(piece, -1, 0).astype(np.float64)
                        )
                    out.append(np_to_bytes(chunk))
                yield pd.DataFrame(
                    {"ty": pdf["ty"], "tx": pdf["tx"], "chunk": out}
                )

    return tasks.mapInPandas(decode, CHUNK_SCHEMA), ny, nx, idx["meta"]


def _read_ifd(buf: bytes, bo: str, big: bool = False):
    """Parse the first IFD — classic (4-byte offsets, 12-byte entries)
    or BigTIFF (8-byte offsets, 20-byte entries, LONG8 types)."""
    if big:
        (off,) = struct.unpack_from(f"{bo}Q", buf, 8)
        (n,) = struct.unpack_from(f"{bo}Q", buf, off)
        ent0, esz, inline = off + 8, 20, 8
        cnt_fmt, ptr_fmt = "Q", "Q"
    else:
        (off,) = struct.unpack_from(f"{bo}I", buf, 4)
        (n,) = struct.unpack_from(f"{bo}H", buf, off)
        ent0, esz, inline = off + 2, 12, 4
        cnt_fmt, ptr_fmt = "I", "I"
    tags = {}
    for i in range(n):
        tag, typ = struct.unpack_from(f"{bo}HH", buf, ent0 + i * esz)
        (cnt,) = struct.unpack_from(f"{bo}{cnt_fmt}", buf, ent0 + i * esz + 4)
        voff = ent0 + i * esz + esz - inline
        size = _FMT_SIZES.get(typ, 1) * cnt
        if size > inline:
            (ptr,) = struct.unpack_from(f"{bo}{ptr_fmt}", buf, voff)
            raw = buf[ptr : ptr + size]
        else:
            raw = buf[voff : voff + size]
        tags[tag] = _decode_vals(bo, typ, cnt, raw)
    return tags


def _decode_segment(buf, off, cnt, comp, dt, n_vals, shape, predictor,
                    jpegtables=None):
    """One strip/tile -> (rows, width, bands) array, decompressed and
    un-predicted. Truncated final segments are zero-padded."""
    if comp == 7:  # new-style JPEG (TIFF TechNote 2)
        from .jpeg import decode_jpeg

        raw = bytes(buf[off : off + cnt])
        if jpegtables:
            # abbreviated stream: splice the shared DQT/DHT segments
            # (JPEGTables is an SOI..EOI wrapper) after this SOI
            raw = raw[:2] + bytes(jpegtables)[2:-2] + raw[2:]
        pix = decode_jpeg(raw)
        if pix.ndim == 2:
            pix = pix[:, :, None]
        out = np.zeros(shape, dtype=dt.newbyteorder("="))
        ys = min(shape[0], pix.shape[0])
        xs = min(shape[1], pix.shape[1])
        out[:ys, :xs] = pix[:ys, :xs]
        return out
    if predictor == 3:
        # byte-shuffled stream: must un-predict at the byte level
        # BEFORE interpreting values
        raw = bytes(buf[off : off + cnt])
        if comp == 5:
            raw = lzw_decode(raw)
        elif comp in (8, 32946):
            raw = zlib.decompress(raw)
        elif comp == 32773:
            raw = packbits_decode(raw)
        return _fp_unpredict(raw, *shape, dt)
    if comp == 1:
        seg = np.frombuffer(buf, dt, count=n_vals, offset=off)
    else:
        raw = bytes(buf[off : off + cnt])
        if comp == 5:
            raw = lzw_decode(raw)
        elif comp == 32773:
            raw = packbits_decode(raw)
        else:  # 8 / 32946: (Adobe) deflate
            raw = zlib.decompress(raw)
        seg = np.frombuffer(raw, dt, count=min(n_vals, len(raw) // dt.itemsize))
        if len(seg) < n_vals:
            seg = np.concatenate([seg, np.zeros(n_vals - len(seg), dt)])
    seg = seg.reshape(shape)
    if predictor == 2:
        if dt.kind == "f":
            raise ValueError("float predictor (3) expected for float data")
        native = dt.newbyteorder("=")
        seg = np.cumsum(seg.astype(native), axis=1, dtype=native)
    return seg


def read_geotiff(path: str):
    """classic TIFF or BigTIFF -> ((bands, H, W) float64, meta dict).

    Codecs: uncompressed, LZW (5, with horizontal-differencing
    predictor 2) and deflate (8/32946). Anything else raises into the
    gated rasterio seam."""
    buf = open(path, "rb").read()
    if buf[:2] == b"II":
        bo = "<"
    elif buf[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF file")
    (magic,) = struct.unpack_from(f"{bo}H", buf, 2)
    if magic == 42:
        t = _read_ifd(buf, bo)
    elif magic == 43:
        (offsz, pad) = struct.unpack_from(f"{bo}HH", buf, 4)
        if offsz != 8 or pad != 0:
            raise ValueError("malformed BigTIFF header")
        t = _read_ifd(buf, bo, big=True)
    else:
        raise ValueError(f"unknown TIFF magic {magic}")
    comp = t.get(T_COMPRESSION, (1,))[0]
    if comp not in (1, 5, 8, 32946, 32773, 7):
        raise ValueError(
            f"TIFF compression {comp} needs the rasterio seam "
            "(this codec reads none/LZW/deflate/packbits/JPEG)"
        )
    predictor = t.get(T_PREDICTOR, (1,))[0]
    if predictor not in (1, 2, 3):
        raise ValueError(f"TIFF predictor {predictor} not supported")
    if t.get(T_PLANAR, (1,))[0] != 1:
        raise ValueError("only contiguous planar config supported")
    w, h = t[T_WIDTH][0], t[T_HEIGHT][0]
    bands = t.get(T_SAMPLES_PER_PIXEL, (1,))[0]
    bits = t[T_BITS][0]
    fmt = t.get(T_SAMPLE_FORMAT, (1,))[0]
    dt = _np_dtype(bits, fmt, bo)
    jt = t.get(T_JPEG_TABLES, (None,))[0] if comp == 7 else None
    pix = np.zeros((h, w, bands), dtype=dt.newbyteorder("="))
    if T_TILE_OFFSETS in t:
        tw, th = t[T_TILE_WIDTH][0], t[T_TILE_HEIGHT][0]
        nx = -(-w // tw)
        for i, (off, cnt) in enumerate(zip(t[T_TILE_OFFSETS], t[T_TILE_COUNTS])):
            tile = _decode_segment(
                buf, off, cnt, comp, dt, tw * th * bands,
                (th, tw, bands), predictor, jpegtables=jt,
            )
            ty, tx = divmod(i, nx)
            y0, x0 = ty * th, tx * tw
            ys, xs = min(th, h - y0), min(tw, w - x0)
            pix[y0 : y0 + ys, x0 : x0 + xs] = tile[:ys, :xs]
    else:
        rps = t.get(T_ROWS_PER_STRIP, (h,))[0]
        y0 = 0
        for off, cnt in zip(t[T_STRIP_OFFSETS], t[T_STRIP_COUNTS]):
            rows = min(rps, h - y0)
            pix[y0 : y0 + rows] = _decode_segment(
                buf, off, cnt, comp, dt, rows * w * bands,
                (rows, w, bands), predictor, jpegtables=jt,
            )
            y0 += rows
    arr = np.moveaxis(pix, -1, 0).astype(np.float64)
    # geotransform
    transform = (1.0, 0.0, 0.0, 0.0, -1.0, 0.0)
    if T_MODEL_PIXEL_SCALE in t and T_MODEL_TIEPOINT in t:
        sx, sy = t[T_MODEL_PIXEL_SCALE][0], t[T_MODEL_PIXEL_SCALE][1]
        tp = t[T_MODEL_TIEPOINT]
        # raster point (tp0, tp1) maps to model (tp3, tp4)
        c = tp[3] - tp[0] * sx
        f = tp[4] + tp[1] * sy
        transform = (sx, 0.0, c, 0.0, -sy, f)
    epsg = None
    if T_GEO_KEYS in t:
        keys = t[T_GEO_KEYS]
        for i in range(4, len(keys), 4):
            if keys[i] in (2048, 3072):
                epsg = keys[i + 3]
    return arr, {
        "transform": transform,
        "crs": f"EPSG:{epsg}" if epsg else None,
        "width": w,
        "height": h,
        "count": bands,
        "nodata": None,
    }


def read_stac_item_stack(item_path: str, bands_requested: list[str]):
    """S3 end-to-end on real files: resolve a STAC item's single-band
    GeoTIFF assets by eo:bands common_name and stack them in request
    order -> ((bands, H, W) float64, meta of the first band). Hrefs
    must be local/mounted paths (HTTP fetch is out of scope here —
    at scale the hrefs are object-store keys executors read directly).
    """
    import os

    from .manifest import stac_band_hrefs

    hrefs = stac_band_hrefs(item_path, bands_requested)
    base = os.path.dirname(os.path.abspath(item_path))
    arrs, meta0 = [], None
    for href in hrefs:
        p = href if os.path.isabs(href) else os.path.join(base, href)
        arr, meta = read_geotiff(p)
        if meta0 is None:
            meta0 = meta
        elif (meta["width"], meta["height"]) != (meta0["width"], meta0["height"]):
            raise ValueError("STAC band assets disagree on raster shape")
        arrs.append(arr[0])
    meta0["count"] = len(arrs)
    return np.stack(arrs), meta0
