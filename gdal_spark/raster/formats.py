"""Raster file formats re-expressed Spark-first: GeoTIFF (classic TIFF
with LZW/Deflate/PackBits codecs + GeoTIFF georeferencing tags) and
Arc/Info ASCII Grid.

Reference drivers (semantics only — parsing is re-implemented from the
public format specifications: the TIFF 6.0 specification, the GeoTIFF
1.1 OGC standard, and the ESRI ASCII-grid header layout):

- GeoTIFF: gdal/frmts/gtiff/geotiff.cpp (the reference's flagship
  driver). Scope here is the interchange core: Compression none/LZW/
  Deflate/PackBits with Predictor=2 (raster/tiffcodec.py, pure-Python
  spec re-implementations), strip- and tile-organized files,
  PlanarConfiguration=2 band planes, uint8/16/32, int16/32, float32/64,
  ModelPixelScale + ModelTiepoint georeferencing, GDAL_NODATA tag.
  JPEG-family codecs raise a clear error (no codec libraries in this
  environment).
- AAIGrid: gdal/frmts/aaigrid/aaigriddataset.cpp (ncols/nrows/xllcorner/
  cellsize/NODATA_value header + whitespace floats).

Scale model
-----------
A .tif is one artifact: the unit of read parallelism is the FILE (one
Arrow task per file via ``binaryFile``; a 100 TB collection is millions
of files scanning in parallel). Inside a task the pixel payload moves
through numpy slicing only. The writer is a single-artifact sink (like
the GeoPackage writer): tile offsets are computed up front from the
fixed uncompressed tile size and block rows stream to the file via
``toLocalIterator`` — one partition in memory at a time, never a full
collect. AAIGrid reads split by LINE RANGE (plain text source), so one
huge grid parallelizes across tasks.
"""

from __future__ import annotations

import math
import os
import re
import struct
from collections.abc import Iterator
from dataclasses import replace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.raster import tiffcodec as TC
from gdal_spark.raster.model import (TILE_SCHEMA, RasterMeta, RawBand,
                                     from_array, raw_blocks, to_array)

# dtype <-> (BitsPerSample, SampleFormat): 1=unsigned, 2=signed, 3=float
_DTYPES = {"uint8": (8, 1), "uint16": (16, 1), "uint32": (32, 1),
           "int16": (16, 2), "int32": (32, 2),
           "float32": (32, 3), "float64": (64, 3)}
_BACK = {v: k for k, v in _DTYPES.items()}

_SHORT, _LONG, _ASCII, _DOUBLE = 3, 4, 2, 12
_LONG8, _SLONG8, _IFD8 = 16, 17, 18  # BigTIFF 8-byte types
_TYPE_SIZE = {_SHORT: 2, _LONG: 4, _ASCII: 1, _DOUBLE: 8,
              _LONG8: 8, _SLONG8: 8, _IFD8: 8}


def _entries_bytes(entries: list[tuple[int, int, bytes, int]],
                   data_start: int,
                   big: bool = False) -> tuple[bytes, bytes, dict[int, int]]:
    """Pack IFD entries (tag, type, payload bytes, count); payloads over
    the inline slot (4 bytes classic, 8 BigTIFF) go to the external data
    area starting at ``data_start``. Returns (ifd bytes, external bytes,
    tag → absolute payload offset for external payloads) so sinks can
    patch arrays after streaming."""
    entries = sorted(entries)
    inline = 8 if big else 4
    off_fmt = "<Q" if big else "<I"
    cnt_fmt = "<HHQ" if big else "<HHI"
    ifd, ext = [], b""
    ext_pos: dict[int, int] = {}
    for tag, typ, payload, count in entries:
        if len(payload) <= inline:
            val = payload.ljust(inline, b"\x00")
        else:
            ext_pos[tag] = data_start + len(ext)
            val = struct.pack(off_fmt, data_start + len(ext))
            ext += payload + (b"\x00" if len(payload) % 2 else b"")
        ifd.append(struct.pack(cnt_fmt, tag, typ, count) + val)
    return b"".join(ifd), ext, ext_pos


def _tiff_prelude(big: bool, n_entries: int) -> tuple[int, int]:
    """(header size, full IFD size incl count + next pointer)."""
    if big:
        return 16, 8 + 20 * n_entries + 8
    return 8, 2 + 12 * n_entries + 4


def _tiff_header_bytes(big: bool, n_entries: int) -> bytes:
    if big:
        return (struct.pack("<2sHHHQ", b"II", 43, 8, 0, 16)
                + struct.pack("<Q", n_entries))
    return struct.pack("<2sHI", b"II", 42, 8) + struct.pack("<H", n_entries)


def geotiff_bytes(bands: list[np.ndarray], meta: RasterMeta,
                  compression: str = "none",
                  predictor: bool = False,
                  bigtiff: bool = False) -> bytes:
    """Arrays → one tiled GeoTIFF (little-endian, planar band
    organization, tile size = ``meta.block``; edge tiles are padded to
    the full tile size per the TIFF 6.0 tile rules). ``compression`` is
    one of none/lzw/deflate/packbits (raster/tiffcodec.py); ``predictor``
    adds horizontal differencing (Predictor=2, integer dtypes only);
    ``bigtiff`` writes the BigTIFF (magic 43) layout with 8-byte
    offsets — required past 4 GiB, readable either way."""
    codec = TC.NAMES[compression]
    nb = len(bands)
    H, W = bands[0].shape
    tw = th = meta.block
    bits, sfmt = _DTYPES[meta.dtype]
    bpp = bits // 8
    if predictor and (sfmt == 3
                      or codec not in (TC.COMP_LZW, TC.COMP_DEFLATE)):
        raise ValueError("Predictor=2 requires an integer dtype and an "
                         "LZW/Deflate codec (mainstream readers ignore the "
                         "Predictor tag for other codecs)")
    ntx, nty = (W + tw - 1) // tw, (H + th - 1) // th
    ntiles = ntx * nty * nb
    le_dt = np.dtype(meta.dtype).newbyteorder("<")

    payloads = []
    for b in bands:
        for ty in range(nty):
            for tx in range(ntx):
                tile = np.zeros((th, tw), dtype=meta.dtype)
                sub = b[ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw]
                tile[:sub.shape[0], :sub.shape[1]] = sub
                raw = tile.astype(le_dt).tobytes()
                if predictor:
                    raw = TC.predictor_apply(raw, tw, th, le_dt)
                payloads.append(TC.compress(codec, raw))
    counts = [len(p) for p in payloads]

    entries = [
        (256, _LONG, struct.pack("<I", W), 1),
        (257, _LONG, struct.pack("<I", H), 1),
        (258, _SHORT, struct.pack(f"<{nb}H", *([bits] * nb)), nb),
        (259, _SHORT, struct.pack("<H", codec), 1),
        (262, _SHORT, struct.pack("<H", 1), 1),
        (277, _SHORT, struct.pack("<H", nb), 1),
        (322, _SHORT, struct.pack("<H", tw), 1),
        (323, _SHORT, struct.pack("<H", th), 1),
        (325, _LONG, struct.pack(f"<{ntiles}I", *counts), ntiles),
        (339, _SHORT, struct.pack(f"<{nb}H", *([sfmt] * nb)), nb),
        (33550, _DOUBLE, struct.pack("<3d", meta.gt[1], -meta.gt[5], 0.0), 3),
        (33922, _DOUBLE,
         struct.pack("<6d", 0.0, 0.0, 0.0, meta.gt[0], meta.gt[3], 0.0), 6),
        # minimal GeoKey directory: model type = geographic
        (34735, _SHORT, struct.pack("<8H", 1, 1, 0, 1, 1024, 0, 1, 2), 8),
    ]
    if nb > 1:
        entries.append((284, _SHORT, struct.pack("<H", 2), 1))
    if predictor:
        entries.append((317, _SHORT, struct.pack("<H", 2), 1))
    if meta.nodata is not None:
        nd = f"{meta.nodata:g}".encode("ascii") + b"\x00"
        entries.append((42113, _ASCII, nd, len(nd)))
    n_entries = len(entries) + 1  # + TileOffsets below

    # layout: header | count IFD next | external | tiles
    off_t, off_fmt = (_LONG8, "Q") if bigtiff else (_LONG, "I")
    hdr_size, ifd_size = _tiff_prelude(bigtiff, n_entries)
    _probe_ifd, probe_ext, _pos = _entries_bytes(
        entries + [(324, off_t,
                    struct.pack(f"<{ntiles}{off_fmt}", *([0] * ntiles)),
                    ntiles)], hdr_size + ifd_size, big=bigtiff)
    data_start = hdr_size + ifd_size + len(probe_ext)
    offsets, pos = [], data_start
    for c in counts:
        offsets.append(pos)
        pos += c + (c % 2)  # word-align per TIFF 6.0
    entries.append((324, off_t,
                    struct.pack(f"<{ntiles}{off_fmt}", *offsets), ntiles))
    ifd, ext, _pos = _entries_bytes(entries, hdr_size + ifd_size, big=bigtiff)

    out = [_tiff_header_bytes(bigtiff, n_entries), ifd,
           struct.pack("<Q" if bigtiff else "<I", 0), ext]
    for p in payloads:
        out.append(p + (b"\x00" if len(p) % 2 else b""))
    return b"".join(out)


def _read_ifd(data: bytes, index: int = 0) -> tuple[dict, str]:
    """Classic (magic 42) or BigTIFF (magic 43, TIFF Supplement /
    gdal/frmts/gtiff libtiff BigTIFF layout: 8-byte offsets, 20-byte IFD
    entries, 8-byte inline value slot, LONG8/SLONG8/IFD8 types).
    ``index`` walks the next-IFD chain (0 = full resolution; GDAL's
    embedded overviews are the subsequent IFDs)."""
    if data[:2] == b"II":
        en = "<"
    elif data[:2] == b"MM":
        en = ">"
    else:
        raise ValueError("not a TIFF")
    (magic,) = struct.unpack_from(en + "H", data, 2)
    if magic == 42:
        (ifd_off,) = struct.unpack_from(en + "I", data, 4)
        entry_size, inline, cnt_size = 12, 4, 2
    elif magic == 43:
        offsize, zero = struct.unpack_from(en + "HH", data, 4)
        if offsize != 8 or zero != 0:
            raise ValueError("malformed BigTIFF header")
        (ifd_off,) = struct.unpack_from(en + "Q", data, 8)
        entry_size, inline, cnt_size = 20, 8, 8
    else:
        raise ValueError("not a TIFF (bad magic)")
    cnt_fmt, off_fmt = ("H", "I") if magic == 42 else ("Q", "Q")
    for _skip in range(index):
        if ifd_off == 0:
            raise IndexError(f"TIFF has no IFD #{index}")
        (count,) = struct.unpack_from(en + cnt_fmt, data, ifd_off)
        (ifd_off,) = struct.unpack_from(
            en + off_fmt, data, ifd_off + cnt_size + entry_size * count)
    if ifd_off == 0:
        raise IndexError(f"TIFF has no IFD #{index}")
    (count,) = struct.unpack_from(en + cnt_fmt, data, ifd_off)
    tags: dict[int, tuple] = {}
    for i in range(count):
        off = ifd_off + cnt_size + entry_size * i
        if magic == 42:
            tag, typ, n = struct.unpack_from(en + "HHI", data, off)
        else:
            tag, typ, n = struct.unpack_from(en + "HHQ", data, off)
        size = _TYPE_SIZE.get(typ, 1) * n
        vslot = off + 4 + (4 if magic == 42 else 8)
        if size <= inline:
            payload = data[vslot:vslot + size]
        else:
            (doff,) = struct.unpack_from(en + ("I" if magic == 42 else "Q"),
                                         data, vslot)
            payload = data[doff:doff + size]
        if typ == _SHORT:
            vals = struct.unpack(en + f"{n}H", payload)
        elif typ == _LONG:
            vals = struct.unpack(en + f"{n}I", payload)
        elif typ in (_LONG8, _IFD8):
            vals = struct.unpack(en + f"{n}Q", payload)
        elif typ == _SLONG8:
            vals = struct.unpack(en + f"{n}q", payload)
        elif typ == _DOUBLE:
            vals = struct.unpack(en + f"{n}d", payload)
        elif typ == _ASCII:
            vals = (payload.rstrip(b"\x00").decode("ascii", "replace"),)
        else:
            vals = (payload,)
        tags[tag] = vals
    return tags, en


def n_ifds(data: bytes) -> int:
    """Number of IFDs on the chain (1 + embedded overview count)."""
    n = 0
    while True:
        try:
            _read_ifd(data, n)
        except IndexError:
            return n
        n += 1


def parse_geotiff(data: bytes, raster_id: str = "tif",
                  block: int = 256,
                  ifd: int = 0) -> tuple[list[np.ndarray], RasterMeta]:
    """One GeoTIFF payload → (band arrays, RasterMeta). Strip- and
    tile-organized classic + BigTIFF, little- or big-endian; Compression
    none/LZW/Deflate/PackBits (raster/tiffcodec.py) with Predictor=2 and
    new-style JPEG (raster/jpegcodec.py). ``ifd`` selects an IFD on the
    chain — GDAL-style embedded overviews are IFDs 1..n (GetOverview)."""
    tags, en = _read_ifd(data, ifd)
    codec = int(tags.get(259, (1,))[0])
    pred = int(tags.get(317, (1,))[0])
    W, H = int(tags[256][0]), int(tags[257][0])
    nb = int(tags.get(277, (1,))[0])
    bits = int(tags[258][0])
    sfmt = int(tags.get(339, (1,))[0])
    # complex sample formats (5 = complex int, 6 = complex float,
    # gdal/frmts/gtiff GDT_C* mapping): decode as component pairs
    _CPLX = {(32, 5): ("complex64", ">i2" if en == ">" else "<i2"),
             (64, 5): ("complex128", ">i4" if en == ">" else "<i4"),
             (64, 6): ("complex64", ">f4" if en == ">" else "<f4"),
             (128, 6): ("complex128", ">f8" if en == ">" else "<f8")}
    if bits == 1:
        dtype, comp_dt = "uint8", None        # 1-bit: unpack to bytes
    elif (bits, sfmt) in _CPLX:
        dtype, comp_dt = _CPLX[(bits, sfmt)]
    elif bits in (10, 12) and sfmt == 1:
        dtype, comp_dt = "uint16", None       # promoted like the reference
    elif bits == 24 and sfmt == 2:
        dtype, comp_dt = "int32", None
    elif bits == 16 and sfmt == 3:
        dtype, comp_dt = "float32", None      # IEEE half promoted
    elif bits == 24 and sfmt == 3:
        dtype, comp_dt = "float32", None      # libtiff FLOAT24 (1-8-15)
    else:
        dtype, comp_dt = _BACK[(bits, sfmt)], None
    bpp = bits // 8
    planar = int(tags.get(284, (1,))[0])
    is_cplx = np.dtype(dtype).kind == "c"
    np_dt = (np.dtype(dtype) if is_cplx
             else np.dtype(dtype).newbyteorder(en))
    bands = [np.zeros((H, W), dtype=dtype) for _ in range(nb)]

    # new-style JPEG-in-TIFF (Compression=7, TIFF Tech Note 2): tag 347
    # JPEGTables holds an abbreviated table stream shared by all chunks;
    # each chunk is an abbreviated JPEG whose tables get spliced in after
    # its SOI (gdal/frmts/gtiff + libjpeg path). Decoded by the engine's
    # own baseline decoder (raster/jpegcodec.py).
    jtab = tags.get(347, (None,))[0]
    if isinstance(jtab, str):
        jtab = jtab.encode("latin-1")

    def _jpeg_chunk(off: int, cnt: int, w: int, h: int,
                    spp: int) -> np.ndarray:
        from gdal_spark.raster import jpegcodec as JC
        raw = bytes(data[off:off + cnt])
        stream = raw
        if jtab and len(jtab) > 4 and raw[:2] == b"\xff\xd8":
            body = bytes(jtab)
            if body[:2] == b"\xff\xd8":
                body = body[2:]
            if body[-2:] == b"\xff\xd9":
                body = body[:-2]
            stream = b"\xff\xd8" + body + raw[2:]
        # TIFF photometric decides the color transform: 6 = YCbCr data
        # (convert to RGB like the reference's default JPEG_COLOR path),
        # anything else = components stored raw
        photo = int(tags.get(262, (1,))[0])
        img = JC.jpeg_decode(stream, color_transform=(photo == 6))
        if img.ndim == 2:
            img = img[:, :, None]
        out = np.zeros((h, w, spp), dtype=dtype)
        hh, ww = min(h, img.shape[0]), min(w, img.shape[1])
        out[:hh, :ww, :] = img[:hh, :ww, :spp]
        return out

    def chunk(off: int, cnt: int | None, w: int, h: int,
              spp: int) -> np.ndarray:
        if codec == 7:
            return _jpeg_chunk(off, cnt, w, h, spp)
        if bits == 1:
            row_bytes = (w * spp + 7) // 8
            want = row_bytes * h
            raw = data[off:off + (cnt if cnt is not None else want)]
            raw = TC.decompress(codec, raw, want)
            raw = raw.ljust(want, b"\x00")   # partial final chunk (#1179)
            bb = np.frombuffer(raw, np.uint8, want).reshape(h, row_bytes)
            px = np.unpackbits(bb, axis=1)[:, :w * spp]
            return px.reshape(h, w, spp)
        if bits in (10, 12):
            # sub-word packed samples, MSB-first, rows padded to bytes
            row_bytes = (w * spp * bits + 7) // 8
            want = row_bytes * h
            raw = data[off:off + (cnt if cnt is not None else want)]
            raw = TC.decompress(codec, raw, want)
            raw = bytes(raw).ljust(want, b"\x00")
            bb = np.unpackbits(np.frombuffer(raw, np.uint8,
                                             want).reshape(h, row_bytes),
                               axis=1)[:, :w * spp * bits]
            bb = bb.reshape(h, w * spp, bits)
            weights = (1 << np.arange(bits - 1, -1, -1)).astype(np.uint32)
            vals = (bb * weights).sum(axis=2).astype("uint16")
            return vals.reshape(h, w, spp)
        if bits == 24:
            row = w * spp * 3
            want = row * h
            raw = data[off:off + (cnt if cnt is not None else want)]
            raw = TC.decompress(codec, raw, want)
            raw = bytes(raw).ljust(want, b"\x00")
            # byte triples: the int24 fixture packs MSB-first, the
            # libtiff FLOAT24 fixture LSB-first (both II files)
            b3 = np.frombuffer(raw, np.uint8, want).reshape(-1, 3)
            if sfmt == 3:
                u = (b3[:, 0].astype(np.uint32)
                     | (b3[:, 1].astype(np.uint32) << 8)
                     | (b3[:, 2].astype(np.uint32) << 16))
            else:
                u = ((b3[:, 0].astype(np.uint32) << 16)
                     | (b3[:, 1].astype(np.uint32) << 8)
                     | b3[:, 2].astype(np.uint32))
            if sfmt == 3:
                # libtiff FLOAT24 (1 sign, 7 exp bias 63, 16 mantissa —
                # tif_float24 layout used by the reference fixtures):
                # widen to float32 by rebiasing the exponent
                sign = (u >> 23) & 1
                exp = ((u >> 16) & 0x7F).astype(np.int32)
                man = (u & 0xFFFF).astype(np.uint32)
                f32 = ((sign << 31)
                       | (np.where(exp == 0, 0,
                                   exp - 63 + 127).astype(np.uint32) << 23)
                       | (man << 7)).astype(np.uint32)
                vals = f32.view(np.float32)
            else:
                vals = np.where(u & 0x800000,
                                u.astype(np.int64) - (1 << 24),
                                u.astype(np.int64)).astype("int32")
            return vals.reshape(h, w, spp)
        if bits == 16 and sfmt == 3:
            want = w * h * spp * 2
            raw = data[off:off + (cnt if cnt is not None else want)]
            raw = TC.decompress(codec, raw, want)
            raw = bytes(raw).ljust(want, b"\x00")
            half = np.frombuffer(raw, np.dtype("float16").newbyteorder(en),
                                 count=w * h * spp)
            return half.astype(np.float32).reshape(h, w, spp)
        want = w * h * spp * bpp
        raw = data[off:off + (cnt if cnt is not None else want)]
        raw = TC.decompress(codec, raw, want)
        if len(raw) < want:
            raw = bytes(raw).ljust(want, b"\x00")  # truncated tail (#1179)
        if pred == 2:
            raw = TC.predictor_undo(raw[:want], w, h, np_dt, spp)
        if is_cplx:
            comps = np.frombuffer(raw, dtype=comp_dt,
                                  count=2 * w * h * spp).astype(np.float64)
            vals = (comps[0::2] + 1j * comps[1::2]).astype(dtype)
            return vals.reshape(h, w, spp)
        return np.frombuffer(raw, dtype=np_dt,
                             count=w * h * spp).reshape(h, w, spp)

    if 322 in tags:  # tiled
        tw, th = int(tags[322][0]), int(tags[323][0])
        ntx, nty = (W + tw - 1) // tw, (H + th - 1) // th
        offs = tags[324]
        cnts = tags.get(325, (None,) * len(offs))
        per_band = ntx * nty
        for i, off in enumerate(offs):
            if planar == 2 or nb == 1:
                bi, ti = divmod(i, per_band)
                raw = chunk(off, cnts[i], tw, th, 1)
                tiles_of = [(bi, raw[:, :, 0])]
            else:  # chunky: samples interleaved within the tile
                ti = i
                raw = chunk(off, cnts[i], tw, th, nb)
                tiles_of = [(b, raw[:, :, b]) for b in range(nb)]
            ty, tx = divmod(ti, ntx)
            h = min(th, H - ty * th)
            w = min(tw, W - tx * tw)
            for bi, tile in tiles_of:
                bands[bi][ty * th:ty * th + h,
                          tx * tw:tx * tw + w] = tile[:h, :w]
    else:  # strips
        rps = int(tags.get(278, (H,))[0])
        offs = tags[273]
        cnts = tags.get(279, (None,) * len(offs))
        nstrips = (H + rps - 1) // rps
        for i, off in enumerate(offs):
            if planar == 2 and nb > 1:
                bi, si = divmod(i, nstrips)
            else:
                bi, si = 0, i
            h = min(rps, H - si * rps)
            spp = nb if (planar != 2 and nb > 1) else 1
            raw = chunk(off, cnts[i], W, h, spp)
            if spp > 1:
                for b in range(nb):
                    bands[b][si * rps:si * rps + h] = raw[:, :, b]
            else:
                bands[bi][si * rps:si * rps + h] = raw[:, :, 0]

    gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    if 33550 in tags and 33922 in tags:
        sx, sy = tags[33550][0], tags[33550][1]
        i, j, _k, x, y, _z = tags[33922][:6]
        gt = (x - i * sx, sx, 0.0, y + j * sy, 0.0, -sy)
    nodata = None
    if 42113 in tags:
        try:
            nodata = float(tags[42113][0])
        except ValueError:
            pass
    meta = RasterMeta(raster_id, W, H, gt=gt, dtype=dtype, nodata=nodata,
                      block=block)
    return bands, meta


def geotiff_meta(path: str, block: int = 256) -> RasterMeta:
    """Driver-side header read (IFD only) → RasterMeta, no pixel I/O."""
    with open(path, "rb") as fh:
        head = fh.read(1 << 20)
    tags, _en = _read_ifd(head)
    stem = os.path.splitext(os.path.basename(path))[0]
    W, H = int(tags[256][0]), int(tags[257][0])
    bits = int(tags[258][0])
    sfmt = int(tags.get(339, (1,))[0])
    gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    if 33550 in tags and 33922 in tags:
        sx, sy = tags[33550][0], tags[33550][1]
        i, j, _k, x, y, _z = tags[33922][:6]
        gt = (x - i * sx, sx, 0.0, y + j * sy, 0.0, -sy)
    nodata = float(tags[42113][0]) if 42113 in tags else None
    return RasterMeta(stem, W, H, gt=gt, dtype=_BACK[(bits, sfmt)],
                      nodata=nodata, block=block)


def read_geotiff(spark: SparkSession, path_glob: str,
                 block: int = 256) -> DataFrame:
    """Distributed GeoTIFF scan: one task per FILE (binaryFile), each
    parsing its payload to standard block rows; raster_id = file stem so
    a directory of tiles mosaics with the engine's mosaic operator."""
    files = spark.read.format("binaryFile").load(path_glob) \
        .select("path", "content")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os
        for pdf in batches:
            rows = []
            for p, c in zip(pdf["path"], pdf["content"]):
                stem = os.path.splitext(os.path.basename(p))[0]
                bands, meta = parse_geotiff(bytes(c), stem, block)
                for bi, arr in enumerate(bands):
                    for by in range(meta.n_block_y):
                        for bx in range(meta.n_block_x):
                            sub = np.ascontiguousarray(
                                arr[by * block:(by + 1) * block,
                                    bx * block:(bx + 1) * block])
                            rows.append((stem, bi, bx, by, sub.shape[1],
                                         sub.shape[0], sub.tobytes()))
            yield pd.DataFrame(rows, columns=[f.name for f in TILE_SCHEMA])

    return files.mapInPandas(run, schema=TILE_SCHEMA)


def write_geotiff(tiles: DataFrame, meta: RasterMeta, path: str,
                  bands: int = 1, compression: str = "none",
                  predictor: bool = False,
                  bigtiff: bool | None = None) -> int:
    """Single-artifact GeoTIFF sink: a .tif is one file, so block rows
    stream to the driver (``toLocalIterator``, one partition in memory at
    a time) — the write is O(1) memory in raster size. TIFF tile grid =
    the engine's block grid, zero re-chunking. Uncompressed tiles land at
    offsets precomputed from the fixed tile size; compressed tiles append
    in arrival order and the TileOffsets/TileByteCounts arrays are patched
    in place afterwards (their external-area positions are deterministic).
    Absent tiles point at one shared compressed zero tile. For distributed
    output write one .tif per partition-of-rasters instead
    (file-per-artifact, as the XYZ tile sink does)."""
    codec = TC.NAMES[compression]
    tw = th = meta.block
    bits, sfmt = _DTYPES[meta.dtype]
    bpp = bits // 8
    if predictor and (sfmt == 3
                      or codec not in (TC.COMP_LZW, TC.COMP_DEFLATE)):
        raise ValueError("Predictor=2 requires an integer dtype and an "
                         "LZW/Deflate codec (mainstream readers ignore the "
                         "Predictor tag for other codecs)")
    W, H = meta.width, meta.height
    ntx, nty = meta.n_block_x, meta.n_block_y
    ntiles = ntx * nty * bands
    tile_bytes = tw * th * bpp
    le_dt = np.dtype(meta.dtype).newbyteorder("<")
    if bigtiff is None:
        # BIGTIFF=IF_NEEDED: classic offsets are uint32, so switch when
        # the projected uncompressed payload approaches 4 GiB (the IFD +
        # tile arrays add well under the 16 MiB margin)
        bigtiff = ntiles * tile_bytes > (1 << 32) - (1 << 24)

    entries = [
        (256, _LONG, struct.pack("<I", W), 1),
        (257, _LONG, struct.pack("<I", H), 1),
        (258, _SHORT, struct.pack(f"<{bands}H", *([bits] * bands)), bands),
        (259, _SHORT, struct.pack("<H", codec), 1),
        (262, _SHORT, struct.pack("<H", 1), 1),
        (277, _SHORT, struct.pack("<H", bands), 1),
        (322, _SHORT, struct.pack("<H", tw), 1),
        (323, _SHORT, struct.pack("<H", th), 1),
        (325, _LONG, struct.pack(f"<{ntiles}I", *([tile_bytes] * ntiles)),
         ntiles),
        (339, _SHORT, struct.pack(f"<{bands}H", *([sfmt] * bands)), bands),
        (33550, _DOUBLE, struct.pack("<3d", meta.gt[1], -meta.gt[5], 0.0), 3),
        (33922, _DOUBLE,
         struct.pack("<6d", 0.0, 0.0, 0.0, meta.gt[0], meta.gt[3], 0.0), 6),
        (34735, _SHORT, struct.pack("<8H", 1, 1, 0, 1, 1024, 0, 1, 2), 8),
    ]
    if bands > 1:
        entries.append((284, _SHORT, struct.pack("<H", 2), 1))
    if predictor:
        entries.append((317, _SHORT, struct.pack("<H", 2), 1))
    if meta.nodata is not None:
        nd = f"{meta.nodata:g}".encode("ascii") + b"\x00"
        entries.append((42113, _ASCII, nd, len(nd)))
    n_entries = len(entries) + 1
    off_t, off_fmt = (_LONG8, "Q") if bigtiff else (_LONG, "I")
    hdr_size, ifd_size = _tiff_prelude(bigtiff, n_entries)
    _probe_ifd, probe_ext, _pos = _entries_bytes(
        entries + [(324, off_t,
                    struct.pack(f"<{ntiles}{off_fmt}", *([0] * ntiles)),
                    ntiles)],
        hdr_size + ifd_size, big=bigtiff)
    data_start = hdr_size + ifd_size + len(probe_ext)
    entries.append((324, off_t,
                    struct.pack(f"<{ntiles}{off_fmt}",
                                *([data_start + i * tile_bytes
                                   for i in range(ntiles)]
                                  if codec == TC.COMP_NONE
                                  else [0] * ntiles)), ntiles))
    ifd, ext, ext_pos = _entries_bytes(entries, hdr_size + ifd_size,
                                       big=bigtiff)

    def encode(tile: np.ndarray) -> bytes:
        raw = tile.astype(le_dt).tobytes()
        if predictor:
            raw = TC.predictor_apply(raw, tw, th, le_dt)
        return TC.compress(codec, raw)

    per_band = ntx * nty
    n = 0
    with open(path, "w+b") as fh:
        fh.write(_tiff_header_bytes(bigtiff, n_entries))
        fh.write(ifd + struct.pack("<Q" if bigtiff else "<I", 0))
        fh.write(ext)
        if codec == TC.COMP_NONE:
            fh.truncate(data_start + ntiles * tile_bytes)  # zero = nodata 0
            for row in tiles.toLocalIterator():
                if row["band"] >= bands:
                    continue
                idx = row["band"] * per_band + row["by"] * ntx + row["bx"]
                tile = np.zeros((th, tw), dtype=meta.dtype)
                sub = np.frombuffer(bytes(row["data"]), dtype=meta.dtype
                                    ).reshape(row["h"], row["w"])
                tile[:row["h"], :row["w"]] = sub
                fh.seek(data_start + idx * tile_bytes)
                fh.write(tile.astype(le_dt).tobytes())
                n += 1
            return n
        # compressed: shared zero tile first, then tiles in arrival order
        zero = encode(np.zeros((th, tw), dtype=meta.dtype))
        offsets = np.full(ntiles, data_start,
                          dtype=np.uint64 if bigtiff else np.uint32)
        counts = np.full(ntiles, len(zero), dtype=np.uint32)
        fh.write(zero + (b"\x00" if len(zero) % 2 else b""))
        pos = data_start + len(zero) + (len(zero) % 2)
        for row in tiles.toLocalIterator():
            if row["band"] >= bands:
                continue
            idx = row["band"] * per_band + row["by"] * ntx + row["bx"]
            tile = np.zeros((th, tw), dtype=meta.dtype)
            sub = np.frombuffer(bytes(row["data"]), dtype=meta.dtype
                                ).reshape(row["h"], row["w"])
            tile[:row["h"], :row["w"]] = sub
            payload = encode(tile)
            fh.seek(pos)
            fh.write(payload + (b"\x00" if len(payload) % 2 else b""))
            offsets[idx], counts[idx] = pos, len(payload)
            pos += len(payload) + (len(payload) % 2)
            n += 1
        order = sorted(t for t, *_ in entries)
        cnt_sz, ent_sz, val_off = (8, 20, 12) if bigtiff else (2, 12, 8)
        for tag, arr in ((324, offsets), (325, counts)):
            # ntiles==1 → the payload sits inline in the IFD entry slot
            inline_at = (hdr_size + cnt_sz + ent_sz * order.index(tag)
                         + val_off)
            fh.seek(ext_pos.get(tag, inline_at))
            patch_dt = "<u8" if (bigtiff and tag == 324) else "<u4"
            fh.write(arr.astype(patch_dt).tobytes())
    return n


# ---------------------------------------------------------------------------
# Cloud-Optimized GeoTIFF sink (the gdal/frmts/gtiff COG driver layout,
# gdal/frmts/gtiff/cogdriver.cpp semantics: all IFDs at the file head —
# full resolution first, chained to /2 overviews — and the tile data
# section ordered smallest-overview-first so range readers fetch coarse
# zoom levels from the file head)
# ---------------------------------------------------------------------------

def write_cog(tiles: DataFrame, meta: RasterMeta, path: str,
              bands: int = 1, compression: str = "deflate",
              levels: int | None = None, resampling: str = "average",
              bigtiff: bool | None = None) -> dict:
    """Single-artifact COG sink. The overview chain is computed
    DISTRIBUTED (raster/pyramid.py ``build_pyramid`` — one keyed shuffle
    per /2 level); only the final encoded tile streams assemble on the
    driver (spooled to a temp file, O(1) memory in raster size, same
    contract as :func:`write_geotiff`). ``levels=None`` halves until the
    longest side fits one tile, the gdaladdo/COG default. Returns
    ``{"levels": n, "tiles": per-level tile counts}``."""
    import tempfile

    from gdal_spark.raster.pyramid import build_pyramid

    codec = TC.NAMES[compression]
    tw = th = meta.block
    bits, sfmt = _DTYPES[meta.dtype]
    bpp = bits // 8
    if levels is None:
        levels, w, h = 0, meta.width, meta.height
        while max(w, h) > meta.block:
            w, h = (w + 1) // 2, (h + 1) // 2
            levels += 1
    chain = [(tiles, meta)]
    if levels > 0:
        chain += build_pyramid(tiles, meta, levels, resampling)
    le_dt = np.dtype(meta.dtype).newbyteorder("<")
    if bigtiff is None:
        est = sum(m.n_block_x * m.n_block_y for _, m in chain) \
            * bands * tw * th * bpp
        bigtiff = est > (1 << 32) - (1 << 24)

    def encode(tile: np.ndarray) -> bytes:
        return TC.compress(codec, tile.astype(le_dt).tobytes())

    zero = encode(np.zeros((th, tw), dtype=meta.dtype))

    # phase 1: per level, spool encoded tiles (arrival order) and record
    # (spool offset, size) per tile index; absent tiles share the zero
    # payload written once at spool head
    spool = tempfile.TemporaryFile()
    spool.write(zero)
    spool_pos = len(zero)
    level_tiles = []       # [(offsets into spool, sizes, n_present, meta)]
    for df, m in chain:
        ntx, nty = m.n_block_x, m.n_block_y
        nt = ntx * nty * bands
        offs = np.zeros(nt, dtype=np.int64)        # 0 = shared zero tile
        sizes = np.full(nt, len(zero), dtype=np.int64)
        npresent = 0
        for row in df.toLocalIterator():
            if row["band"] >= bands:
                continue
            idx = row["band"] * ntx * nty + row["by"] * ntx + row["bx"]
            tile = np.zeros((th, tw), dtype=meta.dtype)
            sub = np.frombuffer(bytes(row["data"]), dtype=meta.dtype
                                ).reshape(row["h"], row["w"])
            tile[:row["h"], :row["w"]] = sub
            payload = encode(tile)
            spool.seek(spool_pos)
            spool.write(payload)
            offs[idx], sizes[idx] = spool_pos, len(payload)
            spool_pos += len(payload)
            npresent += 1
        level_tiles.append((offs, sizes, npresent, m))

    # phase 2: lay out the file — header, every IFD (+ its external
    # arrays) consecutively, then data smallest-level-first
    off_t, off_fmt = (_LONG8, "Q") if bigtiff else (_LONG, "I")

    def entries_for(m: RasterMeta, nt: int, is_ovr: bool,
                    tile_offsets: np.ndarray,
                    tile_sizes: np.ndarray) -> list:
        e = [
            (256, _LONG, struct.pack("<I", m.width), 1),
            (257, _LONG, struct.pack("<I", m.height), 1),
            (258, _SHORT, struct.pack(f"<{bands}H", *([bits] * bands)),
             bands),
            (259, _SHORT, struct.pack("<H", codec), 1),
            (262, _SHORT, struct.pack("<H", 1), 1),
            (277, _SHORT, struct.pack("<H", bands), 1),
            (322, _SHORT, struct.pack("<H", tw), 1),
            (323, _SHORT, struct.pack("<H", th), 1),
            (324, off_t, struct.pack(f"<{nt}{off_fmt}",
                                     *tile_offsets.tolist()), nt),
            (325, _LONG, struct.pack(f"<{nt}I", *tile_sizes.tolist()), nt),
            (339, _SHORT, struct.pack(f"<{bands}H", *([sfmt] * bands)),
             bands),
        ]
        if bands > 1:
            e.append((284, _SHORT, struct.pack("<H", 2), 1))
        if is_ovr:
            # NewSubfileType: reduced-resolution image
            e.append((254, _LONG, struct.pack("<I", 1), 1))
        else:
            e.append((33550, _DOUBLE,
                      struct.pack("<3d", meta.gt[1], -meta.gt[5], 0.0), 3))
            e.append((33922, _DOUBLE,
                      struct.pack("<6d", 0.0, 0.0, 0.0, meta.gt[0],
                                  meta.gt[3], 0.0), 6))
            e.append((34735, _SHORT,
                      struct.pack("<8H", 1, 1, 0, 1, 1024, 0, 1, 2), 8))
            if meta.nodata is not None:
                nd = f"{meta.nodata:g}".encode("ascii") + b"\x00"
                e.append((42113, _ASCII, nd, len(nd)))
        return e

    # probe pass: sizes of every IFD block with placeholder offsets
    hdr_size = 16 if bigtiff else 8
    ifd_layouts = []      # (ifd_start, ifd_size, ext_len, n_entries)
    pos = hdr_size
    for li, (offs, sizes, _np_, m) in enumerate(level_tiles):
        nt = len(offs)
        probe = entries_for(m, nt, li > 0, np.zeros(nt, np.int64), sizes)
        n_e = len(probe)
        _hs, ifd_size = _tiff_prelude(bigtiff, n_e)
        _ifd, ext, _p = _entries_bytes(probe, 0, big=bigtiff)
        ifd_layouts.append((pos, ifd_size, len(ext), n_e))
        pos += ifd_size + len(ext)
    data_start = pos

    # data section: smallest overview first, then up the chain, base last
    order = list(range(len(chain)))[::-1]
    file_off = {}          # level -> np.ndarray of absolute tile offsets
    pos = data_start
    shared_zero_at = pos   # the zero tile written once, shared by all
    pos += len(zero) + (len(zero) % 2)
    for li in order:
        offs, sizes, _np_, m = level_tiles[li]
        fo = np.zeros(len(offs), dtype=np.int64)
        for i in range(len(offs)):
            if offs[i] == 0:
                fo[i] = shared_zero_at
            else:
                fo[i] = pos
                pos += int(sizes[i]) + (int(sizes[i]) % 2)
        file_off[li] = fo

    # final write
    n_written = []
    with open(path, "wb") as fh:
        first_n = ifd_layouts[0][3]
        fh.write(_tiff_header_bytes(bigtiff, first_n)[:hdr_size])
        for li, (start, ifd_size, ext_len, n_e) in enumerate(ifd_layouts):
            offs, sizes, npresent, m = level_tiles[li]
            is_ovr = li > 0
            ents = entries_for(m, len(offs), is_ovr, file_off[li], sizes)
            ifd, ext, _p = _entries_bytes(ents, start + ifd_size,
                                          big=bigtiff)
            nxt = (ifd_layouts[li + 1][0]
                   if li + 1 < len(ifd_layouts) else 0)
            fh.seek(start)
            fh.write(struct.pack("<Q" if bigtiff else "<H", n_e))
            fh.write(ifd)
            fh.write(struct.pack("<Q" if bigtiff else "<I", nxt))
            fh.write(ext)
            n_written.append(npresent)
        # data: zero tile then levels smallest-first, spool order per level
        fh.seek(shared_zero_at)
        fh.write(zero + (b"\x00" if len(zero) % 2 else b""))
        for li in order:
            offs, sizes, _np_, m = level_tiles[li]
            fo = file_off[li]
            for i in range(len(offs)):
                if offs[i] == 0:
                    continue
                spool.seek(int(offs[i]))
                payload = spool.read(int(sizes[i]))
                fh.seek(int(fo[i]))
                fh.write(payload + (b"\x00" if len(payload) % 2 else b""))
    spool.close()
    return {"levels": levels, "tiles": n_written,
            "bigtiff": bool(bigtiff)}


# ---------------------------------------------------------------------------
# Arc/Info ASCII Grid (gdal/frmts/aaigrid/aaigriddataset.cpp layout)
# ---------------------------------------------------------------------------

def write_aaigrid(arr: np.ndarray, meta: RasterMeta, path: str) -> None:
    H, W = arr.shape
    cell = meta.gt[1]
    yll = meta.gt[3] + H * meta.gt[5]
    with open(path, "w") as fh:
        fh.write(f"ncols {W}\nnrows {H}\n"
                 f"xllcorner {meta.gt[0]:.10g}\nyllcorner {yll:.10g}\n"
                 f"cellsize {cell:.10g}\n")
        if meta.nodata is not None:
            fh.write(f"NODATA_value {meta.nodata:g}\n")
        for row in arr:
            fh.write(" ".join(f"{v:.10g}" for v in row) + "\n")


def read_aaigrid(spark: SparkSession, path: str, raster_id: str = "aai",
                 dtype: str = "float64",
                 block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """Distributed ASCII-grid read: the driver reads only the small
    header; data lines split by byte range (Spark text source) and each
    task emits full-width row strips re-keyed to the block grid by a
    single shuffle on (bx, by) — one huge .asc parallelizes, unlike the
    reference's sequential scan."""
    header: dict[str, float] = {}
    n_header = 0
    with open(path) as fh:
        for line in fh:
            parts = line.split()
            if len(parts) == 2 and parts[0].lower() in (
                    "ncols", "nrows", "xllcorner", "yllcorner", "cellsize",
                    "nodata_value"):
                header[parts[0].lower()] = float(parts[1])
                n_header += 1
            else:
                break
    W, H = int(header["ncols"]), int(header["nrows"])
    cell = header["cellsize"]
    gt = (header["xllcorner"], cell, 0.0,
          header["yllcorner"] + H * cell, 0.0, -cell)
    meta = RasterMeta(raster_id, W, H, gt=gt, dtype=dtype,
                      nodata=header.get("nodata_value"), block=block)

    lines = (spark.read.text(path)
             .select(F.trim("value").alias("v"))
             .filter(F.length("v") > 0)
             .filter(~F.col("v").rlike(
                 r"(?i)^(ncols|nrows|xllcorner|yllcorner|cellsize|"
                 r"nodata_value)\s")))
    # line order = row order: key rows by a monotonic index per the text
    # source's split ordering (zipWithIndex semantics via a window-free
    # monotonically increasing id is NOT order-stable across splits, so
    # use the RDD zipWithIndex which is)
    rdd = lines.rdd.map(lambda r: r["v"]).zipWithIndex()
    row_df = spark.createDataFrame(rdd, "v string, py long")

    def to_blocks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for v, py in zip(pdf["v"], pdf["py"]):
                vals = np.array(v.split(), dtype=np.float64).astype(dtype)
                for bx in range(meta.n_block_x):
                    sub = vals[bx * block:(bx + 1) * block]
                    rows.append((raster_id, 0, bx, int(py) // block,
                                 len(sub), 1, int(py),
                                 sub.tobytes()))
            yield pd.DataFrame(rows, columns=["raster_id", "band", "bx",
                                              "by", "w", "h", "py", "data"])

    strip_schema = ("raster_id string, band int, bx int, by int, "
                    "w int, h int, py long, data binary")
    strips = row_df.mapInPandas(to_blocks, schema=strip_schema)

    def merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        bx, by = int(key[0]), int(key[1])
        w = int(pdf["w"].iloc[0])
        h = min(block, H - by * block)
        out = np.zeros((h, w), dtype=dtype)
        for r in pdf.itertuples(index=False):
            out[int(r.py) - by * block] = np.frombuffer(bytes(r.data),
                                                        dtype=dtype)
        return pd.DataFrame([(raster_id, 0, bx, by, w, h, out.tobytes())],
                            columns=[f.name for f in TILE_SCHEMA])

    tiles = strips.groupBy("bx", "by").applyInPandas(merge,
                                                     schema=TILE_SCHEMA)
    return tiles, meta


def geotiff_color_table(data: bytes) -> np.ndarray | None:
    """TIFF ColorMap (tag 320, 3*2^bits 16-bit values, R-plane then G
    then B) → (N,3) uint8 palette scaled /256 as GDAL's GTiff driver
    does; None when the file carries no color table."""
    tags, _en = _read_ifd(data)
    cm = tags.get(320)
    if cm is None:
        return None
    n = len(cm) // 3
    arr = np.asarray(cm, dtype=np.int64).reshape(3, n).T
    return (arr // 256).astype(np.uint8)


def parse_dted(data: bytes) -> tuple[np.ndarray, RasterMeta]:
    """DTED (MIL-PRF-89020) elevation tile → (int16 array, RasterMeta).
    Layout per the public spec and gdal/frmts/dted: 80-byte UHL + 648-byte
    DSI + 2700-byte ACC, then one 0xAA data record per longitude column
    (south→north samples, big-endian signed-magnitude). Point-registered:
    the geotransform puts the origin half a cell outside the SW post."""
    if data[:4] != b"UHL1":
        raise ValueError("not a DTED file (no UHL)")

    def _dms(s: bytes) -> float:
        deg = int(s[:-5])
        minutes = int(s[-5:-3])
        sec = int(s[-3:-1])
        hemi = chr(s[-1])
        v = deg + minutes / 60.0 + sec / 3600.0
        return -v if hemi in ("S", "W") else v

    lon0 = _dms(data[4:12])
    lat0 = _dms(data[12:20])
    dx = int(data[20:24]) / 36000.0     # tenths of arc-seconds → degrees
    dy = int(data[24:28]) / 36000.0
    n_lon = int(data[47:51])
    n_lat = int(data[51:55])
    arr = np.zeros((n_lat, n_lon), dtype=np.int16)
    pos = 80 + 648 + 2700
    rec_len = 8 + 2 * n_lat + 4
    for col in range(n_lon):
        rec = data[pos:pos + rec_len]
        if rec[0] != 0xAA:
            raise ValueError(f"bad DTED record sentinel at column {col}")
        raw = np.frombuffer(rec, dtype=">u2", count=n_lat, offset=8)
        vals = np.where(raw & 0x8000,
                        -(raw & 0x7FFF).astype(np.int32),
                        raw.astype(np.int32)).astype(np.int16)
        arr[:, col] = vals[::-1]        # south→north records; row 0 = north
        pos += rec_len
    gt = (lon0 - dx / 2.0, dx, 0.0,
          lat0 + (n_lat - 1) * dy + dy / 2.0, 0.0, -dy)
    meta = RasterMeta("dted", n_lon, n_lat, gt=gt, dtype="int16")
    return arr, meta


# ---------------------------------------------------------------------------
# XYZ ASCII grid driver (gdal/frmts/xyz/xyzdataset.cpp)
# ---------------------------------------------------------------------------

def _xyz_sniff(path: str) -> tuple[str, bool, tuple[int, int, int], bool]:
    """Header sniff (driver-side, first KB): returns (field separator,
    comma-is-decimal, (ix, iy, iz) column roles, has_header). The
    reference accepts whitespace / ',' / ';' separators, ',' as the
    decimal mark when ';' separates, and an optional header line whose
    tokens (X/Y/Z, any case, extra columns ignored) assign roles
    (xyzdataset.cpp Identify+Open)."""
    with open(path, "rb") as f:
        head = f.read(4096).decode("ascii", "replace")
    lines = [ln for ln in head.splitlines() if ln.strip()]
    if not lines:
        raise ValueError("empty XYZ file")
    first = lines[0]
    sep = ";" if ";" in first else ("," if "," in first else None)
    comma_decimal = sep == ";" and "," in head.replace(first, "")
    ix, iy, iz, has_header = 0, 1, 2, False
    toks = [t for t in (first.replace(sep, " ") if sep else first).split()]
    def _num(t):
        try:
            float(t.replace(",", ".") if comma_decimal else t)
            return True
        except ValueError:
            return False
    if toks and not all(_num(t) for t in toks):
        has_header = True
        for i, t in enumerate(toks):
            u = t.upper()
            if u.startswith("X") or "LON" in u:
                ix = i
            elif u.startswith("Y") or "LAT" in u:
                iy = i
            elif u.startswith("Z") or u in ("ALT", "ELEV", "HEIGHT"):
                iz = i
        data_line = lines[1] if len(lines) > 1 else ""
    else:
        data_line = first
    if sep is None:
        sep = ";" if ";" in data_line else ("," if "," in data_line else None)
        comma_decimal = sep == ";" and "," in data_line
    return sep, comma_decimal, (ix, iy, iz), has_header


def read_xyz(spark: SparkSession, path: str, raster_id: str = "xyz",
             block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """The XYZ driver read path, Spark-first: `spark.read.text` over the
    (splittable) ASCII grid, one agg for the grid inference, one
    groupBy to assemble blocks.

    Grid semantics per gdal/frmts/xyz/xyzdataset.cpp:
    - pixel size = smallest positive step between consecutive distinct
      coordinate values per axis; extent = min/max ± half a step
      (pixel-is-area);
    - row order follows the file's Y direction (increasing Y → positive
      y-res geotransform, xyz_5's (-0.25,0.5,0,0.5,0,1));
    - cells absent from the file read as nodata 0 (xyz_4);
    - dtype: Byte if every Z is an integer in [0,255], Int16 in int16
      range, else Float32.
    """
    sep, comma_dec, (ix, iy, iz), has_header = _xyz_sniff(path)
    lines = spark.read.text(path)
    if has_header:
        first_txt = open(path, "rb").readline().decode("ascii",
                                                       "replace").rstrip("\n")
        lines = lines.filter(F.col("value") != first_txt)
    lines = lines.filter(F.trim(F.col("value")) != "")
    v = F.col("value")
    if comma_dec:
        v = F.regexp_replace(v, ",", ".")
    if sep is None:
        parts = F.split(F.trim(v), r"\s+")
    else:
        parts = F.split(F.trim(v), re.escape(sep))
    pts = lines.select(
        F.element_at(parts, ix + 1).cast("double").alias("x"),
        F.element_at(parts, iy + 1).cast("double").alias("y"),
        F.element_at(parts, iz + 1).cast("double").alias("z"))

    from pyspark.sql import Window

    def _min_step(col: str):
        w = Window.orderBy(col)
        d = (F.col(col) - F.lag(col, 1).over(w))
        return (pts.select(col).distinct()
                .select(d.alias("d"))
                .filter(F.col("d") > 0)
                .agg(F.min("d")).collect()[0][0])

    stats = pts.agg(
        F.min("x"), F.max("x"), F.min("y"), F.max("y"),
        F.min("z"), F.max("z"),
        F.max(F.abs(F.col("z") - F.round("z"))).alias("frac")).collect()[0]
    xmin, xmax, ymin, ymax = stats[0], stats[1], stats[2], stats[3]
    zmin, zmax, zfrac = stats[4], stats[5], stats[6]
    step_x = _min_step("x") or 1.0
    step_y = _min_step("y") or 1.0
    width = int(round((xmax - xmin) / step_x)) + 1
    height = int(round((ymax - ymin) / step_y)) + 1
    # row order follows the file: driver-side peek at the first data row
    with open(path, "rb") as f:
        raw = [ln for ln in f.read(8192).decode("ascii", "replace")
               .splitlines() if ln.strip()]
    di = 1 if has_header else 0
    ftok = raw[di].replace(",", ".") if comma_dec else raw[di]
    ftok = ftok.replace(sep, " ") if sep else ftok
    first_y = float(ftok.split()[iy])
    south_up = abs(first_y - ymin) < abs(first_y - ymax)
    if zfrac == 0.0 and 0 <= zmin and zmax <= 255:
        dtype = "uint8"
    elif zfrac == 0.0 and -32768 <= zmin and zmax <= 32767:
        dtype = "int16"
    else:
        dtype = "float32"
    if south_up:
        gt = (xmin - step_x / 2.0, step_x, 0.0,
              ymin - step_y / 2.0, 0.0, step_y)
        py = F.round((F.col("y") - F.lit(ymin)) / F.lit(step_y))
    else:
        gt = (xmin - step_x / 2.0, step_x, 0.0,
              ymax + step_y / 2.0, 0.0, -step_y)
        py = F.round((F.lit(ymax) - F.col("y")) / F.lit(step_y))
    meta = RasterMeta(raster_id, width, height, gt=gt, dtype=dtype,
                      nodata=0.0, block=block)
    px = F.round((F.col("x") - F.lit(xmin)) / F.lit(step_x))
    cells = pts.select(px.cast("long").alias("px"),
                       py.cast("long").alias("py"),
                       F.col("z").alias("burn_val"))
    from gdal_spark.raster.rasterize import pixels_to_blocks
    return pixels_to_blocks(cells, meta), meta


def write_xyz(tiles: DataFrame, meta: RasterMeta, path: str,
              sep: str = " ", header: bool = False) -> None:
    """XYZ write (XYZDataset::CreateCopy): one 'X Y Z' line per pixel,
    rows top-down, pixel centers. Small-output helper (collects —
    ASCII grids are a single-file format; use parquet for scale)."""
    arr = to_array(tiles, meta)
    g = meta.gt
    with open(path, "w") as f:
        if header:
            f.write(f"X{sep}Y{sep}Z\n")
        for r in range(meta.height):
            y = g[3] + (r + 0.5) * g[5]
            for c in range(meta.width):
                x = g[0] + (c + 0.5) * g[1]
                z = arr[r, c]
                zs = str(int(z)) if float(z).is_integer() else repr(float(z))
                f.write(f"{x:.10g}{sep}{y:.10g}{sep}{zs}\n")


# ---------------------------------------------------------------------------
# Raw layouts shared by the RawRasterBand-style drivers below: each reader
# parses its header into RawBand records and hands them to raw_blocks.
# ---------------------------------------------------------------------------

def _interleaved(path: str | None, offset: int, dtype: str, width: int,
                 height: int, nbands: int, layout: str) -> list[RawBand]:
    """Bands of a band-sequential (BSQ) or line-interleaved (BIL)
    payload that starts at ``offset``; any other ``layout`` is
    pixel-interleaved (BIP)."""
    item = np.dtype(dtype).itemsize
    pixel, line, band = {
        "BSQ": (item, width * item, width * height * item),
        "BIL": (item, nbands * width * item, width * item)}.get(
        layout.upper(), (nbands * item, nbands * width * item, item))
    return [RawBand(path, offset + b * band, pixel, line, dtype)
            for b in range(nbands)]


def _windowed(meta: RasterMeta, bands: list[RawBand],
              window: tuple[int, int, int, int] | None
              ) -> tuple[RasterMeta, list[RawBand]]:
    """A RasterIO window (xoff, yoff, xsize, ysize) as layout
    arithmetic: shift each band's offset, and the meta's size and
    origin."""
    if window is None:
        return meta, bands
    xoff, yoff, xs, ys = window
    g = meta.gt
    meta = replace(meta, width=xs, height=ys,
                   gt=(g[0] + xoff * g[1], g[1], 0.0,
                       g[3] + yoff * g[5], 0.0, g[5]))
    return meta, [replace(b, offset=b.offset + yoff * b.line_stride
                          + xoff * b.pixel_stride) for b in bands]


def _plane(path: str | None, offset: int, dtype: str, width: int
           ) -> RawBand:
    """A top-down row-major plane at ``offset``."""
    item = np.dtype(dtype).itemsize
    return RawBand(path, offset, item, width * item, dtype)


def _bottom_up(path: str, offset: int, dtype: str, width: int,
               height: int) -> RawBand:
    """A row-major plane at ``offset`` whose first stored row is the
    southernmost."""
    item = np.dtype(dtype).itemsize
    return RawBand(path, offset + (height - 1) * width * item, item,
                   -width * item, dtype)


# ---------------------------------------------------------------------------
# ESRI .hdr labelled (EHdr) driver (gdal/frmts/raw/ehdrdataset.cpp)
# ---------------------------------------------------------------------------

_EHDR_DTYPES = {(8, "UNSIGNEDINT"): "uint8", (8, "SIGNEDINT"): "int8",
                (16, "SIGNEDINT"): "int16", (16, "UNSIGNEDINT"): "uint16",
                (32, "SIGNEDINT"): "int32", (32, "FLOAT"): "float32"}


def read_ehdr(spark: SparkSession, path: str, raster_id: str = "ehdr",
              block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """EHdr read: keyword .hdr sidecar (NROWS/NCOLS/NBITS/PIXELTYPE/
    BYTEORDER/LAYOUT, ULXMAP/ULYMAP = CENTER of the upper-left pixel)
    next to the raw .bil/.flt payload; BIL, BSQ or BIP."""
    stem = os.path.splitext(path)[0]
    hdr_path = stem + ".hdr"
    kv = {}
    for ln in open(hdr_path).read().splitlines():
        parts = ln.split()
        if len(parts) >= 2:
            kv[parts[0].upper()] = parts[1]
    rows, cols = int(kv["NROWS"]), int(kv["NCOLS"])
    nbands = int(kv.get("NBANDS", "1"))
    nbits = int(kv.get("NBITS", "8"))
    ptype = kv.get("PIXELTYPE",
                   "FLOAT" if nbits == 32 else "UNSIGNEDINT").upper()
    if nbits == 16 and "PIXELTYPE" not in kv:
        ptype = "SIGNEDINT"   # ehdrdataset.cpp defaults 16-bit to Int16
    dtype = _EHDR_DTYPES[(nbits, ptype)]
    order = "<" if kv.get("BYTEORDER", "I").upper() in ("I", "LSBFIRST") \
        else ">"
    xdim = float(kv.get("XDIM", kv.get("CELLSIZE", "1")))
    ydim = float(kv.get("YDIM", kv.get("CELLSIZE", "1")))
    if "ULXMAP" in kv:
        ulx = float(kv["ULXMAP"]) - xdim / 2.0
        uly = float(kv["ULYMAP"]) + ydim / 2.0
    elif "XLLCORNER" in kv:
        ulx = float(kv["XLLCORNER"])
        uly = float(kv["YLLCORNER"]) + rows * ydim
    else:
        ulx, uly = 0.0, 0.0
    nodata = float(kv["NODATA"]) if "NODATA" in kv else None
    meta = RasterMeta(raster_id, cols, rows,
                      gt=(ulx, xdim, 0.0, uly, 0.0, -ydim),
                      dtype=dtype, nodata=nodata, block=block)
    return raw_blocks(spark, meta, _interleaved(
        path, 0, np.dtype(dtype).newbyteorder(order).str, cols, rows,
        nbands, kv.get("LAYOUT", "BIL"))), meta


def write_ehdr(tiles: DataFrame, meta: RasterMeta, path: str,
               band: int = 0) -> None:
    """EHdr write (single band, BIL, little-endian)."""
    arr = to_array(tiles, meta, band=band)
    nbits = arr.dtype.itemsize * 8
    ptype = ("FLOAT" if arr.dtype.kind == "f"
             else "SIGNEDINT" if arr.dtype.kind == "i" else "UNSIGNEDINT")
    g = meta.gt
    stem = os.path.splitext(path)[0]
    with open(stem + ".hdr", "w") as f:
        f.write(f"BYTEORDER      I\nLAYOUT         BIL\n"
                f"NROWS          {meta.height}\nNCOLS          {meta.width}\n"
                f"NBANDS         1\nNBITS          {nbits}\n"
                f"BANDROWBYTES   {meta.width * arr.dtype.itemsize}\n"
                f"TOTALROWBYTES  {meta.width * arr.dtype.itemsize}\n"
                f"PIXELTYPE      {ptype}\n"
                f"ULXMAP         {g[0] + g[1] / 2.0:.10g}\n"
                f"ULYMAP         {g[3] + g[5] / 2.0:.10g}\n"
                f"XDIM           {g[1]:.10g}\nYDIM           {-g[5]:.10g}\n"
                + (f"NODATA         {meta.nodata:.10g}\n"
                   if meta.nodata is not None else ""))
    arr.astype(arr.dtype.newbyteorder("<")).tofile(path)


# ---------------------------------------------------------------------------
# BT (binary terrain 1.3) driver (gdal/frmts/raw/btdataset.cpp)
# ---------------------------------------------------------------------------

_BT_DTYPES = {(2, 0): "int16", (4, 0): "int32", (4, 1): "float32"}


def read_bt(spark: SparkSession, path: str, raster_id: str = "bt",
            block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """BT read: 256-byte 'binterr1.3' header (cols@10, rows@14,
    datasize@18, float-flag@20, left/right/bottom/top doubles@28..59),
    payload column-major with each column stored bottom-to-top
    (btdataset.cpp IReadBlock reverses in place): pixel stride is one
    column, line stride minus one sample."""
    with open(path, "rb") as f:
        data = f.read(256)
    if data[:7] != b"binterr":
        raise ValueError("not a BT file")
    cols, rows = struct.unpack_from("<ii", data, 10)
    (dsize,) = struct.unpack_from("<h", data, 18)
    dtype = _BT_DTYPES[(dsize, 1 if data[20] else 0)]
    left, right, bottom, top = struct.unpack_from("<4d", data, 28)
    gt = (left, (right - left) / cols, 0.0, top, 0.0, (bottom - top) / rows)
    meta = RasterMeta(raster_id, cols, rows, gt=gt, dtype=dtype, block=block)
    band = RawBand(path, 256 + (rows - 1) * dsize, rows * dsize, -dsize,
                   np.dtype(dtype).newbyteorder("<").str)
    return raw_blocks(spark, meta, [band]), meta


def write_bt(tiles: DataFrame, meta: RasterMeta, path: str,
             band: int = 0) -> None:
    """BT write: header + column-major bottom-up payload."""
    arr = to_array(tiles, meta, band=band)
    if arr.dtype == np.uint8:   # BT has no byte type; promote like the app
        arr = arr.astype(np.int16)
    dsize = arr.dtype.itemsize
    is_float = 1 if arr.dtype.kind == "f" else 0
    g = meta.gt
    left, top = g[0], g[3]
    right = left + meta.width * g[1]
    bottom = top + meta.height * g[5]
    head = bytearray(256)
    head[:10] = b"binterr1.3"
    struct.pack_into("<ii", head, 10, meta.width, meta.height)
    struct.pack_into("<hh", head, 18, dsize, is_float)
    struct.pack_into("<4d", head, 28, left, right, bottom, top)
    struct.pack_into("<f", head, 62, 1.0)   # vertical scale
    payload = np.ascontiguousarray(
        arr[::-1].T.astype(arr.dtype.newbyteorder("<")))
    with open(path, "wb") as f:
        f.write(bytes(head))
        f.write(payload.tobytes())


# ---------------------------------------------------------------------------
# ENVI .hdr labelled raster driver (gdal/frmts/raw/envidataset.cpp)
# ---------------------------------------------------------------------------

_ENVI_DTYPES = {1: "uint8", 2: "int16", 3: "int32", 4: "float32",
                5: "float64", 12: "uint16", 13: "uint32",
                6: "complex64", 9: "complex128"}
_ENVI_CODES = {v: k for k, v in _ENVI_DTYPES.items()}


def _envi_header(path: str) -> dict:
    """Parse an ENVI .hdr: 'key = value' lines, {}-bracketed values may
    span lines (envidataset.cpp ReadHeader)."""
    text = open(path).read()
    if not text.lstrip().upper().startswith("ENVI"):
        raise ValueError("not an ENVI header")
    kv: dict[str, str] = {}
    buf = ""
    for ln in text.splitlines()[1:]:
        buf += ln + "\n"
        if buf.count("{") > buf.count("}"):
            continue
        if "=" in buf:
            k, v = buf.split("=", 1)
            kv[k.strip().lower()] = v.strip().strip("{}").strip()
        buf = ""
    return kv


def read_envi(spark: SparkSession, path: str, raster_id: str = "envi",
              block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """ENVI read: samples/lines/bands + data type + interleave
    (bsq/bil/bip) + byte order from the sidecar .hdr; the 'map info'
    anchor pixel's upper-left corner fixes the geotransform
    (envidataset.cpp ProcessMapinfo; envi_1 golden gt)."""
    stem = os.path.splitext(path)[0]
    hdr = stem + ".hdr" if os.path.exists(stem + ".hdr") else path + ".hdr"
    kv = _envi_header(hdr)
    cols, rows = int(kv["samples"]), int(kv["lines"])
    nbands = int(kv.get("bands", "1"))
    dtype = _ENVI_DTYPES[int(kv["data type"])]
    order = ">" if kv.get("byte order", "0").strip() == "1" else "<"
    offset = int(kv.get("header offset", "0"))
    interleave = kv.get("interleave", "bsq")
    gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    if "map info" in kv:
        mi = [t.strip() for t in kv["map info"].split(",")]
        # name, anchor px, anchor py (1-based, at the pixel's UL corner),
        # anchor x, anchor y, xsize, ysize
        apx, apy = float(mi[1]), float(mi[2])
        ax, ay = float(mi[3]), float(mi[4])
        xs, ys = float(mi[5]), float(mi[6])
        gt = (ax - (apx - 1) * xs, xs, 0.0, ay + (apy - 1) * ys, 0.0, -ys)
    meta = RasterMeta(raster_id, cols, rows, gt=gt, dtype=dtype, block=block)
    return raw_blocks(spark, meta, _interleaved(
        path, offset, np.dtype(dtype).newbyteorder(order).str, cols, rows,
        nbands, interleave)), meta


def write_envi(tiles: DataFrame, meta: RasterMeta, path: str,
               nbands: int = 1) -> None:
    """ENVI write: BSQ, native little-endian, minimal header."""
    cube = np.stack([to_array(tiles, meta, band=b) for b in range(nbands)])
    g = meta.gt
    stem = os.path.splitext(path)[0]
    with open(stem + ".hdr", "w") as f:
        f.write("ENVI\n"
                f"samples = {meta.width}\nlines   = {meta.height}\n"
                f"bands   = {nbands}\nheader offset = 0\n"
                "file type = ENVI Standard\n"
                f"data type = {_ENVI_CODES[str(cube.dtype)]}\n"
                "interleave = bsq\nbyte order = 0\n"
                f"map info = {{exported, 1, 1, {g[0]:.10g}, {g[3]:.10g}, "
                f"{g[1]:.10g}, {-g[5]:.10g}}}\n")
    cube.astype(cube.dtype.newbyteorder("<")).tofile(path)


# ---------------------------------------------------------------------------
# SRTMHGT driver (gdal/frmts/srtmhgt/srtmhgtdataset.cpp)
# ---------------------------------------------------------------------------

def read_srtmhgt(spark: SparkSession, path: str, block: int = 256
                 ) -> tuple[DataFrame, RasterMeta]:
    """SRTMHGT read: georeferencing comes from the FILENAME
    ([NS]yy[EW]xxx.hgt names the cell's south-west corner), size from
    the byte count (1201² or 3601² big-endian int16), pixel centers on
    the graticule (half-cell-outside extent), nodata -32768."""
    name = os.path.basename(path).lower().split(".")[0]
    lat = int(name[1:3]) * (1 if name[0] == "n" else -1)
    lon = int(name[4:7]) * (1 if name[3] == "e" else -1)
    samples = os.path.getsize(path) // 2
    n = int(round(math.sqrt(samples)))
    if n * n != samples or n not in (1201, 3601):
        raise ValueError(f"not a SRTMHGT payload: {samples} samples")
    cell = 1.0 / (n - 1)
    gt = (lon - cell / 2.0, cell, 0.0, lat + 1 + cell / 2.0, 0.0, -cell)
    meta = RasterMeta(name, n, n, gt=gt, dtype="int16", nodata=-32768.0,
                      block=block)
    return raw_blocks(spark, meta, [_plane(path, 0, ">i2", n)]), meta


def write_srtmhgt(tiles: DataFrame, meta: RasterMeta, path: str) -> None:
    """SRTMHGT write: big-endian int16 rows north to south."""
    arr = to_array(tiles, meta).astype(np.int16)
    arr.astype(">i2").tofile(path)


# ---------------------------------------------------------------------------
# USGS DEM reader (gdal/frmts/usgsdem/usgsdemdataset.cpp)
# ---------------------------------------------------------------------------

class _DemScan:
    """Whitespace-delimited Fortran number scanner over the whole file
    (the reference's Buffer + USGSDEMReadIntFromBuffer semantics)."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.p = pos

    def read_int(self):
        d, p, n = self.d, self.p, len(self.d)
        while p < n and d[p:p + 1].isspace():
            p += 1
        if p >= n:
            self.p = p
            return None
        sign, val = 1, 0
        c = d[p]
        if c == 0x2D:
            sign = -1
        elif c == 0x2B:
            sign = 1
        elif 0x30 <= c <= 0x39:
            val = c - 0x30
        else:
            self.p = p + 1
            return None
        p += 1
        while p < n and 0x30 <= d[p] <= 0x39:
            val = val * 10 + (d[p] - 0x30)
            p += 1
        self.p = p
        return sign * val

    def read_double(self, nchars):
        s = self.d[self.p:self.p + nchars].decode("ascii", "replace")
        self.p += nchars
        return float(s.replace("D", "E") or "0")


def _dem_dconvert(data: bytes, off: int, nchars: int) -> float:
    return float(data[off:off + nchars].decode("ascii", "replace")
                 .replace("D", "E"))


def read_usgsdem(spark: SparkSession, path: str,
                 raster_id: str = "usgsdem", block: int = 256
                 ) -> tuple[DataFrame, RasterMeta]:
    """USGS ASCII DEM: A-record header at fixed offsets, then one
    B-record profile per raster column, southernmost point first, with
    per-profile y-start / elevation offset (usgsdemdataset.cpp
    LoadFromFile:500-760 + IReadBlock:330-425).  Vertical feet or
    sub-metre resolution promote to float32; truncated files fill what
    their profiles cover and leave the rest nodata (-32767)."""
    data = open(path, "rb").read()

    s = _DemScan(data, 864)
    nrow, ncol = s.read_int(), s.read_int()
    if nrow != 1 or ncol != 1:      # new format
        s = _DemScan(data, 1024)
        i, j = s.read_int(), s.read_int()
        if i == 1 and j in (0, 1):
            start = 1024
        else:
            s = _DemScan(data, 893)
            i, j = s.read_int(), s.read_int()
            if i != 1 or j != 1:
                raise ValueError("not a USGS DEM file")
            start = 893
    else:
        start = 864

    s = _DemScan(data, 156)
    coordsys = s.read_int()
    utm_zone = s.read_int()
    s = _DemScan(data, 528)
    g_unit, v_unit = s.read_int(), s.read_int()
    dxdelta = _dem_dconvert(data, 816, 12)
    dydelta = _dem_dconvert(data, 828, 12)
    vres = _dem_dconvert(data, 840, 12)
    dtype = "float32" if (v_unit == 1 or vres < 1.0) else "int16"

    corners = [( _dem_dconvert(data, 546 + i * 48, 24),
                 _dem_dconvert(data, 546 + i * 48 + 24, 24))
               for i in range(4)]     # SW, NW, NE, SE
    ext_min_x = min(corners[0][0], corners[1][0])
    ext_max_x = max(corners[2][0], corners[3][0])
    ext_min_y = min(corners[0][1], corners[3][1])
    ext_max_y = max(corners[1][1], corners[2][1])
    nprofiles = _DemScan(data, 858).read_int()

    if coordsys in (1, 2, -9999):   # UTM / state plane / unknown
        ext_min_y = math.floor(ext_min_y / dydelta) * dydelta
        ext_max_y = math.ceil(ext_max_y / dydelta) * dydelta
        s = _DemScan(data, start)
        for _ in range(4):
            s.read_int()
        dx_start = s.read_double(24)
        height = int((ext_max_y - ext_min_y) / dydelta + 1.5)
        width = nprofiles
        gt = (dx_start - dxdelta / 2.0, dxdelta, 0.0,
              ext_max_y + dydelta / 2.0, 0.0, -dydelta)
        geographic = False
    else:
        height = int((ext_max_y - ext_min_y) / dydelta + 1.5)
        width = nprofiles
        gt = ((ext_min_x - dxdelta / 2.0) / 3600.0, dxdelta / 3600.0, 0.0,
              (ext_max_y + dydelta / 2.0) / 3600.0, 0.0, -dydelta / 3600.0)
        geographic = True

    NODATA = -32767
    grid = np.full((height, width),
                   NODATA, dtype=np.float64)
    ymin = gt[3] + (height - 0.5) * gt[5]
    s = _DemScan(data, start)
    for i in range(width):
        vals = [s.read_int() for _ in range(4)]
        if any(v is None for v in vals):
            break
        ncpoints = vals[2]
        s.read_double(24)                   # dxStart
        dy_start = s.read_double(24)
        elev_off = s.read_double(24)
        s.read_double(24)
        s.read_double(24)
        if geographic:
            dy_start /= 3600.0
        lygap = int((ymin - dy_start) / gt[5] + 0.5)
        stop = False
        for jj in range(lygap, ncpoints + lygap):
            iy = height - jj - 1
            nelev = s.read_int()
            if nelev is None:
                stop = True
                break
            if 0 <= iy < height and nelev != NODATA:
                grid[iy, i] = nelev * vres + elev_off
        if stop:
            break
    if dtype == "int16":
        out = np.trunc(grid).astype(np.int16)   # C float->int16 cast
    else:
        out = grid.astype(np.float32)
    meta = RasterMeta(raster_id, width, height, gt=gt, dtype=dtype,
                      nodata=float(NODATA), block=block)
    return from_array(spark, np.ascontiguousarray(out), meta), meta


# ---------------------------------------------------------------------------
# Golden Software Surfer grids (gdal/frmts/gsg: gsagdataset.cpp DSAA
# ascii, gsbgdataset.cpp DSBB 6 binary, gs7bgdataset.cpp DSRB 7 binary)
# ---------------------------------------------------------------------------

GSG_NODATA = 1.701410009187828e+38


def read_gsag(spark: SparkSession, path: str, raster_id: str = "gsag",
              block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """Surfer 6 ASCII grid: DSAA, nx ny, xlo xhi, ylo yhi, zlo zhi,
    then node values with row 0 southernmost (gsagdataset.cpp)."""
    toks = open(path, "r", encoding="latin-1").read().split()
    if toks[0] != "DSAA":
        raise ValueError("not a Surfer ASCII grid")
    nx, ny = int(toks[1]), int(toks[2])
    xlo, xhi = float(toks[3]), float(toks[4])
    ylo, yhi = float(toks[5]), float(toks[6])
    vals = np.array([float(v) for v in toks[9:9 + nx * ny]],
                    dtype=np.float64)
    grid = vals.reshape(ny, nx)[::-1]     # bottom-up -> north-up
    dx = (xhi - xlo) / (nx - 1)
    dy = (yhi - ylo) / (ny - 1)
    gt = (xlo - dx / 2.0, dx, 0.0, yhi + dy / 2.0, 0.0, -dy)
    meta = RasterMeta(raster_id, nx, ny, gt=gt, dtype="float64",
                      nodata=GSG_NODATA, block=block)
    return from_array(spark, np.ascontiguousarray(grid), meta), meta


def write_gsag(tiles: DataFrame, meta: RasterMeta, path: str,
               band: int = 0) -> None:
    arr = to_array(tiles, meta, band=band).astype(np.float64)
    g = meta.gt
    xlo, dx, dy = g[0] + g[1] / 2.0, g[1], -g[5]
    yhi = g[3] + g[5] / 2.0
    ylo = yhi - (meta.height - 1) * dy
    xhi = xlo + (meta.width - 1) * dx
    south_up = arr[::-1]
    with open(path, "w", encoding="latin-1", newline="") as f:
        f.write("DSAA\r\n%d %d\r\n%.10g %.10g\r\n%.10g %.10g\r\n"
                "%.10g %.10g\r\n" % (meta.width, meta.height, xlo, xhi,
                                     ylo, yhi, arr.min(), arr.max()))
        for row in south_up:
            f.write(" ".join("%.10g" % v for v in row) + "\r\n")


def read_gsbg(spark: SparkSession, path: str, raster_id: str = "gsbg",
              block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """Surfer 6 binary grid: DSBB, int16 nx/ny, 6 doubles, float32
    nodes bottom-up (gsbgdataset.cpp)."""
    with open(path, "rb") as f:
        data = f.read(56)
    if data[:4] != b"DSBB":
        raise ValueError("not a Surfer 6 binary grid")
    nx, ny = struct.unpack_from("<HH", data, 4)
    xlo, xhi, ylo, yhi, _, _ = struct.unpack_from("<6d", data, 8)
    dx = (xhi - xlo) / (nx - 1)
    dy = (yhi - ylo) / (ny - 1)
    gt = (xlo - dx / 2.0, dx, 0.0, yhi + dy / 2.0, 0.0, -dy)
    meta = RasterMeta(raster_id, nx, ny, gt=gt, dtype="float32",
                      nodata=float(np.float32(GSG_NODATA)), block=block)
    return raw_blocks(spark, meta, [_bottom_up(path, 56, "<f4", nx, ny)]), \
        meta


def write_gsbg(tiles: DataFrame, meta: RasterMeta, path: str,
               band: int = 0) -> None:
    arr = to_array(tiles, meta, band=band).astype(np.float32)
    g = meta.gt
    xlo, dx, dy = g[0] + g[1] / 2.0, g[1], -g[5]
    yhi = g[3] + g[5] / 2.0
    ylo = yhi - (meta.height - 1) * dy
    xhi = xlo + (meta.width - 1) * dx
    with open(path, "wb") as f:
        f.write(b"DSBB")
        f.write(struct.pack("<HH", meta.width, meta.height))
        f.write(struct.pack("<6d", xlo, xhi, ylo, yhi,
                            float(arr.min()), float(arr.max())))
        f.write(np.ascontiguousarray(arr[::-1], dtype="<f4").tobytes())


def read_gs7bg(spark: SparkSession, path: str, raster_id: str = "gs7bg",
               block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """Surfer 7 binary grid: DSRB header section, GRID section (int32
    nrow/ncol, xLL/yLL/xSize/ySize/zmin/zmax/rotation/blank doubles),
    DATA section of float64 nodes bottom-up (gs7bgdataset.cpp). The
    section chain is walked with seeks; the nodes stay on disk."""
    with open(path, "rb") as f:
        head = f.read(8)
        if head[:4] != b"DSRB":
            raise ValueError("not a Surfer 7 grid")
        pos = 8 + struct.unpack_from("<i", head, 4)[0]
        while True:
            f.seek(pos)
            sec = f.read(8)
            if len(sec) < 8:
                raise ValueError("Surfer 7 grid has no DATA section")
            (size,) = struct.unpack_from("<i", sec, 4)
            body = pos + 8
            if sec[:4] == b"GRID":
                grid = f.read(72)
                ny, nx = struct.unpack_from("<ii", grid, 0)
                (xll, yll, dx, dy, _zmin, _zmax, _rot,
                 blank) = struct.unpack_from("<8d", grid, 8)
            elif sec[:4] == b"DATA":
                break
            pos = body + size
    gt = (xll - dx / 2.0, dx, 0.0, yll + (ny - 1) * dy + dy / 2.0, 0.0, -dy)
    meta = RasterMeta(raster_id, nx, ny, gt=gt, dtype="float64",
                      nodata=blank, block=block)
    return raw_blocks(spark, meta, [_bottom_up(path, body, "<f8", nx, ny)]), \
        meta


def write_gs7bg(tiles: DataFrame, meta: RasterMeta, path: str,
                band: int = 0) -> None:
    arr = to_array(tiles, meta, band=band).astype(np.float64)
    g = meta.gt
    xll, dx, dy = g[0] + g[1] / 2.0, g[1], -g[5]
    yll = g[3] + g[5] / 2.0 - (meta.height - 1) * dy
    with open(path, "wb") as f:
        f.write(b"DSRB" + struct.pack("<ii", 4, 1))
        f.write(b"GRID" + struct.pack("<i", 72))
        f.write(struct.pack("<ii", meta.height, meta.width))
        f.write(struct.pack("<8d", xll, yll, dx, dy,
                            float(arr.min()), float(arr.max()), 0.0,
                            GSG_NODATA))
        f.write(b"DATA" + struct.pack("<i", meta.width * meta.height * 8))
        f.write(np.ascontiguousarray(arr[::-1], dtype="<f8").tobytes())


# ---------------------------------------------------------------------------
# FARSITE LCP landscape reader (gdal/frmts/raw/lcpdataset.cpp)
# ---------------------------------------------------------------------------

_LCP_UNIT_NAMES = {
    "ELEVATION": {0: "Meters", 1: "Feet"},
    "SLOPE": {0: "Degrees", 1: "Percent"},
    "ASPECT": {0: "Grass categories", 1: "Grass degrees",
               2: "Azimuth degrees"},
    "CANOPY_COV": {0: "Categories (0-4)", 1: "Percent"},
    "CANOPY_HT": {1: "Meters", 2: "Feet", 3: "Meters x 10",
                  4: "Feet x 10"},
    "CBH": {1: "Meters", 2: "Feet", 3: "Meters x 10", 4: "Feet x 10"},
    "CBD": {1: "kg/m^3", 2: "lb/ft^3", 3: "kg/m^3 x 100",
            4: "lb/ft^3 x 1000"},
    "DUFF": {1: "Mg/ha", 2: "t/ac"},
    "CWD": {},
}
_LCP_FM_DESC = {0: "no custom models AND no conversion file needed",
                1: "custom models BUT no conversion file needed",
                2: "no custom models BUT conversion file needed",
                3: "custom models AND conversion file needed"}


def read_lcp(spark: SparkSession, path: str, raster_id: str = "lcp",
             block: int = 256
             ) -> tuple[DataFrame, RasterMeta, dict]:
    """FARSITE v4 landscape: 7316-byte header + pixel-interleaved LE
    int16 bands (5/7/8/10 per crown/ground fuel flags).  Returns
    (tiles, meta, metadata) where metadata mirrors the reference's
    dataset + per-band items (lcpdataset.cpp:228-700)."""
    with open(path, "rb") as f:
        hdr = f.read(7316)

    def i32(off):
        return struct.unpack_from("<i", hdr, off)[0]

    def i16(off):
        return struct.unpack_from("<h", hdr, off)[0]

    def cstr(off, ln=256):
        raw = hdr[off:off + ln]
        return raw.split(b"\x00")[0].decode("latin-1")

    width, height = i32(4164), i32(4168)
    crown = i32(0) - 20
    ground = i32(4) - 20
    if crown:
        nbands = 10 if ground else 8
    else:
        nbands = 7 if ground else 5
    east, west, north, south = (struct.unpack_from("<d", hdr, o)[0]
                                for o in (4172, 4180, 4188, 4196))
    cellx = struct.unpack_from("<d", hdr, 4208)[0]
    celly = struct.unpack_from("<d", hdr, 4216)[0]
    gt = (west, cellx, 0.0, north, 0.0, -celly)

    md = {"LATITUDE": str(i32(8)),
          "LINEAR_UNIT": {0: "Meters", 1: "Feet"}.get(i32(4204), ""),
          "DESCRIPTION": cstr(6804, 7316 - 6804)}

    names = ["ELEVATION", "SLOPE", "ASPECT", "FUEL_MODEL", "CANOPY_COV"]
    if crown:
        names += ["CANOPY_HT", "CBH", "CBD"]
    if ground:
        names += ["DUFF", "CWD"]
    for i, key in enumerate(names[:nbands]):
        unit = i16(4224 + 2 * i)
        if key == "FUEL_MODEL":
            md["FUEL_MODEL_OPTION"] = str(unit)
            if unit in _LCP_FM_DESC:
                md["FUEL_MODEL_OPTION_DESC"] = _LCP_FM_DESC[unit]
        else:
            md[f"{key}_UNIT"] = str(unit)
            nm = _LCP_UNIT_NAMES[key].get(unit)
            if nm is not None:
                md[f"{key}_UNIT_NAME"] = nm
        base = 44 + 412 * i
        lo, hi, ncls = i32(base), i32(base + 4), i32(base + 8)
        md[f"{key}_MIN"] = str(lo)
        md[f"{key}_MAX"] = str(hi)
        md[f"{key}_NUM_CLASSES"] = str(ncls)
        if key == "FUEL_MODEL" and 0 < ncls <= 100:
            vals = [i32(base + 12 + j * 4) for j in range(ncls + 1)]
            md["FUEL_MODEL_VALUES"] = ",".join(
                str(v) for v in vals if lo <= v <= hi)
        md[f"{key}_FILE"] = cstr(4244 + 256 * i)

    meta = RasterMeta(raster_id, width, height, gt=gt, dtype="int16",
                      block=block)
    return raw_blocks(spark, meta, _interleaved(
        path, 7316, "<i2", width, height, nbands, "BIP")), meta, md


# ---------------------------------------------------------------------------
# SAGA GIS binary grid (gdal/frmts/saga/sagadataset.cpp .sgrd + .sdat)
# ---------------------------------------------------------------------------

_SAGA_DTYPES = {"BIT": "uint8", "BYTE_UNSIGNED": "uint8", "BYTE": "int8",
                "SHORTINT_UNSIGNED": "uint16", "SHORTINT": "int16",
                "INTEGER_UNSIGNED": "uint32", "INTEGER": "int32",
                "FLOAT": "float32", "DOUBLE": "float64"}
_SAGA_NAMES = {v: k for k, v in _SAGA_DTYPES.items() if k != "BIT"}


def read_saga(spark: SparkSession, path: str, raster_id: str = "saga",
              block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """SAGA grid: .sgrd ASCII header (DATAFORMAT/BYTEORDER/POSITION/
    CELLSIZE/NODATA/TOPTOBOTTOM) + raw .sdat payload, rows bottom-up
    unless TOPTOBOTTOM (sagadataset.cpp:447-560)."""
    base = path[:-5] if path.lower().endswith((".sdat", ".sgrd")) else path
    hdr_path, dat_path = base + ".sgrd", base + ".sdat"
    if not os.path.exists(hdr_path):
        hdr_path = base + ".SGRD"
    kv = {}
    for ln in open(hdr_path, "r", encoding="latin-1"):
        if "=" in ln:
            k, v = ln.split("=", 1)
            kv[k.strip().upper()] = v.strip()
    nx = int(kv["CELLCOUNT_X"])
    ny = int(kv["CELLCOUNT_Y"])
    cell = float(kv["CELLSIZE"])
    xmin = float(kv["POSITION_XMIN"])
    ymin = float(kv["POSITION_YMIN"])
    dtype = _SAGA_DTYPES.get(kv.get("DATAFORMAT", "FLOAT"), "float32")
    bo = "<" if kv.get("BYTEORDER_BIG",
                    "FALSE").upper() == "FALSE" else ">"
    top2bot = kv.get("TOPTOBOTTOM", "FALSE").upper() == "TRUE"
    nodata = float(kv.get("NODATA_VALUE", "-99999"))
    off = int(kv.get("DATAFILE_OFFSET", "0"))
    gt = (xmin - cell / 2.0, cell, 0.0,
          ymin + (ny - 1) * cell + cell / 2.0, 0.0, -cell)
    meta = RasterMeta(raster_id, nx, ny, gt=gt, dtype=dtype,
                      nodata=nodata, block=block)
    dt = np.dtype(dtype).newbyteorder(bo).str
    band = (_plane(dat_path, off, dt, nx) if top2bot
            else _bottom_up(dat_path, off, dt, nx, ny))
    return raw_blocks(spark, meta, [band]), meta


def write_saga(tiles: DataFrame, meta: RasterMeta, path: str,
               band: int = 0) -> None:
    """SAGA sink: bottom-up little-endian .sdat + .sgrd header."""
    base = path[:-5] if path.lower().endswith((".sdat", ".sgrd")) else path
    arr = to_array(tiles, meta, band=band)
    g = meta.gt
    cell = g[1]
    xmin = g[0] + cell / 2.0
    ymin = g[3] + g[5] * meta.height + cell / 2.0
    nodata = meta.nodata if meta.nodata is not None else -99999.0
    with open(base + ".sgrd", "w", encoding="latin-1") as f:
        f.write("NAME\t= %s\nDESCRIPTION\t= \nUNIT\t= \n"
                "DATAFILE_OFFSET\t= 0\nDATAFORMAT\t= %s\n"
                "BYTEORDER_BIG\t= FALSE\n"
                "POSITION_XMIN\t= %.10f\nPOSITION_YMIN\t= %.10f\n"
                "CELLCOUNT_X\t= %d\nCELLCOUNT_Y\t= %d\n"
                "CELLSIZE\t= %.10f\nZ_FACTOR\t= 1.000000\n"
                "NODATA_VALUE\t= %f\nTOPTOBOTTOM\t= FALSE\n"
                % (meta.raster_id, _SAGA_NAMES[str(arr.dtype)], xmin,
                   ymin, meta.width, meta.height, cell, nodata))
    with open(base + ".sdat", "wb") as f:
        f.write(np.ascontiguousarray(
            arr[::-1], dtype=arr.dtype.newbyteorder("<")).tobytes())


# ---------------------------------------------------------------------------
# NOAA .gtx vertical datum shift grid (gdal/frmts/raw/gtxdataset.cpp)
# ---------------------------------------------------------------------------

def read_gtx(spark: SparkSession, path: str, raster_id: str = "gtx",
             block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """GTX: 40-byte big-endian header (lat0 lon0 dlat dlon doubles,
    nrows ncols int32), float32 (or float64, told apart by the file
    size) shift values with rows south-to-north."""
    with open(path, "rb") as f:
        data = f.read(40)
    lat0, lon0, dlat, dlon = struct.unpack_from(">4d", data, 0)
    ny, nx = struct.unpack_from(">2i", data, 32)
    dt = ">f8" if os.path.getsize(path) == 40 + 8 * nx * ny else ">f4"
    gt = (lon0 - dlon * 0.5, dlon, 0.0,
          lat0 + dlat * (ny - 1) + dlat * 0.5, 0.0, -dlat)
    meta = RasterMeta(raster_id, nx, ny, gt=gt,
                      dtype="float64" if dt == ">f8" else "float32",
                      block=block)
    return raw_blocks(spark, meta, [_bottom_up(path, 40, dt, nx, ny)]), meta


# ---------------------------------------------------------------------------
# Idrisi RST raster (gdal/frmts/idrisi/IdrisiDataset.cpp, .rst + .rdc)
# ---------------------------------------------------------------------------

_RST_DTYPES = {"byte": "uint8", "integer": "int16", "real": "float32"}


def read_idrisi(spark: SparkSession, path: str, raster_id: str = "rst",
                block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """Idrisi raster: fixed-label .rdc text header + raw top-down .rst
    payload; byte / integer(int16) / real(float32) / rgb24 (as 3 byte
    bands, B-G-R interleave per IdrisiDataset.cpp IReadBlock)."""
    base = path[:-4] if path.lower().endswith((".rst", ".rdc")) else path
    kv = {}
    for ln in open(base + ".rdc", "r", encoding="latin-1"):
        if ":" in ln:
            k, v = ln.split(":", 1)
            kv[k.strip()] = v.strip()
    cols = int(kv["columns"])
    rows = int(kv["rows"])
    dt = kv["data type"].lower()
    xmin, xmax = float(kv["min. X"]), float(kv["max. X"])
    ymin, ymax = float(kv["min. Y"]), float(kv["max. Y"])
    gt = (xmin, (xmax - xmin) / cols, 0.0, ymax, 0.0,
          -(ymax - ymin) / rows)
    rst = base + ".rst"
    if dt == "rgb24":
        meta = RasterMeta(raster_id, cols, rows, gt=gt, dtype="uint8",
                          block=block)
        # file interleave is B,G,R; bands expose R,G,B (band 1=red)
        bgr = _interleaved(rst, 0, "u1", cols, rows, 3, "BIP")
        return raw_blocks(spark, meta, bgr[::-1]), meta
    dtype = _RST_DTYPES[dt]
    meta = RasterMeta(raster_id, cols, rows, gt=gt, dtype=dtype,
                      block=block)
    return raw_blocks(spark, meta, [_plane(
        rst, 0, np.dtype(dtype).newbyteorder("<").str, cols)]), meta


def write_idrisi(tiles: DataFrame, meta: RasterMeta, path: str,
                 band: int = 0) -> None:
    base = path[:-4] if path.lower().endswith((".rst", ".rdc")) else path
    arr = to_array(tiles, meta, band=band)
    names = {"uint8": "byte", "int16": "integer", "float32": "real"}
    g = meta.gt
    with open(base + ".rdc", "w", encoding="latin-1") as f:
        f.write("file format : IDRISI Raster A.1\n"
                "file title  : \n"
                "data type   : %s\n"
                "file type   : binary\n"
                "columns     : %d\n"
                "rows        : %d\n"
                "ref. system : plane\n"
                "ref. units  : m\n"
                "unit dist.  : 1.0000000\n"
                "min. X      : %.7f\n"
                "max. X      : %.7f\n"
                "min. Y      : %.7f\n"
                "max. Y      : %.7f\n"
                "pos`n error : unknown\n"
                "resolution  : unknown\n"
                "min. value  : %g\n"
                "max. value  : %g\n"
                "display min : %g\n"
                "display max : %g\n"
                "value units : unspecified\n"
                "value error : unknown\n"
                "flag value  : none\n"
                "flag def`n  : none\n"
                "legend cats : 0\n"
                % (names[str(arr.dtype)], meta.width, meta.height,
                   g[0], g[0] + g[1] * meta.width,
                   g[3] + g[5] * meta.height, g[3],
                   arr.min(), arr.max(), arr.min(), arr.max()))
    with open(base + ".rst", "wb") as f:
        f.write(np.ascontiguousarray(
            arr, dtype=arr.dtype.newbyteorder("<")).tobytes())


# ---------------------------------------------------------------------------
# Small classic formats: ELAS, Erdas 7.x LAN/GIS, GRASS ASCII grid,
# ERMapper ERS (headers per gdal/frmts/{elas,raw,grassasciigrid? ,ers})
# ---------------------------------------------------------------------------

def read_elas(spark: SparkSession, path: str, raster_id: str = "elas",
              block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """ELAS: 1024-byte big-endian header (NBIH=1024, H4321=4321, line
    range IL..LL, element range IE..LE, NC bands, IH19 type flags),
    then band-sequential-within-line records of NBPR bytes
    (elasdataset.cpp:290-440)."""
    with open(path, "rb") as f:
        data = f.read(1024)
    h = lambda off: struct.unpack_from(">i", data, off)[0]
    if h(0) != 1024 or h(28) != 4321:
        raise ValueError("not an ELAS file")
    nbpr = h(4)
    height = h(12) - h(8) + 1
    width = h(20) - h(16) + 1
    nbands = h(24)
    t = (data[74] & 0x7E) >> 2
    bps = data[75]
    dtype = {(0, 1): "u1", (1, 1): "u1", (16, 4): ">f4",
             (17, 8): ">f8"}[(t, bps)]
    ysize = struct.unpack_from(">f", data, 48)[0]
    xsize = struct.unpack_from(">f", data, 52)[0]
    yoff = h(36)
    xoff = h(44)
    gt = (xoff - xsize / 2.0, xsize, 0.0, yoff + ysize / 2.0, 0.0,
          -abs(ysize))
    meta = RasterMeta(raster_id, width, height, gt=gt,
                      dtype=str(np.dtype(dtype).newbyteorder("=")),
                      block=block)
    ds = bps * width
    return raw_blocks(spark, meta, [
        RawBand(path, 1024 + b * ds, bps, nbpr, dtype)
        for b in range(nbands)]), meta


def read_lan(spark: SparkSession, path: str, raster_id: str = "lan",
             block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """Erdas 7.x LAN/GIS: 128-byte header (HEAD74 int dims / HEADER
    float dims; pixel type 0=8bit 1=4bit 2=16bit), BIL payload
    (landataset.cpp:40-105). 4-bit samples unpack on the driver."""
    with open(path, "rb") as f:
        head = f.read(128)
    magic = head[:6]
    if magic not in (b"HEAD74", b"HEADER"):
        raise ValueError("not an Erdas LAN file")
    ptype, nbands = struct.unpack_from("<hh", head, 6)
    if magic == b"HEADER":
        width = int(struct.unpack_from("<f", head, 16)[0])
        height = int(struct.unpack_from("<f", head, 20)[0])
    else:
        width, height = struct.unpack_from("<ii", head, 16)
    ulx, uly, dx, dy = struct.unpack_from("<4f", head, 112)
    gt = (ulx - dx / 2.0, dx, 0.0, uly + dy / 2.0, 0.0, -dy)
    dtype = "int16" if ptype == 2 else "uint8"
    meta = RasterMeta(raster_id, width, height, gt=gt, dtype=dtype,
                      block=block)
    if ptype != 1:
        return raw_blocks(spark, meta, _interleaved(
            path, 128, "<i2" if ptype == 2 else "u1", width, height,
            nbands, "BIL")), meta
    nb = (width + 1) // 2       # 4-bit packed, high nibble first
    line_bytes = (width * nbands + 1) // 2
    data = np.fromfile(path, np.uint8)
    cube = np.empty((nbands, height, width), np.uint8)
    for b in range(nbands):
        for y in range(height):
            off = 128 + y * line_bytes + b * nb
            raw = data[off:off + nb]
            up = np.empty(nb * 2, np.uint8)
            up[0::2] = raw >> 4
            up[1::2] = raw & 0x0F
            cube[b, y] = up[:width]
    return from_array(spark, cube, meta), meta


def read_grass_ascii(spark: SparkSession, path: str,
                     raster_id: str = "grassascii", block: int = 256
                     ) -> tuple[DataFrame, RasterMeta]:
    """GRASS ASCII grid (r.out.ascii): north/south/east/west + rows/
    cols header lines (optional null:), north-up row-major values."""
    toks = open(path, "r", encoding="latin-1").read().split()
    kv, i = {}, 0
    while i + 1 < len(toks) and toks[i].rstrip(":") in (
            "north", "south", "east", "west", "rows", "cols", "null",
            "type", "multiplier"):
        kv[toks[i].rstrip(":")] = toks[i + 1]
        i += 2
    rows, cols = int(kv["rows"]), int(kv["cols"])
    north, south = float(kv["north"]), float(kv["south"])
    east, west = float(kv["east"]), float(kv["west"])
    vals = np.array([float(v) for v in toks[i:i + rows * cols]])
    gt = (west, (east - west) / cols, 0.0, north, 0.0,
          -(north - south) / rows)
    meta = RasterMeta(raster_id, cols, rows, gt=gt, dtype="float64",
                      nodata=float(kv["null"]) if "null" in kv else None,
                      block=block)
    return from_array(spark, vals.reshape(rows, cols), meta), meta


def read_ers(spark: SparkSession, path: str, raster_id: str = "ers",
             block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """ERMapper ERS: nested Begin/End ASCII header next to the raw BIL
    data file (same path minus .ers); CellType/ByteOrder/NullCellValue,
    registration cell + DMS coordinate anchor (gdal/frmts/ers)."""
    kv = {}
    stack = []
    for ln in open(path, "r", encoding="latin-1"):
        s = ln.strip()
        if s.endswith("Begin"):
            stack.append(s.split()[0])
        elif s.endswith("End"):
            stack.pop()
        elif "=" in s:
            k, v = s.split("=", 1)
            kv[".".join(stack + [k.strip()])] = v.strip().strip('"')

    def dms(v):
        parts = [float(x) for x in v.split(":")]
        sign = -1.0 if v.strip().startswith("-") else 1.0
        return sign * (abs(parts[0]) + parts[1] / 60 + parts[2] / 3600)

    R = "DatasetHeader.RasterInfo."
    width = int(kv[R + "NrOfCellsPerLine"])
    height = int(kv[R + "NrOfLines"])
    nbands = int(kv.get(R + "NrOfBands", "1"))
    dx = float(kv[R + "CellInfo.Xdimension"])
    dy = float(kv[R + "CellInfo.Ydimension"])
    ctype = kv.get(R + "CellType", "Unsigned8BitInteger")
    bo = kv.get("DatasetHeader.ByteOrder", "LSBFirst")
    pre = ">" if bo == "MSBFirst" else "<"
    dtype_map = {"Unsigned8BitInteger": "u1", "Signed8BitInteger": "i1",
                 "Unsigned16BitInteger": "u2", "Signed16BitInteger": "i2",
                 "Unsigned32BitInteger": "u4", "Signed32BitInteger": "i4",
                 "IEEE4ByteReal": "f4", "IEEE8ByteReal": "f8"}
    base = dtype_map[ctype]
    lon = dms(kv[R + "RegistrationCoord.Longitude"]) \
        if R + "RegistrationCoord.Longitude" in kv \
        else float(kv.get(R + "RegistrationCoord.Eastings", "0"))
    lat = dms(kv[R + "RegistrationCoord.Latitude"]) \
        if R + "RegistrationCoord.Latitude" in kv \
        else float(kv.get(R + "RegistrationCoord.Northings", "0"))
    regx = float(kv.get(R + "RegistrationCellX", "0"))
    regy = float(kv.get(R + "RegistrationCellY", "0"))
    gt = (lon - regx * dx, dx, 0.0, lat + regy * dy, 0.0, -dy)
    data_path = path[:-4] if path.lower().endswith(".ers") else path
    nodata = kv.get(R + "NullCellValue")
    meta = RasterMeta(raster_id, width, height, gt=gt,
                      dtype=str(np.dtype(base)),
                      nodata=float(nodata) if nodata else None,
                      block=block)
    return raw_blocks(spark, meta, _interleaved(
        data_path, 0, pre + base, width, height, nbands, "BIL")), meta


# ---------------------------------------------------------------------------
# ROI_PAC (gdal/frmts/raw/roipacdataset.cpp), NGSGEOID
# (gdal/frmts/ngsgeoid), Arc/Info Export grid (gdal/frmts/e00grid),
# ILWIS (gdal/frmts/ilwis)
# ---------------------------------------------------------------------------

def read_roipac(spark: SparkSession, path: str, raster_id: str = "roipac",
                block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """ROI_PAC: <file>.rsc key/value sidecar (WIDTH, FILE_LENGTH,
    X_FIRST/X_STEP/Y_FIRST/Y_STEP) + raw payload typed by the data
    file extension (.dem int16, .unw/.cor/.hgt/.msk 2-band float32
    line-interleaved, .flg byte)."""
    kv = {}
    for ln in open(path + ".rsc", "r", encoding="latin-1"):
        parts = ln.split(None, 1)
        if len(parts) == 2:
            kv[parts[0]] = parts[1].strip()
    width = int(kv["WIDTH"])
    height = int(kv["FILE_LENGTH"])
    gt = (float(kv["X_FIRST"]), float(kv["X_STEP"]), 0.0,
          float(kv["Y_FIRST"]), 0.0, float(kv["Y_STEP"]))
    ext = path.rsplit(".", 1)[-1].lower()
    if ext == "dem":
        dtype, nbands = "int16", 1
    elif ext in ("unw", "cor", "hgt", "msk", "trans"):
        dtype, nbands = "float32", 2
    elif ext == "flg":
        dtype, nbands = "uint8", 1
    else:
        dtype, nbands = "float32", 1
    meta = RasterMeta(raster_id, width, height, gt=gt, dtype=dtype,
                      block=block)
    return raw_blocks(spark, meta, _interleaved(
        path, 0, np.dtype(dtype).newbyteorder("<").str, width, height,
        nbands, "BIL")), meta


def read_ngsgeoid(spark: SparkSession, path: str,
                  raster_id: str = "ngsgeoid", block: int = 256
                  ) -> tuple[DataFrame, RasterMeta]:
    """NGS GEOID binary grid: 44-byte header (SLAT WLON DLAT DLON
    doubles + NLAT NLON IKIND int32, either endianness sniffed from
    IKIND==1), float32 rows south-to-north
    (ngsgeoiddataset.cpp:180-300)."""
    with open(path, "rb") as f:
        data = f.read(44)
    for pre in ("<", ">"):
        slat, wlon, dlat, dlon = struct.unpack_from(pre + "4d", data, 0)
        nlat, nlon, ikind = struct.unpack_from(pre + "3i", data, 32)
        if ikind == 1:
            break
    else:
        raise ValueError("not a NGSGEOID file")
    gt = (wlon - dlon / 2.0, dlon, 0.0,
          slat + nlat * dlat - dlat / 2.0, 0.0, -dlat)
    meta = RasterMeta(raster_id, nlon, nlat, gt=gt, dtype="float32",
                      block=block)
    return raw_blocks(spark, meta, [_bottom_up(
        path, 44, pre + "f4", nlon, nlat)]), meta


def read_e00grid(spark: SparkSession, path: str,
                 raster_id: str = "e00grid", block: int = 256
                 ) -> tuple[DataFrame, RasterMeta]:
    """Arc/Info Export grid (uncompressed EXP 0): GRD record with
    ncols/nrows/nodata, cell size, bounds, then Fortran E-format values
    row-major north-first (e00griddataset.cpp)."""
    import re as _re
    text = open(path, "r", encoding="latin-1").read()
    i = text.index("GRD")
    seg = text[i:text.index("EOG", i)]
    nums = _re.findall(r"-?\d+\.\d+E[-+]\d+|-?\d+", seg.split("\n", 1)[1])
    ncols, nrows = int(nums[0]), int(nums[1])
    nodata = float(nums[3])
    cellx = float(nums[4])
    xmin, ymin = float(nums[6]), float(nums[7])
    ymax = float(nums[9])
    vals = np.array([float(v) for v in nums[10:10 + ncols * nrows]],
                    dtype=np.float64)
    gt = (xmin, cellx, 0.0, ymax, 0.0, -cellx)
    meta = RasterMeta(raster_id, ncols, nrows, gt=gt, dtype="float32",
                      nodata=nodata, block=block)
    return from_array(spark, vals.reshape(nrows, ncols).astype("float32"),
                      meta), meta


def _ilwis_ini(path: str) -> dict:
    kv = {}
    section = ""
    for ln in open(path, "r", encoding="latin-1"):
        s = ln.strip()
        if s.startswith("["):
            section = s.strip("[]")
        elif "=" in s:
            k, v = s.split("=", 1)
            kv[f"{section}.{k}"] = v
    return kv


_ILWIS_TYPES = {"Byte": "uint8", "Int": "int16", "Long": "int32",
                "Real": "float64", "float": "float32"}


def read_ilwis(spark: SparkSession, path: str, raster_id: str = "ilwis",
               block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """ILWIS raster map: .mpr ini header (MapStore data file + Type),
    .grf georeference corners, raw top-down payload
    (gdal/frmts/ilwis/ilwisdataset.cpp)."""
    mpr = _ilwis_ini(path)
    base_dir = os.path.dirname(os.path.abspath(path))
    size = mpr["Map.Size"].split()
    height, width = int(size[0]), int(size[1])
    dtype = _ILWIS_TYPES[mpr["MapStore.Type"].strip()]
    data_file = os.path.join(base_dir, mpr["MapStore.Data"].strip())
    grf = _ilwis_ini(os.path.join(base_dir, mpr["Map.GeoRef"].strip()))
    xmin = float(grf["GeoRefCorners.MinX"])
    ymax = float(grf["GeoRefCorners.MaxY"])
    xmax = float(grf["GeoRefCorners.MaxX"])
    ymin = float(grf["GeoRefCorners.MinY"])
    gt = (xmin, (xmax - xmin) / width, 0.0, ymax, 0.0,
          -(ymax - ymin) / height)
    off = int(mpr.get("MapStore.StartOffset", "0"))
    meta = RasterMeta(raster_id, width, height, gt=gt, dtype=dtype,
                      block=block)
    return raw_blocks(spark, meta, [_plane(
        data_file, off, np.dtype(dtype).newbyteorder("<").str, width)]), meta


# ---------------------------------------------------------------------------
# ZMap Plus ASCII grid (gdal/frmts/zmap/zmapdataset.cpp) and
# AutoPano KRO (gdal/frmts/raw/krodataset.cpp)
# ---------------------------------------------------------------------------

def read_zmap(spark: SparkSession, path: str, raster_id: str = "zmap",
              block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """ZMap Plus grid: '!' comments, '@...,GRID,n' then fieldsize /
    nodata / decimals header lines, '@' data marker, fixed-width values
    one COLUMN per record (north-to-south within the column)."""
    lines = open(path, "r", encoding="latin-1").read().splitlines()
    i = 0
    while lines[i].startswith("!"):
        i += 1
    vals_per_line = int(lines[i].split(",")[2])
    t2 = lines[i + 1].split(",")
    field_size = int(t2[0])
    nodata = float(t2[1])
    decimals = int(t2[3])
    t3 = lines[i + 2].split(",")
    nrows, ncols = int(t3[0]), int(t3[1])
    xmin, xmax = float(t3[2]), float(t3[3])
    ymin, ymax = float(t3[4]), float(t3[5])
    i += 3
    while not lines[i].startswith("@"):
        i += 1
    i += 1
    vals = []
    exp = 10.0 ** decimals
    for ln in lines[i:]:
        for j in range(0, len(ln), field_size):
            tok = ln[j:j + field_size]
            if tok.strip():
                vals.append(float(tok) if "." in tok
                            else int(tok) * exp)
    arr = np.array(vals[:ncols * nrows]).reshape(ncols, nrows).T
    gt = (xmin, (xmax - xmin) / ncols, 0.0, ymax, 0.0,
          -(ymax - ymin) / nrows)
    meta = RasterMeta(raster_id, ncols, nrows, gt=gt, dtype="float64",
                      nodata=nodata, block=block)
    return from_array(spark, np.ascontiguousarray(arr), meta), meta


def write_zmap(tiles: DataFrame, meta: RasterMeta, path: str,
               band: int = 0) -> None:
    """ZMap sink mirroring the reference CreateCopy layout
    (zmapdataset.cpp:560-660): field width 20, 7 decimals, 4 values
    per line, one column per record."""
    arr = to_array(tiles, meta, band=band).astype(np.float64)
    g = meta.gt
    nodata = meta.nodata if meta.nodata is not None else 1e30
    with open(path, "w", encoding="latin-1") as f:
        f.write("!\n! Created by gdal_spark.\n!\n")
        f.write("@GRID FILE, GRID, 4\n")
        f.write("%10d,%10g,%10s,%10d,%10d\n" % (20, nodata, "", 7, 1))
        f.write("%10d,%10d,%14.7f,%14.7f,%14.7f,%14.7f\n"
                % (meta.height, meta.width, g[0],
                   g[0] + g[1] * meta.width,
                   g[3] + g[5] * meta.height, g[3]))
        f.write("%10.1f,%10.1f,%10.1f\n" % (0.0, 0.0, 0.0))
        f.write("@\n")
        for x in range(meta.width):
            col = arr[:, x]
            for j in range(0, meta.height, 4):
                f.write("".join("%20.7f" % v
                                for v in col[j:j + 4]) + "\n")


def read_kro(spark: SparkSession, path: str, raster_id: str = "kro",
             block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """KRO: 'KRO\\x01' + big-endian xsize/ysize/depth/ncomp, pixel-
    interleaved big-endian samples (8->Byte, 16->UInt16, 32->Float32)."""
    with open(path, "rb") as f:
        data = f.read(20)
    if data[:4] != b"KRO\x01":
        raise ValueError("not a KRO file")
    w, h, depth, ncomp = struct.unpack_from(">4i", data, 4)
    dt = {8: "u1", 16: "u2", 32: "f4"}[depth]
    out_dtype = {"u1": "uint8", "u2": "uint16", "f4": "float32"}[dt]
    meta = RasterMeta(raster_id, w, h, dtype=out_dtype, block=block)
    return raw_blocks(spark, meta, _interleaved(
        path, 20, ">" + dt, w, h, ncomp, "BIP")), meta


def write_kro(tiles: DataFrame, meta: RasterMeta, path: str,
              nbands: int = 1) -> None:
    bands = [to_array(tiles, meta, band=b) for b in range(nbands)]
    depth = {np.uint8: 8}.get(bands[0].dtype.type,
                              {"uint8": 8, "uint16": 16,
                               "float32": 32}[str(bands[0].dtype)])
    cube = np.stack(bands, axis=-1)
    with open(path, "wb") as f:
        f.write(b"KRO\x01")
        f.write(struct.pack(">4i", meta.width, meta.height, depth,
                            nbands))
        f.write(np.ascontiguousarray(
            cube, dtype=cube.dtype.newbyteorder(">")).tobytes())


# ---------------------------------------------------------------------------
# Geosoft GXF grid (gdal/frmts/gxf/gxfopen.c)
# ---------------------------------------------------------------------------

def read_gxf(spark: SparkSession, path: str, raster_id: str = "gxf",
             block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """GXF: #KEYWORD header blocks then #GRID records — uncompressed
    whitespace values (GTYPE 0) or base-90 groups of GTYPE chars
    (digit = char-37; '!' dummy, '"' run-length prefix) scaled by
    #TRANSFORM; default #SENSE 1 stores rows bottom-up
    (gxfopen.c:404-540).  Dummies map to the reference's -1e12."""
    lines = open(path, "r", encoding="latin-1").read().splitlines()
    kv: dict[str, list[str]] = {}
    grid_start = None
    i = 0
    while i < len(lines):
        ln = lines[i]
        if ln.startswith("#"):
            key = ln[1:].strip().upper()
            if key.startswith("GRID"):
                grid_start = i + 1
                break
            vals = []
            i += 1
            while i < len(lines) and not lines[i].startswith("#"):
                if lines[i].strip():
                    vals.append(lines[i].strip())
                i += 1
            kv[key[:4]] = vals
            continue
        i += 1

    width = int(kv["POIN"][0])
    height = int(kv["ROWS"][0])
    gtype = int(kv.get("GTYP", ["0"])[0])
    scale, offset = 1.0, 0.0
    if "TRAN" in kv:
        t = kv["TRAN"][0].split()
        scale, offset = float(t[0]), float(t[1])
    dummy_text = kv.get("DUMM", [None])[0]
    DUMMY_TO = -1e12
    ptsep = float(kv.get("PTSE", ["1"])[0])
    rwsep = float(kv.get("RWSE", ["1"])[0])
    xorig = float(kv.get("XORI", ["0"])[0])
    yorig = float(kv.get("YORI", ["0"])[0])
    sense = int(kv.get("SENS", ["1"])[0])

    vals: list[float] = []
    need = width * height
    if gtype == 0:
        for ln in lines[grid_start:]:
            for tok in ln.split():
                if len(vals) >= need:
                    break
                vals.append(DUMMY_TO if tok == dummy_text
                            else float(tok))
    else:
        # base-90 groups; runs and their value may split across lines
        stream = "".join(ln for ln in lines[grid_start:])
        groups = [stream[j:j + gtype]
                  for j in range(0, len(stream) - gtype + 1, gtype)]

        def b90(g, scaled):
            v = 0
            for c in g:
                v = v * 90 + (ord(c) - 37)
            return v * scale + offset if scaled else v

        gi = 0
        while len(vals) < need and gi < len(groups):
            g = groups[gi]
            if g[0] == "!":
                vals.append(DUMMY_TO)
                gi += 1
            elif g[0] == '"':
                count = int(b90(groups[gi + 1], False))
                vg = groups[gi + 2]
                v = DUMMY_TO if vg[0] == "!" else b90(vg, True)
                vals.extend([v] * min(count, need - len(vals)))
                gi += 3
            else:
                vals.append(b90(g, True))
                gi += 1

    arr = np.array(vals[:need], dtype=np.float64).reshape(height, width)
    if sense in (1, -2):        # raw rows bottom-up -> flip to north-up
        arr = arr[::-1]
    gt = (xorig - ptsep / 2.0, ptsep, 0.0,
          yorig + (height - 0.5) * rwsep, 0.0, -rwsep)
    meta = RasterMeta(raster_id, width, height, gt=gt, dtype="float64",
                      nodata=DUMMY_TO, block=block)
    return from_array(spark, np.ascontiguousarray(arr), meta), meta


def read_pnm(spark: SparkSession, path: str, raster_id: str = "pnm",
             block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """Netpbm P5/P6 via the engine's PNM codec — one band per channel
    (gdal/frmts/raw/pnmdataset.cpp semantics)."""
    from gdal_spark.raster.imagecodec import pnm_decode
    arr = pnm_decode(open(path, "rb").read())
    dtype = str(arr.dtype)
    if arr.ndim == 2:
        meta = RasterMeta(raster_id, arr.shape[1], arr.shape[0],
                          dtype=dtype, block=block)
        return from_array(spark, np.ascontiguousarray(arr), meta), meta
    meta = RasterMeta(raster_id, arr.shape[1], arr.shape[0],
                      dtype=dtype, block=block)
    return from_array(spark, arr.transpose(2, 0, 1), meta), meta


# ---------------------------------------------------------------------------
# SGI image (gdal/frmts/sgi/sgidataset.cpp)
# ---------------------------------------------------------------------------

def read_sgi(spark: SparkSession, path: str, raster_id: str = "sgi",
             block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """SGI RGB: 512-byte big-endian header (magic 0x01DA, storage 0 =
    verbatim / 1 = RLE, bpc, xsize/ysize/zsize), rows bottom-up; RLE
    rows via start/size tables and 0x80-flagged copy/repeat runs
    (sgidataset.cpp ImageGetRow)."""
    data = open(path, "rb").read()
    magic, storage, bpc = struct.unpack_from(">hBB", data, 0)
    if magic != 0x01DA:
        raise ValueError("not an SGI image")
    _dim, xsize, ysize, zsize = struct.unpack_from(">4H", data, 4)
    if bpc != 1:
        raise ValueError("only 1 byte per channel supported")
    meta = RasterMeta(raster_id, xsize, ysize, dtype="uint8", block=block)
    bands = []
    if storage == 0:
        for z in range(zsize):
            arr = np.frombuffer(data, dtype=np.uint8, count=xsize * ysize,
                                offset=512 + z * xsize * ysize
                                ).reshape(ysize, xsize)[::-1]
            bands.append(np.ascontiguousarray(arr))
    else:
        n = ysize * zsize
        starts = np.frombuffer(data, dtype=">u4", count=n, offset=512)
        sizes = np.frombuffer(data, dtype=">u4", count=n,
                              offset=512 + 4 * n)
        for z in range(zsize):
            rows = []
            for y in range(ysize):
                raw_y = ysize - 1 - y
                off = int(starts[raw_y + z * ysize])
                end = off + int(sizes[raw_y + z * ysize])
                row = np.empty(xsize, np.uint8)
                xc, i = 0, off
                while True:
                    pixel = data[i]; i += 1
                    count = pixel & 0x7F
                    if not count:
                        break
                    if pixel & 0x80:
                        row[xc:xc + count] = np.frombuffer(
                            data, np.uint8, count, i)
                        i += count
                    else:
                        row[xc:xc + count] = data[i]
                        i += 1
                    xc += count
                rows.append(row)
            bands.append(np.vstack(rows))
    return from_array(spark, np.stack(bands), meta), meta


# ---------------------------------------------------------------------------
# BSB / NOAA KAP nautical chart (gdal/frmts/bsb/bsb_read.c)
# ---------------------------------------------------------------------------

def read_bsb(spark: SparkSession, path: str, raster_id: str = "bsb",
             block: int = 256
             ) -> tuple[DataFrame, RasterMeta, list]:
    """BSB: CRLF'd ASCII header (BSB/RA=w,h + RGB/i,r,g,b palette) up
    to 0x1A, then the 0x1A 0x00 marker, a color-depth byte, and one
    run-length scanline per row (varint row marker, runs of
    value<<shift | count with 0x80 continuation, 0x00 terminator).
    Uses the trailing big-endian line-offset index when present, and
    the reference's resync rule for rows whose terminator appears
    early (bsb_read.c:481-560, BSBReadScanline).  Returns
    (tiles, meta, palette) — band values are palette indices, as the
    reference band exposes them."""
    import re as _re
    data = open(path, "rb").read()
    hdr_end = data.index(b"\x1a")
    header = data[:hdr_end].decode("latin-1")
    width = height = None
    palette = []
    for ln in header.splitlines():
        s = ln.strip()
        if ",RA=" in s or s.startswith(("BSB/", "NOS/")):
            m = _re.search(r"RA=(\d+),(\d+)", s)
            if m:
                width, height = int(m.group(1)), int(m.group(2))
        elif s.startswith("RGB/"):
            idx, r, g, b = (int(v) for v in s[4:].split(","))
            palette.append((idx, r, g, b))
    if width is None:
        raise ValueError("BSB header without RA= dimensions")
    i = hdr_end
    while not (data[i] == 0x1A and data[i + 1] == 0x00):
        i += 1
    i += 2
    color_size = data[i]
    if 0x31 <= color_size <= 0x38:
        color_size -= 0x30
    i += 1
    first_line = i
    shift = 7 - color_size
    vmask = ((1 << color_size) - 1) << shift
    cmask = (1 << (7 - color_size)) - 1

    def read_marker(j, y):
        marker = 0
        while True:
            b = data[j]; j += 1
            while y != 0 and marker == 0 and b == 0:
                b = data[j]; j += 1
            marker = marker * 128 + (b & 0x7F)
            if not (b & 0x80):
                return marker, j

    # trailing index table: last 4 bytes point at nYSize BE offsets
    offsets = None
    tail = struct.unpack_from(">I", data, len(data) - 4)[0]
    if first_line < tail and tail + 4 * height <= len(data) - 4 + 4:
        cand = list(struct.unpack_from(">%dI" % height, data, tail)) \
            if tail + 4 * height <= len(data) - 4 else None
        if cand and all(first_line <= o < tail for o in cand):
            ok = True
            for y, o in enumerate(cand):
                mk, _ = read_marker(o, y)
                if mk not in (y, y + 1):
                    ok = False
                    break
            if ok:
                offsets = cand

    rows = []
    i = first_line
    for y in range(height):
        if len(rows) != y:
            break
        try:
            if offsets is not None:
                i = offsets[y]
            _mk, i = read_marker(i, y)
        except IndexError:
            break
        row = np.zeros(width, np.uint8)
        ip = 0
        truncated = False
        while True:
            while i < len(data):
                b = data[i]; i += 1
                if b == 0:
                    break
                val = (b & vmask) >> shift
                count = b & cmask
                while b & 0x80:
                    if i >= len(data):
                        truncated = True
                        break
                    b = data[i]; i += 1
                    count = count * 128 + (b & 0x7F)
                if truncated:
                    break
                count = min(count, width - ip - 1)
                row[ip:ip + count + 1] = val
                ip += count + 1
            else:
                truncated = True
            if truncated:
                break
            if ip == width - 1:
                row[ip] = 0
                ip += 1
            if ip >= width or y == height - 1 or offsets is not None \
                    or i >= len(data):
                break
            # early terminator: only a valid next-line marker ends the
            # row; otherwise the following runs still belong to it
            mk, _ = read_marker(i, y + 1)
            if mk in (y + 1, y + 2):
                break
        if truncated:
            break
        rows.append(row)
    while len(rows) < height:
        rows.append(np.zeros(width, np.uint8))   # unreadable rows
    arr = np.vstack(rows)
    # band indices shift down by one (bsbdataset.cpp:150 'indices
    # start at 1'); zeros stay zero
    arr = np.where(arr > 0, arr - 1, 0).astype(np.uint8)
    meta = RasterMeta(raster_id, width, height, dtype="uint8",
                      block=block)
    return from_array(spark, arr, meta), meta, palette


# ---------------------------------------------------------------------------
# WinDisp IDA (gdal/frmts/raw/idadataset.cpp) and Panorama RMF
# (gdal/frmts/rmf/rmfdataset.cpp)
# ---------------------------------------------------------------------------

def read_ida(spark: SparkSession, path: str, raster_id: str = "ida",
             block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """IDA: 512-byte header (imagetype@22, proj@23, ysize@30, xsize@32
    little-endian int16s, geotransform as 4-byte Turbo-Pascal reals),
    one uint8 band top-down."""
    data = open(path, "rb").read()
    height = data[30] + data[31] * 256
    width = data[32] + data[33] * 256
    if 512 + width * height != len(data):
        raise ValueError("not an IDA file (size mismatch)")
    arr = np.frombuffer(data, dtype=np.uint8, count=width * height,
                        offset=512).reshape(height, width)
    meta = RasterMeta(raster_id, width, height, dtype="uint8",
                      block=block)
    return from_array(spark, np.ascontiguousarray(arr), meta), meta


def _rmf_lzw_decompress(src: bytes, out_size: int) -> bytes:
    """RMF 12-bit LZW with the reference's hash-addressed string table
    (rmflzw.cpp LZWUpdateTab/LZWDecompress) — ported bit-exactly,
    including signed-char hashing."""
    TAB = 4096
    used = [False] * TAB
    nxt = [0] * TAB
    pred = [0] * TAB
    foll = [0] * TAB

    def update(ipred, bfoll):
        f = bfoll - 256 if bfoll >= 128 else bfoll
        nlocal = ((ipred + f) | 0x0800) & 0xFFFFFFFF
        nlocal = ((nlocal * nlocal) & 0xFFFFFFFF) >> 6 & 0x0FFF
        if not used[nlocal]:
            n = nlocal
        else:
            while nxt[nlocal] != 0:
                nlocal = nxt[nlocal]
            n = (nlocal + 101) & 0x0FFF
            while used[n]:
                n += 1
                if n >= TAB:
                    n = 0
            nxt[nlocal] = n
        used[n] = True
        nxt[n] = 0
        pred[n] = ipred
        foll[n] = bfoll

    NO_PRED = 0xFFFF
    for c in range(256):
        update(NO_PRED, c)

    out = bytearray()
    i, n_in = 0, len(src)
    count = TAB - 256
    code = ((src[0] << 4) & 0xFF0) + ((src[1] >> 4) & 0x0F)
    i += 1
    n_in -= 1
    old_code = code
    bitsleft = True
    fin_char = foll[code]
    out.append(fin_char)
    last_char = 0
    while n_in > 0 and len(out) < out_size:
        if bitsleft:
            code = (src[i] & 0x0F) << 8
            i += 1
            n_in -= 1
            if n_in <= 0:
                break
            code += src[i]
            i += 1
            n_in -= 1
            bitsleft = False
        else:
            code = (src[i] << 4) & 0xFF0
            i += 1
            n_in -= 1
            if n_in <= 0:
                break
            code += (src[i] >> 4) & 0x0F
            bitsleft = True
        in_code = code
        if used[code]:
            new_code = False
        else:
            code = old_code
            last_char = fin_char
            new_code = True
        stack = bytearray()
        while pred[code] != NO_PRED:
            stack.append(foll[code])
            code = pred[code]
        fin_char = foll[code]
        out.append(fin_char)
        out.extend(reversed(stack))
        if new_code:
            fin_char = last_char
            out.append(fin_char)
        if count > 0:
            count -= 1
            update(old_code, fin_char)
        old_code = in_code
    return bytes(out[:out_size])


def read_rmf(spark: SparkSession, path: str, raster_id: str = "rmf",
             block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """Panorama RMF (RSW raster / MTW matrix): 320-byte header with a
    tile table of (offset,size) pairs; uncompressed tiles row-major,
    24-bit RSW pixels interleaved B,G,R (rmfdataset.cpp:1130-1300)."""
    data = open(path, "rb").read()
    sig = data[:4]
    if sig not in (b"RSW\x00", b"MTW\x00", b"\x00WSR", b"\x00WTM"):
        raise ValueError("not an RMF file")
    is_mtw = sig in (b"MTW\x00", b"\x00WTM")
    endian = ">" if sig in (b"\x00WSR", b"\x00WTM") else "<"
    u = lambda off: struct.unpack_from(endian + "I", data, off)[0]
    d = lambda off: struct.unpack_from(endian + "d", data, off)[0]
    depth = u(52)
    height, width = u(56), u(60)
    nxt, nyt = u(64), u(68)
    th, tw = u(72), u(76)
    last_th, last_tw = u(80), u(84)
    tbl_off, tbl_size = u(104), u(108)
    compression = data[208]
    pixel = d(152)
    lly, llx = d(160), d(168)
    gt = (llx, pixel, 0.0, lly + height * pixel, 0.0, -pixel)
    ntiles = tbl_size // 8
    tiles_tbl = [(u(tbl_off + 8 * i), u(tbl_off + 8 * i + 4))
                 for i in range(ntiles)]
    if is_mtw:
        dtype = {8: "int8", 16: "int16", 32: "int32", 64: "float64"}[depth]
        nbands = 1
        bpp = np.dtype(dtype).itemsize
    else:
        dtype = "uint8"
        nbands = 3 if depth in (24, 32) else 1
        bpp = depth // 8
    item = np.dtype(dtype).itemsize
    cube = np.zeros((height, width, nbands), dtype=dtype)
    for ty in range(nyt):
        for tx in range(nxt):
            off, size = tiles_tbl[ty * nxt + tx]
            cur_th = last_th if (last_th and ty == nyt - 1) else th
            cur_tw = last_tw if (last_tw and tx == nxt - 1) else tw
            raw = np.frombuffer(data, np.uint8, size, off)
            want = th * tw * bpp
            if compression == 1 and size < want:
                raw = np.frombuffer(
                    _rmf_lzw_decompress(bytes(raw), want), np.uint8)
                size = len(raw)
            buf = np.zeros(th * tw * bpp, np.uint8)
            buf[:min(size, len(buf))] = raw[:min(size, len(buf))]
            # NOTE: tile bytes are NOT swapped for BE files — the
            # reference's ReadBuffer swap is compiled only on MSB hosts
            # (rmfdataset.cpp '#ifdef CPL_MSB'), and the goldens encode
            # the LE-host behavior.
            y0, x0 = ty * th, tx * tw
            packed = bool(last_tw) and tx == nxt - 1
            if nbands == 1:
                tile = buf.view(dtype)
                if packed:   # last-column tiles store cur_tw-wide rows
                    cube[y0:y0 + cur_th, x0:x0 + cur_tw, 0] = \
                        tile[:cur_th * cur_tw].reshape(cur_th, cur_tw)
                else:
                    cube[y0:y0 + cur_th, x0:x0 + cur_tw, 0] = \
                        tile.reshape(th, tw)[:cur_th, :cur_tw]
            else:
                # pixels stored B,G,R(,pad) -> bands R,G,B; the block
                # fills LINEARLY from the tile's pixel stream, exactly
                # as the reference does (rmfdataset.cpp:347-366) — for
                # partial-width tiles the rows smear, and the goldens
                # encode that behavior
                npix = min(size // bpp, th * tw)
                pix = buf[:th * tw * bpp].reshape(th * tw, bpp)
                for b, comp in ((0, 2), (1, 1), (2, 0)):
                    blockf = np.zeros(th * tw, np.uint8)
                    blockf[:npix] = pix[:npix, comp]
                    if packed:   # restride per rmfdataset.cpp:287 memmove
                        blk = blockf[:cur_th * cur_tw].reshape(cur_th,
                                                               cur_tw)
                        cube[y0:y0 + cur_th, x0:x0 + cur_tw, b] = blk
                    else:
                        cube[y0:y0 + cur_th, x0:x0 + cur_tw, b] = \
                            blockf.reshape(th, tw)[:cur_th, :cur_tw]
    meta = RasterMeta(raster_id, width, height, gt=gt, dtype=dtype,
                      block=block)
    return from_array(spark, cube.transpose(2, 0, 1), meta), meta


# ---------------------------------------------------------------------------
# Northwood / Vertical Mapper GRD + GRC (gdal/frmts/northwood)
# ---------------------------------------------------------------------------

def _nwt_header(data: bytes) -> dict:
    h = {}
    u16 = lambda o: struct.unpack_from("<H", data, o)[0]
    f32 = lambda o: struct.unpack_from("<f", data, o)[0]
    d64 = lambda o: struct.unpack_from("<d", data, o)[0]
    h["xside"] = u16(9) or struct.unpack_from("<I", data, 128)[0]
    h["yside"] = u16(11) or struct.unpack_from("<I", data, 132)[0]
    h["minx"], h["maxx"] = d64(13), d64(21)
    h["miny"], h["maxy"] = d64(29), d64(37)
    h["zmin"], h["zmax"] = f32(45), f32(49)
    n = u16(516)
    h["inflections"] = [(f32(518 + 7 * i), data[522 + 7 * i],
                         data[523 + 7 * i], data[524 + 7 * i])
                        for i in range(n)]
    h["bpp"] = data[1023] * 8
    return h


def _nwt_color_map(h: dict, map_size: int = 4096) -> np.ndarray:
    """nwt_LoadColors + createIP + linearColor (northwood.cpp:256-400),
    including the reference's unsigned-char slope-increment cast."""
    cmap = np.zeros((map_size, 3), np.int32)
    wark = [0]

    def create_ip(index, r, g, b):
        if index == 0:
            cmap[0] = (r, g, b)
            return
        if index <= wark[0]:
            return
        wm = wark[0]
        for ci, target in enumerate((r, g, b)):
            slope = float(target - cmap[wm][ci]) / float(index - wm)
            for i in range(wm + 1, index):
                # (unsigned char) cast of the increment, as the
                # reference does — negative slopes wrap
                inc = int((i - wm) * slope + 0.5) & 0xFF
                cmap[i][ci] = (cmap[wm][ci] + inc) & 0xFF
        cmap[index] = (r, g, b)
        wark[0] = index

    def linear_color(lo, hi, mid):
        if mid < lo[0]:
            return lo[1:]
        if mid > hi[0]:
            return hi[1:]
        sc = (mid - lo[0]) / (hi[0] - lo[0])
        return tuple(int(sc * (hi[k + 1] - lo[k + 1]) + lo[k + 1] + 0.5)
                     for k in range(3))

    infl = h["inflections"]
    zmin, zmax = h["zmin"], h["zmax"]
    create_ip(0, 255, 255, 255)
    if zmin <= infl[0][0]:
        create_ip(1, *infl[0][1:])
    i = 0
    while i < len(infl):
        if zmin < infl[i][0]:
            r, g, b = linear_color(infl[i - 1], infl[i], zmin)
            create_ip(1, r, g, b)
            break
        i += 1
    if i >= len(infl):
        create_ip(1, *infl[-1][1:])
        create_ip(map_size - 1, *infl[-1][1:])
    else:
        index = 0
        while i < len(infl):
            if zmax < infl[i][0]:
                r, g, b = linear_color(infl[i - 1], infl[i], zmax)
                index = map_size - 1
                create_ip(index, r, g, b)
                break
            index = int((infl[i][0] - zmin) / (zmax - zmin) * map_size)
            if index >= map_size:
                index = map_size - 1
            create_ip(index, *infl[i][1:])
            i += 1
        if index < map_size - 1:
            create_ip(map_size - 1, *infl[-1][1:])
    return cmap.astype(np.uint8)


def read_nwt_grd(spark: SparkSession, path: str,
                 raster_id: str = "nwt_grd", block: int = 256
                 ) -> tuple[DataFrame, RasterMeta]:
    """Northwood GRD: 1024-byte header + uint16 LE samples; bands
    1-3 = RGB from the inflection-ramp color map at raw/16, band 4
    would be Z (grddataset.cpp IReadBlock).  This reader returns the
    3 color bands (the checksummed surface)."""
    data = open(path, "rb").read()
    h = _nwt_header(data)
    w, ht = h["xside"], h["yside"]
    raw = np.frombuffer(data, dtype="<u2", count=w * ht,
                        offset=1024).reshape(ht, w)
    cmap = _nwt_color_map(h)
    rgb = cmap[raw // 16]
    gt = (h["minx"] - (h["maxx"] - h["minx"]) / (w - 1) / 2,
          (h["maxx"] - h["minx"]) / (w - 1), 0.0,
          h["maxy"] + (h["maxy"] - h["miny"]) / (ht - 1) / 2, 0.0,
          -(h["maxy"] - h["miny"]) / (ht - 1))
    meta = RasterMeta(raster_id, w, ht, gt=gt, dtype="uint8", block=block)
    return from_array(spark, rgb.transpose(2, 0, 1), meta), meta


def read_nwt_grc(spark: SparkSession, path: str,
                 raster_id: str = "nwt_grc", block: int = 256
                 ) -> tuple[DataFrame, RasterMeta]:
    """Northwood classified GRC: one band of class indices
    (grcdataset.cpp IReadBlock)."""
    data = open(path, "rb").read()
    h = _nwt_header(data)
    w, ht = h["xside"], h["yside"]
    bpp = data[1023] * 4 if data[1023] else 16
    if data[4:5] == b"8":
        bpp = 16 if data[1023] == 0 else data[1023] * 4
    dtype = {8: "uint8", 16: "<u2", 32: "<u4"}[bpp]
    raw = np.frombuffer(data, dtype=dtype, count=w * ht,
                        offset=1024).reshape(ht, w)
    out_dtype = {8: "uint8", 16: "uint16", 32: "uint32"}[bpp]
    meta = RasterMeta(raster_id, w, ht, dtype=out_dtype, block=block)
    return from_array(spark, np.ascontiguousarray(raw).astype(out_dtype),
                      meta), meta


# ---------------------------------------------------------------------------
# HF2/HFZ heightfield (gdal/frmts/hf2/hf2dataset.cpp)
# ---------------------------------------------------------------------------

def read_hf2(spark: SparkSession, path: str, raster_id: str = "hf2",
             block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """HF2: little-endian header (dims, tile size, vertical precision),
    'bin' extended-header blocks (georef-extents → geotransform), then
    bottom-up tile rows; each tile = per-row delta streams (word-size
    byte, int32 seed, diffs) scaled by a per-tile scale/offset."""
    import gzip as _gzip
    raw = open(path, "rb").read()
    if raw[:2] == b"\x1f\x8b":
        raw = _gzip.decompress(raw)
    if raw[:4] != b"HF2\x00":
        raise ValueError("not an HF2 file")
    xsize, ysize = struct.unpack_from("<ii", raw, 6)
    (tile,) = struct.unpack_from("<h", raw, 14)
    _vert, _horiz = struct.unpack_from("<ff", raw, 16)
    (ext_len,) = struct.unpack_from("<i", raw, 24)
    pos = 28
    gt = (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)
    end_ext = pos + ext_len
    while pos < end_ext:
        btype = raw[pos:pos + 4]
        name = raw[pos + 4:pos + 20].split(b"\x00")[0].decode("latin-1")
        (blen,) = struct.unpack_from("<i", raw, pos + 20)
        body = pos + 24
        if btype.startswith(b"bin") and name == "georef-extents":
            minx, maxx, miny, maxy = struct.unpack_from("<4d", raw,
                                                        body + 2)
            gt = (minx, (maxx - minx) / xsize, 0.0, maxy, 0.0,
                  -(maxy - miny) / ysize)
        pos = body + blen
    nxb = (xsize + tile - 1) // tile
    nyb = (ysize + tile - 1) // tile
    arr = np.zeros((ysize, xsize), np.float32)
    i = pos
    for jb in range(nyb):          # bottom tile row first
        for ib in range(nxb):
            tw = min(tile, xsize - ib * tile)
            thh = min(tile, ysize - jb * tile)
            scale, off = struct.unpack_from("<ff", raw, i)
            i += 8
            for k in range(thh):
                wsize = raw[i]
                i += 1
                (val,) = struct.unpack_from("<i", raw, i)
                i += 4
                n = tw - 1
                if wsize == 1:
                    diffs = np.frombuffer(raw, np.int8, n, i)
                elif wsize == 2:
                    diffs = np.frombuffer(raw, "<i2", n, i)
                else:
                    diffs = np.frombuffer(raw, "<i4", n, i)
                i += wsize * n
                vals = val + np.concatenate(
                    [[0], np.cumsum(diffs, dtype=np.int64)])
                # global row: tile rows bottom-up within bottom-up tiles
                gy = ysize - 1 - (jb * tile + k)
                arr[gy, ib * tile:ib * tile + tw] = \
                    vals.astype(np.float64) * scale + off
    meta = RasterMeta(raster_id, xsize, ysize, gt=gt, dtype="float32",
                      block=block)
    return from_array(spark, arr, meta), meta


def write_hf2(tiles: DataFrame, meta: RasterMeta, path: str,
              band: int = 0, tile_size: int = 256,
              compress: bool = False) -> None:
    """HF2 sink mirroring the reference CreateCopy int16 path
    (hf2dataset.cpp:820-1000): per-row adaptive word size deltas,
    bottom-up tiles; gzip container when compress (.hfz)."""
    import gzip as _gzip
    import io as _io
    arr = np.round(to_array(tiles, meta, band=band)).astype(np.int64)
    xsize, ysize = meta.width, meta.height
    g = meta.gt
    out = _io.BytesIO()
    out.write(b"HF2\x00")
    out.write(struct.pack("<h", 0))
    out.write(struct.pack("<ii", xsize, ysize))
    out.write(struct.pack("<h", tile_size))
    out.write(struct.pack("<ff", 1.0,
                          (abs(g[1]) + abs(g[5])) / 2.0))
    ext = _io.BytesIO()
    ext.write(b"bin\x00" + b"georef-extents" + b"\x00\x00")
    ext.write(struct.pack("<i", 34))
    ext.write(struct.pack("<h", 0))
    ext.write(struct.pack("<4d", g[0], g[0] + xsize * g[1],
                          g[3] + ysize * g[5], g[3]))
    blob = ext.getvalue()
    out.write(struct.pack("<i", len(blob)))
    out.write(blob)
    nxb = (xsize + tile_size - 1) // tile_size
    nyb = (ysize + tile_size - 1) // tile_size
    for jb in range(nyb):
        for ib in range(nxb):
            tw = min(tile_size, xsize - ib * tile_size)
            thh = min(tile_size, ysize - jb * tile_size)
            sub = arr[max(0, ysize - (jb + 1) * tile_size):
                      ysize - jb * tile_size,
                      ib * tile_size:ib * tile_size + tw]
            out.write(struct.pack("<ff", 1.0, 0.0))
            for k in range(thh):
                row = sub[thh - k - 1]
                diffs = np.diff(row)
                if len(diffs) and (diffs.max() > 32767
                                   or diffs.min() < -32768):
                    ws = 4
                elif len(diffs) and (diffs.max() > 127
                                     or diffs.min() < -128):
                    ws = 2
                else:
                    ws = 1
                out.write(bytes([ws]))
                out.write(struct.pack("<i", int(row[0])))
                dt = {1: np.int8, 2: "<i2", 4: "<i4"}[ws]
                out.write(diffs.astype(dt).tobytes())
    data = out.getvalue()
    if compress:
        data = _gzip.compress(data)
    with open(path, "wb") as f:
        f.write(data)


# ---------------------------------------------------------------------------
# NASA PDS3 (gdal/frmts/pds/pdsdataset.cpp)
# ---------------------------------------------------------------------------

def _pds_label(path: str) -> dict:
    """ODL label → flat dict with OBJECT nesting as dotted prefixes
    ('IMAGE.LINES'); END stops the parse."""
    kv = {}
    stack = []
    for ln in open(path, "r", encoding="latin-1", errors="replace"):
        s = ln.strip()
        if not s or s.startswith("/*"):
            continue
        if s == "END":
            break
        if "=" not in s:
            continue
        k, v = s.split("=", 1)
        k, v = k.strip(), v.split("/*")[0].strip()
        if k == "OBJECT":
            stack.append(v)
            continue
        if k == "END_OBJECT":
            if stack:
                stack.pop()
            continue
        kv[".".join(stack + [k])] = v
    return kv


def _pds_value(v: str) -> str:
    v = v.strip()
    if "<" in v:
        v = v[:v.index("<")].strip()
    return v.strip('"').strip()


def read_pds(spark: SparkSession, path: str, raster_id: str = "pds",
             block: int = 256
             ) -> tuple[DataFrame, RasterMeta]:
    """PDS3 IMAGE: ^IMAGE pointer (records / <BYTES> / detached file
    with offset), SAMPLE_TYPE/SAMPLE_BITS typing (MSB default),
    equirect/sinusoidal geotransform from MAP_SCALE +
    LINE/SAMPLE_PROJECTION_OFFSET with the reference's -0.5 center
    shift (pdsdataset.cpp:300-420, 673-930).  Truncated payloads fill
    the remainder with zeros, as the failed-block reads do."""
    import re as _re
    kv = _pds_label(path)
    ptr = kv.get("^IMAGE", "")
    record_bytes = int(_pds_value(kv.get("RECORD_BYTES", "1")) or 1)
    data_path, skip = path, 0
    if ptr.startswith("("):
        inner = ptr.strip("()")
        parts = [p.strip() for p in inner.split(",")]
        fname = parts[0].strip('"')
        data_path = os.path.join(os.path.dirname(os.path.abspath(path)),
                                  fname)
        if len(parts) > 1:
            off = int(_re.sub(r"[^\d]", "", parts[1]))
            skip = off - 1 if "<BYTES>" in parts[1] else \
                (off - 1) * record_bytes
    elif ptr.startswith('"'):
        data_path = os.path.join(os.path.dirname(os.path.abspath(path)),
                                  ptr.strip('"'))
    elif ptr:
        n = int(_pds_value(ptr))
        skip = n - 1 if "<BYTES>" in ptr else (n - 1) * record_bytes
    lines_ = int(_pds_value(kv["IMAGE.LINES"]))
    cols = int(_pds_value(kv["IMAGE.LINE_SAMPLES"]))
    nbands = int(_pds_value(kv.get("IMAGE.BANDS", "1")))
    bits = int(_pds_value(kv.get("IMAGE.SAMPLE_BITS", "8")))
    st = _pds_value(kv.get("IMAGE.SAMPLE_TYPE", "MSB_INTEGER"))
    le = st in ("LSB_INTEGER", "LSB", "LSB_UNSIGNED_INTEGER",
                "LSB_SIGNED_INTEGER", "UNSIGNED_INTEGER", "VAX_REAL",
                "VAX_INTEGER", "PC_INTEGER", "PC_REAL")
    order = "<" if le else ">"
    if bits == 8:
        dtype, nodata = "u1", 0.0
    elif bits == 16:
        dtype = "u2" if "UNSIGNED" in st else "i2"
        nodata = -32768.0
    elif bits == 32:
        dtype, nodata = "f4", -3.4028226550889045e+38
    else:
        dtype, nodata = "f8", -3.4028226550889045e+38
    missing = kv.get("IMAGE.MISSING", kv.get("IMAGE.MISSING_CONSTANT"))
    if missing:
        m = _pds_value(missing)
        if not m.startswith("16#"):
            nodata = float(m)
    scale = float(_pds_value(kv.get("IMAGE.SCALING_FACTOR", "1.0")))
    offset = float(_pds_value(kv.get("IMAGE.OFFSET", "0.0")))

    gt = (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)

    def proj_key(name):
        suffix = "IMAGE_MAP_PROJECTION." + name
        for k in kv:
            if k.endswith(suffix):
                return k
        return None

    kscale = proj_key("MAP_SCALE")
    if kscale:
        raw = kv[kscale]
        xdim = float(_pds_value(raw))
        unit = raw[raw.index("<") + 1:raw.index(">")].split("/")[0] \
            if "<" in raw else "KM"
        if unit.upper() in ("M", "METER", "METERS"):
            pass
        elif unit.upper() == "CM":
            xdim /= 100.0
        else:
            xdim *= 1000.0
        ydim = -xdim
        klin = proj_key("LINE_PROJECTION_OFFSET")
        ksam = proj_key("SAMPLE_PROJECTION_OFFSET")
        yul = float(_pds_value(kv[klin])) if klin else 0.0
        xul = float(_pds_value(kv[ksam])) if ksam else 0.0
        gt = ((xul - 0.5) * xdim * -1.0, xdim, 0.0,
              (yul - 0.5) * -ydim * 1.0, 0.0, ydim)
    meta = RasterMeta(raster_id, cols, lines_, gt=gt,
                      dtype=str(np.dtype(dtype)), nodata=nodata,
                      block=block)
    return raw_blocks(spark, meta, _interleaved(
        data_path, skip, order + dtype, cols, lines_, nbands, "BSQ")), \
        meta, scale, offset


# ---------------------------------------------------------------------------
# JDEM — Japanese DEM (gdal/frmts/jdem/jdemdataset.cpp): 1012-byte ASCII
# header, per-row records "<6-byte id><3-digit row><5-digit dm values>".
# ---------------------------------------------------------------------------

def _jdem_angle(field: bytes) -> float:
    n = int(field[:7])
    return n // 10000 + (n // 100) % 100 / 60.0 + n % 100 / 3600.0


def read_jdem(spark: SparkSession, path: str, raster_id: str = "jdem",
              block: int = 256) -> tuple[DataFrame, RasterMeta]:
    data = open(path, "rb").read()
    h = data[:1012]
    nx = int(h[23:26])
    ny = int(h[26:29])
    rec = nx * 5 + 9 + 2
    arr = np.zeros((ny, nx), np.float32)
    for y in range(ny):
        row = data[1011 + rec * y:1011 + rec * (y + 1)]
        for x in range(nx):
            arr[y, x] = int(row[9 + 5 * x:14 + 5 * x]) * 0.1
    ll_lat, ll_lon = _jdem_angle(h[29:36]), _jdem_angle(h[36:43])
    ur_lat, ur_lon = _jdem_angle(h[43:50]), _jdem_angle(h[50:57])
    gt = (ll_lon, (ur_lon - ll_lon) / nx, 0.0,
          ur_lat, 0.0, -(ur_lat - ll_lat) / ny)
    meta = RasterMeta(raster_id, nx, ny, gt=gt, dtype="float32",
                      block=block)
    return from_array(spark, arr, meta), meta


# ---------------------------------------------------------------------------
# CTG — USGS LULC Composite Theme Grid (gdal/frmts/ctg/ctgdataset.cpp):
# 5 80-char header lines, then one 80-char record per populated cell with
# UTM zone, easting/northing of cell center and 6 int32 theme values.
# ---------------------------------------------------------------------------

def read_ctg(spark: SparkSession, path: str, raster_id: str = "ctg",
             block: int = 256) -> tuple[DataFrame, RasterMeta]:
    data = open(path, "rb").read()
    h = data[:400].decode("latin-1")
    rows = int(h[0:10])
    cols = int(h[20:30])
    cell = int(h[35:40])
    zone = int(h[50:55])
    nwe = int(h[3 * 80 + 40:3 * 80 + 50])
    nwn = int(h[3 * 80 + 50:3 * 80 + 60])
    cube = np.zeros((6, rows, cols), np.int32)
    pos = 400
    while pos + 80 <= len(data):
        line = data[pos:pos + 80].decode("latin-1")
        pos += 80
        if int(line[0:3]) != zone:
            break
        cx = (int(line[3:11]) - cell // 2 - nwe) // cell
        cy = (nwn - (int(line[11:19]) + cell // 2)) // cell
        if not (0 <= cx < cols and 0 <= cy < rows):
            break
        for i in range(6):
            v = int(line[20 + 10 * i:30 + 10 * i])
            cube[i, cy, cx] = 0 if v >= 2000000000 else v
    gt = (float(nwe - cell // 2), float(cell), 0.0,
          float(nwn + cell // 2), 0.0, float(-cell))
    meta = RasterMeta(raster_id, cols, rows, gt=gt, dtype="int32",
                      block=block)
    return from_array(spark, cube, meta), meta, zone


# ---------------------------------------------------------------------------
# Leveller .ter heightfield (gdal/frmts/leveller/levellerdataset.cpp):
# "trrn" + version byte, then [len][name][u32 datalen][data] tag records;
# hf_data is float32 LE (v6+) or 16.16 fixed point (v<6).
# ---------------------------------------------------------------------------

def _leveller_tags(data: bytes) -> dict:
    tags, pos = {}, 5
    while pos < len(data):
        n = data[pos]
        if n == 0 or n > 64:
            break
        name = data[pos + 1:pos + 1 + n].decode("latin-1")
        dlen = struct.unpack_from("<I", data, pos + 1 + n)[0]
        start = pos + 1 + n + 4
        tags[name] = data[start:start + dlen]
        pos = start + dlen
    return tags


def read_leveller(spark: SparkSession, path: str, raster_id: str = "ter",
                  block: int = 256) -> tuple[DataFrame, RasterMeta]:
    data = open(path, "rb").read()
    if data[:4] != b"trrn":
        raise ValueError("not a Leveller heightfield")
    version = data[4]
    tags = _leveller_tags(data)
    nx = struct.unpack("<i", tags["hf_w"])[0]
    ny = struct.unpack("<i", tags["hf_b"])[0]
    if version < 6:
        arr = (np.frombuffer(tags["hf_data"], "<i4", nx * ny)
               .astype(np.float32) / 65536.0)
    else:
        arr = np.frombuffer(tags["hf_data"], "<f4", nx * ny).copy()
    meta = RasterMeta(raster_id, nx, ny, dtype="float32", block=block)
    return from_array(spark, arr.reshape(ny, nx), meta), meta


# ---------------------------------------------------------------------------
# IRIS/Sigmet weather radar products (gdal/frmts/iris/irisdataset.cpp):
# 640-byte product header (ids 27/26), bottom-up scanlines, per-product
# value transforms to physical units (dBZ, velocity, rain rate ...).
# ---------------------------------------------------------------------------

def read_iris(spark: SparkSession, path: str, raster_id: str = "iris",
              block: int = 256) -> tuple[DataFrame, RasterMeta]:
    data = open(path, "rb").read()
    if struct.unpack_from("<h", data, 0)[0] != 27 or \
            struct.unpack_from("<h", data, 12)[0] != 26:
        raise ValueError("not an IRIS product file")
    nx = struct.unpack_from("<i", data, 112)[0]
    ny = struct.unpack_from("<i", data, 116)[0]
    nbands = struct.unpack_from("<i", data, 120)[0]
    code = struct.unpack_from("<H", data, 142)[0]
    dlen = 2 if code in (8, 9, 33, 37) else 1
    meta = RasterMeta(raster_id, nx, ny, dtype="float32", block=block,
                      nodata=-9999.0)
    planes = []
    for b in range(nbands):
        off = 640 + dlen * nx * ny * b
        if dlen == 1:
            raw = np.frombuffer(data, np.uint8, nx * ny, off)
        else:
            raw = np.frombuffer(data, "<u2", nx * ny, off)
        raw = raw.reshape(ny, nx)[::-1].astype(np.float32)
        if code in (1, 2):                       # dBT/dBZ 1-byte
            v = (raw - 64) / 2.0
            v[v == 95.5] = -9999
        elif code in (8, 9):                     # dBT2/dBZ2
            v = (raw - 32768) / 100.0
            v[v == 327.67] = -9999
        elif code == 37:                         # FLIQUID2 exp/mantissa
            iv = raw.astype(np.int64)
            exp = iv >> 12
            man = iv - (exp << 12)
            v = np.where(exp == 0, man / 1000.0,
                         ((man + 4096) << np.maximum(exp - 1, 0)) / 1000.0)
            v = np.where(iv == 65535, -9999, v).astype(np.float32)
        elif code == 33:                         # VIL2
            v = np.where(raw == 65535, -9999,
                         np.where(raw == 0, -1, (raw - 1) / 1000.0))
        elif code == 32:                         # HEIGHT
            v = np.where(raw == 255, -9999,
                         np.where(raw == 0, -1, (raw - 1) / 10.0))
        elif code == 35:                         # SHEAR
            v = np.where(raw == 0, -9998,
                         np.where(raw == 255, -9999, (raw - 128) * 0.2))
        else:
            v = raw
        planes.append(v.astype(np.float32))
    return from_array(spark, np.stack(planes), meta), meta


# ---------------------------------------------------------------------------
# TIL — EarthWatch/DigitalGlobe tiled product (gdal/frmts/til/tildataset.cpp):
# .TIL key/value tile index + .IMD metadata, tiles are GeoTIFFs composed at
# the recorded row/col offsets.
# ---------------------------------------------------------------------------

def read_til(spark: SparkSession, path: str, raster_id: str = "til",
             block: int = 256) -> tuple[DataFrame, RasterMeta]:
    import re

    text = open(path).read()

    def kv(src, key, default=None):
        m = re.search(rf'{key}\s*=\s*"?([^";\n]+)', src)
        return m.group(1).strip() if m else default

    imd_path = os.path.splitext(path)[0] + ".IMD"
    if not os.path.exists(imd_path):
        imd_path = os.path.splitext(path)[0] + ".imd"
    imd = open(imd_path).read()
    rows = int(kv(imd, "numRows"))
    cols = int(kv(imd, "numColumns"))
    bpp = int(kv(imd, "bitsPerPixel", "8"))
    dtype = "uint8" if bpp <= 8 else "uint16"

    full = None
    n_tiles = int(kv(text, "numTiles"))
    base = os.path.dirname(path)
    for i in range(1, n_tiles + 1):
        name = kv(text, rf"TILE_{i}\.filename")
        ulx = int(kv(text, rf"TILE_{i}\.ULColOffset"))
        uly = int(kv(text, rf"TILE_{i}\.ULRowOffset"))
        blob = open(os.path.join(base, name), "rb").read()
        bands, _m = parse_geotiff(blob)
        if full is None:
            n_bands = len(bands)
            full = np.zeros((n_bands, rows, cols), bands[0].dtype)
        for b, arr in enumerate(bands):
            h, w = arr.shape
            full[b, uly:uly + h, ulx:ulx + w] = arr
    meta = RasterMeta(raster_id, cols, rows, dtype=dtype, block=block)
    return from_array(spark, full, meta), meta


# ---------------------------------------------------------------------------
# PCIDSK .pix database (gdal/frmts/pcidsk/sdk/core/cpcidskfile.cpp
# InitializeFromHeader): 512-byte-block file, ASCII file header with
# channel counts / interleaving, 1024-byte channel headers.
# ---------------------------------------------------------------------------

_PCIDSK_TYPES = {"8U": ("uint8", 1), "16S": ("int16", 2),
                 "16U": ("uint16", 2), "32R": ("float32", 4),
                 "C16U": ("uint16", 2), "C16S": ("int16", 2)}


def read_pcidsk(spark: SparkSession, path: str, raster_id: str = "pix",
                block: int = 256) -> tuple[DataFrame, RasterMeta]:
    with open(path, "rb") as f:
        fh = f.read(512)
        if fh[:8] != b"PCIDSK  ":
            raise ValueError("not a PCIDSK file")
        width = int(fh[384:392])
        height = int(fh[392:400])
        nchan = int(fh[376:384])
        image_start = int(fh[304:320])
        ih_start = int(fh[336:352])
        f.seek((ih_start - 1) * 512)
        ihs = f.read(nchan * 1024)
    interleave = fh[360:368].decode().strip()
    if fh[464:468].strip():
        counts = [int(fh[464 + 4 * i:468 + 4 * i]) for i in range(4)]
    else:
        counts = [nchan, 0, 0, 0]

    def chan_type(ch):
        name = ihs[ch * 1024 + 160:ch * 1024 + 168].decode().strip()
        if name:
            return name
        acc = 0
        for cnt, nm in zip(counts, ("8U", "16S", "16U", "32R")):
            acc += cnt
            if ch < acc:
                return nm
        return "32R"

    types = [_PCIDSK_TYPES[chan_type(c)] for c in range(nchan)]
    meta = RasterMeta(raster_id, width, height, dtype=types[0][0],
                      block=block)
    base = (image_start - 1) * 512
    bands = []
    if interleave == "BAND":
        for dt, sz in types:
            bands.append(RawBand(path, base, sz, sz * width,
                                 np.dtype(dt).str))
            base += sz * width * height
    elif interleave == "PIXEL":
        group = sum(sz for _dt, sz in types)
        line = -(-group * width // 512) * 512
        for dt, sz in types:
            bands.append(RawBand(path, base, group, line, np.dtype(dt).str))
            base += sz
    else:
        raise NotImplementedError(f"PCIDSK interleaving {interleave!r}")
    return raw_blocks(spark, meta, bands), meta


# ---------------------------------------------------------------------------
# PCRaster CSF 2.0 driver (gdal/frmts/pcraster/, libcsf csf.h structs)
# ---------------------------------------------------------------------------

_CSF_CR = {0x00: ("uint8", 255), 0x26: ("int32", -2147483648),
           0x5A: ("float32", None), 0xDB: ("float64", None),
           0x04: ("uint8", 255), 0x11: ("uint16", None),
           0x15: ("uint32", None), 0x25: ("int16", None)}


def read_pcraster(spark: SparkSession, path: str,
                  raster_id: str = "pcraster", block: int = 256
                  ) -> tuple[DataFrame, RasterMeta]:
    """PCRaster CSF read: 'RUU CROSS SYSTEM MAP FORMAT' signature, main
    header at 0, raster header at 64 (valueScale/cellRepr u2, min/max
    8-byte slots, xUL/yUL doubles, nrRows/nrCols u4, cellSize double),
    cells row-major at 256 (csfimpl.h ADDR_*, csf.h CSF_RASTER_HEADER).
    VS_* scales all map to the cellRepr dtype; float nodata is the CSF
    missing value (NaN pattern for reals, type extremes otherwise,
    csftypes.h MV_*)."""
    data = open(path, "rb").read()
    if not data.startswith(b"RUU CROSS SYSTEM MAP FORMAT"):
        raise ValueError("not a PCRaster CSF file")
    cr = struct.unpack_from("<H", data, 66)[0]
    if cr not in _CSF_CR:
        raise NotImplementedError(f"CSF cell representation {cr:#x}")
    dtype, nodata = _CSF_CR[cr]
    xul, yul = struct.unpack_from("<2d", data, 84)
    rows, cols = struct.unpack_from("<2I", data, 100)
    (cell,) = struct.unpack_from("<d", data, 108)
    arr = np.frombuffer(data, np.dtype(dtype).newbyteorder("<"),
                        rows * cols, 256).reshape(rows, cols)
    meta = RasterMeta(raster_id, cols, rows,
                      gt=(xul, cell, 0.0, yul, 0.0, -cell),
                      dtype=dtype,
                      nodata=float(nodata) if nodata is not None
                      else float(np.nan), block=block)
    return from_array(spark, np.ascontiguousarray(arr), meta), meta


# ---------------------------------------------------------------------------
# DIMAP driver (gdal/frmts/dimap/dimapdataset.cpp) — metadata wrapper
# around the Data_Access image file (TIFF or VRT dummy)
# ---------------------------------------------------------------------------

_DIMAP_MD_XLAT = [
    ("Production", ""), ("Production/Facility", "FACILITY_"),
    ("Dataset_Sources/Source_Information/Scene_Source", ""),
    ("Data_Processing", ""),
    ("Image_Interpretation/Spectral_Band_Info", "SPECTRAL_"),
]


def open_dimap(path: str) -> dict:
    """Parse a METADATA.DIM: image path, size, GCPs from Dataset_Frame
    vertices (pixel/line = FRAME_COL/ROW - 0.5,
    dimapdataset.cpp:600-640), nodata from the NODATA special value,
    and the metadata translation table (dimapdataset.cpp:717-724)."""
    import xml.etree.ElementTree as ET
    root = ET.parse(path).getroot()
    if root.find("Metadata_Id/METADATA_FORMAT") is None:
        raise ValueError("not a DIMAP product")
    out = {"metadata": {}, "gcps": []}
    href = root.find(".//Data_Access//DATA_FILE_PATH")
    if href is None:
        href = root.find(".//DATA_FILE_PATH")
    out["image_path"] = os.path.join(os.path.dirname(path),
                                     href.get("href"))
    rd = root.find("Raster_Dimensions")
    if rd is not None:
        out["ncols"] = int(rd.findtext("NCOLS"))
        out["nrows"] = int(rd.findtext("NROWS"))
        out["nbands"] = int(rd.findtext("NBANDS"))
    for v in root.findall("Dataset_Frame/Vertex"):
        out["gcps"].append({
            "pixel": float(v.findtext("FRAME_COL")) - 0.5,
            "line": float(v.findtext("FRAME_ROW")) - 0.5,
            "x": float(v.findtext("FRAME_LON")),
            "y": float(v.findtext("FRAME_LAT")), "z": 0.0})
    out["gcp_srs"] = 'GEOGCS["WGS 84",DATUM["WGS_1984",' \
        'SPHEROID["WGS 84",6378137,298.257223563]],' \
        'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]'
    for xpath, prefix in _DIMAP_MD_XLAT:
        for el in root.findall(xpath):
            for leaf in el:
                if leaf.text and leaf.text.strip() and len(leaf) == 0:
                    out["metadata"][prefix + leaf.tag] = leaf.text
    for sv in root.findall(".//Image_Display//Special_Value"):
        if sv.findtext("SPECIAL_VALUE_TEXT") == "NODATA":
            out["nodata"] = float(sv.findtext("SPECIAL_VALUE_INDEX"))
    return out


def read_dimap(spark: SparkSession, path: str, block: int = 256
               ) -> tuple[DataFrame, RasterMeta, dict]:
    """DIMAP read: pixels come from the referenced image file (TIFF, or
    a VRT as in the reference's own test data — GDAL sniffs content,
    not extension); returns (tiles, meta, product-info)."""
    info = open_dimap(path)
    img = info["image_path"]
    head = open(img, "rb").read(16)
    if head[:4] in (b"II*\x00", b"MM\x00*"):
        tiles, meta = read_geotiff(spark, img, raster_id="dimap",
                                   block=block)
    elif head.lstrip().startswith(b"<VRT"):
        from gdal_spark.raster.vrt import read_vrt
        tiles, meta = read_vrt(spark, img, block=block)
    else:
        raise NotImplementedError("unsupported DIMAP imagery container")
    if info.get("nodata") is not None:
        meta = replace(meta, nodata=info["nodata"])
    return tiles, meta, info


# ---------------------------------------------------------------------------
# EOSAT FAST Format driver (gdal/frmts/raw/fastdataset.cpp)
# ---------------------------------------------------------------------------

def _fast_value(header: str, name: str, size: int) -> str | None:
    i = header.find(name)
    if i < 0:
        return None
    i += len(name)
    while i < len(header) and header[i] == " ":
        i += 1
    while i < len(header) and header[i] == "=":
        i += 1
    return header[i:i + size].strip()


def open_fast(path: str) -> dict:
    """Parse a FAST admin header (fastdataset.cpp:595-1100): metadata
    fields, band files (FILENAME entries, Landsat .b0N fallback, or the
    Euromap IRS PAN/LISS3/WIFS last-letter conventions
    :363-487), per-band GAIN/BIAS pairs in header order, corner
    easting/northing 28 chars after each corner tag, and the
    geotransform as the least-squares affine fit of the four
    center-of-corner-pixel GCPs (GDALGCPsToGeoTransform)."""
    raw = open(path, "rb").read(5000)
    header = raw.decode("latin-1")
    if header[52:70] != "ACQUISITION DATE =" and \
            header[36:54] != "ACQUISITION DATE =":
        raise ValueError("not a FAST dataset")
    md = {}
    for key, name, size in (("ACQUISITION_DATE", "ACQUISITION DATE", 8),
                            ("SATELLITE", "SATELLITE", 10),
                            ("SENSOR", "SENSOR", 10)):
        md[key] = _fast_value(header, name, size) or ""
    out = {"metadata": md, "path": path}
    dirname = os.path.dirname(path) or "."
    base = os.path.basename(path)
    stem, ext = os.path.splitext(base)
    bands: list[str | None] = []

    def try_open(name):
        p = os.path.join(dirname, name)
        if os.path.exists(p):
            bands.append(p)
            return True
        # case-insensitive match
        low = name.lower()
        for f in os.listdir(dirname):
            if f.lower() == low:
                bands.append(os.path.join(dirname, f))
                return True
        return False

    sensor = md["SENSOR"]
    if "FILENAME" not in header and "GENERATING AGENCY =EUROMAP" in header:
        last = base[-1].lower()
        if sensor == "PAN":
            if "a" <= last <= "j":
                try_open(base[:-1] + chr(ord(last) - ord("a") + ord("0")))
            elif "k" <= last <= "m":
                try_open(base[:-1] + chr(ord(last) - ord("k") + ord("n")))
        elif sensor == "LISS3":
            rows = ["02345", "6789a", "bcdef", "ghijk", "lmnop",
                    "qrstu", "vwxyz"]
            for r in rows:
                if last == r[0]:
                    for c in r[1:]:
                        if not try_open(base[:-1] + c):
                            bands.append(None)
                    break
        elif sensor == "WIFS" and last == "0":
            for c in "12":
                if not try_open(base[:-1] + c):
                    bands.append(None)
    if not [b for b in bands if b]:
        bands = []
        pos = 0
        for k in range(7):
            pos = header.find("FILENAME", pos)
            name = None
            if pos >= 0:
                pos += len("FILENAME")
                while pos < len(header) and header[pos] == " ":
                    pos += 1
                while pos < len(header) and header[pos] == "=":
                    pos += 1
                name = header[pos:pos + 29].strip()
            if name and try_open(name):
                continue
            if try_open(f"{stem}.b{k + 1:02d}"):
                continue
            if name is not None or pos < 0:
                break
    out["bands"] = bands
    out["width"] = int(_fast_value(header, "PIXELS PER LINE", 5) or 0)
    out["height"] = int(_fast_value(header, "LINES PER BAND", 5) or
                        _fast_value(header, "LINES PER IMAGE", 5) or 0)
    out["bits"] = int(_fast_value(header, "OUTPUT BITS PER PIXEL", 2)
                      or 8)
    # GAIN/BIAS pairs: order depends on which word comes first
    gi, bi = header.find("GAINS"), header.find("BIASES")
    first, second = ("GAIN", "BIAS") if bi > gi else ("BIAS", "GAIN")
    pos = bi if bi >= 0 else gi
    if pos >= 0:
        tail = header[pos:]
        nums = re.findall(r"[-+.0-9]+", tail)
        for i in range(len(bands)):
            if 2 * i < len(nums):
                md[f"{first}{i + 1}"] = nums[2 * i]
            if 2 * i + 1 < len(nums):
                md[f"{second}{i + 1}"] = nums[2 * i + 1]
    # corners (easting/northing follow 28 chars of DMS text)
    zone = int(_fast_value(header, "USGS MAP ZONE", 6) or 0)
    out["zone"] = zone
    out["projection"] = _fast_value(header, "MAP PROJECTION", 4) or "UTM"
    geom = header[header.find("PROJECTION"):]
    corners = {}
    for tag in ("UL ", "UR ", "LL ", "LR "):
        i = geom.find(tag)
        if i < 0:
            continue
        i += len(tag) + 28
        x = float(geom[i:i + 13])
        y = float(geom[i + 14:i + 27])
        if x >= 1000000.0:
            x -= zone * 1000000.0
        corners[tag.strip()] = (x, y)
    out["corners"] = corners
    W, H = out["width"], out["height"]
    if len(corners) == 4 and all(v != (0.0, 0.0) for v in corners.values()):
        pts = [("UL", 0.5, 0.5), ("UR", W - 0.5, 0.5),
               ("LR", W - 0.5, H - 0.5), ("LL", 0.5, H - 0.5)]
        A = np.array([[1.0, p, l] for _t, p, l in pts])
        xs = np.array([corners[t][0] for t, _p, _l in pts])
        ys = np.array([corners[t][1] for t, _p, _l in pts])
        cx, *_ = np.linalg.lstsq(A, xs, rcond=None)
        cy, *_ = np.linalg.lstsq(A, ys, rcond=None)
        out["gt"] = (cx[0], cx[1], cx[2], cy[0], cy[1], cy[2])
    else:
        out["gt"] = (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)
    return out


def read_fast(spark: SparkSession, path: str, raster_id: str = "fast",
              block: int = 512) -> tuple[DataFrame, RasterMeta, dict]:
    """FAST read: raw band files (uint8/uint16 big-endian per the spec),
    short/placeholder band files zero-fill like the reference's
    RawRasterBand beyond-EOF behavior. Returns (tiles, meta, info)."""
    info = open_fast(path)
    W, H = info["width"], info["height"]
    dt = "u1" if info["bits"] <= 8 else ">u2"
    meta = RasterMeta(raster_id, W, H, gt=info["gt"],
                      dtype=str(np.dtype(dt).newbyteorder("=")),
                      block=block)
    return raw_blocks(spark, meta, [_plane(p, 0, dt, W)
                                    for p in info["bands"]]), meta, info


# ---------------------------------------------------------------------------
# ISIS2 cube driver (gdal/frmts/pds/isis2dataset.cpp)
# ---------------------------------------------------------------------------

def read_isis2(spark: SparkSession, path: str, raster_id: str = "isis2",
               block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """ISIS2 QUBE: ^QUBE record pointer * RECORD_BYTES, CORE_ITEMS =
    (samples, lines, bands), CORE_ITEM_TYPE/BYTES typing (SUN_* big
    endian, PC_* little, isis2dataset.cpp:340-400). Truncated payloads
    zero-fill."""
    kv = _pds_label(path)
    if "QUBE.CORE_ITEMS" not in kv:
        raise ValueError("not an ISIS2 cube")
    rb = int(_pds_value(kv.get("RECORD_BYTES", "512")))
    ptr = kv.get("^QUBE", "1").strip()
    offset = (int(ptr) - 1) * rb if ptr.isdigit() else 0
    items = _pds_value(kv["QUBE.CORE_ITEMS"]).strip("()").split(",")
    w, h, nbands = (int(x) for x in items)
    nbytes = int(_pds_value(kv.get("QUBE.CORE_ITEM_BYTES", "1")))
    ctype = _pds_value(kv.get("QUBE.CORE_ITEM_TYPE", "SUN_INTEGER"))
    endian = "<" if ctype.startswith("PC_") else ">"
    if "REAL" in ctype:
        base = {4: "f4", 8: "f8"}[nbytes]
    elif "UNSIGNED" in ctype or nbytes == 1:
        base = {1: "u1", 2: "u2", 4: "u4"}[nbytes]
    else:
        base = {1: "u1", 2: "i2", 4: "i4"}[nbytes]
    dt = np.dtype(endian + base)
    meta = RasterMeta(raster_id, w, h, dtype=str(dt.newbyteorder("=")),
                      block=block)
    return raw_blocks(spark, meta, _interleaved(
        path, offset, dt.str, w, h, nbands, "BSQ")), meta


# ---------------------------------------------------------------------------
# PCI .aux raw driver (gdal/frmts/raw/pauxdataset.cpp)
# ---------------------------------------------------------------------------

def read_paux(spark: SparkSession, path: str, raster_id: str = "paux",
              block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """PAux: AuxilaryTarget raw file + RawDefinition 'pixels lines
    channels' + ChanDefinition-N 'type offset pixeloff lineoff
    [Swapped]' (a RawBand each); geotransform from UpLeftX/Y +
    LoRightX/Y edges."""
    kv = {}
    for ln in open(path).read().splitlines():
        if ":" in ln:
            k, v = ln.split(":", 1)
            kv[k.strip()] = v.strip()
    if "AuxilaryTarget" not in kv or "RawDefinition" not in kv:
        raise ValueError("not a PAux header")
    target = os.path.join(os.path.dirname(path) or ".",
                          kv["AuxilaryTarget"])
    w, h, nchan = (int(x) for x in kv["RawDefinition"].split())
    gt = (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)
    if "UpLeftX" in kv:
        ulx, uly = float(kv["UpLeftX"]), float(kv["UpLeftY"])
        lrx, lry = float(kv["LoRightX"]), float(kv["LoRightY"])
        gt = (ulx, (lrx - ulx) / w, 0.0, uly, 0.0, (lry - uly) / h)
    types = {"8U": "u1", "16U": "u2", "16S": "i2", "32R": "f4"}
    bands = []
    for c in range(nchan):
        parts = kv[f"ChanDefinition-{c + 1}"].split()
        # PCI convention: "Swapped" = swapped relative to big-endian,
        # i.e. little-endian data (pauxdataset.cpp:820-824)
        swapped = len(parts) > 4 and parts[4].lower() == "swapped"
        bands.append(RawBand(target, int(parts[1]), int(parts[2]),
                             int(parts[3]), ("<" if swapped else ">")
                             + types[parts[0]]))
    meta = RasterMeta(raster_id, w, h, gt=gt,
                      dtype=str(np.dtype(bands[0].dtype).newbyteorder("=")),
                      block=block)
    return raw_blocks(spark, meta, bands), meta


# ---------------------------------------------------------------------------
# DIPEx driver (gdal/frmts/raw/dipxdataset.cpp)
# ---------------------------------------------------------------------------

def read_dipex(spark: SparkSession, path: str, raster_id: str = "dipex",
               block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """DIPEx: 1024-byte LE header (NBIH, NBPR, IL, LL, IE, LE, NC,
    4322 magic, IH19 type flags); band b line y at 1024 + b*NBPR +
    y*NBPR*NC."""
    with open(path, "rb") as f:
        data = f.read(1024)
    nbih, nbpr, il, ll, ie, le, nc, magic = \
        struct.unpack_from("<8i", data)
    if magic != 4322:
        raise ValueError("not a DIPEx file")
    h = ll - il + 1
    w = le - ie + 1
    ih19 = data[72:76]
    dclass = (ih19[1] & 0x7E) >> 2
    nbps = ih19[0]
    if dclass in (0, 1) and nbps == 1:
        dt = "u1"
    elif dclass == 16 and nbps == 4:
        dt = "<f4"
    elif dclass == 17 and nbps == 8:
        dt = "<f8"
    else:
        raise NotImplementedError(f"DIPEx type {dclass}/{nbps}")
    meta = RasterMeta(raster_id, w, h,
                      dtype=str(np.dtype(dt).newbyteorder("=")),
                      block=block)
    return raw_blocks(spark, meta, [
        RawBand(path, 1024 + b * nbpr, nbps, nbpr * nc, dt)
        for b in range(nc)]), meta


# ---------------------------------------------------------------------------
# GSC Geogrid driver (gdal/frmts/raw/gscdataset.cpp)
# ---------------------------------------------------------------------------

def read_gsc(spark: SparkSession, path: str, raster_id: str = "gsc",
             block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """GSC Geogrid: Fortran-style records (recordlen = pixels*4 + 8
    markers); gt floats in record 2; float32 data from record 3
    (gscdataset.cpp:Open)."""
    with open(path, "rb") as f:
        data = f.read(16)
        reclen, w, h = struct.unpack_from("<3i", data)
        if data[12:16] != b"\x02\x00\x00\x00" or reclen != w * 4:
            raise ValueError("not a GSC Geogrid file")
        reclen += 8
        f.seek(reclen + 12)
        hdr = np.frombuffer(f.read(32), "<f4")
    gt = (float(hdr[2]), float(hdr[0]), 0.0,
          float(hdr[5]), 0.0, -float(hdr[1]))
    meta = RasterMeta(raster_id, w, h, gt=gt, dtype="float32",
                      nodata=-1.0000000150474662199e+30, block=block)
    return raw_blocks(spark, meta, [
        RawBand(path, reclen * 2 + 4, 4, reclen, "<f4")]), meta


# ---------------------------------------------------------------------------
# Six small header-driven raw drivers (gdal/frmts/raw/{mffdataset,
# doq1dataset, eirdataset, cpgdataset, snodasdataset}.cpp and
# gdal/frmts/pds/vicardataset.cpp)
# ---------------------------------------------------------------------------

_MFF_EXT_TYPES = {"b": "uint8", "i": "uint16", "r": "float32"}
_MFF_REFINED = {"I*1": "uint8", "I*2": "int16", "I*4": "int32",
                "U*2": "uint16", "U*4": "uint32", "R*4": "float32",
                "R*8": "float64"}


def read_mff(spark: SparkSession, path: str, raster_id: str = "mff",
             block: int = 256) -> tuple[DataFrame, RasterMeta]:
    """Vexcel MFF: key=value .hdr (IMAGE_LINES/LINE_SAMPLES or
    no_rows/no_columns + tile_size_*), band files <stem>.<t><NN> with
    the extension letter encoding the type (mffdataset.cpp:835-940);
    tiled files store tile_size x tile_size tiles row-major and are
    assembled on the driver."""
    kv = {}
    for ln in open(path, encoding="latin-1"):
        if "=" in ln:
            k, v = ln.split("=", 1)
            kv[k.strip()] = v.strip()
    if kv.get("IMAGE_FILE_FORMAT", "").upper() != "MFF":
        raise ValueError("not an MFF header")
    h = int(kv.get("IMAGE_LINES", kv.get("no_rows", "0")))
    w = int(kv.get("LINE_SAMPLES", kv.get("no_columns", "0")))
    if not h:
        h = int(kv.get("no_rows", "0"))
    if not w:
        w = int(kv.get("no_columns", h and str(h) or "0") or h)
    tw = int(kv.get("tile_size_columns", "0"))
    th = int(kv.get("tile_size_rows", "0"))
    refined = kv.get("type")
    bo = "<" if kv.get("BYTE_ORDER", "LSB").upper() == "LSB" else ">"
    stem = os.path.splitext(path)[0]
    dirname = os.path.dirname(path) or "."
    base = os.path.basename(stem)
    bands = []
    for f in sorted(os.listdir(dirname)):
        fstem, ext = os.path.splitext(f)
        if fstem.lower() != base.lower() or len(ext) < 2:
            continue
        letter = ext[1].lower()
        if letter in _MFF_EXT_TYPES and \
                (len(ext) == 2 or ext[2:].isdigit()):
            dt = (_MFF_REFINED.get(refined) if refined
                  else _MFF_EXT_TYPES[letter])
            bands.append((os.path.join(dirname, f), dt))
    if not bands:
        raise ValueError("no MFF band files found")
    meta = RasterMeta(raster_id, w, h, dtype=bands[0][1], block=block)
    if not (th and tw):
        return raw_blocks(spark, meta, [
            _plane(p, 0, np.dtype(dts).newbyteorder(bo).str, w)
            for p, dts in bands]), meta
    cube = np.zeros((len(bands), h, w), meta.dtype)
    ntx = -(-w // tw)
    for bi, (bpath, dts) in enumerate(bands):
        dt = np.dtype(dts).newbyteorder(bo)
        data = np.fromfile(bpath, np.uint8)
        tilebytes = tw * th * dt.itemsize
        for idx in range(ntx * (-(-h // th))):
            ty, tx = divmod(idx, ntx)
            s = idx * tilebytes
            chunk = np.zeros(tw * th, dt)
            navail = min(tilebytes, max(0, len(data) - s)) // dt.itemsize
            chunk[:navail] = np.frombuffer(data.tobytes(), dt, navail, s)
            tile = chunk.reshape(th, tw)
            hh = min(th, h - ty * th)
            ww = min(tw, w - tx * tw)
            cube[bi, ty * th:ty * th + hh,
                 tx * tw:tx * tw + ww] = tile[:hh, :ww]
    return from_array(spark, cube, meta), meta


def read_doq1(spark: SparkSession, path: str, raster_id: str = "doq1",
              block: int = 512) -> tuple[DataFrame, RasterMeta]:
    """USGS DOQ (old style): height/width ASCII at header bytes
    144/150, band config at 156, pixel-interleaved data after 4 header
    records (doq1dataset.cpp:141-232); short files zero-fill."""
    with open(path, "rb") as f:
        data = f.read(159)

    def field(off, n):
        txt = data[off:off + n].decode("latin-1") \
            .replace("D", "E").replace("d", "E") \
            .replace("\x00", " ").strip()
        return float(txt or "0")

    h = int(field(144, 6))
    w = int(field(150, 6))
    btypes = int(field(156, 3))
    if not (500 <= w <= 25000 and 500 <= h <= 25000 and
            1 <= btypes <= 5):
        raise ValueError("not a DOQ1 file")
    nbands = 3 if btypes == 5 else 1
    meta = RasterMeta(raster_id, w, h, dtype="uint8", block=block)
    return raw_blocks(spark, meta, _interleaved(
        path, 4 * nbands * w, "u1", w, h, nbands, "BIP")), meta


def read_eir(spark: SparkSession, path: str, raster_id: str = "eir",
             block: int = 512) -> tuple[DataFrame, RasterMeta]:
    """Erdas Imagine Raw: keyword header (WIDTH/HEIGHT/NUM_LAYERS/
    PIXEL_FILES/FORMAT/DATATYPE/DATA_OFFSET, eirdataset.cpp); the
    layers are read band-sequential in native byte order."""
    kv = {}
    for ln in open(path, encoding="latin-1"):
        toks = ln.split(None, 1)
        if len(toks) == 2:
            kv[toks[0]] = toks[1].strip()
        elif len(toks) == 1:
            kv[toks[0]] = ""
    if "IMAGINE_RAW_FILE" not in kv:
        raise ValueError("not an EIR header")
    w, h = int(kv["WIDTH"]), int(kv["HEIGHT"])
    nl = int(kv.get("NUM_LAYERS", "1"))
    off = int(kv.get("DATA_OFFSET", "0"))
    dtype = {"U8": "uint8", "U16": "uint16", "S16": "int16",
             "F32": "float32"}.get(kv.get("DATATYPE", "U8"), "uint8")
    img = os.path.join(os.path.dirname(path) or ".", kv["PIXEL_FILES"])
    meta = RasterMeta(raster_id, w, h, dtype=dtype, block=block)
    return raw_blocks(spark, meta, _interleaved(
        img, off, np.dtype(dtype).str, w, h, nl, "BSQ")), meta


def read_snodas(spark: SparkSession, path: str,
                raster_id: str = "snodas", block: int = 512
                ) -> tuple[DataFrame, RasterMeta, dict]:
    """NOHRSC SNODAS: 'key: value' header + int16 big-endian payload;
    geotransform from the min/max axis coordinates
    (snodasdataset.cpp); a missing data file reads as zeros. Returns
    (tiles, meta, header-info)."""
    kv = {}
    for ln in open(path, encoding="latin-1"):
        if ":" in ln:
            k, v = ln.split(":", 1)
            kv[k.strip()] = v.strip()
    if not kv.get("Format version", "").startswith("NOHRSC"):
        raise ValueError("not a SNODAS header")
    w = int(kv["Number of columns"])
    h = int(kv["Number of rows"])
    minx = float(kv["Minimum x-axis coordinate"])
    maxx = float(kv["Maximum x-axis coordinate"])
    miny = float(kv["Minimum y-axis coordinate"])
    maxy = float(kv["Maximum y-axis coordinate"])
    gt = (minx, (maxx - minx) / w, 0.0, maxy, 0.0, -(maxy - miny) / h)
    nodata = float(kv.get("No data value", "nan"))
    datf = os.path.join(os.path.dirname(path) or ".",
                        os.path.basename(kv["Data file pathname"]))
    meta = RasterMeta(raster_id, w, h, gt=gt, dtype="int16",
                      nodata=nodata, block=block)
    info = {"min": float(kv.get("Minimum data value", "nan")),
            "max": float(kv.get("Maximum data value", "nan")),
            "units": kv.get("Data units", "")}
    return raw_blocks(spark, meta, [_plane(
        datf if os.path.exists(datf) else None, 0, ">i2", w)]), meta, info


_VICAR_TYPES = {"BYTE": "uint8", "HALF": "int16", "FULL": "uint32",
                "REAL": "float32", "DOUB": "float64"}


def read_vicar(spark: SparkSession, path: str, raster_id: str = "vicar",
               block: int = 512) -> tuple[DataFrame, RasterMeta, dict]:
    """VICAR: KEY=VALUE label of LBLSIZE bytes (values quoted or
    parenthesized; PROPERTY= groups prefix following keys); NL x NS x
    NB payload after the label (+NLB header records), dtype from
    FORMAT/INTFMT; geotransform from the MAP property exactly as
    vicardataset.cpp:320-365 (center-offset shifts -0.5, sample mult
    -1, dfYDim = -MAP_SCALE*1000). Truncated payloads zero-fill."""
    head = open(path, "rb").read(64).decode("latin-1", "replace")
    if "LBLSIZE" not in head:
        raise ValueError("not a VICAR file")
    lblsize = int(re.search(r"LBLSIZE\s*=\s*(\d+)", head).group(1))
    label = open(path, "rb").read(lblsize).decode("latin-1", "replace")
    kv = {}
    prop = None
    for m in re.finditer(r"(\w+)=('(?:[^']*)'|\([^)]*\)|[^\s]+)", label):
        k, v = m.group(1), m.group(2).strip("'")
        if k == "PROPERTY":
            prop = v.split("_")[-1]
            continue
        if k == "TASK":
            prop = None
            continue
        kv[k] = v
        if prop:
            kv[f"{prop}.{k}"] = v
    nl = int(kv["NL"])
    ns = int(kv["NS"])
    nb = int(kv.get("NB", "1"))
    nlb = int(kv.get("NLB", "0"))
    recsize = int(kv.get("RECSIZE", "0"))
    dts = _VICAR_TYPES.get(kv.get("FORMAT", "BYTE"), "uint8")
    bo = "<" if kv.get("INTFMT", "LOW") == "LOW" else ">"
    start = lblsize + nlb * recsize
    gt = (0.0, 1.0, 0.0, 0.0, 0.0, 1.0)
    if "MAP.MAP_SCALE" in kv:
        xdim = float(kv["MAP.MAP_SCALE"]) * 1000.0
        ydim = -xdim
        ulx = (float(kv.get("MAP.SAMPLE_PROJECTION_OFFSET", "0"))
               - 0.5) * xdim * -1.0
        uly = (float(kv.get("MAP.LINE_PROJECTION_OFFSET", "0"))
               - 0.5) * -ydim * 1.0
        gt = (ulx, xdim, 0.0, uly, 0.0, ydim)
    meta = RasterMeta(raster_id, ns, nl, gt=gt, dtype=dts, block=block)
    info = {k: v for k, v in kv.items() if "." in k}
    return raw_blocks(spark, meta, _interleaved(
        path, start, np.dtype(dts).newbyteorder(bo).str, ns, nl, nb,
        "BSQ")), meta, info


def read_cpg_sirc(spark: SparkSession, path: str,
                  raster_id: str = "sirc", block: int = 256
                  ) -> tuple[DataFrame, RasterMeta]:
    """Convair PolGASP SIRC variant: <stem>SIRC.hdr + .img of 10-byte
    compressed scattering groups -> 4 CFloat32 bands (HH, HV, VH, VV),
    decoded per cpgdataset.cpp SIRC_QSLCRasterBand::IReadBlock
    (power-of-two scale byte + signed 7-bit re/im)."""
    kv = {}
    for ln in open(path, encoding="latin-1"):
        toks = ln.split(None, 1)
        if len(toks) == 2:
            kv[toks[0]] = toks[1].strip()
    h = int(kv["number_lines"])
    w = int(kv["number_samples"])
    img = os.path.splitext(path)[0] + ".img"
    raw = np.zeros(w * h * 10, np.int8)
    data = np.fromfile(img, np.int8)
    raw[:min(len(data), len(raw))] = data[:len(raw)]
    g = raw.reshape(-1, 10)
    scale = np.sqrt((g[:, 1].astype(np.float64) / 254 + 1.5) *
                    np.power(2.0, g[:, 0].astype(np.float64)))
    meta = RasterMeta(raster_id, w, h, dtype="complex64", block=block)
    re_ = g[:, 2::2].T.astype(np.float64) * scale / 127.0
    im = g[:, 3::2].T.astype(np.float64) * scale / 127.0
    cube = (re_ + 1j * im).astype(np.complex64).reshape(4, h, w)
    return from_array(spark, cube, meta), meta


# ---------------------------------------------------------------------------
# GeoTIFF GeoKey directory -> CRS (gdal/frmts/gtiff/gt_wkt_srs.cpp
# GTIFGetOGISDefn; key ids per the GeoTIFF 1.1 spec)
# ---------------------------------------------------------------------------

def geotiff_geokeys(data: bytes, ifd: int = 0) -> dict:
    """Raw GeoKey dictionary: id -> short value / double(s) / ascii."""
    tags, en = _read_ifd(data, ifd)
    if 34735 not in tags:
        return {}
    shorts = np.asarray(tags[34735], np.int64)
    doubles = np.asarray(tags.get(34736, ()), np.float64)
    ascii_ = tags.get(34737, b"")
    if isinstance(ascii_, tuple):
        ascii_ = "".join(x.decode("latin-1")
                         if isinstance(x, (bytes, bytearray)) else str(x)
                         for x in ascii_)
    if isinstance(ascii_, (bytes, bytearray)):
        ascii_ = ascii_.decode("latin-1")
    out = {}
    nkeys = int(shorts[3])
    for k in range(nkeys):
        kid, loc, cnt, val = (int(x) for x in shorts[4 + 4 * k:8 + 4 * k])
        if loc == 0:
            out[kid] = val
        elif loc == 34736:
            out[kid] = (float(doubles[val]) if cnt == 1 else
                        [float(x) for x in doubles[val:val + cnt]])
        elif loc == 34737:
            out[kid] = ascii_[val:val + cnt].rstrip("|\x00")
    return out


def geotiff_srs(data: bytes, ifd: int = 0) -> dict:
    """CRS info from the GeoKeys: model type, the EPSG code the
    reference would report (ProjectedCSTypeGeoKey 3072 /
    GeographicTypeGeoKey 2048), the bundled-registry CRS object when
    buildable, and the citation strings."""
    keys = geotiff_geokeys(data, ifd)
    if not keys:
        return {}
    out = {"model_type": {1: "projected", 2: "geographic",
                          3: "geocentric"}.get(keys.get(1024), "unknown"),
           "citation": keys.get(1026) or keys.get(2049) or
           keys.get(3073)}
    code = keys.get(3072) if keys.get(3072, 32767) != 32767 else None
    if code is None:
        code = keys.get(2048) if keys.get(2048, 32767) != 32767 else None
    out["epsg"] = code
    if code:
        try:
            from gdal_spark.functions.epsg import from_epsg
            out["crs"] = from_epsg(int(code))
        except Exception:
            out["crs"] = None
    return out


# ---------------------------------------------------------------------------
# Generic Binary (.bil + colon-keyword .hdr) driver
# (gdal/frmts/raw/genbindataset.cpp)
# ---------------------------------------------------------------------------

_GENBIN_DTYPES = {"U8": "uint8", "U16": "uint16", "S16": "int16",
                  "F32": "float32", "F64": "float64",
                  "U1": "uint8", "U2": "uint8", "U4": "uint8"}


def open_genbin(path: str) -> dict:
    """Parse the colon-keyword .hdr (genbindataset.cpp:600-780):
    BANDS/ROWS/COLS/DATATYPE/BYTE_ORDER/INTERLEAVING plus the UL/LR
    map coordinates; UL_X/Y name the CENTER of the upper-left pixel."""
    stem = os.path.splitext(path)[0]
    kv, last = {}, None
    for ln in open(stem + ".hdr").read().splitlines():
        if ":" in ln and not ln.startswith(("\t", " ")):
            k, _, v = ln.partition(":")
            kv[k.strip().upper()] = v.strip()
            last = k.strip().upper()
        elif last is not None:
            kv[last] = kv[last] + " " + ln.strip()
    w, h = int(kv["COLS"]), int(kv["ROWS"])
    # pixel size from the UL->LR CENTER span over N-1 pixels, NOT the
    # PIXEL_WIDTH keyword (genbindataset.cpp:849)
    if "UL_X_COORDINATE" in kv and "LR_X_COORDINATE" in kv:
        ulx, uly = float(kv["UL_X_COORDINATE"]), float(kv["UL_Y_COORDINATE"])
        px = (float(kv["LR_X_COORDINATE"]) - ulx) / (w - 1)
        py = (float(kv["LR_Y_COORDINATE"]) - uly) / (h - 1)
        gt = (ulx - px * 0.5, px, 0.0, uly - py * 0.5, 0.0, py)
    else:
        gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    return {"width": w, "height": h, "bands": int(kv.get("BANDS", "1")),
            "dtype": _GENBIN_DTYPES[kv.get("DATATYPE", "U8").upper()],
            "bits": kv.get("DATATYPE", "U8").upper(),
            "order": ">" if kv.get("BYTE_ORDER", "NA").upper()
            .startswith("M") else "<",
            "interleave": kv.get("INTERLEAVING", "BIL").upper(),
            "gt": gt, "metadata": kv}


def read_genbin(spark: SparkSession, path: str, raster_id: str = "genbin",
                block: int = 256, bands: list[int] | None = None,
                window: tuple[int, int, int, int] | None = None
                ) -> tuple[DataFrame, RasterMeta, dict]:
    """GenBin read; U1/U2/U4 unpack MSB-first within each byte on the
    driver (genbindataset.cpp GenBinBitRasterBand). Short payloads
    zero-fill (RawRasterBand beyond-EOF semantics); ``window`` limits
    the materialized region like a RasterIO windowed read and
    ``bands`` keeps only the listed band numbers."""
    info = open_genbin(path)
    W, H, nb = info["width"], info["height"], info["bands"]
    meta = RasterMeta(raster_id, W, H, gt=info["gt"], dtype=info["dtype"],
                      block=block)
    if info["bits"] not in ("U1", "U2", "U4"):
        dt = np.dtype(info["dtype"]).newbyteorder(info["order"]).str
        meta, layout = _windowed(meta, _interleaved(
            path, 0, dt, W, H, nb, info["interleave"]), window)
        tiles = raw_blocks(spark, meta, layout)
        if bands is not None:
            tiles = tiles.filter(F.col("band").isin(list(bands)))
        return tiles, meta, info
    xoff, yoff, xs, ys = window or (0, 0, W, H)
    meta, _ = _windowed(meta, [], window)
    raw = np.fromfile(path, np.uint8)
    nbits = int(info["bits"][1])
    per_byte = 8 // nbits
    full = np.zeros(((W * H + per_byte - 1) // per_byte,), np.uint8)
    full[:len(raw)] = raw[:len(full)]
    shifts = np.arange(per_byte - 1, -1, -1) * nbits
    vals = ((full[:, None] >> shifts[None, :]) & ((1 << nbits) - 1))
    plane = vals.reshape(-1)[:W * H].reshape(H, W)
    return from_array(spark, plane[yoff:yoff + ys, xoff:xoff + xs],
                      meta), meta, info


# ---------------------------------------------------------------------------
# NDF (NLAPS data format, .H1/.H2/.H3 text header + band files)
# (gdal/frmts/raw/ndfdataset.cpp)
# ---------------------------------------------------------------------------

def open_ndf(path: str) -> dict:
    """Parse the KEY=VALUE; header. The UPPER_LEFT_CORNER's 3rd/4th
    items are the easting/northing of the UL pixel CENTER
    (ndfdataset.cpp:270: gt = corner - half pixel)."""
    kv = {}
    for ln in open(path, "rb").read().decode("latin-1").splitlines():
        ln = ln.strip()
        if "=" in ln:
            k, _, v = ln.partition("=")
            kv[k.strip()] = v.rstrip(";").strip()
    w = int(kv["PIXELS_PER_LINE"])
    h = int(kv["LINES_PER_DATA_FILE"])
    psx, psy = [float(x) for x in kv["PIXEL_SPACING"].split(",")[:2]]
    ul = kv["UPPER_LEFT_CORNER"].split(",")
    ulx, uly = float(ul[2]), float(ul[3])
    gt = (ulx - psx / 2.0, psx, 0.0, uly + psy / 2.0, 0.0, -psy)
    d = os.path.dirname(path)
    bands = []
    i = 1
    while f"BAND{i}_FILENAME" in kv:
        bands.append(os.path.join(d, kv[f"BAND{i}_FILENAME"]))
        i += 1
    bits = int(kv.get("BITS_PER_PIXEL", "8"))
    return {"width": w, "height": h, "gt": gt, "bands": bands,
            "dtype": "uint8" if bits <= 8 else "uint16",
            "metadata": kv}


def read_ndf(spark: SparkSession, path: str, raster_id: str = "ndf",
             block: int = 256,
             window: tuple[int, int, int, int] | None = None
             ) -> tuple[DataFrame, RasterMeta, dict]:
    """NDF read: one big-endian raw file per band, zero-filled when
    truncated."""
    info = open_ndf(path)
    W, H = info["width"], info["height"]
    meta = RasterMeta(raster_id, W, H, gt=info["gt"], dtype=info["dtype"],
                      block=block)
    dt = np.dtype(info["dtype"]).newbyteorder(">").str
    meta, layout = _windowed(meta, [_plane(p, 0, dt, W)
                                    for p in info["bands"]], window)
    return raw_blocks(spark, meta, layout), meta, info


# ---------------------------------------------------------------------------
# MFF2/HKV (directory with 'attrib' + 'image_data' [+ 'georef'])
# (gdal/frmts/raw/hkvdataset.cpp)
# ---------------------------------------------------------------------------

def _hkv_kv(path: str) -> dict:
    kv = {}
    for ln in open(path).read().splitlines():
        if "=" in ln:
            k, _, v = ln.partition("=")
            v = v.strip()
            if v.startswith("{"):
                # { a *b c } — the starred member is the active choice
                toks = v.strip("{} ").split()
                starred = [t[1:] for t in toks if t.startswith("*")]
                v = starred[0] if starred else (toks[0] if toks else "")
            kv[k.strip()] = v
    return kv


def read_mff2(spark: SparkSession, path: str, raster_id: str = "mff2",
              block: int = 256) -> tuple[DataFrame, RasterMeta, dict]:
    """MFF2/HKV read: ``path`` is the dataset DIRECTORY. attrib keys
    (hkvdataset.cpp:1100-1260): channel.enumeration band count,
    channel.interleave {pixel|line|sequential}, extent.cols/rows,
    pixel.encoding {unsigned|twos-complement|ieee-754}, pixel.size in
    bits, pixel.field {real|complex}, pixel.order {lsbf|msbf}."""
    kv = _hkv_kv(os.path.join(path, "attrib"))
    W = int(kv["extent.cols"])
    H = int(kv["extent.rows"])
    nb = int(kv.get("channel.enumeration", "1"))
    bits = int(kv["pixel.size"])
    enc = kv.get("pixel.encoding", "unsigned")
    field = kv.get("pixel.field", "real")
    order = "<" if kv.get("pixel.order", "lsbf") == "lsbf" else ">"
    if field == "complex":
        base = "complex64" if bits <= 64 else "complex128"
    elif enc.startswith("ieee"):
        base = "float32" if bits <= 32 else "float64"
    elif enc.startswith("twos"):
        base = {8: "int8", 16: "int16", 32: "int32"}[bits]
    else:
        base = {8: "uint8", 16: "uint16", 32: "uint32"}[bits]
    layout = {"pixel": "BIP", "line": "BIL"}.get(
        kv.get("channel.interleave", "pixel"), "BSQ")
    georef = os.path.join(path, "georef")
    info = {"attrib": kv,
            "georef": _hkv_kv(georef) if os.path.exists(georef) else {}}
    meta = RasterMeta(raster_id, W, H, dtype=base, block=block)
    return raw_blocks(spark, meta, _interleaved(
        os.path.join(path, "image_data"), 0,
        np.dtype(base).newbyteorder(order).str, W, H, nb, layout)), \
        meta, info


# ---------------------------------------------------------------------------
# R object file (.rda/.rdb workspace rasters)
# (gdal/frmts/r/rdataset.cpp + rcreatecopy.cpp)
# ---------------------------------------------------------------------------

_R_LISTSXP, _R_CHARSXP, _R_INTSXP, _R_REALSXP, _R_STRSXP = 2, 9, 13, 14, 16


class _RTokens:
    """Sequential token reader over either flavor: XDR binary (all
    big-endian) or the ASCII 'RDA2\\nA\\n' line-per-value form."""

    def __init__(self, data: bytes, ascii_: bool):
        self.ascii = ascii_
        if ascii_:
            self.lines = data.decode("latin-1").split("\n")
            self.i = 2  # past RDA2 / A header lines
        else:
            self.buf = memoryview(data)
            self.off = 7

    def integer(self) -> int:
        if self.ascii:
            v = self.lines[self.i]
            self.i += 1
            try:
                return int(v.strip())
            except ValueError:
                return -1
        if self.off + 4 > len(self.buf):
            return -1
        (v,) = struct.unpack_from(">i", self.buf, self.off)
        self.off += 4
        return v

    def floats(self, n: int) -> np.ndarray:
        if self.ascii:
            vals = np.array([float(self.lines[self.i + k])
                             for k in range(n)])
            self.i += n
            return vals
        vals = np.frombuffer(self.buf, ">f8", n, self.off).astype("float64")
        self.off += 8 * n
        return vals

    def string(self) -> str:
        if self.integer() % 256 != _R_CHARSXP:
            return ""
        n = self.integer()
        if self.ascii:
            s = self.lines[self.i][:n]
            self.i += 1
            return s
        s = bytes(self.buf[self.off:self.off + n]).decode("latin-1")
        self.off += n
        return s


def read_r(spark: SparkSession, path: str, raster_id: str = "r",
           block: int = 256) -> tuple[DataFrame, RasterMeta, dict]:
    """R raster read: version-2 workspace holding one numeric array with
    a dim attribute of 2 (X,Y) or 3 (X,Y,bands); data is Float64, band-
    sequential, X-fastest (rdataset.cpp:472-540). .rda gzip containers
    unwrap first (Identify's /vsigzip/ routing)."""
    import gzip
    data = open(path, "rb").read()
    if data[:3] == b"\x1f\x8b\x08":
        data = gzip.decompress(data)
    if data[:7] == b"RDA2\nA\n":
        tk = _RTokens(data, True)
    elif data[:7] == b"RDX2\nX\n":
        tk = _RTokens(data, False)
    else:
        raise ValueError("not an R version-2 object file")
    if tk.integer() != _R_LISTSXP:
        raise ValueError("not a version 2 R object file")
    tk.integer(), tk.integer()          # version values
    # primary pairlist entry: the matrix object
    code = tk.integer()
    if code % 256 != _R_LISTSXP or tk.integer() != 1:
        raise ValueError("expected object pairlist")
    obj_name = tk.string()
    if tk.integer() % 256 != _R_REALSXP:
        raise ValueError("expected numeric vector object")
    n_values = tk.integer()
    values = tk.floats(n_values)
    X = Y = nb = 0
    while True:
        code = tk.integer()
        if code == 254 or code < 0:
            break
        if code % 256 != _R_LISTSXP or tk.integer() != 1:
            break
        name = tk.string()
        code = tk.integer()
        if name == "dim" and code % 256 == _R_INTSXP:
            cnt = tk.integer()
            dims = [tk.integer() for _ in range(cnt)]
            if cnt == 2:
                X, Y, nb = dims[0], dims[1], 1
            elif cnt == 3:
                X, Y, nb = dims
        elif code % 256 == _R_REALSXP:
            tk.floats(tk.integer())
        elif code % 256 == _R_INTSXP:
            cnt = tk.integer()
            for _ in range(cnt):
                tk.integer()
        elif code % 256 == _R_STRSXP:
            cnt = tk.integer()
            for _ in range(cnt):
                tk.string()
        elif code % 256 == _R_CHARSXP:
            tk.string()
    if X == 0 or n_values < X * Y * nb:
        raise ValueError("R dim attribute missing or short data")
    meta = RasterMeta(raster_id, X, Y, dtype="float64", block=block)
    return from_array(spark, values[:X * Y * nb].reshape(nb, Y, X), meta), \
        meta, {"object_name": obj_name, "bands": nb}


def write_r(tiles: DataFrame, meta: RasterMeta, path: str,
            ascii_: bool = False, compress: bool | None = None,
            bands: int = 1) -> None:
    """R raster write, matching rcreatecopy.cpp: object 'gg', data as
    Float64 then a dim attribute; binary output gzips by default."""
    import gzip
    from io import BytesIO
    if compress is None:
        compress = not ascii_
    out = BytesIO()

    def w_int(v: int) -> None:
        out.write(f"{v}\n".encode() if ascii_ else struct.pack(">i", v))

    def w_str(s: str) -> None:
        w_int(4105)
        w_int(len(s))
        out.write((s + "\n").encode() if ascii_ else s.encode())

    out.write(b"RDA2\nA\n" if ascii_ else b"RDX2\nX\n")
    w_int(2), w_int(133377), w_int(131840)
    w_int(1026), w_int(1)
    w_str("gg")
    w_int(526)
    w_int(meta.width * meta.height * bands)
    for b in range(bands):
        arr = to_array(tiles, meta, band=b).astype("float64")
        if ascii_:
            out.write("".join(f"{v:.16g}\n"
                              for v in arr.reshape(-1)).encode())
        else:
            out.write(arr.astype(">f8").tobytes())
    w_int(1026), w_int(1)
    w_str("dim")
    w_int(13), w_int(3)
    w_int(meta.width), w_int(meta.height), w_int(bands)
    w_int(254)
    payload = out.getvalue()
    with open(path, "wb") as f:
        f.write(gzip.compress(payload) if compress else payload)


# ---------------------------------------------------------------------------
# ACE2 (filename-georeferenced raw altimetry tiles)
# (gdal/frmts/raw/ace2dataset.cpp)
# ---------------------------------------------------------------------------

def open_ace2(path: str) -> dict:
    """Geometry from the FILENAME alone (ace2dataset.cpp Open):
    '45N015E_5M.ACE2' = SW corner lat/lon, resolution token before the
    extension (30S=1/3600 deg ... 5M=1/12 deg); tile spans 15 deg
    (x18 for 30S/9S/3S) and the file is Float32 (or Int16 for the
    _quality/_source sets by extension)."""
    base = os.path.basename(path)
    stem = base.split(".")[0]
    name, _, res = stem.rpartition("_")
    lat = int(name[0:2]) * (1 if name[2] == "N" else -1)
    lon = int(name[3:6]) * (1 if name[6] == "E" else -1)
    steps = {"30S": 3600, "9S": 1200, "3S": 400, "5M": 12}
    per_deg = steps[res.upper()]
    span = 15
    n = span * per_deg
    gt = (lon, 1.0 / per_deg, 0.0, lat + span, 0.0, -1.0 / per_deg)
    return {"width": n, "height": n, "gt": gt}


def read_ace2(spark: SparkSession, path: str, raster_id: str = "ace2",
              block: int = 256) -> tuple[DataFrame, RasterMeta]:
    info = open_ace2(path)
    meta = RasterMeta(raster_id, info["width"], info["height"],
                      gt=info["gt"], dtype="float32", block=block)
    return raw_blocks(spark, meta, [_plane(
        path, 0, "<f4", info["width"])]), meta


# ---------------------------------------------------------------------------
# NADCON LOS/LAS datum-shift grids (gdal/frmts/raw/loslasdataset.cpp)
# ---------------------------------------------------------------------------

def open_loslas(path: str) -> dict:
    """Header: 'NADGRD' magic at 56; X/Y int32 at 64/68, min_lon/
    delta_lon/min_lat/delta_lat float32 at 76..91; records of X*4+4
    bytes, southernmost row FIRST (read bottom-up), 4-byte prefix per
    record; gt = (min_lon - dlon/2, dlon, 0,
    min_lat + (Y-0.5)*dlat, 0, -dlat)."""
    with open(path, "rb") as f:
        d = f.read(92)
    if d[56:62] != b"NADGRD":
        raise ValueError(f"{path} is not a LOS/LAS grid")
    W, H = struct.unpack_from("<2i", d, 64)
    min_lon, dlon, min_lat, dlat = struct.unpack_from("<4f", d, 76)
    gt = (min_lon - dlon * 0.5, dlon, 0.0,
          min_lat + (H - 0.5) * dlat, 0.0, -dlat)
    return {"width": W, "height": H, "gt": gt}


def read_loslas(spark: SparkSession, path: str, raster_id: str = "loslas",
                block: int = 256) -> tuple[DataFrame, RasterMeta]:
    info = open_loslas(path)
    W, H = info["width"], info["height"]
    meta = RasterMeta(raster_id, W, H, gt=info["gt"], dtype="float32",
                      block=block)
    rec = W * 4 + 4     # record 0 is the header; row 0 is the last record
    return raw_blocks(spark, meta, [
        RawBand(path, H * rec + 4, 4, -rec, "<f4")]), meta


def write_loslas(arr: np.ndarray, gt: tuple, path: str,
                 ident: str = "NADCON EXTRACTED REGION") -> None:
    """LOS/LAS write for round-trip tests: header record + south-first
    data records."""
    H, W = arr.shape
    rec = W * 4 + 4
    dlon, dlat = gt[1], -gt[5]
    min_lon = gt[0] + dlon * 0.5
    min_lat = gt[3] - (H - 0.5) * dlat
    if rec < 92:
        raise ValueError("LOS/LAS grids need width >= 22 (one header "
                         "record holds the 92-byte header)")
    with open(path, "wb") as f:
        hdr = bytearray(rec)
        hdr[0:56] = ident.encode("ascii").ljust(56)[:56]
        hdr[56:64] = b"NADGRD  "
        struct.pack_into("<2i", hdr, 64, W, H)
        struct.pack_into("<4f", hdr, 76, min_lon, dlon, min_lat, dlat)
        f.write(bytes(hdr[:rec]).ljust(rec, b"\x00"))
        for r in range(H - 1, -1, -1):
            f.write(b"\x00" * 4)
            f.write(np.ascontiguousarray(arr[r]).astype("<f4").tobytes())


# ---------------------------------------------------------------------------
# USGS DOQ2 (new-style keyword-header DOQ) driver
# (gdal/frmts/raw/doq2dataset.cpp)
# ---------------------------------------------------------------------------

def open_doq2(path: str) -> dict:
    """Parse the BEGIN_USGS_DOQ_HEADER keyword lines
    (doq2dataset.cpp:150-290): SAMPLES_AND_LINES, BYTE_COUNT (data
    offset), XY_ORIGIN (upper-left corner), HORIZONTAL_RESOLUTION,
    BAND_ORGANIZATION (BIP = pixel-interleaved), BAND_CONTENT count,
    BITS_PER_PIXEL."""
    lines = open(path, "rb").read(8192).decode("latin-1").splitlines()
    if not lines or not lines[0].startswith("BEGIN_USGS_DOQ_HEADER"):
        raise ValueError(f"{path} is not a DOQ2 file")
    info = {"width": 0, "height": 0, "skip": 0, "ulx": 0.0, "uly": 0.0,
            "res": 1.0, "interleave": "BIP", "bands": 0, "bits": 8,
            "metadata": {}}
    for ln in lines[1:]:
        toks = ln.split("*")[0].split()
        if len(toks) < 2:
            if ln.startswith("END_USGS_DOQ_HEADER"):
                break
            continue
        key = toks[0]
        if key == "SAMPLES_AND_LINES" and len(toks) >= 3:
            info["width"], info["height"] = int(toks[1]), int(toks[2])
        elif key == "BYTE_COUNT":
            info["skip"] = int(toks[1])
        elif key == "XY_ORIGIN" and len(toks) >= 3:
            info["ulx"], info["uly"] = float(toks[1]), float(toks[2])
        elif key == "HORIZONTAL_RESOLUTION":
            info["res"] = float(toks[1])
        elif key == "BAND_ORGANIZATION":
            info["interleave"] = "BIP" if toks[1] == "BIP" else "BSQ"
        elif key == "BAND_CONTENT":
            info["bands"] += 1
        elif key == "BITS_PER_PIXEL":
            info["bits"] = int(toks[1])
        elif key in ("QUADRANGLE_NAME", "HORIZONTAL_DATUM",
                     "HORIZONTAL_COORDINATE_SYSTEM", "COORDINATE_ZONE",
                     "NATION", "STATE", "PRODUCTION_DATE"):
            # quoted values keep all words; bare values are one token
            # (the right-hand column text is a format comment)
            if toks[1].startswith('"'):
                q = ln.split('"')
                info["metadata"][key] = q[1] if len(q) >= 2 else toks[1]
            else:
                info["metadata"][key] = toks[1]
    info["gt"] = (info["ulx"], info["res"], 0.0,
                  info["uly"], 0.0, -info["res"])
    return info


def read_doq2(spark: SparkSession, path: str, raster_id: str = "doq2",
              block: int = 256,
              window: tuple[int, int, int, int] | None = None
              ) -> tuple[DataFrame, RasterMeta, dict]:
    """DOQ2 read: raw payload after BYTE_COUNT, BIP (or BSQ)
    interleave, truncated files zero-fill (RawRasterBand beyond-EOF)."""
    info = open_doq2(path)
    W, H, nb = info["width"], info["height"], max(info["bands"], 1)
    meta = RasterMeta(raster_id, W, H, gt=info["gt"], dtype="uint8",
                      block=block)
    meta, layout = _windowed(meta, _interleaved(
        path, info["skip"], "u1", W, H, nb, info["interleave"]), window)
    return raw_blocks(spark, meta, layout), meta, info
