"""GeoTIFF / AAIGrid codecs (gdal/frmts/gtiff + aaigrid driver parity:
classic TIFF container, LZW/Deflate/PackBits codecs, Predictor=2)."""

from __future__ import annotations

import numpy as np
import pytest

from conftest import reference_fixture
from gdal_spark.raster import formats as RF
from gdal_spark.raster import model as M
from gdal_spark.raster.checksum import checksum


def _gcore(name: str) -> str:
    return reference_fixture("gcore/data/" + name)


def _gd(name: str) -> str:
    return reference_fixture("gdrivers/data/" + name)


def _meta(rid, w, h, dtype="uint8", block=8, nodata=None):
    return M.RasterMeta(rid, w, h, gt=(100.0, 2.0, 0.0, 400.0, 0.0, -2.0),
                        dtype=dtype, block=block, nodata=nodata)


def _synthetic(spark, dtype="uint8", bands=1):
    """A 20x20 writer source in 16-pixel blocks (partial edge blocks),
    and its per-band py_checksum."""
    from gdal_spark.raster.checksum import py_checksum
    meta = M.RasterMeta("syn", 20, 20,
                        gt=(440720.0, 60.0, 0.0, 3751320.0, 0.0, -60.0),
                        dtype=dtype, block=16)
    tiles = M.synthetic_raster(
        spark, meta, lambda X, Y: (X * 7 + Y * 13 + 5) % 251, bands=bands)
    return tiles, meta, py_checksum(M.to_array(tiles, meta))


@pytest.mark.parametrize("dtype", ["uint8", "uint16", "int16", "int32",
                                   "float32", "float64"])
def test_geotiff_bytes_roundtrip(dtype):
    rng = np.arange(20 * 19).reshape(20, 19) % 120
    arr = rng.astype(dtype)
    meta = _meta("t1", 19, 20, dtype=dtype, nodata=7.0)
    data = RF.geotiff_bytes([arr], meta)
    bands, back = RF.parse_geotiff(data, "t1", block=8)
    assert len(bands) == 1
    np.testing.assert_array_equal(bands[0], arr)
    assert back.gt == meta.gt
    assert back.dtype == dtype and back.nodata == 7.0
    assert (back.width, back.height) == (19, 20)


def test_geotiff_multiband():
    a = (np.arange(64).reshape(8, 8) % 50).astype(np.uint8)
    meta = _meta("mb", 8, 8, block=8)
    data = RF.geotiff_bytes([a, a * 2], meta)
    bands, _ = RF.parse_geotiff(data, "mb", block=8)
    assert len(bands) == 2
    np.testing.assert_array_equal(bands[1], a * 2)


def test_geotiff_strip_reader():
    """Hand-build a strip-organized file (RowsPerStrip=4) — the other
    layout the reference emits — and parse it."""
    import struct

    arr = (np.arange(12 * 10).reshape(12, 10) % 97).astype(np.uint8)
    strips = [arr[i:i + 4].tobytes() for i in range(0, 12, 4)]
    entries = [
        (256, RF._LONG, struct.pack("<I", 10), 1),
        (257, RF._LONG, struct.pack("<I", 12), 1),
        (258, RF._SHORT, struct.pack("<H", 8), 1),
        (259, RF._SHORT, struct.pack("<H", 1), 1),
        (262, RF._SHORT, struct.pack("<H", 1), 1),
        (277, RF._SHORT, struct.pack("<H", 1), 1),
        (278, RF._LONG, struct.pack("<I", 4), 1),
        (279, RF._LONG, struct.pack("<3I", *[len(s) for s in strips]), 3),
    ]
    n = len(entries) + 1
    ifd_size = 2 + 12 * n + 4
    _probe, ext, _pos = RF._entries_bytes(
        entries + [(273, RF._LONG, struct.pack("<3I", 0, 0, 0), 3)],
        8 + ifd_size)
    data_start = 8 + ifd_size + len(ext)
    offs = []
    pos = data_start
    for s in strips:
        offs.append(pos)
        pos += len(s)
    entries.append((273, RF._LONG, struct.pack("<3I", *offs), 3))
    ifd, ext, _pos = RF._entries_bytes(entries, 8 + ifd_size)
    data = (struct.pack("<2sHI", b"II", 42, 8) + struct.pack("<H", n)
            + ifd + struct.pack("<I", 0) + ext + b"".join(strips))
    bands, meta = RF.parse_geotiff(data, "s")
    np.testing.assert_array_equal(bands[0], arr)


def test_geotiff_old_jpeg_rejected_new_jpeg_validated():
    arr = np.zeros((4, 4), dtype=np.uint8)

    def flip_compression(to):
        data = bytearray(RF.geotiff_bytes([arr], _meta("c", 4, 4, block=4)))
        import struct
        (count,) = struct.unpack_from("<H", data, 8)
        for i in range(count):
            off = 10 + 12 * i
            if struct.unpack_from("<H", data, off)[0] == 259:
                struct.pack_into("<H", data, off + 8, to)
        return bytes(data)

    # old-style JPEG (Compression=6, pre-TTN2) stays unsupported
    with pytest.raises(ValueError, match="Compression=6"):
        RF.parse_geotiff(flip_compression(6), "c")
    # new-style JPEG is supported — but the payload must BE a JPEG
    with pytest.raises(ValueError, match="JPEG"):
        RF.parse_geotiff(flip_compression(7), "c")


@pytest.mark.parametrize("comp,pred", [("lzw", False), ("lzw", True),
                                       ("deflate", False),
                                       ("deflate", True),
                                       ("packbits", False)])
def test_geotiff_codec_roundtrip(comp, pred):
    """Compression codecs (raster/tiffcodec.py — TIFF 6.0 sections 9/13/
    14 + Adobe Deflate) through the full container round-trip."""
    arr = ((np.arange(20)[:, None] * 7 + np.arange(19)[None, :] * 13)
           % 251).astype(np.uint16)
    meta = _meta("cc", 19, 20, dtype="uint16", nodata=7.0)
    data = RF.geotiff_bytes([arr], meta, compression=comp, predictor=pred)
    bands, back = RF.parse_geotiff(data, "cc", block=8)
    np.testing.assert_array_equal(bands[0], arr)
    assert back.gt == meta.gt and back.nodata == 7.0
    # compressible content must actually shrink
    flat = np.zeros((64, 64), dtype=np.uint16)
    fm = _meta("f", 64, 64, dtype="uint16", block=64)
    assert len(RF.geotiff_bytes([flat], fm, compression=comp)) < \
        len(RF.geotiff_bytes([flat], fm)) / 4


def test_geotiff_javaio_lzw_golden():
    """Independent-writer golden: big-endian strip LZW TIFF produced by
    javax.imageio's TIFF plugin (libtiff-compatible early-change LZW).
    Pixel (x, y) = (7x + 13y) mod 251, 90x70 gray8."""
    import os
    path = os.path.join(os.path.dirname(__file__), "data",
                        "javaio_lzw.tif")
    with open(path, "rb") as fh:
        data = fh.read()
    bands, meta = RF.parse_geotiff(data, "j")
    expect = np.fromfunction(lambda y, x: (x * 7 + y * 13) % 251,
                             (70, 90)).astype(np.uint8)
    np.testing.assert_array_equal(bands[0], expect)


def test_tiffcodec_packbits_spec_golden():
    """The worked PackBits example from TIFF 6.0 section 13."""
    from gdal_spark.raster import tiffcodec as TC
    enc = bytes.fromhex("FEAA0280002AFDAA0380002A22F7AA")
    expect = (b"\xAA" * 3 + b"\x80\x00\x2A" + b"\xAA" * 4 +
              b"\x80\x00\x2A\x22" + b"\xAA" * 10)
    assert TC.packbits_decode(enc, 1 << 20) == expect
    assert TC.packbits_decode(TC.packbits_encode(expect), 1 << 20) == expect


def test_tiffcodec_lzw_table_clear():
    """LZW round-trip through multiple 12-bit table resets."""
    from gdal_spark.raster import tiffcodec as TC
    rng = np.random.default_rng(3)
    data = rng.integers(0, 256, 300_000, dtype=np.uint8).tobytes()
    assert TC.lzw_decode(TC.lzw_encode(data), len(data) + 16) == data


def test_geotiff_spark_roundtrip(spark, tmp_path):
    arr = ((np.arange(40)[:, None] * 7 + np.arange(36)[None, :] * 13)
           % 50 + 1).astype(np.uint8)
    meta = _meta("gt40", 36, 40, block=16, nodata=0.0)
    tiles = M.from_array(spark, arr, meta)
    p = str(tmp_path / "gt40.tif")
    n = RF.write_geotiff(tiles, meta, p)
    assert n == meta.n_block_x * meta.n_block_y
    hm = RF.geotiff_meta(p, block=16)
    assert (hm.width, hm.height, hm.dtype, hm.gt) == (36, 40, "uint8",
                                                      meta.gt)
    back = RF.read_geotiff(spark, p, block=16)
    got = M.to_array(back, hm)
    np.testing.assert_array_equal(got, arr)
    # cross-check through the engine's bit-exact checksum op
    c1 = checksum(back, hm).collect()[0]["checksum"]
    c2 = checksum(tiles, meta).collect()[0]["checksum"]
    assert c1 == c2


def test_geotiff_spark_compressed_sink(spark, tmp_path):
    """Compressed streaming sink: tiles append in arrival order, the
    offset/count arrays are patched afterwards, absent tiles share one
    zero tile."""
    arr = ((np.arange(40)[:, None] * 7 + np.arange(36)[None, :] * 13)
           % 50 + 1).astype(np.uint8)
    arr[16:32, 0:16] = 0  # one all-zero block -> exercised zero-tile path
    meta = _meta("gtc", 36, 40, block=16, nodata=0.0)
    tiles = M.from_array(spark, arr, meta).filter(
        "not (bx = 0 and by = 1)")  # drop the zero block entirely
    p = str(tmp_path / "gtc.tif")
    n = RF.write_geotiff(tiles, meta, p, compression="deflate",
                         predictor=True)
    assert n == meta.n_block_x * meta.n_block_y - 1
    back = RF.read_geotiff(spark, p, block=16)
    got = M.to_array(back, RF.geotiff_meta(p, block=16))
    np.testing.assert_array_equal(got, arr)


def test_aaigrid_roundtrip(spark, tmp_path):
    arr = ((np.arange(30)[:, None] + np.arange(50)[None, :] * 3)
           % 17).astype(np.float64)
    meta = M.RasterMeta("aai", 50, 30, gt=(10.0, 0.5, 0.0, 95.0, 0.0, -0.5),
                        dtype="float64", block=16, nodata=-9999.0)
    p = str(tmp_path / "g.asc")
    RF.write_aaigrid(arr, meta, p)
    tiles, back = RF.read_aaigrid(spark, p, "aai", dtype="float64", block=16)
    assert (back.width, back.height) == (50, 30)
    assert back.gt == pytest.approx(meta.gt)
    assert back.nodata == -9999.0
    np.testing.assert_array_equal(M.to_array(tiles, back), arr)


# ---------------------------------------------------------------------------
# BigTIFF (magic 43: 8-byte offsets, 20-byte IFD entries, LONG8 arrays —
# the layout gdal/frmts/gtiff writes with -co BIGTIFF=YES)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("comp", ["none", "lzw", "deflate", "packbits"])
def test_bigtiff_bytes_roundtrip(comp):
    rng = np.arange(70 * 90).reshape(70, 90) % 251
    arr = rng.astype("uint8")
    meta = _meta("bt", 90, 70, block=32, nodata=3.0)
    data = RF.geotiff_bytes([arr, arr[::-1]], meta, compression=comp,
                            bigtiff=True)
    assert data[:4] == b"II+\x00"          # magic 43, offset size 8
    assert data[4:8] == b"\x08\x00\x00\x00"
    bands, back = RF.parse_geotiff(data, "bt", block=32)
    assert len(bands) == 2
    np.testing.assert_array_equal(bands[0], arr)
    np.testing.assert_array_equal(bands[1], arr[::-1])
    assert back.gt == meta.gt and back.nodata == 3.0


def test_bigtiff_same_pixels_as_classic():
    arr = (np.arange(33 * 17) % 200).reshape(33, 17).astype("int16")
    meta = _meta("eq", 17, 33, dtype="int16", block=16)
    classic = RF.parse_geotiff(RF.geotiff_bytes([arr], meta), "eq", 16)[0][0]
    big = RF.parse_geotiff(RF.geotiff_bytes([arr], meta, bigtiff=True),
                           "eq", 16)[0][0]
    np.testing.assert_array_equal(classic, big)


def test_bigtiff_big_endian_strips():
    """Hand-build a big-endian (MM) BigTIFF with strip organization —
    exercises the 8-byte count/offset decode on the other byte order."""
    import struct

    H, W = 5, 8
    arr = (np.arange(H * W) % 251).reshape(H, W).astype(">u2")
    strip = arr.tobytes()
    entries = [
        (256, 3, 1, W), (257, 3, 1, H), (258, 3, 1, 16),
        (259, 3, 1, 1), (262, 3, 1, 1), (277, 3, 1, 1),
        (278, 3, 1, H),                     # RowsPerStrip = all rows
        (273, 16, 1, None), (279, 16, 1, len(strip)),  # LONG8 offset/count
        (339, 3, 1, 1),
    ]
    ifd_off = 16
    n = len(entries)
    data_off = ifd_off + 8 + 20 * n + 8
    out = [struct.pack(">2sHHHQ", b"MM", 43, 8, 0, ifd_off),
           struct.pack(">Q", n)]
    for tag, typ, cnt, val in sorted(entries):
        if val is None:
            val = data_off                  # the strip payload position
        if typ == 3:
            packed = struct.pack(">H", val).ljust(8, b"\x00")
        else:
            packed = struct.pack(">Q", val)
        out.append(struct.pack(">HHQ", tag, typ, cnt) + packed)
    out.append(struct.pack(">Q", 0))
    out.append(strip)
    bands, back = RF.parse_geotiff(b"".join(out), "mm", block=8)
    np.testing.assert_array_equal(bands[0], arr.astype("uint16"))
    assert back.dtype == "uint16"


def test_bigtiff_streaming_sink(spark, tmp_path):
    rng = np.random.default_rng(11)
    arr = rng.integers(0, 255, (60, 100)).astype("uint8")
    meta = _meta("sink", 100, 60, block=32)
    tiles = M.from_array(spark, arr, meta)
    for comp in ("none", "deflate"):
        p = str(tmp_path / f"big_{comp}.tif")
        RF.write_geotiff(tiles, meta, p, compression=comp, bigtiff=True)
        data = open(p, "rb").read()
        assert data[:4] == b"II+\x00"
        bands, back = RF.parse_geotiff(data, "sink", 32)
        np.testing.assert_array_equal(bands[0], arr)
        assert RF.geotiff_meta(p).width == 100
    # default stays classic below the 4 GiB threshold
    p = str(tmp_path / "auto.tif")
    RF.write_geotiff(tiles, meta, p)
    assert open(p, "rb").read(4) == b"II*\x00"


# ---------------------------------------------------------------------------
# JPEG-in-TIFF (Compression=7, TIFF Tech Note 2) — the reference's own
# fixtures with the autotest golden checksums, decoded by the engine's
# libjpeg-exact baseline decoder (raster/jpegcodec.py)
# ---------------------------------------------------------------------------


def _cks(path, block=256):
    from gdal_spark.raster.checksum import py_checksum
    bands, _ = RF.parse_geotiff(open(path, "rb").read(), "j", block)
    return [py_checksum(b) for b in bands]


def test_jpeg_in_tiff_jpegtables_golden():
    """gdal/autotest/gcore/tiff_write.py tiff_write_130 expectations:
    both JPEGTables styles decode to the exact reference checksums."""
    assert _cks(_gcore("byte_jpg_unusual_jpegtable.tif")) == [4771]
    assert _cks(_gcore("byte_jpg_tablesmodezero.tif")) == [4743]


def test_jpeg_in_tiff_rgba_golden():
    """gdal/autotest/gcore/tiff_read.py tiff_jpeg_rgba_* expectations:
    4-component (no color transform) JPEG, both pixel- and
    band-interleaved organizations."""
    exp = [16404, 62700, 37913, 14174]
    assert _cks(_gcore("stefan_full_rgba_jpeg_contig.tif")) == exp
    assert _cks(_gcore("stefan_full_rgba_jpeg_separate.tif")) == exp


def test_jpeg_in_tiff_ycbcr_strips():
    """w_jpeg.tiff: strip-organized YCbCr JPEG — decodes to 3 RGB bands
    of the right shape (self-golden: pinned checksums guard refactors)."""
    bands, meta = RF.parse_geotiff(
        open(reference_fixture("utilities/data/w_jpeg.tiff"),
             "rb").read(), "w", 256)
    assert (meta.width, meta.height) == (512, 256)
    from gdal_spark.raster.checksum import py_checksum
    assert [py_checksum(b) for b in bands] == [50036, 46137, 43746]


# ---------------------------------------------------------------------------
# Cloud-Optimized GeoTIFF sink (gdal/frmts/gtiff/cogdriver.cpp layout:
# IFD chain at the head, data smallest-overview-first)
# ---------------------------------------------------------------------------

def test_cog_sink(spark, tmp_path):
    from gdal_spark.raster.pyramid import downsample2x_average

    rng = np.random.default_rng(5)
    arr = rng.integers(0, 255, (300, 500)).astype("uint8")
    meta = M.RasterMeta("cog", 500, 300, gt=(10.0, 0.01, 0, 55.0, 0, -0.01),
                        dtype="uint8", block=64)
    p = str(tmp_path / "t.cog.tif")
    info = RF.write_cog(M.from_array(spark, arr, meta), meta, p,
                        compression="deflate")
    data = open(p, "rb").read()
    # default level count: halve until one tile covers the longest side
    assert info["levels"] == 3 and RF.n_ifds(data) == 4
    # IFD 0 = exact full resolution with the georeferencing
    bands, m0 = RF.parse_geotiff(data, "c", 64, ifd=0)
    np.testing.assert_array_equal(bands[0], arr)
    assert m0.gt == meta.gt
    # IFD 1 = the distributed /2 average overview, bit-exact
    ov1, _ = RF.parse_geotiff(data, "c", 64, ifd=1)
    np.testing.assert_array_equal(ov1[0], downsample2x_average(arr))
    # chain walk terminates and deepest level fits one tile
    last, _ = RF.parse_geotiff(data, "c", 64, ifd=3)
    assert max(last[0].shape) <= 64
    with pytest.raises(IndexError):
        RF.parse_geotiff(data, "c", 64, ifd=4)
    # the COG contract: coarse data sits before fine data so range
    # readers stream the head for low zooms
    t0, _ = RF._read_ifd(data, 0)
    t3, _ = RF._read_ifd(data, 3)
    assert min(o for o in t3[324] if o) < min(o for o in t0[324] if o)
    # overview IFDs are marked reduced-resolution (NewSubfileType=1)
    t1, _ = RF._read_ifd(data, 1)
    assert t1[254][0] == 1 and 254 not in t0


def test_cog_uncompressed_and_sparse(spark, tmp_path):
    arr = np.zeros((100, 100), dtype="uint16")
    arr[:40, :40] = 7
    meta = M.RasterMeta("sp", 100, 100, gt=(0, 1, 0, 100, 0, -1),
                        dtype="uint16", block=32)
    p = str(tmp_path / "s.cog.tif")
    RF.write_cog(M.from_array(spark, arr, meta), meta, p,
                 compression="none", levels=1)
    data = open(p, "rb").read()
    bands, _ = RF.parse_geotiff(data, "s", 32, ifd=0)
    np.testing.assert_array_equal(bands[0], arr)
    ov, _ = RF.parse_geotiff(data, "s", 32, ifd=1)
    assert ov[0].shape == (50, 50)


def test_jpeg_in_tiff_12bit_golden():
    """gdal/autotest/gcore/tiff_read.py tiff_12bitjpeg: the 12-bit
    JPEG-in-TIFF fixture opens as UInt16 and band 1's mean falls in the
    reference's accepted band (2150, 2180)."""
    bands, meta = RF.parse_geotiff(
        open(_gcore("mandrilmini_12bitjpeg.tif"), "rb").read(), "m", 256)
    assert meta.dtype == "uint16" and len(bands) == 3
    assert bands[0].max() <= 4095
    assert 2150 < bands[0].mean() < 2180


# --- XYZ driver (autotest/gdrivers/xyz.py xyz_1..xyz_6) ----------------------

def test_xyz_header_and_blank_lines(spark, tmp_path):
    """xyz_3: optional 'Y X Z' header reassigns column roles; blank
    lines are skipped; values land on the inferred grid."""
    from gdal_spark.raster import formats as FM
    from gdal_spark.raster import model as M
    p = str(tmp_path / "g3.xyz")
    open(p, "w").write(
        "Y X Z\n0 0 65\n\n\n0 1 66\n\n1 0 67\n\n1 1 68\n2 0 69\n2 1 70\n\n\n")
    t, m = FM.read_xyz(spark, p)
    assert (m.width, m.height) == (2, 3) and m.dtype == "uint8"
    assert M.to_array(t, m).tolist() == [[65, 66], [67, 68], [69, 70]]


def test_xyz_missing_cells_nodata(spark, tmp_path):
    """xyz_4: cells absent from the file read as nodata 0; min/max over
    present values are 1/7."""
    from gdal_spark.raster import formats as FM
    from gdal_spark.raster import model as M
    p = str(tmp_path / "g4.xyz")
    open(p, "w").write(
        "\n440750 3751290 1\n440810 3751290 2\n\n440690 3751230 3\n"
        "440750 3751230 4\n440810 3751230 5\n440870 3751230 6\n\n"
        "440810 3751170 7")
    t, m = FM.read_xyz(spark, p)
    arr = M.to_array(t, m)
    assert arr.tolist() == [[0, 1, 2, 0], [3, 4, 5, 6], [0, 0, 7, 0]]
    assert m.nodata == 0.0
    vals = arr[arr != 0]
    assert vals.min() == 1 and vals.max() == 7


def test_xyz_grid_inference_separators(spark, tmp_path):
    """xyz_5/xyz_6: fractional-step grid inference gt
    (-0.25,0.5,0,0.5,0,1) — identical for ',' fields and for ';' fields
    with ',' decimals."""
    from gdal_spark.raster import formats as FM
    expected = (-0.25, 0.5, 0.0, 0.5, 0.0, 1.0)
    p5 = str(tmp_path / "g5.xyz")
    open(p5, "w").write("0,1,100\n0.5,1,100\n1,1,100\n"
                        "0,2,100\n0.5,2,100\n1,2,100\n")
    _, m = FM.read_xyz(spark, p5)
    assert (m.width, m.height) == (3, 2)
    assert m.gt == pytest.approx(expected, abs=1e-5)
    p6 = str(tmp_path / "g6.xyz")
    open(p6, "w").write("0;1;100\n0,5;1;100\n1;1;100\n"
                        "0;2;100\n0,5;2;100\n1;2;100\n")
    _, m = FM.read_xyz(spark, p6)
    assert (m.width, m.height) == (3, 2)
    assert m.gt == pytest.approx(expected, abs=1e-5)


def test_xyz_roundtrip_byte(spark, tmp_path):
    """xyz_1 shape: byte.tif written to XYZ and re-read preserves the
    checksum (4672) and recovers the source geotransform."""
    from gdal_spark.raster import formats as FM
    from gdal_spark.raster import model as M
    from gdal_spark.raster.checksum import py_checksum
    path = _gcore("byte.tif")
    bands, meta = FM.parse_geotiff(open(path, "rb").read())
    tiles = M.from_array(spark, bands[0], meta)
    out = str(tmp_path / "byte.xyz")
    FM.write_xyz(tiles, meta, out)
    t2, m2 = FM.read_xyz(spark, out)
    assert py_checksum(M.to_array(t2, m2)) == 4672
    assert m2.gt == pytest.approx(meta.gt)
    assert (m2.width, m2.height) == (meta.width, meta.height)


# --- EHdr / BT drivers (autotest/gdrivers/{ehdr,bt}.py) ----------------------

def test_ehdr_read_float32_golden(spark):
    """ehdr_3: the reference's float32.bil reads with checksum 27."""
    from gdal_spark.raster import formats as FM
    from gdal_spark.raster import model as M
    from gdal_spark.raster.checksum import py_checksum
    t, m = FM.read_ehdr(
        spark, _gd("float32.bil"))
    assert (m.width, m.height) == (20, 20) and m.dtype == "float32"
    assert m.gt == pytest.approx((440720.0, 60.0, 0.0, 3751320.0, 0.0, -60.0))
    assert py_checksum(M.to_array(t, m)) == 27


def test_ehdr_roundtrip_byte(spark, tmp_path):
    """ehdr_2 shape: a byte raster -> EHdr -> read keeps its checksum and
    the geotransform."""
    from gdal_spark.raster import formats as FM
    from gdal_spark.raster import model as M
    from gdal_spark.raster.checksum import py_checksum
    tiles, meta, want = _synthetic(spark)
    out = str(tmp_path / "byte.bil")
    FM.write_ehdr(tiles, meta, out)
    t2, m2 = FM.read_ehdr(spark, out)
    assert py_checksum(M.to_array(t2, m2)) == want
    assert m2.gt == pytest.approx(meta.gt)


@pytest.mark.parametrize("dtype", ["int16", "int32", "float32"])
def test_bt_roundtrip_goldens(spark, tmp_path, dtype):
    """bt_1/2/3: int16/int32/float32 rasters round-trip through the BT
    format with their checksum and geotransform."""
    from gdal_spark.raster import formats as FM
    from gdal_spark.raster import model as M
    from gdal_spark.raster.checksum import py_checksum
    tiles, meta, want = _synthetic(spark, dtype)
    out = str(tmp_path / (dtype + ".bt"))
    FM.write_bt(tiles, meta, out)
    t2, m2 = FM.read_bt(spark, out)
    assert m2.dtype == dtype
    assert py_checksum(M.to_array(t2, m2)) == want
    assert m2.gt == pytest.approx(meta.gt)


def test_envi_read_golden(spark):
    """envi_1: aea.dat (BSQ, big-endian byte) reads checksum 14823 with
    the Albers map-info geotransform."""
    from gdal_spark.raster import formats as FM
    from gdal_spark.raster import model as M
    from gdal_spark.raster.checksum import py_checksum
    t, m = FM.read_envi(
        spark, _gd("aea.dat"))
    assert (m.width, m.height) == (434, 3)
    assert m.gt == pytest.approx(
        (-936408.178, 28.5, 0.0, 2423902.344, 0.0, -28.5))
    assert py_checksum(M.to_array(t, m)) == 14823


def test_envi_roundtrip(spark, tmp_path):
    """envi_2: lossless export/import (checksum + gt kept)."""
    from gdal_spark.raster import formats as FM
    from gdal_spark.raster import model as M
    from gdal_spark.raster.checksum import py_checksum
    t, m, want = _synthetic(spark)
    out = str(tmp_path / "syn.dat")
    FM.write_envi(t, m, out)
    t2, m2 = FM.read_envi(spark, out)
    assert py_checksum(M.to_array(t2, m2)) == want
    assert m2.gt == pytest.approx(m.gt)


def test_srtmhgt_golden(spark, tmp_path):
    """srtmhgt_1: n43.dt0 (DTED level 0) nearest-upsampled to 1201x1201
    (GDAL RasterIO index rule floor((i+0.5)*src/dst)), written as
    n43w080.hgt and re-read: checksum 60918, filename-derived
    geotransform."""
    import numpy as np
    from gdal_spark.raster import formats as FM
    from gdal_spark.raster import model as M
    from gdal_spark.raster.checksum import py_checksum
    arr, _ = FM.parse_dted(open(
        _gd("n43.dt0"), "rb").read())
    idx = np.floor((np.arange(1201) + 0.5) * (121 / 1201.0)).astype(int)
    up = arr[np.ix_(idx, idx)].astype(np.int16)
    meta = M.RasterMeta(
        "n43w080", 1201, 1201,
        gt=(-80.0004166666666663, 0.0008333333333333, 0,
            44.0004166666666670, 0, -0.0008333333333333), dtype="int16")
    tiles = M.from_array(spark, up, meta)
    p = str(tmp_path / "n43w080.hgt")
    FM.write_srtmhgt(tiles, meta, p)
    t2, m2 = FM.read_srtmhgt(spark, p)
    assert py_checksum(M.to_array(t2, m2)) == 60918
    assert m2.gt == pytest.approx(meta.gt, abs=1e-9)
    assert m2.nodata == -32768.0


# --- USGS DEM (autotest/gdrivers/usgsdem.py goldens) -------------------------

@pytest.mark.parametrize("fn,cs,gt", [
    ("022gdeme_truncated", 1583,
     (-67.00041667, 0.00083333, 0.0, 50.000416667, 0.0, -0.00083333)),
    ("114p01_0100_deme_truncated.dem", 53864,
     (-136.25010416667, 0.000208333, 0.0, 59.25010416667, 0.0,
      -0.000208333)),
    ("39079G6_truncated.dem", 61424,
     (606855.0, 30.0, 0.0, 4414605.0, 0.0, -30.0)),
    ("39109h1_truncated.dem", 39443, None),
    ("4619old_truncated.dem", 10659,
     (18.99958333, 0.0008333, 0.0, 47.000416667, 0.0, -0.0008333)),
])
def test_usgsdem_goldens(spark, fn, cs, gt):    # usgsdem_1/2/3/8/9
    tiles, meta = RF.read_usgsdem(
        spark, _gd(fn))
    assert checksum(tiles, meta).collect()[0]["checksum"] == cs
    if gt is not None:
        assert all(abs(a - b) < 1e-7 for a, b in zip(meta.gt, gt))


# --- Surfer grids (autotest/gdrivers/gsg.py goldens) -------------------------

@pytest.mark.parametrize("fn,rd,wr", [
    ("gsg_binary.grd", "read_gsbg", "write_gsbg"),     # gsg_1/4
    ("gsg_ascii.grd", "read_gsag", "write_gsag"),      # gsg_2/5
    ("gsg_7binary.grd", "read_gs7bg", "write_gs7bg"),  # gsg_3/8
])
def test_surfer_grid_goldens(spark, tmp_path, fn, rd, wr):
    want_gt = (440720, 60, 0, 3751320, 0, -60)
    tiles, meta = getattr(RF, rd)(
        spark, _gd(fn))
    assert checksum(tiles, meta).collect()[0]["checksum"] == 4672
    assert all(abs(a - b) < 1e-9 for a, b in zip(meta.gt, want_gt))
    out = str(tmp_path / fn)
    getattr(RF, wr)(tiles, meta, out)
    t2, m2 = getattr(RF, rd)(spark, out)
    assert checksum(t2, m2).collect()[0]["checksum"] == 4672
    assert all(abs(a - b) < 1e-9 for a, b in zip(m2.gt, want_gt))


# --- FARSITE LCP (autotest/gdrivers/lcp.py goldens) --------------------------

@pytest.mark.parametrize("fn,want_cs,want_gt", [
    ("test_FARSITE_UTM12.LCP",
     [18645, 16431, 18851, 26182, 30038, 22077, 30388, 23249],
     (285807.932887174887583, 30, 0, 5379230.386217921040952, 0, -30)),
    ("test_USGS_LFNM_Alb83.lcp",
     [28381, 25824, 28413, 19052, 30164, 22316, 30575, 23304], None),
])
def test_lcp_goldens(spark, fn, want_cs, want_gt):      # lcp_1/lcp_2
    tiles, meta, md = RF.read_lcp(
        spark, _gd(fn))
    cs = {r["band"]: r["checksum"] for r in checksum(tiles, meta).collect()}
    assert [cs[i] for i in range(len(want_cs))] == want_cs
    if want_gt:
        assert all(abs(a - b) < 1e-5 for a, b in zip(meta.gt, want_gt))
        assert md["LATITUDE"] == "49"
        assert md["LINEAR_UNIT"] == "Meters"
        assert md["ELEVATION_UNIT_NAME"] == "Meters"
        assert md["ELEVATION_MIN"] == "1064"
        assert md["ELEVATION_MAX"] == "1492"
        assert md["SLOPE_FILE"] == "slope.asc"
        assert md["ASPECT_UNIT_NAME"] == "Azimuth degrees"
        assert md["FUEL_MODEL_VALUES"] == "1,2,5,8,10,99"
        assert md["CANOPY_HT_UNIT_NAME"] == "Meters x 10"
        assert md["CBD_UNIT_NAME"] == "kg/m^3 x 100"


def test_saga_golden_and_roundtrip(spark, tmp_path):    # saga_1/saga_2
    tiles, meta = RF.read_saga(
        spark, _gd("4byteFloat.sdat"))
    assert checksum(tiles, meta).collect()[0]["checksum"] == 108
    assert meta.gt == (328.3, 10.0, 0.0, 650.5, 0.0, -10.0)
    out = str(tmp_path / "copy.sdat")
    RF.write_saga(tiles, meta, out)
    t2, m2 = RF.read_saga(spark, out)
    assert checksum(t2, m2).collect()[0]["checksum"] == 108
    assert m2.gt == meta.gt


def test_gtx_golden(spark):                             # gtx_1
    tiles, meta = RF.read_gtx(
        spark, _gd("hydroc1.gtx"))
    assert checksum(tiles, meta).collect()[0]["checksum"] == 64183
    want = (276.725, 0.05, 0.0, 42.775, 0.0, -0.05)
    assert all(abs(a - b) < 1e-9 for a, b in zip(meta.gt, want))


def test_idrisi_goldens_and_roundtrip(spark, tmp_path):  # idrisi_1/2
    tiles, meta = RF.read_idrisi(spark, _gd("byte.rst"))
    assert checksum(tiles, meta).collect()[0]["checksum"] == 5044
    t2, m2 = RF.read_idrisi(spark, _gd("real.rst"))
    assert checksum(t2, m2).collect()[0]["checksum"] == 5275
    out = str(tmp_path / "copy.rst")
    RF.write_idrisi(tiles, meta, out)
    t3, m3 = RF.read_idrisi(spark, out)
    assert checksum(t3, m3).collect()[0]["checksum"] == 5044
    assert m3.gt == meta.gt


def test_small_classic_formats(spark):
    """ELAS / Erdas LAN (8-bit + 4-bit) / GRASS ASCII / ERMapper ERS
    read goldens (autotest/gdrivers elas_1, lan_1/2, grassasciigrid_1,
    ers_1)."""
    t, m = RF.read_elas(spark, _gd("byte_elas.bin"))
    assert checksum(t, m).collect()[0]["checksum"] == 4672
    t, m = RF.read_lan(spark, _gd("fakelan.lan"))
    assert checksum(t, m).collect()[0]["checksum"] == 10
    t, m = RF.read_lan(spark, _gd("fakelan4bit.lan"))
    assert checksum(t, m).collect()[0]["checksum"] == 10
    t, m = RF.read_grass_ascii(spark, _gd("grassascii.txt"))
    assert checksum(t, m).collect()[0]["checksum"] == 212
    assert m.gt == (-100.0, 62.5, 0.0, 250.0, 0.0, -41.666666666666664)
    t, m = RF.read_ers(spark, _gd("srtm.ers"))
    assert checksum(t, m).collect()[0]["checksum"] == 64074


def test_batch2_classic_formats(spark):
    """ROI_PAC / NGSGEOID (both endians) / E00 grid / ILWIS read goldens
    (autotest/gdrivers roipac_1, ngsgeoid_1/2, e00grid_1, ilwis_1)."""
    t, m = RF.read_roipac(spark, _gd("srtm.dem"))
    assert checksum(t, m).collect()[0]["checksum"] == 64074
    assert abs(m.gt[0] - -180.0083333) < 1e-7 and m.gt[1] > 0
    t, m = RF.read_ngsgeoid(spark, _gd("g2009u01_le_truncated.bin"))
    assert checksum(t, m).collect()[0]["checksum"] == 65534
    want = (229.99166666666667, 0.01666666666667, 0.0,
            40.00833333333334, 0.0, -0.01666666666667)
    assert all(abs(a - b) < 1e-9 for a, b in zip(m.gt, want))
    t, m = RF.read_ngsgeoid(spark, _gd("g2009u01_be_truncated.bin"))
    assert checksum(t, m).collect()[0]["checksum"] == 65534
    t, m = RF.read_e00grid(spark, _gd("fake_e00grid.e00"))
    assert checksum(t, m).collect()[0]["checksum"] == 65359
    assert m.gt == (500000.0, 1000.0, 0.0, 4000000.0, 0.0, -1000.0)
    assert m.nodata == -32767
    t, m = RF.read_ilwis(spark, _gd("LanduseSmall.mpr"))
    assert checksum(t, m).collect()[0]["checksum"] == 2351
    assert m.gt == (795480.0, 20.0, 0.0, 8090520.0, 0.0, -20.0)


def test_zmap_roundtrip(spark, tmp_path):               # zmap_1
    tiles, meta, want = _synthetic(spark)
    out = str(tmp_path / "z.zmap")
    RF.write_zmap(tiles, meta, out)
    t2, m2 = RF.read_zmap(spark, out)
    assert checksum(t2, m2).collect()[0]["checksum"] == want
    assert all(abs(a - b) < 1e-8 for a, b in zip(m2.gt, meta.gt))


def test_kro_roundtrip(spark, tmp_path):                # kro_1/2
    tiles, meta, want = _synthetic(spark, bands=3)
    out = str(tmp_path / "k.kro")
    RF.write_kro(tiles, meta, out, nbands=3)
    t2, m2 = RF.read_kro(spark, out)
    cs = {r["band"]: r["checksum"] for r in checksum(t2, m2).collect()}
    assert cs == {0: want, 1: want, 2: want}


def test_gxf_and_pnm_goldens(spark):
    """GXF plain + base-90 compressed (gxf_1/2) and netpbm P5/P6
    (pnm_1/3) read goldens."""
    t, m = RF.read_gxf(spark, _gd("small.gxf"))
    assert checksum(t, m).collect()[0]["checksum"] == 90
    t, m = RF.read_gxf(spark, _gd("small2.gxf"))
    assert checksum(t, m).collect()[0]["checksum"] == 65042
    t, m = RF.read_pnm(spark, _gd("byte.pgm"))
    assert checksum(t, m).collect()[0]["checksum"] == 4672
    t, m = RF.read_pnm(spark, _gd("rgbsmall.ppm"))
    cs = {r["band"]: r["checksum"] for r in checksum(t, m).collect()}
    assert cs[1] == 21053      # band 2 (green) golden


def test_sgi_golden(spark):                              # sgi_1
    t, m = RF.read_sgi(
        spark, _gd("byte.sgi"))
    assert checksum(t, m).collect()[0]["checksum"] == 4672


@pytest.mark.parametrize("fn,cs", [
    ("rgbsmall.kap", 30321),                # bsb_2
    ("rgbsmall_index.kap", 30321),          # bsb_4
    ("rgbsmall_with_line_break.kap", 30321),  # bsb_5
    ("rgbsmall_truncated.kap", 29696),      # bsb_6
    ("rgbsmall_truncated2.kap", 29696),     # bsb_7
])
def test_bsb_goldens(spark, fn, cs):
    t, m, pal = RF.read_bsb(
        spark, _gd(fn))
    assert checksum(t, m).collect()[0]["checksum"] == cs
    assert len(pal) == 127


def test_ida_golden(spark):                              # ida_2
    t, m = RF.read_ida(
        spark, _gd("DWI01012.AFC"))
    assert checksum(t, m).collect()[0]["checksum"] == 4026


@pytest.mark.parametrize("fn,want", [
    ("byte.rsw", [4672]),                        # rmf_1
    ("byte-lzw.rsw", [4672]),                    # rmf_2
    ("float64.mtw", [4672]),                     # rmf_3
    ("rgbsmall.rsw", [21212, 21053, 21349]),     # rmf_4
    ("rgbsmall-lzw.rsw", [21212, 21053, 21349]),  # rmf_5
    ("big-endian.rsw", [7782, 8480, 4195]),      # rmf_6
])
def test_rmf_goldens(spark, fn, want):
    t, m = RF.read_rmf(
        spark, _gd(fn))
    cs = {r["band"]: r["checksum"] for r in checksum(t, m).collect()}
    assert [cs[i] for i in range(len(want))] == want


def test_northwood_goldens(spark):                      # nwt_grd_1 / grc_1
    t, m = RF.read_nwt_grd(spark, _gd("nwt_grd.grd"))
    cs = {r["band"]: r["checksum"] for r in checksum(t, m).collect()}
    assert [cs[i] for i in range(3)] == [28093, 33626, 20260]
    t, m = RF.read_nwt_grc(spark, _gd("nwt_grc.grc"))
    assert checksum(t, m).collect()[0]["checksum"] == 46760


def test_hf2_roundtrip(spark, tmp_path):                # hf2_1 / hf2_2
    tiles, meta, want = _synthetic(spark)
    out = str(tmp_path / "t.hf2")
    RF.write_hf2(tiles, meta, out)
    t2, m2 = RF.read_hf2(spark, out)
    assert checksum(t2, m2).collect()[0]["checksum"] == want
    assert all(abs(a - b) < 1e-8 for a, b in zip(m2.gt, meta.gt))
    out2 = str(tmp_path / "t.hfz")
    RF.write_hf2(tiles, meta, out2, tile_size=10, compress=True)
    t3, m3 = RF.read_hf2(spark, out2)
    assert checksum(t3, m3).collect()[0]["checksum"] == want


@pytest.mark.parametrize("fn,cs,gt,nodata", [
    ("mc02_truncated.img", 47151,
     (-10668384.903788566589355, 926.115274429321289, 0,
      3852176.483988761901855, 0, -926.115274429321289), 0.0),   # pds_1
    ("fl73n003_truncated.img", 34962,
     (587861.55900404998, 75.000002980232239, 0.0,
      -7815243.4746123618, 0.0, -75.000002980232239), 7.0),      # pds_2
    ("fl73n003_alt_truncated.img", 34962, None, 7.0),            # pds_2b
    ("EN0001426030M_truncated.IMG", 1367,
     (0, 1, 0, 0, 0, 1), -32768.0),                              # pds_3
    ("pds_3177.lbl", 3418,
     (6119184.3590369327, 1.0113804322107001, 0.0,
      -549696.39009125973, 0.0, -1.0113804322107001), 0.0),      # pds_4
])
def test_pds_goldens(spark, fn, cs, gt, nodata):
    tiles, meta, scale, offset = RF.read_pds(
        spark, _gd(fn))
    assert checksum(tiles, meta).collect()[0]["checksum"] == cs
    if gt:
        # the autotest's own gt epsilon: (|gt1|+|gt2|)/100
        eps = (abs(gt[1]) + abs(gt[2])) / 100.0
        assert all(abs(a - b) <= eps for a, b in zip(meta.gt, gt))
    assert meta.nodata == nodata
    if fn.startswith("fl73n003_truncated"):
        assert scale == 0.2 and offset == -20.2


def test_geotiff_geokey_srs():
    # GeoKey directory -> EPSG -> registry CRS (gt_wkt_srs.cpp
    # GTIFGetOGISDefn); byte.tif is NAD27 / UTM 11N (EPSG:26711)
    from gdal_spark.raster.formats import geotiff_srs
    path = _gcore("byte.tif")
    s = geotiff_srs(open(path, "rb").read())
    assert s["model_type"] == "projected"
    assert s["epsg"] == 26711
    assert s["citation"] == "NAD27 / UTM zone 11N"
    crs = s["crs"]
    assert abs(crs.k0 - 0.9996) < 1e-12
    assert abs(crs.lon0 - -117.0) < 1e-9
    assert abs(crs.a - 6378206.4) < 1e-6
    # forward/inverse round trip near the raster origin
    x, y = 440720.0, 3751320.0
    lon, lat = crs.inverse(x, y)
    assert abs(lon - -117.641) < 0.01 and abs(lat - 33.9) < 0.01
    x2, y2 = crs.forward(lon, lat)
    assert abs(x2 - x) < 1e-4 and abs(y2 - y) < 1e-4

    s2 = geotiff_srs(open(
        _gcore("rgbsmall.tif"), "rb").read())
    assert s2["model_type"] == "geographic" and s2["epsg"] == 4326
