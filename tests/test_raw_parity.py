"""Synthetic parity net for the raw-layout raster readers.

Each test writes a small seeded cube in one format's byte layout (with
the format's own writer where there is one, else a hand-built header
plus payload), reads it back, and checks every band against the cube
and the header-derived meta: size, dtype, geotransform and nodata.
37x23 pixels at block 16 leave partial edge blocks in both directions.

The ``test_truncated_*`` cases cut one payload per layout family at a
sample boundary and check that the samples past end of file read as
zero (GDAL RawRasterBand beyond-EOF behaviour). ``test_envi_read_is_lazy``
rewrites the payload after the DataFrame is built and checks that the
collect sees the new pixels. ``test_paux_pixel_interleaved`` reads
channels whose pixel offset is wider than one sample.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pytest

from gdal_spark.raster import formats as RF
from gdal_spark.raster.model import RasterMeta, from_array, to_array

W, H, BLOCK = 37, 23, 16


def _cube(dtype, nb=3, seed=0, w=W, h=H):
    rng = np.random.default_rng(seed)
    dt = np.dtype(dtype)
    if dt.kind == "f":
        return rng.uniform(-1e3, 1e3, (nb, h, w)).astype(dt)
    if dt.kind == "c":
        return (rng.uniform(-1e3, 1e3, (nb, h, w))
                + 1j * rng.uniform(-1e3, 1e3, (nb, h, w))).astype(dt)
    info = np.iinfo(dt)
    return rng.integers(info.min, info.max, (nb, h, w),
                        dtype=dt.newbyteorder("="), endpoint=True).astype(dt)


def _check(tiles, meta, cube, dtype, gt, nodata=None):
    nb, h, w = cube.shape
    assert (meta.width, meta.height, meta.dtype) == (w, h, dtype)
    assert meta.gt == pytest.approx(gt, rel=1e-9, abs=1e-9)
    assert meta.nodata == (None if nodata is None
                           else pytest.approx(nodata))
    got = _planes(tiles, meta)
    assert sorted(got) == list(range(nb))
    for b in range(nb):
        np.testing.assert_array_equal(got[b], cube[b])


def _planes(tiles, meta):
    """Every band of ``tiles`` as a full array from one collect (the
    ``to_array`` assembly without a Spark job per band); each block
    must appear exactly once."""
    out, n, k = {}, meta.block, 0
    for r in tiles.collect():
        a = out.setdefault(r["band"], np.zeros((meta.height, meta.width),
                                               meta.dtype))
        a[r["by"] * n:r["by"] * n + r["h"], r["bx"] * n:r["bx"] * n + r["w"]] = \
            np.frombuffer(bytes(r["data"]), meta.dtype).reshape(r["h"], r["w"])
        k += 1
    assert k == len(out) * meta.n_block_x * meta.n_block_y
    return out


def _tiles(spark, cube, meta):
    """Per-band block rows of a cube, as a writer's source."""
    out = None
    for b in range(cube.shape[0]):
        t = from_array(spark, cube[b], meta, band=b)
        out = t if out is None else out.unionByName(t)
    return out


def _interleave(cube, layout):
    """(bands, h, w) cube -> payload bytes order of BSQ / BIL / BIP."""
    return {"BSQ": cube, "BIL": cube.transpose(1, 0, 2),
            "BIP": cube.transpose(1, 2, 0)}[layout.upper()]


def _write(path, *parts):
    with open(path, "wb") as f:
        for p in parts:
            f.write(p if isinstance(p, (bytes, bytearray))
                    else np.ascontiguousarray(p).tobytes())
    return str(path)


# --------------------------------------------------------------- BSQ/BIL/BIP

@pytest.mark.parametrize("layout", ["BIL", "BSQ", "BIP"])
def test_ehdr(spark, tmp_path, layout):
    cube = _cube(">i2")
    (tmp_path / "g.hdr").write_text(
        f"BYTEORDER M\nLAYOUT {layout}\nNROWS {H}\nNCOLS {W}\nNBANDS 3\n"
        "NBITS 16\nPIXELTYPE SIGNEDINT\nULXMAP 1001\nULYMAP 2001.5\n"
        "XDIM 2\nYDIM 3\nNODATA -9999\n")
    p = _write(tmp_path / "g.bil", _interleave(cube, layout))
    t, m = RF.read_ehdr(spark, p, block=BLOCK)
    _check(t, m, cube, "int16", (1000, 2, 0, 2003, 0, -3), -9999.0)


def test_ehdr_writer(spark, tmp_path):
    cube = _cube("float32", nb=1)
    meta = RasterMeta("e", W, H, gt=(10, 0.5, 0, 20, 0, -0.5),
                      dtype="float32", nodata=-1.0, block=BLOCK)
    p = str(tmp_path / "w.flt")
    RF.write_ehdr(_tiles(spark, cube, meta), meta, p)
    t, m = RF.read_ehdr(spark, p, block=BLOCK)
    _check(t, m, cube, "float32", meta.gt, -1.0)


def _envi_hdr(path, nb, code, interleave, order, offset=0):
    path.write_text(
        f"ENVI\nsamples = {W}\nlines   = {H}\nbands   = {nb}\n"
        f"header offset = {offset}\nfile type = ENVI Standard\n"
        f"data type = {code}\ninterleave = {interleave}\n"
        f"byte order = {1 if order == '>' else 0}\n"
        "map info = {UTM, 2, 3, 500000, 4000000,\n 30, 30, 11, North}\n")


@pytest.mark.parametrize("interleave", ["bsq", "bil", "bip"])
def test_envi(spark, tmp_path, interleave):
    cube = _cube(">u2", seed=1)
    _envi_hdr(tmp_path / "e.hdr", 3, 12, interleave, ">", offset=64)
    p = _write(tmp_path / "e.dat", b"\xab" * 64,
               _interleave(cube, interleave))
    t, m = RF.read_envi(spark, p, block=BLOCK)
    _check(t, m, cube, "uint16", (499970, 30, 0, 4000060, 0, -30))


def test_envi_writer(spark, tmp_path):
    cube = _cube("float64", seed=2)
    meta = RasterMeta("e", W, H, gt=(5, 1, 0, 9, 0, -1), dtype="float64",
                      block=BLOCK)
    p = str(tmp_path / "w.dat")
    RF.write_envi(_tiles(spark, cube, meta), meta, p, nbands=3)
    t, m = RF.read_envi(spark, p, block=BLOCK)
    _check(t, m, cube, "float64", meta.gt)


def test_envi_read_is_lazy(spark, tmp_path):
    """The DataFrame reads the payload when it runs, not when it is
    built: rewriting the pixels in between shows the new pixels."""
    old, new = _cube("uint8", seed=3), _cube("uint8", seed=4)
    _envi_hdr(tmp_path / "l.hdr", 3, 1, "bil", "<")
    p = _write(tmp_path / "l.dat", _interleave(old, "bil"))
    t, m = RF.read_envi(spark, p, block=BLOCK)
    _write(p, _interleave(new, "bil"))
    _check(t, m, new, "uint8", (499970, 30, 0, 4000060, 0, -30))


def test_ers(spark, tmp_path):
    cube = _cube(">i2", seed=5)
    (tmp_path / "r.ers").write_text(
        "DatasetHeader Begin\n\tVersion = \"6.0\"\n\tByteOrder = MSBFirst\n"
        "\tRasterInfo Begin\n\t\tCellType = Signed16BitInteger\n"
        "\t\tNullCellValue = -9999\n\t\tCellInfo Begin\n"
        "\t\t\tXdimension = 30\n\t\t\tYdimension = 20\n\t\tCellInfo End\n"
        f"\t\tNrOfLines = {H}\n\t\tNrOfCellsPerLine = {W}\n"
        "\t\tRegistrationCoord Begin\n\t\t\tEastings = 500000\n"
        "\t\t\tNorthings = 4000000\n\t\tRegistrationCoord End\n"
        "\t\tNrOfBands = 3\n\tRasterInfo End\nDatasetHeader End\n")
    _write(tmp_path / "r", _interleave(cube, "BIL"))
    t, m = RF.read_ers(spark, str(tmp_path / "r.ers"), block=BLOCK)
    _check(t, m, cube, "int16", (500000, 30, 0, 4000000, 0, -20), -9999.0)


@pytest.mark.parametrize("ext,dtype,nb", [("unw", "<f4", 2),
                                          ("dem", "<i2", 1)])
def test_roipac(spark, tmp_path, ext, dtype, nb):
    cube = _cube(dtype, nb=nb, seed=6)
    p = _write(tmp_path / f"x.{ext}", _interleave(cube, "BIL"))
    (tmp_path / f"x.{ext}.rsc").write_text(
        f"WIDTH {W}\nFILE_LENGTH {H}\nX_FIRST -118.5\nX_STEP 0.25\n"
        "Y_FIRST 34.5\nY_STEP -0.125\n")
    t, m = RF.read_roipac(spark, p, block=BLOCK)
    _check(t, m, cube, str(np.dtype(dtype).newbyteorder("=")),
           (-118.5, 0.25, 0, 34.5, 0, -0.125))


def test_kro_writer(spark, tmp_path):
    cube = _cube("uint16", seed=7)
    meta = RasterMeta("k", W, H, dtype="uint16", block=BLOCK)
    p = str(tmp_path / "k.kro")
    RF.write_kro(_tiles(spark, cube, meta), meta, p, nbands=3)
    t, m = RF.read_kro(spark, p, block=BLOCK)
    _check(t, m, cube, "uint16", meta.gt)


def test_lcp(spark, tmp_path):
    cube = _cube("<i2", nb=5, seed=8)
    hdr = bytearray(7316)
    struct.pack_into("<3i", hdr, 0, 20, 20, 45)    # no crown, no ground
    struct.pack_into("<2i", hdr, 4164, W, H)
    struct.pack_into("<4d", hdr, 4172, 1000 + 30 * W, 1000.0,
                     5000.0, 5000 - 30 * H)
    struct.pack_into("<2d", hdr, 4208, 30.0, 30.0)
    p = _write(tmp_path / "l.lcp", hdr, _interleave(cube, "BIP"))
    t, m, md = RF.read_lcp(spark, p, block=BLOCK)
    assert md["LATITUDE"] == "45"
    _check(t, m, cube, "int16", (1000, 30, 0, 5000, 0, -30))


def _pds_label(lines, record_bytes, records):
    text = "\r\n".join(lines + ["END"]) + "\r\n"
    assert len(text) <= record_bytes * records
    return text.encode().ljust(record_bytes * records, b" ")


def test_pds(spark, tmp_path):
    cube = _cube(">i2", seed=9)
    label = _pds_label([
        "PDS_VERSION_ID = PDS3", "RECORD_TYPE = FIXED_LENGTH",
        "RECORD_BYTES = 512", "^IMAGE = 3", "OBJECT = IMAGE",
        f"  LINES = {H}", f"  LINE_SAMPLES = {W}", "  BANDS = 3",
        "  SAMPLE_TYPE = MSB_INTEGER", "  SAMPLE_BITS = 16",
        "  BAND_STORAGE_TYPE = BAND_SEQUENTIAL",
        "END_OBJECT = IMAGE"], 512, 2)
    p = _write(tmp_path / "p.img", label, cube)
    t, m, scale, offset = RF.read_pds(spark, p, block=BLOCK)
    assert (scale, offset) == (1.0, 0.0)
    _check(t, m, cube, "int16", (0, 1, 0, 0, 0, 1), -32768.0)


def test_isis2(spark, tmp_path):
    cube = _cube(">f4", seed=10)
    label = _pds_label([
        "CCSD3ZF0000100000001NJPL3IF0PDS200000001 = SFDU_LABEL",
        "RECORD_TYPE = FIXED_LENGTH", "RECORD_BYTES = 512", "^QUBE = 3",
        "OBJECT = QUBE", "  AXES = 3", "  AXIS_NAME = (SAMPLE,LINE,BAND)",
        f"  CORE_ITEMS = ({W},{H},3)", "  CORE_ITEM_BYTES = 4",
        "  CORE_ITEM_TYPE = SUN_REAL", "END_OBJECT = QUBE"], 512, 2)
    p = _write(tmp_path / "q.cub", label, cube)
    t, m = RF.read_isis2(spark, p, block=BLOCK)
    _check(t, m, cube, "float32", (0, 1, 0, 0, 0, -1))


def test_vicar(spark, tmp_path):
    cube = _cube(">i2", seed=11)
    label = (f"LBLSIZE=512 FORMAT='HALF' TYPE='IMAGE' ORG='BSQ' NL={H} "
             f"NS={W} NB=3 NLB=1 RECSIZE={2 * W} INTFMT='HIGH' "
             "REALFMT='IEEE'").encode().ljust(512, b" ")
    p = _write(tmp_path / "v.vic", label, b"\x11" * 2 * W, cube)
    t, m, _ = RF.read_vicar(spark, p, block=BLOCK)
    _check(t, m, cube, "int16", (0, 1, 0, 0, 0, 1))


def test_eir(spark, tmp_path):
    cube = _cube("<i2", seed=12)
    (tmp_path / "e.hdr").write_text(
        f"IMAGINE_RAW_FILE\nWIDTH {W}\nHEIGHT {H}\nNUM_LAYERS 3\n"
        "DATATYPE S16\nDATA_OFFSET 100\nPIXEL_FILES e.raw\n")
    _write(tmp_path / "e.raw", b"\0" * 100, cube)
    t, m = RF.read_eir(spark, str(tmp_path / "e.hdr"), block=BLOCK)
    _check(t, m, cube, "int16", (0, 1, 0, 0, 0, -1))


def test_doq1(spark, tmp_path):
    w, h = 503, 501
    cube = _cube("uint8", seed=13, w=w, h=h)
    hdr = bytearray(b" " * (4 * 3 * w))
    hdr[144:159] = f"{h:6d}{w:6d}  5".encode()
    p = _write(tmp_path / "d.doq", hdr, _interleave(cube, "BIP"))
    t, m = RF.read_doq1(spark, p, block=128)
    _check(t, m, cube, "uint8", (0, 1, 0, 0, 0, -1))


def _doq2(path, cube, organization, skip=1024):
    nb = cube.shape[0]
    lines = ["BEGIN_USGS_DOQ_HEADER",
             f"SAMPLES_AND_LINES {cube.shape[2]} {cube.shape[1]}",
             f"BYTE_COUNT {skip}", "XY_ORIGIN 500000.0 4000000.0",
             "HORIZONTAL_RESOLUTION 2.0",
             f"BAND_ORGANIZATION {organization}"]
    lines += ["BAND_CONTENT X"] * nb + ["BITS_PER_PIXEL 8",
                                        "END_USGS_DOQ_HEADER"]
    head = "\n".join(lines).encode().ljust(skip, b" ")
    return _write(path, head, _interleave(cube, organization))


@pytest.mark.parametrize("organization", ["BIP", "BSQ"])
def test_doq2(spark, tmp_path, organization):
    cube = _cube("uint8", seed=14)
    p = _doq2(tmp_path / "d.doq", cube, organization)
    t, m, info = RF.read_doq2(spark, p, block=BLOCK)
    assert info["bands"] == 3
    _check(t, m, cube, "uint8", (500000, 2, 0, 4000000, 0, -2))


def test_doq2_window(spark, tmp_path):
    cube = _cube("uint8", seed=15)
    p = _doq2(tmp_path / "d.doq", cube, "BIP")
    t, m, _ = RF.read_doq2(spark, p, block=BLOCK, window=(5, 3, 20, 17))
    _check(t, m, cube[:, 3:20, 5:25], "uint8",
           (500010, 2, 0, 3999994, 0, -2))


def _genbin(tmp_path, cube, interleave, datatype):
    (tmp_path / "g.hdr").write_text(
        f"BANDS:      {cube.shape[0]}\nROWS:       {H}\nCOLS:       {W}\n"
        f"INTERLEAVING: {interleave}\nDATATYPE:   {datatype}\n"
        "BYTE_ORDER: MSB\nUL_X_COORDINATE: 1001\n"
        "UL_Y_COORDINATE: 2001\n"
        f"LR_X_COORDINATE: {1001 + 2 * (W - 1)}\n"
        f"LR_Y_COORDINATE: {2001 - 2 * (H - 1)}\n")
    return _write(tmp_path / "g.bil", _interleave(cube, interleave))


@pytest.mark.parametrize("interleave", ["BSQ", "BIL", "BIP"])
def test_genbin(spark, tmp_path, interleave):
    cube = _cube(">i2", seed=16)
    p = _genbin(tmp_path, cube, interleave, "S16")
    t, m, info = RF.read_genbin(spark, p, block=BLOCK)
    _check(t, m, cube, "int16", (1000, 2, 0, 2002, 0, -2))


def test_genbin_window_and_bands(spark, tmp_path):
    cube = _cube(">f4", seed=17)
    p = _genbin(tmp_path, cube, "BIL", "F32")
    t, m, _ = RF.read_genbin(spark, p, block=BLOCK, bands=[1],
                             window=(4, 2, 30, 19))
    assert (m.width, m.height) == (30, 19)
    assert m.gt == pytest.approx((1008, 2, 0, 1998, 0, -2))
    assert [r["band"] for r in t.select("band").distinct().collect()] == [1]
    np.testing.assert_array_equal(to_array(t, m, band=1),
                                  cube[1, 2:21, 4:34])


@pytest.mark.parametrize("interleave,field,dtype", [
    ("pixel", "real", ">i2"), ("line", "real", ">i2"),
    ("sequential", "complex", ">c8")])
def test_mff2(spark, tmp_path, interleave, field, dtype):
    cube = _cube(dtype, seed=18)
    d = tmp_path / "hkv"
    d.mkdir()
    size = np.dtype(dtype).itemsize * 8
    enc = "ieee-754" if field == "complex" else "twos-complement"
    (d / "attrib").write_text(
        f"extent.cols = {W}\nextent.rows = {H}\n"
        "channel.enumeration = 3\n"
        f"channel.interleave = {{ {interleave} }}\n"
        f"pixel.size = {size}\npixel.encoding = {{ {enc} }}\n"
        f"pixel.field = {{ *{field} }}\n"
        "pixel.order = { lsbf *msbf }\n")
    layout = {"pixel": "BIP", "line": "BIL", "sequential": "BSQ"}
    _write(d / "image_data", _interleave(cube, layout[interleave]))
    t, m, info = RF.read_mff2(spark, str(d), block=BLOCK)
    assert info["georef"] == {}
    _check(t, m, cube, str(np.dtype(dtype).newbyteorder("=")),
           (0, 1, 0, 0, 0, -1))


def _pcidsk(path, cube, interleave):
    nb = cube.shape[0]
    fh = bytearray(b" " * 512)
    fh[:8] = b"PCIDSK  "
    image_start = 2 + 2 * nb
    fh[304:320] = f"{image_start:16d}".encode()
    fh[336:352] = f"{2:16d}".encode()
    fh[360:368] = interleave.ljust(8).encode()
    fh[376:400] = f"{nb:8d}{W:8d}{H:8d}".encode()
    fh[464:480] = f"{0:4d}{nb:4d}{0:4d}{0:4d}".encode()
    chans = b"".join(bytes(160) + b"16S     " + bytes(1024 - 168)
                     for _ in range(nb))
    if interleave == "BAND":
        payload = cube.astype("=i2").tobytes()
    else:
        line = 2 * nb * W
        pad = bytes(-line % 512)
        rows = cube.astype("=i2").transpose(1, 2, 0)
        payload = b"".join(rows[y].tobytes() + pad for y in range(H))
    return _write(path, fh, chans, payload)


@pytest.mark.parametrize("interleave", ["BAND", "PIXEL"])
def test_pcidsk(spark, tmp_path, interleave):
    cube = _cube("int16", seed=19)
    p = _pcidsk(tmp_path / "p.pix", cube, interleave)
    t, m = RF.read_pcidsk(spark, p, block=BLOCK)
    _check(t, m, cube, "int16", (0, 1, 0, 0, 0, -1))


def test_elas(spark, tmp_path):
    cube = _cube(">f4", seed=20)
    nbpr = 512                       # 3 x 148 bytes of samples + padding
    hdr = bytearray(1024)
    struct.pack_into(">8i", hdr, 0, 1024, nbpr, 1, H, 1, W, 3, 4321)
    struct.pack_into(">i", hdr, 36, 5000)
    struct.pack_into(">i", hdr, 44, 1000)
    struct.pack_into(">2f", hdr, 48, 2.0, 2.0)
    hdr[74], hdr[75] = 16 << 2, 4
    rows = b"".join(cube[:, y].tobytes().ljust(nbpr, b"\0")
                    for y in range(H))
    p = _write(tmp_path / "e.elas", hdr, rows)
    t, m = RF.read_elas(spark, p, block=BLOCK)
    _check(t, m, cube, "float32", (999, 2, 0, 5001, 0, -2))


def test_dipex(spark, tmp_path):
    cube = _cube("<f4", seed=21)
    nbpr = 160
    hdr = bytearray(1024)
    struct.pack_into("<8i", hdr, 0, 1024, nbpr, 1, H, 1, W, 3, 4322)
    hdr[72], hdr[73] = 4, 16 << 2
    rows = b"".join(cube[b, y].tobytes().ljust(nbpr, b"\0")
                    for y in range(H) for b in range(3))
    p = _write(tmp_path / "d.dat", hdr, rows)
    t, m = RF.read_dipex(spark, p, block=BLOCK)
    _check(t, m, cube, "float32", (0, 1, 0, 0, 0, -1))


# ------------------------------------------------------------------ bottom-up

def _single(dtype, seed):
    return _cube(dtype, nb=1, seed=seed)


def test_gsbg_writer(spark, tmp_path):
    cube = _single("float32", 22)
    meta = RasterMeta("s", W, H, gt=(99, 2, 0, 250, 0, -2),
                      dtype="float32", block=BLOCK)
    p = str(tmp_path / "s.grd")
    RF.write_gsbg(_tiles(spark, cube, meta), meta, p)
    t, m = RF.read_gsbg(spark, p, block=BLOCK)
    _check(t, m, cube, "float32", meta.gt,
           float(np.float32(RF.GSG_NODATA)))


def test_gs7bg_writer(spark, tmp_path):
    cube = _single("float64", 23)
    meta = RasterMeta("s", W, H, gt=(99, 2, 0, 250, 0, -2),
                      dtype="float64", block=BLOCK)
    p = str(tmp_path / "s7.grd")
    RF.write_gs7bg(_tiles(spark, cube, meta), meta, p)
    t, m = RF.read_gs7bg(spark, p, block=BLOCK)
    _check(t, m, cube, "float64", meta.gt, RF.GSG_NODATA)


def test_saga_writer(spark, tmp_path):
    cube = _single("int16", 24)
    meta = RasterMeta("s", W, H, gt=(100, 5, 0, 300, 0, -5),
                      dtype="int16", nodata=-9999.0, block=BLOCK)
    p = str(tmp_path / "s.sdat")
    RF.write_saga(_tiles(spark, cube, meta), meta, p)
    t, m = RF.read_saga(spark, p, block=BLOCK)
    _check(t, m, cube, "int16", meta.gt, -9999.0)


def test_gtx(spark, tmp_path):
    cube = _single(">f4", 25)
    head = struct.pack(">4d2i", 30.0, -100.0, 0.25, 0.5, H, W)
    p = _write(tmp_path / "g.gtx", head, cube[0][::-1])
    t, m = RF.read_gtx(spark, p, block=BLOCK)
    _check(t, m, cube, "float32",
           (-100.25, 0.5, 0, 30 + 0.25 * (H - 1) + 0.125, 0, -0.25))


def test_ngsgeoid(spark, tmp_path):
    cube = _single(">f4", 26)
    head = struct.pack(">4d3i", 30.0, 250.0, 0.25, 0.5, H, W, 1)
    p = _write(tmp_path / "g.bin", head, cube[0][::-1])
    t, m = RF.read_ngsgeoid(spark, p, block=BLOCK)
    _check(t, m, cube, "float32",
           (249.75, 0.5, 0, 30 + 0.25 * H - 0.125, 0, -0.25))


def test_loslas_writer(spark, tmp_path):
    cube = _single("float32", 27)
    gt = (-100.0, 0.25, 0.0, 40.0, 0.0, -0.25)
    p = str(tmp_path / "g.los")
    RF.write_loslas(cube[0], gt, p)
    t, m = RF.read_loslas(spark, p, block=BLOCK)
    _check(t, m, cube, "float32", gt)


# --------------------------------------------------------------- column-major

@pytest.mark.parametrize("dtype", ["int16", "int32", "float32"])
def test_bt_writer(spark, tmp_path, dtype):
    cube = _single(dtype, 28)
    meta = RasterMeta("b", W, H, gt=(1000, 10, 0, 5000, 0, -20),
                      dtype=dtype, block=BLOCK)
    p = str(tmp_path / "b.bt")
    RF.write_bt(_tiles(spark, cube, meta), meta, p)
    t, m = RF.read_bt(spark, p, block=BLOCK)
    _check(t, m, cube, dtype, meta.gt)


# ------------------------------------------------- one file or offset per band

def _fast_header(names, bits):
    h = bytearray(b" " * 5000)

    def put(off, text):
        h[off:off + len(text)] = text.encode()
    put(52, "ACQUISITION DATE =20020111")
    put(100, "SATELLITE =LANDSAT7  SENSOR =ETM+")
    put(200, f"PIXELS PER LINE ={W:5d} LINES PER BAND ={H:5d}")
    put(300, f"OUTPUT BITS PER PIXEL ={bits:2d}")
    for i, n in enumerate(names):
        put(400 + 40 * i, "FILENAME =" + n.ljust(29))
    return bytes(h)


def test_fast(spark, tmp_path):
    cube = _cube(">u2", nb=2, seed=29)
    _write(tmp_path / "h.fst", _fast_header(["band1.dat", "band2.dat"], 16))
    for b in range(2):
        _write(tmp_path / f"band{b + 1}.dat", cube[b])
    t, m, info = RF.read_fast(spark, str(tmp_path / "h.fst"), block=BLOCK)
    assert info["metadata"]["SATELLITE"] == "LANDSAT7"
    _check(t, m, cube, "uint16", (0, 1, 0, 0, 0, 1))


def _ndf(tmp_path, cube):
    names = [f"n.I{b + 1}" for b in range(cube.shape[0])]
    (tmp_path / "n.H1").write_text(
        "NDF_REVISION=2/0.0/;\n"
        f"PIXELS_PER_LINE={W};\nLINES_PER_DATA_FILE={H};\n"
        "PIXEL_SPACING=30.0,30.0;\n"
        "UPPER_LEFT_CORNER=0,0,500015.0,3999985.0;\n"
        + "".join(f"BAND{b + 1}_FILENAME={n};\n"
                  for b, n in enumerate(names))
        + "BITS_PER_PIXEL=16;\n")
    for b, n in enumerate(names):
        _write(tmp_path / n, cube[b])
    return str(tmp_path / "n.H1")


def test_ndf(spark, tmp_path):
    cube = _cube(">u2", seed=30)
    t, m, _ = RF.read_ndf(spark, _ndf(tmp_path, cube), block=BLOCK)
    _check(t, m, cube, "uint16", (500000, 30, 0, 4000000, 0, -30))


def test_ndf_window(spark, tmp_path):
    cube = _cube(">u2", seed=31)
    t, m, _ = RF.read_ndf(spark, _ndf(tmp_path, cube), block=BLOCK,
                          window=(7, 5, 25, 11))
    _check(t, m, cube[:, 5:16, 7:32], "uint16",
           (500210, 30, 0, 3999850, 0, -30))


def test_mff(spark, tmp_path):
    cube = _cube(">u2", nb=2, seed=32)
    (tmp_path / "m.hdr").write_text(
        f"IMAGE_FILE_FORMAT = MFF\nIMAGE_LINES = {H}\nLINE_SAMPLES = {W}\n"
        "BYTE_ORDER = MSB\n")
    for b in range(2):
        _write(tmp_path / f"m.i{b:02d}", cube[b])
    t, m = RF.read_mff(spark, str(tmp_path / "m.hdr"), block=BLOCK)
    _check(t, m, cube, "uint16", (0, 1, 0, 0, 0, -1))


@pytest.mark.parametrize("layout", ["BSQ", "BIL"])
def test_paux(spark, tmp_path, layout):
    cube = _cube("<u2", nb=2, seed=33)
    plane, line = 2 * W * H, 2 * W
    chans = ([f"16U 0 2 {line} Swapped", f"16U {plane} 2 {line} Swapped"]
             if layout == "BSQ" else
             [f"16U 0 2 {2 * line} Swapped", f"16U {line} 2 {2 * line} "
              "Swapped"])
    (tmp_path / "p.aux").write_text(
        f"AuxilaryTarget: p.raw\nRawDefinition: {W} {H} 2\n"
        + "".join(f"ChanDefinition-{i + 1}: {c}\n"
                  for i, c in enumerate(chans))
        + f"UpLeftX: 1000\nUpLeftY: 2000\nLoRightX: {1000 + 3 * W}\n"
        f"LoRightY: {2000 - 2 * H}\n")
    _write(tmp_path / "p.raw", _interleave(cube, layout))
    t, m = RF.read_paux(spark, str(tmp_path / "p.aux"), block=BLOCK)
    _check(t, m, cube, "uint16", (1000, 3, 0, 2000, 0, -2))


def test_paux_pixel_interleaved(spark, tmp_path):
    """Channels whose pixel offset is wider than the sample (BIP) read
    every pixel of the line, not only the first width / stride."""
    cube = _cube(">i2", nb=2, seed=34)
    (tmp_path / "p.aux").write_text(
        f"AuxilaryTarget: p.raw\nRawDefinition: {W} {H} 2\n"
        f"ChanDefinition-1: 16S 0 4 {4 * W}\n"
        f"ChanDefinition-2: 16S 2 4 {4 * W}\n")
    _write(tmp_path / "p.raw", _interleave(cube, "BIP"))
    t, m = RF.read_paux(spark, str(tmp_path / "p.aux"), block=BLOCK)
    _check(t, m, cube, "int16", (0, 1, 0, 0, 0, 1))


# ------------------------------------------------ single plane with an offset

def test_srtmhgt_writer(spark, tmp_path):
    n = 1201
    cube = _cube("int16", nb=1, seed=34, w=n, h=n)
    cell = 1.0 / 1200
    gt = (7 - cell / 2, cell, 0, 46 + cell / 2, 0, -cell)
    meta = RasterMeta("n45e007", n, n, gt=gt, dtype="int16",
                      nodata=-32768.0, block=256)
    p = str(tmp_path / "N45E007.hgt")
    RF.write_srtmhgt(from_array(spark, cube[0], meta), meta, p)
    t, m = RF.read_srtmhgt(spark, p, block=256)
    assert m.raster_id == "n45e007"
    _check(t, m, cube, "int16", gt, -32768.0)


def test_ilwis(spark, tmp_path):
    cube = _single("<i2", 35)
    (tmp_path / "i.mpr").write_text(
        "[Ilwis]\nType=BaseMap\n[Map]\nGeoRef=i.grf\n"
        f"Size={H} {W}\n[MapStore]\nData=i.mp#\nType=Int\n"
        "StartOffset=16\n")
    (tmp_path / "i.grf").write_text(
        f"[GeoRefCorners]\nMinX=1000\nMinY={2000 - 4 * H}\n"
        f"MaxX={1000 + 2 * W}\nMaxY=2000\n")
    _write(tmp_path / "i.mp#", b"\0" * 16, cube)
    t, m = RF.read_ilwis(spark, str(tmp_path / "i.mpr"), block=BLOCK)
    _check(t, m, cube, "int16", (1000, 2, 0, 2000, 0, -4))


@pytest.mark.parametrize("dtype", ["uint8", "int16", "float32"])
def test_idrisi_writer(spark, tmp_path, dtype):
    cube = _single(dtype, 36)
    meta = RasterMeta("r", W, H, gt=(1000, 2, 0, 2000, 0, -4), dtype=dtype,
                      block=BLOCK)
    p = str(tmp_path / "r.rst")
    RF.write_idrisi(_tiles(spark, cube, meta), meta, p)
    t, m = RF.read_idrisi(spark, p, block=BLOCK)
    _check(t, m, cube, dtype, meta.gt)


def test_idrisi_rgb24(spark, tmp_path):
    cube = _cube("uint8", seed=37)
    (tmp_path / "c.rdc").write_text(
        "file format : IDRISI Raster A.1\ndata type   : rgb24\n"
        f"file type   : binary\ncolumns     : {W}\nrows        : {H}\n"
        f"min. X      : 1000\nmax. X      : {1000 + 2 * W}\n"
        f"min. Y      : {2000 - 4 * H}\nmax. Y      : 2000\n")
    _write(tmp_path / "c.rst", _interleave(cube[::-1], "BIP"))   # B, G, R
    t, m = RF.read_idrisi(spark, str(tmp_path / "c.rst"), block=BLOCK)
    _check(t, m, cube, "uint8", (1000, 2, 0, 2000, 0, -4))


def _gsc(path, plane):
    h, w = plane.shape
    rec = 4 * w + 8
    buf = bytearray(2 * rec)
    struct.pack_into("<4i", buf, 0, 4 * w, w, h, 2)
    struct.pack_into("<8f", buf, rec + 12, 2.0, 4.0, 1000.0, 0, 0, 2000.0,
                     0, 0)
    rows = b"".join(b"\0" * 4 + plane[y].astype("<f4").tobytes() + b"\0" * 4
                    for y in range(h))
    return _write(path, buf, rows)


def test_gsc(spark, tmp_path):
    cube = _single("float32", 38)
    p = _gsc(tmp_path / "g.gsc", cube[0])
    t, m = RF.read_gsc(spark, p, block=BLOCK)
    _check(t, m, cube, "float32", (1000, 2, 0, 2000, 0, -4),
           -1.0000000150474662199e+30)


def _snodas(tmp_path, data_name="s.dat"):
    (tmp_path / "s.hdr").write_text(
        "Format version: NOHRSC GIS/RS raster file v1.1\n"
        f"Data file pathname: {data_name}\n"
        f"Number of columns: {W}\nNumber of rows: {H}\n"
        "Minimum x-axis coordinate: -124.5\n"
        f"Maximum x-axis coordinate: {-124.5 + 0.5 * W}\n"
        f"Minimum y-axis coordinate: {50 - 0.25 * H}\n"
        "Maximum y-axis coordinate: 50\nNo data value: -9999\n"
        "Minimum data value: 0\nMaximum data value: 100\n"
        "Data units: Meters\n")
    return str(tmp_path / "s.hdr")


def test_snodas(spark, tmp_path):
    cube = _single(">i2", 39)
    _write(tmp_path / "s.dat", cube)
    t, m, info = RF.read_snodas(spark, _snodas(tmp_path), block=BLOCK)
    assert info["units"] == "Meters"
    _check(t, m, cube, "int16", (-124.5, 0.5, 0, 50, 0, -0.25), -9999.0)


def test_ace2(spark, tmp_path):
    cube = _cube("<f4", nb=1, seed=40, w=180, h=180)
    p = _write(tmp_path / "15N030E_5M.ACE2", cube)
    t, m = RF.read_ace2(spark, p, block=BLOCK)
    _check(t, m, cube, "float32", (30, 1 / 12, 0, 30, 0, -1 / 12))


@pytest.mark.parametrize("ptype,dtype", [(0, "uint8"), (2, "<i2")])
def test_lan(spark, tmp_path, ptype, dtype):
    cube = _cube(dtype, seed=41)
    hdr = bytearray(128)
    hdr[:6] = b"HEAD74"
    struct.pack_into("<hh", hdr, 6, ptype, 3)
    struct.pack_into("<ii", hdr, 16, W, H)
    struct.pack_into("<4f", hdr, 112, 1001.0, 1999.0, 2.0, 2.0)
    p = _write(tmp_path / "l.lan", hdr, _interleave(cube, "BIL"))
    t, m = RF.read_lan(spark, p, block=BLOCK)
    _check(t, m, cube, str(np.dtype(dtype).newbyteorder("=")),
           (1000, 2, 0, 2000, 0, -2))


# ----------------------------------------------------- record prefix per line

def _ceos(path, cube, prefix=180, suffix=20):
    nb, h, w = cube.shape
    rec_len = 720
    irl = 12 + prefix + w + suffix
    fdr = bytearray(b" " * rec_len)
    struct.pack_into(">3I", fdr, 0, 1, 0x3FC01212, rec_len)

    def put(off, n, v):
        fdr[off:off + n] = f"{v:{n}d}".encode()
    put(180, 6, h * nb)
    put(186, 6, irl)
    put(216, 4, 8)
    put(232, 4, nb)
    put(236, 8, h)
    put(248, 8, w)
    put(276, 4, prefix)
    put(288, 4, suffix)
    recs = b"".join(
        struct.pack(">3I", 2 + y * nb + b, 0xEDED1212, irl)
        + b"\x07" * prefix + cube[b, y].tobytes() + b"\x09" * suffix
        for y in range(h) for b in range(nb))
    return _write(path, fdr, recs)


def test_ceos(spark, tmp_path):
    from gdal_spark.raster.ceos import read_ceos
    cube = _cube("uint8", nb=4, seed=42)
    p = _ceos(tmp_path / "IMAGERY.DAT", cube)
    t, m, img = read_ceos(spark, p, block=BLOCK)
    assert (img.n_bands, img.n_lines_avail) == (4, H)
    _check(t, m, cube, "uint8", (0, 1, 0, 0, 0, -1))


def _envisat(path, bands, data_type, sample_type, prefix=17):
    """Envisat product: MPH, SPH (+ one DSD per band and one ADS), then
    each band's records of ``prefix`` bytes + one big-endian line."""
    from gdal_spark.raster.envisat import MPH_SIZE

    def text(lines, size):
        t = "\n".join(lines) + "\n"
        return (t + " " * (size - len(t) - 1) + "\n").encode("iso8859-1")
    h, w = bands[0].shape[:2]
    dsr = prefix + bands[0][0].nbytes
    dsd_size, n_dsd = 280, len(bands) + 1
    sph_size = 800 + n_dsd * dsd_size
    mph = text(['PRODUCT="ASA_IMS_1PTEST"', f"SPH_SIZE=+{sph_size:010d}"
                "<bytes>", f"NUM_DSD=+{n_dsd:010d}",
                f"DSD_SIZE=+{dsd_size:010d}<bytes>"], MPH_SIZE)

    def dsd(name, typ, off, num, size):
        return text([f'DS_NAME="{name:<28s}"', f"DS_TYPE={typ}",
                     f"DS_OFFSET=+{off:020d}<bytes>",
                     f"DS_SIZE=+{num * size:020d}<bytes>",
                     f"NUM_DSR=+{num:010d}", f"DSR_SIZE=+{size:010d}<bytes>"],
                    dsd_size)
    start = MPH_SIZE + sph_size
    sph = text([f"LINE_LENGTH=+{w:05d}<samples>", f'DATA_TYPE="{data_type}"',
                f'SAMPLE_TYPE="{sample_type}"'], 800)
    sph += b"".join(dsd(f"MDS{b + 1}", "M", start + b * h * dsr, h, dsr)
                    for b in range(len(bands)))
    sph += dsd("GEOLOCATION GRID ADS", "A", start + len(bands) * h * dsr,
               0, 0)
    body = b"".join(b"\xee" * prefix + band[y].tobytes()
                    for band in bands for y in range(h))
    return _write(path, mph, sph, body)


@pytest.mark.parametrize("data_type,sample_type,disk,dtype", [
    ("UWORD", "DETECTED", ">u2", "uint16"),
    ("SWORD", "COMPLEX", ">i2", "complex64"),
    ("FLT32", "COMPLEX", ">f4", "complex64"),
    ("FLT32", "DETECTED", ">f4", "float32")])
def test_envisat(spark, tmp_path, data_type, sample_type, disk, dtype):
    from gdal_spark.raster.envisat import read_envisat
    complex_ = sample_type == "COMPLEX"
    pairs = _cube(disk, nb=2 * 2 if complex_ else 2, seed=43)
    if complex_:     # disk samples are (re, im) pairs
        bands = [np.stack([pairs[2 * b], pairs[2 * b + 1]], -1).astype(disk)
                 for b in range(2)]
        cube = np.stack([(pairs[2 * b].astype("f4")
                          + 1j * pairs[2 * b + 1].astype("f4"))
                         for b in range(2)]).astype(dtype)
    else:
        bands = list(pairs)
        cube = pairs.astype(dtype)
    p = _envisat(tmp_path / "ASA.N1", bands, data_type, sample_type)
    t, m, _ = read_envisat(spark, p, block=BLOCK)
    _check(t, m, cube, dtype, (0, 1, 0, 0, 0, -1))


# ----------------------------------------------------- truncated payloads

def _cut(path, nbytes):
    with open(path, "r+b") as f:
        f.truncate(nbytes)


def _present(offsets, itemsize, size):
    """Mask of samples whose bytes all lie before ``size``."""
    return offsets + itemsize <= size


def test_truncated_bil(spark, tmp_path):
    cube = _cube(">u2", seed=50)
    _envi_hdr(tmp_path / "e.hdr", 3, 12, "bil", ">", offset=64)
    p = _write(tmp_path / "e.dat", b"\0" * 64, _interleave(cube, "bil"))
    size = 64 + 2 * (W * 3 * 9 + W + 5)       # line 9, band 1, sample 5
    _cut(p, size)
    t, m = RF.read_envi(spark, p, block=BLOCK)
    y, x = np.mgrid[0:H, 0:W]
    for b in range(3):
        off = 64 + 2 * (y * 3 * W + b * W + x)
        want = np.where(_present(off, 2, size), cube[b], 0)
        np.testing.assert_array_equal(to_array(t, m, band=b), want)


def test_truncated_bottom_up(spark, tmp_path):
    cube = _single("float32", 51)
    meta = RasterMeta("s", W, H, gt=(99, 2, 0, 250, 0, -2),
                      dtype="float32", block=BLOCK)
    p = str(tmp_path / "s.grd")
    RF.write_gsbg(_tiles(spark, cube, meta), meta, p)
    size = 56 + 4 * (W * 15 + 11)
    _cut(p, size)
    t, m = RF.read_gsbg(spark, p, block=BLOCK)
    y, x = np.mgrid[0:H, 0:W]
    off = 56 + 4 * ((H - 1 - y) * W + x)
    np.testing.assert_array_equal(
        to_array(t, m), np.where(_present(off, 4, size), cube[0], 0))


def test_truncated_column_major(spark, tmp_path):
    cube = _single("int16", 52)
    meta = RasterMeta("b", W, H, gt=(1000, 10, 0, 5000, 0, -20),
                      dtype="int16", block=BLOCK)
    p = str(tmp_path / "b.bt")
    RF.write_bt(_tiles(spark, cube, meta), meta, p)
    size = 256 + 2 * (H * 30 + 7)
    _cut(p, size)
    t, m = RF.read_bt(spark, p, block=BLOCK)
    y, x = np.mgrid[0:H, 0:W]
    off = 256 + 2 * (x * H + (H - 1 - y))
    np.testing.assert_array_equal(
        to_array(t, m), np.where(_present(off, 2, size), cube[0], 0))


def test_truncated_band_file(spark, tmp_path):
    cube = _cube(">u2", nb=2, seed=53)
    _write(tmp_path / "h.fst", _fast_header(["b1.dat", "b2.dat"], 16))
    _write(tmp_path / "b1.dat", cube[0])
    _write(tmp_path / "b2.dat", cube[1].reshape(-1)[:W * 10 + 3])
    t, m, _ = RF.read_fast(spark, str(tmp_path / "h.fst"), block=BLOCK)
    np.testing.assert_array_equal(to_array(t, m, band=0), cube[0])
    want = cube[1].copy().reshape(-1)
    want[W * 10 + 3:] = 0
    np.testing.assert_array_equal(to_array(t, m, band=1),
                                  want.reshape(H, W))


def test_truncated_single_plane(spark, tmp_path):
    cube = _single(">i2", 54)
    _write(tmp_path / "s.dat", cube.reshape(-1)[:W * H // 2])
    t, m, _ = RF.read_snodas(spark, _snodas(tmp_path), block=BLOCK)
    want = cube[0].copy().reshape(-1)
    want[W * H // 2:] = 0
    np.testing.assert_array_equal(to_array(t, m), want.reshape(H, W))


def test_truncated_record_prefix(spark, tmp_path):
    from gdal_spark.raster.envisat import read_envisat
    cube = _cube(">u2", nb=2, seed=55)
    p = _envisat(tmp_path / "ASA.N1", list(cube), "UWORD", "DETECTED")
    size = os.path.getsize(p) - (17 + 2 * W) * 4 - 2 * 20
    _cut(p, size)
    t, m, _ = read_envisat(spark, p, block=BLOCK)
    np.testing.assert_array_equal(to_array(t, m, band=0), cube[0])
    want = cube[1].copy()
    want[H - 5, W - 20:] = 0
    want[H - 4:] = 0
    np.testing.assert_array_equal(to_array(t, m, band=1), want)
