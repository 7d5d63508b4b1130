"""Pure-numpy image/audio codecs (raster/imagecodec.py): PNG per the W3C
spec (filters 0-4), BMP, PNM, RIFF WAV — plus the real decode_image /
audio_features operators over Spark."""

from __future__ import annotations

import os
import struct
import zlib

import numpy as np
import pytest

from conftest import reference_fixture
from gdal_spark.raster import imagecodec as IC

DATA = os.path.join(os.path.dirname(__file__), "data")


def _img(h, w, c=None, seed=7):
    rng = np.random.default_rng(seed)
    shape = (h, w) if c is None else (h, w, c)
    return rng.integers(0, 256, shape, dtype=np.uint8)


@pytest.mark.parametrize("shape", [(33, 47), (20, 31, 3), (16, 16, 4),
                                   (5, 9, 2), (1, 1), (2, 3, 3)])
def test_png_roundtrip(shape):
    a = _img(*shape[:2], c=shape[2] if len(shape) == 3 else None)
    d = IC.png_decode(IC.png_encode(a))
    assert d.shape == a.shape and d.dtype == a.dtype
    np.testing.assert_array_equal(d, a)


def test_png_roundtrip_16bit():
    a = np.random.default_rng(3).integers(0, 65536, (9, 13),
                                          dtype=np.uint16)
    d = IC.png_decode(IC.png_encode(a))
    assert d.dtype == np.uint16
    np.testing.assert_array_equal(d, a)


def _wrap_png(W, H, depth, ctype, scanlines, plte=None):
    """Assemble a PNG from pre-filtered scanline bytes (test-side forward
    filtering, independent of the encoder under test)."""
    ihdr = struct.pack(">IIBBBBB", W, H, depth, ctype, 0, 0, 0)
    out = IC.PNG_SIG + IC._chunk(b"IHDR", ihdr)
    if plte is not None:
        out += IC._chunk(b"PLTE", plte.astype(np.uint8).tobytes())
    out += IC._chunk(b"IDAT", zlib.compress(scanlines))
    return out + IC._chunk(b"IEND", b"")


def _forward_filter(flat, ft, bpp):
    """Reference forward filtering, written independently of _unfilter:
    straight from the spec's Filt() equations, scalar loops."""
    H, rb = flat.shape
    out = bytearray()
    recon = flat.astype(np.int64)
    for y in range(H):
        out.append(ft)
        for x in range(rb):
            a = recon[y, x - bpp] if x >= bpp else 0
            b = recon[y - 1, x] if y else 0
            c = recon[y - 1, x - bpp] if (y and x >= bpp) else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc
                                                          else c)
            out.append((int(recon[y, x]) - pred) % 256)
    return bytes(out)


@pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
def test_png_all_filters_gray(ft):
    a = _img(11, 17, seed=ft)
    data = _wrap_png(17, 11, 8, 0, _forward_filter(a, ft, 1))
    np.testing.assert_array_equal(IC.png_decode(data), a)


@pytest.mark.parametrize("ft", [1, 3, 4])
def test_png_all_filters_rgb(ft):
    a = _img(7, 9, c=3, seed=ft + 10)
    data = _wrap_png(9, 7, 8, 2, _forward_filter(a.reshape(7, 27), ft, 3))
    np.testing.assert_array_equal(IC.png_decode(data), a)


def test_png_palette_and_subbyte():
    # 8-bit palette
    pal = _img(1, 16, c=3, seed=1).reshape(16, 3)
    idx = _img(6, 10, seed=2) % 16
    data = _wrap_png(10, 6, 8, 3, _forward_filter(idx, 0, 1), plte=pal)
    np.testing.assert_array_equal(IC.png_decode(data), pal[idx])
    # 1-bit gray: packed MSB-first, scaled to 0/255
    bits = (_img(5, 12, seed=3) > 127).astype(np.uint8)
    packed = np.packbits(bits, axis=1)
    data = _wrap_png(12, 5, 1, 0, _forward_filter(packed, 0, 1))
    np.testing.assert_array_equal(IC.png_decode(data), bits * 255)
    # 4-bit palette
    idx4 = _img(4, 6, seed=4) % 16
    nib = (idx4[:, 0::2] << 4) | idx4[:, 1::2]
    data = _wrap_png(6, 4, 4, 3, _forward_filter(nib, 0, 1), plte=pal)
    np.testing.assert_array_equal(IC.png_decode(data), pal[idx4])


def test_png_javaio_goldens():
    """Independent-writer goldens (javax.imageio PNG plugin), formula
    pixels: gray (7x+13y)%251; rgb channels %251/%241/%239."""
    y, x = np.mgrid[0:70, 0:90]
    img = IC.png_decode(open(f"{DATA}/javaio_gray.png", "rb").read())
    np.testing.assert_array_equal(img, ((x * 7 + y * 13) % 251
                                        ).astype(np.uint8))
    rgb = IC.png_decode(open(f"{DATA}/javaio_rgb.png", "rb").read())
    np.testing.assert_array_equal(rgb[:, :, 0], ((x * 7 + y * 13) % 251
                                                 ).astype(np.uint8))
    np.testing.assert_array_equal(rgb[:, :, 1], ((x * 3 + y * 5) % 241
                                                 ).astype(np.uint8))
    np.testing.assert_array_equal(rgb[:, :, 2], ((x * 11 + y * 2) % 239
                                                 ).astype(np.uint8))


def test_bmp_golden_and_roundtrip():
    y, x = np.mgrid[0:23, 0:37]
    img = IC.bmp_decode(open(f"{DATA}/javaio_24.bmp", "rb").read())
    np.testing.assert_array_equal(img[:, :, 0], ((x * 7 + y * 13) % 251
                                                 ).astype(np.uint8))
    a = _img(13, 21, c=3, seed=9)
    np.testing.assert_array_equal(IC.bmp_decode(IC.bmp_encode(a)), a)
    g = _img(8, 5, seed=10)
    np.testing.assert_array_equal(IC.bmp_decode(IC.bmp_encode(g)),
                                  np.repeat(g[:, :, None], 3, axis=2))


def test_pnm_roundtrip_and_comments():
    g = _img(6, 11, seed=11)
    np.testing.assert_array_equal(IC.pnm_decode(IC.pnm_encode(g)), g)
    c = _img(4, 7, c=3, seed=12)
    np.testing.assert_array_equal(IC.pnm_decode(IC.pnm_encode(c)), c)
    manual = b"P5\n# a comment\n 3 2\n255\n" + bytes(range(6))
    np.testing.assert_array_equal(
        IC.pnm_decode(manual),
        np.arange(6, dtype=np.uint8).reshape(2, 3))


def test_wav_roundtrip():
    s = (np.sin(np.arange(4000) * 0.03) * 9000).astype(np.int16)
    a, rate = IC.wav_decode(IC.wav_encode(s, 16000))
    assert rate == 16000
    np.testing.assert_array_equal(a[:, 0], s)
    stereo = np.stack([s, -s], axis=1)
    a2, _ = IC.wav_decode(IC.wav_encode(stereo, 44100))
    np.testing.assert_array_equal(a2, stereo)
    u8 = _img(1, 300, seed=13).reshape(-1)
    a3, _ = IC.wav_decode(IC.wav_encode(u8, 8000))
    np.testing.assert_array_equal(a3[:, 0], u8)


def test_detect_and_decode_any():
    g = _img(5, 7, seed=14)
    assert IC.detect_format(IC.png_encode(g)) == "png"
    assert IC.detect_format(IC.bmp_encode(g)) == "bmp"
    assert IC.detect_format(IC.pnm_encode(g)) == "pnm"
    assert IC.detect_format(IC.wav_encode(g.reshape(-1), 8000)) == "wav"
    assert IC.detect_format(b"\xff\xd8\xff\xe0xxxx") == "jpeg"
    with pytest.raises(ValueError, match="JPEG"):
        IC.decode_any(b"\xff\xd8\xff\xe0 not really a jpeg")
    # TIFF dispatch goes through the GeoTIFF parser
    from gdal_spark.raster.formats import geotiff_bytes
    from gdal_spark.raster.model import RasterMeta
    meta = RasterMeta("t", 7, 5, dtype="uint8", block=8)
    np.testing.assert_array_equal(
        IC.decode_any(geotiff_bytes([g], meta)), g)


def test_to_gray_bt601():
    rgb = np.zeros((1, 3, 3), dtype=np.uint8)
    rgb[0, 0] = (255, 0, 0)
    rgb[0, 1] = (0, 255, 0)
    rgb[0, 2] = (255, 255, 255)
    got = IC.to_gray(rgb)[0]
    assert list(got) == [(77 * 255 + 128) >> 8, (150 * 255 + 128) >> 8, 255]


def test_decode_image_operator_real(spark):
    """Spark-side real decode: PNG and BMP blobs in one column, luma
    grids out, exact against the closed-form pixel formula."""
    import pandas as pd

    from gdal_spark.operators import multimodal as MM

    y, x = np.mgrid[0:9, 0:12]
    blobs = []
    for did in range(6):
        px = ((did * 7 + y * 13 + x) % 251).astype(np.uint8)
        blobs.append((did, IC.png_encode(px) if did % 2 == 0
                      else IC.bmp_encode(px)))
    df = spark.createDataFrame(pd.DataFrame(blobs,
                                            columns=["doc_id", "blob"]))
    out = {r["doc_id"]: r for r in MM.decode_image(df).collect()}
    assert len(out) == 6
    for did in range(6):
        r = out[did]
        assert (r["h"], r["w"]) == (9, 12)
        got = np.frombuffer(bytes(r["pixels"]), dtype=np.uint8).reshape(9, 12)
        np.testing.assert_array_equal(
            got, ((did * 7 + y * 13 + x) % 251).astype(np.uint8))


def test_audio_features_operator(spark):
    import pandas as pd

    from gdal_spark.operators import multimodal as MM

    i = np.arange(200, dtype=np.int64)
    rows = [(did, IC.wav_encode(((did * 31 + i * 17) % 1999 - 999
                                 ).astype(np.int16), 8000))
            for did in range(4)]
    df = spark.createDataFrame(pd.DataFrame(rows,
                                            columns=["doc_id", "blob"]))
    out = {r["doc_id"]: r for r in MM.audio_features(df).collect()}
    for did in range(4):
        v = (did * 31 + i * 17) % 1999 - 999
        r = out[did]
        assert r["n_samples"] == 200 and r["rate"] == 8000
        assert r["sq_sum"] == int((v ** 2).sum())
        assert r["zero_crossings"] == int(((v[1:] >= 0)
                                           != (v[:-1] >= 0)).sum())


def test_gif_golden_javaio():
    """Independent-writer golden (javax.imageio GIF plugin), gray
    formula pixels (7x+13y)%251 on a 61x43 grid."""
    img = IC.gif_decode(open(f"{DATA}/javaio_gray.gif", "rb").read())
    y, x = np.mgrid[0:43, 0:61]
    np.testing.assert_array_equal(img, ((x * 7 + y * 13) % 251
                                        ).astype(np.uint8))


def test_gif_roundtrip():
    g = _img(70, 90, seed=20)
    np.testing.assert_array_equal(IC.gif_decode(IC.gif_encode(g)), g)
    # ≤256-color RGB keeps exact colors through the palette
    rgb = np.array([[(10, 20, 30), (200, 100, 50)],
                    [(10, 20, 30), (0, 0, 0)]], dtype=np.uint8)
    np.testing.assert_array_equal(IC.gif_decode(IC.gif_encode(rgb)), rgb)
    # large random frame forces 12-bit codes + table clears
    big = _img(300, 400, seed=21)
    np.testing.assert_array_equal(IC.gif_decode(IC.gif_encode(big)), big)
    with pytest.raises(ValueError, match="quantize"):
        IC.gif_encode(_img(40, 40, c=3, seed=22))
    assert IC.detect_format(IC.gif_encode(g)) == "gif"
    np.testing.assert_array_equal(IC.decode_any(IC.gif_encode(g)), g)


def test_gif_interlaced():
    """Interlaced frame: rows arrive in the 4-pass order; synthesize one
    by forward-permuting rows and setting the interlace flag."""
    import struct as _s
    g = _img(19, 8, seed=23)
    plain = bytearray(IC.gif_encode(g))
    # encode the row-permuted image, then flip the interlace bit
    order = np.concatenate([np.arange(s, 19, t)
                            for s, t in IC._GIF_INTERLACE])
    permuted = IC.gif_encode(g[order])
    buf = bytearray(permuted)
    # image descriptor starts after header(6)+lsd(7)+gct(768): 0x2C at 781
    assert buf[781] == 0x2C
    buf[781 + 9] |= 0x40
    np.testing.assert_array_equal(IC.gif_decode(bytes(buf)), g)
    assert len(plain) > 0  # keep the non-interlaced artifact exercised


# ---------------------------------------------------------------------------
# JPEG (raster/jpegcodec.py) — baseline decode vs libjpeg-family goldens
# ---------------------------------------------------------------------------

def _jpeg_golden(name, shape):
    """Our decode of a javax.imageio-written JPEG vs javax.imageio's OWN
    decode of the same file. T.81 doesn't mandate a bit-exact IDCT, so
    parity is a ±tolerance contract, not equality."""
    from gdal_spark.raster import jpegcodec as JC
    ours = JC.jpeg_decode(open(f"{DATA}/{name}.jpg", "rb").read())
    ref = np.frombuffer(open(f"{DATA}/{name}_jpg.raw", "rb").read(),
                        dtype=np.uint8).reshape(shape)
    assert ours.shape == ref.shape
    diff = np.abs(ours.astype(int) - ref.astype(int))
    return diff


def test_jpeg_gray_golden():
    diff = _jpeg_golden("javaio_gray", (64, 96))
    assert diff.max() <= 1 and (diff == 0).mean() > 0.97


def test_jpeg_rgb_420_golden():
    """4:2:0 chroma, fancy (triangle) upsampling parity."""
    diff = _jpeg_golden("javaio_rgb", (64, 96, 3))
    assert diff.max() <= 2 and (diff == 0).mean() > 0.95


def test_jpeg_odd_dims_golden():
    """Non-multiple-of-16 dims: MCU padding cropped, edge-replicated
    fancy upsample."""
    diff = _jpeg_golden("javaio_odd", (43, 65, 3))
    assert diff.max() <= 3 and (diff == 0).mean() > 0.95


def test_jpeg_destuff_and_guards():
    from gdal_spark.raster import jpegcodec as JC
    # 0xFF00 destuffing + RSTn segment split
    segs, end = JC._destuff(
        b"\x01\xff\x00\x02\xff\xd0\x03\xff\xd7\x04\xff\xd9", 0)
    assert segs == [b"\x01\xff\x02", b"\x03", b"\x04"]
    with pytest.raises(ValueError, match="SOI"):
        JC.jpeg_decode(b"not a jpeg")
    # non-baseline/non-progressive SOFs must raise clearly, not garbage
    data = bytearray(open(f"{DATA}/javaio_gray.jpg", "rb").read())
    pos = data.find(b"\xff\xc0")
    data[pos + 1] = 0xC3  # lossless sequential
    with pytest.raises(NotImplementedError, match="SOF3"):
        JC.jpeg_decode(bytes(data))
    # decode_any dispatches jpeg now
    IC.decode_any(open(f"{DATA}/javaio_gray.jpg", "rb").read())


# ---------------------------------------------------------------------------
# video containers: animated GIF + MJPEG AVI
# ---------------------------------------------------------------------------

def test_gif_animated_golden():
    """4-frame javax.imageio animation: our composited frames match the
    formula AND Java's own frame-by-frame reader dump."""
    frames = IC.gif_decode_frames(
        open(f"{DATA}/javaio_anim.gif", "rb").read())
    assert len(frames) == 4
    y, x = np.mgrid[0:25, 0:40]
    ref = np.frombuffer(open(f"{DATA}/javaio_anim_gif.raw", "rb").read(),
                        dtype=np.uint8).reshape(4, 25, 40)
    for f, fr in enumerate(frames):
        np.testing.assert_array_equal(
            fr[:, :, 0], ((x * 7 + y * 13 + f * 31) % 251
                          ).astype(np.uint8))
        np.testing.assert_array_equal(fr[:, :, 0], ref[f])


def test_gif_animated_writer_roundtrip():
    rng = np.random.default_rng(9)
    fs = [rng.integers(0, 256, (30, 47), dtype=np.uint8) for _ in range(5)]
    back = IC.gif_decode_frames(IC.gif_encode_frames(fs))
    assert len(back) == 5
    for a, b in zip(fs, back):
        np.testing.assert_array_equal(a, b[:, :, 0])


def test_gif_transparency_composite():
    """GCE transparent index: later frames leave transparent pixels
    showing the prior frame."""
    base = IC.gif_encode_frames(
        [np.full((4, 6), 9, np.uint8), np.full((4, 6), 200, np.uint8)])
    # patch frame 2's GCE to transparency on index 200
    buf = bytearray(base)
    pos = buf.find(b"\x21\xf9", buf.find(b"\x21\xf9") + 1)
    buf[pos + 2 + 1] |= 1          # transparency flag
    buf[pos + 2 + 4] = 200         # transparent index
    frames = IC.gif_decode_frames(bytes(buf))
    np.testing.assert_array_equal(frames[1], frames[0])  # all masked


def test_avi_mjpeg_roundtrip():
    jfs = [open(f"{DATA}/javaio_gray.jpg", "rb").read(),
           open(f"{DATA}/javaio_rgb.jpg", "rb").read()]
    avi = IC.avi_encode_mjpeg(jfs, 96, 64, fps=5)
    assert IC.detect_format(avi) == "avi"
    assert IC.avi_decode_frames(avi) == jfs
    with pytest.raises(ValueError, match="AVI"):
        IC.avi_decode_frames(b"RIFFxxxxWAVE")


def test_video_frames_operator(spark):
    """Real video sampling over Spark: one animated GIF + one MJPEG AVI
    blob, every-2nd frame, luma grids out."""
    import pandas as pd

    from gdal_spark.operators import multimodal as MM

    y, x = np.mgrid[0:9, 0:12]
    gif_frames = [((y * 13 + x + f * 31) % 251).astype(np.uint8)
                  for f in range(4)]
    gif_blob = IC.gif_encode_frames(gif_frames)
    jpg = open(f"{DATA}/javaio_gray.jpg", "rb").read()
    avi_blob = IC.avi_encode_mjpeg([jpg] * 3, 96, 64)
    df = spark.createDataFrame(
        pd.DataFrame([(1, gif_blob), (2, avi_blob)],
                     columns=["doc_id", "blob"]))
    rows = MM.video_frames(df, every=2).collect()
    got = {(r["doc_id"], r["frame_no"]): r for r in rows}
    assert set(got) == {(1, 0), (1, 2), (2, 0), (2, 2)}
    g = np.frombuffer(bytes(got[(1, 2)]["pixels"]),
                      dtype=np.uint8).reshape(9, 12)
    np.testing.assert_array_equal(g, gif_frames[2])
    assert (got[(2, 0)]["h"], got[(2, 0)]["w"]) == (64, 96)


# ---------------------------------------------------------------------------
# Adam7 interlaced PNG (spec section 8.2)
# ---------------------------------------------------------------------------

def test_png_adam7_reference_golden():
    """The reference's own interlaced fixture: stefan_full_rgba.png is
    Adam7 (interlace byte 1), and its band checksums are pinned across
    the reference suite (webp.py:139, test_gdal_calc.py:82-85 expect
    12603/58561 for bands 1-2)."""
    data = open(reference_fixture("gcore/data/stefan_full_rgba.png"),
                "rb").read()
    assert data[28] == 1  # interlaced
    img = IC.png_decode(data)
    assert img.shape == (150, 162, 4)
    from gdal_spark.raster.checksum import py_checksum
    assert [py_checksum(img[:, :, i]) for i in range(4)] == \
        [12603, 58561, 36064, 10807]


def _adam7_encode(arr):
    """Minimal Adam7 writer (filter 0 rows) for round-trip tests."""
    import struct
    import zlib
    H, W = arr.shape[:2]
    ch = 1 if arr.ndim == 2 else arr.shape[2]
    a3 = arr.reshape(H, W, ch)
    ctype = {1: 0, 3: 2, 4: 6}[ch]
    depth = 16 if arr.dtype == np.uint16 else 8
    raw = bytearray()
    for x0, y0, dx, dy in IC._ADAM7:
        sub = a3[y0::dy, x0::dx, :]
        if sub.size == 0:
            continue
        dt = ">u2" if depth == 16 else np.uint8
        for row in sub:
            raw += b"\x00" + row.astype(dt).tobytes()
    ihdr = struct.pack(">IIBBBBB", W, H, depth, ctype, 0, 0, 1)
    out = IC.PNG_SIG + IC._chunk(b"IHDR", ihdr) \
        + IC._chunk(b"IDAT", zlib.compress(bytes(raw))) \
        + IC._chunk(b"IEND", b"")
    return bytes(out)


@pytest.mark.parametrize("shape,dtype", [((21, 13), np.uint8),
                                         ((16, 16, 3), np.uint8),
                                         ((7, 5, 4), np.uint8),
                                         ((9, 11), np.uint16)])
def test_png_adam7_roundtrip(shape, dtype):
    rng = np.random.default_rng(9)
    hi = 65535 if dtype == np.uint16 else 255
    arr = rng.integers(0, hi + 1, shape).astype(dtype)
    img = IC.png_decode(_adam7_encode(arr))
    np.testing.assert_array_equal(img.reshape(arr.shape), arr)


# ---------------------------------------------------------------------------
# Progressive JPEG (SOF2, T.81 Annex G / libjpeg jdphuff.c semantics)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("name,shape", [
    ("javaio_prog_gray", (64, 96)),
    ("javaio_prog_rgb", (64, 96, 3)),       # 4:2:0 chroma + refinements
    ("javaio_prog_odd", (43, 65, 3)),       # MCU padding on both axes
])
def test_jpeg_progressive_golden(name, shape):
    """Independent-writer goldens: javax.imageio-written progressive
    JPEGs (spectral selection + successive approximation, the libjpeg
    default scan script) vs imageio's own decode — bit-exact, since both
    decoders run the islow IDCT + fixed-point color path."""
    from gdal_spark.raster import jpegcodec as JC
    data = open(f"{DATA}/{name}.jpg", "rb").read()
    # really progressive: SOF2 present
    assert any(data[i] == 0xFF and data[i + 1] == 0xC2
               for i in range(len(data) - 1))
    ours = JC.jpeg_decode(data)
    ref = np.frombuffer(open(f"{DATA}/{name}_jpg.raw", "rb").read(),
                        dtype=np.uint8).reshape(shape)
    np.testing.assert_array_equal(ours.reshape(shape), ref)
