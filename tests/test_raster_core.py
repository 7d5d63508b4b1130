"""Raster model / checksum / stats / pyramid tests.

Golden strategy mirrors autotest (SURVEY.md §5): deterministic synthetic
rasters, driver-side numpy twins as ground truth, exact equality for
integer paths.
"""

import numpy as np
import pytest

from conftest import reference_fixture
from gdal_spark.raster import checksum as CK
from gdal_spark.raster import model as M
from gdal_spark.raster import pyramid as PY
from gdal_spark.raster import stats as ST


# lambda (pickled by value) — executors can't import the tests package
formula = lambda X, Y: (X * 31 + Y * 17) % 251  # noqa: E731


@pytest.fixture(scope="module")
def meta():
    return M.RasterMeta("t", width=300, height=200, gt=(100.0, 0.5, 0.0, 80.0, 0.0, -0.5))


@pytest.fixture(scope="module")
def arr(meta):
    X, Y = np.meshgrid(np.arange(meta.width), np.arange(meta.height))
    return formula(X, Y).astype(np.uint8)


@pytest.fixture(scope="module")
def tiles(spark, meta):
    return M.synthetic_raster(spark, meta, formula).cache()


def test_roundtrip(spark, meta, arr, tiles):
    # synthetic_raster and from_array produce the identical raster
    got = M.to_array(tiles, meta)
    np.testing.assert_array_equal(got, arr)
    got2 = M.to_array(M.from_array(spark, arr, meta), meta)
    np.testing.assert_array_equal(got2, arr)


def test_geotransform_roundtrip(meta):
    x, y = meta.pixel_to_geo(10.5, 20.25)
    px, py = meta.geo_to_pixel(x, y)
    assert px == pytest.approx(10.5) and py == pytest.approx(20.25)


def test_checksum_matches_reference_twin(spark, meta, arr, tiles):
    want = CK.py_checksum(arr)
    rows = CK.checksum(tiles, meta).collect()
    assert len(rows) == 1
    assert rows[0]["checksum"] == want
    # partitioning independence: different block size, same checksum
    meta64 = M.RasterMeta("t", meta.width, meta.height, meta.gt, block=64)
    t64 = M.from_array(spark, arr, meta64)
    assert CK.checksum(t64, meta64).collect()[0]["checksum"] == want


def test_checksum_float_nan_rule(spark):
    a = np.array([[1.4, 2.6], [np.nan, -3.7]], dtype=np.float64)
    m = M.RasterMeta("f", 2, 2, dtype="float64")
    got = CK.checksum(M.from_array(spark, a, m), m).collect()[0]["checksum"]
    # reference conversion: +0.5 floor → 1, 3, NaN→-2147483648, floor(-3.2)=-4
    vals = [1, 3, -2147483648, -4]
    want = 0
    for k, v in enumerate(vals):
        r = v - int(v / CK.PRIMES[k % 11]) * int(CK.PRIMES[k % 11])  # C trunc %
        want = (want + r) & 0xFFFF
    assert got == want


def test_stats(spark, meta, arr, tiles):
    r = ST.compute_statistics(tiles, meta).collect()[0]
    v = arr.astype(np.float64)
    assert r["n"] == arr.size
    assert r["min"] == v.min() and r["max"] == v.max()
    assert r["mean"] == pytest.approx(v.mean(), rel=1e-12)
    assert r["stddev"] == pytest.approx(v.std(), rel=1e-9)


def test_stats_nodata(spark):
    a = np.array([[0, 5], [0, 7]], dtype=np.uint8)
    m = M.RasterMeta("nd", 2, 2, nodata=0)
    r = ST.compute_statistics(M.from_array(spark, a, m), m).collect()[0]
    assert r["n"] == 2 and r["min"] == 5 and r["max"] == 7 and r["mean"] == 6


def test_histogram(spark, meta, arr, tiles):
    rows = ST.histogram(tiles, meta, 0.0, 256.0, 16).collect()
    got = {r["bucket"]: r["count"] for r in rows}
    want_counts, _ = np.histogram(arr, bins=16, range=(0, 256))
    want = {i: int(c) for i, c in enumerate(want_counts) if c}
    assert got == want


def test_pyramid_average_exact(spark, meta, arr, tiles):
    out, out_meta = PY.overview_level(tiles, meta, "t_ov1")
    got = M.to_array(out, out_meta)
    assert out_meta.width == 150 and out_meta.height == 100
    # reference rounding: (sum + 2) // 4 per full 2x2 box
    s = arr[0::2, 0::2].astype(np.int64) + arr[1::2, 1::2] \
        + arr[0::2, 1::2] + arr[1::2, 0::2]
    want = ((s + 2) // 4).astype(np.uint8)
    np.testing.assert_array_equal(got, want)
    # geotransform scaled
    assert out_meta.gt[1] == meta.gt[1] * 2


def test_pyramid_odd_edges(spark):
    a = (np.arange(25, dtype=np.uint8).reshape(5, 5) * 7) % 256
    m = M.RasterMeta("odd", 5, 5)
    out, om = PY.overview_level(M.from_array(spark, a, m), m, "odd_ov")
    got = M.to_array(out, om)
    assert om.width == 3 and om.height == 3
    # bottom-right corner: single pixel box
    assert got[2, 2] == a[4, 4]
    # right edge: 2x1 box with (sum + 1) // 2
    assert got[0, 2] == (int(a[0, 4]) + int(a[1, 4]) + 1) // 2


def test_pyramid_chain(spark, meta, tiles):
    levels = PY.build_pyramid(tiles, meta, 3)
    assert [m.width for _, m in levels] == [150, 75, 38]
    n = levels[-1][0].count()
    assert n == 1  # 38x25 fits one block


def test_pyramid_average_signed_trunc():
    """C truncating division vs numpy floor: box sum -5 → (-5+2)/4 = 0 in C
    (trunc toward zero), not -1 (floor)."""
    arr = np.array([[-1, -1], [-1, -2]], dtype=np.int16)
    out = PY.downsample2x_average(arr)
    assert out.dtype == np.int16
    assert out[0, 0] == 0
    # positive twin rounds half-up as before
    arr2 = np.array([[1, 1], [1, 2]], dtype=np.int16)
    assert PY.downsample2x_average(arr2)[0, 0] == 1


def test_checksum_int32_clamp():
    """uint32/int64 values above 2^31-1 clamp through GInt32 (GDALCopyWords)."""
    big = np.array([[3_000_000_000]], dtype=np.uint32)
    assert CK._to_int32(big)[0, 0] == 2147483647
    neg = np.array([[-3_000_000_000]], dtype=np.int64)
    assert CK._to_int32(neg)[0, 0] == -2147483648
    small = np.array([[42]], dtype=np.uint8)
    assert CK._to_int32(small)[0, 0] == 42


# ---------------------------------------------------------------------------
# GAUSS / MODE overview resamplers (overview.cpp reference twins)
# ---------------------------------------------------------------------------

def ref_gauss_2x(arr):
    """Sequential port of GDALResampleChunk32R_Gauss (overview.cpp:509-700)
    for a /2 overview: 3x3 binomial window at [2g, 2g+3), edge-normalized."""
    H, W = arr.shape
    oh, ow = (H + 1) // 2, (W + 1) // 2
    MTX = [[1, 2, 1], [2, 4, 2], [1, 2, 1]]
    out = np.zeros((oh, ow), dtype=np.float32)
    for d in range(oh):
        for p in range(ow):
            tot, cnt = 0.0, 0
            for j in range(3):
                for i in range(3):
                    y, x = 2 * d + j, 2 * p + i
                    if y < H and x < W:
                        tot += float(arr[y, x]) * MTX[j][i]
                        cnt += MTX[j][i]
            out[d, p] = np.float32(tot / cnt) if cnt else 0.0
    return out


def ref_mode_2x(arr):
    """Sequential port of GDALResampleChunk32R_Mode box loops for /2."""
    H, W = arr.shape
    oh, ow = (H + 1) // 2, (W + 1) // 2
    out = np.empty((oh, ow), dtype=arr.dtype)
    for d in range(oh):
        y0 = 2 * d
        y1 = min(2 * d + 2, H)
        if y0 == H:
            y0 = H - 1
        for p in range(ow):
            x0 = 2 * p
            x1 = min(2 * p + 2, W)
            if x0 == W:
                x0 = W - 1
            counts, winner, maxc = {}, None, 0
            for y in range(y0, y1):
                for x in range(x0, x1):
                    v = arr[y, x]
                    counts[v] = counts.get(v, 0) + 1
                    if counts[v] > maxc:
                        maxc, winner = counts[v], v
            out[d, p] = winner
    return out


@pytest.mark.parametrize("shape", [(40, 60), (41, 61)])
def test_overview_gauss_matches_twin(spark, shape):
    rng = np.random.RandomState(3)
    arr = rng.randint(0, 255, size=shape).astype(np.uint8)
    meta = M.RasterMeta("g", shape[1], shape[0], block=16)
    out, om = PY.overview_level(M.from_array(spark, arr, meta), meta,
                                "g_ov", method="gauss")
    got = M.to_array(out, om)
    want = np.clip(np.floor(ref_gauss_2x(arr) + 0.5), 0, 255).astype(np.uint8)
    np.testing.assert_array_equal(got, want)


@pytest.mark.parametrize("shape", [(40, 60), (41, 61)])
def test_overview_mode_matches_twin(spark, shape):
    rng = np.random.RandomState(4)
    arr = rng.randint(0, 4, size=shape).astype(np.uint8)  # dense ties
    meta = M.RasterMeta("m", shape[1], shape[0], block=16)
    out, om = PY.overview_level(M.from_array(spark, arr, meta), meta,
                                "m_ov", method="mode")
    got = M.to_array(out, om)
    np.testing.assert_array_equal(got, ref_mode_2x(arr))


def test_locate_points_matches_raster(spark):
    """gdallocationinfo twin: values read back equal the array; outside
    points get null val with computed pixel indices."""
    arr = ((np.arange(20 * 30).reshape(20, 30) * 7) % 251).astype(np.uint8)
    meta = M.RasterMeta("loc", 30, 20, gt=(100.0, 2.0, 0.0, 80.0, 0.0, -2.0),
                        block=8)
    tiles = M.from_array(spark, arr, meta)
    pts = spark.createDataFrame(
        [(0, 101.0, 79.0), (1, 159.9, 40.1), (2, 99.0, 79.0), (3, 120.5, 10.0)],
        "pid long, lon double, lat double")
    got = {r["pid"]: r for r in
           M.locate_points(pts, tiles, meta).collect()}
    assert got[0]["px"] == 0 and got[0]["py"] == 0
    assert got[0]["val"] == float(arr[0, 0])
    assert got[1]["px"] == 29 and got[1]["py"] == 19
    assert got[1]["val"] == float(arr[19, 29])
    assert got[2]["val"] is None          # west of the raster
    assert got[3]["val"] is None          # south of the raster
    assert len(got) == 4


def test_locate_points_sparse_blocks_report_fill(spark):
    """Round-2 ADVICE regression: tile frames are sparse (only blocks with
    pixels exist); an in-bounds point whose block row is absent must report
    the raster fill value (nodata if set, else 0) — one output row per
    input point, not a silent drop."""
    meta = M.RasterMeta("sparse", 32, 32, gt=(0.0, 1.0, 0.0, 32.0, 0.0, -1.0),
                        block=16, nodata=255.0)
    # only block (0,0) exists; blocks (1,0),(0,1),(1,1) are absent
    sub = np.full((16, 16), 7, dtype=np.uint8)
    tiles = spark.createDataFrame(
        [("sparse", 0, 0, 0, 16, 16, bytearray(sub.tobytes()))], M.TILE_SCHEMA)
    pts = spark.createDataFrame(
        [(0, 5.0, 27.0),    # in block (0,0) -> 7
         (1, 20.0, 27.0),   # in-bounds, block (1,0) absent -> nodata fill
         (2, 20.0, 5.0),    # in-bounds, block (1,1) absent -> nodata fill
         (3, -5.0, 27.0)],  # outside -> null
        "pid long, lon double, lat double")
    got = {r["pid"]: r for r in M.locate_points(pts, tiles, meta).collect()}
    assert len(got) == 4
    assert got[0]["val"] == 7.0
    assert got[1]["val"] == 255.0
    assert got[2]["val"] == 255.0
    assert got[3]["val"] is None


# ---------------------------------------------------------------------------
# complex overviews (GDALResampleChunkC32R, overview.cpp:1769-1935)
# ---------------------------------------------------------------------------

def test_complex_average_components():
    from gdal_spark.raster.pyramid import downsample2x_average_complex
    arr = np.array([[1 + 2j, 3 + 4j], [5 + 6j, 7 + 8j]], dtype=np.complex64)
    out = downsample2x_average_complex(arr)
    assert out.shape == (1, 1)
    assert out[0, 0] == np.complex64(4 + 5j)


def test_magphase_preserves_mean_magnitude():
    from gdal_spark.raster.pyramid import downsample2x_magphase
    # opposite phases: vector mean is small, magnitude mean is not
    arr = np.array([[1 + 0j, -1 + 0.5j], [0 + 1j, 0.5 - 1j]],
                   dtype=np.complex64)
    out = downsample2x_magphase(arr)
    want_mag = np.mean(np.abs(arr.astype(np.complex128)))
    assert abs(out[0, 0]) == pytest.approx(want_mag, rel=1e-6)
    # phase equals the vector-mean phase
    vm = arr.astype(np.complex128).mean()
    assert np.angle(out[0, 0]) == pytest.approx(np.angle(vm), abs=1e-6)


def test_magphase_zero_mean_keeps_ratio_one():
    from gdal_spark.raster.pyramid import downsample2x_magphase
    arr = np.array([[1 + 0j, -1 + 0j], [0 + 1j, 0 - 1j]], dtype=np.complex64)
    out = downsample2x_magphase(arr)
    # vector mean is exactly 0 → reference keeps the (0,0) value
    assert out[0, 0] == 0


def test_magphase_constant_field_identity():
    from gdal_spark.raster.pyramid import downsample2x_magphase
    arr = np.full((4, 4), 3 - 4j, dtype=np.complex64)
    out = downsample2x_magphase(arr)
    assert np.allclose(out, 3 - 4j, rtol=1e-6)


def test_magphase_odd_edges():
    from gdal_spark.raster.pyramid import downsample2x_magphase
    arr = (np.arange(15, dtype=np.float32).reshape(3, 5)
           + 1j * np.ones((3, 5), dtype=np.float32)).astype(np.complex64)
    out = downsample2x_magphase(arr)
    assert out.shape == (2, 3)
    # 1x1 corner box passes through
    assert out[1, 2] == np.complex64(arr[2, 4])


def test_overview_level_complex_roundtrip(spark):
    from gdal_spark.raster import model as RM
    from gdal_spark.raster import pyramid as PY
    meta = RM.RasterMeta("c1", 8, 8, gt=(0, 1, 0, 0, 0, 1),
                         dtype="complex64", nodata=None, block=4)
    arr = (np.arange(64, dtype=np.float32).reshape(8, 8)
           + 1j * np.ones((8, 8), dtype=np.float32)).astype(np.complex64)
    tiles = RM.from_array(spark, arr, meta)
    out, om = PY.overview_level(tiles, meta, "c1_ov",
                                method="average_magphase")
    got = np.zeros((4, 4), dtype=np.complex64)
    for r in out.collect():
        sub = np.frombuffer(bytes(r.data), dtype="complex64").reshape(r.h, r.w)
        got[r.by * 4:r.by * 4 + r.h, r.bx * 4:r.bx * 4 + r.w] = sub
    from gdal_spark.raster.pyramid import downsample2x_magphase
    assert np.allclose(got, downsample2x_magphase(arr), rtol=1e-7)


def test_average_magphase_rejects_real(spark):
    from gdal_spark.raster import model as RM
    from gdal_spark.raster import pyramid as PY
    meta = RM.RasterMeta("r1", 8, 8, gt=(0, 1, 0, 0, 0, 1),
                         dtype="float32", nodata=None, block=4)
    with pytest.raises(ValueError):
        PY.overview_level(None, meta, "x", method="average_magphase")


# --- band mask model (autotest/gcore/mask.py mask_1..mask_3) -----------------

def test_mask_all_valid_golden(spark):
    """mask_1: byte.tif has no nodata and no alpha -> GMF_ALL_VALID,
    mask checksum 4873 (constant 255 over 20x20)."""
    from gdal_spark.raster import formats as FM
    from gdal_spark.raster import mask as MK
    from gdal_spark.raster.checksum import py_checksum
    path = reference_fixture("gcore/data/byte.tif")
    bands, meta = FM.parse_geotiff(open(path, "rb").read())
    tiles = M.from_array(spark, bands[0], meta)
    assert MK.mask_flags(meta) == MK.GMF_ALL_VALID
    mt, mm = MK.mask_band(tiles, meta)
    assert py_checksum(M.to_array(mt, mm)) == 4873


def test_mask_nodata_golden(spark):
    """mask_2: byte.vrt declares NodataValue 107 -> GMF_NODATA, mask
    checksum 4209 (255 where pixel != 107)."""
    from gdal_spark.raster import mask as MK
    from gdal_spark.raster import vrt as VRT
    from gdal_spark.raster.checksum import py_checksum
    tiles, meta = VRT.read_vrt(
        spark, reference_fixture("gcore/data/byte.vrt"))
    assert meta.nodata == 107.0
    assert MK.mask_flags(meta) == MK.GMF_NODATA
    mt, mm = MK.mask_band(tiles, meta)
    assert py_checksum(M.to_array(mt, mm)) == 4209


def test_mask_alpha_golden(spark):
    """mask_3: stefan_full_rgba.png band 1 mask is the alpha band
    verbatim (GMF_ALPHA|GMF_PER_DATASET, checksum 10807); the alpha
    band itself is all-valid (checksum 36074)."""
    from gdal_spark.raster import imagecodec as IC
    from gdal_spark.raster import mask as MK
    from gdal_spark.raster.checksum import py_checksum
    img = IC.png_decode(open(
        reference_fixture("gcore/data/stefan_full_rgba.png"),
        "rb").read())
    meta = M.RasterMeta("rgba", img.shape[1], img.shape[0], dtype="uint8")
    tiles = None
    for b in range(4):
        t = M.from_array(spark, img[:, :, b], meta, band=b)
        tiles = t if tiles is None else tiles.unionAll(t)
    assert MK.mask_flags(meta, band=0, alpha_band=3) == \
        MK.GMF_ALPHA + MK.GMF_PER_DATASET
    for b in (0, 1, 2):
        mt, mm = MK.mask_band(tiles, meta, band=b, alpha_band=3)
        assert py_checksum(M.to_array(mt, mm)) == 10807
    assert MK.mask_flags(meta, band=3, alpha_band=3) == MK.GMF_ALL_VALID
    mt, mm = MK.mask_band(tiles, meta, band=3, alpha_band=3)
    assert py_checksum(M.to_array(mt, mm)) == 36074
