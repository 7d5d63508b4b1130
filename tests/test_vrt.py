"""VRT composition (gdal/frmts/vrt): XML plan → DataFrame plan."""

from __future__ import annotations

import numpy as np
import pytest

from conftest import reference_fixture
from gdal_spark.raster import formats as RF
from gdal_spark.raster import model as M
from gdal_spark.raster import vrt as V


def _tif(spark, tmp_path, name, arr, gt, nodata=0.0, block=16):
    meta = M.RasterMeta(name, arr.shape[1], arr.shape[0], gt=gt,
                        dtype=str(arr.dtype), nodata=nodata, block=block)
    RF.write_geotiff(M.from_array(spark, arr, meta), meta,
                     str(tmp_path / f"{name}.tif"))
    return str(tmp_path / f"{name}.tif"), meta


def test_buildvrt_mosaic(spark, tmp_path):
    """Two side-by-side tiles + one overlapping patch: union grid, last
    on top, nodata background — the gdalbuildvrt contract."""
    a = np.full((32, 32), 5, dtype=np.uint8)
    b = np.full((32, 32), 9, dtype=np.uint8)
    c = np.full((16, 16), 77, dtype=np.uint8)
    pa, _ = _tif(spark, tmp_path, "a", a, (0.0, 1.0, 0.0, 32.0, 0.0, -1.0))
    pb, _ = _tif(spark, tmp_path, "b", b, (32.0, 1.0, 0.0, 32.0, 0.0, -1.0))
    pc, _ = _tif(spark, tmp_path, "c", c, (24.0, 1.0, 0.0, 24.0, 0.0, -1.0))
    vp = str(tmp_path / "m.vrt")
    vm = V.build_vrt([pa, pb, pc], vp, block=16)
    assert (vm.width, vm.height) == (64, 32)
    tiles, meta = V.read_vrt(spark, vp, block=16)
    got = M.to_array(tiles, meta)
    exp = np.zeros((32, 32 + 32), dtype=np.uint8)
    exp[:, :32] = 5
    exp[:, 32:] = 9
    exp[8:24, 24:40] = 77          # patch paints last, over both
    np.testing.assert_array_equal(got, exp)


def test_vrt_windowed_scaled_source(spark, tmp_path):
    """Hand-written VRT: SrcRect quarter of the source placed at 2x into
    DstRect, plus a ComplexSource with ScaleRatio/ScaleOffset."""
    src = (np.arange(16 * 16).reshape(16, 16) % 40 + 1).astype(np.uint8)
    p, _m = _tif(spark, tmp_path, "s", src, (0.0, 1.0, 0.0, 16.0, 0.0, -1.0),
                 block=8)
    xml = f"""<VRTDataset rasterXSize="32" rasterYSize="32">
  <GeoTransform>0.0, 0.5, 0.0, 16.0, 0.0, -0.5</GeoTransform>
  <VRTRasterBand dataType="Byte" band="1">
    <NoDataValue>0</NoDataValue>
    <SimpleSource>
      <SourceFilename relativeToVRT="1">s.tif</SourceFilename>
      <SourceBand>1</SourceBand>
      <SrcRect xOff="0" yOff="0" xSize="8" ySize="8"/>
      <DstRect xOff="0" yOff="0" xSize="16" ySize="16"/>
    </SimpleSource>
    <ComplexSource>
      <SourceFilename relativeToVRT="1">s.tif</SourceFilename>
      <SourceBand>1</SourceBand>
      <ScaleRatio>2</ScaleRatio>
      <ScaleOffset>3</ScaleOffset>
      <SrcRect xOff="8" yOff="8" xSize="8" ySize="8"/>
      <DstRect xOff="16" yOff="16" xSize="16" ySize="16"/>
    </ComplexSource>
  </VRTRasterBand>
</VRTDataset>"""
    vp = tmp_path / "w.vrt"
    vp.write_text(xml)
    tiles, meta = V.read_vrt(spark, str(vp), block=16)
    got = M.to_array(tiles, meta)
    # top-left 16x16: source quarter replicated 2x (nearest)
    exp_tl = np.kron(src[:8, :8], np.ones((2, 2), dtype=np.uint8))
    np.testing.assert_array_equal(got[:16, :16], exp_tl)
    # bottom-right: scaled source quarter *2+3 (uint8 clip via cast)
    exp_br = np.kron((src[8:, 8:].astype(np.int32) * 2 + 3)
                     .astype(np.uint8), np.ones((2, 2), dtype=np.uint8))
    np.testing.assert_array_equal(got[16:, 16:], exp_br)
    # off-source quadrants stay nodata
    assert (got[:16, 16:] == 0).all() and (got[16:, :16] == 0).all()


def test_vrt_lazy(spark, tmp_path):
    """read_vrt returns an unevaluated plan (the VRT contract): building
    it runs no Spark job on the pixel data."""
    a = np.full((32, 32), 5, dtype=np.uint8)
    pa, _ = _tif(spark, tmp_path, "lz", a, (0.0, 1.0, 0.0, 32.0, 0.0, -1.0))
    vp = str(tmp_path / "l.vrt")
    V.build_vrt([pa], vp, block=16)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    tiles, meta = V.read_vrt(spark, vp, block=16)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before   # no job until an action
    assert tiles.count() == meta.n_block_x * meta.n_block_y


# --- LUT + KernelFilteredSource goldens (autotest/gdrivers/vrtlut.py,
# vrtfilt.py) over the reference's own fixtures -------------------------------

GD = "gdrivers/data/"


def _stage(tmp_path, *names):
    """Copy fixture files into tmp keeping the data/ layout the VRTs use."""
    import shutil
    d = tmp_path / "data"
    d.mkdir(exist_ok=True)
    for n in names:
        shutil.copy(reference_fixture(GD + n), str(d / n))
    return d


def test_vrt_lut(spark, tmp_path):                           # vrtlut_1
    from gdal_spark.raster.checksum import checksum
    d = _stage(tmp_path, "byte_lut.vrt", "byte.tif")
    tiles, meta = V.read_vrt(spark, str(d / "byte_lut.vrt"))
    assert checksum(tiles, meta).collect()[0]["checksum"] == 4655


def test_vrt_kernel_filter(spark, tmp_path):                 # vrtfilt_1
    from gdal_spark.raster.checksum import checksum
    d = _stage(tmp_path, "avfilt.vrt", "rgbsmall.tif")
    tiles, meta = V.read_vrt(spark, str(d / "avfilt.vrt"))
    assert checksum(tiles, meta).collect()[0]["checksum"] == 21890


def test_vrt_kernel_filter_nodata(spark, tmp_path):          # vrtfilt_2
    """Normalized 3x3 average over a black/white checkboard where black
    is nodata: averaging must not change the raster."""
    from gdal_spark.raster.checksum import checksum
    d = _stage(tmp_path, "avfilt_nodata.vrt", "test_vrt_filter_nodata.tif")
    src_meta = RF.geotiff_meta(str(d / "test_vrt_filter_nodata.tif"))
    src = RF.read_geotiff(spark, str(d / "test_vrt_filter_nodata.tif"))
    want = checksum(src, src_meta).collect()[0]["checksum"]
    tiles, meta = V.read_vrt(spark, str(d / "avfilt_nodata.vrt"))
    assert checksum(tiles, meta).collect()[0]["checksum"] == want


def _mask_vrt(source_band):                                  # vrtmask_1/2
    src = reference_fixture(GD + "byte.tif")
    per_band = source_band.startswith("mask")
    mask_band_xml = f"""<MaskBand><VRTRasterBand dataType="Byte">
      <SimpleSource><SourceFilename relativeToVRT="0">{src}</SourceFilename>
        <SourceBand>{source_band}</SourceBand>
        <SrcRect xOff="0" yOff="0" xSize="20" ySize="20"/>
        <DstRect xOff="0" yOff="0" xSize="20" ySize="20"/>
      </SimpleSource></VRTRasterBand></MaskBand>"""
    return f"""<VRTDataset rasterXSize="20" rasterYSize="20">
  <VRTRasterBand dataType="Byte" band="1">
    <SimpleSource><SourceFilename relativeToVRT="0">{src}</SourceFilename>
      <SourceBand>1</SourceBand>
      <SrcRect xOff="0" yOff="0" xSize="20" ySize="20"/>
      <DstRect xOff="0" yOff="0" xSize="20" ySize="20"/>
    </SimpleSource>
    {mask_band_xml if per_band else ""}
  </VRTRasterBand>
  {"" if per_band else mask_band_xml}
</VRTDataset>"""


def test_vrt_dataset_mask_band(spark):                       # vrtmask_1
    from gdal_spark.raster.checksum import checksum
    tiles, meta = V.read_vrt_mask(spark, _mask_vrt("1"))
    assert checksum(tiles, meta).collect()[0]["checksum"] == 4672
    # the band itself still composes through the inline-XML path
    tiles, meta = V.read_vrt(spark, _mask_vrt("1"))
    assert checksum(tiles, meta).collect()[0]["checksum"] == 4672


def test_vrt_per_band_mask_of_source_mask(spark):            # vrtmask_2
    """SourceBand 'mask,1' = the mask band of source band 1 (all-valid
    byte.tif -> constant 255 mask, checksum 4873)."""
    from gdal_spark.raster.checksum import checksum
    tiles, meta = V.read_vrt_mask(spark, _mask_vrt("mask,1"))
    assert checksum(tiles, meta).collect()[0]["checksum"] == 4873


def test_vrt_overview_element(spark):                        # vrtovr_1
    from gdal_spark.raster.checksum import checksum
    src = reference_fixture(GD + "byte.tif")
    xml = f"""<VRTDataset rasterXSize="20" rasterYSize="20">
  <VRTRasterBand dataType="Byte" band="1">
    <SimpleSource><SourceFilename relativeToVRT="0">{src}</SourceFilename>
      <SourceBand>1</SourceBand></SimpleSource>
    <Overview><SourceFilename relativeToVRT="0">{src}</SourceFilename>
      <SourceBand>1</SourceBand></Overview>
  </VRTRasterBand>
</VRTDataset>"""
    ovs = V.read_vrt_overviews(spark, xml)
    assert len(ovs) == 1
    tiles, meta = ovs[0]
    assert checksum(tiles, meta).collect()[0]["checksum"] == 4672
