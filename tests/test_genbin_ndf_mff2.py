"""GenBin / NDF / MFF2 readers vs the reference's autotest goldens
(autotest/gdrivers/{genbin,ndf,mff2}.py)."""

import pytest

from conftest import reference_fixture
from gdal_spark.raster.checksum import py_checksum
from gdal_spark.raster.formats import read_genbin, read_mff2, read_ndf
from gdal_spark.raster.model import to_array


def _gd(name: str) -> str:
    return reference_fixture("gdrivers/data/" + name)


def test_genbin_1(spark):
    # genbin_1: band 1 window (0,0,500,1) checksum 5738 + geotransform
    df, meta, info = read_genbin(spark, _gd("tm4628_96.bil"),
                                 bands=[0], window=(0, 0, 500, 1))
    assert py_checksum(to_array(df, meta)) == 5738
    want = (1181700.9894981384, 82.021003723042099, 0.0,
            596254.01050186157, 0.0, -82.021003723045894)
    assert max(abs(a - b) for a, b in zip(meta.gt, want)) < 1e-6
    assert info["bands"] == 7 and info["interleave"] == "BSQ"
    assert info["metadata"]["PROJECTION_NAME"] == "State Plane"


def test_ndf_1(spark):
    # ndf_1: band 1 window (0,0,15620,1) checksum 6510 + geotransform
    df, meta, info = read_ndf(spark, _gd("LE7134052000500350.H3"),
                              window=(0, 0, 15620, 1))
    assert py_checksum(to_array(df, meta)) == 6510
    want = (320325.75, 14.25, 0, 1383062.25, 0, -14.25)
    assert max(abs(a - b) for a, b in zip(meta.gt, want)) < 1e-4
    assert info["metadata"]["USGS_MAP_ZONE"] == "46"


def test_mff2_1(spark):
    # mff2_1: the classic 20x20 byte scene, checksum 4672
    df, meta, info = read_mff2(spark, _gd("bytemff2"))
    assert (meta.width, meta.height) == (20, 20)
    assert py_checksum(to_array(df, meta)) == 4672
