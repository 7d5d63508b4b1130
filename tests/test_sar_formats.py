"""SAR / remote-sensing raster formats vs the reference's own autotest
goldens (autotest/gdrivers/{ceos,rs2}.py — the fixtures that ship with
the reference; Envisat/TSX/SAR_CEOS autotests are download-gated)."""

import numpy as np
import pytest

from conftest import reference_fixture
from gdal_spark.raster.checksum import py_checksum
from gdal_spark.raster.model import to_array


def _gd(name: str) -> str:
    return reference_fixture("gdrivers/data/" + name)


# ---------------------------------------------------------------- CEOS

def test_ceos_irs_le(spark):
    """autotest/gdrivers/ceos.py ceos_1: first 75 KB of an IRS LGSOWG
    scene — little-endian variant, band 4 checksum 9956 over the 3
    complete scanlines present."""
    from gdal_spark.raster.ceos import CEOSImage, read_ceos
    p = _gd("IMAGERY-75K.L-3")
    img = CEOSImage(p)
    assert img.little_endian
    assert (img.n_pixels, img.n_lines, img.n_bands) == (5932, 5936, 4)
    assert img.n_lines_avail == 3
    tiles, meta, _ = read_ceos(spark, p)
    assert (meta.width, meta.height) == (5932, 3)
    a = to_array(tiles, meta, band=3)
    assert py_checksum(a) == 9956


# ----------------------------------------------------------------- RS2

def test_rs2_open(spark):
    """autotest/gdrivers/rs2.py rs2_1: band 1 checksum 4672."""
    from gdal_spark.raster.rs2 import parse_rs2, read_rs2
    p = _gd("product.xml")
    info = parse_rs2(p)
    assert (info["width"], info["height"]) == (20, 20)
    assert [pole for pole, _ in info["bands"]] == ["HH", "HV"]
    assert len(info["gcps"]) == 4
    assert info["metadata"]["SATELLITE"] == "SATELLITE"
    tiles, meta, _ = read_rs2(spark, p)
    assert py_checksum(to_array(tiles, meta, band=0)) == 4672
    assert py_checksum(to_array(tiles, meta, band=1)) == 4672


def test_rs2_calib_beta0(spark):
    """autotest/gdrivers/rs2.py rs2_2: RADARSAT_2_CALIB:BETA0 subdataset,
    band 1 checksum 4848 (Float32 (DN²+offset)/gain)."""
    from gdal_spark.raster.rs2 import read_rs2
    tiles, meta, info = read_rs2(
        spark, f"RADARSAT_2_CALIB:BETA0:{_gd('product.xml')}")
    assert meta.dtype == "float32"
    a = to_array(tiles, meta, band=0)
    assert py_checksum(a) == 4848
    # gains are all 1, offset 0 -> calibrated = DN²
    raw_tiles, raw_meta, _ = read_rs2(spark, _gd("product.xml"))
    raw = to_array(raw_tiles, raw_meta, band=0).astype("f4")
    assert np.allclose(a, raw * raw)


def test_rs2_unknown_calib():
    from gdal_spark.raster.rs2 import parse_rs2
    with pytest.raises(ValueError, match="calibration"):
        from gdal_spark.raster.rs2 import read_rs2
        read_rs2(None, f"RADARSAT_2_CALIB:NOPE:{_gd('product.xml')}")
