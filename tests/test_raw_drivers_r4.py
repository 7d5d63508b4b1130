"""MFF / DOQ1 / EIR / SNODAS / VICAR / CPG-SIRC readers vs the
reference's autotest goldens (autotest/gdrivers/{mff,doq1,eir,snodas,
vicar,cpg}.py)."""

import pytest

from conftest import reference_fixture
from gdal_spark.raster.checksum import py_checksum
from gdal_spark.raster.formats import (read_cpg_sirc, read_doq1,
                                       read_eir, read_mff, read_snodas,
                                       read_vicar)
from gdal_spark.raster.model import to_array


def _gd(name: str) -> str:
    return reference_fixture("gdrivers/data/" + name)


@pytest.mark.parametrize("name,cs", [
    ("fakemff.hdr", 1), ("fakemfftiled.hdr", 1), ("bytemff.hdr", 4672)])
def test_mff(spark, name, cs):
    df, meta = read_mff(spark, _gd(name))
    assert py_checksum(to_array(df, meta)) == cs


def test_doq1(spark):
    df, meta = read_doq1(spark, _gd("fakedoq1.doq"))
    assert (meta.width, meta.height) == (500, 500)
    assert py_checksum(to_array(df, meta)) == 1


def test_eir(spark):
    df, meta = read_eir(spark, _gd("fakeeir.hdr"))
    assert py_checksum(to_array(df, meta)) == 1


def test_snodas(spark):
    df, meta, info = read_snodas(spark, _gd("fake_snodas.hdr"))
    want = (-124.733749999995, 0.0083333333333330643, 0.0,
            52.874583333331302, 0.0, -0.0083333333333330054)
    assert max(abs(a - b) for a, b in zip(meta.gt, want)) < 1e-12
    assert meta.nodata == -9999.0
    assert info["min"] == 0.0 and info["max"] == 429.0


def test_vicar(spark):
    df, meta, info = read_vicar(spark, _gd("test_vicar_truncated.bin"))
    assert py_checksum(to_array(df, meta)) == 0
    assert meta.gt == (-53960.0, 25.0, 0.0, -200830.0, 0.0, -25.0)
    assert info["MAP.MAP_PROJECTION_TYPE"] == "SINUSOIDAL"
    assert float(info["MAP.CENTER_LONGITUDE"]) == 137.0
    assert float(info["MAP.A_AXIS_RADIUS"]) == 3396.0


def test_cpg_sirc(spark):
    df, meta = read_cpg_sirc(spark, _gd("fakecpgSIRC.hdr"))
    assert meta.dtype == "complex64"
    assert py_checksum(to_array(df, meta)) == 0
