"""ISIS2 / PAux / DIPEx / GSC readers vs the reference's autotest
goldens (autotest/gdrivers/{isis2,paux,dipex,gsc}.py)."""

import pytest

from conftest import reference_fixture
from gdal_spark.raster.checksum import py_checksum
from gdal_spark.raster.formats import (read_dipex, read_gsc, read_isis2,
                                       read_paux)
from gdal_spark.raster.model import to_array


def _gd(name: str) -> str:
    return reference_fixture("gdrivers/data/" + name)


def test_isis2(spark):
    # isis2_1: truncated VIMS cube, SUN_REAL 43x1
    df, meta = read_isis2(spark, _gd("arvidson_original_truncated.cub"))
    assert (meta.width, meta.height) == (43, 1)
    assert py_checksum(to_array(df, meta)) == 382


def test_paux(spark):
    # paux_1: band 2 of the 31x35 16U Swapped pair
    df, meta = read_paux(spark, _gd("small16.aux"))
    assert py_checksum(to_array(df, meta, band=1)) == 12816
    assert meta.gt == (440720.0, 60.0, 0.0, 3751320.0, 0.0, -60.0)


def test_dipex(spark):
    df, meta = read_dipex(spark, _gd("fakedipex.dat"))
    assert py_checksum(to_array(df, meta)) == 1


def test_gsc(spark):
    df, meta = read_gsc(spark, _gd("fakegsc.gsc"))
    assert py_checksum(to_array(df, meta)) == 0
