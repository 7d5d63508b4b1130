"""DGN driver goldens, ported from the reference autotest suite
(autotest/ogr/ogr_dgn.py tests 1-6) over data/smalltest.dgn."""

from __future__ import annotations

import pytest

from conftest import reference_fixture
from gdal_spark.apps import read_vector
from gdal_spark.functions import geometry as G
from gdal_spark.sources.dgn import read_dgn

DGN = "ogr/data/smalltest.dgn"


@pytest.fixture(scope="module")
def rows(spark):
    return read_dgn(spark, reference_fixture(DGN)).orderBy("fid").collect()


def test_dgn_text_element(rows):                           # ogr_dgn_2
    f = rows[0]
    assert f["Type"] == 17 and f["Level"] == 1
    assert f["Text"] == "Demo Text"
    assert G.wkt_from_wkb(bytes(f["geometry"])) == "POINT (0.7365 4.2198)"
    assert f["ogr_style"] == \
        'LABEL(t:"Demo Text",c:#ffffff,s:1.000g,f:ENGINEERING)'


def test_dgn_circle_element(rows):                         # ogr_dgn_3
    f = rows[1]
    assert f["Type"] == 15 and f["Level"] == 2
    pts = G.decode_linestring(bytes(f["geometry"]))
    assert len(pts) >= 15
    x0, x1 = pts[:, 0].min(), pts[:, 0].max()
    y0, y1 = pts[:, 1].min(), pts[:, 1].max()
    assert 0.328593 <= x0 <= 0.328594
    assert 9.68780 <= x1 <= 9.68781
    assert -0.09611 <= y0 <= -0.09610
    assert 9.26310 <= y1 <= 9.26311


def test_dgn_filled_shape(rows):                           # ogr_dgn_4
    f = rows[2]
    assert f["Type"] == 6 and f["Level"] == 2
    assert f["ColorIndex"] == 83
    assert G.wkt_from_wkb(bytes(f["geometry"])) == (
        "POLYGON ((4.5355 3.317,4.3832 2.6517,4.9441 2.5235,"
        "4.832 3.3331,4.5355 3.317))")
    assert f["ogr_style"] == 'BRUSH(fc:#b40000,id:"ogr-brush-0")'


def test_dgn_attribute_filter(spark):                      # ogr_dgn_5
    df = read_dgn(spark, reference_fixture(DGN))
    got = [r["Type"] for r in
           df.filter("Type = 15 and Level = 2").collect()]
    assert got == [15]


def test_dgn_dispatch(spark):                              # ogr_dgn_1
    df = read_vector(spark, reference_fixture(DGN))
    assert df.count() == 4
