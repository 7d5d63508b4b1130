"""OGR VRT virtual vector layers, ported from the reference autotest
(autotest/ogr/ogr_vrt.py tests 1-8, 11, 14-16) over its own fixtures.

Covers: PointFromColumns / WKT / Direct geometry encodings, FID copied
from source vs read from a field (with rename), SrcSQL through the OGR
SQL dialect, declared-Field projection, reportSrcColumn pruning, Style
field mapping, SrcRegion filtering, inline-XML datasources, and the
invalid.vrt error case."""

from __future__ import annotations

import os

import pytest

from conftest import REFERENCE_AUTOTEST, reference_fixture
from gdal_spark.apps import read_vector
from gdal_spark.functions import geometry as G
from gdal_spark.sources.vrt_vector import read_vrt_vector, vrt_layer_names

D = "ogr/data/"
V = D + "vrt_test.vrt"


def _wkts(rows):
    return [G.wkt_from_wkb(bytes(r["geometry"])) for r in rows]


def test_vrt_layer_names():                                 # ogr_vrt_1
    assert vrt_layer_names(reference_fixture(V)) == [
        "test2", "test3", "test4", "test5", "test6", "test7"]


def test_vrt_point_from_columns(spark):                     # ogr_vrt_2
    rows = read_vrt_vector(spark, reference_fixture(V), "test2").orderBy("fid").collect()
    assert [r["fid"] for r in rows] == [0, 1]       # FID copied from source
    assert [r["other"] for r in rows] == ["First", "Second"]
    assert _wkts(rows) == ["POINT (12.5 17 1.2)", "POINT (100 200 0)"]


def test_vrt_wkt_field_and_fid_column(spark):               # ogr_vrt_3/6
    rows = read_vrt_vector(spark, reference_fixture(V), "test3").orderBy("fid").collect()
    assert [r["fid"] for r in rows] == [1, 2]       # FID from the fid field
    assert _wkts(rows) == ["POINT (12.5 17 1.2)", "POINT (100 200 0)"]
    # GetFeature(2) → 'Second'
    assert [r["other"] for r in rows if r["fid"] == 2] == ["Second"]


def test_vrt_src_sql(spark):                                # ogr_vrt_7
    rows = read_vrt_vector(spark, reference_fixture(V), "test4").orderBy("fid").collect()
    assert [r["fid"] for r in rows] == [1, 2]
    assert [r["other"] for r in rows] == ["First", "Second"]
    assert _wkts(rows) == ["POINT (12.5 17 1.2)", "POINT (100 200 0)"]


def test_vrt_declared_fields_and_fid_rename(spark):         # vrt_test 6/7
    t6 = read_vrt_vector(spark, reference_fixture(V), "test6")
    assert t6.columns == ["fid", "x", "geometry"]
    assert sorted((r["fid"], r["x"]) for r in t6.collect()) == \
        [(1, 12.5), (2, 100.0)]
    t7 = read_vrt_vector(spark, reference_fixture(V), "test7")
    assert t7.columns == ["bar", "x", "geometry"]


def test_vrt_inline_xml(spark):                             # ogr_vrt_8
    xml = ('<OGRVRTDataSource><OGRVRTLayer name="test4">'
           f'<SrcDataSource relativeToVRT="0">{reference_fixture(D + "flat.dbf")}'
           '</SrcDataSource>'
           '<SrcSQL>SELECT * FROM flat</SrcSQL><FID>fid</FID>'
           '<GeometryType>wkbPoint</GeometryType>'
           '<GeometryField encoding="PointFromColumns" x="x" y="y" z="z"/>'
           '</OGRVRTLayer></OGRVRTDataSource>')
    rows = read_vector(spark, xml).orderBy("fid").collect()
    assert [r["fid"] for r in rows] == [1, 2]
    assert _wkts(rows) == ["POINT (12.5 17 1.2)", "POINT (100 200 0)"]


def test_vrt_report_src_column_and_style(spark, tmp_path):  # ogr_vrt_11
    csv = tmp_path / "t.csv"
    csv.write_text('x,val1,y,val2,style\n'
                   '2,"val11",49,"val12","PEN(c:#FF0000,w:5pt,'
                   'p:""2px 1pt"")"\n')
    xml = (f'<OGRVRTDataSource><OGRVRTLayer name="test">'
           f'<SrcDataSource relativeToVRT="0">{csv}</SrcDataSource>'
           '<GeometryField encoding="PointFromColumns" x="x" y="y" '
           'reportSrcColumn="false"/><Style>style</Style>'
           '</OGRVRTLayer></OGRVRTDataSource>')
    df = read_vector(spark, xml)
    assert "x" not in df.columns and "y" not in df.columns
    r = df.collect()[0]
    assert r["val1"] == "val11" and r["val2"] == "val12"
    assert r["ogr_style"] == 'PEN(c:#FF0000,w:5pt,p:"2px 1pt")'
    assert G.wkt_from_wkb(bytes(r["geometry"])) == "POINT (2 49)"


def test_vrt_src_region(spark, tmp_path):                   # ogr_vrt_15
    csv = tmp_path / "r.csv"
    csv.write_text('wkt,val\n"POINT (-10 49)",a\n"POINT (2 49)",b\n'
                   '"POINT (-10 25)",c\n')
    xml = (f'<OGRVRTDataSource><OGRVRTLayer name="test">'
           f'<SrcDataSource relativeToVRT="0">{csv}</SrcDataSource>'
           '<GeometryField encoding="WKT" field="wkt"/>'
           '<SrcRegion>POLYGON((0 40,0 50,10 50,10 40,0 40))</SrcRegion>'
           '</OGRVRTLayer></OGRVRTDataSource>')
    rows = read_vector(spark, xml).collect()
    assert len(rows) == 1
    assert rows[0]["val"] == "b"
    assert G.wkt_from_wkb(bytes(rows[0]["geometry"])) == "POINT (2 49)"


def test_vrt_direct_shapefile_passthrough(spark):           # departs.vrt
    df = read_vrt_vector(spark, reference_fixture(D + "departs.vrt"))
    n = df.count()
    assert n > 0
    r = df.filter("geometry is not null").first()
    assert G.wkt_from_wkb(bytes(r["geometry"])).startswith("POINT")


def test_vrt_invalid(spark):                                # ogr_vrt_28
    with pytest.raises((ValueError, Exception)):
        read_vrt_vector(spark, os.path.join(REFERENCE_AUTOTEST, D, "invalid.vrt"),
                        "foo")
