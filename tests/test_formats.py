"""Format drivers: GeoJSON / GeoJSONSeq / CSV / Shapefile / GeoPackage.

Round-trip expectations mirror the reference driver tests
(autotest/ogr/ogr_geojson.py, ogr_csv.py, ogr_shape.py, ogr_gpkg.py):
read(write(layer)) preserves feature count, attribute values, and
geometry within codec-exact tolerance."""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import reference_fixture
from gdal_spark.functions import geometry as G
from gdal_spark.sources import formats as FMT
from gdal_spark.sources import polygons as PG


def _ogr(name: str) -> str:
    return reference_fixture("ogr/data/" + name)


def _wkbs():
    sq = np.array([[0.0, 0], [10, 0], [10, 10], [0, 10], [0, 0]])
    hole = np.array([[4.0, 4], [6, 4], [6, 6], [4, 6], [4, 4]])
    line = np.array([[0.0, 0], [5, 5], [10, 0]])
    return {
        "point": G.encode_point(3.25, -7.5),
        "line": G.encode_linestring(line),
        "poly": G.encode_polygon([sq, hole]),
        "mpoint": G.encode_multipoint(np.array([[1.0, 2], [3, 4]])),
        "mline": G.encode_multilinestring([line, line + 20]),
        "mpoly": G.encode_multipolygon([[sq], [sq + 30]]),
    }


def test_geojson_codec_roundtrip():
    for name, wkb in _wkbs().items():
        d = FMT.geojson_geom_from_wkb(wkb)
        back = FMT.wkb_from_geojson_geom(d)
        assert G.wkt_from_wkb(back) == G.wkt_from_wkb(wkb), name
    assert FMT.wkb_from_geojson_geom(None) is None
    assert FMT.wkb_from_geojson_geom({"type": "GeometryCollection"}) is None


def test_geojson_file_roundtrip(spark, tmp_path):
    poly = PG.poly_fixture(spark)
    doc = {"type": "FeatureCollection", "features": [
        {"type": "Feature",
         "properties": {"eas_id": r["eas_id"], "prfedea": r["prfedea"]},
         "geometry": FMT.geojson_geom_from_wkb(bytes(r["geometry"]))}
        for r in poly.orderBy("fid").collect()]}
    p = tmp_path / "poly.geojson"
    p.write_text(json.dumps(doc))
    out = FMT.read_geojson(spark, str(p)).orderBy("fid").collect()
    assert len(out) == 10
    assert [json.loads(r["properties"])["eas_id"] for r in out] == \
        [r[2] for r in PG.POLY_ROWS]
    # geometry round-trips bit-exactly through the JSON codec
    areas = [G.polygon_area(bytes(r["geometry"])) for r in out]
    assert areas[0] == 100.0 and areas[3] == 72.0 and areas[7] == 96.0


def test_geojson_seq_roundtrip(spark, tmp_path):
    poly = PG.poly_fixture(spark)
    FMT.write_geojson_seq(poly, str(tmp_path / "seq"))
    back = FMT.read_geojson_seq(spark, str(tmp_path / "seq"))
    rows = back.collect()
    assert len(rows) == 10
    eas = sorted(json.loads(r["properties"])["eas_id"] for r in rows)
    assert eas == sorted(r[2] for r in PG.POLY_ROWS)
    total_area = sum(G.polygon_area(bytes(r["geometry"])) for r in rows)
    assert total_area == pytest.approx(100 * 8 + 72 + 96)


def test_csv_wkt_roundtrip(spark, tmp_path):
    poly = PG.poly_fixture(spark)
    FMT.write_csv_features(poly, str(tmp_path / "csv"))
    back = FMT.read_csv_features(spark, str(tmp_path / "csv"))
    rows = back.orderBy("fid").collect()
    assert [r["eas_id"] for r in rows] == [r[2] for r in PG.POLY_ROWS]
    assert [r["area"] for r in rows] == [r[1] for r in PG.POLY_ROWS]
    assert G.polygon_area(bytes(rows[3]["geometry"])) == 72.0


def test_csv_xy_points(spark, tmp_path):
    pdf = pd.DataFrame({"id": [1, 2], "lon": [10.5, -3.25], "lat": [45.0, 0.5]})
    p = tmp_path / "pts.csv"
    pdf.to_csv(p, index=False)
    out = FMT.read_csv_features(spark, str(p), x_col="lon", y_col="lat") \
        .orderBy("id").collect()
    assert G.decode_point(bytes(out[0]["geometry"])) == (10.5, 45.0)
    assert G.decode_point(bytes(out[1]["geometry"])) == (-3.25, 0.5)


def test_shapefile_bytes_roundtrip():
    poly = [(fid, area, eas, prf, PG._poly_geom(fid))
            for fid, area, eas, prf in PG.POLY_ROWS]
    pdf = pd.DataFrame(poly, columns=["fid", "area", "eas_id", "prfedea",
                                      "geometry"])
    shp, shx, dbf = FMT.shapefile_bytes(pdf)
    geoms = FMT.parse_shp(shp)
    attrs = FMT.parse_dbf(dbf)
    assert len(geoms) == 10 and len(attrs) == 10
    assert list(attrs["eas_id"]) == [r[2] for r in PG.POLY_ROWS]
    assert list(attrs["prfedea"]) == [r[3] for r in PG.POLY_ROWS]
    assert attrs["area"][3] == pytest.approx(547597.188, abs=1e-9)
    # geometry: area-exact through the CW/CCW renormalization
    assert G.polygon_area(geoms[0]) == 100.0
    assert G.polygon_area(geoms[3]) == 72.0   # concave notch
    assert G.polygon_area(geoms[7]) == 96.0   # interior ring survives
    assert len(G.decode_polygons(geoms[7])[0]) == 2
    # shx: one 8-byte index record per feature after the 100-byte header
    assert len(shx) == 100 + 8 * 10


def test_shapefile_multipolygon_and_types():
    w = _wkbs()
    pdf = pd.DataFrame({
        "name": ["pt", "ln", "mpt", "mln"],
        "geometry": [w["point"], w["line"], w["mpoint"], w["mline"]]})
    # shapefiles are single-type; write each type alone and round-trip
    for i in range(len(pdf)):
        shp, _, dbf = FMT.shapefile_bytes(pdf.iloc[[i]].reset_index(drop=True))
        [geom] = FMT.parse_shp(shp)
        orig = bytes(pdf["geometry"][i])
        assert G.wkt_from_wkb(geom) == G.wkt_from_wkb(orig)
    # two disjoint outer rings → MultiPolygon on read
    shp, _, _ = FMT.shapefile_bytes(pd.DataFrame({"geometry": [w["mpoly"]]}))
    [geom] = FMT.parse_shp(shp)
    polys = G.decode_polygons(geom)
    assert len(polys) == 2
    assert sum(abs(G._ring_area_signed(p[0])) for p in polys) == 200.0


def test_shapefile_spark_roundtrip(spark, tmp_path):
    poly = PG.poly_fixture(spark)
    manifest = FMT.write_shapefile(poly.repartition(2), str(tmp_path / "shp"))
    m = manifest.collect()
    assert sum(r["records"] for r in m) == 10
    back = FMT.read_shapefile(spark, str(tmp_path / "shp"))
    rows = back.collect()
    assert len(rows) == 10
    eas = sorted(json.loads(r["properties"])["eas_id"] for r in rows)
    assert eas == sorted(r[2] for r in PG.POLY_ROWS)
    total = sum(G.polygon_area(bytes(r["geometry"])) for r in rows)
    assert total == pytest.approx(100 * 8 + 72 + 96)


def test_gpkg_roundtrip(spark, tmp_path):
    poly = PG.poly_fixture(spark)
    path = str(tmp_path / "poly.gpkg")
    n = FMT.write_gpkg(poly, path, "poly")
    assert n == 10
    back = FMT.read_gpkg(spark, path, "poly", num_splits=3)
    rows = back.orderBy("fid").collect()
    assert len(rows) == 10
    props = [json.loads(r["properties"]) for r in rows]
    assert [p["eas_id"] for p in props] == [r[2] for r in PG.POLY_ROWS]
    assert [p["area"] for p in props] == [r[1] for r in PG.POLY_ROWS]
    assert G.polygon_area(bytes(rows[7]["geometry"])) == 96.0
    # blob header strips cleanly
    blob = FMT.gpkg_blob_from_wkb(G.encode_point(1, 2), 4326)
    assert FMT.wkb_from_gpkg_blob(blob) == G.encode_point(1, 2)


def test_feature_lines_jvm_filter(spark):
    """Format output stays queryable JVM-side: properties via
    get_json_object, geometry via the engine's operators."""
    poly = PG.poly_fixture(spark)
    lines = FMT.geojson_feature_lines(poly)
    parsed = lines.select(
        F.get_json_object("value", "$.properties.eas_id").cast("long")
        .alias("eas_id"))
    assert parsed.filter(F.col("eas_id") > 170).count() == 4


# --- GPX driver (autotest/ogr/ogr_gpx.py over data/test.gpx) -----------------

GPX = "ogr/data/test.gpx"


def test_gpx_waypoints(spark):                              # ogr_gpx_1
    from gdal_spark.functions import geometry as G
    from gdal_spark.sources import formats as FMT
    df = FMT.read_gpx(spark, reference_fixture(GPX), "waypoints").orderBy("fid")
    rows = df.collect()
    assert [r["ele"] for r in rows] == [2.0, None]
    assert [r["name"] for r in rows] == ["waypoint name", None]
    assert [r["link1_href"] for r in rows] == ["href", None]
    assert [r["link2_text"] for r in rows] == ["text2", None]
    assert [r["time"] for r in rows] == ["2007/11/25 17:58:00+01", None]
    pts = [G.wkt_from_wkb(bytes(r["geometry"])) for r in rows]
    assert pts == ["POINT (1 0)", "POINT (4 3)"]


def test_gpx_routes_and_points(spark):                      # ogr_gpx_2/3
    from gdal_spark.functions import geometry as G
    from gdal_spark.sources import formats as FMT
    df = FMT.read_gpx(spark, reference_fixture(GPX), "routes").orderBy("fid")
    rows = df.collect()
    assert G.wkt_from_wkb(bytes(rows[0]["geometry"])) == \
        "LINESTRING (6 5,9 8,12 11)"
    assert len(G.decode_linestring(bytes(rows[1]["geometry"]))) == 0
    rp = FMT.read_gpx(spark, reference_fixture(GPX), "route_points") \
        .orderBy("route_fid", "route_point_id").collect()
    assert [r["name"] for r in rp] == ["route point name", None, None]
    assert G.wkt_from_wkb(bytes(rp[0]["geometry"])) == "POINT (6 5)"


def test_gpx_tracks_and_points(spark):                      # ogr_gpx_4/5
    from gdal_spark.functions import geometry as G
    from gdal_spark.sources import formats as FMT
    rows = FMT.read_gpx(spark, reference_fixture(GPX), "tracks").orderBy("fid").collect()
    assert G.wkt_from_wkb(bytes(rows[0]["geometry"])) == \
        "MULTILINESTRING ((15 14,18 17),(21 20,24 23))"
    tp = FMT.read_gpx(spark, reference_fixture(GPX), "track_points") \
        .orderBy("track_fid", "track_seg_id", "track_pt_id").collect()
    assert tp[0]["name"] == "track point name"
    assert G.wkt_from_wkb(bytes(tp[0]["geometry"])) == "POINT (15 14)"


def test_gpx_roundtrip(spark, tmp_path):
    from gdal_spark.functions import geometry as G
    from gdal_spark.sources import formats as FMT
    src = FMT.read_gpx(spark, reference_fixture(GPX), "waypoints")
    out = str(tmp_path / "out.gpx")
    FMT.write_gpx(src, out, "waypoints")
    back = FMT.read_gpx(spark, out, "waypoints").orderBy("fid").collect()
    assert [G.wkt_from_wkb(bytes(r["geometry"])) for r in back] == \
        ["POINT (1 0)", "POINT (4 3)"]
    assert back[0]["name"] == "waypoint name"


# --- KML driver (autotest/ogr/ogr_kml.py over data/samples.kml) --------------

KML = "ogr/data/samples.kml"


def test_kml_layers_and_attributes(spark):    # ogr_kml_datastore/attributes_1
    from gdal_spark.sources import formats as FMT
    names = FMT.kml_layer_names(reference_fixture(KML))
    assert len(names) == 6
    assert "Placemarks" in names
    df = FMT.read_kml(spark, reference_fixture(KML), "Placemarks").orderBy("fid")
    rows = df.collect()
    assert rows[0]["Name"] == "Simple placemark"
    assert rows[0]["description"][:23] == "Attached to the ground."
    assert rows[1]["Name"] == "Floating placemark"


def test_kml_point_geometry(spark):                  # ogr_kml_point_read
    from gdal_spark.functions import geometry as G
    from gdal_spark.sources import formats as FMT
    rows = FMT.read_kml(spark, reference_fixture(KML), "Placemarks") \
        .orderBy("fid").collect()
    x, y = G.decode_point(bytes(rows[0]["geometry"]))
    assert (x, y) == pytest.approx((-122.0822035425683, 37.42228990140251))


def test_kml_roundtrip(spark, tmp_path):
    from gdal_spark.functions import geometry as G
    from gdal_spark.sources import formats as FMT
    src = FMT.read_kml(spark, reference_fixture(KML), "Placemarks")
    out = str(tmp_path / "out.kml")
    FMT.write_kml(src, out)
    back = FMT.read_kml(spark, out).orderBy("fid").collect()
    assert len(back) == src.count()
    assert back[0]["Name"] == "Simple placemark"
    x, y = G.decode_point(bytes(back[0]["geometry"]))
    assert (x, y) == pytest.approx((-122.0822035425683, 37.42228990140251))


def test_kml_gpx_via_ogr2ogr(spark, tmp_path):
    """KML -> GPX conversion through the app dispatch (read_vector/
    write_vector extension routing)."""
    from gdal_spark import apps as APP
    from gdal_spark.sources import formats as FMT
    out = str(tmp_path / "pm.gpx")
    APP.ogr2ogr(spark, reference_fixture(KML), out, layer="Placemarks",
                reader_opts={})
    back = FMT.read_gpx(spark, out, "waypoints")
    assert back.count() == 3


# --- MapInfo MIF/MID driver (ogr_mitab / ogr_sql_14) -------------------------

MIF = "ogr/data/small.mif"


def test_mif_read(spark):
    from gdal_spark.functions import geometry as G
    from gdal_spark.sources import formats as FMT
    rows = FMT.read_mif(spark, reference_fixture(MIF)).orderBy("fid").collect()
    assert len(rows) == 2
    assert rows[0]["NAME"] == " S. 11th St."
    assert rows[0]["DATA"] == 4
    assert rows[0]["OWNER"] == "Shiffer James A and Martha L"
    assert rows[0]["APPRAISED_VALUE"] == 56115.58
    assert rows[1]["OWNER"] == 'Guarino "Chucky" Sandra'
    w = bytes(rows[0]["geometry"])
    assert G.wkt_from_wkb(w).startswith("POLYGON")
    assert G.polygon_area(w) > 0


def test_mif_ogr_style_sql(spark):                         # ogr_sql_14
    """select ogr_style from small where ogr_geom_wkt LIKE 'POLYGON%'
    returns the reference's exact BRUSH;PEN style strings
    (mitab_feature.cpp style translation)."""
    from gdal_spark.ogrsql import OGRSQLEngine
    from gdal_spark.sources import formats as FMT
    e = OGRSQLEngine(spark)
    e.register("small", FMT.read_mif(spark, reference_fixture(MIF)))
    df = e.execute_sql("select ogr_style from small "
                       "where ogr_geom_wkt LIKE 'POLYGON%'")
    expect = ('BRUSH(fc:#000000,bc:#ffffff,id:"mapinfo-brush-1,ogr-brush-1")'
              ';PEN(w:1px,c:#000000,id:"mapinfo-pen-2,ogr-pen-0")')
    vals = [r[0] for r in df.collect()]
    assert vals == [expect, expect]


# --- GML driver (autotest/ogr/ogr_gml_read.py) -------------------------------

def test_gml_wfs_read(spark):                               # ogr_gml_17 shape
    """gnis_pop_100.gml (WFS 1.0.0): 20 features, first geometry
    POINT (2.09 34.12), typed attributes inferred."""
    from gdal_spark.functions import geometry as G
    from gdal_spark.sources import formats as FMT
    df = FMT.read_gml(
        spark, _ogr("gnis_pop_100.gml"))
    rows = df.orderBy("fid").collect()
    assert len(rows) == 20
    assert G.wkt_from_wkb(bytes(rows[0]["geometry"])) == "POINT (2.09 34.12)"
    assert rows[0]["name"] == "Aflu"
    assert rows[0]["population"] == 84683     # inferred long
    assert rows[0]["gml_id"] == "gnis_pop.148604"


def test_gml_polygon_read(spark):                           # ionic_wfs
    from gdal_spark.functions import geometry as G
    from gdal_spark.sources import formats as FMT
    df = FMT.read_gml(
        spark, _ogr("ionic_wfs.gml"))
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["Name"] == "Aartselaar"
    w = bytes(rows[0]["geometry"])
    # golden WKT from autotest/ogr/ogr_gml_read.py ogr_gml_1
    assert G.wkt_from_wkb(w) == (
        "POLYGON ((44038 511549,44015 511548,43994 511522,43941 511539,"
        "43844 511514,43754 511479,43685 511521,43594 511505,43619 511452,"
        "43645 511417,4363 511387,437 511346,43749 511298,43808 511229,"
        "43819 511205,4379 511185,43728 511167,43617 511175,43604 511151,"
        "43655 511125,43746 511143,43886 511154,43885 511178,43928 511186,"
        "43977 511217,4404 511223,44008 511229,44099 51131,44095 511335,"
        "44106 51135,44127 511379,44124 511435,44137 511455,44105 511467,"
        "44098 511484,44086 511499,4407 511506,44067 511535,44038 511549))")


# --- GML geometry fragments (autotest/ogr/ogr_gml_geom.py) -------------------

def test_gml_fragment_parsing():
    """gml_space_test / gml_pos_point / gml_pos_polygon / gml_posList_*
    / gml_polygon: bare GML fragments with undeclared prefixes parse to
    the reference WKT (engine stores 2-D; Z dropped)."""
    from gdal_spark.functions import geometry as G
    from gdal_spark.sources.formats import wkb_from_gml

    def wkt(gml):
        return G.wkt_from_wkb(wkb_from_gml(gml))

    assert wkt('<gml:Point xmlns:foo="http://bar">'
               '<gml:pos>31 29 16</gml:pos></gml:Point>') == "POINT (31 29)"
    assert wkt('<LineString xmlns:foo="http://bar"><posList '
               'xmlns:foo="http://bar">31 42 53 64 55 76</posList>'
               '</LineString>') == "LINESTRING (31 42,53 64,55 76)"
    assert wkt('<LineString srsDimension="3"><posList>31 42 1 53 64 2 '
               '55 76 3</posList></LineString>') == \
        "LINESTRING (31 42,53 64,55 76)"
    assert wkt('<Polygon><exterior><LinearRing><posList>0 0 4 0 4 4 0 4 '
               '0 0</posList></LinearRing></exterior><interior '
               'xmlns:foo="http://bar"><LinearRing><posList '
               'xmlns:foo="http://bar">1 1 2 1 2 2 1 2 1 1</posList>'
               '</LinearRing></interior></Polygon>') == \
        "POLYGON ((0 0,4 0,4 4,0 4,0 0),(1 1,2 1,2 2,1 2,1 1))"
    # GML 3.1.1 rings with one <pos> per vertex (gml_pos_polygon, #3244)
    pp = ('<gml:Polygon><gml:exterior><gml:LinearRing>'
          '<gml:pos>0 0</gml:pos><gml:pos>4 0</gml:pos>'
          '<gml:pos>4 4</gml:pos><gml:pos>0 4</gml:pos>'
          '<gml:pos>0 0</gml:pos></gml:LinearRing></gml:exterior>'
          '<gml:interior><gml:LinearRing><gml:pos>1 1</gml:pos>'
          '<gml:pos>2 1</gml:pos><gml:pos>2 2</gml:pos>'
          '<gml:pos>1 2</gml:pos><gml:pos>1 1</gml:pos>'
          '</gml:LinearRing></gml:interior></gml:Polygon>')
    assert wkt(pp) == "POLYGON ((0 0,4 0,4 4,0 4,0 0),(1 1,2 1,2 2,1 2,1 1))"
    # whitespace/newline tolerance (gml_space_test: 8 points)
    sp = ('<gml:LineString xmlns:foo="http://bar"><gml:coordinates '
          'decimal="." cs="," ts=" ">189999.99995605,624999.99998375 '
          '200000.00005735,624999.99998375 200000.00005735,612499.99997125 '
          '195791.3593843,612499.99997125 193327.3749823,612499.99997125 '
          '189999.99995605,612499.99997125 189999.99995605,619462.31247125 '
          '189999.99995605,624999.99998375 \n</gml:coordinates>'
          '</gml:LineString>')
    assert len(G.decode_linestring(wkb_from_gml(sp))) == 8


def test_gml_box_envelope():                     # gml_Box / gml_Envelope
    from gdal_spark.functions import geometry as G
    from gdal_spark.sources.formats import wkb_from_gml
    box = """<gml:Box xmlns:gml="http://www.opengis.net/gml" srsName="foo">
  <gml:coord><gml:X>1</gml:X><gml:Y>2</gml:Y></gml:coord>
  <gml:coord><gml:X>3</gml:X><gml:Y>4</gml:Y></gml:coord>
</gml:Box>"""
    assert G.wkt_from_wkb(wkb_from_gml(box)) == \
        "POLYGON ((1 2,3 2,3 4,1 4,1 2))"
    env = """<gml:Envelope xmlns:gml="http://www.opengis.net/gml">
    <gml:lowerCorner>1 2</gml:lowerCorner>
    <gml:upperCorner>3 4</gml:upperCorner>
</gml:Envelope>"""
    assert G.wkt_from_wkb(wkb_from_gml(env)) == \
        "POLYGON ((1 2,3 2,3 4,1 4,1 2))"


# --- GMT driver (autotest/ogr/ogr_gmt.py) ------------------------------------

def test_gmt_multilinestring_read(spark):                  # ogr_gmt_4
    df = FMT.read_gmt(spark,
                      _ogr("test_multi.gmt"))
    rows = df.orderBy("fid").collect()
    assert len(rows) == 2
    assert G.wkt_from_wkb(bytes(rows[0]["geometry"])) == \
        "MULTILINESTRING ((175 -45,176 -45),(180 -45.3,179 -45.4))"
    assert rows[0]["name"] == "feature 1"
    assert rows[0]["id"] == 1
    assert G.wkt_from_wkb(bytes(rows[1]["geometry"])) == \
        "MULTILINESTRING ((175.1 -45,175.2 -45.1),(180.1 -45.3,180 -45.2))"
    assert rows[1]["name"] == "feature 2"


def test_gmt_polygon_roundtrip(spark, tmp_path):           # ogr_gmt_2/3
    from gdal_spark.sources.vrt_vector import read_vrt_vector
    poly = _ogr("poly.shp")
    src = read_vrt_vector(
        spark, '<OGRVRTDataSource><OGRVRTLayer name="poly">'
        f'<SrcDataSource relativeToVRT="0">{poly}</SrcDataSource>'
        '</OGRVRTLayer></OGRVRTDataSource>')
    out = str(tmp_path / "tpoly.gmt")
    FMT.write_gmt(src, out)
    back = FMT.read_gmt(spark, out)
    assert back.count() == 10
    eas = [r["EAS_ID"] for r in back.filter("EAS_ID < 170")
           .orderBy("fid").collect()]
    assert eas == [168, 169, 166, 158, 165]
    a, b = src.orderBy("fid").collect(), back.orderBy("fid").collect()
    for x, y in zip(a, b):
        assert G.wkt_from_wkb(bytes(x["geometry"])) == \
            G.wkt_from_wkb(bytes(y["geometry"]))
        assert float(x["AREA"]) == float(y["AREA"])
        assert x["PRFEDEA"] == y["PRFEDEA"]


def test_gmt_multipolygon_roundtrip(spark, tmp_path):      # ogr_gmt_5/6
    w1 = ("MULTIPOLYGON (((0 0,0 10,10 10,0 10,0 0),(3 3,4 4,3 4,3 3)),"
          "((12 0,14 0,12 3,12 0)))")
    w2 = "MULTIPOLYGON (((30 20,40 20,30 30,30 20)))"
    rows = [(0, 15, bytearray(G.wkb_from_wkt(w1))),
            (1, 16, bytearray(G.wkb_from_wkt(w2)))]
    src = spark.createDataFrame(rows, "fid long, ID long, geometry binary")
    out = str(tmp_path / "mpoly.gmt")
    FMT.write_gmt(src, out)
    back = FMT.read_gmt(spark, out).orderBy("fid").collect()
    assert len(back) == 2
    assert G.wkt_from_wkb(bytes(back[0]["geometry"])) == w1
    assert back[0]["ID"] == 15
    assert G.wkt_from_wkb(bytes(back[1]["geometry"])) == w2
    assert back[1]["ID"] == 16


# --- BNA driver (autotest/ogr/ogr_bna.py over data/test.bna) -----------------

BNA = "ogr/data/test.bna"


def test_bna_points_and_lines(spark):                      # ogr_bna_1/2
    pts = FMT.read_bna(spark, reference_fixture(BNA), "points").collect()
    assert [r["Primary ID"] for r in pts] == ["PID5", "PID4"]
    assert G.wkt_from_wkb(bytes(pts[0]["geometry"])) == \
        "POINT (573.736 476.563)"
    assert G.wkt_from_wkb(bytes(pts[1]["geometry"])) == \
        "POINT (532.991 429.121)"
    lns = FMT.read_bna(spark, reference_fixture(BNA), "lines").collect()
    assert [r["Primary ID"] for r in lns] == ["PID3"]
    assert G.wkt_from_wkb(bytes(lns[0]["geometry"])) == \
        "LINESTRING (224.598 307.425,333.043 341.461,396.629 304.952)"


def test_bna_polygons(spark):                              # ogr_bna_3
    pol = FMT.read_bna(spark, reference_fixture(BNA), "polygons").collect()
    assert [r["Primary ID"] for r in pol] == \
        ["PID2", "PID1", "PID7", "PID8"]
    assert G.wkt_from_wkb(bytes(pol[2]["geometry"])) == \
        "MULTIPOLYGON (((0 0,1 0,1 1,0 1,0 0)))"
    assert G.wkt_from_wkb(bytes(pol[3]["geometry"])) == \
        "POLYGON ((0 0,0 10,10 10,10 0,0 0),(2 2,2 8,8 8,8 2,2 2))"


def test_bna_ellipses_and_roundtrip(spark, tmp_path):      # ogr_bna_4/write
    ell = FMT.read_bna(spark, reference_fixture(BNA), "ellipses").collect()
    assert [r["Primary ID"] for r in ell] == ["PID6"]
    assert ell[0]["Major radius"] == 100.0
    for lay in ("points", "lines", "polygons", "ellipses"):
        src = FMT.read_bna(spark, reference_fixture(BNA), lay)
        out = str(tmp_path / f"out_{lay}.bna")
        FMT.write_bna(src, out)
        back = FMT.read_bna(spark, out, lay)
        a, b = src.collect(), back.collect()
        assert len(a) == len(b)
        for x, y in zip(a, b):
            assert x["Primary ID"] == y["Primary ID"]
            assert G.wkt_from_wkb(bytes(x["geometry"])) == \
                G.wkt_from_wkb(bytes(y["geometry"]))


# --- GeoRSS driver (autotest/ogr/ogr_georss.py) ------------------------------

GEORSS_D = "ogr/data/"
GEORSS_WKTS = [
    "POINT (2 49)",
    "LINESTRING (2 48,2.1 48.1,2.2 48)",
    "POLYGON ((2 50,2.1 50.1,2.2 48.1,2.1 46.1,2 50))",
    "POLYGON ((2 49,2 49.5,2.2 49.5,2.2 49,2 49))",
]


@pytest.mark.parametrize("fn", ["test_georss_simple.xml",
                                "test_georss_gml.xml"])
def test_georss_rss_read(spark, fn):                   # ogr_georss_2/3
    rows = FMT.read_georss(spark, reference_fixture(GEORSS_D + fn)) \
        .orderBy("fid").collect()
    assert [G.wkt_from_wkb(bytes(r["geometry"])) for r in rows] == \
        GEORSS_WKTS
    r = rows[0]
    assert r["title"] == "A point"
    assert r["author"] == "Author"
    assert r["pubDate"] == "2008/12/07 20:13:00+02"
    assert r["category"] == "First category"
    assert r["category_domain"] == "first_domain"
    assert r["category2"] == "Second category"
    assert r["category2_domain"] == "second_domain"


ATOM_FIELDS = [
    ("title", "Atom draft-07 snapshot"), ("link_rel", "alternate"),
    ("link_type", "text/html"),
    ("link_href", "http://example.org/2005/04/02/atom"),
    ("link2_rel", "enclosure"), ("link2_type", "audio/mpeg"),
    ("link2_length", "1337"),
    ("link2_href", "http://example.org/audio/ph34r_my_podcast.mp3"),
    ("id", "tag:example.org,2003:3.2397"),
    ("updated", "2005/07/31 12:29:29+00"),
    ("published", "2003/12/13 08:29:29-04"),
    ("author_name", "Mark Pilgrim"), ("author_uri", "http://example.org/"),
    ("author_email", "f8dy@example.com"),
    ("contributor_name", "Sam Ruby"),
    ("contributor2_name", "Joe Gregorio"),
    ("content_type", "xhtml"), ("content_xml_lang", "en"),
    ("content_xml_base", "http://diveintomark.org/"),
]


@pytest.mark.parametrize("fn", ["atom_rfc_sample.xml",
                                "atom_rfc_sample_atom_ns.xml"])
def test_georss_atom_read(spark, fn):         # ogr_georss_1/_atom_ns
    r = FMT.read_georss(spark, reference_fixture(GEORSS_D + fn)).collect()[0]
    for k, v in ATOM_FIELDS:
        assert r[k] == v, (k, r[k], v)
    assert '<div xmlns="http://www.w3.org/1999/xhtml">' in r["content"]


def test_georss_rss_write_roundtrip(spark, tmp_path):  # ogr_georss_4
    src = FMT.read_georss(spark, reference_fixture(GEORSS_D + "test_georss_simple.xml"))
    out = str(tmp_path / "rt.xml")
    FMT.write_georss(src, out)
    back = FMT.read_georss(spark, out)
    a, b = src.orderBy("fid").collect(), back.orderBy("fid").collect()
    for x, y in zip(a, b):
        assert G.wkt_from_wkb(bytes(x["geometry"])) == \
            G.wkt_from_wkb(bytes(y["geometry"]))
        assert x["title"] == y["title"] and x["pubDate"] == y["pubDate"]
    assert b[0]["category2_domain"] == "second_domain"


def test_georss_atom_write_roundtrip(spark, tmp_path):  # ogr_georss_1bis/ter
    src = FMT.read_georss(spark, reference_fixture(GEORSS_D + "atom_rfc_sample.xml"))
    out = str(tmp_path / "atom.xml")
    FMT.write_georss(src, out, use_atom=True)
    r = FMT.read_georss(spark, out).collect()[0]
    for k, v in ATOM_FIELDS:
        assert r[k] == v, (k, r[k], v)
    assert '<div xmlns="http://www.w3.org/1999/xhtml">' in r["content"]


# --- Arc Generate + HTF drivers (ogr_arcgen.py / ogr_htf.py) -----------------

def test_arcgen(spark):                                    # ogr_arcgen_1..6
    pts = FMT.read_arcgen(spark, _ogr("points.gen")).orderBy("fid").collect()
    assert [(r["ID"], G.wkt_from_wkb(bytes(r["geometry"]))) for r in pts] \
        == [(1, "POINT (2 49)"), (2, "POINT (3 50)")]
    lns = FMT.read_arcgen(spark, _ogr("lines.gen")).orderBy("fid").collect()
    assert G.wkt_from_wkb(bytes(lns[0]["geometry"])) == \
        "LINESTRING (2 49,3 50)"
    pol = FMT.read_arcgen(spark, _ogr("polygons.gen")).collect()
    assert G.wkt_from_wkb(bytes(pol[0]["geometry"])) == \
        "POLYGON ((2 49,2 50,3 50,3 49,2 49))"
    # 25d variants parse too (Z drops at the engine's 2-D WKB)
    p25 = FMT.read_arcgen(spark, _ogr("points25d.gen")).collect()
    assert G.wkt_from_wkb(bytes(p25[0]["geometry"])) == "POINT (2 49)"


def test_htf(spark):                                       # ogr_htf_1
    P = _ogr("test.htf")
    pol = FMT.read_htf(spark, P, "polygon").orderBy("fid").collect()
    assert G.wkt_from_wkb(bytes(pol[0]["geometry"])) == (
        "POLYGON ((320830 7678810,350840 7658030,308130 7595560,"
        "278310 7616820,320830 7678810))")
    assert G.wkt_from_wkb(bytes(pol[1]["geometry"])) == (
        "POLYGON ((320830 7678810,350840 7658030,308130 7595560,"
        "278310 7616820,320830 7678810),(0 0,0 1,1 1,0 0))")
    assert pol[1]["IDENTIFIER"] == 2
    snd = FMT.read_htf(spark, P, "sounding")
    assert snd.count() == 2
    r = snd.orderBy("fid").collect()[0]
    assert G.wkt_from_wkb(bytes(r["geometry"])) == "POINT (278670 7616330)"
    assert r["OTHER3"] == "other3"


# --- SEG-P1 / UKOOA P1-90 (ogr_segukooa.py) ----------------------------------

@pytest.mark.parametrize("fn", ["test.segp1", "test.ukooa"])
def test_segukooa(spark, fn):                       # ogr_segp1/ukooa_points+lines
    path = _ogr(fn)
    pts = FMT.read_segukooa(spark, path, "points").orderBy("fid").collect()
    r = pts[0]
    assert r["LINENAME"] == "firstline"
    assert r["POINTNUMBER"] == 10
    assert r["LONGITUDE"] == 2 and r["LATITUDE"] == 49
    assert r["EASTING"] == 426857 and r["NORTHING"] == 5427937
    assert r["DEPTH"] == 1234
    if fn == "test.segp1":
        assert r["RESHOOTCODE"] == " "
    assert G.wkt_from_wkb(bytes(r["geometry"])) == "POINT (2 49)"
    lns = FMT.read_segukooa(spark, path, "lines").orderBy("fid").collect()
    assert [l["LINENAME"] for l in lns] == ["firstline", "secondline"]
    assert G.wkt_from_wkb(bytes(lns[0]["geometry"])) == \
        "LINESTRING (2 49,2 49.5)"
    assert G.wkt_from_wkb(bytes(lns[1]["geometry"])) == \
        "LINESTRING (-2 -49,-2.5 -49)"


# --- GPS TrackMaker GTM (ogr_gtm.py) -----------------------------------------

def test_gtm(spark):                                   # ogr_gtm_read_1/2
    P = _ogr("samplemap.gtm")
    w = FMT.read_gtm(spark, P, "waypoints").orderBy("fid").collect()
    assert len(w) == 3
    assert w[0]["name"] == "WAY6"
    assert w[0]["comment"] == "Santa Cruz Stadium"
    assert w[0]["icon"] == 92
    assert w[0]["time"] == "2009/12/18 17:32:41"
    assert G.wkt_from_wkb(bytes(w[0]["geometry"])).startswith(
        "POINT (-47.7899742126")
    assert w[1]["comment"] == "Joe's Goalkeeper Pub"
    assert w[1]["icon"] == 4
    assert w[1]["time"] == "2009/12/18 17:34:46"
    assert w[2]["name"] == "33543400" and w[2]["time"] is None
    t = FMT.read_gtm(spark, P, "tracks").orderBy("fid").collect()
    assert [(r["name"], r["type"], r["color"]) for r in t] == [
        ("San Sebastian Street", 2, 0),
        ("Barao do Amazonas Street", 1, 0),
        ("Curupira Park", 17, 46848)]
    assert G.wkt_from_wkb(bytes(t[0]["geometry"])).startswith(
        "LINESTRING (-47.8074816074")


def test_gpx_distributed_matches_driver(spark, tmp_path):
    """Executor-side waypoint parse is row-identical to the driver
    parse, across genuine multi-range splits (waypoint block tiled
    past several 64 KiB range floors)."""
    a = FMT.read_gpx(spark, reference_fixture(GPX), "waypoints").orderBy("fid").collect()
    b = FMT.read_gpx_distributed(spark, reference_fixture(GPX), n_ranges=4) \
        .orderBy("fid").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]

    src = open(reference_fixture(GPX), encoding="utf-8").read()
    i0 = src.index("<wpt")
    i1 = src.index("<rte>")  # covers both wpt forms incl. self-closing
    big = src[:i0] + src[i0:i1] * 400 + src[i1:]
    p = tmp_path / "big.gpx"
    p.write_text(big, encoding="utf-8")
    a = FMT.read_gpx(spark, str(p), "waypoints").orderBy("fid").collect()
    b = FMT.read_gpx_distributed(spark, str(p), n_ranges=6) \
        .orderBy("fid").collect()
    assert len(a) == 2 * 400
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_shapefile_z_types(spark):                     # ogr_shape_60
    """XYZM point shapefile reads as a 3-D point (1 2 3) — the
    reference drops M (no M support in its 2.0-era core) and keeps Z."""
    from gdal_spark.functions import geometry as G
    from gdal_spark.sources.formats import parse_shp
    data = open(_ogr("testpointzm.shp"),
                "rb").read()
    geoms = parse_shp(data)
    assert [G.wkt_from_wkb(g) for g in geoms] == ["POINT (1 2 3)"]


def test_shapefile_z_synthetic_roundtrip(spark):
    """PolyLineZ / PolygonZ / MultiPointZ records decode with Z kept
    (synthetic records, built to the public shapefile spec)."""
    import struct

    import numpy as np

    from gdal_spark.functions import geometry as G
    from gdal_spark.sources.formats import parse_shp

    def rec(recno, content):
        return struct.pack(">ii", recno, len(content) // 2) + content

    # PolyLineZ: 1 part, 2 points with z
    pts = [(0.0, 0.0, 5.0), (1.0, 1.0, 6.0)]
    body = struct.pack("<i4dii", 13, 0, 0, 1, 1, 1, 2)
    body += struct.pack("<i", 0)
    body += struct.pack("<4d", *(c for p in pts for c in p[:2]))
    body += struct.pack("<2d", 5.0, 6.0) + struct.pack("<2d", 5.0, 6.0)
    # PolygonZ: CW square with z
    ring = [(0, 0), (0, 2), (2, 2), (2, 0), (0, 0)]
    body2 = struct.pack("<i4dii", 15, 0, 0, 2, 2, 1, 5)
    body2 += struct.pack("<i", 0)
    body2 += struct.pack(f"<{10}d", *(c for p in ring for c in p))
    body2 += struct.pack("<2d", 9.0, 9.0) + struct.pack("<5d", *([9.0] * 5))
    data = b"\x00" * 100 + rec(1, body) + rec(2, body2)
    g1, g2 = parse_shp(data)
    assert G.wkt_from_wkb(g1) == "LINESTRING (0 0 5,1 1 6)"
    assert G.wkt_from_wkb(g2) == \
        "POLYGON ((0 0 9,0 2 9,2 2 9,2 0 9,0 0 9))"


def test_gml_wfs11_feature_members(spark):
    # WFS 1.1 gml:featureMembers (plural) + gml:pos points
    # (autotest/ogr/data/archsites.gml)
    path = _ogr("archsites.gml")
    from gdal_spark.functions.geometry import wkt_from_wkb
    df = FMT.read_gml(spark, path)
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["gml_id"] == "archsites.3951"
    assert rows[0]["cat"] == 1
    assert rows[0]["str1"] == "Signature Rock"
    assert wkt_from_wkb(bytes(rows[0]["geometry"])) == \
        "POINT (593493 4914730)"


def test_shapefile_corrupt_records_null_geometry(spark):
    # ogr_shape.py corrupt-geometry fixtures: the feature exists, its
    # geometry reads as NULL (the reference quiets a per-feature error)
    for name in ("buggypoint", "buggymultipoint", "buggymultiline",
                 "buggymultipoly", "buggymultipoly2"):
        rows = FMT.read_shapefile(
            spark, _ogr(f"{name}.shp")).collect()
        assert len(rows) == 1, name
        assert rows[0]["geometry"] is None, name


def test_csv_csvt_and_aspatial(spark):
    # .csvt sidecar typing (ogr_csv testcsvt.csv) + aspatial tables +
    # UTF-8 BOM headers
    df = FMT.read_csv_features(spark, _ogr("testcsvt.csv"),
                               wkt_col=None)
    assert dict(df.dtypes)["INTCOL"] == "bigint"
    assert dict(df.dtypes)["REALCOL"] == "double"
    r = df.collect()[0]
    assert r["INTCOL"] == 12 and r["REALCOL"] == 5.7
    assert r["STRINGCOL"] == "foo"
    bom = FMT.read_csv_features(
        spark, _ogr("csv_with_utf8_bom.csv"), wkt_col=None)
    assert bom.columns[0] == "id"
    assert bom.count() == 2


def test_kml_distributed_matches_driver(spark):
    # executor-side Placemark parse == the driver parse, byte for byte
    a = FMT.read_kml(spark, reference_fixture(KML)).orderBy("fid").collect()
    b = FMT.read_kml_distributed(spark, reference_fixture(KML), n_ranges=4) \
        .orderBy("fid").collect()
    assert len(a) == len(b) == 20
    for x, y in zip(a, b):
        assert x["Name"] == y["Name"]
        assert x["description"] == y["description"]
        gx = bytes(x["geometry"]) if x["geometry"] else None
        gy = bytes(y["geometry"]) if y["geometry"] else None
        assert gx == gy
