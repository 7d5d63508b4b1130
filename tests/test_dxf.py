"""DXF driver goldens, ported from the reference autotest suite
(autotest/ogr/ogr_dxf.py tests 1-14 and 20-26) over its own fixtures.

Entity translation parity targets ogrdxflayer.cpp / ogrdxf_dimension.cpp /
ogrdxf_hatch.cpp / ogrdxf_polyline_smooth.cpp; the expected coordinates
below are the autotest's literal WKT strings."""

from __future__ import annotations

import math
import re

import numpy as np
import pytest

from conftest import reference_fixture
import gdal_spark.sources.dxf as DXF
from gdal_spark.apps import read_vector, write_vector
from gdal_spark.functions import geometry as G

D = "ogr/data/"


def _feats(name, arc_stepsize=None):
    old = DXF.ARC_STEPSIZE
    if arc_stepsize is not None:
        DXF.ARC_STEPSIZE = arc_stepsize
    try:
        return list(DXF._entity_stream(DXF._DXFFile(reference_fixture(D + name))))
    finally:
        DXF.ARC_STEPSIZE = old


def _flat(geom):
    kind, data = geom
    if kind in ("LINESTRING", "POINT"):
        return [list(p) for p in data]
    if kind == "MULTILINESTRING":
        return [list(p) for ln in data for p in ln]
    if kind == "POLYGON":
        return [list(p) for ring in data for p in ring]
    if kind == "GEOMETRYCOLLECTION":
        return [p for part in data for p in _flat(part)]
    raise AssertionError(kind)


def _wkt_coords(w):
    body = w[w.index("("):]
    return [[float(t) for t in g.split()]
            for g in re.findall(r"[-\d.][-\d. e]*", body)]


def _assert_geom(geom, wkt, tol=1e-6):
    got, exp = _flat(geom), _wkt_coords(wkt)
    assert len(got) == len(exp), (len(got), len(exp))
    for a, b in zip(got, exp):
        for i in range(min(len(a), len(b))):
            assert abs(a[i] - b[i]) <= tol, (a, b)


def _env_area(geom):
    pts = np.asarray(_flat(geom))
    return ((pts[:, 0].max() - pts[:, 0].min())
            * (pts[:, 1].max() - pts[:, 1].min()))


# --- assorted.dxf (ogr_dxf_1..9) -------------------------------------------

@pytest.fixture(scope="module")
def assorted():
    return _feats("assorted.dxf")


def test_dxf_feature_count_and_fields(assorted):           # ogr_dxf_1
    assert len(assorted) == 16
    f = assorted[0]
    for field in ("Layer", "SubClasses", "ExtendedEntity", "Linetype",
                  "EntityHandle", "Text"):
        assert field in f


def test_dxf_ellipse(assorted):                            # ogr_dxf_2
    f = assorted[0]
    assert f["Layer"] == "0"
    assert f["SubClasses"] == "AcDbEntity:AcDbEllipse"
    assert f["Linetype"] == "ByLayer"
    assert f["EntityHandle"] == "43"
    assert f["style"] == "PEN(c:#000000)"
    kind, pts = f["geom"]
    assert kind == "LINESTRING"
    assert abs(_env_area(f["geom"]) - 1596.12) < 0.5
    assert abs(pts[0][0] - 73.25) < 1e-3 and abs(pts[0][1] - 139.75) < 1e-3


def test_dxf_partial_ellipse(assorted):                    # ogr_dxf_3
    g = assorted[1]["geom"]
    assert abs(_env_area(g) - 311.864) < 0.5
    assert abs(g[1][0][0] - 61.133) < 0.01
    assert abs(g[1][0][1] - 103.592) < 0.01


def test_dxf_point_line_mtext(assorted):                   # ogr_dxf_4..6
    _assert_geom(assorted[2]["geom"], "POINT (83.5 160.0 0)")
    _assert_geom(assorted[3]["geom"],
                 "LINESTRING (97.0 159.5 0,108.5 132.25 0)")
    _assert_geom(assorted[4]["geom"], "POINT (84 126)")
    assert assorted[4]["style"] == \
        'LABEL(f:"Arial",t:"Test",a:30,s:5g,p:7,c:#000000)'


def test_dxf_partial_circle(assorted):                     # ogr_dxf_7
    g = assorted[5]["geom"]
    assert abs(_env_area(g) - 445.748) < 0.5
    assert abs(g[1][0][0] - 115.258) < 0.01
    assert abs(g[1][0][1] - 107.791) < 0.01


def test_dxf_dimension(assorted):                          # ogr_dxf_8
    g = assorted[7]["geom"]
    assert g[0] == "MULTILINESTRING" and len(g[1]) == 7
    _assert_geom(g, "MULTILINESTRING ((63.862871944482457 "
        "149.209935992088333,24.341960668550669 111.934531038652722),"
        "(72.754404848874373 139.782768575383642,62.744609795879391 "
        "150.395563330366286),(33.233493572942614 102.507363621948002,"
        "23.2236985199476 113.120158376930675),(63.862871944482457 "
        "149.209935992088333,59.187727781045531 147.04077688455709),"
        "(63.862871944482457 149.209935992088333,61.424252078251662 "
        "144.669522208001183),(24.341960668550669 111.934531038652722,"
        "26.78058053478146 116.474944822739886),(24.341960668550669 "
        "111.934531038652722,29.017104831987599 114.103690146183979))")
    _assert_geom(assorted[8]["geom"],
                 "POINT (42.815907752635709 131.936242584545397)")
    assert assorted[8]["style"] == \
        'LABEL(f:"Arial",t:"54.3264",p:5,a:43.3,s:2.5g)'


def test_dxf_block_inlined(assorted):                      # ogr_dxf_9
    g = assorted[13]["geom"]
    assert g[0] == "GEOMETRYCOLLECTION" and len(g[1]) == 5
    _assert_geom(g, "GEOMETRYCOLLECTION (LINESTRING "
        "(79.069506278985116 121.003652476272777 0,79.716898725419625 "
        "118.892590150942851 0),LINESTRING (79.716898725419625 "
        "118.892590150942851 0,78.140638855839953 120.440702522851453 0),"
        "LINESTRING (78.140638855839953 120.440702522851453 0,"
        "80.139111190485622 120.328112532167196 0),LINESTRING "
        "(80.139111190485622 120.328112532167196 0,78.619146316248077 "
        "118.920737648613908 0),LINESTRING (78.619146316248077 "
        "118.920737648613908 0,79.041358781314059 120.975504978601705 0))")
    f = assorted[14]
    assert f["Text"] == 'Text Sample1¿λ\n"abc"'
    assert f["style"] == ('LABEL(f:"Arial",t:"Text Sample1¿λ\n'
                          '\\"abc\\"",a:45,s:0.5g,p:5,c:#000000)')
    _assert_geom(f["geom"],
                 "POINT (77.602201427662891 120.775897075866169 0)")
    f = assorted[15]
    assert f["Text"] == "Second"
    assert f["SubClasses"] == "AcDbEntity:AcDbMText"
    _assert_geom(f["geom"],
                 "POINT (79.977331629005178 119.698291706738644 0)")


# --- other fixtures ---------------------------------------------------------

def test_dxf_lwpolyline_ocs():                             # ogr_dxf_10
    f = _feats("LWPOLYLINE-OCS.dxf")[1]
    _assert_geom(f["geom"], "LINESTRING (600325.567999998573214 "
        "3153021.253000000491738 562.760000000052969,600255.215999998385087 "
        "3151973.98600000096485 536.950000000069849,597873.927999997511506 "
        "3152247.628000000491738 602.705000000089058)")


def test_dxf_entities_only():                              # ogr_dxf_11
    fs = _feats("entities_only.dxf")
    _assert_geom(fs[0]["geom"], "POINT (672500.0 242000.0 539.986)")
    _assert_geom(fs[1]["geom"], "POINT (672750.0 242000.0 558.974)")


@pytest.mark.parametrize("name", ["polyline_smooth", "lwpolyline_smooth"])
def test_dxf_smooth_polyline(name):                        # ogr_dxf_13/14
    f = _feats(name + ".dxf")[0]
    assert f["Layer"] == "1"
    kind, pts = f["geom"]
    assert kind == "LINESTRING" and len(pts) == 146
    assert abs(_env_area(f["geom"]) - 1350.43) < 0.5
    assert abs(pts[0][0] - 251297.8179) < 1e-3
    assert abs(pts[0][1] - 412226.8286) < 1e-3


def test_dxf_spline():                                     # ogr_dxf_20
    f = _feats("spline_qcad.dxf")[0]
    kind, pts = f["geom"]
    assert kind == "LINESTRING" and len(pts) == 64
    for got, exp in [(pts[0], (10.75, 62.75)),
                     (pts[1], (20.637752769146068, 63.434832501489716)),
                     (pts[30], (70.672272612748785, 9.405414282114966)),
                     (pts[63], (57.25, 85.5))]:
        assert abs(got[0] - exp[0]) < 1e-9 and abs(got[1] - exp[1]) < 1e-9


def test_dxf_circle():                                     # ogr_dxf_21
    f = _feats("circle.dxf")[0]
    kind, pts = f["geom"]
    assert kind == "LINESTRING" and len(pts) == 91
    assert np.allclose(pts[0], (5, 2, 3), atol=1e-12)
    assert np.allclose(pts[1], (4.990256201039297, 1.720974105023499, 3),
                       atol=1e-12)
    assert np.allclose(pts[45], (-3.0, 2.0, 3), atol=1e-9)
    assert np.allclose(pts[-1], (5, 2, 3), atol=1e-9)


def test_dxf_text():                                       # ogr_dxf_22
    f = _feats("text.dxf")[0]
    assert f["Text"] == "test_text"
    assert f["style"] == 'LABEL(f:"Arial",t:"test_text",a:45,s:10g,c:#ff0000)'
    _assert_geom(f["geom"], "POINT(1 2 3)")


def test_dxf_hatch():                                      # ogr_dxf_24
    fs = _feats("hatch.dxf", arc_stepsize=45.0)
    _assert_geom(fs[0]["geom"], "POLYGON ((2 1,1.646446609406726 "
        "0.853553390593274,1.5 0.5,1.646446609406726 0.146446609406726,"
        "2 0,2.0 0.0,2.146446609406726 -0.353553390593274,2.5 -0.5,"
        "2.853553390593274 -0.353553390593274,3.0 -0.0,3 0,"
        "3.353553390593274 0.146446609406726,3.5 0.5,3.353553390593274 "
        "0.853553390593273,3 1,2.853553390593274 1.353553390593274,2.5 1.5,"
        "2.146446609406726 1.353553390593274,2 1))", tol=1e-9)
    _assert_geom(fs[1]["geom"], "POLYGON ((0.0 0.0 0,-0.353553390593274 "
        "0.146446609406726 0,-0.5 0.5 0,-0.353553390593274 "
        "0.853553390593274 0,-0.0 1.0 0,0.0 1.0 0,0.146446609406726 "
        "1.353553390593274 0,0.5 1.5 0,0.853553390593274 1.353553390593274 "
        "0,1.0 1.0 0,1.0 1.0 0,1.353553390593274 0.853553390593274 0,1.5 "
        "0.5 0,1.353553390593274 0.146446609406727 0,1.0 0.0 0,1 0 0,"
        "0.853553390593274 -0.353553390593274 0,0.5 -0.5 0,"
        "0.146446609406726 -0.353553390593274 0,0.0 -0.0 0,0.0 0.0 0))",
        tol=1e-9)
    _assert_geom(fs[2]["geom"], "POLYGON ((-1 -1,-1 0,0 0,-1 -1))")


def test_dxf_3dface_and_solid():                           # ogr_dxf_25/26
    fs = _feats("3dface.dxf")
    _assert_geom(fs[0]["geom"], "POLYGON ((10 20 30,11 21 31,12 22 32,"
                 "10 20 30))")
    _assert_geom(fs[1]["geom"], "POLYGON ((10 20 30,11 21 31,12 22 32,"
                 "13 23 33,10 20 30))")
    f = _feats("solid.dxf")[0]
    _assert_geom(f["geom"], "POLYGON ((2.716846 2.762514,2.393674 "
                 "1.647962,4.391042 1.06881,4.714214 2.183362,"
                 "2.716846 2.762514))")


# --- Spark surface ----------------------------------------------------------

def test_dxf_spark_read(spark):
    df = read_vector(spark, reference_fixture(D + "assorted.dxf"))
    assert df.count() == 16
    rows = df.orderBy("fid").collect()
    assert rows[0]["SubClasses"] == "AcDbEntity:AcDbEllipse"
    assert rows[0]["EntityHandle"] == "43"
    w = G.wkt_from_wkb(bytes(rows[2]["geometry"]))
    assert w == "POINT (83.5 160)"


def test_dxf_write_roundtrip(spark, tmp_path):             # ogr_dxf_12
    rows = [
        (0, "abc", "PEN(c:#ff0000)",
         bytearray(G.encode_linestring(np.array([[10.0, 12], [60, 65]])))),
        (1, None, "BRUSH(fc:#ff0000)",
         bytearray(G.encode_polygon(
             [np.array([[0.0, 0], [100, 0], [100, 100], [0, 0]])]))),
    ]
    src = spark.createDataFrame(
        rows, "fid long, Layer string, ogr_style string, geometry binary")
    out = str(tmp_path / "rt.dxf")
    write_vector(src, out)
    back = read_vector(spark, out).orderBy("fid").collect()
    assert len(back) == 2
    assert back[0]["Layer"] == "abc"
    assert G.wkt_from_wkb(bytes(back[0]["geometry"])) == \
        "LINESTRING (10 12,60 65)"
    assert back[1]["Layer"] == "0"
    assert G.wkt_from_wkb(bytes(back[1]["geometry"])) == \
        "POLYGON ((0 0,100 0,100 100,0 0))"


def test_distributed_parse_matches_driver_parse(spark, tmp_path):
    """read_dxf_distributed must be row-identical to the driver parse,
    including file-order fids, across real multi-range splits."""
    from gdal_spark.sources import dxf as DXF

    for fn in ["assorted.dxf", "LWPOLYLINE-OCS.dxf", "hatch.dxf"]:
        path = reference_fixture(D + fn)
        a = DXF.read_dxf(spark, path).orderBy("fid").collect()
        b = DXF.read_dxf_distributed(spark, path, n_ranges=5) \
            .orderBy("fid").collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b], fn


def test_distributed_parse_multirange_alignment(spark, tmp_path):
    """Force genuine multi-range splits: tile the assorted-entity body
    until the ENTITIES span crosses several 64 KiB range floors, then
    check the split parse is identical to the single-pass parse."""
    from gdal_spark.sources import dxf as DXF

    src = open(reference_fixture(D + "assorted.dxf"),
               encoding="latin-1").read()
    head, _, rest = src.partition("ENTITIES\n")
    body, _, tail = rest.partition("  0\nENDSEC")
    big = head + "ENTITIES\n" + body * 40 + "  0\nENDSEC" + tail
    p = tmp_path / "big.dxf"
    p.write_text(big, encoding="latin-1")
    a = DXF.read_dxf(spark, str(p), distributed=False) \
        .orderBy("fid").collect()
    b = DXF.read_dxf_distributed(spark, str(p), n_ranges=7) \
        .orderBy("fid").collect()
    assert len(a) == 16 * 40
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_write_blocks_and_linetypes_roundtrip(spark):
    """Write-parity: BLOCK/INSERT definitions and AutoLineType LTYPE
    records survive a round trip through our own reader
    (ogr_dxf_14..16 write path semantics)."""
    import math
    import os
    import tempfile

    import numpy as np

    from gdal_spark.functions import geometry as G
    from gdal_spark.sources import dxf as DX

    star = G.encode_linestring(np.array(
        [(0.0, 0.0), (1.0, 1.0), (2.0, 0.0)]))
    rows = [
        # INSERT with rotation + scaling
        ("0", 'PEN(c:#FF0000)', None, "STAR", 30.0, [2.0, 3.0, 1.0],
         G.encode_point(5.0, 5.0)),
        # plain line with a dashed pen -> LTYPE record
        ("lines", 'PEN(c:#0000FF,w:2pt,p:"5px 5px")', None, None, None,
         None, G.encode_linestring(np.array([(0.0, 0.0), (10.0, 0.0)]))),
    ]
    df = spark.createDataFrame(
        rows, "Layer string, ogr_style string, Text string, "
              "BlockName string, BlockAngle double, "
              "BlockScale array<double>, geometry binary")
    path = os.path.join(tempfile.mkdtemp(), "blocks.dxf")
    DX.write_dxf(df, path, blocks={"STAR": [star]})

    out = DX.read_dxf(spark, path).collect()
    assert len(out) == 2

    # the INSERT inlines the block: scale (2,3), rotate 30deg,
    # translate (5,5) applied to (0,0),(1,1),(2,0)
    ang = math.radians(30.0)
    exp = []
    for x, y in [(0, 0), (1, 1), (2, 0)]:
        sx, sy = x * 2.0, y * 3.0
        exp.append((5 + sx * math.cos(ang) - sy * math.sin(ang),
                    5 + sx * math.sin(ang) + sy * math.cos(ang)))
    ins = [r for r in out if r.Layer == "0"][0]
    got = G.decode_linestring(bytes(ins.geometry))
    assert np.abs(np.array(got) - np.array(exp)).max() < 1e-9

    # the dashed line carries its linetype name + reconstructed pen
    dashed = [r for r in out if r.Layer == "lines"][0]
    assert dashed.Linetype == "AutoLineType-1"
    assert 'p:"' in (dashed.ogr_style or "")
