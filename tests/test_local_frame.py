"""session.local_frame: driver-built tables as Arrow LocalRelations that
match the list-built frames they replace — schema (with nullability) and
rows."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import types as T

from gdal_spark.functions import geometry as G
from gdal_spark.session import local_frame
from gdal_spark.sources import polygons as PG

SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("name", T.StringType(), True),
    T.StructField("wkb", T.BinaryType(), False),
    T.StructField("x", T.DoubleType(), True),
    T.StructField("k", T.IntegerType(), True),
])
ROWS = [(1, "a", b"\x01\x02", 1.5, 3), (2, None, b"", None, None),
        (-7, "ü", b"\xff" * 40, -0.0, -1)]


def _rows(df):
    return sorted(tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v
                        for v in r) for r in df.collect())


def _leaf(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


@pytest.mark.parametrize("schema", [SCHEMA, "id long, name string, wkb binary, "
                                            "x double, k int"])
def test_local_frame_equals_list_frame(spark, schema):
    new = local_frame(spark, ROWS, schema)
    old = spark.createDataFrame(ROWS, schema)
    assert new.schema == old.schema
    assert _rows(new) == _rows(old)
    assert _leaf(new) == "LocalRelation"


def test_local_frame_empty(spark):
    df = local_frame(spark, [], SCHEMA)
    assert df.schema == SCHEMA and df.collect() == []


def test_fixture_builders_equal_list_frames(spark):
    old = spark.createDataFrame(PG.IDLINK_ROWS, "eas_id long, name string")
    new = PG.idlink_fixture(spark)
    assert new.schema == old.schema and _rows(new) == _rows(old)

    poly = PG.poly_fixture(spark)
    old = spark.createDataFrame(
        [(fid, bytearray(PG._poly_geom(fid)), area, eas, prf)
         for fid, area, eas, prf in PG.POLY_ROWS], poly.schema)
    assert not any(f.nullable for f in poly.schema)
    assert _rows(poly) == _rows(old)


@pytest.mark.parametrize("build", [
    lambda s: PG.admin_grid(s, nx=36, ny=17),
    lambda s: PG.diamond_grid(s, 6, 5, -50.0, 50.0, -40.0, 40.0, concave=True),
    PG.rot_poly_fixture,
])
def test_grid_builders_are_local_relations(spark, build):
    df = build(spark)
    assert _leaf(df) == "LocalRelation"
    assert not any(f.nullable for f in df.schema)


def _cell_rings(nx, ny, a_min, a_max, b_min, b_max, concave):
    """The per-cell loop the grid builders vectorise: (i, j, closed ring)."""
    da, db = (a_max - a_min) / nx, (b_max - b_min) / ny
    for j in range(ny):
        for i in range(nx):
            a0, a1 = a_min + i * da, a_min + (i + 1) * da
            b0, b1 = b_min + j * db, b_min + (j + 1) * db
            am, bm = (a0 + a1) / 2.0, (b0 + b1) / 2.0
            ring = ([[a0, b0], [a1, b0], [a1, bm], [am, bm], [am, b1], [a0, b1]]
                    if concave else [[a0, b0], [a1, b0], [a1, b1], [a0, b1]])
            yield i, j, np.array(ring + [[a0, b0]])


@pytest.mark.parametrize("kind,args", [
    ("admin", (36, 17, -180.0, 180.0, -85.0, 85.0, False)),
    ("admin", (7, 3, -2.0, 96.3, 1.0, 9.7, False)),
    ("diamond", (40, 40, -121.0, 49.0, -49.0, 121.0, True)),
    ("diamond", (8, 2, -2.0, 98.0, -3.0, 7.0, False)),
])
def test_grid_wkb_is_encode_polygon(spark, kind, args):
    """The vectorised builders emit, byte for byte, what ``encode_polygon``
    makes of each cell's ring, with the ring's envelope as bbox."""
    nx, ny, a0, a1, b0, b1, concave = args
    if kind == "admin":
        df = PG.admin_grid(spark, nx, ny, a0, a1, b0, b1)
    else:
        df = PG.diamond_grid(spark, nx, ny, a0, a1, b0, b1, concave=concave)
    got = {r["cell_id"]: r for r in df.collect()}
    assert len(got) == nx * ny
    for i, j, ring in _cell_rings(*args):
        if kind == "diamond":
            ring = PG._uv_to_xy(ring)
        r = got[j * nx + i]
        assert bytes(r["wkb"]) == G.encode_polygon([ring])
        assert r["cell_name"] == f"{'cell' if kind == 'admin' else 'dcell'}_{i}_{j}"
        assert (r["xmin"], r["ymin"], r["xmax"], r["ymax"]) == (
            *ring.min(axis=0).tolist(), *ring.max(axis=0).tolist())
