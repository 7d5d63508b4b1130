"""session.local_frame: driver-built tables as Arrow LocalRelations that
match the list-built frames they replace — schema (with nullability) and
rows."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

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
