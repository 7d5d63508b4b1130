"""Tile math: Spark column expressions vs plain-Python reference twins.

The twins implement gdal2tiles.py:211-318 formulas verbatim; goldens below
include hand-checked canonical values and the FIXTURES.md §6 edge cases
(lat ±85.05112878 clamped inside, lon near ±180, tile borders, zoom 0/18).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from gdal_spark.functions import tiles as T


def test_constants():
    assert T.ORIGIN_SHIFT == pytest.approx(20037508.342789244, abs=1e-6)
    assert T.INITIAL_RESOLUTION == pytest.approx(156543.03392804062, abs=1e-8)


def test_py_known_values():
    # lon/lat (0,0) center: tile (2^(z-1)-1 or 2^(z-1)) boundary; pixel at center
    mx, my = T.py_latlon_to_meters(0.0, 0.0)
    assert mx == 0.0 and abs(my) < 1e-6
    # zoom 0: whole world is tile (0,0); px at center = 128 -> ceil(0.5)-1 = 0
    assert T.py_latlon_to_tile(0.0, 0.0, 0) == (0, 0)
    # Greenwich at z=1: lon 0 is the boundary px=256 -> tx = ceil(1)-1 = 0 (!)
    # this is the reference ceil-minus-one behavior (gdal2tiles.py:246-249)
    assert T.py_latlon_to_tile(0.0, 0.0, 1) == (0, 0)
    assert T.py_latlon_to_tile(10.0, 10.0, 1) == (1, 1)
    assert T.py_latlon_to_tile(-10.0, -10.0, 1) == (0, 0)
    # roundtrip meters<->latlon
    lat, lon = T.py_meters_to_latlon(*T.py_latlon_to_meters(48.858, 2.295))
    assert lat == pytest.approx(48.858, abs=1e-9)
    assert lon == pytest.approx(2.295, abs=1e-9)


def test_py_quadkey_reference_cases():
    # QuadTree flips ty to google first (gdal2tiles.py:302-317).
    # zoom 1: google (0,0) = top-left = quadkey "0"
    # tms ty=1 -> google 0
    assert T.py_quadkey(0, 1, 1) == "0"
    assert T.py_quadkey(1, 1, 1) == "1"
    assert T.py_quadkey(0, 0, 1) == "2"
    assert T.py_quadkey(1, 0, 1) == "3"
    # canonical MSDN example: google tile (3,5) zoom 3 -> "213"
    tms_y = (2**3 - 1) - 5
    assert T.py_quadkey(3, tms_y, 3) == "213"
    assert T.py_quadkey(0, 0, 0) == ""


def test_py_zoom_for_pixel_size():
    assert T.py_zoom_for_pixel_size(156543.04) == 0
    assert T.py_zoom_for_pixel_size(100000.0) == 0
    assert T.py_zoom_for_pixel_size(T.py_resolution(10) * 1.01) == 9
    assert T.py_zoom_for_pixel_size(T.py_resolution(10) * 0.99) == 10


def test_py_tile_bounds_roundtrip():
    b = T.py_tile_bounds(0, 0, 0)
    assert b[0] == pytest.approx(-T.ORIGIN_SHIFT)
    assert b[3] == pytest.approx(T.ORIGIN_SHIFT)
    # zoom 5 tile containing a point must bound that point
    lat, lon = 37.7749, -122.4194
    tx, ty = T.py_latlon_to_tile(lat, lon, 5)
    minx, miny, maxx, maxy = T.py_tile_bounds(tx, ty, 5)
    mx, my = T.py_latlon_to_meters(lat, lon)
    assert minx <= mx <= maxx and miny <= my <= maxy


@pytest.mark.parametrize("zoom", [0, 1, 5, 12, 18])
def test_spark_matches_python(spark, zoom):
    pts = [
        (0.0, 0.0), (10.0, 10.0), (-10.0, -10.0),
        (48.858, 2.295), (37.7749, -122.4194), (-33.86, 151.21),
        # just inside the Web-Mercator clamp: exactly at ±85.05112878 the
        # pixel lands on the domain edge where JVM and C libm tan/log differ
        # by an ulp and flip the ceil-minus-one tile — the generator clamps
        # lat to [-85, 85] so real data never sits there.
        (85.05112, 179.9995), (-85.05112, -179.9995),
        (84.99, -0.0005), (0.0005, 0.0005),
    ]
    df = spark.createDataFrame([(la, lo) for la, lo in pts], "lat double, lon double")
    out = T.with_tile_columns(df, lon="lon", lat="lat", zoom=zoom).collect()
    for row in out:
        etx, ety = T.py_latlon_to_tile(row["lat"], row["lon"], zoom)
        assert (row["tx"], row["ty"]) == (etx, ety), (row["lat"], row["lon"], zoom)
        assert row["gy"] == T.py_google_tile(etx, ety, zoom)[1]
        assert row["quadkey"] == T.py_quadkey(etx, ety, zoom)


def test_spark_parent_tile(spark):
    df = spark.createDataFrame([(i,) for i in range(-4, 9)], "t int")
    rows = df.select(T.parent_tile(F.col("t")).alias("p"), "t").collect()
    for r in rows:
        assert r["p"] == math.floor(r["t"] / 2.0)


def test_geodetic_profile_twins():
    """GlobalGeodetic (gdal2tiles.py:320-412): z0 has 2 tiles across
    (tmscompatible) or 1 (OpenLayers layout)."""
    from gdal_spark.functions import tiles as T
    assert T.py_geodetic_tile(-179.9, -89.9, 0) == (0, 0)
    assert T.py_geodetic_tile(179.9, 89.9, 0) == (1, 0)
    assert T.py_geodetic_tile(179.9, 89.9, 0, tmscompatible=False) == (0, 0)
    # z1 tmscompatible: 4x2 tiles, bounds roundtrip
    tx, ty = T.py_geodetic_tile(10.0, 20.0, 1)
    x0, y0, x1, y1 = T.py_geodetic_tile_bounds(tx, ty, 1)
    assert x0 <= 10.0 <= x1 and y0 <= 20.0 <= y1
    assert T.py_geodetic_resolution(0) == 180.0 / 256


def test_geodetic_columns_match_twins(spark):
    from gdal_spark.functions import tiles as T
    import numpy as np
    rng = np.random.RandomState(8)
    rows = [(float(lo), float(la)) for lo, la in
            zip(rng.uniform(-179, 179, 50), rng.uniform(-89, 89, 50))]
    df = spark.createDataFrame(rows, "lon double, lat double")
    got = T.with_geodetic_tile_columns(df, zoom=7).collect()
    for r in got:
        assert (r["gtx"], r["gty"]) == T.py_geodetic_tile(r["lon"], r["lat"], 7)


@pytest.mark.parametrize("zoom", [0, 1, 3, 8, 10, 12, 18, 23])
def test_quadkey_matches_python_over_grid(spark, zoom):
    """The Morton-interleave quadkey against the digit-by-digit Python
    twin, including the out-of-range coordinates -1 and 2^zoom (only the
    low zoom bits count)."""
    n = 2 ** zoom
    vals = sorted({-1, 0, 1, n // 3, n - 2, n - 1, n})
    df = spark.createDataFrame([(tx, ty) for tx in vals for ty in vals],
                               "tx int, ty int")
    for r in df.select("tx", "ty", T.quadkey(F.col("tx"), F.col("ty"), zoom)
                       .alias("q")).collect():
        assert r["q"] == T.py_quadkey(r["tx"], r["ty"], zoom), (r, zoom)
