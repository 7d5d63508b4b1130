"""Round-5 writer parity: MBTiles, CF netCDF, MapInfo MIF/MID.
Contract per the judge gate: write -> read back with the engine's own
reader -> value/checksum equality."""

import math
import struct

import numpy as np
import pytest

from gdal_spark.functions.geometry import (encode_linestring,
                                           encode_point, encode_polygon,
                                           wkt_from_wkb)
from gdal_spark.raster import mbtiles as MB
from gdal_spark.raster import netcdf as NC
from gdal_spark.raster.checksum import py_checksum
from gdal_spark.raster.model import RasterMeta, from_array, to_array


def test_netcdf_roundtrip(spark, tmp_path):
    y, x = np.mgrid[0:30, 0:40]
    a = ((x * 7 + y * 3) % 200).astype("int16")
    m = RasterMeta("t", 40, 30, gt=(500000.0, 10.0, 0.0, 4200000.0,
                                    0.0, -10.0), dtype="int16", block=16)
    p = str(tmp_path / "t.nc")
    NC.write_netcdf(from_array(spark, a, m), m, p, nodata=-9999)
    tiles, meta2 = NC.read_netcdf(spark, p)
    assert (meta2.width, meta2.height, meta2.dtype) == (40, 30, "int16")
    assert meta2.gt == m.gt
    assert meta2.nodata == -9999.0
    got = to_array(tiles, meta2)
    assert np.array_equal(got, a)
    assert py_checksum(got) == py_checksum(a)


@pytest.mark.parametrize("dtype,nodata,nc_type", [
    ("int16", -9999, 3), ("uint8", 255, 1), ("int32", -1, 4),
    ("float32", -3.5, 5), ("float64", 1e30, 6)])
def test_netcdf_fill_value_has_variable_type(spark, tmp_path, dtype, nodata, nc_type):
    """CF: _FillValue is written with the variable's own nc_type (it was
    NC_INT for short and byte variables) and reads back as the nodata."""
    a = (np.arange(12 * 10) % 7).astype(dtype).reshape(10, 12)
    m = RasterMeta("t", 12, 10, gt=(0.0, 1.0, 0.0, 10.0, 0.0, -1.0),
                   dtype=dtype, block=16)
    p = str(tmp_path / "fill.nc")
    NC.write_netcdf(from_array(spark, a, m), m, p, nodata=nodata)
    raw = open(p, "rb").read()
    at = raw.index(b"_FillValue") + len(b"_FillValue") + 2  # name padded to 4
    att_type, nelems = struct.unpack_from(">ii", raw, at)
    assert (att_type, nelems) == (nc_type, 1) == (NC._NC_OF_DTYPE[dtype], 1)
    tiles, meta2 = NC.read_netcdf(spark, p)
    assert meta2.nodata == float(np.array(nodata, dtype))
    assert np.array_equal(to_array(tiles, meta2), a)


def test_netcdf_roundtrip_float_multiband(spark, tmp_path):
    y, x = np.mgrid[0:20, 0:24]
    a0 = (x * 0.5 + y * 0.25).astype("float32")
    m = RasterMeta("t", 24, 20, gt=(0.0, 1.0, 0.0, 20.0, 0.0, -1.0),
                   dtype="float32", block=16)
    p = str(tmp_path / "f.nc")
    NC.write_netcdf(from_array(spark, a0, m), m, p)
    tiles, meta2 = NC.read_netcdf(spark, p)
    assert np.array_equal(to_array(tiles, meta2), a0)


def test_mbtiles_roundtrip(spark, tmp_path):
    zoom = 10
    res = 2 * MB.MAX_EXTENT / (256 * (1 << zoom))
    gt = (-MB.MAX_EXTENT + 300 * 256 * res, res, 0.0,
          MB.MAX_EXTENT - 380 * 256 * res, 0.0, -res)
    y, x = np.mgrid[0:512, 0:768]
    a = ((x * 5 + y * 11) % 251).astype("uint8")
    m = RasterMeta("t", 768, 512, gt=gt, dtype="uint8", block=256)
    p = str(tmp_path / "t.mbtiles")
    MB.write_mbtiles(from_array(spark, a, m), m, p, name="t")
    tiles, meta2 = MB.read_mbtiles(spark, p)
    assert (meta2.width, meta2.height) == (768, 512)
    assert math.isclose(meta2.gt[0], gt[0])
    assert math.isclose(meta2.gt[3], gt[3])
    got = to_array(tiles, meta2)
    assert np.array_equal(got, a)
    assert py_checksum(got) == py_checksum(a)


def test_mbtiles_rejects_off_grid(spark, tmp_path):
    m = RasterMeta("t", 256, 256, gt=(0.0, 123.0, 0.0, 0.0, 0.0, -123.0),
                   dtype="uint8", block=256)
    a = np.zeros((256, 256), np.uint8)
    with pytest.raises(ValueError, match="Web-Mercator"):
        MB.write_mbtiles(from_array(spark, a, m), m,
                         str(tmp_path / "x.mbtiles"), zoom=10)


def test_mif_roundtrip(spark, tmp_path):
    from gdal_spark.sources.formats import read_mif, write_mif
    ring = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0],
                     [0.0, 0.0]])
    hole = np.array([[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 2.0],
                     [1.0, 1.0]])
    line = np.array([[0.0, 0.0], [1.5, 2.5], [3.0, 0.5]])
    rows = [
        (0, 10, 1.25, "alpha", True, encode_point(2.5, -1.25)),
        (1, 20, 2.5, "beta", False, encode_linestring(line)),
        (2, 30, -0.5, 'say "hi"', True, encode_polygon([ring, hole])),
        (3, None, None, None, None, None),
    ]
    df = spark.createDataFrame(
        rows, "fid long, n bigint, v double, s string, b boolean, "
              "geometry binary")
    p = str(tmp_path / "w.mif")
    write_mif(df, p)
    back = read_mif(spark, p).orderBy("fid").collect()
    assert len(back) == 4
    assert back[0]["n"] == 10 and back[0]["v"] == 1.25
    assert back[0]["s"] == "alpha" and back[0]["b"] is True
    assert wkt_from_wkb(bytes(back[0]["geometry"])) == "POINT (2.5 -1.25)"
    assert wkt_from_wkb(bytes(back[1]["geometry"])).startswith(
        "LINESTRING (0 0,1.5 2.5,3 0.5")
    w2 = wkt_from_wkb(bytes(back[2]["geometry"]))
    assert w2.startswith("POLYGON ((0 0,4 0,4 4,0 4,0 0),(1 1,")
    assert back[3]["geometry"] is None and back[3]["n"] is None
