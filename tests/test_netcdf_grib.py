"""NetCDF classic + GRIB1/GRIB2 reader tests.

Goldens are the reference's own autotest expectations
(autotest/gdrivers/netcdf.py, grib.py) run against the reference's own
data files — checksums via the engine's bit-exact GDALChecksumImage
twin.
"""

import numpy as np
import pytest

from conftest import reference_fixture
from gdal_spark.raster import grib as GB
from gdal_spark.raster import netcdf as NC
from gdal_spark.raster.checksum import checksum, py_checksum


def _gd(name: str) -> str:
    return reference_fixture("gdrivers/data/" + name)


def _nc(fn, var=None):
    data = open(_gd(fn), "rb").read()
    return data, NC.describe(data, var)


# --- netCDF ---------------------------------------------------------------

def test_netcdf_bug636_tas_checksum():                    # netcdf_1
    data, r = _nc("bug636.nc", "tas")
    assert r.width == 128 and r.height == 64
    assert py_checksum(NC.read_band(data, r, 0)) == 31621


def test_netcdf_int16_nogeo_bottomup():                   # netcdf_26/27
    data, r = _nc("int16-nogeo.nc")
    assert r.dtype == "int16"
    assert r.flip is True  # default bottom-up
    assert py_checksum(NC.read_band(data, r, 0)) == 4672
    # GDAL_NETCDF_BOTTOMUP=NO twin
    r.flip = False
    assert py_checksum(NC.read_band(data, r, 0)) == 4855


def test_netcdf_two_vars_scale_offset():                  # netcdf_39
    data, r = _nc("two_vars_scale_offset.nc", "z")
    assert py_checksum(NC.read_band(data, r, 0)) == 65463
    # scale/offset are metadata, never applied to the pixels
    assert r.scale == pytest.approx(0.01) or r.scale is not None


def test_netcdf_geotransforms():                          # netcdf_36/37/11
    _d, r = _nc("netcdf_fixes.nc")
    assert r.gt == (-3.498749944898817, 0.0025000042385525173, 0.0,
                    46.61749818589952, 0.0, -0.001666598849826389)
    _d, r = _nc("reduce-cgcms.nc")   # gaussian grid, 0.1-deg tolerance
    assert r.gt == (-1.875, 3.75, 0.0, 89.01354337620016, 0.0,
                    -3.7088976406750063)
    _d, r = _nc("cf_geog.nc")
    assert r.gt == (-0.5, 1.0, 0.0, 10.5, 0.0, -1.0)


def test_netcdf_km_units_gt():                            # netcdf_10
    _d, r = _nc("cf_no_sphere.nc")
    gt2 = (-1897.186029003872, 5.079360839844003, 0.0,
           2674.6840244560044, 0.0, -5.079472167968456)
    assert all(abs(a - b) < 1e-12 for a, b in zip(r.gt, gt2))
    assert 'UNIT["unit",1000.0]' in r.wkt or "1000" in r.wkt


def test_netcdf_cf_projections():                         # netcdf_6/7/8
    _d, r = _nc("cf_lcc1sp.nc")
    assert '"latitude_of_origin",25' in r.wkt
    _d, r = _nc("cf_lcc2sp.nc")
    assert '"standard_parallel_1",33' in r.wkt
    assert '"standard_parallel_2",45' in r.wkt
    _d, r = _nc("cf_aea2sp_invf.nc")
    assert "Albers_Conic_Equal_Area" in r.wkt
    assert '"latitude_of_origin",37.5' in r.wkt
    assert '"central_meridian",-96' in r.wkt


def test_netcdf_record_var_bands():
    # tas in bug636 is a record variable (time-unlimited);
    # trmm is plain 2-D
    data, r = _nc("trmm.nc")
    assert r.n_bands == 1
    arr = NC.read_band(data, r, 0)
    assert arr.shape == (r.height, r.width)


def test_netcdf_5d_band_unroll():                         # netcdf_4/5
    data, r = _nc("foo_5dimensional.nc", "temperature")
    assert r.n_bands > 1
    # every band slab decodes
    for b in (0, 2, r.n_bands - 1):
        arr = NC.read_band(data, r, b)
        assert arr.shape == (r.height, r.width)


def test_netcdf_subdataset_ignore_bounds():               # netcdf_37 open
    data = open(_gd("reduce-cgcms.nc"), "rb").read()
    nc = NC.parse_cdf(data)
    assert NC.raster_vars(nc) == ["tas"]


def test_netcdf_spark_read(spark):
    tiles, meta = NC.read_netcdf(
        spark, _gd("bug636.nc"), "tas")
    row = checksum(tiles, meta).collect()[0]
    assert row["checksum"] == 31621


# --- GRIB -----------------------------------------------------------------

def _grib_band(fn, band):
    data = open(_gd(fn), "rb").read()
    msgs = GB.scan_messages(data)
    return GB.decode_message(data, *msgs[band - 1])


def test_grib2_ndfd_mint_checksum():                      # grib_1
    arr, _gt = _grib_band("ds.mint.bin", 2)
    assert py_checksum(arr) == 46927
    # band 1 minimum ≈ 13 C after K→C normalization (grib_5)
    arr1, _ = _grib_band("ds.mint.bin", 1)
    v = arr1[arr1 != 9999.0]
    assert abs(v.min() - 13) <= 1


def test_grib2_normalize_units_off():                     # grib_5
    data = open(_gd("ds.mint.bin"), "rb").read()
    msgs = GB.scan_messages(data)
    arr, _ = GB.decode_message(data, *msgs[0], normalize_units=False)
    v = arr[arr != 9999.0]
    assert abs(v.min() - 286) <= 1


def test_grib1_quikscat_checksum():                       # grib_2
    arr, _gt = _grib_band("Sample_QuikSCAT.grb", 4)
    assert py_checksum(arr) == 50714


def test_grib1_multisize_partial():                       # grib_3
    data = open(_gd("bug3246.grb"), "rb").read()
    msgs = GB.scan_messages(data)
    assert len(msgs) == 12
    a1, _ = GB.decode_message(data, *msgs[0])
    a4, _ = GB.decode_message(data, *msgs[3])
    padded = np.zeros(a1.shape)
    padded[:a4.shape[0], :a4.shape[1]] = a4
    assert py_checksum(np.ascontiguousarray(padded)) == 4081


def test_grib2_one_one_gt():                              # grib_6
    _arr, gt = _grib_band("one_one.grib2", 1)
    assert gt == (245.750, 0.5, 0.0, 47.250, 0.0, -0.5)


def test_grib_spark_read(spark):
    tiles, meta = GB.read_grib(spark, _gd("ds.mint.bin"))
    assert meta.nodata == 9999.0
    rows = {r["band"]: r["checksum"]
            for r in checksum(tiles, meta).collect()}
    assert rows[1] == 46927


def test_grib_mismatched_band_spark(spark):
    tiles, meta = GB.read_grib(spark, _gd("bug3246.grb"))
    assert (meta.width, meta.height) == (103, 78)
    b4 = tiles.filter("band = 3")
    row = checksum(b4, meta).collect()[0]
    assert row["checksum"] == 4081


# --- HDF5 -------------------------------------------------------------------

def test_hdf5_subdataset_order():                         # hdf5_2
    from gdal_spark.raster import hdf5 as H5
    data = open(_gd("groups.h5"), "rb").read()
    assert H5.subdatasets(data) == ["/MyGroup/Group_A/dset2",
                                    "/MyGroup/dset1"]


def test_hdf5_checksums():                                # hdf5_3/4/5
    from gdal_spark.raster import hdf5 as H5
    data = open(_gd("u8be.h5"), "rb").read()
    assert py_checksum(H5.read_band(data, "/TestArray")) == 135
    data = open(_gd("groups.h5"), "rb").read()
    assert py_checksum(H5.read_band(data, "/MyGroup/dset1")) == 18


def test_hdf5_chunked_btree():
    # CSK fixtures use 16x16 chunked layout (zero payload by design)
    import numpy as np

    from gdal_spark.raster import hdf5 as H5
    data = open(_gd("CSK_DGM.h5"), "rb").read()
    h5 = H5.H5File(data)
    ds = h5.datasets["/S01/SBI"]
    assert ds.layout == "chunked" and ds.chunk_dims[:2] == (16, 16)
    arr = h5.read("/S01/SBI")
    assert arr.shape == (20, 10) and np.count_nonzero(arr) == 0


def test_hdf5_spark_read(spark):
    from gdal_spark.apps import open_raster
    from gdal_spark.raster.checksum import checksum
    t, m = open_raster(spark, f'HDF5:"{_gd("u8be.h5")}"://TestArray')
    assert (m.width, m.height) == (5, 6)
    assert checksum(t, m).collect()[0]["checksum"] == 135


# --- HDF4 -------------------------------------------------------------------

def test_hdf4_sds_scan():
    from gdal_spark.raster import hdf4 as H4
    data = open(_gd("hdifftst2.hdf"), "rb").read()
    h4 = H4.H4File(data)
    assert [s.name for s in h4.sds] == ["dset1", "dset2", "dset3"]
    assert all(s.dims == (3, 2) and s.dtype == ">i4" for s in h4.sds)
    # hdiff fixture: dset1 == dset2, dset3 differs
    assert np.array_equal(h4.read(h4.sds[0]), h4.read(h4.sds[1]))
    assert h4.read(h4.sds[0]).ravel().tolist() == [1, 2, 3, 4, 5, 6]
    assert not np.array_equal(h4.read(h4.sds[0]), h4.read(h4.sds[2]))


def test_hdf4_spark_read(spark):
    from gdal_spark.apps import open_raster
    t, m = open_raster(
        spark, f'HDF4_SDS:UNKNOWN:"{_gd("hdifftst2.hdf")}":2')
    assert (m.width, m.height) == (2, 3)
    from gdal_spark.raster.model import to_array
    arr = to_array(t, m)
    assert arr.ravel().tolist() == [120, 80, 0, 100, 0, 50]


def test_gmt_grid(spark):
    # autotest/gdrivers/gmt.py gmt_1: checksum 34762
    from gdal_spark.raster.checksum import py_checksum
    from gdal_spark.raster.model import to_array
    from gdal_spark.raster.netcdf import read_gmt
    df, meta = read_gmt(spark, _gd("gmt_1.grd"))
    assert (meta.width, meta.height) == (50, 50)
    assert py_checksum(to_array(df, meta)) == 34762
