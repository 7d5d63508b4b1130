"""NetCDF classic (CDF-1 / CDF-2) raster reader.

Pure-numpy implementation of the public NetCDF Classic Format spec
(magic 'CDF\\x01'/'CDF\\x02': header = numrecs + dim/gatt/var lists,
big-endian payloads, record variables interleaved along the unlimited
dimension). Raster semantics mirror the reference driver
(gdal/frmts/netcdf/netcdfdataset.cpp):

- a variable with >= 2 dims is a raster subdataset: X = last dim,
  Y = second-to-last, leading dims unroll into bands
  (netcdfdataset.cpp band creation; row-major unroll keeps every band a
  contiguous byte slab, which is what makes the distributed read work);
- bottom-up by default (bBottomUp, netcdfdataset.cpp:1477,1904): rows
  are read flipped unless the file is GDAL-written without CF tags, or
  the Y coordinate variable is descending (:2592);
- geotransform from the X/Y coordinate variables when evenly spaced
  (rint(Δ·1000) agreement, :2680-2772), GMT actual_range/node_offset
  handling, else from a GDAL 'GeoTransform' grid-mapping attribute,
  with the half-pixel shift for node-registered grids;
- _FillValue / missing_value → nodata; scale_factor/add_offset are
  reported as metadata, never applied (GDAL semantics — checksums are
  over raw stored values);
- NC_BYTE→Byte(+_Unsigned=false → signed reinterpret), NC_SHORT→Int16,
  NC_INT→Int32, NC_FLOAT→Float32, NC_DOUBLE→Float64.

At scale: the header parse is O(header) on the driver; pixel I/O happens
on executors — each band of each file is one contiguous (offset, nbytes)
slab, so a collection of files fans out as one task per band with zero
driver pixel traffic.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

NC_DIMENSION = 0x0A
NC_VARIABLE = 0x0B
NC_ATTRIBUTE = 0x0C

# nc_type → (numpy dtype, element size)
_NC_TYPES = {
    1: ("i1", 1),   # NC_BYTE
    2: ("S1", 1),   # NC_CHAR
    3: (">i2", 2),  # NC_SHORT
    4: (">i4", 4),  # NC_INT
    5: (">f4", 4),  # NC_FLOAT
    6: (">f8", 8),  # NC_DOUBLE
}

# GDAL band dtype per nc_type (netcdfdataset.cpp netCDFRasterBand ctor)
_GDAL_DTYPES = {1: "uint8", 3: "int16", 4: "int32",
                5: "float32", 6: "float64"}


@dataclass
class NCVar:
    name: str
    dimids: list[int]
    atts: dict
    nc_type: int
    vsize: int
    begin: int
    is_record: bool = False


@dataclass
class NCFile:
    version: int
    numrecs: int
    dim_names: list[str]
    dim_sizes: list[int]
    rec_dim: int               # index of the unlimited dim, or -1
    gatts: dict
    variables: dict = field(default_factory=dict)
    recsize: int = 0


class _Reader:
    def __init__(self, data: bytes):
        self.d = data
        self.p = 0

    def i4(self) -> int:
        (v,) = struct.unpack_from(">i", self.d, self.p)
        self.p += 4
        return v

    def i8(self) -> int:
        (v,) = struct.unpack_from(">q", self.d, self.p)
        self.p += 8
        return v

    def name(self) -> str:
        n = self.i4()
        s = self.d[self.p:self.p + n].decode("utf-8", "replace")
        self.p += (n + 3) & ~3
        return s

    def values(self, nc_type: int, nelems: int):
        dt, size = _NC_TYPES[nc_type]
        nbytes = size * nelems
        if nc_type == 2:
            v = self.d[self.p:self.p + nelems].decode("latin-1")
        else:
            arr = np.frombuffer(self.d, dtype=dt, count=nelems,
                                offset=self.p)
            v = arr.tolist()
            if nelems == 1:
                v = v[0]
        self.p += (nbytes + 3) & ~3
        return v

    def att_list(self) -> dict:
        tag = self.i4()
        n = self.i4()
        if tag == 0:  # ABSENT
            return {}
        atts = {}
        for _ in range(n):
            aname = self.name()
            atype = self.i4()
            nelems = self.i4()
            atts[aname] = self.values(atype, nelems)
        return atts


def parse_cdf(data: bytes) -> NCFile:
    if data[:3] != b"CDF" or data[3] not in (1, 2):
        raise ValueError("not a classic NetCDF file")
    version = data[3]
    r = _Reader(data)
    r.p = 4
    numrecs = r.i4()

    tag = r.i4()
    ndims = r.i4()
    dim_names, dim_sizes, rec_dim = [], [], -1
    if tag == NC_DIMENSION:
        for i in range(ndims):
            dim_names.append(r.name())
            size = r.i4()
            if size == 0:
                rec_dim = i
                size = max(numrecs, 0)
            dim_sizes.append(size)

    gatts = r.att_list()
    nc = NCFile(version, numrecs, dim_names, dim_sizes, rec_dim, gatts)

    tag = r.i4()
    nvars = r.i4()
    if tag == NC_VARIABLE:
        for _ in range(nvars):
            vname = r.name()
            nd = r.i4()
            dimids = [r.i4() for _ in range(nd)]
            atts = r.att_list()
            nc_type = r.i4()
            vsize = r.i4()
            begin = r.i8() if version == 2 else r.i4()
            var = NCVar(vname, dimids, atts, nc_type, vsize, begin,
                        is_record=(nd > 0 and dimids[0] == rec_dim))
            nc.variables[vname] = var
    rec_vars = [v for v in nc.variables.values() if v.is_record]
    if len(rec_vars) == 1:
        # single record variable: the spec stores vsize unpadded and the
        # record stride equals the variable's per-record size
        v = rec_vars[0]
        _dt, size = _NC_TYPES[v.nc_type]
        per_rec = size
        for d in v.dimids[1:]:
            per_rec *= nc.dim_sizes[d]
        nc.recsize = per_rec
    else:
        nc.recsize = sum(v.vsize for v in rec_vars)
    return nc


def raster_vars(nc: NCFile) -> list[str]:
    """Subdataset list: every variable with >= 2 dims, excluding
    variables referenced in any 'coordinates' or 'bounds' attribute
    (CF 5.2/5.6/7.1; netcdfdataset.cpp:4626-4666)."""
    ignore: set[str] = set()
    for v in nc.variables.values():
        coords = v.atts.get("coordinates")
        if isinstance(coords, str):
            ignore.update(coords.split())
        bounds = v.atts.get("bounds")
        if isinstance(bounds, str) and bounds:
            ignore.add(bounds)
    return [name for name, v in nc.variables.items()
            if name not in ignore
            and len(v.dimids) >= 2 and v.nc_type in _GDAL_DTYPES]


@dataclass
class NCRaster:
    var: str
    width: int
    height: int
    n_bands: int
    dtype: str            # GDAL exposure dtype
    nc_dtype: str         # on-disk numpy dtype string
    slabs: list[tuple]    # per-band (offset, nbytes)
    flip: bool
    gt: tuple
    nodata: float | None
    atts: dict
    gatts: dict
    scale: float | None = None
    offset: float | None = None
    wkt: str | None = None


def _read_coord(nc: NCFile, data: bytes, dim_id: int) -> np.ndarray | None:
    """Values of the 1-D coordinate variable named after the dimension."""
    name = nc.dim_names[dim_id]
    v = nc.variables.get(name)
    if v is None or v.dimids != [dim_id]:
        return None
    n = nc.dim_sizes[dim_id]
    dt, size = _NC_TYPES[v.nc_type]
    if v.is_record:
        out = np.empty(n, dtype="f8")
        for r in range(n):
            out[r] = np.frombuffer(data, dtype=dt, count=1,
                                   offset=v.begin + r * nc.recsize)[0]
        return out
    return np.frombuffer(data, dtype=dt, count=n,
                         offset=v.begin).astype("f8")


def _rint(x: float) -> int:
    """C rint (round half to even) — the spacing check uses it."""
    return int(np.rint(x))


def describe(data: bytes, var_name: str | None = None,
             header: NCFile | None = None) -> NCRaster:
    """Header-only raster description (netcdfdataset.cpp SetGeoTransform
    + band layout), including per-band contiguous byte slabs."""
    nc = header or parse_cdf(data)
    names = raster_vars(nc)
    if not names:
        raise ValueError("no 2-D+ variables in file")
    if var_name is None:
        if len(names) > 1:
            # mirror NETCDF:file:var subdataset requirement
            raise ValueError(f"multiple subdatasets, pick one of {names}")
        var_name = names[0]
    v = nc.variables[var_name]
    xdim, ydim = v.dimids[-1], v.dimids[-2]
    width = nc.dim_sizes[xdim]
    height = nc.dim_sizes[ydim]
    dt, esize = _NC_TYPES[v.nc_type]
    slab = width * height * esize

    inner = 1
    for d in v.dimids[1:-2] if v.is_record else v.dimids[:-2]:
        inner *= nc.dim_sizes[d]
    if v.is_record:
        nrec = max(nc.numrecs, 0)
        n_bands = nrec * inner
        slabs = [(v.begin + r * nc.recsize + k * slab, slab)
                 for r in range(nrec) for k in range(inner)]
    else:
        n_bands = inner
        slabs = [(v.begin + k * slab, slab) for k in range(inner)]

    # --- bottom-up decision (netcdfdataset.cpp:1904,2592) ---------------
    is_gdal_file = False
    for gv in nc.variables.values():
        if "spatial_ref" in gv.atts and "GeoTransform" in gv.atts:
            is_gdal_file = True
            gdal_gt_var = gv
    has_cf = any("grid_mapping" in w.atts for w in nc.variables.values())
    flip = not (is_gdal_file and not has_cf)

    wkt, projected = cf_crs(nc, v)

    gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    got_gt = False
    xcoord = _read_coord(nc, data, xdim)
    ycoord = _read_coord(nc, data, ydim)
    if ycoord is not None and len(ycoord) > 1:
        flip = not (ycoord[0] > ycoord[1])
    if xcoord is not None and ycoord is not None \
            and len(xcoord) == width and len(ycoord) == height \
            and width >= 1 and height >= 1:
        def _even(c, tol=1):
            if len(c) <= 2:
                return True
            s0 = _rint((c[1] - c[0]) * 1000)
            sm = _rint((c[len(c) // 2 + 1] - c[len(c) // 2]) * 1000)
            sl = _rint((c[-1] - c[-2]) * 1000)
            return (abs(abs(s0) - abs(sl)) <= tol
                    and abs(abs(s0) - abs(sm)) <= tol
                    and abs(abs(sm) - abs(sl)) <= tol)

        # latitude of a geographic grid may be gaussian: 0.1-degree
        # tolerance (netcdfdataset.cpp:2756, bugs #4513/#5118)
        lat_ok = _even(ycoord) or (not projected and _even(ycoord, 100))
        if len(xcoord) >= 2 and len(ycoord) >= 2 \
                and _even(xcoord) and lat_ok:
            node_offset = int(nc.gatts.get("node_offset", 0) or 0)
            xv = v_att = nc.variables.get(nc.dim_names[xdim])
            yv = nc.variables.get(nc.dim_names[ydim])
            x_rng = xv.atts.get("actual_range") if xv else None
            y_rng = yv.atts.get("actual_range") if yv else None
            if isinstance(x_rng, list) and len(x_rng) == 2:
                xmin, xmax = float(x_rng[0]), float(x_rng[1])
            else:
                xmin, xmax = float(xcoord[0]), float(xcoord[-1])
                node_offset = 0
            if isinstance(y_rng, list) and len(y_rng) == 2:
                ymin, ymax = float(y_rng[0]), float(y_rng[1])
            else:
                ymin, ymax = float(ycoord[0]), float(ycoord[-1])
                node_offset = 0
            if ymin > ymax:
                ymin, ymax = ymax, ymin
            px = (xmax - xmin) / (width + node_offset - 1)
            py = (ymin - ymax) / (height + node_offset - 1)
            gx0, gy0 = xmin, ymax
            if node_offset == 0:
                # node registration: coords are cell centers
                gx0 -= px / 2.0
                gy0 -= py / 2.0
            gt = (gx0, px, 0.0, gy0, 0.0, py)
            got_gt = True
    if not got_gt and is_gdal_file:
        try:
            vals = [float(t) for t in
                    str(gdal_gt_var.atts["GeoTransform"]).split()]
            if len(vals) == 6:
                gt = tuple(vals)
                got_gt = True
        except Exception:
            pass

    nodata = v.atts.get("_FillValue", v.atts.get("missing_value"))
    if isinstance(nodata, list):
        nodata = nodata[0] if nodata else None
    if nodata is not None:
        nodata = float(nodata)
        if v.nc_type == 1 and nodata < 0:  # NC_BYTE reads as unsigned Byte
            nodata += 256.0
    scale = v.atts.get("scale_factor")
    offset = v.atts.get("add_offset")
    return NCRaster(var_name, width, height, n_bands,
                    _GDAL_DTYPES[v.nc_type], dt, slabs, flip, gt, nodata,
                    v.atts, nc.gatts,
                    float(scale) if scale is not None else None,
                    float(offset) if offset is not None else None,
                    wkt=wkt)


def _p(atts: dict, name: str, default: float = 0.0) -> float:
    v = atts.get(name, default)
    if isinstance(v, list):
        v = v[0]
    return float(v)


def cf_crs(nc: NCFile, v: NCVar) -> tuple[str | None, bool]:
    """(WKT or None, is_projected) from the variable's CF grid_mapping
    (netcdfdataset.cpp SetProjectionFromVar, CF_PT_* branches). Covers
    the families the engine's SRS stack implements; km-unit axes wrap
    the CRS in a 1000-metre linear unit instead of rescaling coords, as
    the current reference driver does (autotest netcdf_10 gt2 variant)."""
    from gdal_spark.functions import projections as PX
    from gdal_spark.functions import srs as SRS

    gm_name = v.atts.get("grid_mapping")
    gm = nc.variables.get(str(gm_name).strip()) if gm_name else None
    if gm is None:
        # latitude/longitude grid: WGS84 if the x dim is 'lon'
        if len(v.dimids) >= 2 \
                and nc.dim_names[v.dimids[-1]].lower() in ("lon",
                                                           "longitude"):
            return SRS.crs_to_wkt(SRS.Geographic()), False
        return None, False
    atts = gm.atts
    kind = str(atts.get("grid_mapping_name", "")).strip()

    a, f = SRS.WGS84
    if "semi_major_axis" in atts:
        a = _p(atts, "semi_major_axis")
        if "inverse_flattening" in atts:
            invf = _p(atts, "inverse_flattening")
            f = 0.0 if invf == 0.0 else 1.0 / invf
        elif "semi_minor_axis" in atts:
            b = _p(atts, "semi_minor_axis")
            f = (a - b) / a
        else:
            f = 0.0
    elif "earth_radius" in atts:
        a = _p(atts, "earth_radius")
        f = 0.0

    def std_parallels():
        sp = atts.get("standard_parallel")
        if sp is None:
            return []
        return [float(x) for x in (sp if isinstance(sp, list) else [sp])]

    lon0 = _p(atts, "longitude_of_central_meridian",
              _p(atts, "longitude_of_projection_origin"))
    lat0 = _p(atts, "latitude_of_projection_origin")
    fe = _p(atts, "false_easting")
    fn = _p(atts, "false_northing")

    crs = None
    if kind == "lambert_conformal_conic":
        sps = std_parallels()
        if len(sps) == 2:
            crs = SRS.LambertConformalConic(sps[0], sps[1], lat0, lon0,
                                            fe, fn, a, f)
        else:
            k0 = _p(atts, "scale_factor_at_projection_origin", -1.0)
            if k0 == -1.0:
                sp1 = sps[0] if sps else lat0
                if sp1 == lat0:
                    k0 = 1.0
                else:
                    # Snyder eq. 15-4 scale recovery (the reference's
                    # experimental branch, bug #3324)
                    import math as _m2
                    p1, p0 = _m2.radians(sp1), _m2.radians(lat0)
                    k0 = ((_m2.cos(p1) * _m2.tan(_m2.pi / 4 + p1 / 2)
                           ** _m2.sin(p1))
                          / (_m2.cos(p0) * _m2.tan(_m2.pi / 4 + p0 / 2)
                             ** _m2.sin(p0)))
            crs = PX.LambertConformalConic1SP(lat0, lon0, k0, fe, fn, a, f)
    elif kind == "albers_conical_equal_area":
        sps = std_parallels() or [lat0, lat0]
        if len(sps) == 1:
            sps = [sps[0], sps[0]]
        crs = SRS.AlbersEqualArea(sps[0], sps[1], lat0, lon0, fe, fn, a, f)
    elif kind == "transverse_mercator":
        crs = SRS.TransverseMercator(
            lat0, lon0, _p(atts, "scale_factor_at_central_meridian", 1.0),
            fe, fn, a, f)
    elif kind == "polar_stereographic":
        sps = std_parallels()
        lat_ts = sps[0] if sps else lat0
        crs = SRS.PolarStereographic(
            lat_ts, _p(atts, "straight_vertical_longitude_from_pole",
                       lon0),
            _p(atts, "scale_factor_at_projection_origin", 1.0),
            fe, fn, a, f)
    elif kind == "lambert_azimuthal_equal_area":
        crs = SRS.LambertAzimuthalEqualArea(lat0, lon0, fe, fn, a, f)
    elif kind == "mercator":
        sps = std_parallels()
        crs = SRS.Mercator(sps[0] if sps else 0.0, lon0,
                           _p(atts, "scale_factor_at_projection_origin",
                              1.0), fe, fn, a, f)
    elif kind in ("latitude_longitude", "rotated_latitude_longitude"):
        return SRS.crs_to_wkt(SRS.Geographic(a, f)), False
    if crs is None:
        return None, False

    # km-unit projected axes → linear unit 1000 (netcdf_10 new-driver path)
    xname = nc.dim_names[v.dimids[-1]]
    xv = nc.variables.get(xname)
    units = str(xv.atts.get("units", "")).strip() if xv else ""
    if units == "km":
        crs = PX.UnitScaled(crs, 1000.0)
    return SRS.crs_to_wkt(crs), True


def read_band(data: bytes, r: NCRaster, band: int = 0) -> np.ndarray:
    """One band as a top-down (height, width) array in GDAL exposure
    dtype — the bottom-up flip applied here, as IReadBlock does."""
    off, nbytes = r.slabs[band]
    arr = np.frombuffer(data, dtype=r.nc_dtype,
                        count=r.width * r.height, offset=off)
    arr = arr.reshape(r.height, r.width)
    if r.flip:
        arr = arr[::-1]
    if r.dtype == "uint8":
        return arr.view(np.uint8).astype(np.uint8) \
            if arr.dtype.itemsize == 1 else arr.astype(np.uint8)
    return np.ascontiguousarray(arr).astype(r.dtype)


def read_netcdf(spark, path: str, var: str | None = None,
                raster_id: str | None = None, block: int = 256):
    """Distributed open: header parsed once on the driver; each band is
    one contiguous slab read in an executor task (mapInPandas over the
    band list — no pixel bytes through the driver)."""
    import os

    import pandas as pd
    from pyspark.sql.types import (BinaryType, IntegerType, StructField,
                                   StructType)

    from gdal_spark.raster.model import TILE_SCHEMA, RasterMeta

    with open(path, "rb") as fh:
        data = fh.read()
    r = describe(data, var)
    rid = raster_id or (os.path.splitext(os.path.basename(path))[0]
                        + ":" + r.var)
    meta = RasterMeta(rid, r.width, r.height, gt=r.gt, dtype=r.dtype,
                      nodata=r.nodata, block=block)

    spec = spark.createDataFrame(
        [(b,) for b in range(r.n_bands)],
        StructType([StructField("band", IntegerType())]))
    width, height, dt_disk, dt_out = r.width, r.height, r.nc_dtype, r.dtype
    slabs, flip = r.slabs, r.flip

    def run(batches):
        for pdf in batches:
            rows = []
            for b in pdf["band"]:
                b = int(b)
                off, nbytes = slabs[b]
                with open(path, "rb") as fh:
                    fh.seek(off)
                    raw = fh.read(nbytes)
                arr = np.frombuffer(raw, dtype=dt_disk,
                                    count=width * height) \
                    .reshape(height, width)
                if flip:
                    arr = arr[::-1]
                arr = np.ascontiguousarray(arr).astype(dt_out)
                for by in range((height + block - 1) // block):
                    for bx in range((width + block - 1) // block):
                        sub = np.ascontiguousarray(
                            arr[by * block:(by + 1) * block,
                                bx * block:(bx + 1) * block])
                        rows.append((rid, b, bx, by, sub.shape[1],
                                     sub.shape[0], sub.tobytes()))
            yield pd.DataFrame(rows,
                               columns=[f.name for f in TILE_SCHEMA])

    return spec.mapInPandas(run, schema=TILE_SCHEMA), meta


def read_gmt(spark, path: str, raster_id: str = "gmt", block: int = 256):
    """GMT v1 grid (CDF-1 with x_range/y_range/spacing/dimension/z
    variables): z is a flat xysize vector, row 0 = north; gt per
    gdal/frmts/netcdf/gmtdataset.cpp:292-345 (node_offset 1 = pixel
    registration, 0 = gridline with half-pixel shift)."""
    import struct as _struct

    from gdal_spark.raster.model import RasterMeta, from_array
    data = open(path, "rb").read()
    f = parse_cdf(data)
    need = {"x_range", "y_range", "dimension", "z"}
    if not need <= set(f.variables):
        raise ValueError("not a GMT v1 grid")

    def dvals(name, n, dt):
        v = f.variables[name]
        return np.frombuffer(data, dt, n, v.begin)

    x_range = dvals("x_range", 2, ">f8")
    y_range = dvals("y_range", 2, ">f8")
    nx, ny = (int(x) for x in dvals("dimension", 2, ">i4"))
    zvar = f.variables["z"]
    ztype = {3: ">i2", 4: ">i4", 5: ">f4", 6: ">f8", 1: "u1"}[zvar.nc_type]
    z = np.frombuffer(data, ztype, nx * ny, zvar.begin).reshape(ny, nx)
    scale = float(zvar.atts.get("scale_factor", 1.0))
    offset = float(zvar.atts.get("add_offset", 0.0))
    node_offset = int(zvar.atts.get("node_offset", 1))
    if scale != 1.0 or offset != 0.0:
        z = z * scale + offset
    if node_offset == 1:
        px = (x_range[1] - x_range[0]) / nx
        py = (y_range[0] - y_range[1]) / ny
        gt = (x_range[0], px, 0.0, y_range[1], 0.0, py)
    else:
        px = (x_range[1] - x_range[0]) / (nx - 1)
        py = (y_range[0] - y_range[1]) / (ny - 1)
        gt = (x_range[0] - px * 0.5, px, 0.0,
              y_range[1] - py * 0.5, 0.0, py)
    dts = str(z.dtype.newbyteorder("="))
    meta = RasterMeta(raster_id, nx, ny, gt=gt, dtype=dts, block=block)
    return from_array(spark, np.ascontiguousarray(z).astype(dts),
                      meta), meta


# ---------------------------------------------------------------------------
# CF NetCDF-3 classic writer (round 5 — writer parity for pipeline
# sinks). Mirrors the reference's CF output (netcdfdataset.cpp
# CreateCopy / NCDFWriteProjAttribs): dims (y, x), double coordinate
# variables holding pixel-center values from the geotransform, one
# BandN variable per band with _FillValue, Conventions=CF-1.5. The
# engine's own reader round-trips the result bit-exactly (test).
# ---------------------------------------------------------------------------

_NC_OF_DTYPE = {"uint8": 1, "int8": 1, "int16": 3, "int32": 4,
                "float32": 5, "float64": 6}
_BE_OF_NC = {1: "i1", 3: ">i2", 4: ">i4", 5: ">f4", 6: ">f8"}
_NC_OF_BE = {np.dtype(v).str: k for k, v in _BE_OF_NC.items()}


def _nc_name(s: str) -> bytes:
    b = s.encode()
    return struct.pack(">i", len(b)) + b + b"\0" * ((4 - len(b) % 4) % 4)


def _nc_att(name: str, value) -> bytes:
    out = _nc_name(name)
    if isinstance(value, str):
        b = value.encode()
        out += struct.pack(">ii", 2, len(b)) + b \
            + b"\0" * ((4 - len(b) % 4) % 4)
    elif isinstance(value, np.ndarray):  # typed: nc_type from the dtype
        b = value.tobytes()
        out += struct.pack(">ii", _NC_OF_BE[value.dtype.str], value.size) + b \
            + b"\0" * ((4 - len(b) % 4) % 4)
    elif isinstance(value, float):
        out += struct.pack(">ii", 6, 1) + struct.pack(">d", value)
    else:
        out += struct.pack(">ii", 4, 1) + struct.pack(">i", int(value))
    return out


def _nc_att_list(atts: list[tuple]) -> bytes:
    if not atts:
        return struct.pack(">ii", 0, 0)
    return struct.pack(">ii", NC_ATTRIBUTE, len(atts)) + b"".join(
        _nc_att(k, v) for k, v in atts)


def write_netcdf(tiles, meta, path: str, var_prefix: str = "Band",
                 nodata=None) -> None:
    """Write all bands of a tile DataFrame as a CF NetCDF-3 classic
    file. Y coordinate is written in raster row order (descending for a
    north-up geotransform), which the reader maps back without a flip."""
    from gdal_spark.raster.model import to_array

    nc_type = _NC_OF_DTYPE[meta.dtype]
    np_t = _BE_OF_NC[nc_type]
    esize = {1: 1, 3: 2, 4: 4, 5: 4, 6: 8}[nc_type]
    W, H = meta.width, meta.height
    g = meta.gt

    n_bands = tiles.select("band").distinct().count()
    arrs = [to_array(tiles, meta, band=b) for b in range(n_bands)]

    header = b"CDF\x01" + struct.pack(">i", 0)        # numrecs
    # dim list: y, x
    header += struct.pack(">ii", NC_DIMENSION, 2)
    header += _nc_name("y") + struct.pack(">i", H)
    header += _nc_name("x") + struct.pack(">i", W)
    # global atts
    header += _nc_att_list([("Conventions", "CF-1.5"),
                            ("GDAL", "gdal_spark CF writer")])

    # variables: x(double), y(double), Band1..N
    xs = np.array([g[0] + (i + 0.5) * g[1] for i in range(W)], ">f8")
    ys = np.array([g[3] + (j + 0.5) * g[5] for j in range(H)], ">f8")

    vars_ = []
    vars_.append(("x", [1], 6, [("standard_name", "projection_x_coordinate"),
                                ("units", "m")], xs.tobytes()))
    vars_.append(("y", [0], 6, [("standard_name", "projection_y_coordinate"),
                                ("units", "m")], ys.tobytes()))
    for b in range(n_bands):
        atts = [("long_name", f"GDAL Band Number {b + 1}")]
        if nodata is not None:
            # CF: _FillValue has the variable's type (a uint8 fill keeps
            # its bit pattern in the signed NC_BYTE)
            atts.append(("_FillValue", np.array([nodata]).astype(np_t)))
        if meta.dtype == "uint8":
            atts.append(("_Unsigned", "true"))
        data = np.ascontiguousarray(arrs[b]).astype(np_t).tobytes()
        vars_.append((f"{var_prefix}{b + 1}", [0, 1], nc_type, atts, data))

    # assemble var list with computed begin offsets (two passes)
    def var_entry(name, dims, nct, atts, vsize, begin):
        e = _nc_name(name)
        e += struct.pack(">i", len(dims))
        for d in dims:
            e += struct.pack(">i", d)
        e += _nc_att_list(atts)
        e += struct.pack(">iii", nct, vsize, begin)
        return e

    def vsize_of(payload: bytes) -> int:
        return (len(payload) + 3) & ~3

    # pass 1: header size with dummy begins
    body = struct.pack(">ii", NC_VARIABLE, len(vars_))
    for name, dims, nct, atts, payload in vars_:
        body += var_entry(name, dims, nct, atts, vsize_of(payload), 0)
    header_len = len(header) + len(body)
    # pass 2: real begins
    begins, off = [], header_len
    for name, dims, nct, atts, payload in vars_:
        begins.append(off)
        off += vsize_of(payload)
    body = struct.pack(">ii", NC_VARIABLE, len(vars_))
    for (name, dims, nct, atts, payload), begin in zip(vars_, begins):
        body += var_entry(name, dims, nct, atts, vsize_of(payload), begin)

    with open(path, "wb") as f:
        f.write(header + body)
        for name, dims, nct, atts, payload in vars_:
            f.write(payload + b"\0" * (vsize_of(payload) - len(payload)))
