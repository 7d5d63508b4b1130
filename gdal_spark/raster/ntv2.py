"""NTv2 datum-shift grid (.gsb) reader/writer + grid-shift application.

Reference semantics: gdal/frmts/raw/ntv2dataset.cpp — an 11-record
(16 bytes each: 8-char name + value) overview header, then per subgrid
an 11-record header (S_LAT/N_LAT/E_LONG/W_LONG/LAT_INC/LONG_INC doubles
at records 4..9, GS_COUNT int32 at record 10; longitudes stored
POSITIVE WEST, :478-487) followed by GS_COUNT 16-byte points of four
little/big-endian float32s (lat shift, lon shift, lat error, lon error,
arc-seconds). Points run south->north and east->west, so the north-up
west-east raster view reads the payload reversed in both axes
(the negative RawRasterBand offsets, :519-527). Geotransform:
((w_long - inc/2)/3600, inc/3600, 0, (n_lat + inc/2)/3600, 0,
-inc/3600) (:539-544).

``apply_shift`` is the PROJ +nadgrids forward convention: bilinear
interpolation of the shift at the source coordinate, lat += dlat/3600,
lon -= dlon/3600 (west-positive shift values)."""

from __future__ import annotations

import struct

import numpy as np

from gdal_spark.raster.model import RasterMeta, from_array


def _rec(name: str, value: bytes) -> bytes:
    return name.encode("ascii").ljust(8)[:8] + value.ljust(8, b"\x00")[:8]


def _srec(name: str, s: str) -> bytes:
    return _rec(name, s.encode("ascii").ljust(8)[:8])


def _drec(name: str, v: float) -> bytes:
    return _rec(name, struct.pack("<d", v))


def _irec(name: str, v: int) -> bytes:
    return _rec(name, struct.pack("<i", v))


class NTv2Grid:
    def __init__(self, name: str, s_lat: float, n_lat: float,
                 e_long: float, w_long: float, lat_inc: float,
                 long_inc: float, data: np.ndarray):
        """Bounds/incs in arc-seconds, POSITIVE-WEST longitudes;
        ``data`` is (rows, cols, 4) float32, north-up, west->east."""
        self.name = name
        self.s_lat, self.n_lat = s_lat, n_lat
        self.e_long, self.w_long = e_long, w_long
        self.lat_inc, self.long_inc = lat_inc, long_inc
        self.data = np.asarray(data, "float32")

    @property
    def width(self) -> int:
        return int(np.floor((-self.e_long + self.w_long)
                            / self.long_inc + 1.5))

    @property
    def height(self) -> int:
        return int(np.floor((self.n_lat - self.s_lat)
                            / self.lat_inc + 1.5))

    def geotransform(self) -> tuple:
        # stored longitudes are positive-west; view is east-positive
        w = -self.w_long
        return ((w - self.long_inc * 0.5) / 3600.0,
                self.long_inc / 3600.0, 0.0,
                (self.n_lat + self.lat_inc * 0.5) / 3600.0, 0.0,
                -self.lat_inc / 3600.0)


def read_ntv2_grids(path: str) -> list[NTv2Grid]:
    d = open(path, "rb").read()
    (num_orec,) = struct.unpack_from("<i", d, 8)
    endian = "<"
    if num_orec != 11:
        (num_orec,) = struct.unpack_from(">i", d, 8)
        endian = ">"
        if num_orec != 11:
            raise ValueError(f"{path} is not an NTv2 file")
    (num_file,) = struct.unpack_from(endian + "i", d, 2 * 16 + 8)
    off = 11 * 16
    grids = []
    for _ in range(num_file):
        name = d[off + 8:off + 16].decode("ascii").strip()
        vals = [struct.unpack_from(endian + "d", d,
                                   off + r * 16 + 8)[0]
                for r in range(4, 10)]
        s_lat, n_lat, e_long, w_long, lat_inc, long_inc = vals
        (count,) = struct.unpack_from(endian + "i", d, off + 10 * 16 + 8)
        pts = np.frombuffer(d, endian + "f4", count * 4,
                            off + 11 * 16).reshape(count, 4)
        g = NTv2Grid(name, s_lat, n_lat, e_long, w_long, lat_inc,
                     long_inc, np.zeros((1, 1, 4), "f4"))
        h, w = g.height, g.width
        # south->north rows, east->west columns -> flip both
        g.data = pts.reshape(h, w, 4)[::-1, ::-1].astype("float32")
        grids.append(g)
        off += (11 + count) * 16
    return grids


def write_ntv2(path: str, grids: list[NTv2Grid],
               system_f: str = "NAD27", system_t: str = "NAD83",
               major_f: float = 6378206.4, minor_f: float = 6356583.8,
               major_t: float = 6378137.0,
               minor_t: float = 6356752.314) -> None:
    with open(path, "wb") as f:
        f.write(_irec("NUM_OREC", 11))
        f.write(_irec("NUM_SREC", 11))
        f.write(_irec("NUM_FILE", len(grids)))
        f.write(_srec("GS_TYPE", "SECONDS"))
        f.write(_srec("VERSION", "NTv2.0"))
        f.write(_srec("SYSTEM_F", system_f))
        f.write(_srec("SYSTEM_T", system_t))
        f.write(_drec("MAJOR_F", major_f))
        f.write(_drec("MINOR_F", minor_f))
        f.write(_drec("MAJOR_T", major_t))
        f.write(_drec("MINOR_T", minor_t))
        for g in grids:
            h, w = g.height, g.width
            assert g.data.shape == (h, w, 4), (g.data.shape, h, w)
            f.write(_srec("SUB_NAME", g.name))
            f.write(_srec("PARENT", "NONE"))
            f.write(_srec("CREATED", ""))
            f.write(_srec("UPDATED", ""))
            f.write(_drec("S_LAT", g.s_lat))
            f.write(_drec("N_LAT", g.n_lat))
            f.write(_drec("E_LONG", g.e_long))
            f.write(_drec("W_LONG", g.w_long))
            f.write(_drec("LAT_INC", g.lat_inc))
            f.write(_drec("LONG_INC", g.long_inc))
            f.write(_irec("GS_COUNT", h * w))
            f.write(np.ascontiguousarray(
                g.data[::-1, ::-1]).astype("<f4").tobytes())


def read_ntv2(spark, path: str, grid: int = 0, raster_id: str = "ntv2",
              block: int = 256):
    """One subgrid as a 4-band float32 raster (lat shift, lon shift,
    lat error, lon error)."""
    g = read_ntv2_grids(path)[grid]
    meta = RasterMeta(raster_id, g.width, g.height, gt=g.geotransform(),
                      dtype="float32", block=block)
    return from_array(spark, g.data.transpose(2, 0, 1), meta), meta, g


def apply_shift(g: NTv2Grid, lon: np.ndarray, lat: np.ndarray
                ) -> tuple[np.ndarray, np.ndarray]:
    """Forward NTv2 shift at (lon, lat) degrees: bilinear over the
    grid nodes; out-of-grid points pass through unchanged."""
    lon = np.asarray(lon, "float64")
    lat = np.asarray(lat, "float64")
    # node coordinates: west-east view; node (0,0) = NW
    lon0 = -g.w_long / 3600.0
    dlon = g.long_inc / 3600.0
    lat0 = g.n_lat / 3600.0
    dlat = g.lat_inc / 3600.0
    fx = (lon - lon0) / dlon
    fy = (lat0 - lat) / dlat
    H, W = g.data.shape[:2]
    inside = (fx >= 0) & (fx <= W - 1) & (fy >= 0) & (fy <= H - 1)
    x0 = np.clip(np.floor(fx).astype(int), 0, W - 2)
    y0 = np.clip(np.floor(fy).astype(int), 0, H - 2)
    tx = np.clip(fx - x0, 0, 1)
    ty = np.clip(fy - y0, 0, 1)

    def interp(band: int) -> np.ndarray:
        p = g.data[:, :, band].astype("float64")
        return (p[y0, x0] * (1 - tx) * (1 - ty)
                + p[y0, x0 + 1] * tx * (1 - ty)
                + p[y0 + 1, x0] * (1 - tx) * ty
                + p[y0 + 1, x0 + 1] * tx * ty)

    dlat_s = np.where(inside, interp(0), 0.0)
    dlon_s = np.where(inside, interp(1), 0.0)
    return lon - dlon_s / 3600.0, lat + dlat_s / 3600.0
