"""NOAA AVHRR Level-1B reader.

Reference semantics: gdal/frmts/l1b/l1bdataset.cpp —
- DetectFormat (:3012): dot positions in the dataset name distinguish
  the NOAA-15 (KLM, 512-byte ARS header), NOAA-9/14 (TBM header), and
  headerless KLM (L1B_NOAA15_NOHDR) layouts.
- ProcessDatasetHeader (:1530-1800): KLM header record at offset 0/512
  carries spacecraft/product ids, record length, ellipsoid
  ("  GRS 80" -> GRS80 GCP projection), and a little-endian consistency
  probe for 'ess'-station products (:1643-1663).
- The NOHDR + record-length-22016 special case (:3219): unpacked
  16-bit data, data starts one record in.
- ComputeFileOffsets (:2680-2990): per-product/per-format record
  geometry tables (HRPT/LAC/FRAC X=2048, GAC X=409; record sizes and
  data start offsets as tabulated).
- L1BRasterBand::IReadBlock (:462-560): 10-bit packed triplets or
  unpacked 8/16-bit scanlines, pixel-interleaved bands, and the
  ascending-orbit reversal of both line and pixel order.
- L1BMaskBand (:396-410): per-dataset mask — scanline uint32 at
  offset 24, bit 31 = fatal flag -> whole line masked.
- FetchGCPs (:766-840): 51 lat/lon int32 pairs (scale 1e4) per
  scanline at offset 640, pixel positions iGCPStart+0.5 stepping 40.
"""

from __future__ import annotations

import struct
import zipfile

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.raster.model import RasterMeta, from_array

ASCEND, DESCEND = 0, 1

GRS80_WKT = ('GEOGCS["GRS 1980(IUGG, 1980)",DATUM["unknown",'
             'SPHEROID["GRS80",6378137,298.257222101],'
             'TOWGS84[0,0,0,0,0,0,0]],PRIMEM["Greenwich",0],'
             'UNIT["degree",0.0174532925199433]]')
WGS84_WKT = ('GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",'
             '6378137,298.257223563,AUTHORITY["EPSG","7030"]],'
             'TOWGS84[0,0,0,0,0,0,0],AUTHORITY["EPSG","6326"]],'
             'PRIMEM["Greenwich",0,AUTHORITY["EPSG","8901"]],'
             'UNIT["degree",0.0174532925199433,AUTHORITY["EPSG","9108"]],'
             'AUTHORITY["EPSG","4326"]]')
WGS72_WKT = ('GEOGCS["WGS 72",DATUM["WGS_1972",SPHEROID["WGS 72",'
             '6378135,298.26]],PRIMEM["Greenwich",0],'
             'UNIT["degree",0.0174532925199433]]')

PACKED10BIT, UNPACKED8BIT, UNPACKED16BIT = 0, 1, 2

_SPACECRAFT_KLM = {2: "NOAA-16", 4: "NOAA-15", 6: "NOAA-17",
                   7: "NOAA-18", 8: "NOAA-19", 11: "METOP-1",
                   12: "METOP-2", 13: "METOP-3", 14: "METOP-3"}


def _dots(b: bytes, base: int) -> bool:
    return all(b[base + k] == 0x2E for k in (25, 30, 33, 40, 46, 52, 61))


class L1B:
    def __init__(self, path: str):
        if path.lower().endswith(".zip"):
            z = zipfile.ZipFile(path)
            name = [n for n in z.namelist() if n.lower().endswith(".l1b")]
            self.data = z.read((name or z.namelist())[0])
        else:
            self.data = open(path, "rb").read()
        d = self.data
        if len(d) > 512 + 61 and _dots(d, 512):
            self.format = "NOAA15"
        elif _dots(d, 8):
            self.format = "NOAA9"
        elif _dots(d, 0):
            self.format = "NOAA15_NOHDR"
        else:
            raise ValueError(f"{path}: not a recognized L1B layout")
        self.endian = ">"
        self.gcp_projection = WGS72_WKT
        self.expose_mask = False
        if self.format in ("NOAA15", "NOAA15_NOHDR"):
            self._parse_klm_header()
        else:
            self._parse_noaa9_header()
        self._compute_offsets()
        if self.format == "NOAA15_NOHDR" and \
                self.record_size_from_header == 22016 and \
                len(d) % 22016 == 0:
            self.data_format = UNPACKED16BIT
            self._compute_offsets()
            self.data_start = 22016
            self.record_size = 22016
        self.height = (len(d) - self.data_start) // self.record_size
        # orbit direction from the first scanline's flag word
        (w,) = struct.unpack_from(self.endian + "H",
                                  d, self.data_start + 12)
        self.location = ASCEND if (w & 0x8000) == 0 else DESCEND

    # ------------- headers -------------------------------------------

    def _u16(self, off: int) -> int:
        return struct.unpack_from(self.endian + "H", self.data, off)[0]

    def _parse_klm_header(self) -> None:
        base = 512 if self.format == "NOAA15" else 0
        d = self.data
        if self.format == "NOAA15":
            chans = d[97:117]
            self.n_bands = sum(1 for c in chans if c in (1, ord("Y")))
            if not 1 <= self.n_bands <= 5:
                self.n_bands = 5
            # word size lives in the 512-byte ARS header at offset 117
            # (l1bdataset.cpp L1B_NOAA15_HDR_WORD_OFF, abyARSHeader) —
            # the same header the channel map above is read from.
            w = d[117:119]
            try:
                self.data_format = {b"10": PACKED10BIT,
                                    b"16": UNPACKED16BIT,
                                    b"08": UNPACKED8BIT}[w]
            except KeyError:
                # reference fails on an unknown word size rather than
                # defaulting (l1bdataset.cpp:1592-1598 returns CE_Failure)
                raise ValueError(
                    f"L1B: unknown NOAA-15 data word size {w!r}")
        else:
            self.n_bands = 5
            self.data_format = PACKED10BIT
        # little-endian probe (l1bdataset.cpp:1643)
        for i in range(3):
            year = self._u16(base + 6)
            day = self._u16(base + 8)
            nhdr = self._u16(base + 14)
            if i == 2:
                break
            if not (1980 <= year <= 2100) and not (day <= 366) \
                    and nhdr != 1:
                self.endian = "<" if self.endian == ">" else ">"
            else:
                break
        self.record_size_from_header = self._u16(base + 10)
        self.missing_lines = self._u16(base + 132)
        if self.missing_lines != 0:
            self.expose_mask = True
        ell = d[base + 328:base + 336]
        if ell == b"WGS-84  ":
            self.gcp_projection = WGS84_WKT
        elif ell == b"  GRS 80":
            self.gcp_projection = GRS80_WKT
        sid = self._u16(base + 72)
        self.spacecraft = _SPACECRAFT_KLM.get(sid)
        if self.spacecraft is None:
            raise ValueError(f"unknown KLM spacecraft id {sid}")
        prod = self._u16(base + 76)
        self.product = {1: "LAC", 2: "GAC", 3: "HRPT",
                        4: "FRAC", 13: "FRAC"}.get(prod)
        if self.product is None:
            raise ValueError(f"unknown L1B product type {prod}")
        self.dataset_name = d[base + 22:base + 64].decode(
            "latin-1").strip()

    def _parse_noaa9_header(self) -> None:
        d = self.data
        self.dataset_name = d[30:72].decode("latin-1").strip()
        self.n_bands = sum(1 for c in d[97:117] if c in (1, ord("Y")))
        if not 1 <= self.n_bands <= 5:
            self.n_bands = 5
        w = d[117:119]
        self.data_format = {b"10": PACKED10BIT, b"16": UNPACKED16BIT,
                            b"08": UNPACKED8BIT}.get(w, PACKED10BIT)
        self.record_size_from_header = 0
        self.missing_lines = 0
        rec = d[122:122 + 146]
        prod = rec[1] >> 4
        self.product = {1: "LAC", 2: "GAC", 3: "HRPT"}.get(prod)
        if self.product is None:
            raise ValueError(f"unknown L1B product type {prod}")
        self.spacecraft = f"NOAA-{rec[0]}"

    # ------------- geometry tables -----------------------------------

    def _compute_offsets(self) -> None:
        klm = self.format in ("NOAA15", "NOAA15_NOHDR")
        nb = self.n_bands
        if self.product in ("HRPT", "LAC", "FRAC"):
            self.width = 2048
            self.gcp_start, self.gcp_step, self.gcps_per_line = 24, 40, 51
            if not klm:
                if self.data_format == PACKED10BIT:
                    rs, de = 14800, 14104
                elif self.data_format == UNPACKED16BIT:
                    rs = de = [4544, 8640, 12736, 16832, 20928][nb - 1]
                else:
                    rs = de = [2496, 4544, 6592, 8640, 10688][nb - 1]
                self.data_start = rs + 122
                self.rec_data_start = 448
                self.gcp_offset = 104
            else:
                if self.data_format == PACKED10BIT:
                    rs, de = 15872, 14920
                elif self.data_format == UNPACKED16BIT:
                    rs, de = [(6144, 5360), (10240, 9456), (14336, 13552),
                              (18432, 17648), (22528, 21744)][nb - 1]
                else:
                    rs, de = [(4096, 3312), (6144, 5360), (8192, 7408),
                              (10240, 9456), (12288, 11504)][nb - 1]
                self.data_start = de if self.format == "NOAA15_NOHDR" \
                    else rs + 512
                self.rec_data_start = 1264
                self.gcp_offset = 640
        elif self.product == "GAC":
            self.width = 409
            self.gcp_start, self.gcp_step, self.gcps_per_line = 4, 8, 51
            if not klm:
                if self.data_format == PACKED10BIT:
                    rs, de = 3220, 3176
                elif self.data_format == UNPACKED16BIT:
                    rs, de = [(1268, 1266), (2084, 2084), (2904, 2902),
                              (3720, 3720), (4540, 4538)][nb - 1]
                else:
                    rs, de = [(860, 858), (1268, 1266), (1676, 1676),
                              (2084, 2084), (2496, 2494)][nb - 1]
                self.data_start = rs * 2 + 122
                self.rec_data_start = 448
                self.gcp_offset = 104
            else:
                if self.data_format == PACKED10BIT:
                    rs, de = 4608, 3992
                elif self.data_format == UNPACKED16BIT:
                    rs, de = [(2360, 2082), (3176, 2900), (3992, 3718),
                              (4816, 4536), (5632, 5354)][nb - 1]
                else:
                    rs, de = [(1952, 1673), (2640, 2082), (3256, 2491),
                              (3872, 2900), (4608, 3309)][nb - 1]
                self.data_start = de if self.format == "NOAA15_NOHDR" \
                    else rs + 512
                self.rec_data_start = 1264
                self.gcp_offset = 640
        else:
            raise ValueError(f"unsupported product {self.product}")
        self.record_size, self.rec_data_end = rs, de

    # ------------- pixels --------------------------------------------

    def _line_offset(self, y: int) -> int:
        if self.location == DESCEND:
            return self.data_start + y * self.record_size
        return self.data_start + (self.height - y - 1) * self.record_size

    def _scan(self, y: int) -> np.ndarray:
        d = self.data
        off = self._line_offset(y)
        if self.data_format == PACKED10BIT:
            words = np.frombuffer(
                d, np.dtype("u4").newbyteorder(self.endian),
                (self.rec_data_end - self.rec_data_start) // 4,
                off + self.rec_data_start).astype(np.uint32)
            out = np.empty(words.size * 3, np.uint16)
            out[0::3] = (words >> 20) & 0x3FF
            out[1::3] = (words >> 10) & 0x3FF
            out[2::3] = words & 0x3FF
            return out
        if self.data_format == UNPACKED16BIT:
            return np.frombuffer(
                d, np.dtype("u2").newbyteorder(self.endian),
                self.width * self.n_bands,
                off + self.rec_data_start).astype(np.uint16)
        return np.frombuffer(d, np.uint8, self.width * self.n_bands,
                             off + self.rec_data_start).astype(np.uint16)

    def read_band(self, band: int) -> np.ndarray:
        out = np.empty((self.height, self.width), np.uint16)
        for y in range(self.height):
            line = self._scan(y)[band::self.n_bands][:self.width]
            out[y] = line if self.location == DESCEND else line[::-1]
        return out

    def read_mask(self) -> np.ndarray:
        out = np.empty((self.height, self.width), np.uint8)
        for y in range(self.height):
            (flags,) = struct.unpack_from(self.endian + "I", self.data,
                                          self._line_offset(y) + 24)
            out[y] = 0 if (flags >> 31) else 255
        return out

    # ------------- GCPs ----------------------------------------------

    def gcps(self, max_lines: int = 20) -> list[tuple]:
        """(pixel, line, lon, lat) samples, reference ProcessRecordHeaders
        line sampling with DESIRED_GCPS_PER_LINE downsampling skipped
        (the high-density strategy default)."""
        out = []
        n_lines = min(max_lines, self.height)
        step = (self.height - 1) / (n_lines - 1) if n_lines > 1 else 1
        prev = -1
        for k in range(n_lines):
            y = self.height - 1 if k == n_lines - 1 else int(step * k)
            if y == prev:
                continue
            prev = y
            base = self.data_start + y * self.record_size + self.gcp_offset
            delta = 0.9 if self.product == "GAC" else 0.5
            pixel = self.gcp_start + delta if self.location == DESCEND \
                else self.width - (self.gcp_start + delta)
            for g in range(self.gcps_per_line):
                lat, lon = struct.unpack_from(self.endian + "ii",
                                              self.data, base + 8 * g)
                lat, lon = lat / 10000.0, lon / 10000.0
                if -180 <= lon <= 180 and -90 <= lat <= 90:
                    line = (y if self.location == DESCEND
                            else self.height - y - 1) + 0.5
                    out.append((pixel, line, lon, lat))
                    pixel += self.gcp_step if self.location == DESCEND \
                        else -self.gcp_step
        return out


def open_l1b(path: str) -> L1B:
    return L1B(path)


def read_l1b(spark: SparkSession, path: str, raster_id: str = "l1b",
             block: int = 256, with_mask: bool = False
             ) -> tuple[DataFrame, RasterMeta, L1B]:
    """All bands as uint16 planes; with_mask appends the per-dataset
    validity mask as one extra uint8-valued band."""
    l1b = L1B(path)
    meta = RasterMeta(raster_id, l1b.width, l1b.height, dtype="uint16",
                      block=block)
    planes = [l1b.read_band(b) for b in range(l1b.n_bands)]
    if with_mask:
        planes.append(l1b.read_mask())
    return from_array(spark, np.stack(planes).astype("uint16"), meta), \
        meta, l1b
