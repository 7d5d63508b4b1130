"""Simple CEOS (LGSOWG) imagery reader — gdal/frmts/ceos/.

Reference semantics (ceosopen.c):
- Records carry a 12-byte header: record number (u32), record type
  (u32), record length (u32), all big-endian; a little-endian variant
  (the IRS "bizarre little endian CEOS", #1862) is detected when the
  first two bytes of the file are non-zero and swaps both words
  (CEOSOpen :222-229, CEOSReadRecord :90-95).
- The first record must be the image file descriptor (type 0x3FC01212,
  CRT_IMAGE_FDR); ASCII integer fields at fixed offsets give the image
  record count/length (+180/+186), bits per pixel (+216), band count
  (+232), lines (+236), pixels per line (+248), and the per-record
  prefix/suffix byte counts (+276/+288) (CEOSOpen :260-268).
- Imagery: one record per (band, line), band-interleaved-by-line;
  band b's line y starts at
  ``fdr_len + (y*nBands + b)*nImageRecLength + 12 + nPrefixBytes``
  (CEOSOpen :292-300, CEOSReadScanline :319-327). 8-bit only
  (ceosdataset.cpp:168).

Spark shape: scanline records are fixed-stride, so each band is a
RawBand (offset ``data_start[b]``, line stride ``nBands *
nImageRecLength``) read by ``raw_blocks`` on the executors. No
driver-side pixel data.
"""

from __future__ import annotations

import os
import struct

from pyspark.sql import DataFrame, SparkSession

from gdal_spark.raster.model import BLOCK, RasterMeta, RawBand, raw_blocks

CRT_IMAGE_FDR = 0x3FC01212


class CEOSImage:
    def __init__(self, path: str):
        self.path = path
        with open(path, "rb") as f:
            head = f.read(16)
        if len(head) < 16:
            raise ValueError(f"{path}: too short for a CEOS transfer")
        self.little_endian = head[0] != 0 or head[1] != 0
        # the little-endian variant swaps the record number and length
        # words but NOT the record type (ceosopen.c:90-95 swaps +0 and
        # +8 only, then reads all three big-endian)
        endian = "<" if self.little_endian else ">"
        (rec_num,) = struct.unpack_from(endian + "I", head, 0)
        (rec_type,) = struct.unpack_from(">I", head, 4)
        (rec_len,) = struct.unpack_from(endian + "I", head, 8)
        if rec_type != CRT_IMAGE_FDR:
            raise ValueError(
                f"{path}: got record type 0x{rec_type:X}, expected image "
                f"file descriptor 0x{CRT_IMAGE_FDR:X}")
        if not 0 <= rec_num <= 200000 or not 12 <= rec_len <= 200000:
            raise ValueError(f"{path}: corrupt CEOS record leader")
        with open(path, "rb") as f:
            fdr = f.read(rec_len)

        def scan_int(off: int, n: int) -> int:
            s = fdr[off:off + n].split(b"\0")[0].strip() or b"0"
            try:
                return int(s)
            except ValueError:
                return 0

        self.fdr_length = rec_len
        self.n_image_records = scan_int(180, 6)
        self.image_record_length = scan_int(186, 6)
        self.bits_per_pixel = scan_int(216, 4)
        self.n_bands = scan_int(232, 4)
        self.n_lines = scan_int(236, 8)
        self.n_pixels = scan_int(248, 8)
        self.prefix_bytes = scan_int(276, 4)
        self.suffix_bytes = scan_int(288, 4)
        if self.bits_per_pixel != 8:
            raise ValueError(
                f"CEOS reader handles 8 bits per pixel only, got "
                f"{self.bits_per_pixel} (ceosdataset.cpp:168)")
        if self.image_record_length <= 0 or self.n_bands <= 0:
            raise ValueError(f"{path}: invalid CEOS image layout")
        self.line_offset = self.n_bands * self.image_record_length
        self.data_start = [
            rec_len + b * self.image_record_length + 12 + self.prefix_bytes
            for b in range(self.n_bands)]
        # partial transfers (the autotest fixture is the first 75 KB of
        # a scene): expose only the complete scanlines actually present
        avail = os.path.getsize(path)
        have = max(0, (avail - self.data_start[-1] - self.n_pixels)
                   // self.line_offset + 1)
        self.n_lines_avail = min(self.n_lines, have)


def read_ceos(spark: SparkSession, path: str, raster_id: str = "ceos",
              block: int = BLOCK, full_height: bool = False
              ) -> tuple[DataFrame, RasterMeta, CEOSImage]:
    """All bands as uint8 block rows; by default the raster height is
    clamped to the scanlines present in the file (truncated transfers
    read as a short raster rather than erroring per-line)."""
    img = CEOSImage(path)
    height = img.n_lines if full_height else img.n_lines_avail
    meta = RasterMeta(raster_id, img.n_pixels, height,
                      dtype="uint8", block=block)
    return raw_blocks(spark, meta, [
        RawBand(img.path, start, 1, img.line_offset, "u1")
        for start in img.data_start]), meta, img
