"""Envisat (ASAR / MERIS / AATSR) product reader —
gdal/frmts/envisat/{EnvisatFile.c,envisatdataset.cpp}.

Reference semantics:
- A product starts with a 1247-byte ASCII MPH of ``KEY=value`` lines
  (EnvisatFile.c MPH_SIZE :89); values are quoted strings or numbers
  with an optional ``<units>`` suffix (S_NameValueList_Parse
  :1716-1830). ``SPH_SIZE``/``NUM_DSD``/``DSD_SIZE`` locate the SPH and
  the dataset descriptors; each DSD block carries DS_NAME/DS_TYPE/
  DS_OFFSET/DS_SIZE/NUM_DSR/DSR_SIZE (:349-410).
- The raster (envisatdataset.cpp:890-1000): the first DS_TYPE="M"
  dataset fixes the geometry — width = SPH LINE_LENGTH, height =
  NUM_DSR; pixel type from SPH DATA_TYPE/SAMPLE_TYPE (FLT32[+COMPLEX]
  -> (C)Float32, UWORD -> UInt16, SWORD[+COMPLEX] -> (C)Int16;
  ATS_TOA_1 products are 16-bit with width (dsr_size-20)/2; unknown ->
  Byte with width dsr_size). Per-record prefix = dsr_size - width *
  pixel_size; data is big-endian (bNative=FALSE on LSB :991).
- Every M dataset with the same NUM_DSR becomes a band (:1025-1055).

Spark shape: records are fixed-stride lines, so each band dataset is a
RawBand (offset ``DS_OFFSET + prefix``, line stride ``DSR_SIZE``) read
by ``raw_blocks`` on the executors.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.raster.model import BLOCK, RasterMeta, RawBand, raw_blocks

MPH_SIZE = 1247


def _parse_kv(text: str) -> dict:
    """ENVISAT name/value lines (quoted strings; numbers with an
    optional <units> suffix)."""
    out = {}
    for line in text.split("\n"):
        line = line.strip()
        if "=" not in line:
            continue
        key, val = line.split("=", 1)
        if val.startswith('"'):
            val = val[1:].split('"', 1)[0]
        else:
            val = val.split("<", 1)[0].split(" ", 1)[0]
        out[key] = val
    return out


class EnvisatFile:
    def __init__(self, path: str):
        self.path = path
        with open(path, "rb") as f:
            mph_raw = f.read(MPH_SIZE)
            if len(mph_raw) < MPH_SIZE:
                raise ValueError(f"{path}: shorter than an Envisat MPH")
            self.mph = _parse_kv(mph_raw.decode("iso8859-1"))
            if "PRODUCT" not in self.mph or "SPH_SIZE" not in self.mph:
                raise ValueError(f"{path}: not an Envisat product (no "
                                 f"PRODUCT/SPH_SIZE in MPH)")
            sph_size = int(self.mph.get("SPH_SIZE", "0"))
            sph_raw = f.read(sph_size).decode("iso8859-1")
        num_dsd = int(self.mph.get("NUM_DSD", "0"))
        dsd_size = int(self.mph.get("DSD_SIZE", "0"))
        ds_start = sph_raw.find("DS_NAME")
        self.sph = _parse_kv(sph_raw[:ds_start] if ds_start >= 0
                             else sph_raw)
        self.datasets = []
        if ds_start >= 0 and num_dsd > 0 and dsd_size > 0:
            for i in range(num_dsd):
                block = sph_raw[ds_start + i * dsd_size:
                                ds_start + (i + 1) * dsd_size]
                kv = _parse_kv(block)
                if not kv.get("DS_NAME", "").strip():
                    continue
                self.datasets.append({
                    "name": kv.get("DS_NAME", "").strip(),
                    "type": kv.get("DS_TYPE", "").strip(),
                    "offset": int(kv.get("DS_OFFSET", "0")),
                    "size": int(kv.get("DS_SIZE", "0")),
                    "num_dsr": int(kv.get("NUM_DSR", "0")),
                    "dsr_size": int(kv.get("DSR_SIZE", "0")),
                })

    def measurement_datasets(self) -> list[dict]:
        return [d for d in self.datasets if d["type"] == "M"]

    def layout(self) -> tuple[int, int, str, int, list[dict]]:
        """(width, height, numpy dtype, prefix bytes, band datasets) per
        envisatdataset.cpp:946-999."""
        mds = self.measurement_datasets()
        if not mds:
            raise ValueError(f"{self.path}: no measurement dataset "
                             f"(MDS1) found")
        ref = mds[0]
        width = int(self.sph.get("LINE_LENGTH", "0"))
        height = ref["num_dsr"]
        product = self.mph.get("PRODUCT", "")
        data_type = self.sph.get("DATA_TYPE", "")
        sample_type = self.sph.get("SAMPLE_TYPE", "")
        if data_type == "FLT32" and sample_type.startswith("COMPLEX"):
            dt = "complex64"   # CFloat32
        elif data_type == "FLT32":
            dt = "float32"
        elif data_type == "UWORD":
            dt = "uint16"
        elif data_type == "SWORD" and sample_type.startswith("COMPLEX"):
            dt = "cint16"
        elif data_type == "SWORD":
            dt = "int16"
        elif product.startswith("ATS_TOA_1"):
            dt = "int16"
            width = (ref["dsr_size"] - 20) // 2
        elif width == 0:
            dt = "uint8"
            width = ref["dsr_size"]
        else:
            dt = "uint16" if ref["dsr_size"] >= 2 * width else "uint8"
        px = {"uint8": 1, "uint16": 2, "int16": 2, "float32": 4,
              "cint16": 4, "complex64": 8}[dt]
        prefix = ref["dsr_size"] - px * width
        if width < 1 or height < 1 or prefix < 0:
            raise ValueError(f"{self.path}: invalid Envisat raster "
                             f"layout {width}x{height} prefix={prefix}")
        bands = [d for d in mds if d["num_dsr"] == height
                 and d["dsr_size"] == ref["dsr_size"]]
        return width, height, dt, prefix, bands


def read_envisat(spark: SparkSession, path: str, raster_id: str = "envisat",
                 block: int = BLOCK
                 ) -> tuple[DataFrame, RasterMeta, EnvisatFile]:
    """All same-shape measurement datasets as bands. cint16 samples are
    read as (re, im) int16 pairs and widened to complex64 tiles (the
    model has no 16-bit complex)."""
    env = EnvisatFile(path)
    width, height, dt, prefix, bands = env.layout()
    # big-endian on-disk sample type (envisatdataset.cpp bNative=FALSE)
    disk = {"uint8": "u1", "uint16": ">u2", "int16": ">i2",
            "float32": ">f4", "cint16": "(2,)>i2", "complex64": ">c8"}[dt]
    meta = RasterMeta(raster_id, width, height,
                      dtype="complex64" if dt == "cint16" else dt,
                      block=block)
    item = np.dtype(disk).itemsize
    return raw_blocks(spark, meta, [
        RawBand(path, d["offset"] + prefix, item, d["dsr_size"], disk)
        for d in bands]), meta, env
