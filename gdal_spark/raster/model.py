"""Distributed raster data model: block rows in a DataFrame.

Reference mapping (SURVEY.md §1.1): a GDALDataset is a georeferenced 2-D
grid read through cached fixed-size blocks (GDALRasterBlock,
gdal/gcore/gdal_priv.h:501,600-648). Here the *block is the row granule*:

    (raster_id: string, band: int, bx: int, by: int,
     w: int, h: int, data: binary)

``data`` is the row-major numpy buffer of the block in the raster's dtype;
edge blocks are partial (w/h < block). Dataset-level facts — size, the
6-double affine geotransform (gdal_priv.h:276), dtype, nodata — live in a
small driver-side ``RasterMeta`` (the analog of the GDALDataset header),
passed into every operator. Spark's shuffle/cache machinery replaces the
global LRU block cache (gdal/gcore/gdalrasterblock.cpp:38).

Two ways in:
- ``raw_blocks`` reads any raster whose payload is a plain strided array
  (GDAL's RawRasterBand): the driver parses the header into ``RawBand``
  layouts and each executor task reads the bytes of one block row. The
  driver never holds pixels, so nothing driver-side grows with pixel
  count; ``synthetic_raster`` is generated the same way, from
  ``spark.range`` over block keys.
- ``from_array`` turns an array already decoded on the driver into block
  rows. Readers whose payload needs a sequential decode (ASCII grids,
  compressed codecs, sub-byte packing) use it, so their driver memory
  grows with the raster.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BLOCK = 256

TILE_SCHEMA = T.StructType([
    T.StructField("raster_id", T.StringType(), False),
    T.StructField("band", T.IntegerType(), False),
    T.StructField("bx", T.IntegerType(), False),
    T.StructField("by", T.IntegerType(), False),
    T.StructField("w", T.IntegerType(), False),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("data", T.BinaryType(), False),
])


@dataclass(frozen=True)
class RasterMeta:
    """Dataset header: the GDALDataset/GDALRasterBand metadata analog."""
    raster_id: str
    width: int
    height: int
    # GDAL geotransform (gdal_priv.h:276): x = gt0 + px*gt1 + py*gt2 ...
    gt: tuple[float, float, float, float, float, float] = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)
    dtype: str = "uint8"
    nodata: float | None = None
    block: int = BLOCK

    @property
    def n_block_x(self) -> int:
        return (self.width + self.block - 1) // self.block

    @property
    def n_block_y(self) -> int:
        return (self.height + self.block - 1) // self.block

    def block_shape(self, bx: int, by: int) -> tuple[int, int]:
        w = min(self.block, self.width - bx * self.block)
        h = min(self.block, self.height - by * self.block)
        return h, w

    def pixel_to_geo(self, px, py):
        """Pixel/line (float, pixel-space) → georeferenced x/y."""
        g = self.gt
        return g[0] + px * g[1] + py * g[2], g[3] + px * g[4] + py * g[5]

    def geo_to_pixel(self, x, y):
        """Inverse geotransform (GDALInvGeoTransform analog; supports
        rotation via 2x2 inversion)."""
        g = self.gt
        det = g[1] * g[5] - g[2] * g[4]
        dx, dy = x - g[0], y - g[3]
        return (dx * g[5] - dy * g[2]) / det, (dy * g[1] - dx * g[4]) / det

    def scaled(self, raster_id: str, factor: int) -> "RasterMeta":
        """Overview-level meta: /factor size, *factor pixel size."""
        g = self.gt
        return replace(
            self, raster_id=raster_id,
            width=(self.width + factor - 1) // factor,
            height=(self.height + factor - 1) // factor,
            gt=(g[0], g[1] * factor, g[2] * factor, g[3], g[4] * factor, g[5] * factor))


# ---------------------------------------------------------------------------
# Generation / conversion
# ---------------------------------------------------------------------------

def synthetic_raster(spark: SparkSession, meta: RasterMeta,
                     fn: Callable[[np.ndarray, np.ndarray], np.ndarray],
                     bands: int = 1, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic raster: ``fn(X, Y)`` maps global pixel-index
    grids to values (vectorized numpy; called per block, so the same raster
    materializes identically at any partitioning)."""
    nbx, nby = meta.n_block_x, meta.n_block_y
    n = nbx * nby * bands
    keys = (spark.range(0, n, 1, numPartitions=partitions) if partitions
            else spark.range(n))
    keys = keys.select(
        (F.col("id") % nbx).cast("int").alias("bx"),
        ((F.col("id") / nbx) % nby).cast("int").alias("by"),
        (F.col("id") / (nbx * nby)).cast("int").alias("band"))
    dtype, rid, block = meta.dtype, meta.raster_id, meta.block
    width, height = meta.width, meta.height

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for bx, by, band in zip(pdf["bx"], pdf["by"], pdf["band"]):
                w = min(block, width - bx * block)
                h = min(block, height - by * block)
                X, Y = np.meshgrid(np.arange(bx * block, bx * block + w),
                                   np.arange(by * block, by * block + h))
                arr = np.asarray(fn(X, Y)).astype(dtype)
                out.append((rid, int(band), int(bx), int(by), int(w), int(h),
                            arr.tobytes()))
            yield pd.DataFrame(out, columns=["raster_id", "band", "bx", "by",
                                             "w", "h", "data"])

    return keys.mapInPandas(gen, schema=TILE_SCHEMA)


def from_array(spark: SparkSession, arr: np.ndarray, meta: RasterMeta,
               band: int = 0) -> DataFrame:
    """Driver-side array → block rows in one ``createDataFrame``.
    ``arr`` is one (h, w) band, or a (bands, h, w) cube whose planes
    become bands ``band``, ``band + 1``, ..."""
    cube = arr[None] if arr.ndim == 2 else arr
    assert cube.shape[1:] == (meta.height, meta.width)
    rows = []
    b = meta.block
    for i, plane in enumerate(cube):
        for by in range(meta.n_block_y):
            for bx in range(meta.n_block_x):
                sub = np.ascontiguousarray(
                    plane[by * b:(by + 1) * b, bx * b:(bx + 1) * b]
                ).astype(meta.dtype)
                rows.append((meta.raster_id, band + i, bx, by, sub.shape[1],
                             sub.shape[0], bytearray(sub.tobytes())))
    return spark.createDataFrame(rows, TILE_SCHEMA)


@dataclass(frozen=True)
class RawBand:
    """Byte layout of one band, GDAL's RawRasterBand
    (gdal/gcore/rawdataset.cpp): sample (x, y) is stored at
    ``offset + y * line_stride + x * pixel_stride`` in ``path`` as
    ``dtype``, a numpy type string with its byte order (``">i2"``).
    A negative ``line_stride`` stores the rows bottom-up. A two-element
    subarray type such as ``"(2,)>i2"`` is the (re, im) pair of a complex
    integer sample. A band with ``path=None`` has no file and reads as
    zeros."""
    path: str | None
    offset: int
    pixel_stride: int
    line_stride: int
    dtype: str


def raw_blocks(spark: SparkSession, meta: RasterMeta,
               bands: list[RawBand]) -> DataFrame:
    """Block rows of a raw raster, read on the executors.

    One task key per (band, block row) comes from ``spark.range``, in at
    most ``defaultParallelism`` partitions. Each key reads the byte span
    its block row touches, views it as ``np.ndarray(strides=(line_stride,
    pixel_stride))``, casts to ``meta.dtype`` and cuts it into blocks.
    Bytes past end of file read as zero, as RawRasterBand does. Band i of
    the output is ``bands[i]``."""
    import pyarrow as pa

    nby, nbx = meta.n_block_y, meta.n_block_x
    n = len(bands) * nby
    keys = spark.range(0, n, 1, max(1, min(
        n, spark.sparkContext.defaultParallelism)))
    rid, width, height, block = (meta.raster_id, meta.width, meta.height,
                                 meta.block)
    out = np.dtype(meta.dtype)
    names = TILE_SCHEMA.fieldNames()

    def strip(band: RawBand, y0: int, h: int) -> np.ndarray:
        dt = np.dtype(band.dtype)
        first = band.offset + y0 * band.line_stride     # sample (0, y0)
        rows = sorted((0, (h - 1) * band.line_stride))
        cols = sorted((0, (width - 1) * band.pixel_stride))
        lo = first + rows[0] + cols[0]
        size = rows[1] - rows[0] + cols[1] - cols[0] + dt.itemsize
        buf = b""
        if band.path is not None:
            with open(band.path, "rb") as f:
                f.seek(lo)
                buf = f.read(size)
        a = np.ndarray((h, width), dt, buf.ljust(size, b"\0"), first - lo,
                       (band.line_stride, band.pixel_stride))
        if a.ndim == 3:     # (re, im) pairs -> complex
            return np.ascontiguousarray(a, np.finfo(out).dtype).view(
                out)[..., 0]
        return a.astype(out)

    def run(batches):
        for batch in batches:
            for key in batch.column(0).to_pylist():
                b, by = divmod(key, nby)
                h = min(block, height - by * block)
                a = strip(bands[b], by * block, h)
                cuts = [a[:, x:x + block] for x in range(0, width, block)]
                yield pa.RecordBatch.from_arrays([
                    pa.array([rid] * nbx, pa.string()),
                    pa.array([b] * nbx, pa.int32()),
                    pa.array(range(nbx), pa.int32()),
                    pa.array([by] * nbx, pa.int32()),
                    pa.array([c.shape[1] for c in cuts], pa.int32()),
                    pa.array([h] * nbx, pa.int32()),
                    pa.array([np.ascontiguousarray(c).tobytes()
                              for c in cuts], pa.binary())], names=names)

    return keys.mapInArrow(run, TILE_SCHEMA)


def nonzero_pixels(tiles: DataFrame, meta: RasterMeta, band: int = 0) -> DataFrame:
    """Sparse pixel rows (px, py, val:double) of all non-zero pixels —
    the inverse of a point scatter, used to compare rasters relationally."""
    dtype, block = meta.dtype, meta.block
    schema = T.StructType([
        T.StructField("px", T.LongType()), T.StructField("py", T.LongType()),
        T.StructField("val", T.DoubleType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for r in pdf.itertuples(index=False):
                arr = np.frombuffer(bytes(r.data), dtype=dtype).reshape(r.h, r.w)
                ys, xs = np.nonzero(arr)
                outs.append(pd.DataFrame({
                    "px": xs + r.bx * block, "py": ys + r.by * block,
                    "val": arr[ys, xs].astype(np.float64)}))
            yield pd.concat(outs) if outs else pd.DataFrame(
                {"px": [], "py": [], "val": []})

    return tiles.filter(F.col("band") == band).mapInPandas(run, schema=schema)


def locate_points(points: DataFrame, tiles: DataFrame, meta: RasterMeta,
                  lon: str = "lon", lat: str = "lat", band: int = 0,
                  val_col: str = "val") -> DataFrame:
    """gdallocationinfo analog (gdal/apps/gdallocationinfo.cpp:383-401):
    inverse geotransform → containing pixel ``floor((geo - origin)/scale)``
    → block equi-join → per-block value gather. Returns the point columns
    plus (px, py, val); points outside the raster keep their (out-of-range)
    pixel indices and a null val, matching the app's "outside" report.
    Tile frames are sparse (only blocks containing pixels exist), so the
    block join is LEFT: an in-bounds point whose block row is absent
    reports the raster fill value (nodata if set, else 0) instead of being
    dropped — one output row per input point, gdallocationinfo parity.
    Axis-aligned geotransforms only (rotated rasters unsupported, as in
    rasterize). One shuffle keyed by block — scalable to any point count."""
    g = meta.gt
    if g[2] != 0.0 or g[4] != 0.0:
        raise NotImplementedError("rotated geotransforms unsupported")
    dtype, block = meta.dtype, meta.block
    width, height = meta.width, meta.height
    pt_cols = points.columns
    px = F.floor((F.col(lon) - F.lit(g[0])) / F.lit(g[1])).cast("long")
    py = F.floor((F.col(lat) - F.lit(g[3])) / F.lit(g[5])).cast("long")
    pts = points.withColumn("px", px).withColumn("py", py)
    inb = ((F.col("px") >= 0) & (F.col("px") < width)
           & (F.col("py") >= 0) & (F.col("py") < height))
    inside = (pts.filter(inb)
              .withColumn("bx", F.floor(F.col("px") / block).cast("int"))
              .withColumn("by", F.floor(F.col("py") / block).cast("int")))
    fill_val = float(meta.nodata) if meta.nodata is not None else 0.0
    joined = inside.join(
        tiles.filter(F.col("band") == band).select("bx", "by", "w", "h", "data"),
        on=["bx", "by"], how="left")
    out_names = [*pt_cols, "px", "py", val_col]
    out_schema = T.StructType(
        list(points.schema.fields)
        + [T.StructField("px", T.LongType()), T.StructField("py", T.LongType()),
           T.StructField(val_col, T.DoubleType())])
    names = joined.columns
    i_px, i_py = names.index("px"), names.index("py")
    i_bx, i_by = names.index("bx"), names.index("by")
    i_data = names.index("data")

    def gather(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = np.full(len(pdf), np.nan)
            arrs: dict[tuple, np.ndarray] = {}
            for i, r in enumerate(pdf.itertuples(index=False)):
                if r[i_data] is None:  # sparse raster: block absent → fill
                    vals[i] = fill_val
                    continue
                key = (r[i_bx], r[i_by])
                arr = arrs.get(key)
                if arr is None:
                    # h/w become float64 after the left join (nullable ints)
                    arr = np.frombuffer(bytes(r[i_data]), dtype=dtype).reshape(
                        int(pdf.iloc[i]["h"]), int(pdf.iloc[i]["w"]))
                    arrs[key] = arr
                vals[i] = float(arr[r[i_py] - r[i_by] * block,
                                    r[i_px] - r[i_bx] * block])
            out = pdf.drop(columns=["bx", "by", "w", "h", "data"])
            out[val_col] = vals
            yield out

    matched = joined.mapInPandas(gather, schema=out_schema)
    outside = (pts.filter(~inb)
               .withColumn(val_col, F.lit(None).cast("double")))
    return matched.unionByName(outside).select(*out_names)


def to_array(df: DataFrame, meta: RasterMeta, band: int = 0,
             fill: float = 0) -> np.ndarray:
    """Collect block rows into one array (tests / small outputs only)."""
    arr = np.full((meta.height, meta.width), fill, dtype=meta.dtype)
    b = meta.block
    for r in df.filter(F.col("band") == band).collect():
        block = np.frombuffer(bytes(r["data"]), dtype=meta.dtype).reshape(r["h"], r["w"])
        arr[r["by"] * b:r["by"] * b + r["h"], r["bx"] * b:r["bx"] * b + r["w"]] = block
    return arr
