"""Polygon layers: deterministic admin grid + GDAL autotest fixture mirrors.

- ``admin_grid``     — a regular lon/lat grid of rectangle polygons (WKB) with
  bbox columns. Rectangles make containment SQL-expressible, so driver
  correctness oracles can verify the generic ray-casting join path against
  plain bbox SQL.
- ``poly_fixture``   — the 10-feature mirror of autotest/ogr/data/poly.dbf
  (AREA/EAS_ID/PRFEDEA values ported verbatim from the reference dbf;
  geometries are synthetic: convex, concave, and one with an interior ring,
  per FIXTURES.md §2).
- ``idlink_fixture`` — the 7-row join partner (autotest/ogr/data/idlink.dbf).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from gdal_spark.functions import geometry as G
from gdal_spark.session import local_frame

GRID_SCHEMA = T.StructType([
    T.StructField("cell_id", T.LongType(), False),
    T.StructField("cell_name", T.StringType(), False),
    T.StructField("wkb", T.BinaryType(), False),
    T.StructField("xmin", T.DoubleType(), False),
    T.StructField("ymin", T.DoubleType(), False),
    T.StructField("xmax", T.DoubleType(), False),
    T.StructField("ymax", T.DoubleType(), False),
])
POLY_SCHEMA = T.StructType([
    T.StructField("fid", T.LongType(), False),
    T.StructField("geometry", T.BinaryType(), False),
    T.StructField("area", T.DoubleType(), False),
    T.StructField("eas_id", T.LongType(), False),
    T.StructField("prfedea", T.StringType(), False),
])


def admin_grid(spark: SparkSession, nx: int = 12, ny: int = 6,
               lon_min: float = -180.0, lon_max: float = 180.0,
               lat_min: float = -85.0, lat_max: float = 85.0) -> DataFrame:
    """nx × ny rectangle cells covering [lon_min,lon_max]×[lat_min,lat_max].

    cell_id = row-major index; bbox columns allow SQL oracles and Catalyst
    pruning; wkb is the geometry the exact-PIP path consumes.
    """
    i, j = np.tile(np.arange(nx), ny), np.repeat(np.arange(ny), nx)
    dx = (lon_max - lon_min) / nx
    dy = (lat_max - lat_min) / ny
    x0, x1 = lon_min + i * dx, lon_min + (i + 1) * dx
    y0, y1 = lat_min + j * dy, lat_min + (j + 1) * dy
    rings = np.stack([np.stack(c, axis=-1) for c in
                      ((x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0))], axis=1)
    return _grid_frame(spark, "cell", i, j, rings)


def _ring_wkbs(rings: np.ndarray) -> list[bytes]:
    """Single-ring Polygon WKB of each closed ring of ``rings`` (n, k, 2),
    in one numpy pass: byte-identical to ``G.encode_polygon([ring])``."""
    n, k, _ = rings.shape
    rec = np.empty(n, dtype=[("order", "u1"), ("type", "<u4"), ("nrings", "<u4"),
                             ("npts", "<u4"), ("xy", "<f8", (k, 2))])
    rec["order"], rec["type"], rec["nrings"], rec["npts"] = 1, G.WKB_POLYGON, 1, k
    rec["xy"] = rings
    buf, size = rec.tobytes(), rec.itemsize
    return [buf[r * size:(r + 1) * size] for r in range(n)]


def _grid_frame(spark: SparkSession, prefix: str, i: np.ndarray, j: np.ndarray,
                rings: np.ndarray) -> DataFrame:
    """GRID_SCHEMA rows for the cells (i, j) of a grid, with each ring's
    envelope as the bbox columns; cell_id = row-major index."""
    lo, hi = rings.min(axis=1), rings.max(axis=1)
    rows = zip(range(len(rings)), [f"{prefix}_{a}_{b}" for a, b in zip(i, j)],
               _ring_wkbs(rings), lo[:, 0].tolist(), lo[:, 1].tolist(),
               hi[:, 0].tolist(), hi[:, 1].tolist())
    return local_frame(spark, list(rows), GRID_SCHEMA)


# AREA / EAS_ID / PRFEDEA ported from /root/reference/autotest/ogr/data/poly.dbf
# (decoded dbf records; used by ogr_sql_test.py / ogr_join_test.py cases).
POLY_ROWS = [
    (0, 215229.266, 168, "35043411"),
    (1, 247328.172, 179, "35043423"),
    (2, 261752.781, 171, "35043414"),
    (3, 547597.188, 173, "35043416"),
    (4, 15775.758, 172, "35043415"),
    (5, 101429.977, 169, "35043412"),
    (6, 268597.625, 166, "35043409"),
    (7, 1634833.375, 158, "35043369"),
    (8, 596610.313, 165, "35043408"),
    (9, 5268.813, 170, "35043413"),
]

# idlink.dbf rows, verbatim (note: no entries for eas_id 169, 172, 173).
IDLINK_ROWS = [
    (168, "_168_"), (179, "_179_"), (171, "_171_"), (170, "_170_"),
    (165, "_165_"), (158, "_158_"), (166, "_166_"),
]


def _poly_geom(fid: int) -> bytes:
    """Deterministic synthetic geometry for fixture row ``fid``: a 10×10
    square at (20*fid, 0); fid 3 gets a concave notch, fid 7 an interior
    ring — exercising the ray-casting hole/concavity logic."""
    x0 = 20.0 * fid
    square = np.array([[x0, 0], [x0 + 10, 0], [x0 + 10, 10], [x0, 10], [x0, 0]])
    if fid == 3:
        concave = np.array(
            [[x0, 0], [x0 + 10, 0], [x0 + 10, 3], [x0 + 3, 3], [x0 + 3, 7],
             [x0 + 10, 7], [x0 + 10, 10], [x0, 10], [x0, 0]])
        return G.encode_polygon([concave])
    if fid == 7:
        hole = np.array([[x0 + 4, 4], [x0 + 6, 4], [x0 + 6, 6], [x0 + 4, 6], [x0 + 4, 4]])
        return G.encode_polygon([square, hole])
    return G.encode_polygon([square])


def poly_fixture(spark: SparkSession) -> DataFrame:
    rows = [(fid, _poly_geom(fid), area, eas, prf)
            for fid, area, eas, prf in POLY_ROWS]
    return local_frame(spark, rows, POLY_SCHEMA)


def idlink_fixture(spark: SparkSession) -> DataFrame:
    return local_frame(spark, IDLINK_ROWS, "eas_id long, name string")


# ---------------------------------------------------------------------------
# rotated (45°) fixtures — non-rectilinear layer-algebra operands whose SQL
# oracles stay exact: geometry is rectilinear in the rotated frame
# (u, v) = (x + y, y − x), so interval math in uv gives exact areas and the
# inverse map x = (u − v)/2, y = (u + v)/2 (Jacobian ½ ⇒ area_xy = area_uv/2)
# produces diamonds/concave/holed polygons in xy that the general
# Martinez–Rueda boolean kernel must handle.
# ---------------------------------------------------------------------------

def _uv_to_xy(ring_uv: np.ndarray) -> np.ndarray:
    """(..., 2) uv coordinates → xy."""
    u, v = ring_uv[..., 0], ring_uv[..., 1]
    return np.stack(((u - v) / 2.0, (u + v) / 2.0), axis=-1)


def rot_poly_fixture(spark: SparkSession) -> DataFrame:
    """poly_fixture rotated 45°: the same uv-space geometry as _poly_geom
    (10×10 square at u=20·fid; fid 3 concave notch, fid 7 interior ring)
    mapped through uv→xy, yielding diamonds — none axis-aligned in xy."""
    def geom(fid: int) -> bytes:
        u0 = 20.0 * fid
        square = np.array([[u0, 0], [u0 + 10, 0], [u0 + 10, 10],
                           [u0, 10], [u0, 0]], dtype=float)
        if fid == 3:
            concave = np.array(
                [[u0, 0], [u0 + 10, 0], [u0 + 10, 3], [u0 + 3, 3], [u0 + 3, 7],
                 [u0 + 10, 7], [u0 + 10, 10], [u0, 10], [u0, 0]], dtype=float)
            return G.encode_polygon([_uv_to_xy(concave)])
        if fid == 7:
            hole = np.array([[u0 + 4, 4], [u0 + 6, 4], [u0 + 6, 6],
                             [u0 + 4, 6], [u0 + 4, 4]], dtype=float)
            return G.encode_polygon([_uv_to_xy(square), _uv_to_xy(hole)])
        return G.encode_polygon([_uv_to_xy(square)])

    rows = [(fid, geom(fid), area, eas, prf)
            for fid, area, eas, prf in POLY_ROWS]
    return local_frame(spark, rows, POLY_SCHEMA)


def diamond_grid(spark: SparkSession, nx: int, ny: int,
                 u_min: float, u_max: float, v_min: float, v_max: float,
                 concave: bool = False) -> DataFrame:
    """admin_grid in the rotated uv frame: cells axis-aligned in uv, i.e.
    45°-rotated diamonds in xy. With ``concave=True`` each cell is an L
    (the cell minus its top-right uv quadrant) — a concave method layer
    that forces the general boolean path everywhere."""
    i, j = np.tile(np.arange(nx), ny), np.repeat(np.arange(ny), nx)
    du = (u_max - u_min) / nx
    dv = (v_max - v_min) / ny
    u0, u1 = u_min + i * du, u_min + (i + 1) * du
    v0, v1 = v_min + j * dv, v_min + (j + 1) * dv
    if concave:
        um, vm = (u0 + u1) / 2.0, (v0 + v1) / 2.0
        corners = ((u0, v0), (u1, v0), (u1, vm), (um, vm), (um, v1), (u0, v1),
                   (u0, v0))
    else:
        corners = ((u0, v0), (u1, v0), (u1, v1), (u0, v1), (u0, v0))
    ring_uv = np.stack([np.stack(c, axis=-1) for c in corners], axis=1)
    return _grid_frame(spark, "dcell", i, j, _uv_to_xy(ring_uv))
