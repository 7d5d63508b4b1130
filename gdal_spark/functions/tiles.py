"""WebMercator / geodetic tile math as pure Spark column expressions.

Formulas match the reference bit-for-bit where IEEE semantics allow
(reference: gdal/swig/python/scripts/gdal2tiles.py:211-412 — GlobalMercator
and GlobalGeodetic classes). Zero UDFs: everything here is JVM-side
whole-stage-codegen column arithmetic, so tile assignment of 10^12 rows is
a narrow map stage with no Python in the loop.

Two twins are provided:
- ``py_*``   — plain-Python reference implementations (tests, goldens).
- column functions returning ``pyspark.sql.Column``; the tile keys
  ``tile_x``/``tile_y`` take a column name and are one SQL expression
  each (``tile_x_sql``/``tile_y_sql`` give the text).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

TILE_SIZE = 256
EARTH_RADIUS = 6378137.0
ORIGIN_SHIFT = 2 * math.pi * EARTH_RADIUS / 2.0  # 20037508.342789244
INITIAL_RESOLUTION = 2 * math.pi * EARTH_RADIUS / TILE_SIZE  # 156543.03392804062
MAX_ZOOM_LEVEL = 32
# Web-Mercator latitude clamp: atan(sinh(pi)) in degrees.
MAX_LAT = 85.05112877980659


# ---------------------------------------------------------------------------
# Plain-Python twins (gdal2tiles.py:211-318 formulas, verbatim math)
# ---------------------------------------------------------------------------

def py_resolution(zoom: int) -> float:
    """Meters/pixel at given zoom (gdal2tiles.py Resolution)."""
    return INITIAL_RESOLUTION / (2 ** zoom)


def py_latlon_to_meters(lat: float, lon: float) -> tuple[float, float]:
    """WGS84 → spherical-mercator meters (gdal2tiles.py LatLonToMeters)."""
    mx = lon * ORIGIN_SHIFT / 180.0
    my = math.log(math.tan((90 + lat) * math.pi / 360.0)) / (math.pi / 180.0)
    my = my * ORIGIN_SHIFT / 180.0
    return mx, my


def py_meters_to_latlon(mx: float, my: float) -> tuple[float, float]:
    """Mercator meters → WGS84 (gdal2tiles.py MetersToLatLon)."""
    lon = (mx / ORIGIN_SHIFT) * 180.0
    lat = (my / ORIGIN_SHIFT) * 180.0
    lat = 180 / math.pi * (2 * math.atan(math.exp(lat * math.pi / 180.0)) - math.pi / 2.0)
    return lat, lon


def py_meters_to_pixels(mx: float, my: float, zoom: int) -> tuple[float, float]:
    res = py_resolution(zoom)
    return (mx + ORIGIN_SHIFT) / res, (my + ORIGIN_SHIFT) / res


def py_pixels_to_meters(px: float, py: float, zoom: int) -> tuple[float, float]:
    res = py_resolution(zoom)
    return px * res - ORIGIN_SHIFT, py * res - ORIGIN_SHIFT


def py_pixels_to_tile(px: float, py: float) -> tuple[int, int]:
    """ceil-minus-one semantics (gdal2tiles.py:246-249 PixelsToTile)."""
    tx = int(math.ceil(px / float(TILE_SIZE)) - 1)
    ty = int(math.ceil(py / float(TILE_SIZE)) - 1)
    return tx, ty


def py_meters_to_tile(mx: float, my: float, zoom: int) -> tuple[int, int]:
    px, py = py_meters_to_pixels(mx, my, zoom)
    return py_pixels_to_tile(px, py)


def py_latlon_to_tile(lat: float, lon: float, zoom: int) -> tuple[int, int]:
    mx, my = py_latlon_to_meters(lat, lon)
    return py_meters_to_tile(mx, my, zoom)


def py_tile_bounds(tx: int, ty: int, zoom: int) -> tuple[float, float, float, float]:
    """(minx, miny, maxx, maxy) mercator meters (gdal2tiles.py TileBounds)."""
    minx, miny = py_pixels_to_meters(tx * TILE_SIZE, ty * TILE_SIZE, zoom)
    maxx, maxy = py_pixels_to_meters((tx + 1) * TILE_SIZE, (ty + 1) * TILE_SIZE, zoom)
    return minx, miny, maxx, maxy


def py_google_tile(tx: int, ty: int, zoom: int) -> tuple[int, int]:
    """TMS → Google/XYZ y flip (gdal2tiles.py GoogleTile)."""
    return tx, (2 ** zoom - 1) - ty


def py_quadkey(tx: int, ty: int, zoom: int) -> str:
    """Microsoft QuadTree key from TMS coords (gdal2tiles.py QuadTree)."""
    quad = ""
    ty = (2 ** zoom - 1) - ty
    for i in range(zoom, 0, -1):
        digit = 0
        mask = 1 << (i - 1)
        if (tx & mask) != 0:
            digit += 1
        if (ty & mask) != 0:
            digit += 2
        quad += str(digit)
    return quad


def py_zoom_for_pixel_size(pixel_size: float) -> int:
    """Max scaledown zoom (gdal2tiles.py ZoomForPixelSize)."""
    for i in range(MAX_ZOOM_LEVEL):
        if pixel_size > py_resolution(i):
            return max(0, i - 1)
    return MAX_ZOOM_LEVEL - 1


# ---------------------------------------------------------------------------
# Spark column expressions — same formulas, JVM-side
# ---------------------------------------------------------------------------

def resolution(zoom: int) -> float:
    return py_resolution(zoom)


def meters_to_lon(mx: Column) -> Column:
    return mx / F.lit(ORIGIN_SHIFT) * F.lit(180.0)


def meters_to_lat(my: Column) -> Column:
    lat = my / F.lit(ORIGIN_SHIFT) * F.lit(180.0)
    return F.lit(180.0 / math.pi) * (
        F.lit(2.0) * F.atan(F.exp(lat * F.lit(math.pi / 180.0))) - F.lit(math.pi / 2.0)
    )


def pixels_to_tile(p: Column) -> Column:
    """ceil(p/256) - 1, as int (gdal2tiles.py:246-249)."""
    return (F.ceil(p / F.lit(float(TILE_SIZE))) - F.lit(1)).cast("int")


def quote(name: str) -> str:
    """A column name as a Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _d(v: float) -> str:
    """A double literal in Spark SQL text (``repr`` round-trips exactly)."""
    return f"{v!r}D"


def _meters_to_tile_sql(m: str, zoom: int) -> str:
    """ceil((m + originShift) / res / 256) - 1, as int (gdal2tiles.py
    MetersToPixels + PixelsToTile:246-249)."""
    return (f"CAST(CEIL(((({m}) + {_d(ORIGIN_SHIFT)}) / {_d(py_resolution(zoom))})"
            f" / {_d(float(TILE_SIZE))}) - 1 AS INT)")


def tile_x_sql(lon: str, zoom: int) -> str:
    """SQL text of the TMS tile x at ``zoom`` of the SQL expression ``lon``:
    mx = lon * (originShift/180) (gdal2tiles.py LatLonToMeters).

    Tile keys are SQL text so that one key costs one Column call (a key
    composed of Column operators took ~120 driver round trips); the
    operations and their order are those of the composed form."""
    return _meters_to_tile_sql(f"({lon}) * {_d(ORIGIN_SHIFT / 180.0)}", zoom)


def tile_y_sql(lat: str, zoom: int) -> str:
    """SQL text of the TMS tile y at ``zoom`` of the SQL expression ``lat``:
    my = log(tan((90+lat)*pi/360)) / (pi/180) * (originShift/180), in the
    reference's order."""
    my = (f"(ln(tan(({_d(90.0)} + ({lat})) * {_d(math.pi / 360.0)}))"
          f" / {_d(math.pi / 180.0)}) * {_d(ORIGIN_SHIFT / 180.0)}")
    return _meters_to_tile_sql(my, zoom)


def tile_x(lon: str, zoom: int) -> Column:
    """Column ``lon`` (by name) → TMS tile x at zoom."""
    return F.expr(tile_x_sql(quote(lon), zoom))


def tile_y(lat: str, zoom: int) -> Column:
    """Column ``lat`` (by name) → TMS tile y at zoom."""
    return F.expr(tile_y_sql(quote(lat), zoom))


def google_y(ty: Column, zoom: int) -> Column:
    """TMS ty → google/XYZ y (gdal2tiles.py GoogleTile)."""
    return (F.lit(2 ** zoom - 1) - ty).cast("int")


def quadkey(tx: Column, ty: Column, zoom: int) -> Column:
    """Quadkey string (gdal2tiles.py QuadTree): the base-4 digits of the
    Morton interleave of (tx, google y), left-padded to ``zoom`` digits.
    Only the low ``zoom`` bits count, where gy = 2^zoom − 1 − ty equals
    ~ty. Binary digits read as base-4 digits spread a coordinate's bits to
    the even positions, so the interleave is spread(tx) + 2·spread(gy).
    A fixed few column calls at any zoom up to 31, zero-UDF."""
    if zoom == 0:
        return F.lit("")

    def spread(v: Column) -> Column:
        return F.conv(F.bin(v.bitwiseAND((1 << zoom) - 1)), 4, 10).cast("long")

    morton = spread(tx.cast("long")) + spread(F.bitwise_not(ty.cast("long"))) * 2
    return F.lpad(F.conv(morton.cast("string"), 10, 4), zoom, "0")


# ---------------------------------------------------------------------------
# Geodetic (plate-carrée) profile — gdal2tiles.py:320-412 GlobalGeodetic
# ---------------------------------------------------------------------------

def py_geodetic_resolution(zoom: int, tmscompatible: bool = True) -> float:
    """arc-degrees/pixel (GlobalGeodetic.Resolution): resFact 180/256 for
    the OSGeo-TMS 2-tiles-at-zoom-0 layout, 360/256 for the
    OpenLayers/WMTS 1-tile layout."""
    fact = 180.0 / TILE_SIZE if tmscompatible else 360.0 / TILE_SIZE
    return fact / (2 ** zoom)


def py_geodetic_tile(lon: float, lat: float, zoom: int,
                     tmscompatible: bool = True) -> tuple[int, int]:
    """GlobalGeodetic.LonLatToTile: px=(180+lon)/res, py=(90+lat)/res,
    then the shared ceil-minus-one PixelsToTile."""
    res = py_geodetic_resolution(zoom, tmscompatible)
    return py_pixels_to_tile((180.0 + lon) / res, (90.0 + lat) / res)


def py_geodetic_tile_bounds(tx: int, ty: int, zoom: int,
                            tmscompatible: bool = True
                            ) -> tuple[float, float, float, float]:
    res = py_geodetic_resolution(zoom, tmscompatible)
    return (tx * TILE_SIZE * res - 180.0, ty * TILE_SIZE * res - 90.0,
            (tx + 1) * TILE_SIZE * res - 180.0,
            (ty + 1) * TILE_SIZE * res - 90.0)


def geodetic_tile_x(lon: Column, zoom: int,
                    tmscompatible: bool = True) -> Column:
    res = py_geodetic_resolution(zoom, tmscompatible)
    return pixels_to_tile((F.lit(180.0) + lon) / F.lit(res))


def geodetic_tile_y(lat: Column, zoom: int,
                    tmscompatible: bool = True) -> Column:
    res = py_geodetic_resolution(zoom, tmscompatible)
    return pixels_to_tile((F.lit(90.0) + lat) / F.lit(res))


def with_geodetic_tile_columns(df, lon: str = "lon", lat: str = "lat",
                               zoom: int = 12, tmscompatible: bool = True,
                               prefix: str = ""):
    """Attach plate-carrée (gtx, gty) TMS tile columns — pure column math,
    the EPSG:4326 twin of with_tile_columns."""
    return (df.withColumn(prefix + "gtx",
                          geodetic_tile_x(F.col(lon), zoom, tmscompatible))
            .withColumn(prefix + "gty",
                        geodetic_tile_y(F.col(lat), zoom, tmscompatible)))


def parent_tile(t: Column) -> Column:
    """Tile coord at zoom-1 = floor division by 2 (pyramid rollup key;
    gdal2tiles.py:1313-1400 overview pass shape). Works for negative
    coords too via arithmetic shift semantics of floor()."""
    return F.floor(t / F.lit(2.0)).cast("int")


def tile_bounds_cols(tx: Column, ty: Column, zoom: int) -> list[Column]:
    """[minx, miny, maxx, maxy] mercator-meter bounds columns."""
    res = py_resolution(zoom)
    minx = tx.cast("double") * F.lit(float(TILE_SIZE)) * F.lit(res) - F.lit(ORIGIN_SHIFT)
    miny = ty.cast("double") * F.lit(float(TILE_SIZE)) * F.lit(res) - F.lit(ORIGIN_SHIFT)
    maxx = (tx.cast("double") + 1) * F.lit(float(TILE_SIZE)) * F.lit(res) - F.lit(ORIGIN_SHIFT)
    maxy = (ty.cast("double") + 1) * F.lit(float(TILE_SIZE)) * F.lit(res) - F.lit(ORIGIN_SHIFT)
    return [minx, miny, maxx, maxy]


def with_tile_columns(df, lon: str = "lon", lat: str = "lat", zoom: int = 12,
                      prefix: str = ""):
    """Convenience: attach (tx, ty, gy, quadkey) columns at ``zoom``.

    All pure column math — Catalyst sees one narrow projection.
    """
    tx, ty = F.col(prefix + "tx"), F.col(prefix + "ty")
    return (
        df.withColumns({prefix + "tx": tile_x(lon, zoom),
                        prefix + "ty": tile_y(lat, zoom)})
        .withColumns({prefix + "gy": google_y(ty, zoom),
                      prefix + "quadkey": quadkey(tx, ty, zoom)})
    )
