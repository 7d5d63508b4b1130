"""BAG (Bathymetry Attributed Grid) reader over the pure-python HDF5
core.

Reference semantics: gdal/frmts/hdf5/bagdataset.cpp — bands are
/BAG_root/elevation, uncertainty, nominal_elevation (each Float32 with
nodata 1 000 000, stored bottom-up and Y-flipped on read, IReadBlock
:300-380); band min/max come from the dataset attributes ('Minimum/
Maximum Elevation Value', 'Minimum/Maximum Uncertainty Value',
'min_value'/'max_value', :221-244); the geotransform comes from the ISO
19115 metadata XML's MD_Georectified cornerPoints (LL/UR pixel-center
coordinates, :655-670) and the CRS from referenceSystemInfo's
WKT-codespace code string (ParseWKTFromXML, :705-780)."""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.raster.hdf5 import H5File
from gdal_spark.raster.model import RasterMeta, from_array

BAG_NODATA = 1000000.0

_BAND_ATTRS = {
    "elevation": ("Minimum Elevation Value", "Maximum Elevation Value"),
    "uncertainty": ("Minimum Uncertainty Value", "Maximum Uncertainty Value"),
    "nominal_elevation": ("min_value", "max_value"),
}


def _xml_text(xml: str, tag: str) -> str | None:
    m = re.search(rf"<(?:\w+:)?{tag}\b[^>]*>(.*?)</(?:\w+:)?{tag}>",
                  xml, re.S)
    return m.group(1) if m else None


def open_bag(path: str) -> dict:
    """Metadata-only open: band list, per-band min/max, geotransform,
    CRS WKT."""
    h5 = H5File(open(path, "rb").read())
    bands = [n for n in ("elevation", "uncertainty", "nominal_elevation")
             if f"/BAG_root/{n}" in h5.datasets]
    if not bands:
        raise ValueError(f"{path} has no /BAG_root/elevation")
    H, W = h5.datasets[f"/BAG_root/{bands[0]}"].dims
    info = {"bands": bands, "width": W, "height": H, "minmax": {},
            "gt": None, "wkt": None}
    for n in bands:
        lo_k, hi_k = _BAND_ATTRS[n]
        at = h5.attributes(f"/BAG_root/{n}")
        if lo_k in at and hi_k in at:
            if n == "uncertainty" and at[lo_k] == 0.0 and at[hi_k] == 0.0:
                continue   # all-nodata products declare 0/0: ignore
            info["minmax"][n] = (at[lo_k], at[hi_k])
    if "/BAG_root/metadata" in h5.datasets:
        xml = h5.read("/BAG_root/metadata").tobytes() \
            .split(b"\x00")[0].decode("utf-8", "replace")
        info["xml"] = xml
        geo = _xml_text(xml, "MD_Georectified") or ""
        coords = _xml_text(geo, "coordinates")
        if coords:
            toks = [float(t) for t in re.split(r"[ ,]+", coords.strip())]
            if len(toks) == 4:
                llx, lly, urx, ury = toks
                px = (urx - llx) / (W - 1)
                py = (lly - ury) / (H - 1)
                info["gt"] = (llx - px * 0.5, px, 0.0,
                              ury - py * 0.5, 0.0, py)
        rsi = _xml_text(xml, "referenceSystemInfo")
        if rsi:
            code = _xml_text(_xml_text(rsi, "code") or "", "CharacterString")
            info["wkt"] = code.strip() if code else None
            if info["wkt"] is None:
                # MD_CRS flavor (iso19115_srs.cpp): datum + projection
                # codes; UTM zone with falseNorthing 10000000 = south
                proj = _xml_text(_xml_text(rsi, "projection") or "", "code")
                if proj and proj.strip().upper() == "UTM":
                    zone = int(_xml_text(rsi, "zone") or "0")
                    south = (_xml_text(rsi, "falseNorthing") or "") \
                        .strip() == "10000000"
                    info["wkt"] = _utm_wkt(abs(zone), not south)
    return info


def _utm_wkt(zone: int, north: bool) -> str:
    """SetUTM-style WKT (ogrspatialreference.cpp:5500-5545)."""
    hemi = "Northern" if north else "Southern"
    fn = 0 if north else 10000000
    return (
        f'PROJCS["UTM Zone {zone}, {hemi} Hemisphere",'
        'GEOGCS["WGS 84",DATUM["WGS_1984",'
        'SPHEROID["WGS 84",6378137,298.257223563,'
        'AUTHORITY["EPSG","7030"]],AUTHORITY["EPSG","6326"]],'
        'PRIMEM["Greenwich",0,AUTHORITY["EPSG","8901"]],'
        'UNIT["degree",0.0174532925199433,AUTHORITY["EPSG","9122"]],'
        'AUTHORITY["EPSG","4326"]],'
        'PROJECTION["Transverse_Mercator"],'
        'PARAMETER["latitude_of_origin",0],'
        f'PARAMETER["central_meridian",{zone * 6 - 183}],'
        'PARAMETER["scale_factor",0.9996],'
        'PARAMETER["false_easting",500000],'
        f'PARAMETER["false_northing",{fn}],'
        'UNIT["Meter",1]]')


def read_bag(spark: SparkSession, path: str, raster_id: str = "bag",
             block: int = 256) -> tuple[DataFrame, RasterMeta, dict]:
    """BAG read: one band per participating dataset, Y-flipped to
    north-up, nodata 1e6."""
    h5 = H5File(open(path, "rb").read())
    info = open_bag(path)
    W, H = info["width"], info["height"]
    meta = RasterMeta(raster_id, W, H,
                      gt=info["gt"] or (0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
                      dtype="float32", nodata=BAG_NODATA, block=block)
    cube = np.stack([h5.read(f"/BAG_root/{name}")[::-1]
                     for name in info["bands"]]).astype("float32")
    return from_array(spark, cube, meta), meta, info
