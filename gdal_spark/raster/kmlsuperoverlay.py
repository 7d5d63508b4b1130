"""KML SuperOverlay writer/reader (Google Earth tile pyramids).

Reference semantics: gdal/frmts/kmlsuperoverlay/kmlsuperoverlaydataset.cpp
KmlSuperOverlayCreateCopy — the longer raster side halves until <=400 to
fix the per-tile size and max zoom (:642-665); zoom z has
floor(size / (tilesize * 2^(maxzoom-z))) tiles per axis (min 1), tile
(ix, iy) reads the source window rx=ix*rmax, ry=ysize-(iy+1)*rmax
(iy counts from the BOTTOM, :777-788) decimated to tilesize with
GDAL's (j+0.5)-center nearest rule; PNG tiles carry an alpha band
(255 = data); files land in <z>/<ix>/<iy>.(png|jpg) + .kml with a root
KML of NetworkLinks, or inside a .kmz zip with doc.kml."""

from __future__ import annotations

import os
import zipfile

import numpy as np

from gdal_spark.raster.imagecodec import png_encode, png_decode
from gdal_spark.raster.model import RasterMeta, from_array, to_array


def _nearest(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    h, w = arr.shape[:2]
    ys = np.minimum(((np.arange(out_h) + 0.5) * h / out_h).astype(int),
                    h - 1)
    xs = np.minimum(((np.arange(out_w) + 0.5) * w / out_w).astype(int),
                    w - 1)
    return arr[np.ix_(ys, xs)]


def _root_kml(name: str, north, south, east, west, tilesize: int) -> str:
    return f"""<?xml version="1.0" encoding="utf-8"?>
<kml xmlns="http://www.opengis.net/kml/2.2">
  <Document>
    <name>{name}</name>
    <Region>
      <LatLonAltBox>
        <north>{north:.14f}</north><south>{south:.14f}</south>
        <east>{east:.14f}</east><west>{west:.14f}</west>
      </LatLonAltBox>
    </Region>
    <NetworkLink>
      <Region>
        <LatLonAltBox>
          <north>{north:.14f}</north><south>{south:.14f}</south>
          <east>{east:.14f}</east><west>{west:.14f}</west>
        </LatLonAltBox>
        <Lod><minLodPixels>{tilesize // 2}</minLodPixels>
             <maxLodPixels>-1</maxLodPixels></Lod>
      </Region>
      <Link><href>0/0/0.kml</href>
            <viewRefreshMode>onRegion</viewRefreshMode></Link>
    </NetworkLink>
  </Document>
</kml>
"""


def _child_kml(z, ix, iy, box, ext, children) -> str:
    north, south, east, west = box
    links = []
    for (cz, cx, cy, cbox) in children:
        cn, cs, ce, cw = cbox
        links.append(f"""    <NetworkLink>
      <Region>
        <LatLonAltBox>
          <north>{cn:.14f}</north><south>{cs:.14f}</south>
          <east>{ce:.14f}</east><west>{cw:.14f}</west>
        </LatLonAltBox>
        <Lod><minLodPixels>128</minLodPixels>
             <maxLodPixels>-1</maxLodPixels></Lod>
      </Region>
      <Link><href>../../{cz}/{cx}/{cy}.kml</href>
            <viewRefreshMode>onRegion</viewRefreshMode></Link>
    </NetworkLink>""")
    return f"""<?xml version="1.0" encoding="utf-8"?>
<kml xmlns="http://www.opengis.net/kml/2.2">
  <Document>
    <Region>
      <LatLonAltBox>
        <north>{north:.14f}</north><south>{south:.14f}</south>
        <east>{east:.14f}</east><west>{west:.14f}</west>
      </LatLonAltBox>
      <Lod><minLodPixels>128</minLodPixels>
           <maxLodPixels>-1</maxLodPixels></Lod>
    </Region>
    <GroundOverlay>
      <Icon><href>{iy}{ext}</href></Icon>
      <LatLonBox>
        <north>{north:.14f}</north><south>{south:.14f}</south>
        <east>{east:.14f}</east><west>{west:.14f}</west>
      </LatLonBox>
    </GroundOverlay>
{chr(10).join(links)}
  </Document>
</kml>
"""


def superoverlay_layout(xsize: int, ysize: int) -> tuple[int, int, int]:
    """(maxzoom, tilexsize, tileysize) per the halve-until-<=400 rule."""
    maxzoom = 0
    if xsize >= ysize:
        d = float(xsize)
        while d > 400:
            d /= 2
            maxzoom += 1
        tx = int(d)
        ty = int(d * ysize / xsize)
    else:
        d = float(ysize)
        while d > 400:
            d /= 2
            maxzoom += 1
        ty = int(d)
        tx = int(d * xsize / ysize)
    return maxzoom, tx, ty


def write_kmlsuperoverlay(tiles, meta: RasterMeta, path: str,
                          bands: int = 1, fmt: str = "png",
                          name: str | None = None) -> list[str]:
    """Write the pyramid; returns the file list. ``path`` ending .kmz
    zips everything with a doc.kml."""
    is_kmz = path.lower().endswith(".kmz")
    xsize, ysize = meta.width, meta.height
    g = meta.gt
    north, west = g[3], g[0]
    south = g[3] + g[5] * ysize
    east = g[0] + g[1] * xsize
    maxzoom, tx, ty = superoverlay_layout(xsize, ysize)
    planes = [to_array(tiles, meta, band=b) for b in range(bands)]
    ext = ".png" if fmt == "png" else ".jpg"

    outputs: dict[str, bytes] = {}
    root_name = "doc.kml" if is_kmz else os.path.basename(path)
    outputs[root_name] = _root_kml(
        name or os.path.basename(path), north, south, east, west,
        tx).encode()

    def tile_box(z, ix, iy):
        rmaxx = tx * (1 << (maxzoom - z))
        rmaxy = ty * (1 << (maxzoom - z))
        w = west + g[1] * ix * rmaxx
        e = west + g[1] * min((ix + 1) * rmaxx, xsize)
        s = south - g[5] * iy * rmaxy
        n = south - g[5] * min((iy + 1) * rmaxy, ysize)
        return (n, s, e, w)

    for z in range(maxzoom + 1):
        rmaxx = tx * (1 << (maxzoom - z))
        rmaxy = ty * (1 << (maxzoom - z))
        xloop = max(xsize // rmaxx, 1)
        yloop = max(ysize // rmaxy, 1)
        for ix in range(xloop):
            for iy in range(yloop):
                rx = ix * rmaxx
                ry = ysize - iy * rmaxy - rmaxy
                tile_planes = []
                for p in planes:
                    win = p[max(ry, 0):ry + rmaxy, rx:rx + rmaxx]
                    tile_planes.append(_nearest(win, ty, tx))
                if fmt == "png":
                    alpha = np.full((ty, tx), 255, np.uint8)
                    img = np.dstack(tile_planes
                                    + [tile_planes[0]] *
                                    (3 - len(tile_planes))
                                    + [alpha]) \
                        if len(tile_planes) in (1, 3) else \
                        np.dstack(tile_planes)
                    blob = png_encode(np.ascontiguousarray(img))
                else:
                    from gdal_spark.raster.formats import jpeg_encode
                    blob = jpeg_encode(np.dstack(tile_planes))
                outputs[f"{z}/{ix}/{iy}{ext}"] = blob
                children = []
                if z < maxzoom:
                    for cx in range(2 * ix, min(2 * ix + 2,
                                                max(xsize // (rmaxx // 2), 1))):
                        for cy in range(2 * iy, min(2 * iy + 2,
                                                    max(ysize // (rmaxy // 2), 1))):
                            children.append((z + 1, cx, cy,
                                             tile_box(z + 1, cx, cy)))
                outputs[f"{z}/{ix}/{iy}.kml"] = _child_kml(
                    z, ix, iy, tile_box(z, ix, iy), ext,
                    children).encode()

    written = []
    if is_kmz:
        with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
            for fn, blob in outputs.items():
                zf.writestr(fn, blob)
                written.append(fn)
    else:
        base = os.path.dirname(os.path.abspath(path))
        for fn, blob in outputs.items():
            full = path if fn == root_name else os.path.join(base, fn)
            os.makedirs(os.path.dirname(full), exist_ok=True)
            with open(full, "wb") as f:
                f.write(blob)
            written.append(full)
    return written


def read_kmlsuperoverlay(spark, path: str, raster_id: str = "kmlso",
                         block: int = 256):
    """Re-open a written superoverlay: mosaic the deepest zoom level's
    PNG tiles (the reference read driver's full-resolution level)."""
    is_kmz = path.lower().endswith(".kmz")
    blobs: dict[str, bytes] = {}
    if is_kmz:
        with zipfile.ZipFile(path) as zf:
            for n in zf.namelist():
                blobs[n] = zf.read(n)
        root = blobs.get("doc.kml", b"").decode()
    else:
        base = os.path.dirname(os.path.abspath(path))
        root = open(path).read()
        for z in sorted(os.listdir(base)):
            zd = os.path.join(base, z)
            if not z.isdigit() or not os.path.isdir(zd):
                continue
            for ix in os.listdir(zd):
                xd = os.path.join(zd, ix)
                for fn in os.listdir(xd):
                    blobs[f"{z}/{ix}/{fn}"] = open(
                        os.path.join(xd, fn), "rb").read()
    import re
    m = {k: v for k, v in blobs.items() if k.endswith(".png")}
    maxzoom = max(int(k.split("/")[0]) for k in m)
    deep = {k: v for k, v in m.items()
            if k.startswith(f"{maxzoom}/")}
    tiles_xy = {}
    for k, v in deep.items():
        _z, ix, iy = k[:-4].split("/")
        tiles_xy[(int(ix), int(iy))] = png_decode(v)
    nx = max(x for x, _ in tiles_xy) + 1
    ny = max(y for _, y in tiles_xy) + 1
    t0 = tiles_xy[(0, 0)]
    ty, tx = t0.shape[:2]
    nb = 1 if t0.ndim == 2 else t0.shape[2]
    full = np.zeros((ny * ty, nx * tx, nb), np.uint8)
    for (x, y), t in tiles_xy.items():
        if t.ndim == 2:
            t = t[:, :, None]
        # iy counts from the bottom
        full[(ny - 1 - y) * ty:(ny - y) * ty, x * tx:(x + 1) * tx] = t
    box = re.findall(r"<(north|south|east|west)>([-\d.]+)</", root)
    vals = {k: float(v) for k, v in box[:4]}
    W, H = nx * tx, ny * ty
    gt = (vals.get("west", 0.0),
          (vals.get("east", W) - vals.get("west", 0.0)) / W, 0.0,
          vals.get("north", 0.0), 0.0,
          (vals.get("south", -H) - vals.get("north", 0.0)) / H)
    meta = RasterMeta(raster_id, W, H, gt=gt, dtype="uint8", block=block)
    return from_array(spark, full.transpose(2, 0, 1), meta), meta
