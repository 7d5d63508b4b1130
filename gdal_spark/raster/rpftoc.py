"""RPF TOC (CADRG/CIB table-of-contents) reader: A.TOC parsing, VQ
frame decode, and the per-entry frame mosaic.

Reference semantics:
- gdal/frmts/nitf/rpftocfile.cpp RPFTOCReadFromBuffer (:112-530): the
  A.TOC is a NITF file whose RPFHDR TRE points at an RPF location
  section; boundary-rectangle records give per-entry type/compression/
  scale/zone and NW/SW/NE/SE corners + intervals + frame grid size;
  frame-file index records place each frame (boundaryId, row, col,
  filename, pathname), with the legacy 1-based/0-based switch and the
  north-to-south row flip for new-style TOCs (:390-430).
- gdal/frmts/nitf/rpftocdataset.cpp: subdataset naming
  NITF_TOC_ENTRY:<type>_<abbrev>_<scale>_<zone>_<boundaryId>:<toc>
  (MakeTOCEntryName :331), mosaic size = per-frame size x frame grid,
  geotransform (nwLong, horizInterval, 0, nwLat, 0, -vertInterval)
  (:770-775), FILENAME_%d metadata.
- gdal/frmts/nitf/nitfimage.c: RPFIMG TRE -> RPF location table
  (NITFReadRPFLocationTable :3129), VQ table load from
  LID_CompressionLookupSubsection (NITFLoadVQTables :3339), 4x4x12-bit
  VQ tile decode (NITFUncompressVQTile :1158), CADRG 216-color
  colormap (NITFLoadColormapSubSection :2886), subframe mask table with
  transparent nodata (NITFLoadSubframeMaskTable :3022), precise corner
  coordinates from LID_CoverageSectionSubheader (:1054).
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import SparkSession

from gdal_spark.raster.model import RasterMeta, from_array

LID_HEADER = 128
LID_COVERAGE = 130
LID_COMPRESSION_LOOKUP = 132
LID_COLOR_SECTION = 134
LID_COLORMAP = 135
LID_MASK = 138
LID_SPATIAL = 140
LID_BOUNDARY_HDR = 148
LID_BOUNDARY_TABLE = 149
LID_FRAME_INDEX_HDR = 150
LID_FRAME_INDEX = 151

# filename-extension prefix -> (abbreviation, name); subset of the
# CADRG/CIB series table (nitffile.c:1723 nitfSeries[])
SERIES = {
    "GN": ("GNC", "Global Navigation Chart"),
    "JN": ("JNC", "Jet Navigation Chart"),
    "ON": ("ONC", "Operational Navigation Chart"),
    "TP": ("TPC", "Tactical Pilotage Chart"),
    "JG": ("JOG", "Joint Operations Graphic"),
    "JA": ("JOG-A", "Joint Operations Graphic - Air"),
    "JR": ("JOG-R", "Joint Operations Graphic - Radar"),
    "TF": ("TFC", "Transit Flying Chart (UK)"),
    "AT": ("ATC", "Series 200 Air Target Chart"),
    "TC": ("TLM100", "Topographic Line Map 1:100,000"),
    "TL": ("TLM50", "Topographic Line Map"),
    "TN": ("TFC(Low)", "Transit Flying Chart (Low Altitude)"),
    "LF": ("LFC-FR (Day)", "Low Flying Chart (Day) - Host Nation"),
    "I1": ("CIB10", "Controlled Image Base 10 meters"),
    "I2": ("CIB5", "Controlled Image Base 5 meters"),
    "I3": ("CIB2", "Controlled Image Base 2 meters"),
    "I4": ("CIB1", "Controlled Image Base 1 meter"),
    "MM": ("(Miscellaneous Maps & Charts)", "Miscellaneous Maps & Charts"),
}


def _msb(fmt: str, buf: bytes, off: int):
    return struct.unpack_from(">" + fmt, buf, off)


@dataclass
class FrameEntry:
    row: int = 0
    col: int = 0
    filename: str = ""
    directory: str = ""
    georef: str = ""
    exists: bool = False
    path: str = ""


@dataclass
class TocEntry:
    type: str = ""
    compression: str = ""
    scale: str = ""
    zone: str = ""
    producer: str = ""
    nw_lat: float = 0.0
    nw_long: float = 0.0
    sw_lat: float = 0.0
    sw_long: float = 0.0
    ne_lat: float = 0.0
    ne_long: float = 0.0
    se_lat: float = 0.0
    se_long: float = 0.0
    vert_resolution: float = 0.0
    horiz_resolution: float = 0.0
    vert_interval: float = 0.0
    horiz_interval: float = 0.0
    n_vert_frames: int = 0
    n_horiz_frames: int = 0
    boundary_id: int = 0
    series_abbrev: str | None = None
    series_name: str | None = None
    frames: list = field(default_factory=list)

    def name(self) -> str:
        if self.series_abbrev:
            s = (f"{self.type}_{self.series_abbrev}_{self.scale}_"
                 f"{self.zone}_{self.boundary_id}")
        else:
            s = f"{self.type}_{self.scale}_{self.zone}_{self.boundary_id}"
        return s.replace(":", "_").replace(" ", "_")


def _read_location_table(buf: bytes, base: int) -> list[tuple[int, int, int]]:
    """(locId, size, offset) triples; offsets are absolute file
    offsets (NITFReadRPFLocationTable)."""
    (sect_off,) = _msb("I", buf, base + 2)
    (count,) = _msb("H", buf, base + 6)
    (rec_len,) = _msb("H", buf, base + 8)
    if rec_len != 10:
        raise ValueError(f"RPF location record length {rec_len} != 10")
    out = []
    p = base + sect_off
    for _ in range(count):
        lid, size, off = _msb("HII", buf, p)
        out.append((lid, size, off))
        p += 10
    return out


def _find_tre(tre: bytes, tag: str) -> bytes | None:
    p = 0
    while p + 11 <= len(tre):
        t = tre[p:p + 6].decode("latin-1")
        n = int(tre[p + 6:p + 11])
        if t == tag:
            return tre[p + 11:p + 11 + n]
        p += 11 + n
    return None


def read_toc(path: str) -> list[TocEntry]:
    """Parse an A.TOC: boundary rectangles + frame file index."""
    data = open(path, "rb").read()
    # two container flavors (rpftocdataset.cpp Open): a bare RPF header
    # file (IsNonNITFFileTOC pattern: 00 00 '0' + 'A.TOC' filename) or
    # a NITF wrapper whose header carries the RPFHDR TRE
    if data[:2] == b"\x00\x00" and data[2:3] == b"0" \
            and data[10:15] == b"A.TOC":
        hdr = data
    else:
        i = data.find(b"RPFHDR")
        if i < 0:
            raise ValueError(f"{path}: no RPFHDR TRE (not an RPF TOC)")
        hdr = data[i + 6 + 5:]  # skip tag + 5-digit TRE length
    # RPFHDR body: endian(1) hdrlen(2) filename(12) new(1) stdnum(15)
    # stddate(8) class(1) country(2) release(2) locSectionOffset(4)
    (loc_sect,) = _msb("I", hdr, 1 + 2 + 12 + 1 + 15 + 8 + 1 + 2 + 2)
    locs = _read_location_table(data, loc_sect)
    by_id = {lid: off for lid, _sz, off in locs}
    for need in (LID_BOUNDARY_HDR, LID_BOUNDARY_TABLE,
                 LID_FRAME_INDEX_HDR, LID_FRAME_INDEX):
        if need not in by_id:
            raise ValueError(f"TOC missing location id {need}")

    p = by_id[LID_BOUNDARY_HDR]
    (tbl_off,) = _msb("I", data, p)
    (n_entries,) = _msb("H", data, p + 4)
    entries = []
    p = by_id[LID_BOUNDARY_TABLE]
    for _ in range(n_entries):
        e = TocEntry()
        e.type = data[p:p + 5].decode("latin-1").strip()
        e.compression = data[p + 5:p + 10].decode("latin-1").strip()
        scale = data[p + 10:p + 22].decode("latin-1").strip()
        if scale.startswith("1:"):
            scale = scale[2:]
        e.scale = scale
        e.zone = data[p + 22:p + 23].decode("latin-1").strip()
        e.producer = data[p + 23:p + 28].decode("latin-1").strip()
        (e.nw_lat, e.nw_long, e.sw_lat, e.sw_long, e.ne_lat, e.ne_long,
         e.se_lat, e.se_long, e.vert_resolution, e.horiz_resolution,
         e.vert_interval, e.horiz_interval) = _msb("12d", data, p + 28)
        e.n_vert_frames, e.n_horiz_frames = _msb("II", data, p + 124)
        e.frames = [FrameEntry() for _ in
                    range(e.n_vert_frames * e.n_horiz_frames)]
        entries.append(e)
        p += 132

    p = by_id[LID_FRAME_INDEX_HDR] + 1      # skip security byte
    (frame_tbl_off, n_frame_recs) = _msb("II", data, p)
    (n_path_recs, frame_rec_len) = _msb("HH", data, p + 8)
    base = by_id[LID_FRAME_INDEX]
    toc_dir = os.path.dirname(os.path.abspath(path))
    new_boundary = False
    for i in range(n_frame_recs):
        p = base + frame_rec_len * i
        (bid,) = _msb("H", data, p)
        if i == 0 and bid == 0:
            new_boundary = True
        if not new_boundary:
            bid -= 1
        e = entries[bid]
        e.boundary_id = bid
        frow, fcol = _msb("HH", data, p + 2)
        if not new_boundary:
            frow -= 1
            fcol -= 1
        else:
            frow = (e.n_vert_frames - 1) - frow
        (path_off,) = _msb("I", data, p + 6)
        fname = data[p + 10:p + 22].decode("latin-1").strip("\x00 ")
        fe = e.frames[frow * e.n_horiz_frames + fcol]
        fe.row, fe.col = frow, fcol
        fe.filename = fname
        fe.georef = data[p + 22:p + 28].decode("latin-1")
        if e.series_abbrev is None and "." in fname:
            key = fname.rsplit(".", 1)[1][:2].upper()
            if key in SERIES:
                e.series_abbrev, e.series_name = SERIES[key]
        # pathname record: 2-byte length + path, relative to frame
        # file index subsection
        q = base + path_off
        (plen,) = _msb("H", data, q)
        rel = data[q + 2:q + 2 + plen].decode("latin-1")
        rel = rel.lstrip("./").replace("\\", "/")
        fe.directory = rel.rstrip("/")
        cand = os.path.join(toc_dir, fe.directory, fname) \
            if fe.directory else os.path.join(toc_dir, fname)
        if os.path.exists(cand):
            fe.path, fe.exists = cand, True
        else:
            # case-insensitive fallback + flat-directory fallback
            flat = os.path.join(toc_dir, fname)
            if os.path.exists(flat):
                fe.path, fe.exists = flat, True
            else:
                low = fname.lower()
                for f in os.listdir(toc_dir):
                    if f.lower() == low:
                        fe.path, fe.exists = os.path.join(toc_dir, f), True
                        break
    return entries


# ---------------------------------------------------------------------------
# CADRG VQ frame decode
# ---------------------------------------------------------------------------

class RPFFrame:
    """One CADRG/CIB NITF frame file (IC=C4 VQ compression)."""

    def __init__(self, path: str):
        self.data = open(path, "rb").read()
        from gdal_spark.raster.nitf import NITFFile
        nf = NITFFile(self.data)
        self.img = nf.image(0)
        im = self.img
        self.width, self.height = im.cols, im.rows
        self.block_w = im.block_w or 256
        self.block_h = im.block_h or 256
        self.nbpr, self.nbpc = im.nbpr, im.nbpc
        tre = _find_tre(im.tre, "RPFIMG")
        if tre is None:
            raise ValueError(f"{path}: no RPFIMG TRE")
        # location offsets inside the TRE body are absolute file offsets
        base = self.data.find(tre)
        self.locs = _read_location_table(self.data, base)
        self.by_id = {lid: off for lid, _sz, off in self.locs}

        self.nodata = None
        self._load_block_starts()
        self._load_vq_luts()
        self.color_table = self._load_colormap() or self._subheader_ct()
        self.corners = self._load_coverage()
        # Bug #1751 rule (nitfimage.c:1006-1030): single-band 8-bit LUT
        # images with a short LUT get a transparent index just past it,
        # so absent subframes read as that nodata value
        ne = getattr(im, "lut_entries", 0)
        if self.nodata is None and im.n_bands == 1 and ne \
                and ne < 255 and im.luts[0] is not None:
            lut = im.luts[0]
            if ne == 217 and lut[216] == 0 and lut[256 + 216] == 0 \
                    and lut[512 + 216] == 0:
                self.nodata = 216
            else:
                self.nodata = ne
            if self.color_table and self.nodata < len(self.color_table):
                self.color_table[self.nodata] = (0, 0, 0, 255)

    def _subheader_ct(self) -> list[tuple[int, int, int, int]] | None:
        lut = self.img.luts[0] if self.img.luts else None
        if lut is None:
            return None
        return [(int(lut[i]), int(lut[256 + i]), int(lut[512 + i]), 255)
                for i in range(256)]

    def _load_block_starts(self) -> None:
        n = self.nbpr * self.nbpc
        spatial = self.by_id.get(LID_SPATIAL, self.img.seg_start)
        self.block_start = [spatial + 6144 * i for i in range(n)]
        mask_off = self.by_id.get(LID_MASK)
        if mask_off is None:
            return
        d = self.data
        sub_len, tr_len, tr_bits = _msb("HHH", d, mask_off)
        p = mask_off + 6
        if tr_bits == 8:
            self.nodata = d[p]
            p += 1
        else:
            p += (tr_bits + 7) // 8
        if sub_len != 4:
            return
        for i in range(n):
            (off,) = _msb("I", d, p + 4 * i)
            self.block_start[i] = None if off == 0xFFFFFFFF \
                else spatial + off
        # CADRG transparent frames default nodata to the mask's value

    def _load_vq_luts(self) -> None:
        off = self.by_id.get(LID_COMPRESSION_LOOKUP)
        if off is None:
            raise ValueError("VQ frame without CompressionLookupSubsection")
        d = self.data
        sig = b"\x00\x00\x00\x06\x00\x0e"
        if d[off:off + 6] != sig:
            idx = d.find(sig, off, off + 1000)
            if idx < 0:
                raise ValueError("VQ table signature not found")
            off = idx
        self.vq_luts = []
        for i in range(4):
            (vec,) = _msb("I", d, off + 6 + i * 14 + 10)
            lut = np.frombuffer(d, np.uint8, 4096 * 4, off + vec) \
                .reshape(4096, 4)
            self.vq_luts.append(lut)

    def _load_colormap(self) -> list[tuple[int, int, int, int]] | None:
        sec = self.by_id.get(LID_COLOR_SECTION)
        cmap = self.by_id.get(LID_COLORMAP)
        if sec is None or cmap is None:
            return None
        d = self.data
        n_recs = d[sec]
        (tbl_off,) = _msb("I", d, cmap)
        (rec_len,) = _msb("H", d, cmap + 4)
        p = cmap + 6
        for i in range(n_recs):
            table_id, n_records = _msb("HI", d, p)
            elem_len = d[p + 6]
            (ct_off,) = _msb("I", d, p + 9)
            if i == 0 and table_id == 2 and elem_len == 4 \
                    and n_records == 216:
                rgbm = np.frombuffer(d, np.uint8, 216 * 4, cmap + ct_off) \
                    .reshape(216, 4)
                ct = [(int(r), int(g), int(b), 255)
                      for r, g, b, _m in rgbm]
                ct += [(0, 0, 0, 255)] * (256 - 216)
                return ct
            p += 17
        return None

    def _load_coverage(self) -> list[tuple[float, float]] | None:
        off = self.by_id.get(LID_COVERAGE)
        if off is None:
            return self.img.corners
        v = _msb("8d", self.data, off)
        # (UL lat, UL lon, LL lat, LL lon, UR lat, UR lon, LR lat, LR lon)
        return [(v[1], v[0]), (v[5], v[4]), (v[7], v[6]), (v[3], v[2])]

    def geotransform(self) -> tuple:
        (ulx, uly), (urx, _), _, (_, lly) = self.corners
        return (ulx, (urx - ulx) / self.width, 0.0,
                uly, 0.0, (lly - uly) / self.height)

    def read_band(self) -> np.ndarray:
        fill = self.nodata if self.nodata is not None else 0
        out = np.full((self.height, self.width), fill, np.uint8)
        for by in range(self.nbpc):
            for bx in range(self.nbpr):
                start = self.block_start[by * self.nbpr + bx]
                if start is None:
                    continue
                tile = self._decode_vq_tile(start)
                out[by * 256:(by + 1) * 256,
                    bx * 256:(bx + 1) * 256] = tile
        return out

    def _decode_vq_tile(self, start: int) -> np.ndarray:
        """256x256 tile from 6144 bytes of 12-bit VQ codes
        (NITFUncompressVQTile): codes select 4x4 patches assembled
        row-group by row-group."""
        buf = np.frombuffer(self.data, np.uint8, 6144, start)
        triples = buf.reshape(-1, 3).astype(np.uint16)
        val1 = (triples[:, 0] << 4) | (triples[:, 1] >> 4)
        val2 = ((triples[:, 1] & 0x0F) << 8) | triples[:, 2]
        codes = np.empty(triples.shape[0] * 2, np.uint16)
        codes[0::2] = val1
        codes[1::2] = val2
        # codes laid out as 64 row-groups x 64 tile-columns
        codes = codes.reshape(64, 64)
        out = np.empty((256, 256), np.uint8)
        for t in range(4):
            rows = self.vq_luts[t][codes]        # (64, 64, 4)
            out[t::4, :] = rows.reshape(64, 256)
        return out


# ---------------------------------------------------------------------------
# mosaics
# ---------------------------------------------------------------------------

def toc_subdatasets(path: str) -> list[str]:
    return [f"NITF_TOC_ENTRY:{e.name()}:{path}" for e in read_toc(path)]


def open_toc_entry(name: str) -> tuple[TocEntry, str]:
    if not name.upper().startswith("NITF_TOC_ENTRY:"):
        raise ValueError(f"not a TOC entry name: {name}")
    rest = name[len("NITF_TOC_ENTRY:"):]
    entry_name, _, toc_path = rest.partition(":")
    for e in read_toc(toc_path):
        if e.name() == entry_name:
            return e, toc_path
    raise ValueError(f"entry {entry_name} not in {toc_path}")


def read_toc_entry(spark: SparkSession, name: str,
                   raster_id: str = "rpftoc", block: int = 256,
                   rgba: bool = False):
    """Mosaic one TOC entry. Bands: palette index (default) or RGBA
    expansion (RPFTOC_FORCE_RGBA analog). Missing frames stay nodata.
    Returns (tiles, meta, info)."""
    entry, _toc = open_toc_entry(name)
    first = next((f for f in entry.frames if f.exists), None)
    if first is None:
        raise ValueError(f"{name}: no frame file found on disk")
    fr = RPFFrame(first.path)
    fw, fh = fr.width, fr.height
    W = fw * entry.n_horiz_frames
    H = fh * entry.n_vert_frames
    gt = list(fr.geotransform())
    gt[0], gt[3] = entry.nw_long, entry.nw_lat
    nodata = fr.nodata
    ct = fr.color_table
    info = {"entry": entry, "color_table": ct, "nodata": nodata,
            "metadata": {f"FILENAME_{i}": f.path
                         for i, f in enumerate(
                             [f for f in entry.frames if f.exists])}}
    planes = []
    nb = 4 if rgba else 1
    fill = (nodata if nodata is not None else 0) if not rgba else 0
    for b in range(nb):
        planes.append(np.full((H, W), fill, np.uint8))
    for f in entry.frames:
        if not f.exists:
            continue
        fr2 = fr if f is first else RPFFrame(f.path)
        arr = fr2.read_band()
        y0, x0 = f.row * fh, f.col * fw
        if rgba:
            lut = np.array(fr2.color_table or ct
                           or [(i, i, i, 255) for i in range(256)],
                           np.uint8)
            rgba_arr = lut[arr]
            if fr2.nodata is not None:
                rgba_arr[arr == fr2.nodata] = (0, 0, 0, 0)
            for b in range(4):
                planes[b][y0:y0 + fh, x0:x0 + fw] = rgba_arr[..., b]
        else:
            planes[0][y0:y0 + fh, x0:x0 + fw] = arr
    meta = RasterMeta(raster_id, W, H, gt=tuple(gt), dtype="uint8",
                      nodata=float(nodata) if nodata is not None and
                      not rgba else None, block=block)
    return from_array(spark, np.stack(planes), meta), meta, info
