"""OGR vector format drivers re-expressed Spark-first: GeoJSON (document
and newline-delimited), CSV with WKT/X-Y geometry columns, ESRI Shapefile,
and GeoPackage (SQLite).

Reference drivers (semantics only — parsing is re-implemented from the
public format specifications, no reference code reused):

- GeoJSON: gdal/ogr/ogrsf_frmts/geojson/ogrgeojsonreader.cpp (RFC 7946
  Feature/FeatureCollection model; geometry member → OGRGeometry).
- CSV: gdal/ogr/ogrsf_frmts/csv/ogrcsvlayer.cpp (GEOM_POSSIBLE_NAMES /
  X_POSSIBLE_NAMES convention: a WKT column or lon/lat numeric columns).
- Shapefile: gdal/ogr/ogrsf_frmts/shape/shpopen.c + dbfopen.c (shapelib;
  binary layout per the ESRI Shapefile Technical Description whitepaper:
  100-byte headers, big-endian record headers, little-endian shape
  payloads; outer rings clockwise, holes counter-clockwise).
- GeoPackage: gdal/ogr/ogrsf_frmts/gpkg/ogrgeopackagetablelayer.cpp
  (OGC GeoPackage 1.x: SQLite container, `GP` geometry-blob header
  wrapping standard WKB, gpkg_contents/gpkg_geometry_columns metadata).

Scale model
-----------
Document formats (.geojson FeatureCollection, .shp, .gpkg) are single
indivisible artifacts, exactly as in OGR: the unit of parallelism is the
FILE (one Arrow task per file, thousands of files scan in parallel via
``binaryFile``; a GeoPackage additionally splits by rowid range so one
large .gpkg fans out across tasks). Line-oriented formats (GeoJSONSeq,
CSV) split by byte range like any Spark text source — fully parallel
within one file. Writers follow Spark's file-per-partition convention
(one artifact per partition plus a manifest row), so a distributed write
is N independent artifacts — the same contract as the engine's tile
sinks. All parsing runs on Arrow batches inside mapInPandas /
applyInPandas; the driver never touches feature payloads.

The uniform feature-row schema is
``(src string, fid long, properties string<JSON>, geometry binary<WKB>)``
— properties stay a JSON document (queried JVM-side via
``get_json_object`` / ``from_json``), geometry is the engine's WKB
convention, so every downstream operator (PIP joins, tiling, layer
algebra) consumes format-driver output unchanged.
"""

from __future__ import annotations

import csv
import json
import math
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark.functions import geometry as G
from gdal_spark.functions import curves as C

FEATURE_SCHEMA = T.StructType([
    T.StructField("src", T.StringType()),
    T.StructField("fid", T.LongType()),
    T.StructField("properties", T.StringType()),
    T.StructField("geometry", T.BinaryType()),
])


# ---------------------------------------------------------------------------
# GeoJSON geometry codec (RFC 7946 §3.1 ↔ engine WKB)
# ---------------------------------------------------------------------------

def wkb_from_geojson_geom(geom: dict) -> bytes | None:
    """GeoJSON geometry object → WKB. Null geometries map to None (OGR
    reads a missing/null geometry member as a NULL geometry);
    GeometryCollection recurses into its members."""
    if geom is None:
        return None
    kind = geom.get("type")
    if kind == "GeometryCollection":
        parts = []
        for g in geom.get("geometries") or []:
            if isinstance(g, dict):
                p = wkb_from_geojson_geom(g)
                if p is not None:
                    parts.append(p)
        return G.encode_geometrycollection(parts) if parts else None
    c = geom.get("coordinates")

    def _pos(p) -> bool:
        return (isinstance(p, (list, tuple)) and len(p) >= 2
                and all(isinstance(v, (int, float)) for v in p[:2]))

    def _arr(line) -> np.ndarray | None:
        # degenerate members null out the whole geometry, as the
        # reference's OGRGeoJSONReadGeometry error path does
        if not isinstance(line, (list, tuple)) or \
                not all(_pos(p) for p in line):
            return None
        return np.asarray([[p[0], p[1]] for p in line], dtype=np.float64)

    if kind == "Point":
        if not _pos(c):
            return None
        return G.encode_point(float(c[0]), float(c[1]))
    if kind == "LineString":
        a = _arr(c)
        return G.encode_linestring(a) if a is not None else None
    if kind == "Polygon":
        if not isinstance(c, (list, tuple)):
            return None
        rings = [_arr(r) for r in c]
        if any(r is None for r in rings):
            return None
        return G.encode_polygon(rings)
    if kind == "MultiPoint":
        a = _arr(c)
        return G.encode_multipoint(a) if a is not None else None
    if kind == "MultiLineString":
        if not isinstance(c, (list, tuple)):
            return None
        lines = [_arr(ln) for ln in c]
        if any(l is None for l in lines):
            return None
        return G.encode_multilinestring(lines)
    if kind == "MultiPolygon":
        if not isinstance(c, (list, tuple)):
            return None
        polys = []
        for rings in c:
            if not isinstance(rings, (list, tuple)):
                return None
            rr = [_arr(r) for r in rings]
            if any(r is None for r in rr):
                return None
            polys.append(rr)
        return G.encode_multipolygon(polys)
    return None


def _coords_list(arr: np.ndarray) -> list:
    return [[float(x), float(y)] for x, y in arr]


def geojson_geom_from_wkb(wkb: bytes) -> dict | None:
    """WKB → GeoJSON geometry dict (exact float round-trip: Python float
    repr is shortest-roundtrip for binary64)."""
    if wkb is None:
        return None
    buf = memoryview(bytes(wkb))
    gtype, endian, off = G._read_header(buf, 0)
    if gtype == G.WKB_POINT:
        x, y = G.decode_point(bytes(wkb))
        return {"type": "Point", "coordinates": [x, y]}
    if gtype == G.WKB_LINESTRING:
        return {"type": "LineString",
                "coordinates": _coords_list(G.decode_linestring(bytes(wkb)))}
    if gtype == G.WKB_POLYGON:
        rings = G.decode_polygons(bytes(wkb))[0]
        return {"type": "Polygon",
                "coordinates": [_coords_list(r) for r in rings]}
    if gtype == G.WKB_MULTIPOLYGON:
        polys = G.decode_polygons(bytes(wkb))
        return {"type": "MultiPolygon",
                "coordinates": [[_coords_list(r) for r in rings]
                                for rings in polys]}
    if gtype == G.WKB_MULTIPOINT:
        (n,) = struct.unpack_from(endian + "I", buf, off)
        off += 4
        pts = []
        for _ in range(n):
            _gt, e2, body = G._read_header(buf, off)
            x, y = struct.unpack_from(e2 + "dd", buf, body)
            pts.append([x, y])
            off = body + 16
        return {"type": "MultiPoint", "coordinates": pts}
    if gtype == G.WKB_MULTILINESTRING:
        (n,) = struct.unpack_from(endian + "I", buf, off)
        off += 4
        parts = []
        for _ in range(n):
            _gt, e2, body = G._read_header(buf, off)
            coords, off = G._decode_ring(buf, e2, body)
            parts.append(_coords_list(coords))
        return {"type": "MultiLineString", "coordinates": parts}
    raise ValueError(f"unsupported geometry type {gtype}")


def _iter_features(obj: dict) -> Iterator[dict]:
    """Yield Feature dicts from a parsed GeoJSON document of any of the
    three top-level shapes OGR accepts: FeatureCollection, bare Feature,
    bare geometry."""
    t = obj.get("type")
    if t == "FeatureCollection":
        yield from obj.get("features") or []
    elif t == "Feature":
        yield obj
    else:  # bare geometry object
        yield {"type": "Feature", "geometry": obj, "properties": {}}


# ---------------------------------------------------------------------------
# GeoJSON readers / writer
# ---------------------------------------------------------------------------

def read_geojson(spark: SparkSession, path: str) -> DataFrame:
    """FeatureCollection documents → feature rows. One task per FILE
    (a .geojson document is one artifact, as in OGR); FIDs are sequential
    within each file, mirroring the reference driver's assignment."""
    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for src, content in zip(pdf["path"], pdf["content"]):
                obj = json.loads(bytes(content).decode("utf-8-sig"))
                for seq, feat in enumerate(_iter_features(obj)):
                    wkb = wkb_from_geojson_geom(feat.get("geometry"))
                    props = json.dumps(feat.get("properties") or {},
                                       sort_keys=True)
                    # an integral "id" member is the FID (the driver's
                    # OGRGeoJSONReadFeature id handling, incl 64-bit)
                    fid = feat.get("id")
                    if not isinstance(fid, int) or isinstance(fid, bool):
                        fid = seq
                    rows.append((src, fid, props,
                                 bytearray(wkb) if wkb else None))
            yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA])

    return files.mapInPandas(run, schema=FEATURE_SCHEMA)


def read_geojson_seq(spark: SparkSession, path: str) -> DataFrame:
    """Newline-delimited GeoJSON (GeoJSONSeq): line-per-feature, splits by
    byte range — the scalable ingest path. FIDs are not assigned (byte-range
    splits have no global order); callers needing one derive it from a key
    column, as the reference's GeoJSONSeq driver also renumbers on read."""
    lines = spark.read.text(path).filter(F.length(F.trim(F.col("value"))) > 0)
    schema = T.StructType([
        T.StructField("properties", T.StringType()),
        T.StructField("geometry", T.BinaryType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for line in pdf["value"]:
                feat = json.loads(line.rstrip("\x1e\n").lstrip("\x1e"))
                for f_ in _iter_features(feat):
                    wkb = wkb_from_geojson_geom(f_.get("geometry"))
                    rows.append((json.dumps(f_.get("properties") or {},
                                            sort_keys=True),
                                 bytearray(wkb) if wkb else None))
            yield pd.DataFrame(rows, columns=["properties", "geometry"])

    return lines.mapInPandas(run, schema=schema)


def geojson_feature_lines(df: DataFrame, geometry_col: str = "geometry",
                          props_cols: list[str] | None = None) -> DataFrame:
    """One RFC 7946 Feature JSON string per row (column ``value``) — the
    writer's payload and the round-trip test surface. Distributed: the
    JSON is built per Arrow batch; write with ``df.write.text`` for a
    GeoJSONSeq artifact per partition."""
    props_cols = props_cols if props_cols is not None else [
        c for c in df.columns if c != geometry_col]
    cols = [geometry_col, *props_cols]
    sub = df.select(*cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for tup in pdf.itertuples(index=False):
                geom = geojson_geom_from_wkb(tup[0])
                props = {}
                for name, v in zip(props_cols, tup[1:]):
                    if isinstance(v, (np.integer,)):
                        v = int(v)
                    elif isinstance(v, (np.floating,)):
                        v = float(v)
                    elif isinstance(v, (bytes, bytearray)):
                        v = bytes(v).hex()
                    props[name] = v
                out.append(json.dumps(
                    {"type": "Feature", "properties": props,
                     "geometry": geom}, sort_keys=True))
            yield pd.DataFrame({"value": out})

    return sub.mapInPandas(run, schema="value string")


def write_geojson_seq(df: DataFrame, path: str,
                      geometry_col: str = "geometry",
                      props_cols: list[str] | None = None) -> None:
    geojson_feature_lines(df, geometry_col, props_cols) \
        .write.mode("overwrite").text(path)


# ---------------------------------------------------------------------------
# CSV with geometry (WKT column or X/Y columns)
# ---------------------------------------------------------------------------

def read_csv_features(spark: SparkSession, path: str, wkt_col: str = "WKT",
                      x_col: str | None = None, y_col: str | None = None,
                      **csv_opts) -> DataFrame:
    """CSV → rows with a ``geometry`` WKB column. Two conventions, as in
    the reference driver: a WKT text column (parsed batch-wise), or
    numeric X/Y columns (point geometry built from doubles). Splitting,
    header handling and type inference are Spark's CSV source — fully
    distributed."""
    import os as _os
    opts = {"header": "true", "inferSchema": "true", **csv_opts}
    # .csvt sidecar declares the column types
    # (ogrcsvlayer.cpp:400-480): Integer/Real/String/Date/Time/
    # DateTime[(width[.precision])]
    csvt = _os.path.splitext(path)[0] + ".csvt"
    if _os.path.exists(csvt):
        kinds = [t.strip().strip('"').split("(")[0].strip().lower()
                 for t in open(csvt).readline().split(",")]
        m = {"integer": "bigint", "real": "double",
             "integer64": "bigint"}
        hdr = spark.read.options(header="true").csv(path).columns
        schema = ", ".join(
            f"`{n}` {m.get(k, 'string')}"
            for n, k in zip(hdr, kinds + ["string"] * len(hdr)))
        opts.pop("inferSchema", None)
        df = spark.read.options(**{k: v for k, v in opts.items()
                                   if k != "inferSchema"}) \
            .schema(schema).csv(path)
    else:
        df = spark.read.options(**opts).csv(path)
    if wkt_col is None and x_col is None:
        # aspatial table (the reference's CSV layers are geometry-less
        # unless a WKT/X-Y convention is present)
        return df
    if x_col is not None and y_col is not None:
        xi = df.schema.fieldNames().index(x_col)
        yi = df.schema.fieldNames().index(y_col)

        def run_xy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                pdf = pdf.copy()
                pdf["geometry"] = [
                    bytearray(G.encode_point(float(x), float(y)))
                    for x, y in zip(pdf.iloc[:, xi], pdf.iloc[:, yi])]
                yield pdf

        schema = T.StructType(list(df.schema.fields)
                              + [T.StructField("geometry", T.BinaryType())])
        return df.mapInPandas(run_xy, schema=schema)
    if wkt_col not in df.columns:
        raise ValueError(f"no geometry convention found: column {wkt_col!r} "
                         f"absent and x/y columns not given")
    wi = df.schema.fieldNames().index(wkt_col)

    def run_wkt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            geom = [bytearray(G.wkb_from_wkt(w)) if w else None
                    for w in pdf.iloc[:, wi]]
            pdf = pdf.drop(columns=[wkt_col])
            pdf["geometry"] = geom
            yield pdf

    schema = T.StructType([f for f in df.schema.fields if f.name != wkt_col]
                          + [T.StructField("geometry", T.BinaryType())])
    return df.mapInPandas(run_wkt, schema=schema)


def write_csv_features(df: DataFrame, path: str,
                       geometry_col: str = "geometry") -> None:
    """WKB → WKT text column, then Spark's distributed CSV sink."""
    gi = df.schema.fieldNames().index(geometry_col)
    others = [f for f in df.schema.fields if f.name != geometry_col]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            wkt = [G.wkt_from_wkb(bytes(w)) if w is not None else None
                   for w in pdf.iloc[:, gi]]
            pdf = pdf.drop(columns=[geometry_col])
            pdf.insert(0, "WKT", wkt)
            yield pdf

    schema = T.StructType([T.StructField("WKT", T.StringType()), *others])
    df.mapInPandas(run, schema=schema) \
        .write.mode("overwrite").option("header", "true").csv(path)


# ---------------------------------------------------------------------------
# ESRI Shapefile codec (shpopen.c / dbfopen.c layouts, re-implemented from
# the ESRI whitepaper; 2-D shape types 0/1/3/5/8 — the engine's subset)
# ---------------------------------------------------------------------------

_SHP_NULL, _SHP_POINT, _SHP_POLYLINE, _SHP_POLYGON, _SHP_MULTIPOINT = 0, 1, 3, 5, 8


def _group_rings(rings: list[np.ndarray]) -> list[list[int]]:
    """Shapefile ring→polygon assignment on the XY projection: outer
    rings are clockwise (negative shoelace area), holes counter-
    clockwise; each hole attaches to the outer ring containing its
    first vertex. Returns ring-index groups (outer first)."""
    xy = [r[:, :2] for r in rings]
    outer_idx = [i for i, r in enumerate(xy)
                 if G._ring_area_signed(r) <= 0]
    if not outer_idx:  # degenerate: treat everything as outer
        return [[i] for i in range(len(rings))]
    groups = {i: [i] for i in outer_idx}
    for i, r in enumerate(xy):
        if i in groups:
            continue
        px, py = float(r[0, 0]), float(r[0, 1])
        host = next((o for o in outer_idx
                     if G.py_point_in_ring(px, py, xy[o])), outer_idx[0])
        groups[host].append(i)
    return [groups[o] for o in outer_idx]


def _rings_to_wkb(rings: list[np.ndarray]) -> bytes:
    """Shapefile polygon record → WKB Polygon/MultiPolygon."""
    groups = _group_rings(rings)
    if len(groups) == 1:
        return G.encode_polygon([rings[i] for i in groups[0]])
    return G.encode_multipolygon([[rings[i] for i in g] for g in groups])


def parse_shp(data: bytes, shx: bytes | None = None
              ) -> list[bytes | None]:
    """.shp payload → list of WKB geometries (record order = FID
    order). When the .shx is provided its (offset, size) entries are
    authoritative, exactly as shapelib's SHPReadObject — a record the
    index declares too small decodes to a null geometry with a
    quieted error (autotest buggy* fixtures)."""
    n = len(data)
    geoms: list[bytes | None] = []
    if shx is not None and len(shx) >= 100:
        entries = np.frombuffer(shx, ">i4", (len(shx) - 100) // 4, 100)
        for k in range(0, len(entries) - 1, 2):
            off = int(entries[k]) * 2 + 8
            size = int(entries[k + 1]) * 2
            try:
                geoms.append(_shp_record(data[:off + size], off))
            except (ValueError, struct.error, IndexError):
                geoms.append(None)
        return geoms
    off = 100  # fixed main-file header
    while off + 8 <= n:
        (_recno, clen) = struct.unpack_from(">ii", data, off)
        off += 8
        end = off + 2 * clen
        try:
            geoms.append(_shp_record(data, off))
        except (ValueError, struct.error, IndexError):
            # corrupt record (the reference's shape reader raises a
            # per-feature error and serves a null geometry)
            geoms.append(None)
        off = end
    return geoms


def _shp_record(data: bytes, off: int) -> bytes | None:
    """Decode one .shp record at `off` -> WKB or None."""
    n = len(data)
    geoms: list[bytes | None] = []
    if True:
        (stype,) = struct.unpack_from("<i", data, off)
        if stype == _SHP_NULL:
            geoms.append(None)
        elif stype == _SHP_POINT:
            x, y = struct.unpack_from("<dd", data, off + 4)
            geoms.append(G.encode_point(x, y))
        elif stype == _SHP_MULTIPOINT:
            (npts,) = struct.unpack_from("<i", data, off + 36)
            pts = np.frombuffer(data, dtype="<f8", count=2 * npts,
                                offset=off + 40).reshape(npts, 2)
            geoms.append(G.encode_multipoint(pts))
        elif stype in (_SHP_POLYLINE, _SHP_POLYGON):
            nparts, npts = struct.unpack_from("<ii", data, off + 36)
            parts = np.frombuffer(data, dtype="<i4", count=nparts,
                                  offset=off + 44)
            pts = np.frombuffer(data, dtype="<f8", count=2 * npts,
                                offset=off + 44 + 4 * nparts).reshape(npts, 2)
            bounds = np.append(parts, npts)
            segs = [pts[bounds[i]:bounds[i + 1]].copy()
                    for i in range(nparts)]
            if stype == _SHP_POLYGON:
                geoms.append(_rings_to_wkb(segs))
            else:
                geoms.append(G.encode_linestring(segs[0]) if len(segs) == 1
                             else G.encode_multilinestring(segs))
        elif stype in (11, 21):          # PointZ / PointM
            x, y = struct.unpack_from("<dd", data, off + 4)
            if stype == 11:
                (z,) = struct.unpack_from("<d", data, off + 20)
                geoms.append(C.encode_geom(C.Geom(
                    G.WKB_POINT, True, np.array([[x, y, z]]))))
            else:                        # M-only: 2-D in the reference
                geoms.append(G.encode_point(x, y))
        elif stype in (18, 28):          # MultiPointZ / MultiPointM
            (npts,) = struct.unpack_from("<i", data, off + 36)
            pts = np.frombuffer(data, dtype="<f8", count=2 * npts,
                                offset=off + 40).reshape(npts, 2)
            if stype == 18:
                zoff = off + 40 + 16 * npts + 16
                z = np.frombuffer(data, dtype="<f8", count=npts,
                                  offset=zoff)
                parts = [C.Geom(G.WKB_POINT, True,
                                np.array([[p[0], p[1], zv]]))
                         for p, zv in zip(pts, z)]
                geoms.append(C.encode_geom(C.Geom(
                    G.WKB_MULTIPOINT, True, parts=parts)))
            else:
                geoms.append(G.encode_multipoint(pts))
        elif stype in (13, 15, 23, 25):  # PolyLineZ/PolygonZ/+M twins
            nparts, npts = struct.unpack_from("<ii", data, off + 36)
            parts = np.frombuffer(data, dtype="<i4", count=nparts,
                                  offset=off + 44)
            pbase = off + 44 + 4 * nparts
            pts = np.frombuffer(data, dtype="<f8", count=2 * npts,
                                offset=pbase).reshape(npts, 2)
            has_z = stype in (13, 15)
            if has_z:
                z = np.frombuffer(data, dtype="<f8", count=npts,
                                  offset=pbase + 16 * npts + 16)
                pts = np.column_stack([pts, z])
            bounds = np.append(parts, npts)
            segs = [pts[bounds[i]:bounds[i + 1]].copy()
                    for i in range(nparts)]
            if stype in (15, 25):
                if not has_z:
                    geoms.append(_rings_to_wkb(segs))
                else:
                    groups = _group_rings(segs)
                    polys = [C.Geom(G.WKB_POLYGON, True,
                                    parts=[segs[i] for i in grp])
                             for grp in groups]
                    geoms.append(C.encode_geom(
                        polys[0] if len(polys) == 1 else
                        C.Geom(G.WKB_MULTIPOLYGON, True, parts=polys)))
            else:
                if not has_z:
                    geoms.append(G.encode_linestring(segs[0])
                                 if len(segs) == 1
                                 else G.encode_multilinestring(segs))
                elif len(segs) == 1:
                    geoms.append(C.encode_geom(C.Geom(
                        G.WKB_LINESTRING, True, segs[0])))
                else:
                    geoms.append(C.encode_geom(C.Geom(
                        G.WKB_MULTILINESTRING, True,
                        parts=[C.Geom(G.WKB_LINESTRING, True, s)
                               for s in segs])))
        else:
            raise ValueError(f"unsupported shape type {stype}")
    return geoms[0] if geoms else None


def parse_dbf(data: bytes) -> pd.DataFrame:
    """.dbf payload → attribute DataFrame (C→str, N/F→numeric, L→bool,
    D→'YYYYMMDD' string). Deleted rows ('*' flag) are skipped, as dbfopen
    does."""
    nrec, hsize, rsize = struct.unpack_from("<IHH", data, 4)
    fields = []
    off = 32
    while data[off] != 0x0D:
        name = data[off:off + 11].split(b"\x00")[0].decode("latin-1")
        ftype = chr(data[off + 11])
        flen = data[off + 16]
        fdec = data[off + 17]
        fields.append((name, ftype, flen, fdec))
        off += 32
    rows = []
    off = hsize
    for _ in range(nrec):
        rec = data[off:off + rsize]
        off += rsize
        if not rec or rec[0:1] == b"*":
            continue
        vals, p = [], 1
        for name, ftype, flen, fdec in fields:
            raw = rec[p:p + flen].decode("ascii", "replace").strip()
            p += flen
            if ftype in ("N", "F"):
                if not raw:
                    vals.append(None)
                elif ftype == "N" and fdec == 0 and "." not in raw:
                    vals.append(int(raw))
                else:
                    vals.append(float(raw))
            elif ftype == "L":
                vals.append(raw.upper() in ("T", "Y") if raw else None)
            else:  # C, D and anything else stay text
                vals.append(raw)
        rows.append(vals)
    return pd.DataFrame(rows, columns=[f[0] for f in fields])


def shapefile_bytes(pdf: pd.DataFrame, geometry_col: str = "geometry"
                    ) -> tuple[bytes, bytes, bytes]:
    """One pandas frame → (.shp, .shx, .dbf) byte triplet. Field typing
    follows the reference shape driver's defaults: int → N(18,0),
    float → N(24,15), everything else → C(80). Polygon rings are emitted
    outer-CW / holes-CCW per the spec."""
    attr_cols = [c for c in pdf.columns if c != geometry_col]
    shp_records, shx_records, boxes = [], [], []
    shape_type = _SHP_NULL
    file_off = 50  # in 16-bit words
    for i, w in enumerate(pdf[geometry_col]):
        content = _shp_record_content(bytes(w)) if w is not None \
            else struct.pack("<i", _SHP_NULL)
        if w is not None:
            stype = struct.unpack_from("<i", content)[0]
            shape_type = stype if shape_type == _SHP_NULL else shape_type
            boxes.append(_wkb_bbox(bytes(w)))
        clen = len(content) // 2
        shp_records.append(struct.pack(">ii", i + 1, clen) + content)
        shx_records.append(struct.pack(">ii", file_off, clen))
        file_off += 4 + clen
    if boxes:
        bb = np.array(boxes)
        xmin, ymin = bb[:, 0].min(), bb[:, 1].min()
        xmax, ymax = bb[:, 2].max(), bb[:, 3].max()
    else:
        xmin = ymin = xmax = ymax = 0.0
    body = b"".join(shp_records)
    shp = _shp_header(shape_type, 50 + len(body) // 2,
                      xmin, ymin, xmax, ymax) + body
    shx = _shp_header(shape_type, 50 + 4 * len(shx_records),
                      xmin, ymin, xmax, ymax) + b"".join(shx_records)
    dbf = _dbf_bytes(pdf[attr_cols])
    return shp, shx, dbf


def _shp_header(shape_type: int, flen_words: int, xmin, ymin, xmax, ymax) -> bytes:
    return (struct.pack(">i", 9994) + b"\x00" * 20
            + struct.pack(">i", flen_words)
            + struct.pack("<ii", 1000, shape_type)
            + struct.pack("<4d", xmin, ymin, xmax, ymax)
            + struct.pack("<4d", 0, 0, 0, 0))


def _wkb_bbox(wkb: bytes) -> tuple[float, float, float, float]:
    gtype, _, _ = G._read_header(memoryview(wkb), 0)
    if gtype == G.WKB_POINT:
        x, y = G.decode_point(wkb)
        return x, y, x, y
    if gtype in (G.WKB_POLYGON, G.WKB_MULTIPOLYGON):
        return G.polygon_envelope(wkb)
    if gtype == G.WKB_LINESTRING:
        c = G.decode_linestring(wkb)
        return (float(c[:, 0].min()), float(c[:, 1].min()),
                float(c[:, 0].max()), float(c[:, 1].max()))
    # multipoint / multilinestring: decode via GeoJSON dict (reuses codec)
    d = geojson_geom_from_wkb(wkb)
    arr = np.asarray([p for part in d["coordinates"]
                      for p in (part if isinstance(part[0], list) else [part])],
                     dtype=np.float64)
    return (float(arr[:, 0].min()), float(arr[:, 1].min()),
            float(arr[:, 0].max()), float(arr[:, 1].max()))


def _shp_record_content(wkb: bytes) -> bytes:
    gtype, _, _ = G._read_header(memoryview(wkb), 0)
    if gtype == G.WKB_POINT:
        x, y = G.decode_point(wkb)
        return struct.pack("<idd", _SHP_POINT, x, y)
    if gtype == G.WKB_MULTIPOINT:
        d = geojson_geom_from_wkb(wkb)
        pts = np.asarray(d["coordinates"], dtype=np.float64)
        bbox = _wkb_bbox(wkb)
        return (struct.pack("<i4di", _SHP_MULTIPOINT, *bbox, len(pts))
                + pts.astype("<f8").tobytes())
    if gtype in (G.WKB_LINESTRING, G.WKB_MULTILINESTRING):
        if gtype == G.WKB_LINESTRING:
            segs = [G.decode_linestring(wkb)]
        else:
            segs = [np.asarray(ln, dtype=np.float64)
                    for ln in geojson_geom_from_wkb(wkb)["coordinates"]]
        return _poly_record(_SHP_POLYLINE, segs, _wkb_bbox(wkb))
    if gtype in (G.WKB_POLYGON, G.WKB_MULTIPOLYGON):
        rings = []
        for poly in G.decode_polygons(wkb):
            for k, r in enumerate(poly):
                signed = G._ring_area_signed(r)
                # spec: outer CW (negative), holes CCW (positive)
                if (k == 0 and signed > 0) or (k > 0 and signed < 0):
                    r = r[::-1].copy()
                rings.append(r)
        return _poly_record(_SHP_POLYGON, rings, _wkb_bbox(wkb))
    raise ValueError(f"unsupported geometry type {gtype}")


def _poly_record(stype: int, parts: list[np.ndarray],
                 bbox: tuple[float, float, float, float]) -> bytes:
    offs, total = [], 0
    for p in parts:
        offs.append(total)
        total += len(p)
    return (struct.pack("<i4dii", stype, *bbox, len(parts), total)
            + np.asarray(offs, dtype="<i4").tobytes()
            + np.vstack(parts).astype("<f8").tobytes())


def _dbf_bytes(pdf: pd.DataFrame) -> bytes:
    fields = []
    for c in pdf.columns:
        dt = pdf[c].dtype
        if np.issubdtype(dt, np.integer):
            fields.append((c[:10], "N", 18, 0))
        elif np.issubdtype(dt, np.floating):
            fields.append((c[:10], "N", 24, 15))
        else:
            fields.append((c[:10], "C", 80, 0))
    rsize = 1 + sum(f[2] for f in fields)
    hsize = 32 + 32 * len(fields) + 1
    head = struct.pack("<B3BIHH", 3, 95, 1, 1, len(pdf), hsize, rsize)
    head += b"\x00" * 20
    for name, ftype, flen, fdec in fields:
        head += (name.encode("ascii").ljust(11, b"\x00") + ftype.encode()
                 + b"\x00" * 4 + bytes([flen, fdec]) + b"\x00" * 14)
    head += b"\x0d"
    recs = []
    for tup in pdf.itertuples(index=False):
        rec = [b" "]
        for (name, ftype, flen, fdec), v in zip(fields, tup):
            if ftype == "N":
                s = ("" if v is None or (isinstance(v, float) and np.isnan(v))
                     else (f"{v:.{fdec}f}" if fdec else str(int(v))))
                rec.append(s[:flen].rjust(flen).encode("ascii"))
            else:
                s = "" if v is None else str(v)
                rec.append(s[:flen].ljust(flen).encode("ascii", "replace"))
        recs.append(b"".join(rec))
    return head + b"".join(recs) + b"\x1a"


def read_shapefile(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed shapefile scan: ``binaryFile`` loads every .shp/.dbf
    under the glob, files group by stem (one task per shapefile — the
    OGR parallelism unit), and each pair parses to feature rows."""
    if path_glob.endswith(".shp"):
        # an explicit .shp path means the dataset: pull the sidecars too
        path_glob = path_glob[:-4] + ".*"
    files = (spark.read.format("binaryFile").load(path_glob)
             .select("path", "content")
             .withColumn("stem", F.regexp_replace("path", r"\.(shp|dbf|shx)$", ""))
             .filter(F.col("path").rlike(r"\.(shp|dbf|shx)$")))

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        shp = dbf = shx = None
        for p, c in zip(pdf["path"], pdf["content"]):
            if p.endswith(".shp"):
                shp = bytes(c)
            elif p.endswith(".dbf"):
                dbf = bytes(c)
            elif p.endswith(".shx"):
                shx = bytes(c)
        geoms = parse_shp(shp, shx) if shp is not None else []
        attrs = parse_dbf(dbf) if dbf is not None else pd.DataFrame(
            index=range(len(geoms)))
        n = max(len(geoms), len(attrs))
        rows = []
        for fid in range(n):
            props = (attrs.iloc[fid].to_dict() if fid < len(attrs) else {})
            props = {k: (int(v) if isinstance(v, np.integer) else
                         float(v) if isinstance(v, np.floating) else v)
                     for k, v in props.items()}
            wkb = geoms[fid] if fid < len(geoms) else None
            rows.append((key[0], fid, json.dumps(props, sort_keys=True),
                         bytearray(wkb) if wkb else None))
        return pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA])

    return files.groupBy("stem").applyInPandas(run, schema=FEATURE_SCHEMA)


def write_shapefile(df: DataFrame, out_dir: str,
                    geometry_col: str = "geometry") -> DataFrame:
    """File-per-partition shapefile sink: each partition becomes
    ``part-NNNNN.{shp,shx,dbf}`` under ``out_dir``. Returns the manifest
    (one row per artifact) — the same resumable-sink contract as the
    engine's tile writer. Executors write locally; on a cluster this
    targets shared storage, as any Spark file sink does."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    cols = df.columns

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        parts = list(it)
        if not parts:
            yield pd.DataFrame({"path": [], "records": []})
            return
        pdf = pd.concat(parts, ignore_index=True)[cols]
        shp, shx, dbf = shapefile_bytes(pdf, geometry_col)
        stem = os.path.join(out_dir, f"part-{pid:05d}")
        for ext, blob in ((".shp", shp), (".shx", shx), (".dbf", dbf)):
            with open(stem + ext, "wb") as fh:
                fh.write(blob)
        yield pd.DataFrame({"path": [stem + ".shp"], "records": [len(pdf)]})

    return df.mapInPandas(run, schema="path string, records long")


# ---------------------------------------------------------------------------
# GeoPackage (OGC GPKG over SQLite; stdlib sqlite3 — no external deps)
# ---------------------------------------------------------------------------

def wkb_from_gpkg_blob(blob: bytes) -> bytes | None:
    """Strip the GeoPackage binary header (magic 'GP', version, flags,
    srs_id, optional envelope) → raw WKB."""
    if blob is None or len(blob) < 8 or blob[:2] != b"GP":
        return None
    flags = blob[3]
    if flags & 0x20:  # empty-geometry flag
        return None
    env = (flags >> 1) & 0x07
    env_len = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}.get(env, 0)
    return bytes(blob[8 + env_len:])


def gpkg_blob_from_wkb(wkb: bytes, srs_id: int = 4326) -> bytes:
    """WKB → GPKG blob: little-endian header, no envelope (indicator 0)."""
    return b"GP\x00\x01" + struct.pack("<i", srs_id) + bytes(wkb)


def read_gpkg(spark: SparkSession, path: str, layer: str,
              geom_col: str | None = None, num_splits: int = 8) -> DataFrame:
    """Distributed GeoPackage scan: the driver reads only sqlite metadata
    (layer's geometry column + rowid bounds), then ``num_splits`` rowid
    ranges scan in parallel, each task opening the file read-only — the
    rowid-range analog of Iceberg split planning. Requires the .gpkg on
    storage visible to executors (true in local mode and on shared FS)."""
    import sqlite3

    with sqlite3.connect(f"file:{path}?mode=ro", uri=True) as cx:
        if geom_col is None:
            row = cx.execute(
                "SELECT column_name FROM gpkg_geometry_columns "
                "WHERE table_name = ?", (layer,)).fetchone()
            geom_col = row[0] if row else "geom"
        lo, hi = cx.execute(
            f'SELECT min(rowid), max(rowid) FROM "{layer}"').fetchone()
        cols = [r[1] for r in cx.execute(f'PRAGMA table_info("{layer}")')]
    if lo is None:
        return spark.createDataFrame([], FEATURE_SCHEMA)
    attr_cols = [c for c in cols if c != geom_col]
    step = max(1, (hi - lo + num_splits) // num_splits)
    ranges = [(lo + i * step, min(lo + (i + 1) * step - 1, hi))
              for i in range(num_splits) if lo + i * step <= hi]
    rdf = spark.createDataFrame(ranges, "r0 long, r1 long").repartition(
        len(ranges), "r0")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with sqlite3.connect(f"file:{path}?mode=ro", uri=True) as cx:
            for pdf in batches:
                rows = []
                for r0, r1 in zip(pdf["r0"], pdf["r1"]):
                    sel = ", ".join([f'"{c}"' for c in attr_cols]
                                    + [f'"{geom_col}"'])
                    for rec in cx.execute(
                            f'SELECT rowid, {sel} FROM "{layer}" '
                            f"WHERE rowid BETWEEN ? AND ?",
                            (int(r0), int(r1))):
                        fid = rec[0]
                        props = dict(zip(attr_cols, rec[1:-1]))
                        wkb = wkb_from_gpkg_blob(rec[-1])
                        rows.append((path, fid, json.dumps(props, sort_keys=True),
                                     bytearray(wkb) if wkb else None))
                yield pd.DataFrame(rows,
                                   columns=[f.name for f in FEATURE_SCHEMA])

    return rdf.mapInPandas(run, schema=FEATURE_SCHEMA)


def write_gpkg(df: DataFrame, path: str, layer: str,
               geometry_col: str = "geometry", srs_id: int = 4326) -> int:
    """GeoPackage sink. A .gpkg is ONE sqlite file — an inherently
    single-writer artifact (the reference driver serializes through one
    sqlite handle too), so rows stream to the driver via
    ``toLocalIterator`` (one partition in memory at a time, never a full
    collect). For distributed-scale output use the Iceberg/parquet sinks;
    GPKG is the interchange format."""
    import os
    import sqlite3

    if os.path.exists(path):
        os.remove(path)
    attr_cols = [c for c in df.columns if c != geometry_col]
    defs = []
    for f_ in df.schema.fields:
        if f_.name == geometry_col:
            continue
        t = ("INTEGER" if isinstance(f_.dataType, (T.LongType, T.IntegerType))
             else "REAL" if isinstance(f_.dataType, (T.DoubleType, T.FloatType))
             else "TEXT")
        defs.append(f'"{f_.name}" {t}')
    n = 0
    with sqlite3.connect(path) as cx:
        cx.executescript(
            "CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL, "
            "srs_id INTEGER PRIMARY KEY, organization TEXT NOT NULL, "
            "organization_coordsys_id INTEGER NOT NULL, definition TEXT "
            "NOT NULL, description TEXT);"
            "CREATE TABLE gpkg_contents (table_name TEXT PRIMARY KEY, "
            "data_type TEXT NOT NULL, identifier TEXT UNIQUE, description "
            "TEXT, last_change TEXT, min_x REAL, min_y REAL, max_x REAL, "
            "max_y REAL, srs_id INTEGER);"
            "CREATE TABLE gpkg_geometry_columns (table_name TEXT NOT NULL, "
            "column_name TEXT NOT NULL, geometry_type_name TEXT NOT NULL, "
            "srs_id INTEGER NOT NULL, z TINYINT NOT NULL, m TINYINT NOT "
            "NULL, PRIMARY KEY (table_name, column_name));")
        cx.execute(
            "INSERT INTO gpkg_spatial_ref_sys VALUES "
            "('WGS 84', 4326, 'EPSG', 4326, 'GEOGCS[\"WGS 84\"]', NULL)")
        pk = "" if "fid" in attr_cols else "fid INTEGER PRIMARY KEY, "
        cx.execute(
            f'CREATE TABLE "{layer}" ({pk}'
            f'{", ".join(defs)}, "{geometry_col}" BLOB)')
        cx.execute("INSERT INTO gpkg_contents (table_name, data_type, "
                   "identifier, srs_id) VALUES (?, 'features', ?, ?)",
                   (layer, layer, srs_id))
        cx.execute("INSERT INTO gpkg_geometry_columns VALUES "
                   "(?, ?, 'GEOMETRY', ?, 0, 0)",
                   (layer, geometry_col, srs_id))
        ins = (f'INSERT INTO "{layer}" ({", ".join(chr(34) + c + chr(34) for c in attr_cols)}, '
               f'"{geometry_col}") VALUES ({", ".join("?" * (len(attr_cols) + 1))})')
        for row in df.toLocalIterator():
            vals = [row[c] for c in attr_cols]
            w = row[geometry_col]
            vals.append(gpkg_blob_from_wkb(bytes(w), srs_id)
                        if w is not None else None)
            cx.execute(ins, vals)
            n += 1
    return n


# ---------------------------------------------------------------------------
# GPX driver (gdal/ogr/ogrsf_frmts/gpx/ogrgpxlayer.cpp)
# ---------------------------------------------------------------------------

def _strip_ns(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _ogr_datetime(iso: str | None) -> str | None:
    """ISO 8601 → the OGR field spelling ('2007/11/25 17:58:00+01',
    ogr_gpx_1's expected value; 'Z' prints as the +00 offset is
    omitted... the reference keeps 'Z' times without offset text)."""
    if not iso:
        return None
    s = iso.strip().replace("T", " ")
    s = s[:10].replace("-", "/") + s[10:]
    if s.endswith("Z"):
        return s[:-1] + "+00"
    if len(s) >= 6 and s[-6] in "+-" and s[-3] == ":":
        return s[:-6] + s[-6:-3]   # '+01:00' -> '+01'
    return s


GPX_LAYERS = ("waypoints", "routes", "tracks", "route_points",
              "track_points")


def read_gpx(spark: SparkSession, path: str,
             layer: str = "waypoints") -> DataFrame:
    """GPX read — the reference's five fixed layers (waypoints, routes,
    tracks, route_points, track_points; ogrgpxlayer.cpp). Sidecar-scale
    format: the XML parses on the driver, rows distribute."""
    import xml.etree.ElementTree as ET

    from pyspark.sql import types as T

    from gdal_spark.functions import geometry as G
    root = ET.parse(path).getroot()

    def kids(el, name):
        return [c for c in el if _strip_ns(c.tag) == name]

    def txt(el, name):
        k = kids(el, name)
        return k[0].text if k else None

    def pt_fields(el):
        links = kids(el, "link")
        out = {"ele": (float(txt(el, "ele")) if txt(el, "ele") is not None
                       else None),
               "name": txt(el, "name"), "cmt": txt(el, "cmt"),
               "desc": txt(el, "desc"), "src": txt(el, "src"),
               "time": _ogr_datetime(txt(el, "time"))}
        for i in (1, 2):
            ln = links[i - 1] if len(links) >= i else None
            out[f"link{i}_href"] = ln.get("href") if ln is not None else None
            out[f"link{i}_text"] = txt(ln, "text") if ln is not None else None
            out[f"link{i}_type"] = txt(ln, "type") if ln is not None else None
        return out

    def pt_wkb(el):
        return bytearray(G.encode_point(float(el.get("lon")),
                                        float(el.get("lat"))))

    pt_schema = [T.StructField("ele", T.DoubleType())] + [
        T.StructField(n, T.StringType())
        for n in ("name", "cmt", "desc", "src", "link1_href", "link1_text",
                  "link1_type", "link2_href", "link2_text", "link2_type",
                  "time")]

    def pt_row(f):
        return (f["ele"], f["name"], f["cmt"], f["desc"], f["src"],
                f["link1_href"], f["link1_text"], f["link1_type"],
                f["link2_href"], f["link2_text"], f["link2_type"], f["time"])

    rows, schema = [], None
    if layer == "waypoints":
        schema = T.StructType(
            [T.StructField("fid", T.LongType())] + pt_schema
            + [T.StructField("geometry", T.BinaryType())])
        for i, el in enumerate(kids(root, "wpt")):
            rows.append((i, *pt_row(pt_fields(el)), pt_wkb(el)))
    elif layer == "routes":
        schema = "fid long, name string, geometry binary"
        for i, el in enumerate(kids(root, "rte")):
            pts = np.array([[float(p.get("lon")), float(p.get("lat"))]
                            for p in kids(el, "rtept")]).reshape(-1, 2)
            rows.append((i, txt(el, "name"),
                         bytearray(G.encode_linestring(pts))))
    elif layer == "tracks":
        schema = "fid long, name string, geometry binary"
        for i, el in enumerate(kids(root, "trk")):
            segs = [np.array([[float(p.get("lon")), float(p.get("lat"))]
                              for p in kids(s, "trkpt")]).reshape(-1, 2)
                    for s in kids(el, "trkseg")]
            rows.append((i, txt(el, "name"),
                         bytearray(G.encode_multilinestring(segs))))
    elif layer == "route_points":
        schema = T.StructType(
            [T.StructField("route_fid", T.LongType()),
             T.StructField("route_point_id", T.LongType())] + pt_schema
            + [T.StructField("geometry", T.BinaryType())])
        for ri, el in enumerate(kids(root, "rte")):
            for pi, p in enumerate(kids(el, "rtept")):
                rows.append((ri, pi, *pt_row(pt_fields(p)), pt_wkb(p)))
    elif layer == "track_points":
        schema = T.StructType(
            [T.StructField("track_fid", T.LongType()),
             T.StructField("track_seg_id", T.LongType()),
             T.StructField("track_pt_id", T.LongType())] + pt_schema
            + [T.StructField("geometry", T.BinaryType())])
        for ti, el in enumerate(kids(root, "trk")):
            for si, s in enumerate(kids(el, "trkseg")):
                for pi, p in enumerate(kids(s, "trkpt")):
                    rows.append((ti, si, pi, *pt_row(pt_fields(p)),
                                 pt_wkb(p)))
    else:
        raise ValueError(f"unknown GPX layer {layer!r}; one of {GPX_LAYERS}")
    return spark.createDataFrame(rows, schema)


def write_gpx(df: DataFrame, path: str, layer: str = "waypoints",
              geometry_col: str = "geometry") -> None:
    """GPX write: waypoints (points), routes (linestrings) or tracks
    (multilinestrings) from the geometry column; a 'name' column becomes
    the element name."""
    from gdal_spark.functions import geometry as G
    rows = df.collect()
    has_name = "name" in df.columns
    with open(path, "w") as f:
        f.write('<?xml version="1.0"?>\n<gpx version="1.1" '
                'creator="gdal_spark" '
                'xmlns="http://www.topografix.com/GPX/1/1">\n')
        for r in rows:
            w = bytes(r[geometry_col])
            nm = (f"<name>{r['name']}</name>"
                  if has_name and r["name"] is not None else "")
            if layer == "waypoints":
                x, y = G.decode_point(w)
                f.write(f'<wpt lat="{y:.10g}" lon="{x:.10g}">{nm}</wpt>\n')
            elif layer == "routes":
                f.write(f"<rte>{nm}\n")
                for x, y in G.decode_linestring(w):
                    f.write(f'  <rtept lat="{y:.10g}" lon="{x:.10g}"/>\n')
                f.write("</rte>\n")
            else:
                f.write(f"<trk>{nm}\n")
                from gdal_spark.functions.geomops import wkb_members
                for seg in wkb_members(w):
                    f.write("  <trkseg>\n")
                    for x, y in G.decode_linestring(seg):
                        f.write(f'    <trkpt lat="{y:.10g}" '
                                f'lon="{x:.10g}"/>\n')
                    f.write("  </trkseg>\n")
                f.write("</trk>\n")
        f.write("</gpx>\n")


# ---------------------------------------------------------------------------
# KML driver (gdal/ogr/ogrsf_frmts/kml/ogrkmllayer.cpp)
# ---------------------------------------------------------------------------

def _kml_geom_wkb(el) -> bytes | None:
    """One KML geometry element → WKB (coordinates are
    'lon,lat[,alt]' whitespace-separated tuples)."""
    from gdal_spark.functions import geometry as G

    def coords(e):
        k = [c for c in e.iter() if _strip_ns(c.tag) == "coordinates"]
        if not k or not k[0].text:
            return np.zeros((0, 2))
        pts = [tuple(float(v) for v in t.split(",")[:2])
               for t in k[0].text.split()]
        return np.array(pts).reshape(-1, 2)

    tag = _strip_ns(el.tag)
    if tag == "Point":
        c = coords(el)
        return G.encode_point(float(c[0, 0]), float(c[0, 1]))
    if tag == "LineString":
        return G.encode_linestring(coords(el))
    if tag == "Polygon":
        rings = []
        for b in el.iter():
            if _strip_ns(b.tag) in ("outerBoundaryIs", "innerBoundaryIs"):
                for lr in b.iter():
                    if _strip_ns(lr.tag) == "LinearRing":
                        rings.append(coords(lr))
        return G.encode_polygon(rings)
    if tag == "MultiGeometry":
        from gdal_spark.functions.geometry import (
            encode_geometrycollection)
        parts = [_kml_geom_wkb(c) for c in el
                 if _strip_ns(c.tag) in ("Point", "LineString", "Polygon",
                                         "MultiGeometry")]
        return encode_geometrycollection([p for p in parts if p])
    return None


def _kml_top_folders(root):
    """TOP-LEVEL Folders only — nested Folders merge into their
    ancestor layer (the reference reports 6 layers for samples.kml,
    whose 'Polygons' folder contains three nested Folders)."""
    out = []

    def walk(el, inside_folder):
        for c in el:
            t = _strip_ns(c.tag)
            if t == "Folder":
                if not inside_folder:
                    out.append(c)
                walk(c, True)
            else:
                walk(c, inside_folder)

    walk(root, False)
    return out


def kml_layer_names(path: str) -> list[str]:
    """Folder names = layer names (ogrkmldriver: one OGR layer per
    top-level Folder; samples.kml has 6)."""
    import xml.etree.ElementTree as ET
    root = ET.parse(path).getroot()
    names = []
    for fo in _kml_top_folders(root):
        nm = next((c.text for c in fo if _strip_ns(c.tag) == "name"), None)
        names.append(nm or f"Layer{len(names)}")
    return names


def read_kml(spark: SparkSession, path: str,
             layer: str | None = None) -> DataFrame:
    """KML read: Placemarks of the named Folder (or of the whole
    document when ``layer`` is None) with the reference's Name /
    description fields."""
    import xml.etree.ElementTree as ET
    root = ET.parse(path).getroot()
    scope = root
    if layer is not None:
        for fo in _kml_top_folders(root):
            nm = next((c.text for c in fo
                       if _strip_ns(c.tag) == "name"), None)
            if nm == layer:
                scope = fo
                break
        else:
            raise ValueError(f"no KML Folder named {layer!r}")
    rows = []
    for i, pm in enumerate(e for e in scope.iter()
                           if _strip_ns(e.tag) == "Placemark"):
        name = desc = None
        wkb = None
        for c in pm:
            t = _strip_ns(c.tag)
            if t == "name":
                name = c.text
            elif t == "description":
                desc = c.text
            elif t in ("Point", "LineString", "Polygon", "MultiGeometry"):
                wkb = _kml_geom_wkb(c)
        rows.append((i, name, desc,
                     bytearray(wkb) if wkb is not None else None))
    return spark.createDataFrame(
        rows, "fid long, Name string, description string, geometry binary")


def write_kml(df: DataFrame, path: str, name_col: str = "Name",
              geometry_col: str = "geometry",
              doc_name: str = "gdal_spark export") -> None:
    """KML write: one Placemark per row under a single Document."""
    from gdal_spark.functions import geometry as G
    from gdal_spark.functions.geomops import wkb_members

    def coord_text(arr) -> str:
        return " ".join(f"{x:.10g},{y:.10g}" for x, y in arr)

    def geom_xml(w: bytes) -> str:
        from gdal_spark.functions.geometry import (
            WKB_LINESTRING, WKB_POINT, WKB_POLYGON)
        buf = memoryview(w)
        gtype = buf[1] if buf[0] == 1 else buf[4]
        if gtype == WKB_POINT:
            x, y = G.decode_point(w)
            return (f"<Point><coordinates>{x:.10g},{y:.10g}"
                    "</coordinates></Point>")
        if gtype == WKB_LINESTRING:
            return ("<LineString><coordinates>"
                    + coord_text(G.decode_linestring(w))
                    + "</coordinates></LineString>")
        if gtype == WKB_POLYGON:
            rings = G.decode_polygons(w)[0]
            out = ["<Polygon>"]
            for j, r in enumerate(rings):
                b = "outerBoundaryIs" if j == 0 else "innerBoundaryIs"
                out.append(f"<{b}><LinearRing><coordinates>"
                           + coord_text(r)
                           + f"</coordinates></LinearRing></{b}>")
            out.append("</Polygon>")
            return "".join(out)
        parts = "".join(geom_xml(m) for m in wkb_members(w))
        return f"<MultiGeometry>{parts}</MultiGeometry>"

    rows = df.collect()
    has_name = name_col in df.columns
    with open(path, "w") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n'
                '<kml xmlns="http://www.opengis.net/kml/2.2">\n'
                f"<Document><name>{doc_name}</name>\n")
        for r in rows:
            nm = (f"<name>{r[name_col]}</name>"
                  if has_name and r[name_col] is not None else "")
            f.write("<Placemark>" + nm
                    + geom_xml(bytes(r[geometry_col])) + "</Placemark>\n")
        f.write("</Document>\n</kml>\n")


# ---------------------------------------------------------------------------
# MapInfo MIF/MID driver (gdal/ogr/ogrsf_frmts/mitab/mitab_miffile.cpp)
# ---------------------------------------------------------------------------

# pen pattern -> (ogr-pen id, dash pattern) — ITABFeaturePen::
# GetPenStyleString's 25-entry switch (mitab_feature.cpp:8252-8356)
_MITAB_PEN = {1: (1, ""), 2: (0, ""), 3: (3, "1 1"), 4: (3, "2 1"),
              5: (3, "3 1"), 6: (3, "6 1"), 7: (4, "12 2"), 8: (4, "24 4"),
              9: (3, "4 3"), 10: (5, "1 4"), 11: (3, "4 6"), 12: (3, "6 4"),
              13: (4, "12 12"), 14: (6, "8 2 1 2"), 15: (6, "12 1 1 1"),
              16: (6, "12 1 3 1"), 17: (6, "24 6 4 6"),
              18: (7, "24 3 3 3 3 3"), 19: (7, "24 3 3 3 3 3 3 3"),
              20: (7, "6 3 1 3 1 3"), 21: (7, "12 2 1 2 1 2"),
              22: (7, "12 2 1 2 1 2 1 2"), 23: (6, "4 1 1 1"),
              24: (7, "4 1 1 1 1"), 25: (6, "4 1 1 1 2 1 1 1")}
# brush fill pattern -> ogr-brush id (ITABFeatureBrush::GetBrushStyleString)
_MITAB_BRUSH = {1: 1, 3: 2, 4: 3, 5: 5, 6: 4, 7: 6, 8: 7}


def mitab_pen_style(width_px: int, pattern: int, color: int) -> str:
    """PEN() style string exactly as mitab_feature.cpp:8356-8386."""
    ogr_id, dash = _MITAB_PEN.get(pattern, (0, ""))
    if dash:
        return (f'PEN(w:{width_px}px,c:#{color:06x},'
                f'id:"mapinfo-pen-{pattern},ogr-pen-{ogr_id}",p:"{dash}px")')
    return (f'PEN(w:{width_px}px,c:#{color:06x},'
            f'id:"mapinfo-pen-{pattern},ogr-pen-{ogr_id}")')


def mitab_brush_style(pattern: int, fg: int, bg: int | None) -> str:
    """BRUSH() style string exactly as mitab_feature.cpp:8614-8646
    (background omitted for transparent brushes)."""
    ogr_id = _MITAB_BRUSH.get(pattern, 0)
    if bg is None:
        return (f'BRUSH(fc:#{fg:06x},'
                f'id:"mapinfo-brush-{pattern},ogr-brush-{ogr_id}")')
    return (f'BRUSH(fc:#{fg:06x},bc:#{bg:06x},'
            f'id:"mapinfo-brush-{pattern},ogr-brush-{ogr_id}")')


_MIF_TYPES = {"CHAR": "string", "INTEGER": "long", "SMALLINT": "long",
              "FLOAT": "double", "DECIMAL": "double", "DATE": "string",
              "LOGICAL": "boolean"}


def read_mif(spark: SparkSession, path: str) -> DataFrame:
    """MIF/MID read: header columns become typed attributes from the
    .mid, geometry records (Point/Line/Pline/Region/NONE) become WKB,
    and Pen/Brush clauses translate to the feature's OGR style string
    (column ``ogr_style``; the engine's OGR_STYLE special field reads
    it — asserted byte-exactly by ogr_sql_14)."""
    import csv as _csv
    import os

    from gdal_spark.functions import geometry as G
    text = open(path).read().splitlines()
    i = 0
    delim, cols = ",", []
    while i < len(text):
        ln = text[i].strip()
        up = ln.upper()
        if up.startswith("DELIMITER"):
            delim = ln.split('"')[1]
        elif up.startswith("COLUMNS"):
            n = int(ln.split()[1])
            for j in range(n):
                parts = text[i + 1 + j].split()
                cols.append((parts[0], _MIF_TYPES.get(
                    parts[1].split("(")[0].upper(), "string")))
            i += n
        elif up == "DATA":
            i += 1
            break
        i += 1

    def fnum(tok: str) -> float:
        return float(tok)

    feats = []   # (wkb|None, style)
    cur_geom, cur_style = None, {}

    def flush():
        nonlocal cur_geom, cur_style
        if cur_geom is not None or cur_style:
            parts = []
            if "brush" in cur_style:
                parts.append(cur_style["brush"])
            if "pen" in cur_style:
                parts.append(cur_style["pen"])
            feats.append((cur_geom, ";".join(parts) or None))
        cur_geom, cur_style = None, {}

    while i < len(text):
        ln = text[i].strip()
        if not ln:
            i += 1
            continue
        toks = ln.replace("(", " ").replace(")", " ").replace(",", " ") \
            .split()
        kw = toks[0].upper()
        if kw == "POINT":
            flush()
            cur_geom = G.encode_point(fnum(toks[1]), fnum(toks[2]))
        elif kw == "LINE":
            flush()
            cur_geom = G.encode_linestring(np.array(
                [[fnum(toks[1]), fnum(toks[2])],
                 [fnum(toks[3]), fnum(toks[4])]]))
        elif kw == "PLINE":
            flush()
            nseg = 1
            j = i + 1
            if len(toks) > 1 and toks[1].upper() == "MULTIPLE":
                nseg = int(toks[2])
            elif len(toks) > 1:
                # single-section PLINE may carry the count inline
                npts = int(toks[1])
                pts = [tuple(map(fnum, text[j + p].split()))
                       for p in range(npts)]
                cur_geom = G.encode_linestring(np.array(pts))
                i = j + npts
                continue
            lines = []
            for _ in range(nseg):
                npts = int(text[j].split()[0])
                j += 1
                pts = [tuple(map(fnum, text[j + p].split()))
                       for p in range(npts)]
                lines.append(np.array(pts))
                j += npts
            cur_geom = (G.encode_linestring(lines[0]) if nseg == 1
                        else G.encode_multilinestring(lines))
            i = j
            continue
        elif kw == "REGION":
            flush()
            nrings = int(toks[1])
            j = i + 1
            rings = []
            for _ in range(nrings):
                npts = int(text[j].split()[0])
                j += 1
                pts = [tuple(map(fnum, text[j + p].split()))
                       for p in range(npts)]
                ring = np.array(pts)
                if not np.array_equal(ring[0], ring[-1]):
                    ring = np.vstack([ring, ring[:1]])
                rings.append(ring)
                j += npts
            cur_geom = G.encode_polygon(rings)
            i = j
            continue
        elif kw == "NONE":
            flush()
            cur_geom = None
            feats.append((None, None))
            cur_geom, cur_style = None, {}
        elif kw == "PEN":
            cur_style["pen"] = mitab_pen_style(
                int(toks[1]), int(toks[2]), int(toks[3]))
        elif kw == "BRUSH":
            vals = [int(t) for t in toks[1:4] if t.lstrip("-").isdigit()]
            cur_style["brush"] = mitab_brush_style(
                vals[0], vals[1], vals[2] if len(vals) > 2 else None)
        elif kw in ("SYMBOL", "SMOOTH", "CENTER"):
            pass
        i += 1
    flush()

    mid_path = os.path.splitext(path)[0] + ".mid"
    attrs = []
    if os.path.exists(mid_path) and cols:
        with open(mid_path, newline="") as f:
            for rec in _csv.reader(f, delimiter=delim, quotechar='"'):
                attrs.append(rec)
    rows = []
    for fid, (wkb, style) in enumerate(feats):
        vals = []
        rec = attrs[fid] if fid < len(attrs) else [None] * len(cols)
        for (nm, typ), raw in zip(cols, rec):
            if raw is None or raw == "":
                vals.append(None)
            elif typ == "long":
                vals.append(int(raw))
            elif typ == "double":
                vals.append(float(raw))
            elif typ == "boolean":
                vals.append(raw.strip().upper() in ("T", "TRUE", "1"))
            else:
                vals.append(raw)
        rows.append((fid, *vals, style,
                     bytearray(wkb) if wkb is not None else None))
    schema = ("fid long, "
              + ", ".join(f"`{nm}` {typ}" for nm, typ in cols)
              + (", " if cols else "")
              + "ogr_style string, geometry binary")
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# GML driver (gdal/ogr/ogrsf_frmts/gml/ogrgmllayer.cpp — WFS
# FeatureCollection / featureMember subset, no .xsd/.gfs schema cache)
# ---------------------------------------------------------------------------

_GML_GEOMS = ("Point", "LineString", "Polygon", "MultiPoint",
              "MultiLineString", "MultiPolygon", "MultiSurface",
              "MultiCurve", "Curve", "Surface", "LinearRing")


def _gml_coords(el) -> np.ndarray:
    """gml:coordinates (cs/ts separators), gml:posList, or a sequence
    of gml:pos elements (GML 3.1.1 rings list one pos per vertex,
    gml_pos_polygon)."""
    poses = []
    for c in el.iter():
        t = _strip_ns(c.tag)
        if t == "coordinates" and c.text:
            cs = c.get("cs", ",")
            ts = c.get("ts", " ")
            pts = [tuple(float(v) for v in tok.split(cs)[:2])
                   for tok in c.text.split(ts) if tok.strip()]
            return np.array(pts).reshape(-1, 2)
        if t == "posList" and c.text:
            dim = int(c.get("srsDimension",
                            el.get("srsDimension", "2")))
            vals = [float(v) for v in c.text.split()]
            return np.array(vals).reshape(-1, dim)[:, :2]
        if t == "pos" and c.text:
            vals = [float(v) for v in c.text.split()]
            poses.append(vals[:2])
    if poses:
        return np.array(poses).reshape(-1, 2)
    return np.zeros((0, 2))


def _gml_geom_wkb(el) -> bytes | None:
    from gdal_spark.functions import geometry as G
    tag = _strip_ns(el.tag)
    if tag in ("Box", "Envelope"):
        # Box (coord X/Y pairs) / Envelope (lower/upperCorner) → the
        # corner-traversal polygon (gml2ogrgeometry.cpp; gml_Box golden
        # POLYGON ((1 2,3 2,3 4,1 4,1 2)))
        vals = []
        for c in el.iter():
            t = _strip_ns(c.tag)
            if t == "coord":
                xy = {_strip_ns(k.tag): float(k.text) for k in c}
                vals.append((xy["X"], xy["Y"]))
            elif t in ("lowerCorner", "upperCorner") and c.text:
                v = [float(x) for x in c.text.split()]
                vals.append((v[0], v[1]))
        (x1, y1), (x2, y2) = vals[0], vals[1]
        return G.encode_polygon([np.array(
            [[x1, y1], [x2, y1], [x2, y2], [x1, y2], [x1, y1]])])
    if tag == "Point":
        c = _gml_coords(el)
        return G.encode_point(float(c[0, 0]), float(c[0, 1]))
    if tag in ("LineString", "Curve"):
        return G.encode_linestring(_gml_coords(el))
    if tag in ("Polygon", "Surface"):
        rings = []
        for b in el.iter():
            if _strip_ns(b.tag) in ("outerBoundaryIs", "exterior",
                                    "innerBoundaryIs", "interior"):
                rings.append(_gml_coords(b))
        if not rings:
            rings = [_gml_coords(el)]
        return G.encode_polygon(rings)
    if tag in ("MultiPolygon", "MultiSurface"):
        from gdal_spark.functions.geometry import encode_multipolygon
        polys = []
        for m in el.iter():
            if _strip_ns(m.tag) in ("Polygon", "Surface"):
                rings = []
                for b in m.iter():
                    if _strip_ns(b.tag) in ("outerBoundaryIs", "exterior",
                                            "innerBoundaryIs", "interior"):
                        rings.append(_gml_coords(b))
                polys.append(rings or [_gml_coords(m)])
        return encode_multipolygon(polys)
    if tag in ("MultiLineString", "MultiCurve"):
        from gdal_spark.functions.geometry import encode_multilinestring
        return encode_multilinestring(
            [_gml_coords(m) for m in el.iter()
             if _strip_ns(m.tag) in ("LineString", "Curve")])
    if tag == "MultiPoint":
        from gdal_spark.functions.geometry import encode_multipoint
        pts = [(_gml_coords(m)[0]).tolist() for m in el.iter()
               if _strip_ns(m.tag) == "Point"]
        return encode_multipoint(np.array(pts).reshape(-1, 2))
    return None


def gml_features(path: str) -> tuple[list[dict], list[str]]:
    """Driver-side GML parse: featureMember/member elements → one dict
    per feature ('gml_id', attribute strings, 'geometry' WKB). Returns
    (features, field order)."""
    import xml.etree.ElementTree as ET
    root = ET.parse(path).getroot()
    feats, order = [], []
    for fm in root.iter():
        # GML 2 featureMember (one child each), WFS 1.1
        # gml:featureMembers (all children), WFS 2 member
        if _strip_ns(fm.tag) not in ("featureMember", "featureMembers",
                                     "member"):
            continue
        for feat_el in fm:
            row = {"gml_id": feat_el.get("fid") or feat_el.get(
                "{http://www.opengis.net/gml}id")}
            wkb = None
            for prop in feat_el:
                t = _strip_ns(prop.tag)
                if t == "boundedBy":
                    continue
                geom_child = next(
                    (c for c in prop if _strip_ns(c.tag) in _GML_GEOMS),
                    None)
                if geom_child is not None:
                    wkb = _gml_geom_wkb(geom_child)
                elif _strip_ns(prop.tag) in _GML_GEOMS:
                    wkb = _gml_geom_wkb(prop)
                else:
                    row[t] = prop.text
                    if t not in order:
                        order.append(t)
            row["geometry"] = wkb
            feats.append(row)
    return feats, order


def read_gml(spark: SparkSession, path: str) -> DataFrame:
    """GML read: column types inferred from the values (the reference
    infers via .xsd or a .gfs pre-scan; this is the same pre-scan,
    integer → long → double → string)."""
    feats, order = gml_features(path)

    def infer(name):
        vals = [f.get(name) for f in feats if f.get(name) is not None]
        try:
            [int(v) for v in vals]
            return "long"
        except ValueError:
            pass
        try:
            [float(v) for v in vals]
            return "double"
        except ValueError:
            return "string"

    types = {n: infer(n) for n in order}
    rows = []
    for i, f in enumerate(feats):
        vals = []
        for n in order:
            v = f.get(n)
            if v is None:
                vals.append(None)
            elif types[n] == "long":
                vals.append(int(v))
            elif types[n] == "double":
                vals.append(float(v))
            else:
                vals.append(v)
        wkb = f.get("geometry")
        rows.append((i, f.get("gml_id"), *vals,
                     bytearray(wkb) if wkb is not None else None))
    schema = ("fid long, gml_id string, "
              + ", ".join(f"`{n}` {types[n]}" for n in order)
              + (", " if order else "") + "geometry binary")
    return spark.createDataFrame(rows, schema)


def wkb_from_gml(gml: str) -> bytes | None:
    """OGR_G_CreateFromGML for a bare GML geometry fragment
    (gdal/ogr/gml2ogrgeometry.cpp): namespace prefixes need not be
    declared (the reference's parser ignores prefixes entirely), and
    srsDimension may sit on the geometry or the posList. The engine
    stores 2-D geometries; Z values are dropped."""
    import re as _re
    import xml.etree.ElementTree as ET
    prefixes = set(_re.findall(r"</?([A-Za-z_][\w.-]*):", gml))
    decls = "".join(f' xmlns:{p}="urn:x-{p}"' for p in prefixes)
    root = ET.fromstring(f"<r{decls}>{gml}</r>")
    for child in root:
        w = _gml_geom_wkb(child)
        if w is not None:
            return w
    return None


# ---------------------------------------------------------------------------
# GMT ASCII vector driver (gdal/ogr/ogrsf_frmts/gmt/ogrgmtlayer.cpp)
# ---------------------------------------------------------------------------

def _gmt_keyed_values(line: str) -> list[tuple[str, str]]:
    """'@' keyed values of a '#' comment line (ogrgmtlayer.cpp:313
    ReadLine): value runs to unquoted whitespace, quotes toggle, inside
    quotes a backslash escapes the next char; contents then unescape."""
    out = []
    i = 0
    while i < len(line):
        if line[i] != "@":
            i += 1
            continue
        j = i + 2
        in_q = False
        while j < len(line):
            c = line[j]
            if not in_q and c.isspace():
                break
            if in_q and c == "\\" and j < len(line) - 1:
                j += 2
                continue
            if c == '"':
                in_q = not in_q
            j += 1
        val = line[i + 2:j].replace('\\"', '"').replace("\\\\", "\\")
        out.append((line[i + 1], val))
        i = j
    return out


def _gmt_split_fields(s: str) -> list[str]:
    """CSLTokenizeStringComplex(s, '|', TRUE, TRUE): honor quotes,
    strip them, keep empty tokens."""
    toks, cur, in_q = [], [], False
    for c in s:
        if c == '"':
            in_q = not in_q
        elif c == "|" and not in_q:
            toks.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    toks.append("".join(cur))
    return toks


_GMT_TYPES = {"integer": "long", "double": "double",
              "datetime": "string", "string": "string"}


def read_gmt(spark: SparkSession, path: str) -> DataFrame:
    """OGR GMT reader (OGRGmtLayer::GetNextRawFeature,
    ogrgmtlayer.cpp:441): '>' separators with one-line lookahead decide
    whether a new segment extends the current multi-part feature (@H =
    hole ring, next-@D = next feature), @D lines carry '|'-separated
    field data, @N/@T declare the schema. 2-D WKB out."""
    with open(path, "r", encoding="utf-8") as f:
        lines = [ln.rstrip("\n").rstrip("\r") for ln in f]

    gtype, names, types = "", [], []
    for ln in lines:
        if not ln.startswith("#"):
            break
        for k, v in _gmt_keyed_values(ln):
            if k == "G":
                gtype = v.upper()
            elif k == "N":
                names = _gmt_split_fields(v)
            elif k == "T":
                types = [t.lower() for t in _gmt_split_fields(v)]

    n = len(lines)

    def hole_ahead(i):
        j = i + 1
        while j < n and lines[j].startswith("#"):
            kv = _gmt_keyed_values(lines[j])
            if kv and kv[0][0] == "H":
                return True
            j += 1
        return False

    def next_is_feature(i):
        return (i + 1 < n and lines[i + 1].startswith("#")
                and "@D" in lines[i + 1])

    feats = []
    i = 0
    cur_type = gtype

    while i < n:
        field_data = None
        geom = None       # POINT: [x,y]; LINESTRING: [pts];
        # MULTILINESTRING: [[pts],...]; POLYGON: [[ring pts],...];
        # MULTIPOLYGON: [[[ring]...], ...]
        while i < n:
            ln = lines[i]
            if not ln:
                break   # blank line ends the feature (ReadLine empty)
            if ln.startswith(">"):
                if geom is not None and cur_type == "MULTIPOLYGON":
                    if hole_ahead(i):
                        geom[-1].append([])
                    elif not next_is_feature(i):
                        geom.append([[]])
                    else:
                        break
                elif geom is not None and cur_type == "POLYGON":
                    if hole_ahead(i):
                        geom.append([])
                    else:
                        break
                elif geom is not None and cur_type == "MULTILINESTRING" \
                        and not next_is_feature(i):
                    geom.append([])
                elif geom is not None:
                    break
                elif not cur_type:
                    cur_type = "LINESTRING"
                i += 1
            elif ln.startswith("#"):
                for k, v in _gmt_keyed_values(ln):
                    if k == "D":
                        field_data = v
                i += 1
            else:
                parts = ln.split()
                if len(parts) >= 2:
                    x, y = float(parts[0]), float(parts[1])
                    if geom is None:
                        if cur_type == "LINESTRING":
                            geom = [[]]
                        elif cur_type == "POLYGON":
                            geom = [[]]
                        elif cur_type == "MULTIPOLYGON":
                            geom = [[[]]]
                        elif cur_type == "MULTILINESTRING":
                            geom = [[]]
                        elif cur_type == "MULTIPOINT":
                            geom = [[]]
                        else:   # POINT / unknown
                            geom = [x, y]
                            i += 1
                            break
                    if cur_type in ("LINESTRING", "MULTIPOINT"):
                        geom[0].append((x, y))
                    elif cur_type == "MULTILINESTRING":
                        geom[-1].append((x, y))
                    elif cur_type == "POLYGON":
                        geom[-1].append((x, y))
                    elif cur_type == "MULTIPOLYGON":
                        geom[-1][-1].append((x, y))
                i += 1
        if geom is None:
            break
        feats.append((cur_type, geom, field_data))

    rows = []
    for fid, (ftype, geom, field_data) in enumerate(feats):
        if ftype == "POINT" or isinstance(geom[0], float):
            wkb = G.encode_point(geom[0], geom[1])
        elif ftype == "MULTIPOINT":
            wkb = G.encode_multipoint(np.asarray(geom[0], np.float64))
        elif ftype == "MULTILINESTRING":
            wkb = G.encode_multilinestring(
                [np.asarray(p, np.float64) for p in geom if p])
        elif ftype == "POLYGON":
            wkb = G.encode_polygon(
                [np.asarray(r, np.float64) for r in geom if r])
        elif ftype == "MULTIPOLYGON":
            wkb = G.encode_multipolygon(
                [[np.asarray(r, np.float64) for r in poly if r]
                 for poly in geom])
        else:
            wkb = G.encode_linestring(np.asarray(geom[0], np.float64))
        vals = _gmt_split_fields(field_data) if field_data else []
        row = [fid]
        for k in range(len(names)):
            v = vals[k] if k < len(vals) else None
            t = types[k] if k < len(types) else "string"
            if v is not None and t == "integer":
                v = int(v)
            elif v is not None and t == "double":
                v = float(v)
            row.append(v)
        row.append(bytearray(wkb))
        rows.append(tuple(row))

    schema = "fid long"
    for k, nm in enumerate(names):
        t = types[k] if k < len(types) else "string"
        schema += f", `{nm}` {_GMT_TYPES.get(t, 'string')}"
    schema += ", geometry binary"
    return spark.createDataFrame(rows, schema)


def write_gmt(df: DataFrame, path: str,
              geometry_col: str = "geometry") -> None:
    """OGR GMT writer (OGRGmtLayer::CompleteHeader/ICreateFeature,
    ogrgmtlayer.cpp:700-960): @VGMT1.0 @G<type> header, @R region,
    @N/@T schema, FEATURE_DATA, then per feature a '>' separator,
    the @D field line, and vertex lines (@P/@H polygon ring markers)."""
    rows = df.collect()
    attr_cols = [f for f in df.schema.fields
                 if f.name not in (geometry_col, "fid")]

    def fmt(v):
        return f"{float(v):.15g}"

    kinds = {"POINT": "POINT", "MULTIPOINT": "MULTIPOINT",
             "LINESTRING": "LINESTRING",
             "MULTILINESTRING": "MULTILINESTRING",
             "POLYGON": "POLYGON", "MULTIPOLYGON": "MULTIPOLYGON"}
    gk = ""
    xs, ys = [], []
    parsed = []
    for r in rows:
        wkb = r[geometry_col]
        if wkb is None:
            continue
        wkb = bytes(wkb)
        kind = G.wkt_from_wkb(wkb).split(" ", 1)[0].split("(", 1)[0]
        gk = gk or kinds.get(kind, "")
        parsed.append((r, kind, wkb))

    out = [f"# @VGMT1.0 @G{gk}"]
    for r, kind, wkb in parsed:
        if kind == "POINT":
            x, y = G.decode_point(wkb)
            xs += [x, x]; ys += [y, y]
        else:
            import re as _re
            cs = [float(t) for t in _re.findall(
                r"-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?", G.wkt_from_wkb(wkb))]
            xs += cs[0::2]; ys += cs[1::2]
    if xs:
        out.append("# @R%.12g/%.12g/%.12g/%.12g"
                   % (min(xs), max(xs), min(ys), max(ys)))
    if attr_cols:
        tmap = {"bigint": "integer", "int": "integer", "double": "double",
                "float": "double"}
        out.append("# @N" + "|".join(f.name for f in attr_cols))
        out.append("# @T" + "|".join(
            tmap.get(f.dataType.simpleString(), "string")
            for f in attr_cols))
    out.append("# FEATURE_DATA")

    def emit_field(v, dt):
        s = "" if v is None else (fmt(v) if dt == "double"
                                  else str(v))
        if any(c in s for c in ' |\t\n'):
            s = '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'
        return s

    for r, kind, wkb in parsed:
        if kind != "POINT":
            out.append(">")
        if attr_cols:
            out.append("# @D" + "|".join(
                emit_field(r[f.name], f.dataType.simpleString())
                for f in attr_cols))
        if kind == "POINT":
            x, y = G.decode_point(wkb)
            out.append(f"{fmt(x)} {fmt(y)}")
        elif kind == "LINESTRING":
            for x, y in G.decode_linestring(wkb):
                out.append(f"{fmt(x)} {fmt(y)}")
        elif kind in ("POLYGON", "MULTIPOLYGON"):
            first = True
            for poly in G.decode_polygons(wkb):
                for ri, ring in enumerate(poly):
                    if not first:
                        out.append(">")
                    first = False
                    out.append("# @P" if ri == 0 else "# @H")
                    for x, y in ring:
                        out.append(f"{fmt(x)} {fmt(y)}")
        elif kind in ("MULTILINESTRING", "MULTIPOINT"):
            first = True
            for part in G.decode_collection(wkb):
                pk = G.wkt_from_wkb(part).split(" ", 1)[0].split("(", 1)[0]
                if pk == "POINT":
                    x, y = G.decode_point(part)
                    out.append(f"{fmt(x)} {fmt(y)}")
                else:
                    if not first:
                        out.append(">")
                    for x, y in G.decode_linestring(part):
                        out.append(f"{fmt(x)} {fmt(y)}")
                first = False
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(out) + "\n")


# ---------------------------------------------------------------------------
# BNA driver (gdal/ogr/ogrsf_frmts/bna/ogrbnalayer.cpp, ogrbnaparser.cpp)
# ---------------------------------------------------------------------------

def _bna_records(path: str):
    """(ids, coords) per record: a quoted-ID header line with a trailing
    count, then |count| coordinate pairs (possibly several per line)."""
    import re as _re
    with open(path, "r", encoding="latin-1") as f:
        text = f.read()
    lines = [ln.strip() for ln in text.splitlines() if ln.strip()]
    i, n = 0, len(lines)
    while i < n:
        m = _re.match(r'^\s*"', lines[i])
        if not m:
            i += 1
            continue
        parts = next(csv.reader([lines[i]]))
        count = int(parts[-1])
        ids = [p for p in parts[:-1]]
        npts = abs(count)
        coords = []
        i += 1
        while len(coords) < 2 * npts and i < n:
            for tok in _re.split(r"[,\s]+", lines[i]):
                if tok:
                    coords.append(float(tok))
            i += 1
        pts = np.array(coords[:2 * npts]).reshape(-1, 2)
        yield ids, count, pts


def _bna_organize_polygons(rings: list[np.ndarray]) -> bytes:
    """organizePolygons (DEFAULT method) over the split rings: a ring
    contained in an odd number of others is a hole of its smallest
    container; the rest are outer rings.  One outer → the reference
    wraps it in a MULTIPOLYGON (ogrbnalayer.cpp:712), several with
    holes → POLYGON / MULTIPOLYGON per containment."""
    from gdal_spark.functions.geometry import py_point_in_ring
    n = len(rings)
    areas = [abs(float(np.cross(r[:-1], np.roll(r[:-1], -1, axis=0))
                       .sum()) / 2.0) for r in rings]
    contains = [[False] * n for _ in range(n)]
    for a in range(n):
        for b in range(n):
            if a != b and areas[a] >= areas[b]:
                px, py = rings[b][0]
                contains[a][b] = bool(py_point_in_ring(px, py, rings[a]))
    depth = [sum(contains[a][b] for a in range(n)) for b in range(n)]
    outers = [b for b in range(n) if depth[b] % 2 == 0]
    polys = {o: [rings[o]] for o in outers}
    for b in range(n):
        if depth[b] % 2 == 1:
            cands = [o for o in outers if contains[o][b]]
            host = min(cands, key=lambda o: areas[o]) if cands else None
            if host is not None:
                polys[host].append(rings[b])
    plist = [polys[o] for o in sorted(outers)]
    if len(plist) == 1 and len(rings) > 1:
        return G.encode_polygon(plist[0])
    return G.encode_multipolygon(plist)


def read_bna(spark: SparkSession, path: str,
             layer: str = "polygons") -> DataFrame:
    """One of the four BNA layers (points / lines / polygons /
    ellipses — the reference exposes <basename>_<kind>): count 1 =
    point, 2 = ellipse (center + radii, stroked at 1-degree steps),
    negative = polyline, >2 = polygon record whose rings are delimited
    by recalling the first coordinate (ogrbnalayer.cpp:607-735)."""
    rows = []
    for ids, count, pts in _bna_records(path):
        p1 = ids[0] if len(ids) > 0 else None
        p2 = ids[1] if len(ids) > 1 else None
        if count == 1 and layer == "points":
            rows.append((p1, p2, None, None,
                         bytearray(G.encode_point(pts[0][0], pts[0][1]))))
        elif count == 2 and layer == "ellipses":
            cx, cy = pts[0]
            rmaj, rmin = pts[1]
            if rmin == 0:
                rmin = rmaj
            ang = np.arange(360) * (math.pi / 180.0)
            ring = np.column_stack([cx + rmaj * np.cos(ang),
                                    cy + rmin * np.sin(ang)])
            ring = np.vstack([ring, [cx + rmaj, cy]])
            rows.append((p1, p2, float(rmaj), float(rmin),
                         bytearray(G.encode_polygon([ring]))))
        elif count < 0 and layer == "lines":
            rows.append((p1, p2, None, None,
                         bytearray(G.encode_linestring(pts))))
        elif count > 2 and layer == "polygons":
            first = pts[0]
            rings, cur, sec = [], [pts[0]], None
            i = 1
            while i < len(pts):
                cur.append(pts[i])
                if sec is None and np.array_equal(pts[i], first):
                    rings.append(np.array(cur))
                    if i == len(pts) - 1:
                        cur = []
                        break
                    i += 1
                    sec = pts[i]
                    cur = [pts[i]]
                elif sec is not None and np.array_equal(pts[i], sec):
                    rings.append(np.array(cur))
                    cur = []
                    if i < len(pts) - 1:
                        if np.array_equal(pts[i + 1], first):
                            if i + 1 == len(pts) - 1:
                                break
                            i += 1
                        i += 1
                        sec = pts[i]
                        cur = [pts[i]]
                i += 1
            if cur and sec is None:
                rings.append(np.vstack([np.array(cur), [first]]))
            rows.append((p1, p2, None, None,
                         bytearray(_bna_organize_polygons(rings))))
    schema = ("`Primary ID` string, `Secondary ID` string, "
              "`Major radius` double, `Minor radius` double, "
              "geometry binary")
    df = spark.createDataFrame(rows, schema)
    if layer != "ellipses":
        df = df.drop("Major radius", "Minor radius")
    return df


def write_bna(df: DataFrame, path: str,
              geometry_col: str = "geometry") -> None:
    """BNA sink: one header line `"PID","SID",count` per feature, then
    one coordinate pair per line at 10-decimal precision
    (ogrbnalayer.cpp WriteCoord)."""
    out = []

    def coord(x, y):
        return f"{x:.10f},{y:.10f}"

    for r in df.collect():
        wkb = r[geometry_col]
        if wkb is None:
            continue
        wkb = bytes(wkb)
        p1 = r["Primary ID"] if "Primary ID" in df.columns else ""
        p2 = r["Secondary ID"] if "Secondary ID" in df.columns else ""
        kind = G.wkt_from_wkb(wkb).split(" ", 1)[0].split("(", 1)[0]
        if kind == "POINT":
            x, y = G.decode_point(wkb)
            out.append(f'"{p1}","{p2}",1')
            out.append(coord(x, y))
        elif kind == "LINESTRING":
            pts = G.decode_linestring(wkb)
            out.append(f'"{p1}","{p2}",{-len(pts)}')
            out += [coord(x, y) for x, y in pts]
        elif kind in ("POLYGON", "MULTIPOLYGON"):
            polys = G.decode_polygons(wkb)
            # ellipse re-detection (ogrbnalayer.cpp:364-402): a single
            # 361-point ring tracing center + r*cos/sin collapses back
            # to a count-2 ellipse record
            if len(polys) == 1 and len(polys[0]) == 1 \
                    and len(polys[0][0]) == 361:
                ring = polys[0][0]
                cx = (ring[0][0] + ring[180][0]) / 2.0
                cy = (ring[90][1] + ring[270][1]) / 2.0
                rmaj = abs(ring[0][0] - cx)
                rmin = abs(ring[90][1] - cy)
                ang = np.arange(360) * (math.pi / 180.0)
                if (np.abs(cx + rmaj * np.cos(ang) - ring[:360, 0])
                        < 1e-5).all() and \
                   (np.abs(cy + rmin * np.sin(ang) - ring[:360, 1])
                        < 1e-5).all():
                    out.append(f'"{p1}","{p2}",2')
                    out.append(coord(cx, cy))
                    out.append(coord(rmaj, rmin))
                    continue
            lines = []
            first = None
            for poly in polys:
                for ring in poly:
                    if first is None:
                        first = ring[0]
                        lines += [coord(x, y) for x, y in ring]
                    else:
                        lines += [coord(x, y) for x, y in ring]
                        lines.append(coord(first[0], first[1]))
            out.append(f'"{p1}","{p2}",{len(lines)}')
            out += lines
    with open(path, "w", encoding="latin-1") as f:
        f.write("\n".join(out) + "\n")


# ---------------------------------------------------------------------------
# GeoRSS driver (gdal/ogr/ogrsf_frmts/georss/ogrgeorsslayer.cpp)
# ---------------------------------------------------------------------------

def _georss_datetime(s: str) -> str:
    """RFC822 / ISO8601 → OGR GetFieldAsString(DateTime) form
    ('2008/12/07 20:13:00+02')."""
    import datetime as _dt
    import email.utils as _eu
    s = s.strip()
    import re as _re
    if _re.match(r"\d{4}/\d{2}/\d{2} ", s):
        return s                     # already the OGR string form
    if "," in s:                     # RFC 822 (RSS pubDate)
        dt = _eu.parsedate_to_datetime(s)
    else:                            # ISO 8601 (Atom)
        dt = _dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    off = dt.utcoffset() or _dt.timedelta(0)
    tot = int(off.total_seconds())
    sign = "+" if tot >= 0 else "-"
    tot = abs(tot)
    hh, rem = divmod(tot, 3600)
    mm = rem // 60
    tz = f"{sign}{hh:02d}" + (f":{mm:02d}" if mm else "")
    return dt.strftime("%Y/%m/%d %H:%M:%S") + tz


def _georss_latlon_geom(tag: str, text: str) -> bytes | None:
    """Simple GeoRSS encodings: lat lon pairs (point/line/polygon) and
    lat-min lon-min lat-max lon-max (box)."""
    vals = [float(v) for v in text.split()]
    pts = np.array(vals).reshape(-1, 2)[:, ::-1]     # lat lon -> x=lon
    if tag == "point":
        return G.encode_point(pts[0][0], pts[0][1])
    if tag == "line":
        return G.encode_linestring(pts)
    if tag == "polygon":
        return G.encode_polygon([pts])
    if tag == "box":
        (x0, y0), (x1, y1) = pts
        ring = np.array([[x0, y0], [x0, y1], [x1, y1], [x1, y0],
                         [x0, y0]])
        return G.encode_polygon([ring])
    return None


def _georss_where_geom(el) -> bytes | None:
    """georss:where with GML content — GML in GeoRSS is lat/lon
    ordered, so swap after the shared GML parse."""
    for c in el:
        w = _gml_geom_wkb(c)
        if w is not None:
            kind = G.wkt_from_wkb(w).split(" ", 1)[0].split("(", 1)[0]
            if kind == "POINT":
                x, y = G.decode_point(w)
                return G.encode_point(y, x)
            import gdal_spark.functions.geomops as GO
            return GO._map_coords(w, lambda a: a[:, ::-1],
                                  lambda a: a[:, ::-1])
    return None


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _attr_name(key: str) -> str:
    """xml:lang-style attributes become <field>_xml_lang columns."""
    if key.startswith("{http://www.w3.org/XML/1998/namespace}"):
        return "xml_" + _local(key)
    return _local(key)


def _georss_item_fields(item, is_atom: bool):
    """One RSS item / Atom entry -> (field order, {name: value}, wkb)
    — the ogrgeorsslayer.cpp field-building rules (repeated-element
    2/3.. suffixes, <field>_<attr> attributes, Atom author/contributor
    flattening, re-serialized content payload)."""
    import re as _re
    import xml.etree.ElementTree as ET

    order: list[str] = []
    fields: dict[str, str] = {}
    counts: dict[str, int] = {}
    wkb = None

    def put(name, value):
        if name not in order:
            order.append(name)
        fields[name] = value

    for el in item:
        tag = _local(el.tag)
        ns = el.tag[1:el.tag.index("}")] if el.tag[0] == "{" else ""
        if "georss" in ns:
            if tag == "where":
                wkb = _georss_where_geom(el)
            else:
                wkb = _georss_latlon_geom(tag, el.text or "")
            continue
        counts[tag] = counts.get(tag, 0) + 1
        base = tag if counts[tag] == 1 else f"{tag}{counts[tag]}"
        if tag in ("author", "contributor") and is_atom:
            for sub in el:
                put(f"{base}_{_local(sub.tag)}", (sub.text or "").strip())
            continue
        if tag == "content" and is_atom:
            for k, v in el.attrib.items():
                put(f"{base}_{_attr_name(k)}", v)
            inner = "".join(
                ET.tostring(c, encoding="unicode") for c in el)
            inner = _re.sub(r"\sxmlns:(\w+)=", " xmlns=", inner)
            inner = _re.sub(r"<(/?)\w+:", r"<\1", inner).strip()
            put(base, inner)
            continue
        for k, v in el.attrib.items():
            put(f"{base}_{_attr_name(k)}", v)
        text = (el.text or "").strip()
        if tag in ("pubDate", "updated", "published") and text:
            text = _georss_datetime(text)
        put(base, text)
    return order, fields, wkb


def read_georss(spark: SparkSession, path: str) -> DataFrame:
    """RSS 2.0 (channel/item) or Atom (feed/entry) with GeoRSS simple
    or GML geometries.  Repeated elements get 2/3... suffixes and
    attributes become <field>_<attr> columns; Atom author/contributor
    subelements flatten to author_name-style fields; the Atom content
    payload is re-serialized XML (ogrgeorsslayer.cpp field building)."""
    import re as _re
    import xml.etree.ElementTree as ET
    root = ET.parse(path).getroot()
    is_atom = _local(root.tag) == "feed"
    if is_atom:
        items = [e for e in root if _local(e.tag) == "entry"]
    else:
        channel = next(e for e in root if _local(e.tag) == "channel")
        items = [e for e in channel if _local(e.tag) == "item"]

    feats = []
    order: list[str] = []
    for item in items:
        item_order, fields, wkb = _georss_item_fields(item, is_atom)
        for name in item_order:
            if name not in order:
                order.append(name)
        feats.append((fields, wkb))

    rows = [tuple([fid] + [f.get(n) for n in order]
                  + [bytearray(w) if w else None])
            for fid, (f, w) in enumerate(feats)]
    schema = "fid long" + "".join(f", `{n}` string" for n in order) \
             + ", geometry binary"
    return spark.createDataFrame(rows, schema)


def read_georss_distributed(spark: SparkSession, path: str,
                            n_ranges: int = 32) -> DataFrame:
    """Executor-side GeoRSS parse, same output as :func:`read_georss`:
    the file splits into byte ranges, each task regex-extracts the
    complete ``<item>``/``<entry>`` elements whose start offset falls
    in its range (items are flat — they never nest), wraps fragments in
    a root that re-declares the document's namespace prefixes, and
    applies the shared per-item field rules. The data-dependent column
    order is discovered in the same pass (one schema row per range) and
    merged on the driver — metadata only; no feature content is
    driver-parsed. Same pattern as ``read_gpx_distributed``."""
    import json as _json
    import os
    import re as _re
    import xml.etree.ElementTree as ET

    head = open(path, "rb").read(16 << 10).decode("utf-8", "replace")
    mroot = _re.search(r"<(feed|rss)\b([^>]*)>", head)
    if mroot is None:
        raise ValueError(f"{path}: not a GeoRSS/Atom document")
    is_atom = mroot.group(1) == "feed"
    decls = " ".join(_re.findall(r'xmlns(?::\w+)?="[^"]*"',
                                 mroot.group(2)))
    if "georss" not in decls:
        decls += ' xmlns:georss="http://www.georss.org/georss"'
    tag = "entry" if is_atom else "item"

    fsize = os.path.getsize(path)
    n = max(1, min(n_ranges, fsize // (64 << 10) + 1))
    bounds = [fsize * k // n for k in range(n)] + [fsize]
    spec = spark.createDataFrame(
        [(k, bounds[k], bounds[k + 1]) for k in range(n)],
        "rid int, start long, end long")
    pat = _re.compile(rf"<(?:\w+:)?{tag}[\s>]".encode())
    closepat = _re.compile(rf"</(?:\w+:)?{tag}\s*>".encode())
    tail = 8 << 20

    def run(batches):
        for pdf in batches:
            rows = []
            for rid, s, e0 in zip(pdf["rid"], pdf["start"], pdf["end"]):
                s, e0 = int(s), int(e0)
                with open(path, "rb") as fh:
                    fh.seek(s)
                    raw = fh.read(min(e0 + tail, fsize) - s)
                seq = 0
                range_order: list[str] = []
                for m in pat.finditer(raw):
                    if s + m.start() >= e0:
                        break
                    cm = closepat.search(raw, m.end())
                    if cm is None:
                        raise RuntimeError(
                            f"unterminated <{tag}> in range")
                    frag = (f"<r {decls}>".encode()
                            + raw[m.start():cm.end()] + b"</r>")
                    el = ET.fromstring(frag)[0]
                    order, fields, wkb = _georss_item_fields(el, is_atom)
                    for nm in order:
                        if nm not in range_order:
                            range_order.append(nm)
                    rows.append((int(rid), seq, _json.dumps(fields),
                                 bytearray(wkb) if wkb else None))
                    seq += 1
                rows.append((int(rid), -1, _json.dumps(range_order),
                             None))
            yield pd.DataFrame(rows, columns=["rid", "seq", "payload",
                                              "geometry"])

    feats = spec.repartition(n, "rid").mapInPandas(
        run, "rid int, seq long, payload string, geometry binary").cache()
    order: list[str] = []
    counts: dict[int, int] = {}
    for r in feats.filter(F.col("seq") == -1) \
                  .select("rid", "payload").collect():
        for nm in _json.loads(r["payload"]):
            if nm not in order:
                order.append(nm)
    for r in (feats.filter(F.col("seq") >= 0).groupBy("rid")
              .agg(F.count("*").alias("n")).collect()):
        counts[r["rid"]] = r["n"]
    offsets, acc = {}, 0
    for k in range(n):
        offsets[k] = acc
        acc += counts.get(k, 0)
    odf = spark.createDataFrame([(k, v) for k, v in offsets.items()],
                                "rid int, off long")
    fmap = F.from_json("payload", "map<string,string>")
    return (feats.filter(F.col("seq") >= 0)
            .join(F.broadcast(odf), "rid")
            .select((F.col("off") + F.col("seq")).alias("fid"),
                    fmap.alias("_m"), "geometry")
            .select("fid",
                    *[F.element_at("_m", nm).alias(nm) for nm in order],
                    "geometry"))


def write_georss(df: DataFrame, path: str, use_atom: bool = False,
                 geometry_col: str = "geometry") -> None:
    """GeoRSS sink with simple encodings (lat lon order); attribute
    columns map back to elements, <field>_<attr> columns to attributes,
    Atom author_name-style fields to subelements."""
    import re as _re
    from xml.sax.saxutils import escape
    cols = [f.name for f in df.schema.fields
            if f.name not in ("fid", geometry_col)]
    out = ['<?xml version="1.0" encoding="UTF-8"?>']
    if use_atom:
        out.append('<feed xmlns="http://www.w3.org/2005/Atom" '
                   'xmlns:georss="http://www.georss.org/georss">')
    else:
        out.append('<rss version="2.0" '
                   'xmlns:georss="http://www.georss.org/georss">')
        out.append("<channel>")
        out.append("<title>OGR</title><link>.</link>"
                   "<description>OGR</description>")
    item_tag = "entry" if use_atom else "item"
    for r in df.collect():
        out.append(f"<{item_tag}>")
        done = set()
        for c in cols:
            if c in done or r[c] is None:
                continue
            m = _re.match(r"^(.*?)_(rel|type|href|length|domain|"
                          r"xml_lang|xml_base)$", c)
            sub = _re.match(r"^(author|contributor)(\d*)_(\w+)$", c)
            if use_atom and sub:
                parent = sub.group(1)
                group = [c2 for c2 in cols
                         if c2.startswith(sub.group(1) + sub.group(2)
                                          + "_")]
                out.append(f"<{parent}>")
                for c2 in group:
                    t = c2.split("_", 1)[1]
                    if r[c2] is not None:
                        out.append(f"<{t}>{escape(str(r[c2]))}</{t}>")
                    done.add(c2)
                out.append(f"</{parent}>")
                continue
            if m and not c.startswith(("author", "contributor")):
                base = m.group(1)
                group = [c2 for c2 in cols if c2 == base
                         or (c2.startswith(base + "_")
                             and _re.match(r"^%s_(rel|type|href|length|"
                                           r"domain|xml_lang|xml_base)$"
                                           % _re.escape(base), c2))]
                attrs = []
                text = None
                for c2 in group:
                    done.add(c2)
                    if r[c2] is None:
                        continue
                    if c2 == base:
                        text = str(r[c2])
                    else:
                        a = c2[len(base) + 1:].replace("xml_", "xml:")
                        attrs.append(f'{a}="{escape(str(r[c2]))}"')
                tag = _re.sub(r"\d+$", "", base)
                a = (" " + " ".join(attrs)) if attrs else ""
                if base == "content" and use_atom and text \
                        and text.lstrip().startswith("<"):
                    out.append(f"<{tag}{a}>{text}</{tag}>")
                elif text is not None:
                    out.append(f"<{tag}{a}>{escape(text)}</{tag}>")
                else:
                    out.append(f"<{tag}{a}/>")
                continue
            done.add(c)
            tag = _re.sub(r"\d+$", "", c)
            val = str(r[c])
            if use_atom and tag in ("updated", "published"):
                mm = _re.match(r"(\d+)/(\d+)/(\d+) (\d+):(\d+):(\d+)"
                               r"([+-]\d+)?(?::(\d+))?", val)
                if mm:
                    y, mo, d, h, mi, sec = (int(v) for v in
                                            mm.groups()[:6])
                    tzh, tzm = int(mm.group(7) or 0), int(mm.group(8) or 0)
                    tz = "Z" if tzh == 0 and tzm == 0 else \
                        "%+03d:%02d" % (tzh, tzm)
                    val = "%04d-%02d-%02dT%02d:%02d:%02d%s" % (
                        y, mo, d, h, mi, sec, tz)
            if tag in ("pubDate",):
                import datetime as _dt
                mm = _re.match(r"(\d+)/(\d+)/(\d+) (\d+):(\d+):(\d+)"
                               r"([+-]\d+)?(?::(\d+))?", val)
                if mm:
                    y, mo, d, h, mi, sec = (int(v) for v in
                                            mm.groups()[:6])
                    tzh = int(mm.group(7) or 0)
                    tzm = int(mm.group(8) or 0)
                    dt = _dt.datetime(y, mo, d, h, mi, sec)
                    val = dt.strftime("%a, %d %b %Y %H:%M:%S ") + \
                        "%+03d%02d" % (tzh, tzm)
            out.append(f"<{tag}>{escape(val)}</{tag}>")
        wkb = r[geometry_col]
        if wkb is not None:
            w = G.wkt_from_wkb(bytes(wkb))
            kind = w.split(" ", 1)[0].split("(", 1)[0]
            if kind == "POINT":
                x, y = G.decode_point(bytes(wkb))
                out.append(f"<georss:point>{y:.15g} {x:.15g}"
                           "</georss:point>")
            elif kind == "LINESTRING":
                pts = G.decode_linestring(bytes(wkb))
                body = " ".join(f"{p[1]:.15g} {p[0]:.15g}" for p in pts)
                out.append(f"<georss:line>{body}</georss:line>")
            elif kind == "POLYGON":
                ring = G.decode_polygons(bytes(wkb))[0][0]
                body = " ".join(f"{p[1]:.15g} {p[0]:.15g}" for p in ring)
                out.append(f"<georss:polygon>{body}</georss:polygon>")
        out.append(f"</{item_tag}>")
    if use_atom:
        out.append("</feed>")
    else:
        out.append("</channel></rss>")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(out) + "\n")


# ---------------------------------------------------------------------------
# Arc/Info Generate driver (gdal/ogr/ogrsf_frmts/arcgen)
# ---------------------------------------------------------------------------

def read_arcgen(spark: SparkSession, path: str) -> DataFrame:
    """Arc Generate: points files are 'id,x,y[,z]' one-liners ending
    END; line/polygon files are 'id' + coordinate lines + END per
    feature with a final END; polygon vs line decided by whether the
    first feature's ring closes (ograrcgendatasource.cpp:100-200).
    2-D WKB out (Z dropped, the engine contract)."""
    lines = [ln.strip() for ln in
             open(path, "r", encoding="latin-1").read().splitlines()
             if ln.strip()]
    ends = [i for i, ln in enumerate(lines) if ln.upper() == "END"]
    multi = len(ends) >= 2
    rows = []
    if not multi:
        for fid, ln in enumerate(lines):
            if ln.upper() == "END":
                break
            toks = [t for t in ln.replace(",", " ").split()]
            rows.append((fid, int(float(toks[0])), bytearray(
                G.encode_point(float(toks[1]), float(toks[2])))))
        schema = "fid long, ID long, geometry binary"
        return spark.createDataFrame(rows, schema)
    feats = []
    i = 0
    while i < len(lines):
        if lines[i].upper() == "END":
            break
        fid_line = lines[i].replace(",", " ").split()
        ident = int(float(fid_line[0]))
        i += 1
        coords = []
        while i < len(lines) and lines[i].upper() != "END":
            toks = lines[i].replace(",", " ").split()
            coords.append((float(toks[0]), float(toks[1])))
            i += 1
        i += 1
        feats.append((ident, np.array(coords)))
    is_polygon = len(feats) > 0 and len(feats[0][1]) > 2 and \
        tuple(feats[0][1][0]) == tuple(feats[0][1][-1])
    for fid, (ident, pts) in enumerate(feats):
        wkb = G.encode_polygon([pts]) if is_polygon \
            else G.encode_linestring(pts)
        rows.append((fid, ident, bytearray(wkb)))
    return spark.createDataFrame(rows, "fid long, ID long, geometry binary")


# ---------------------------------------------------------------------------
# HTF (Hydrographic Transfer Format, gdal/ogr/ogrsf_frmts/htf)
# ---------------------------------------------------------------------------

def read_htf(spark: SparkSession, path: str,
             layer: str = "polygon") -> DataFrame:
    """HTF: 'polygon' layer (attribute lines + lat/lon/easting/northing
    coordinate rows; rings close on repeats of their first coordinate,
    ogrhtflayer.cpp:340-460) and 'sounding' layer ([NN] NAME = ...
    header fields, field-population key, one record per line)."""
    lines = open(path, "r", encoding="latin-1").read().splitlines()
    if layer == "polygon":
        rows = []
        i = 0
        while i < len(lines) and lines[i].strip() != "POLYGON DATA":
            i += 1
        i += 1
        fid = 0
        desc = ident = None
        rings, cur = [], []
        first = island = None
        in_island = False

        def finish():
            nonlocal desc, ident, rings, cur, first, island, in_island
            if len(cur) >= 3:
                if tuple(cur[0]) != tuple(cur[-1]):
                    cur.append(cur[0])
                rings.append(np.array(cur, np.float64))
            if rings:
                rows.append((len(rows), desc,
                             int(ident) if ident and ident.isdigit()
                             else None,
                             bytearray(G.encode_polygon(rings))))
            desc = ident = None
            rings, cur = [], []
            first = island = None
            in_island = False

        while i < len(lines):
            ln = lines[i].strip()
            i += 1
            if ln.startswith(";"):
                continue
            if ln == "":
                if rings or cur or desc is not None:
                    finish()
                continue
            if ln == "END OF POLYGON DATA":
                if rings or cur or desc is not None:
                    finish()
                break
            if ln.startswith("POLYGON DESCRIPTION: "):
                desc = ln[len("POLYGON DESCRIPTION: "):]
            elif ln.startswith("POLYGON IDENTIFIER: "):
                ident = ln[len("POLYGON IDENTIFIER: "):]
            elif ln.startswith(("SEAFLOOR COVERAGE", "POSITION ACCURACY",
                                "DEPTH ACCURACY")):
                pass
            else:
                toks = ln.split()
                if len(toks) != 4:
                    continue
                e, n = float(toks[2]), float(toks[3])
                if first is None:
                    first = (e, n)
                    cur.append((e, n))
                elif (e, n) == first:
                    if not in_island:
                        cur.append((e, n))
                        rings.append(np.array(cur, np.float64))
                        cur = []
                        in_island = True
                elif in_island and not cur:
                    island = (e, n)
                    cur.append((e, n))
                elif in_island and (e, n) == island:
                    cur.append((e, n))
                    rings.append(np.array(cur, np.float64))
                    cur = []
                else:
                    cur.append((e, n))
        return spark.createDataFrame(
            rows, "fid long, DESCRIPTION string, IDENTIFIER long, "
                  "geometry binary")

    # sounding layer
    import re as _re
    fields = []
    i = 0
    in_hdr = False
    while i < len(lines):
        ln = lines[i].strip()
        if ln.startswith("SOUNDING HEADER"):
            in_hdr = True
        elif in_hdr and _re.match(r"^\[\d\d\] .+=", ln):
            name = ln[5:ln.index(" =")].strip().replace(" ", "_")
            fields.append(name)
        elif ln == "END OF SOUNDING HEADER":
            in_hdr = False
        elif ln == "SOUNDING DATA":
            i += 1
            break
        i += 1
    presence = [True] * len(fields)
    if i < len(lines) and lines[i].strip().startswith("[") \
            and len(lines[i].strip()) == 2 + len(fields):
        fpk = lines[i].strip()
        presence = [fpk[1 + k] != "0" for k in range(len(fields))]
        i += 1
    num_int = {"REJECTED_SOUNDING", "FIX_NUMBER", "NBA_FLAG",
               "SOUND_VELOCITY", "PLOTTED_SOUNDING"}
    num_real = {"LATITUDE", "LONGITUDE", "EASTING", "NORTHING", "DEPTH",
                "TPE_POSITION", "TPE_DEPTH", "TIDE",
                "DEEP_WATER_CORRECTION", "VERTICAL_BIAS_CORRECTION"}
    rows = []
    fid = 0
    while i < len(lines):
        ln = lines[i].strip()
        i += 1
        if ln == "" or ln.startswith(";"):
            continue
        if ln == "END OF SOUNDING DATA":
            break
        toks = ln.split(" ")
        vals = {}
        t = 0
        for k, name in enumerate(fields):
            if not presence[k] or t >= len(toks):
                vals[name] = None
                continue
            v = toks[t]
            t += 1
            vals[name] = None if v == "*" else v
        east = float(vals.get("EASTING") or 0)
        north = float(vals.get("NORTHING") or 0)
        row = [fid]
        for name in fields:
            v = vals[name]
            if v is not None and name in num_int:
                v = int(float(v))
            elif v is not None and name in num_real:
                v = float(v)
            row.append(v)
        row.append(bytearray(G.encode_point(east, north)))
        rows.append(tuple(row))
        fid += 1
    schema = "fid long"
    for name in fields:
        t = ("long" if name in num_int
             else "double" if name in num_real else "string")
        schema += f", `{name}` {t}"
    schema += ", geometry binary"
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# SEG-P1 / UKOOA P1-90 seismic shotpoints (gdal/ogr/ogrsf_frmts/segukooa)
# ---------------------------------------------------------------------------

def _seg_points(path: str):
    """(linename, pointnumber, reshoot, lat, lon, easting, northing,
    depth) per record; handles both the SEG-P1 and UKOOA P1/90 column
    layouts (ogrsegukooalayer.cpp:294-470, 698)."""
    feats = []
    for ln in open(path, "r", encoding="latin-1").read().splitlines():
        ln = ln.rstrip()
        if not ln or ln[0] == "H" or len(ln) < 46:
            continue
        F = lambda off, n: ln[off - 1:off - 1 + n]
        if ln[0] == "A":        # UKOOA P1/90
            name = F(2, 12).rstrip()
            ptnum = int(F(20, 6))
            lat = (int(F(26, 2)) + int(F(28, 2)) / 60.0
                   + float(F(30, 5)) / 3600.0)
            if ln[34] == "S":
                lat = -lat
            lon = (int(F(36, 3)) + int(F(39, 2)) / 60.0
                   + float(F(41, 5)) / 3600.0)
            if ln[45] == "W":
                lon = -lon
            e = float(F(47, 9)) if len(ln) >= 64 else None
            n = float(F(56, 9)) if len(ln) >= 64 else None
            d = float(F(65, 6)) if len(ln) >= 70 else None
            feats.append((name, ptnum, None, lat, lon, e, n, d))
        else:                   # SEG-P1, standard latitude column 27
            # data-record test = DetectLatitudeColumn's N/S + E/W probe
            if len(ln) < 45 or ln[34] not in "NS" or ln[44] not in "EW":
                continue
            name = F(2, 16).rstrip()
            ptnum = int(F(18, 8))
            reshoot = F(26, 1)
            lat = (int(F(27, 2)) + int(F(29, 2)) / 60.0
                   + int(F(31, 4)) / 100.0 / 3600.0)
            if ln[34] == "S":
                lat = -lat
            lon = (int(F(36, 3)) + int(F(39, 2)) / 60.0
                   + int(F(41, 4)) / 100.0 / 3600.0)
            if ln[44] == "W":
                lon = -lon
            e = float(F(46, 8)) if len(ln) >= 61 else None
            n = float(F(54, 8)) if len(ln) >= 61 else None
            d = float(F(62, 5)) if len(ln) >= 66 else None
            feats.append((name, ptnum, reshoot, lat, lon, e, n, d))
    return feats


def read_segukooa(spark: SparkSession, path: str,
                  layer: str = "points") -> DataFrame:
    """SEG-P1 / UKOOA shotpoint file: 'points' = one row per record
    with lon/lat geometry; 'lines' = consecutive same-LINENAME points
    chained into linestrings (OGRSEGUKOOALineLayer)."""
    feats = _seg_points(path)
    if layer == "points":
        rows = [(i, f[0], f[1], f[2], f[4], f[3], f[5], f[6], f[7],
                 bytearray(G.encode_point(f[4], f[3])))
                for i, f in enumerate(feats)]
        return spark.createDataFrame(
            rows, "fid long, LINENAME string, POINTNUMBER long, "
                  "RESHOOTCODE string, LONGITUDE double, LATITUDE double, "
                  "EASTING double, NORTHING double, DEPTH double, "
                  "geometry binary")
    rows = []
    cur_name, pts = None, []
    for f in feats:
        if f[0] != cur_name:
            if pts and len(pts) >= 2:
                rows.append((len(rows), cur_name, bytearray(
                    G.encode_linestring(np.array(pts)))))
            cur_name, pts = f[0], []
        pts.append((f[4], f[3]))
    if pts and len(pts) >= 2:
        rows.append((len(rows), cur_name,
                     bytearray(G.encode_linestring(np.array(pts)))))
    return spark.createDataFrame(
        rows, "fid long, LINENAME string, geometry binary")


# ---------------------------------------------------------------------------
# GPS TrackMaker GTM (gdal/ogr/ogrsf_frmts/gtm/gtm.cpp)
# ---------------------------------------------------------------------------

def read_gtm(spark: SparkSession, path: str,
             layer: str = "waypoints") -> DataFrame:
    """GTM 211 binary: counted header strings, datum block, map images,
    then waypoints (lat/lon doubles, 10-char name, counted comment,
    icon, date seconds since the GTM epoch 631065600), trackpoints
    (25-byte records with a start flag) and track headers.  Layers
    'waypoints' and 'tracks' (gtm.cpp readHeaderNumbers /
    fetchNextWaypoint / fetchNextTrack)."""
    import datetime as _dt
    data = open(path, "rb").read()
    u16 = lambda o: struct.unpack_from("<H", data, o)[0]
    i32 = lambda o: struct.unpack_from("<i", data, o)[0]
    f32 = lambda o: struct.unpack_from("<f", data, o)[0]
    d64 = lambda o: struct.unpack_from("<d", data, o)[0]
    nwptstyles = i32(27)
    nwpts, ntcks = i32(35), i32(39)
    n_maps, n_tk = i32(63), i32(67)
    pos = 99
    for _ in range(4):
        pos += 2 + u16(pos)
    header_size = pos
    pos = header_size + 58      # datum block
    for _ in range(n_maps):
        pos += 2 + u16(pos)
        pos += 2 + u16(pos)
        pos += 30

    def gtm_time(secs):
        if secs == 0:
            return None
        dt = _dt.datetime.utcfromtimestamp(secs + 631065600)
        return dt.strftime("%Y/%m/%d %H:%M:%S")

    wpts = []
    for _ in range(nwpts):
        lat, lon = d64(pos), d64(pos + 8)
        name = data[pos + 16:pos + 26].decode("latin-1").rstrip()
        clen = u16(pos + 26)
        comment = data[pos + 28:pos + 28 + clen].decode("latin-1")
        icon = u16(pos + 28 + clen)
        date = i32(pos + 28 + clen + 3)
        wpts.append((lat, lon, name, comment, icon, gtm_time(date)))
        pos += 26 + 2 + clen + 15
    if layer == "waypoints":
        rows = [(i, w[2], w[3], w[4], w[5],
                 bytearray(G.encode_point(w[1], w[0])))
                for i, w in enumerate(wpts)]
        return spark.createDataFrame(
            rows, "fid long, name string, comment string, icon long, "
                  "time string, geometry binary")

    if nwpts != 0:
        for _ in range(nwptstyles):
            pos += 4
            pos += 2 + u16(pos)
            pos += 24
    tck_off = pos
    tcks = []
    for k in range(ntcks):
        o = tck_off + 25 * k
        tcks.append((d64(o), d64(o + 8), data[o + 20], i32(o + 16)))
    pos = tck_off + 25 * ntcks
    rows = []
    ti = 0
    for fid in range(n_tk):
        nlen = u16(pos)
        name = data[pos + 2:pos + 2 + nlen].decode("latin-1")
        ttype = data[pos + 2 + nlen]
        color = i32(pos + 3 + nlen)
        pos += 2 + nlen + 1 + 4 + 7
        pts = []
        if ti < len(tcks) and tcks[ti][2] == 1:
            pts.append((tcks[ti][1], tcks[ti][0]))
            ti += 1
            while ti < len(tcks) and tcks[ti][2] == 0:
                pts.append((tcks[ti][1], tcks[ti][0]))
                ti += 1
        if len(pts) >= 2:
            rows.append((fid, name, int(ttype), color, bytearray(
                G.encode_linestring(np.array(pts)))))
    return spark.createDataFrame(
        rows, "fid long, name string, type long, color long, "
              "geometry binary")


def read_gpx_distributed(spark: SparkSession, path: str,
                         n_ranges: int = 32) -> DataFrame:
    """Executor-side GPX waypoints parse: the file splits into byte
    ranges; each task regex-extracts the complete ``<wpt>`` elements
    whose start offset falls in its range (flat top-level elements, so
    ranges align trivially) and parses them with ElementTree. Output is
    identical to ``read_gpx(layer='waypoints')`` including file-order
    fids (per-range counts rebase the sequence numbers).

    The hierarchical layers (tracks / track_points) keep the driver
    parse: their ids depend on global document position by definition.
    """
    import os
    import re
    import xml.etree.ElementTree as ET

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from gdal_spark.functions import geometry as G

    fsize = os.path.getsize(path)
    n = max(1, min(n_ranges, fsize // (64 << 10) + 1))
    bounds = [fsize * k // n for k in range(n)] + [fsize]
    spec = spark.createDataFrame(
        [(k, bounds[k], bounds[k + 1]) for k in range(n)],
        "rid int, start long, end long")

    pat = re.compile(rb"<(?:\w+:)?wpt[\s/>]")
    closepat = re.compile(rb"</(?:\w+:)?wpt\s*>")
    tail = 4 << 20

    schema = ("rid int, seq long, ele double, name string, cmt string, "
              "desc string, src string, link1_href string, "
              "link1_text string, link1_type string, link2_href string, "
              "link2_text string, link2_type string, time string, "
              "geometry binary")

    def run(batches):
        for pdf in batches:
            rows = []
            for rid, s, e0 in zip(pdf["rid"], pdf["start"], pdf["end"]):
                s, e0 = int(s), int(e0)
                read_to = min(e0 + tail, fsize)
                with open(path, "rb") as fh:
                    fh.seek(s)
                    raw = fh.read(read_to - s)
                seq = 0
                for m in pat.finditer(raw):
                    if s + m.start() >= e0:
                        break
                    # element end: the next </wpt>, or a self-closing
                    # <wpt .../> (no nested wpt elements exist in GPX)
                    nxt = pat.search(raw, m.end())
                    limit = nxt.start() if nxt else len(raw)
                    cm = closepat.search(raw, m.start(), limit)
                    if cm is not None:
                        frag = raw[m.start():cm.end()]
                    else:
                        gt = raw.index(b">", m.start())
                        if raw[gt - 1:gt + 1] != b"/>":
                            raise RuntimeError(
                                "unterminated wpt element in range")
                        frag = raw[m.start():gt + 1]
                    el = ET.fromstring(frag)

                    def kids(el2, nm):
                        return [c for c in el2
                                if _strip_ns(c.tag) == nm]

                    def txt(el2, nm):
                        k = kids(el2, nm)
                        return k[0].text if k else None

                    links = kids(el, "link")
                    vals = [float(txt(el, "ele"))
                            if txt(el, "ele") is not None else None,
                            txt(el, "name"), txt(el, "cmt"),
                            txt(el, "desc"), txt(el, "src")]
                    for i in (1, 2):
                        ln = links[i - 1] if len(links) >= i else None
                        vals.extend([
                            ln.get("href") if ln is not None else None,
                            txt(ln, "text") if ln is not None else None,
                            txt(ln, "type") if ln is not None else None])
                    vals.append(_ogr_datetime(txt(el, "time")))
                    wkb = bytearray(G.encode_point(float(el.get("lon")),
                                                   float(el.get("lat"))))
                    rows.append((int(rid), seq, *vals, wkb))
                    seq += 1
            yield pd.DataFrame(rows, columns=[
                "rid", "seq", "ele", "name", "cmt", "desc", "src",
                "link1_href", "link1_text", "link1_type", "link2_href",
                "link2_text", "link2_type", "time", "geometry"])

    feats = spec.repartition(n, "rid").mapInPandas(run, schema).cache()
    counts = {r["rid"]: r["n"] for r in
              feats.groupBy("rid").agg(F.count("*").alias("n")).collect()}
    offsets, acc = {}, 0
    for k in range(n):
        offsets[k] = acc
        acc += counts.get(k, 0)
    odf = spark.createDataFrame([(k, v) for k, v in offsets.items()],
                                "rid int, off long")
    return (feats.join(F.broadcast(odf), "rid")
            .select((F.col("off") + F.col("seq")).alias("fid"),
                    "ele", "name", "cmt", "desc", "src", "link1_href",
                    "link1_text", "link1_type", "link2_href",
                    "link2_text", "link2_type", "time", "geometry"))


# ---------------------------------------------------------------------------
# JML — OpenJUMP JCS GML (gdal/ogr/ogrsf_frmts/jml/ogrjmllayer.cpp):
# JCSGMLInputTemplate column definitions (anywhere inside the template,
# ogrjmllayer.cpp:580) drive feature attribute extraction; geometry is
# inline GML under <geometry>.
# ---------------------------------------------------------------------------

def _jml_strip(tag: str) -> str:
    return tag.split("}")[-1]


def _jml_norm_datetime(v: str) -> str:
    """'2014/10/18' -> '2014/10/18 00:00:00';
    '2014-10-18T21:36:45.000+0200' -> '2014/10/18 21:36:45+02'."""
    import re
    v = v.strip()
    m = re.match(r"(\d{4})[-/](\d{2})[-/](\d{2})"
                 r"(?:[T ](\d{2}):(\d{2}):(\d{2})(?:\.\d+)?"
                 r"(?:([+-]\d{2}):?(\d{2})?)?)?$", v)
    if not m:
        return v
    y, mo, d, hh, mm, ss, tzh, tzm = m.groups()
    out = f"{y}/{mo}/{d} {hh or '00'}:{mm or '00'}:{ss or '00'}"
    if tzh:
        out += tzh if not tzm or tzm == "00" else f"{tzh}:{tzm}"
    return out


def parse_jml(path: str):
    """(field names, [(props, style, wkb)]) for the single JML layer."""
    import xml.etree.ElementTree as ET

    root = ET.parse(path).getroot()
    columns = []                    # (name, type, elem, attr, attrval, loc,
    #                                  locattr)
    for tmpl in root.iter():
        if _jml_strip(tmpl.tag) != "JCSGMLInputTemplate":
            continue
        for col in tmpl.iter():
            if _jml_strip(col.tag) != "column":
                continue
            name = typ = elem = attr = attrval = locattr = None
            loc = "body"
            for c in col:
                t = _jml_strip(c.tag)
                if t == "name":
                    name = c.text
                elif t == "type":
                    typ = c.text
                elif t == "valueElement":
                    elem = c.get("elementName")
                    attr = c.get("attributeName")
                    attrval = c.get("attributeValue")
                elif t == "valueLocation":
                    loc = c.get("position", "body")
                    locattr = c.get("attributeName")
            if name and elem:
                columns.append((name, typ or "STRING", elem, attr,
                                attrval, loc, locattr))
        break

    feats = []
    colls = [e for e in root.iter()
             if _jml_strip(e.tag) == "featureCollection"]
    scope = colls[0] if colls else root
    for feat in scope.iter():
        if _jml_strip(feat.tag) != "feature":
            continue
        feats.append(_jml_feature(feat, columns))
    return [c[0] for c in columns], feats


def _jml_feature(feat, columns):
    """One <feature> element -> (props, style, wkb) per the template
    columns (shared by the driver and executor-side parses)."""
    props = {}
    style = None
    wkb = None
    for el in feat.iter():
        t = _jml_strip(el.tag)
        if t == "geometry" and wkb is None:
            for g in el:
                wkb = _gml_geom_wkb(g)
                if wkb:
                    break
            continue
        for (name, typ, elem, attr, attrval, loc, locattr) in columns:
            if t != elem:
                continue
            if attr and attrval is not None and \
                    el.get(attr) != attrval:
                continue
            if loc == "attribute":
                v = el.get(locattr or attr)
            else:
                v = el.text or ""
            if v == "":
                continue                 # empty body = unset field
            if typ == "INTEGER":
                v = int(v)
            elif typ == "DOUBLE":
                v = float(v)
            elif typ == "DATE":
                v = _jml_norm_datetime(v)
            props[name] = v
    if "R_G_B" in props and wkb is not None:
        # polygons brush-fill, other geometries pen-stroke
        # (ogrjmllayer.cpp style mapping)
        kind = wkb[1] if wkb[0] == 1 else wkb[4]
        if kind in (3, 6):
            style = f"BRUSH(fc:#{props['R_G_B']})"
        else:
            style = f"PEN(c:#{props['R_G_B']})"
    return props, style, wkb


def read_gtm_distributed(spark: SparkSession, path: str,
                         batch: int = 4096) -> DataFrame:
    """Executor-side GTM waypoint decode, same output as
    ``read_gtm(layer='waypoints')``. Waypoint records are
    length-chained (counted comment strings), so the driver walks the
    chain with seeks and 2-byte reads (one u16 per record, no
    string/geometry decode); the (offset, length) pairs fan out in
    batches and each task reads only its own records. Tracks keep the
    driver parse: the trackpoint start-flag chain is sequential by
    definition."""
    import pandas as _pd

    from gdal_spark.functions import geometry as _G

    spans = []
    with open(path, "rb") as fh:
        head = fh.read(99)
        nwpts = struct.unpack_from("<i", head, 35)[0]
        n_maps = struct.unpack_from("<i", head, 63)[0]

        def u16(at: int) -> int:
            fh.seek(at)
            return struct.unpack("<H", fh.read(2))[0]

        # header strings, datum block, map images, then the waypoints
        pos = 99
        for _ in range(4):
            pos += 2 + u16(pos)
        pos += 58
        for _ in range(n_maps):
            pos += 2 + u16(pos)
            pos += 2 + u16(pos)
            pos += 30
        for _ in range(nwpts):
            size = 26 + 2 + u16(pos + 26) + 15
            spans.append((len(spans), pos, size))
            pos += size
    spec = spark.createDataFrame(spans, "fid long, off long, size long")

    def run(batches):
        import datetime as _dt
        with open(path, "rb") as fh:
            for pdf in batches:
                rows = []
                for fid, o, size in zip(pdf["fid"], pdf["off"], pdf["size"]):
                    fh.seek(int(o))
                    rec = fh.read(int(size))
                    lat, lon = struct.unpack_from("<2d", rec, 0)
                    name = rec[16:26].decode("latin-1").rstrip()
                    clen = struct.unpack_from("<H", rec, 26)[0]
                    comment = rec[28:28 + clen].decode("latin-1")
                    icon = struct.unpack_from("<H", rec, 28 + clen)[0]
                    date = struct.unpack_from("<i", rec, 28 + clen + 3)[0]
                    t = None
                    if date:
                        t = _dt.datetime.utcfromtimestamp(
                            date + 631065600).strftime("%Y/%m/%d %H:%M:%S")
                    rows.append((int(fid), name, comment, icon, t,
                                 bytearray(_G.encode_point(lon, lat))))
                yield _pd.DataFrame(rows, columns=[
                    "fid", "name", "comment", "icon", "time", "geometry"])

    return spec.repartition(max(1, nwpts // batch)).mapInPandas(
        run, "fid long, name string, comment string, icon long, "
             "time string, geometry binary")


def read_jml(spark: SparkSession, path: str) -> DataFrame:
    import json as _json
    import os as _os
    _, feats = parse_jml(path)
    rows = []
    for i, (props, style, wkb) in enumerate(feats):
        if style:
            props = {**props, "OGR_STYLE": style}
        rows.append((_os.path.basename(path), i, _json.dumps(props), wkb))
    return spark.createDataFrame(rows, FEATURE_SCHEMA)


def read_jml_distributed(spark: SparkSession, path: str,
                         n_ranges: int = 32) -> DataFrame:
    """Executor-side JML feature parse, same output as
    :func:`read_jml`: the driver parses only the JCSGMLInputTemplate
    header (metadata-scale schema), executors regex-extract complete
    <feature> elements by byte range (flat, never nested) and apply the
    shared per-feature rules; file-order fids rebase from per-range
    counts (the read_gpx_distributed pattern)."""
    import json as _json
    import os as _os
    import re as _re
    import xml.etree.ElementTree as ET

    # header: template columns (stop at the first <feature>)
    head = b""
    with open(path, "rb") as fh:
        while b"</JCSGMLInputTemplate>" not in head:
            chunk = fh.read(1 << 20)
            if not chunk:
                break
            head += chunk
    mt = _re.search(rb"<JCSGMLInputTemplate>.*?</JCSGMLInputTemplate>",
                    head, _re.S)
    columns = []
    if mt is not None:
        tmpl = ET.fromstring(mt.group(0))
        # reuse the template-column rules from parse_jml
        for col in tmpl.iter():
            if _jml_strip(col.tag) != "column":
                continue
            name = typ = elem = attr = attrval = locattr = None
            loc = "body"
            for c in col:
                t = _jml_strip(c.tag)
                if t == "name":
                    name = c.text
                elif t == "type":
                    typ = c.text
                elif t == "valueElement":
                    elem = c.get("elementName")
                    attr = c.get("attributeName")
                    attrval = c.get("attributeValue")
                elif t == "valueLocation":
                    loc = c.get("position", "body")
                    locattr = c.get("attributeName")
            if name and elem:
                columns.append((name, typ or "STRING", elem, attr,
                                attrval, loc, locattr))

    fsize = _os.path.getsize(path)
    n = max(1, min(n_ranges, fsize // (64 << 10) + 1))
    bounds = [fsize * k // n for k in range(n)] + [fsize]
    spec = spark.createDataFrame(
        [(k, bounds[k], bounds[k + 1]) for k in range(n)],
        "rid int, start long, end long")
    pat = _re.compile(rb"<(?:\w+:)?feature[\s>]")
    closepat = _re.compile(rb"</(?:\w+:)?feature\s*>")
    tail = 8 << 20
    base = _os.path.basename(path)
    # namespace prefixes (gml:) are declared on the document root —
    # re-declare them on a wrapper so fragments parse standalone
    mroot = _re.search(rb"<JCSDataFile\b([^>]*)>", head)
    decls = b" ".join(_re.findall(rb'xmlns(?::\w+)?="[^"]*"',
                                  mroot.group(1) if mroot else b""))
    if b"gml" not in decls:
        decls += b' xmlns:gml="http://www.opengis.net/gml"'

    def run(batches):
        for pdf in batches:
            rows = []
            for rid, s, e0 in zip(pdf["rid"], pdf["start"], pdf["end"]):
                s, e0 = int(s), int(e0)
                with open(path, "rb") as fh:
                    fh.seek(s)
                    raw = fh.read(min(e0 + tail, fsize) - s)
                seq = 0
                for m in pat.finditer(raw):
                    if s + m.start() >= e0:
                        break
                    cm = closepat.search(raw, m.end())
                    if cm is None:
                        raise RuntimeError("unterminated <feature>")
                    frag = (b"<r " + decls + b">"
                            + raw[m.start():cm.end()] + b"</r>")
                    el = ET.fromstring(frag)[0]
                    props, style, wkb = _jml_feature(el, columns)
                    if style:
                        props = {**props, "OGR_STYLE": style}
                    rows.append((int(rid), seq, _json.dumps(props),
                                 bytearray(wkb) if wkb else None))
                    seq += 1
            yield pd.DataFrame(rows, columns=["rid", "seq", "properties",
                                              "geometry"])

    feats = spec.repartition(n, "rid").mapInPandas(
        run, "rid int, seq long, properties string, geometry binary"
    ).cache()
    counts = {r["rid"]: r["n"] for r in
              feats.groupBy("rid").agg(F.count("*").alias("n")).collect()}
    offsets, acc = {}, 0
    for k in range(n):
        offsets[k] = acc
        acc += counts.get(k, 0)
    odf = spark.createDataFrame([(k, v) for k, v in offsets.items()],
                                "rid int, off long")
    return (feats.join(F.broadcast(odf), "rid")
            .select(F.lit(base).alias("source"),
                    (F.col("off") + F.col("seq")).alias("fid"),
                    "properties", "geometry"))


# ---------------------------------------------------------------------------
# Geoconcept Export (.gxt/.txt) — gdal/ogr/ogrsf_frmts/geoconcept/:
# //$-directive header (DELIMITER, SYSCOORD, FIELDS Class=..;Subclass=..;
# Kind=..;Fields=tab-joined list) then one record per line.  Private#X/Y
# anchor the geometry; Private#Graphics carries the vertex tail
# (Kind 1 point, 2/3 line, 4/5 polygon -> MultiPolygon).
# ---------------------------------------------------------------------------

def parse_gxt(path: str):
    """{layer name: (field names, [(props, wkb)])}"""
    layers = {}
    delim = "\t"
    current = None
    for raw in open(path, encoding="latin-1", errors="replace"):
        line = raw.rstrip("\r\n")
        if line.startswith("//$"):
            body = line[3:]
            if body.startswith("DELIMITER"):
                v = body.split('"', 2)[1] if '"' in body else "\t"
                delim = "\t" if v in ("tab", "\t") else v
            elif body.startswith("FIELDS"):
                spec = dict(kv.split("=", 1)
                            for kv in body[7:].split(";") if "=" in kv)
                fields = spec.get("Fields", "").split("\t")
                name = f"{spec.get('Class')}.{spec.get('Subclass')}"
                current = (name, int(spec.get("Kind", "1")), fields)
                layers.setdefault(name, (
                    [f for f in fields if not f.startswith("Private#")],
                    []))
            continue
        if not line.strip() or current is None:
            continue
        name, kind, fields = current
        tok = line.split(delim)
        props = {}
        x = y = None
        graphics = []
        i = 0
        for f in fields:
            if i >= len(tok):
                break
            if f == "Private#X":
                x = float(tok[i])
            elif f == "Private#Y":
                y = float(tok[i])
            elif f == "Private#Graphics":
                n = int(tok[i])
                vals = [float(v) for v in tok[i + 1:i + 1 + 2 * n]]
                graphics = list(zip(vals[0::2], vals[1::2]))
                i += 2 * n
            elif not f.startswith("Private#"):
                props[f] = tok[i]
            i += 1
        wkb = None
        if x is not None and y is not None:
            if kind in (4, 5) and graphics:
                ring = [(x, y)] + graphics
                if ring[0] != ring[-1]:
                    ring.append(ring[0])
                wkb = G.encode_multipolygon([[np.array(ring)]])
            elif kind in (2, 3) and graphics:
                wkb = G.encode_linestring(np.array([(x, y)] + graphics))
            else:
                wkb = G.encode_point(x, y)
        layers[name][1].append((props, wkb))
    return layers


def read_gxt(spark: SparkSession, path: str,
             layer: str | None = None) -> DataFrame:
    import json as _json
    import os as _os
    layers = parse_gxt(path)
    if layer is None:
        if len(layers) != 1:
            raise ValueError(f"pick one of {sorted(layers)}")
        layer = next(iter(layers))
    _, feats = layers[layer]
    rows = [(_os.path.basename(path), i, _json.dumps(props), wkb)
            for i, (props, wkb) in enumerate(feats)]
    return spark.createDataFrame(rows, FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Idrisi vector (.vct + .vdc/.adc/.avl) driver
# (gdal/ogr/ogrsf_frmts/idrisi/ogridrisilayer.cpp)
# ---------------------------------------------------------------------------

def read_idrisi_vct(spark: SparkSession, path: str) -> DataFrame:
    """Idrisi vector: 1-byte type tag + feature count at offset 1,
    little-endian doubles from 0x105 (ogridrisilayer.cpp:76,258).
    Points: (id,x,y); lines: (id,bbox4,nnodes,xy*); polygons:
    (id,bbox4,nparts,ntotal,counts,xy*) with first ring exterior.
    Attributes join from the .avl value table via the .adc schema
    (fields after the id, tab-separated lines in feature order)."""
    import os
    import struct as _struct

    from gdal_spark.functions.geometry import wkb_from_wkt
    data = open(path, "rb").read()
    gtype = data[0]
    vdc = {}
    for ext in (".vdc", ".VDC"):
        p = os.path.splitext(path)[0] + ext
        if os.path.exists(p):
            for ln in open(p, encoding="latin-1"):
                if ":" in ln:
                    k, v = ln.split(":", 1)
                    vdc[k.strip()] = v.strip()
    fields = [("id", "double")]
    avl_rows = []
    adc_path = next((os.path.splitext(path)[0] + e
                     for e in (".adc", ".ADC")
                     if os.path.exists(os.path.splitext(path)[0] + e)),
                    None)
    avl_path = next((os.path.splitext(path)[0] + e
                     for e in (".avl", ".AVL")
                     if os.path.exists(os.path.splitext(path)[0] + e)),
                    None)
    if adc_path and avl_path:
        adc_fields = []
        name = None
        for ln in open(adc_path, encoding="latin-1"):
            s = ln.rstrip("\n")
            if s.startswith("field ") and ":" in s:
                name = s.split(":", 1)[1].strip()
            elif s.startswith("data type") and name is not None:
                t = s.split(":", 1)[1].strip()
                adc_fields.append((name, t))
                name = None
        # field 0 is the id; the rest become attributes
        for nm, t in adc_fields[1:]:
            fields.append((nm, {"integer": "int",
                                "real": "double"}.get(t, "string")))
        for ln in open(avl_path, encoding="latin-1"):
            if ln.strip():
                avl_rows.append(ln.rstrip("\n").split("\t")[1:])

    rows = []
    pos = 0x105
    fid = 0
    n = len(data)

    def d(k=1):
        nonlocal pos
        v = _struct.unpack_from(f"<{k}d", data, pos)
        pos += 8 * k
        return v if k > 1 else v[0]

    def u32(k=1):
        nonlocal pos
        v = _struct.unpack_from(f"<{k}I", data, pos)
        pos += 4 * k
        return v if k > 1 else v[0]

    while pos < n:
        try:
            if gtype == 1:  # points
                oid, x, y = d(3)
                wkt = f"POINT ({x:.10g} {y:.10g})"
            elif gtype == 2:  # lines
                oid = d()
                d(4)
                nn = u32()
                pts = _struct.unpack_from(f"<{2 * nn}d", data, pos)
                pos += 16 * nn
                wkt = "LINESTRING (" + ",".join(
                    f"{pts[2 * i]:.10g} {pts[2 * i + 1]:.10g}"
                    for i in range(nn)) + ")"
            else:  # polygons
                oid = d()
                d(4)
                nparts, ntotal = u32(2)
                counts = list(u32(nparts)) if nparts > 1 else [u32()]
                pts = _struct.unpack_from(f"<{2 * ntotal}d", data, pos)
                pos += 16 * ntotal
                rings = []
                k = 0
                for c in counts:
                    rings.append("(" + ",".join(
                        f"{pts[2 * (k + i)]:.10g} "
                        f"{pts[2 * (k + i) + 1]:.10g}"
                        for i in range(c)) + ")")
                    k += c
                wkt = "POLYGON (" + ",".join(rings) + ")"
        except _struct.error:
            break
        attrs = avl_rows[fid] if fid < len(avl_rows) else []
        row = [fid + 1, float(oid)]
        for i, (_nm, t) in enumerate(fields[1:]):
            v = attrs[i] if i < len(attrs) else None
            if v is not None and t == "int":
                v = int(v)
            elif v is not None and t == "double":
                v = float(v)
            row.append(v)
        row.append(bytearray(wkb_from_wkt(wkt)))
        rows.append(tuple(row))
        fid += 1

    schema = "fid bigint, id double"
    for nm, t in fields[1:]:
        schema += f", {nm} {t}"
    schema += ", geometry binary"
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# PDS vector table driver (gdal/ogr/ogrsf_frmts/pds/ogrpdslayer.cpp)
# ---------------------------------------------------------------------------

def read_pds_table(spark: SparkSession, lbl_path: str) -> DataFrame:
    """PDS TABLE: ^TABLE = ("file", record) pointer, COLUMN objects
    from the inline label or the ^STRUCTURE .FMT file (NAME,
    DATA_TYPE, START_BYTE, BYTES); LONGITUDE/LATITUDE columns form
    POINT geometry (ogrpdslayer.cpp:269-290). Fixed-length records
    make this a perfectly splittable byte-range scan: the driver
    parses only the label, executors read and slice their own record
    ranges (mapInPandas over range rows)."""
    import os
    import re as _re

    from pyspark.sql import types as T

    from gdal_spark.raster.formats import _pds_label, _pds_value
    kv = _pds_label(lbl_path)
    rb = int(_pds_value(kv.get("RECORD_BYTES", "0")))
    ptr = kv.get("^TABLE") or kv.get("TABLE.^STRUCTURE")
    m = _re.match(r'\("?([^",]+)"?\s*,\s*(\d+)\)', kv.get("^TABLE", ""))
    if m:
        fname, rec = m.group(1), int(m.group(2))
    else:
        fname, rec = _pds_value(kv.get("^TABLE", "")), 1
    dirname = os.path.dirname(lbl_path) or "."
    tpath = next((os.path.join(dirname, f)
                  for f in os.listdir(dirname)
                  if f.lower() == fname.lower()), None)
    if tpath is None:
        raise FileNotFoundError(fname)
    nrows = int(_pds_value(kv.get("TABLE.ROWS",
                                  kv.get("FILE_RECORDS", "0"))))
    cols = []
    fmt_name = _pds_value(kv.get("TABLE.^STRUCTURE", ""))
    if fmt_name:
        fmt_path = next((os.path.join(dirname, f)
                         for f in os.listdir(dirname)
                         if f.lower() == fmt_name.lower()), None)
        fkv = _pds_label(fmt_path)
        # _pds_label flattens repeated COLUMN objects; reparse serially
        cols = _parse_pds_columns(open(fmt_path, encoding="latin-1"))
    else:
        cols = _parse_pds_columns(open(lbl_path, encoding="latin-1"))
    fields = []
    for c in cols:
        t = ("double" if "REAL" in c["type"] else
             "bigint" if "INTEGER" in c["type"] else "string")
        fields.append((c["name"], t, c["start"] - 1, c["bytes"]))
    names = {c["name"]: i for i, c in enumerate(cols)}

    data = open(tpath, "rb").read()
    offset = (rec - 1) * rb
    avail = (len(data) - offset) // rb if rb else 0
    rows = []
    from gdal_spark.functions.geometry import wkb_from_wkt
    for r in range(min(nrows, avail)):
        base = offset + r * rb
        rowvals = []
        lon = lat = None
        for name, t, s, nb in fields:
            txt = data[base + s:base + s + nb].decode("latin-1").strip()
            v = None
            if txt:
                if t == "double":
                    # atoi/CPLAtof semantics: some PDS labels declare
                    # overlapping widths; parse the leading token only
                    v = float(txt.split()[0])
                elif t == "bigint":
                    v = int(txt.split()[0])
                else:
                    v = txt.strip('"')
            if name == "LONGITUDE" and v is not None:
                lon = v
            elif name == "LATITUDE" and v is not None:
                lat = v
            rowvals.append(v)
        wkb = (bytearray(wkb_from_wkt(f"POINT ({lon:.10g} {lat:.10g})"))
               if lon is not None and lat is not None else None)
        rows.append(tuple(rowvals) + (wkb,))
    schema = ", ".join(f"`{n}` {t}" for n, t, _s, _b in fields) \
        + ", geometry binary"
    df = spark.createDataFrame(rows, schema)
    # the label ROWS count is authoritative for the reference even when
    # the payload is truncated (ogr_pds_1 expects it); expose it
    df = df.withColumn("_label_rows", F.lit(nrows))
    return df


def _parse_pds_columns(fh) -> list[dict]:
    cols = []
    cur = None
    for ln in fh:
        s = ln.strip()
        if "=" not in s:
            continue
        k, v = (x.strip() for x in s.split("=", 1))
        if k == "OBJECT" and v == "COLUMN":
            cur = {}
        elif k == "END_OBJECT" and cur is not None:
            if {"name", "start", "bytes"} <= set(cur):
                cols.append(cur)
            cur = None
        elif cur is not None:
            if k == "NAME":
                cur["name"] = v.strip('"')
            elif k == "DATA_TYPE":
                cur["type"] = v
            elif k == "START_BYTE":
                cur["start"] = int(v)
            elif k == "BYTES":
                cur["bytes"] = int(v)
    return cols


# ---------------------------------------------------------------------------
# EPIInfo .rec driver (gdal/ogr/ogrsf_frmts/rec/ogrreclayer.cpp)
# ---------------------------------------------------------------------------

def read_rec(spark: SparkSession, path: str) -> DataFrame:
    """EPIInfo REC: first line = field count; per-field header lines
    (name at cols 2-11, type code at 33-36, width at 37-40;
    ogrreclayer.cpp:44-130); data records assembled from lines ending
    '!' or '^' ('?' marks deleted) and sliced at cumulative field
    offsets (:162-250)."""
    lines = open(path, encoding="latin-1").read().splitlines()
    nfields = int(lines[0].strip())
    fields = []
    for ln in lines[1:1 + nfields]:
        name = ln[1:11].strip()
        tcode = int(ln[32:36].strip() or 0)
        width = int(ln[36:40].strip() or 0)
        if width == 0:
            continue
        if tcode == 12:
            t = "int"
        elif (100 < tcode < 120) or \
                (tcode in (0, 6, 102) and width >= 3):
            t = "double"
        elif tcode in (0, 6):
            t = "int"
        else:
            t = "string"
        fields.append((name, t, width))
    reclen = sum(w for _n, _t, w in fields)
    rows = []
    buf = ""
    for ln in lines[1 + nfields:]:
        if not ln or ln[0] == chr(26):
            break
        if ln.endswith("?"):
            buf = ""
            continue
        if not (ln.endswith("!") or ln.endswith("^")):
            break
        buf += ln[:-1]
        if len(buf) >= reclen:
            off = 0
            vals = []
            for name, t, w in fields:
                txt = buf[off:off + w].strip()
                off += w
                if not txt:
                    vals.append(None)
                elif t == "int":
                    vals.append(int(txt))
                elif t == "double":
                    vals.append(float(txt))
                else:
                    vals.append(txt)
            rows.append(tuple(vals))
            buf = ""
    schema = ", ".join(f"`{n}` {t}" for n, t, _w in fields)
    return spark.createDataFrame(rows, schema)


def read_kml_distributed(spark: SparkSession, path: str,
                         n_ranges: int = 32) -> DataFrame:
    """Executor-side KML Placemark parse, same output as
    ``read_kml(layer=None)``: the file splits into byte ranges, each
    task regex-extracts complete ``<Placemark>`` elements whose start
    offset falls in its range (Placemarks never nest inside each
    other), and file-order fids are rebased from per-range counts —
    the same pattern as ``read_gpx_distributed``. This removes the
    driver-parse caveat for multi-GB flat KML exports; Folder-scoped
    layer reads keep the driver parse (their membership depends on
    document structure)."""
    import os
    import re
    import xml.etree.ElementTree as ET

    fsize = os.path.getsize(path)
    n = max(1, min(n_ranges, fsize // (64 << 10) + 1))
    bounds = [fsize * k // n for k in range(n)] + [fsize]
    spec = spark.createDataFrame(
        [(k, bounds[k], bounds[k + 1]) for k in range(n)],
        "rid int, start long, end long")
    pat = re.compile(rb"<(?:\w+:)?Placemark[\s>]")
    closepat = re.compile(rb"</(?:\w+:)?Placemark\s*>")
    tail = 8 << 20

    schema = "rid int, seq long, Name string, description string, " \
             "geometry binary"

    def run(batches):
        for pdf in batches:
            rows = []
            for rid, s, e0 in zip(pdf["rid"], pdf["start"], pdf["end"]):
                s, e0 = int(s), int(e0)
                with open(path, "rb") as fh:
                    fh.seek(s)
                    raw = fh.read(min(e0 + tail, fsize) - s)
                seq = 0
                for m in pat.finditer(raw):
                    if s + m.start() >= e0:
                        break
                    cm = closepat.search(raw, m.end())
                    if cm is None:
                        raise RuntimeError(
                            "unterminated Placemark in range")
                    frag = raw[m.start():cm.end()]
                    el = ET.fromstring(frag)
                    name = desc = None
                    wkb = None
                    for c in el:
                        t = _strip_ns(c.tag)
                        if t == "name":
                            name = c.text
                        elif t == "description":
                            desc = c.text
                        elif t in ("Point", "LineString", "Polygon",
                                   "MultiGeometry"):
                            wkb = _kml_geom_wkb(c)
                    rows.append((int(rid), seq, name, desc,
                                 bytearray(wkb) if wkb else None))
                    seq += 1
            yield pd.DataFrame(rows, columns=[
                "rid", "seq", "Name", "description", "geometry"])

    feats = spec.repartition(n, "rid").mapInPandas(run, schema).cache()
    counts = {r["rid"]: r["n"] for r in
              feats.groupBy("rid").agg(F.count("*").alias("n"))
              .collect()}
    offsets, acc = {}, 0
    for k in range(n):
        offsets[k] = acc
        acc += counts.get(k, 0)
    odf = spark.createDataFrame([(k, v) for k, v in offsets.items()],
                                "rid int, off long")
    return (feats.join(F.broadcast(odf), "rid")
            .select((F.col("off") + F.col("seq")).alias("fid"),
                    "Name", "description", "geometry"))


# ---------------------------------------------------------------------------
# SVG driver (Cloudmade vector stream)
# (gdal/ogr/ogrsf_frmts/svg/ogrsvglayer.cpp)
# ---------------------------------------------------------------------------

def _svg_parse_d(d_attr: str) -> np.ndarray:
    """Path 'd' -> vertices; y values negate (the Cloudmade flip,
    ogrsvglayer.cpp:276), 'l' linetos are relative, Z closes."""
    pts: list[tuple[float, float]] = []
    relative = False
    x = y = 0.0
    num: list[str] = []
    buf = ""
    close = False
    for ch in d_attr + " ":
        if ch in "Mm":
            continue
        if ch == "L":
            relative = False
        elif ch == "l":
            relative = True
        elif ch in "zZ":
            close = True
        elif ch in "+-.0123456789":
            buf += ch
        elif ch == " ":
            if buf:
                num.append(buf)
                buf = ""
            if len(num) == 2:
                px, py = float(num[0]), -float(num[1])
                if relative and pts:
                    x += px
                    y += py
                else:
                    x, y = px, py
                pts.append((x, y))
                num = []
    if close and pts and pts[0] != pts[-1]:
        pts.append(pts[0])
    return np.array(pts)


def read_svg(spark: SparkSession, path: str, layer: str = "points"
             ) -> DataFrame:
    """Cloudmade SVG read: three layers — 'points' (circle.point),
    'lines' (path.line), 'polygons' (path.polygon); attributes from the
    cm:* child elements. One small document = one driver parse (as in
    the reference's expat stream)."""
    import xml.etree.ElementTree as ET
    root = ET.parse(path).getroot()
    rows = []
    fid = 0

    def props_of(el) -> str:
        p = {}
        for child in el:
            tag = child.tag.rsplit("}", 1)[-1]
            if child.tag.startswith("{http://cloudmade.com/"):
                p[tag] = (child.text or "").strip()
        return json.dumps(p, sort_keys=True)

    for el in root.iter():
        tag = el.tag.rsplit("}", 1)[-1]
        cls = el.get("class", "")
        if layer == "points" and tag == "circle" and cls == "point":
            x = float(el.get("cx", "0"))
            y = -float(el.get("cy", "0"))
            rows.append((path, fid, props_of(el),
                         bytearray(G.encode_point(x, y))))
            fid += 1
        elif layer == "lines" and tag == "path" and cls == "line":
            pts = _svg_parse_d(el.get("d", ""))
            if len(pts):
                rows.append((path, fid, props_of(el),
                             bytearray(G.encode_linestring(pts))))
                fid += 1
        elif layer == "polygons" and tag == "path" and cls == "polygon":
            pts = _svg_parse_d(el.get("d", ""))
            if len(pts):
                rows.append((path, fid, props_of(el),
                             bytearray(G.encode_polygon([pts]))))
                fid += 1
    return spark.createDataFrame(rows, FEATURE_SCHEMA)


def write_mif(df: DataFrame, path: str, delimiter: str = ",") -> None:
    """MapInfo MIF/MID writer (round 5 — writer parity for pipeline
    sinks; gdal/ogr/ogrsf_frmts/mitab/mitab_miffile.cpp WriteMIFHeader /
    MIFFile::WriteFeature). Columns: every DataFrame column except
    ``fid``/``ogr_style``/``geometry`` becomes a MIF column (long ->
    Integer, double -> Float, boolean -> Logical, else Char(254));
    geometry WKB writes as Point/Line/Pline [Multiple]/Region records,
    null geometry as NONE. Round-trips through :func:`read_mif`."""
    import os

    from gdal_spark.functions import geometry as G

    cols = [(f.name, f.dataType.simpleString()) for f in df.schema.fields
            if f.name not in ("fid", "ogr_style", "geometry")]

    def mif_type(t: str) -> str:
        if t in ("bigint", "int", "long", "smallint"):
            return "Integer"
        if t in ("double", "float"):
            return "Float"
        if t == "boolean":
            return "Logical"
        return "Char(254)"

    order = ["fid"] if "fid" in df.columns else []
    rows = df.orderBy(*order).collect() if order else df.collect()

    def fmt(v: float) -> str:
        return repr(float(v))

    with open(path, "w") as mif, \
            open(os.path.splitext(path)[0] + ".mid", "w", newline="") as mid:
        mif.write("Version 300\n")
        mif.write('Charset "Neutral"\n')
        mif.write(f'Delimiter "{delimiter}"\n')
        mif.write(f"Columns {len(cols)}\n")
        for nm, t in cols:
            mif.write(f"  {nm} {mif_type(t)}\n")
        mif.write("Data\n\n")
        for r in rows:
            wkb = r["geometry"] if "geometry" in df.columns else None
            if wkb is None:
                mif.write("NONE\n")
            else:
                wkb = bytes(wkb)
                gtype = wkb[1] if wkb[0] == 1 else wkb[4]
                if gtype == 1:
                    x, y = G.decode_point(wkb)
                    mif.write(f"Point {fmt(x)} {fmt(y)}\n")
                elif gtype == 2:
                    pts = G.decode_linestring(wkb)
                    if len(pts) == 2:
                        mif.write(f"Line {fmt(pts[0][0])} {fmt(pts[0][1])} "
                                  f"{fmt(pts[1][0])} {fmt(pts[1][1])}\n")
                    else:
                        mif.write(f"Pline {len(pts)}\n")
                        for x, y in pts:
                            mif.write(f"{fmt(x)} {fmt(y)}\n")
                elif gtype == 5:
                    lines = [G.decode_linestring(m)
                             for m in G.decode_collection(wkb)]
                    mif.write(f"Pline Multiple {len(lines)}\n")
                    for pts in lines:
                        mif.write(f"{len(pts)}\n")
                        for x, y in pts:
                            mif.write(f"{fmt(x)} {fmt(y)}\n")
                elif gtype in (3, 6):
                    rings = [ring for poly in G.decode_polygons(wkb)
                             for ring in poly]
                    mif.write(f"Region {len(rings)}\n")
                    for ring in rings:
                        mif.write(f"{len(ring)}\n")
                        for x, y in ring:
                            mif.write(f"{fmt(x)} {fmt(y)}\n")
                else:
                    raise ValueError(
                        f"MIF writer: unsupported geometry type {gtype}")
            vals = []
            for nm, t in cols:
                v = r[nm]
                if v is None:
                    vals.append("")
                elif t == "boolean":
                    vals.append("T" if v else "F")
                elif t in ("string", "varchar"):
                    vals.append(f'"{v}"')
                else:
                    vals.append(str(v))
            mid.write(delimiter.join(vals) + "\n")
