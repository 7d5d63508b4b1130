"""Layer-algebra operators (OGRLayer::Intersection/Clip/Erase/Identity/
Update family, gdal/ogr/ogrsf_frmts/generic/ogrlayer.cpp:2016-3722).

Two method-layer regimes:

- **point input layer** (the engine's primary case — the pages point
  layer): Intersection = inner PIP join, Clip = same geometry-only, Erase
  = anti PIP join, Identity = left PIP join, Update = key-based patch.
  These are thin compositions over spatial_join.point_in_polygon_join —
  the reference's nested loop + spatial-filter pushdown
  (ogrlayer.cpp:2090-2097) becomes the broadcast/shuffle two-path join.

- **polygon input vs polygon method layer** (grid/tile cells — the
  dominant method layer at scale): per (subject, cell) pair, convex cells
  take exact Sutherland–Hodgman clipping (geometry.clip_ring_convex);
  arbitrary simple/holed/multi-part operands take the Martinez–Rueda
  plane-sweep boolean kernel (functions/clipping.py) — the reference
  delegates these to GEOS (ogrgeometry.cpp:2922-3310). Difference
  emissions use an exact rectilinear grid-arrangement fast path with the
  same general fallback.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark.functions import clipping as CL
from gdal_spark.functions import geometry as G
from gdal_spark.operators.spatial_join import point_in_polygon_join, with_envelope
from gdal_spark.session import local_frame


def _difference(subject_wkb: bytes,
                clip_wkbs: list[bytes]) -> tuple[bytes, float] | None:
    """subject − ∪clips: exact rectilinear grid-arrangement fast path,
    general Martinez–Rueda fold for arbitrary simple polygons."""
    try:
        return G.rectilinear_difference(subject_wkb, clip_wkbs)
    except NotImplementedError:
        return CL.wkb_difference_multi(subject_wkb, clip_wkbs)


def _ring_convex(ring: np.ndarray) -> bool:
    r = ring if not np.array_equal(ring[0], ring[-1]) else ring[:-1]
    n = len(r)
    if n < 3:
        return False
    d = np.roll(r, -1, axis=0) - r
    cross = d[:, 0] * np.roll(d, -1, axis=0)[:, 1] - d[:, 1] * np.roll(d, -1, axis=0)[:, 0]
    return bool(np.all(cross >= 0) or np.all(cross <= 0))


# ---------------------------------------------------------------------------
# point-layer algebra
# ---------------------------------------------------------------------------

def points_intersection(points: DataFrame, polygons: DataFrame, **kw) -> DataFrame:
    """Intersection (ogrlayer.cpp:2016): point ∩ polygon pairs with both
    attribute sets (geometry of a point∩polygon = the point)."""
    return point_in_polygon_join(points, polygons, how="inner", **kw)


def points_clip(points: DataFrame, polygons: DataFrame, **kw) -> DataFrame:
    """Clip (ogrlayer.cpp:3486): points inside any method polygon, input
    attributes only."""
    joined = point_in_polygon_join(points, polygons, how="inner", **kw)
    poly_id = kw.get("poly_id", "cell_id")
    return joined.drop(poly_id).distinct()


def points_erase(points: DataFrame, polygons: DataFrame, **kw) -> DataFrame:
    """Erase (ogrlayer.cpp:3722): points NOT inside any method polygon —
    the spatial anti-join."""
    poly_id = kw.get("poly_id", "cell_id")
    joined = point_in_polygon_join(points, polygons, how="left", **kw)
    return joined.filter(F.col(poly_id).isNull()).drop(poly_id)


def points_identity(points: DataFrame, polygons: DataFrame, **kw) -> DataFrame:
    """Identity (ogrlayer.cpp:2937): all points, method attrs where
    covered (left PIP join, first match for determinism)."""
    return point_in_polygon_join(points, polygons, how="left_first", **kw)


def points_update(base: DataFrame, patch: DataFrame, key: str) -> DataFrame:
    """Update (ogrlayer.cpp:3211): patch rows replace base rows with the
    same key; anti-join + union."""
    keep = base.join(patch.select(key), on=key, how="left_anti")
    return keep.unionByName(patch)


# ---------------------------------------------------------------------------
# polygon-vs-convex-cell clipping
# ---------------------------------------------------------------------------

def clip_polygons_to_cells(polys: DataFrame, cells: DataFrame,
                           poly_id: str = "fid", poly_wkb: str = "geometry",
                           cell_id: str = "cell_id", cell_wkb: str = "wkb"
                           ) -> DataFrame:
    """Exact polygon ∩ convex-cell pieces: (poly_id, cell_id, piece_wkb,
    piece_area). Cells are bbox-joined (broadcast — the method layer is the
    small side), then Sutherland–Hodgman clips per pair in one Arrow pass.
    The layer-algebra Intersection emission for convex method layers."""
    spark = polys.sparkSession
    cell_rows = cells.select(cell_id, cell_wkb).collect()
    prepared = []
    for r in cell_rows:
        cwkb = bytes(r[1])
        parts = G.decode_polygons(cwkb)
        rings = parts[0]
        ring = rings[0]
        # orient CCW (positive signed area)
        rr = ring if len(ring) and np.array_equal(ring[0], ring[-1]) \
            else np.vstack([ring, ring[:1]])
        _, _, a = G.ring_centroid_area(rr)
        if a < 0:
            ring = ring[::-1]
        # Sutherland–Hodgman needs a single convex ring; concave/holed/
        # multi-part cells take the general Martinez–Rueda path
        convex = (len(parts) == 1 and len(rings) == 1 and _ring_convex(ring))
        xmin, ymin = ring.min(axis=0)
        xmax, ymax = ring.max(axis=0)
        for p in parts[1:]:
            for rg in p:
                xmin = min(xmin, rg[:, 0].min()); ymin = min(ymin, rg[:, 1].min())
                xmax = max(xmax, rg[:, 0].max()); ymax = max(ymax, rg[:, 1].max())
        prepared.append((r[0], ring if convex else cwkb, convex,
                         (xmin, ymin, xmax, ymax)))
    bc = spark.sparkContext.broadcast(prepared)

    env = with_envelope(polys.select(poly_id, poly_wkb), poly_wkb)
    schema = T.StructType([
        T.StructField("poly_id", T.LongType()),
        T.StructField("cell_id", T.LongType()),
        T.StructField("piece_wkb", T.BinaryType()),
        T.StructField("piece_area", T.DoubleType()),
    ])
    names = env.schema.fieldNames()
    i_id = names.index(poly_id); i_wkb = names.index(poly_wkb)
    i_x0 = names.index("xmin"); i_y0 = names.index("ymin")
    i_x1 = names.index("xmax"); i_y1 = names.index("ymax")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cellset = bc.value
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                wkb = bytes(rec[i_wkb])
                bx0, by0 = rec[i_x0], rec[i_y0]
                bx1, by1 = rec[i_x1], rec[i_y1]
                for cid, cgeo, convex, (cx0, cy0, cx1, cy1) in cellset:
                    if bx1 < cx0 or cx1 < bx0 or by1 < cy0 or cy1 < by0:
                        continue  # envelope reject (ogrlayer.cpp:2071-2087)
                    if convex:
                        piece = G.polygon_clip_convex(wkb, cgeo)
                        if piece is None:
                            continue
                        area = G.polygon_area(piece)
                    else:
                        res = CL.wkb_boolean(wkb, cgeo, CL.INTERSECTION)
                        if res is None:
                            continue
                        piece, area = res
                    if area <= 0.0:
                        continue
                    rows.append((int(rec[i_id]), int(cid),
                                 piece, float(area)))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return env.mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# polygon-vs-polygon Union / SymDifference
# ---------------------------------------------------------------------------

_PIECES_SCHEMA = T.StructType([
    T.StructField("poly_id", T.LongType(), True),
    T.StructField("cell_id", T.LongType(), True),
    T.StructField("piece_wkb", T.BinaryType(), True),
    T.StructField("piece_area", T.DoubleType(), True),
])


def layer_union(polys: DataFrame, cells: DataFrame,
                poly_id: str = "fid", poly_wkb: str = "geometry",
                cell_id: str = "cell_id", cell_wkb: str = "wkb",
                include_intersection: bool = True,
                include_method_minus: bool = True) -> DataFrame:
    """OGRLayer::Union emission (ogrlayer.cpp:2282) for a polygon input
    layer against a broadcastable polygon method layer:

    - input∩method pieces → (poly_id, cell_id)   [S–H / Martinez–Rueda]
    - input − ∪method     → (poly_id, NULL)      [rectilinear fast path,
    - method − ∪input     → (NULL, cell_id)       Martinez–Rueda fallback]

    Arbitrary simple polygons (rotated, concave, holed, multi-part) are
    supported via the plane-sweep boolean kernel; axis-aligned inputs take
    the exact grid-arrangement fast path. Distribution: method
    layer broadcast; the input side is one Arrow map pass for ∩ and A−B;
    B−A groups the input features overlapping each method cell (bounded by
    features-per-cell, the same envelope-reject the reference stages).

    With ``include_intersection=False`` this is SymDifference
    (ogrlayer.cpp:2626).
    """
    spark = polys.sparkSession
    cell_env = []
    for r in cells.select(cell_id, cell_wkb).collect():
        w = bytes(r[1])
        cell_env.append((int(r[0]), w, G.polygon_envelope(w)))
    bc = spark.sparkContext.broadcast(cell_env)

    env = with_envelope(polys.select(poly_id, poly_wkb), poly_wkb)
    names = env.schema.fieldNames()
    i_id, i_wkb = names.index(poly_id), names.index(poly_wkb)
    i_x0, i_y0 = names.index("xmin"), names.index("ymin")
    i_x1, i_y1 = names.index("xmax"), names.index("ymax")
    piece_cols = [f.name for f in _PIECES_SCHEMA]

    def a_minus(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cellset = bc.value
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                wkb = bytes(rec[i_wkb])
                bx0, by0 = rec[i_x0], rec[i_y0]
                bx1, by1 = rec[i_x1], rec[i_y1]
                clips = [w for _cid, w, (cx0, cy0, cx1, cy1) in cellset
                         if not (bx1 < cx0 or cx1 < bx0
                                 or by1 < cy0 or cy1 < by0)]
                out = _difference(wkb, clips)
                if out is not None:
                    rows.append((int(rec[i_id]), None, out[0], out[1]))
            yield pd.DataFrame(rows, columns=piece_cols)

    a_pieces = env.mapInPandas(a_minus, schema=_PIECES_SCHEMA)

    def overlap_pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cellset = bc.value
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                wkb = bytes(rec[i_wkb])
                bx0, by0 = rec[i_x0], rec[i_y0]
                bx1, by1 = rec[i_x1], rec[i_y1]
                for cid, _w, (cx0, cy0, cx1, cy1) in cellset:
                    if not (bx1 < cx0 or cx1 < bx0
                            or by1 < cy0 or cy1 < by0):
                        rows.append((cid, wkb))
            yield pd.DataFrame(rows, columns=["cell_id", "swkb"])

    pairs = env.mapInPandas(overlap_pairs, schema="cell_id long, swkb binary")
    # every cell gets a group row even with no overlapping input feature
    all_cells = (local_frame(spark, [(c,) for c, _, _ in cell_env],
                             "cell_id long")
                 .withColumn("swkb", F.lit(None).cast("binary")))
    pairs = pairs.unionByName(all_cells)

    geo_cache: dict[int, bytes] = {}

    def b_minus(key, pdf: pd.DataFrame) -> pd.DataFrame:
        if not geo_cache:
            geo_cache.update({c: w for c, w, _ in bc.value})
        cid = int(key[0])
        clips = [bytes(w) for w in pdf["swkb"] if w is not None]
        out = _difference(geo_cache[cid], clips)
        if out is None:
            return pd.DataFrame(columns=piece_cols)
        return pd.DataFrame([(None, cid, out[0], out[1])], columns=piece_cols)

    out = a_pieces
    if include_method_minus:
        b_pieces = pairs.groupBy("cell_id").applyInPandas(
            b_minus, schema=_PIECES_SCHEMA)
        out = out.unionByName(b_pieces)
    if include_intersection:
        inter = clip_polygons_to_cells(polys, cells, poly_id, poly_wkb,
                                       cell_id, cell_wkb)
        out = inter.unionByName(out)
    return out


def layer_symdifference(polys: DataFrame, cells: DataFrame, **kw) -> DataFrame:
    """OGRLayer::SymDifference (ogrlayer.cpp:2626): Union minus the
    intersection family — input−method and method−input pieces only."""
    return layer_union(polys, cells, include_intersection=False, **kw)


def layer_identity_polygons(polys: DataFrame, cells: DataFrame,
                            **kw) -> DataFrame:
    """OGRLayer::Identity for polygon inputs (ogrlayer.cpp:2937): the input
    split by the method layer — input∩method pieces (both ids) plus the
    uncovered input remainder (null cell_id); no method-only pieces."""
    return layer_union(polys, cells, include_method_minus=False, **kw)


def layer_buffer(features: DataFrame, dist: float, quadsegs: int = 30,
                 feat_id: str = "fid", feat_wkb: str = "geometry") -> DataFrame:
    """Per-feature OGRGeometry::Buffer (ogrgeometry.cpp:2817 — the reference
    delegates to GEOSBuffer with nQuadSegs quadrant segments). Dilation
    (dist>0) is the exact Minkowski sum with the 4·quadsegs-gon disk —
    feature ∪ edge-bands ∪ vertex-disks folded through the Martinez–Rueda
    union; erosion (dist<0) subtracts the boundary dilation. Features that
    erode away are dropped (GEOS returns POLYGON EMPTY there).

    Embarrassingly parallel per feature — no shuffle; scale comes from the
    input's partitioning."""
    schema = T.StructType([
        T.StructField(feat_id, T.LongType(), True),
        T.StructField("buf_wkb", T.BinaryType(), True),
        T.StructField("buf_area", T.DoubleType(), True),
    ])
    env = features.select(feat_id, feat_wkb)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                out = CL.wkb_buffer(bytes(rec[1]), dist, quadsegs)
                if out is None:
                    continue
                rows.append((int(rec[0]), out[0], float(out[1])))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return env.mapInPandas(run, schema=schema)


def layer_union_cascaded(features: DataFrame,
                         feat_wkb: str = "geometry") -> DataFrame:
    """OGRGeometry::UnionCascaded over a whole layer (ogrgeometry.cpp:3119
    → GEOSUnionCascaded): two-stage distributed fold — each partition
    unions its features (mapInPandas, no shuffle), then the per-partition
    partials (one small geometry each) fold to the final union in a
    single-group reduce. Returns one row (union_wkb, union_area)."""
    part_schema = T.StructType([T.StructField("pwkb", T.BinaryType(), True)])

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        wkbs = []
        for pdf in batches:
            wkbs.extend(bytes(w) for w in pdf[feat_wkb] if w is not None)
        out = CL.wkb_union_cascaded(wkbs) if wkbs else None
        yield pd.DataFrame([(out[0],)] if out else [], columns=["pwkb"])

    partials = features.select(feat_wkb).mapInPandas(partial,
                                                     schema=part_schema)

    final_schema = T.StructType([
        T.StructField("union_wkb", T.BinaryType(), True),
        T.StructField("union_area", T.DoubleType(), True),
    ])

    def final(pdf: pd.DataFrame) -> pd.DataFrame:
        out = CL.wkb_union_cascaded([bytes(w) for w in pdf["pwkb"]])
        if out is None:
            return pd.DataFrame(columns=["union_wkb", "union_area"])
        return pd.DataFrame([(out[0], out[1])],
                            columns=["union_wkb", "union_area"])

    return (partials.groupBy(F.lit(1).alias("_g"))
            .applyInPandas(lambda k, pdf: final(pdf), schema=final_schema))


def layer_constructive(features: DataFrame, feat_id: str = "fid",
                       feat_wkb: str = "geometry") -> DataFrame:
    """Per-feature constructive-op rollup: Boundary length
    (ogrgeometry.cpp:2685), PointOnSurface + interiority check (:3985),
    ConvexHull area (:2595). One Arrow pass, no shuffle."""
    schema = T.StructType([
        T.StructField(feat_id, T.LongType(), True),
        T.StructField("boundary_len", T.DoubleType(), True),
        T.StructField("pos_inside", T.IntegerType(), True),
        T.StructField("hull_area", T.DoubleType(), True),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                wkb = bytes(rec[1])
                blen = G.geometry_length(G.wkb_boundary(wkb))
                x, y = G.point_on_surface(wkb)
                polys = G.decode_polygons(wkb)
                inside = any(
                    G.py_point_in_ring(x, y, p[0])
                    and not any(G.py_point_in_ring(x, y, h) for h in p[1:])
                    for p in polys)
                hull = G.convex_hull(np.vstack([p[0] for p in polys]))
                harea = abs(G._ring_area_signed(hull))
                rows.append((int(rec[0]), float(blen), int(inside),
                             float(harea)))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return features.select(feat_id, feat_wkb).mapInPandas(run, schema=schema)


def layer_dissolve(features: DataFrame, key: str = "key",
                   feat_wkb: str = "geometry") -> DataFrame:
    """ogrdissolve (gdal/apps/ogrdissolve.cpp): merge all geometries that
    share an attribute value into one (multi)polygon per value via
    cascaded union.  Two-stage distributed fold: a map-side combine
    unions each key's features within every partition (no shuffle), then
    one shuffle groups the per-partition partials by key for the final
    union — the same partial/final shape as layer_union_cascaded, so a
    hot key costs one task, not a driver collect.  Returns
    (key, union_wkb, union_area, n_pieces, n_features)."""
    part_schema = T.StructType([
        T.StructField("_k", features.schema[key].dataType, True),
        T.StructField("pwkb", T.BinaryType(), True),
        T.StructField("n", T.LongType(), True),
    ])

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict = {}
        for pdf in batches:
            for k, w in zip(pdf[key], pdf[feat_wkb]):
                if w is not None:
                    acc.setdefault(k, []).append(bytes(w))
        rows = []
        for k, wkbs in acc.items():
            out = CL.wkb_union_cascaded(wkbs)
            if out is not None:
                rows.append((k, out[0], len(wkbs)))
        yield pd.DataFrame(rows, columns=["_k", "pwkb", "n"])

    partials = features.select(key, feat_wkb).mapInPandas(
        partial, schema=part_schema)

    final_schema = T.StructType([
        T.StructField(key, features.schema[key].dataType, True),
        T.StructField("union_wkb", T.BinaryType(), True),
        T.StructField("union_area", T.DoubleType(), True),
        T.StructField("n_pieces", T.IntegerType(), True),
        T.StructField("n_features", T.LongType(), True),
    ])

    def final(kv, pdf: pd.DataFrame) -> pd.DataFrame:
        out = CL.wkb_union_cascaded([bytes(w) for w in pdf["pwkb"]])
        if out is None:
            return pd.DataFrame(columns=[f.name for f in final_schema])
        pieces = len(G.decode_polygons(out[0]))
        return pd.DataFrame([(kv[0], out[0], out[1], pieces,
                              int(pdf["n"].sum()))],
                            columns=[f.name for f in final_schema])

    return partials.groupBy("_k").applyInPandas(final, schema=final_schema)
