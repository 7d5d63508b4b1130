"""Point-in-polygon spatial join — the engine's flagship operator.

Reference semantics: OGRLayer::Intersection / FilterGeometry staged test
(gdal/ogr/ogrsf_frmts/generic/ogrlayer.cpp:2016-2146 and :1344-1450):
envelope reject first, then exact point-in-ring ray casting
(gdal/ogr/ogrlinearring.cpp:471-533). The reference runs a single-threaded
nested loop; here the same semantics distribute two ways:

- **broadcast path** (small polygon side), staged like the reference's
  FilterGeometry: if every polygon is an axis-aligned rectangle (grid
  cells, tiles, bboxes — the dominant method layers), the whole join is
  *pure JVM column math* (uniform-cell equi-join + half-open bbox filter,
  exact ray-cast parity) — whole-stage codegen, scales linearly with
  cores. Otherwise polygons are collected once into a grid-indexed
  PreparedPolygons structure (prepared-geometry + .qix-quadtree analog,
  ogrlayer.cpp:1445-1446 / ogrshapelayer.cpp:362), broadcast, and probed
  per batch via mapInArrow (zero-copy: no pandas string objects). No
  shuffle either way — at 10^12 rows this is a narrow map stage, so
  skewed point distributions cost nothing.

- **shuffle path** (large polygon side): both sides get WebMercator cell
  keys at ``cell_zoom`` (points: 1 cell; polygons: exploded over bbox-covered
  cells — pure column `sequence`/`explode`, no UDF), equi-join on
  (tx, ty) — Catalyst shuffle-hash/sort-merge with AQE skew splitting —
  then the exact ray-cast test filters candidate pairs per Arrow batch.
  Each point owns exactly one cell so no pair dedup is needed.

Join modes: "inner" (all matching pairs — layer-algebra Intersection
emission), "left" (all pairs + unmatched points with null polygon),
"left_first" (OGR SQL LEFT JOIN first-match-only semantics,
ogr_gensql.cpp:1283-1314 — lowest polygon id wins, made deterministic).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _extend_schema(schema: T.StructType, *fields: tuple[str, T.DataType]) -> T.StructType:
    """Copy-extend a StructType (StructType.add mutates in place, which would
    corrupt the source DataFrame's cached schema)."""
    return T.StructType(list(schema.fields)
                        + [T.StructField(n, t, True) for n, t in fields])

from gdal_spark.functions import tiles
from gdal_spark.functions.geometry import PreparedPolygons, decode_polygons
from gdal_spark.session import local_frame

DEFAULT_BROADCAST_MAX_POLYGONS = 100_000


def _prepared_from_rows(rows) -> PreparedPolygons:
    return PreparedPolygons(ids=[r[0] for r in rows], wkbs=[bytes(r[1]) for r in rows])


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    poly_id: str = "cell_id",
    poly_wkb: str = "wkb",
    lon: str = "lon",
    lat: str = "lat",
    how: str = "inner",
    strategy: str = "auto",
    cell_zoom: int = 6,
    broadcast_max_polygons: int = DEFAULT_BROADCAST_MAX_POLYGONS,
) -> DataFrame:
    """Join ``points`` to the polygons containing them.

    Returns the point columns plus ``poly_id`` (null for unmatched points in
    left modes). Polygon attribute columns can be re-attached afterwards with
    a broadcast equi-join on ``poly_id``.
    """
    if how not in ("inner", "left", "left_first"):
        raise ValueError(f"unsupported how={how!r}")
    if strategy == "auto":
        # metadata probe first (Catalyst stats from parquet/Iceberg footers —
        # no Spark job); count() action only as a last resort
        n_poly = _estimated_row_count(polygons)
        if n_poly is None:
            n_poly = polygons.count()
        strategy = "broadcast" if n_poly <= broadcast_max_polygons else "shuffle"
    if strategy == "broadcast":
        rows = polygons.select(poly_id, poly_wkb).collect()
        poly_rows = [(r[0], bytes(r[1])) for r in rows]
        rects = _as_rectangles(poly_rows)
        if rects is not None:
            # staged-filter fast path (FilterGeometry's envelope-contain
            # accept, ogrlayer.cpp:1344-1450): axis-aligned rectangles need
            # no ray cast — the crossing rule reduces to the half-open box
            # [xmin,xmax)×[ymin,ymax), pure JVM columns, fully scalable
            return _rect_pip_jvm(points, rects, poly_id, lon, lat, how)
        return _broadcast_pip(points, poly_rows, poly_id, lon, lat, how)
    if strategy == "shuffle":
        return _shuffle_pip(points, polygons, poly_id, poly_wkb, lon, lat, how, cell_zoom)
    raise ValueError(f"unsupported strategy={strategy!r}")


def _estimated_row_count(df: DataFrame) -> int | None:
    """Planning-time row estimate from Catalyst statistics (parquet footer /
    Iceberg snapshot totals surface through the relation's stats) — runs NO
    Spark job, unlike ``count()``. Returns None when no estimate exists.
    When only sizeInBytes is known, rows are estimated at 64 B/row — an
    overestimate for WKB polygon rows, i.e. it errs toward the shuffle path,
    never toward broadcasting an oversized side."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
        size = int(str(stats.sizeInBytes()))
        # Long.MaxValue-scale sizes are Spark's "unknown" sentinel
        # (defaultSizeInBytes), not a real estimate — fall back to count()
        if 0 <= size < (1 << 62):
            return max(size // 64, 1)
    except Exception:
        pass
    return None


def _as_rectangles(poly_rows) -> list | None:
    """If every polygon is a single axis-aligned rectangle ring, return
    [(id, xmin, ymin, xmax, ymax)], else None."""
    from gdal_spark.functions.geometry import decode_polygons
    out = []
    for pid, wkb in poly_rows:
        try:
            parts = decode_polygons(wkb)
        except ValueError:
            return None
        if len(parts) != 1 or len(parts[0]) != 1:
            return None
        r = parts[0][0].tolist()  # plain floats: numpy ops cost more on 4 corners
        if r and r[0] == r[-1]:
            r = r[:-1]
        if len(r) != 4:
            return None
        xs = sorted({p[0] for p in r}); ys = sorted({p[1] for p in r})
        if len(xs) != 2 or len(ys) != 2:
            return None
        # each corner present exactly once
        if sorted(map(tuple, r)) != [
                (xs[0], ys[0]), (xs[0], ys[1]), (xs[1], ys[0]), (xs[1], ys[1])]:
            return None
        out.append((pid, xs[0], ys[0], xs[1], ys[1]))
    return out


def _rect_pip_jvm(points, rects, poly_id, lon, lat, how) -> DataFrame:
    """Zero-UDF rectangle containment: uniform-cell equi-join against the
    broadcast exploded rectangle set + half-open bbox filter (exact
    ray-cast parity for axis-aligned rings)."""
    spark = points.sparkSession
    arr = np.array([[x0, y0, x1, y1] for _pid, x0, y0, x1, y1 in rects])
    # plain floats: a numpy scalar literal costs an extra cast column call
    (gx0, gy0, _, _), (_, _, gx1, gy1) = arr.min(0).tolist(), arr.max(0).tolist()
    n = len(rects)
    target = min(max(int(np.sqrt(n / 2.0)) * 2, 1), 512)
    csx = max((gx1 - gx0) / target, 1e-12)
    csy = max((gy1 - gy0) / target, 1e-12)
    cell_rows = []
    for (pid, x0, y0, x1, y1) in rects:
        cx0 = int((x0 - gx0) / csx); cx1 = int((x1 - gx0) / csx)
        cy0 = int((y0 - gy0) / csy); cy1 = int((y1 - gy0) / csy)
        for cy in range(cy0, cy1 + 1):
            for cx in range(cx0, cx1 + 1):
                cell_rows.append((cx, cy, pid, x0, y0, x1, y1))
    cells = local_frame(
        spark, cell_rows, f"_cx int, _cy int, {poly_id} long, "
                          "_rx0 double, _ry0 double, _rx1 double, _ry1 double")
    px, py = F.col(lon), F.col(lat)
    keyed = points.withColumns({
        "_cx": F.floor((px - F.lit(gx0)) / F.lit(csx)).cast("int"),
        "_cy": F.floor((py - F.lit(gy0)) / F.lit(csy)).cast("int")})
    contains = ((px >= F.col("_rx0")) & (px < F.col("_rx1"))
                & (py >= F.col("_ry0")) & (py < F.col("_ry1")))
    pt_cols = points.columns
    if how == "inner":
        j = keyed.join(F.broadcast(cells), on=["_cx", "_cy"], how="inner")
        return j.filter(contains).select(*pt_cols, poly_id)
    # left modes need a stable per-row identity
    keyed = keyed.withColumn("_rid", F.monotonically_increasing_id())
    j = keyed.join(F.broadcast(cells), on=["_cx", "_cy"], how="left")
    j = j.withColumn(poly_id, F.when(contains, F.col(poly_id)))
    if how == "left_first":
        from pyspark.sql import Window
        w = Window.partitionBy("_rid").orderBy(F.col(poly_id).asc_nulls_last())
        j = (j.withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") == 1))
    else:  # "left": all matches, plus one null row for unmatched points
        from pyspark.sql import Window
        w = Window.partitionBy("_rid")
        j = (j.withColumn("_nm", F.max(F.col(poly_id).isNotNull().cast("int")).over(w))
             .filter(F.col(poly_id).isNotNull() | (F.col("_nm") == 0))
             .withColumn("_rn2", F.row_number().over(
                 Window.partitionBy("_rid").orderBy(F.col(poly_id).asc_nulls_last())))
             .filter(F.col(poly_id).isNotNull() | (F.col("_rn2") == 1)))
    return j.select(*pt_cols, poly_id)


# ---------------------------------------------------------------------------
# broadcast path
# ---------------------------------------------------------------------------

def _broadcast_pip(points, poly_rows, poly_id, lon, lat, how) -> DataFrame:
    """Arrow-native kernel (mapInArrow): point columns never materialize as
    Python objects — coordinates come out as numpy views, surviving rows are
    gathered with pyarrow ``take`` (C++). At 10^8+ rows/box this is what
    keeps the stage memory-bandwidth-light enough to scale with cores
    (pandas object conversion of the string columns was the measured
    bottleneck at local[32])."""
    import pyarrow as pa

    spark = points.sparkSession
    bc = spark.sparkContext.broadcast(poly_rows)
    pt_schema = points.schema
    out_schema = _extend_schema(pt_schema, (poly_id, T.LongType()))
    first_only = how == "left_first"
    emit_unmatched = how in ("left", "left_first")
    lon_i = pt_schema.fieldNames().index(lon)
    lat_i = pt_schema.fieldNames().index(lat)

    def run(batches):
        prep = _prepared_from_rows(bc.value)  # built once per worker task
        for batch in batches:
            px = batch.column(lon_i).to_numpy(zero_copy_only=False)
            py = batch.column(lat_i).to_numpy(zero_copy_only=False)
            pi, gi = prep.contains_batch(
                np.asarray(px, dtype=np.float64),
                np.asarray(py, dtype=np.float64))
            ids = prep.ids[gi].astype(np.int64)
            if first_only and len(pi):
                # lowest polygon id per point = OGR first-match determinized
                order = np.lexsort((ids, pi))
                pi, ids = pi[order], ids[order]
                keep = np.ones(len(pi), dtype=bool)
                keep[1:] = pi[1:] != pi[:-1]
                pi, ids = pi[keep], ids[keep]
            out = batch.take(pa.array(pi)).append_column(
                poly_id, pa.array(ids, type=pa.int64()))
            if emit_unmatched:
                unmatched = np.setdiff1d(np.arange(batch.num_rows), pi,
                                         assume_unique=False)
                if len(unmatched):
                    miss = batch.take(pa.array(unmatched)).append_column(
                        poly_id, pa.nulls(len(unmatched), type=pa.int64()))
                    yield miss
            yield out

    return points.mapInArrow(run, schema=out_schema)


# ---------------------------------------------------------------------------
# shuffle path
# ---------------------------------------------------------------------------

def _key_lat(lat):
    """Latitude clamped to the Web-Mercator domain, for cell keys only:
    tile_y of a latitude beyond ±MAX_LAT is not a finite tile row. The
    exact ray-cast test still sees the raw coordinates."""
    return F.least(F.greatest(lat, F.lit(-tiles.MAX_LAT)), F.lit(tiles.MAX_LAT))


def polygon_cover_cells(polygons: DataFrame, poly_wkb: str, cell_zoom: int,
                        xmin="xmin", ymin="ymin", xmax="xmax", ymax="ymax") -> DataFrame:
    """Explode each polygon over all (tx, ty) cells its bbox covers —
    pure column sequence/explode (the gdaltindex-style manifest,
    gdal/apps/gdaltindex.c:311)."""
    cols = polygons.columns
    if not all(c in cols for c in (xmin, ymin, xmax, ymax)):
        polygons = with_envelope(polygons, poly_wkb)
    tx_lo = tiles.tile_x(F.col(xmin), cell_zoom)
    tx_hi = tiles.tile_x(F.col(xmax), cell_zoom)
    ty_lo = tiles.tile_y(_key_lat(F.col(ymin)), cell_zoom)
    ty_hi = tiles.tile_y(_key_lat(F.col(ymax)), cell_zoom)
    return (
        polygons.withColumn("_tx", F.explode(F.sequence(tx_lo, tx_hi)))
        .withColumn("_ty", F.explode(F.sequence(ty_lo, ty_hi)))
    )


def with_envelope(polygons: DataFrame, poly_wkb: str = "wkb",
                  prefix: str = "") -> DataFrame:
    """Attach (xmin, ymin, xmax, ymax) envelope columns computed from WKB in
    one Arrow pass (OGRGeometry::getEnvelope analog)."""
    schema = _extend_schema(
        polygons.schema,
        (prefix + "xmin", T.DoubleType()), (prefix + "ymin", T.DoubleType()),
        (prefix + "xmax", T.DoubleType()), (prefix + "ymax", T.DoubleType()))
    wkb_i = polygons.schema.fieldNames().index(poly_wkb)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mins_x = np.empty(len(pdf)); mins_y = np.empty(len(pdf))
            maxs_x = np.empty(len(pdf)); maxs_y = np.empty(len(pdf))
            for i, wkb in enumerate(pdf.iloc[:, wkb_i]):
                xs, ys = [], []
                for rings in decode_polygons(bytes(wkb)):
                    for r in rings:
                        xs.append(r[:, 0]); ys.append(r[:, 1])
                ax = np.concatenate(xs); ay = np.concatenate(ys)
                mins_x[i] = ax.min(); mins_y[i] = ay.min()
                maxs_x[i] = ax.max(); maxs_y[i] = ay.max()
            out = pdf.copy()
            out[prefix + "xmin"] = mins_x; out[prefix + "ymin"] = mins_y
            out[prefix + "xmax"] = maxs_x; out[prefix + "ymax"] = maxs_y
            yield out

    return polygons.mapInPandas(run, schema=schema)


def _shuffle_pip(points, polygons, poly_id, poly_wkb, lon, lat, how, cell_zoom) -> DataFrame:
    pt_cols = points.columns
    if how != "inner":
        # left modes need a stable per-row identity: keying the dedup window
        # on ALL point columns would (a) shuffle the full payload (text/html
        # at web scale) and (b) silently merge duplicate points into one
        # output row. _rid is non-deterministic, so it must flow through ONE
        # linear subtree — the left cell-join below keeps every point in a
        # single lineage (no independent anti-join re-scan that could
        # recompute different ids; round-2 ADVICE).
        points = points.withColumn("_rid", F.monotonically_increasing_id())
    pts = (
        points.withColumn("_tx", tiles.tile_x(F.col(lon), cell_zoom))
        .withColumn("_ty", tiles.tile_y(_key_lat(F.col(lat)), cell_zoom))
    )
    polys = polygon_cover_cells(
        polygons.select(poly_id, poly_wkb), poly_wkb, cell_zoom
    ).select(F.col(poly_id).alias("_pid"), F.col(poly_wkb).alias("_wkb"), "_tx", "_ty")

    # left modes keep unmatched points in-band (null _pid / _wkb rows) so the
    # whole join is one subtree; inner drops them at the cell join already
    paired = pts.join(polys, on=["_tx", "_ty"],
                      how="inner" if how == "inner" else "left")

    # exact ray-cast filter over candidate pairs, grouped by polygon within
    # each Arrow batch so each unique geometry is prepared once per batch
    schema = _extend_schema(pts.schema, ("_pid", T.LongType()), ("_inside", T.BooleanType()))
    in_names = paired.columns
    lon_i = in_names.index(lon); lat_i = in_names.index(lat)
    pid_i = in_names.index("_pid"); wkb_i = in_names.index("_wkb")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            px = pdf.iloc[:, lon_i].to_numpy(dtype=np.float64)
            py = pdf.iloc[:, lat_i].to_numpy(dtype=np.float64)
            wkbs = pdf.iloc[:, wkb_i]
            pids = pdf.iloc[:, pid_i].to_numpy(dtype=np.float64, na_value=np.nan)
            inside = np.zeros(len(pdf), dtype=bool)
            valid = np.flatnonzero(~np.isnan(pids))  # left-join misses skip the test
            # group rows by polygon id (same id => same wkb)
            order = valid[np.argsort(pids[valid], kind="stable")]
            sorted_pids = pids[order]
            starts = np.flatnonzero(np.r_[True, sorted_pids[1:] != sorted_pids[:-1]])
            # a batch of left-join misses only has no polygon groups
            bounds = np.r_[starts, len(sorted_pids)] if len(order) else []
            for s, e in zip(bounds[:-1], bounds[1:]):
                idx = order[s:e]
                prep = PreparedPolygons(ids=[0], wkbs=[bytes(wkbs.iloc[idx[0]])])
                hit, _ = prep.contains_batch(px[idx], py[idx])
                inside[idx[hit]] = True
            out = pdf.drop(columns=[pdf.columns[wkb_i]])
            out["_inside"] = inside
            yield out

    tested = paired.mapInPandas(run, schema=schema)
    if how == "inner":
        return tested.filter(F.col("_inside")).select(
            *pt_cols, F.col("_pid").alias(poly_id))

    # left modes: single subtree — rank candidates per point (matches first,
    # lowest polygon id first); unmatched points are the rids whose best row
    # is not inside. Saves the anti-join exchange and never recomputes _rid.
    from pyspark.sql import Window
    w = Window.partitionBy("_rid").orderBy(
        F.col("_inside").desc(), F.col("_pid").asc_nulls_last())
    ranked = tested.withColumn("_rn", F.row_number().over(w))
    if how == "left_first":
        out = ranked.filter(F.col("_rn") == 1)
    else:  # "left": all matches, plus one null row for unmatched points
        out = ranked.filter(F.col("_inside") | (F.col("_rn") == 1))
    pid = F.when(F.col("_inside"), F.col("_pid")).cast("long")
    return out.select(*pt_cols, pid.alias(poly_id))
