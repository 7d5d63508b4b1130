"""k-nearest-neighbors over points — grid-partitioned cell-ring expansion.

The reference has no layer-level kNN (nearest-entry logic appears only in
gdal/alg/gdalgrid.cpp:461 GDALGridNearestNeighbour and the median-cut color
search); the north rule asks for kNN via cell-ring expansion, which is the
distributed generalization of gdalgrid's search-radius scan.

Algorithm (exact):
1. Index data points by WebMercator cell at ``zoom`` (pure column math).
2. For ring batches [0,1], [2,3], [4,7], ... (geometric widths, one settle
   action per batch): each unsettled query joins the frame of cells in the
   Chebyshev annulus (dx/dy sequence explode — no UDF) against the bucketed
   points; candidates accumulate, keeping per-query top-k by
   (dist_sq, point id) — deterministic tie-break.
3. A query settles when its k-th candidate distance is ≤ the distance from
   the query point to the boundary of the ring-r cell box (no point outside
   the box can beat it). Loop ends when all queries settle.

Distance metric: squared Euclidean in degrees (exactly reproducible in an
external SQL oracle). ``knn_bruteforce`` is the small-scale twin used as the
correctness oracle in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gdal_spark.functions import tiles


def _dist_sq(qlon, qlat, plon, plat):
    return (qlon - plon) * (qlon - plon) + (qlat - plat) * (qlat - plat)


def knn_bruteforce(queries: DataFrame, points: DataFrame, k: int,
                   q_id: str = "qid", p_id: str = "pid") -> DataFrame:
    """Exact cross-join kNN (test oracle / tiny inputs only)."""
    q = queries.select(F.col(q_id), F.col("lon").alias("_qlon"), F.col("lat").alias("_qlat"))
    p = points.select(F.col(p_id), F.col("lon").alias("_plon"), F.col("lat").alias("_plat"))
    d = q.crossJoin(p).withColumn(
        "dist_sq", _dist_sq(F.col("_qlon"), F.col("_qlat"), F.col("_plon"), F.col("_plat")))
    w = Window.partitionBy(q_id).orderBy("dist_sq", p_id)
    return (d.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id, p_id, "dist_sq", "rank"))


def knn_cell_ring(queries: DataFrame, points: DataFrame, k: int,
                  q_id: str = "qid", p_id: str = "pid",
                  zoom: int = 6, max_rings: int = 64) -> DataFrame:
    """Exact kNN via cell-ring expansion. Output: (q_id, p_id, dist_sq, rank).

    Scale shape: the points side is hashed once by cell (one shuffle,
    reusable across rings); each ring iteration is an equi-join on (tx, ty)
    against only the still-unsettled queries, so dense regions settle at
    r<=1 and the long tail drives later (tiny) iterations.
    """
    spark = queries.sparkSession
    zmax_t = (1 << zoom) - 1

    pts = (points.select(F.col(p_id), F.col("lon").alias("_plon"), F.col("lat").alias("_plat"))
           .withColumn("_tx", tiles.tile_x("_plon", zoom))
           .withColumn("_ty", tiles.tile_y("_plat", zoom))
           .repartition(F.col("_tx"), F.col("_ty"))
           .persist())

    q0 = (queries.select(F.col(q_id), F.col("lon").alias("_qlon"), F.col("lat").alias("_qlat"))
          .withColumn("_qtx", tiles.tile_x("_qlon", zoom))
          .withColumn("_qty", tiles.tile_y("_qlat", zoom))
          .persist())

    unsettled = q0
    best: DataFrame | None = None
    w = Window.partitionBy(q_id).orderBy("dist_sq", p_id)

    # ring BATCHES: expand Chebyshev annulus [r_lo, r_hi] per iteration and
    # run ONE settle-test action per batch (vs one per ring in round 2 —
    # halves the job count; widths grow geometrically so the long tail of
    # sparse-region queries finishes in O(log rings) actions, each tiny)
    r_lo, width = 0, 2
    while r_lo <= max_rings:
        r = min(r_lo + width - 1, max_rings)  # batch upper ring
        # frame of cells at Chebyshev distance in [r_lo, r] (clamped)
        dxy = F.sequence(F.lit(-r), F.lit(r))
        cheb = F.greatest(F.abs(F.col("_dx")), F.abs(F.col("_dy")))
        ring = (unsettled
                .withColumn("_dx", F.explode(dxy))
                .withColumn("_dy", F.explode(dxy))
                .filter((cheb >= r_lo) & (cheb <= r))
                .withColumn("_tx", F.col("_qtx") + F.col("_dx"))
                .withColumn("_ty", F.col("_qty") + F.col("_dy"))
                .filter((F.col("_tx") >= 0) & (F.col("_tx") <= zmax_t)
                        & (F.col("_ty") >= 0) & (F.col("_ty") <= zmax_t))
                .drop("_dx", "_dy"))
        new_cand = (ring.join(pts, on=["_tx", "_ty"], how="inner")
                    .withColumn("dist_sq", _dist_sq(F.col("_qlon"), F.col("_qlat"),
                                                    F.col("_plon"), F.col("_plat")))
                    .select(q_id, p_id, "dist_sq", "_qlon", "_qlat", "_qtx", "_qty"))
        best = new_cand if best is None else best.unionByName(new_cand)
        # keep only per-query top-k (dedup impossible: each point in 1 cell,
        # each cell visited in exactly one ring)
        best = (best.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k).drop("rank")
                .localCheckpoint(eager=False))

        # settled test: kth distance (for queries holding k candidates) must
        # be within the ring-r box inscribed distance
        kth = (best.groupBy(q_id, "_qlon", "_qlat", "_qtx", "_qty")
               .agg(F.count(F.lit(1)).alias("_nc"), F.max("dist_sq").alias("_kth")))
        res = tiles.py_resolution(zoom)
        box_lon_lo = tiles.meters_to_lon((F.col("_qtx") - r) * F.lit(256.0 * res) - F.lit(tiles.ORIGIN_SHIFT))
        box_lon_hi = tiles.meters_to_lon((F.col("_qtx") + r + 1) * F.lit(256.0 * res) - F.lit(tiles.ORIGIN_SHIFT))
        box_lat_lo = tiles.meters_to_lat((F.col("_qty") - r) * F.lit(256.0 * res) - F.lit(tiles.ORIGIN_SHIFT))
        box_lat_hi = tiles.meters_to_lat((F.col("_qty") + r + 1) * F.lit(256.0 * res) - F.lit(tiles.ORIGIN_SHIFT))
        # clamp box to the world: an edge at/beyond the domain bound is safe
        # (no points exist beyond it)
        big = F.lit(1e18)
        safe = F.least(
            F.when(F.col("_qtx") - r <= 0, big).otherwise(F.col("_qlon") - box_lon_lo),
            F.when(F.col("_qtx") + r >= zmax_t, big).otherwise(box_lon_hi - F.col("_qlon")),
            F.when(F.col("_qty") - r <= 0, big).otherwise(F.col("_qlat") - box_lat_lo),
            F.when(F.col("_qty") + r >= zmax_t, big).otherwise(box_lat_hi - F.col("_qlat")),
        )
        settled_ids = kth.filter((F.col("_nc") >= k) & (F.col("_kth") <= safe * safe)).select(q_id)
        prev_unsettled = unsettled
        unsettled = unsettled.join(settled_ids, on=q_id, how="left_anti").persist()
        empty = unsettled.isEmpty()   # materializes the new frame
        if prev_unsettled is not q0:  # old iteration's cache is now dead
            prev_unsettled.unpersist()
        if empty:
            unsettled.unpersist()
            break
        r_lo, width = r + 1, min(width * 2, 16)

    pts.unpersist()
    q0.unpersist()
    out = (best.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= k)
           .select(q_id, p_id, "dist_sq", "rank"))
    return out
