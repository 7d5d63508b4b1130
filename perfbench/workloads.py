"""The workloads: what one timed iteration runs, and how its output is checked.

An iteration is a list of operations (queries). Each operation builds its
DataFrame through the program's public functions, one build span per call,
then runs one action in an execute span: a ``noop`` write when timed, a
``collect`` when the output is checked.

Both workloads read one seeded pages table (``inputs.PAGES_ROWS`` rows in
``inputs.FILES`` files): ``flagship_pages`` all of it, ``pip_polygons`` the
first file. The probes at the end of this file run only in traced runs.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F

import inputs


class Op:
    def __init__(self, name, layer, rows, build, leg=None):
        self.name = name
        self.layer = layer  # layer the operation's time is charged to
        self.rows = rows    # input rows the operation consumes
        self.build = build  # build(ctx) -> DataFrame
        self.leg = leg      # spatial-join leg: "broadcast" or "shuffle"


def _diff(name: str, got: dict, want: dict) -> list[str]:
    bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
    if not bad:
        return []
    return [f"{name}: {len(bad)} groups differ, e.g. "
            + ", ".join(f"{k}: got {got.get(k)} want {want.get(k)}"
                        for k in bad[:3])]


class FlagshipPages:
    """pages parquet -> extract_points + xxhash keys -> exact dedup ->
    broadcast PIP join on the 36 x 17 admin grid -> z8 tiles -> count per
    (cell, tile). The grid is all rectangles, so the join is pure JVM."""

    name = "flagship_pages"
    rows = inputs.PAGES_ROWS
    registry = False

    def ops(self):
        return [Op("flagship", "spatial_join", self.rows, self._build,
                   leg="broadcast")]

    def _grid(self, ctx):
        from gdal_spark.sources import polygons as PG
        return PG.admin_grid(ctx.spark, nx=inputs.GRID_NX, ny=inputs.GRID_NY,
                             lat_min=-85.0, lat_max=85.0)

    def _build(self, ctx):
        from gdal_spark.functions import tiles
        from gdal_spark.operators import spatial_join as SJ
        from gdal_spark.sources import pages as P

        tr = ctx.tracer
        pg = ctx.spark.read.parquet(ctx.path("pages"))
        with tr.span("pages.extract_points", "sources", "build"):
            hashed = P.extract_points(
                pg, extra=(F.xxhash64("text").alias("h1"),
                           F.xxhash64("text", F.lit(1)).alias("h2"),
                           F.xxhash64("url").alias("uid")))
        pts = (hashed.groupBy("h1", "h2")
               .agg(F.min("uid").alias("uid"), F.first("lon").alias("lon"),
                    F.first("lat").alias("lat")))
        with tr.span("polygons.admin_grid", "sources", "build"):
            grid = self._grid(ctx)
        with tr.span("spatial_join.point_in_polygon_join", "spatial_join",
                     "build"):
            joined = SJ.point_in_polygon_join(pts, grid, strategy="broadcast")
        with tr.span("tiles.with_tile_columns", "tiles", "build"):
            df = tiles.with_tile_columns(joined, zoom=inputs.TILE_ZOOM)
        return df.groupBy("cell_id", "tx", "ty").agg(
            F.count(F.lit(1)).alias("n"))

    def check(self, ctx, outputs):
        got = {f"{r['cell_id']},{r['tx']},{r['ty']}": r["n"]
               for r in outputs["flagship"]}
        return _diff("flagship", got, ctx.expected["flagship"])

    def matches(self, outputs):
        return {"flagship": sum(r["n"] for r in outputs["flagship"])}


class PipPolygons:
    """The same pages point layer (first file) against the concave diamond
    grid of 1,600 L-shaped cells: the broadcast leg (mapInArrow +
    PreparedPolygons) on every point, the shuffle leg (cell join +
    mapInPandas + window, left first-match) on every 8th page."""

    name = "pip_polygons"
    rows = -(-inputs.PAGES_ROWS // inputs.FILES)
    registry = True  # traced runs also probe the dedup, knn and raster layers

    def ops(self):
        return [
            Op("pip_broadcast", "spatial_join", self.rows,
               lambda ctx: self._build(ctx, "broadcast"), leg="broadcast"),
            Op("pip_shuffle", "spatial_join", self.rows // inputs.SHUFFLE_EVERY,
               lambda ctx: self._build(ctx, "shuffle"), leg="shuffle"),
        ]

    def _grid(self, ctx):
        from gdal_spark.sources import polygons as PG
        n = inputs.DIAMOND_N
        return PG.diamond_grid(ctx.spark, n, n, *inputs.DIAMOND_U,
                               *inputs.DIAMOND_V, concave=True)

    def _build(self, ctx, leg: str):
        from gdal_spark.operators import spatial_join as SJ
        from gdal_spark.sources import pages as P

        tr = ctx.tracer
        shuffle = leg == "shuffle"
        pg = ctx.spark.read.parquet(ctx.path("pages/part-00000.parquet"))
        in_sub = F.unix_timestamp("warc_ts") % inputs.SHUFFLE_EVERY == 0
        if shuffle:
            pg = pg.filter(in_sub)
        with tr.span("pages.extract_points", "sources", "build"):
            pts = P.extract_points(pg, extra=(in_sub.cast("int").alias("sub"),))
        with tr.span("polygons.diamond_grid", "sources", "build"):
            grid = self._grid(ctx)
        with tr.span("spatial_join.point_in_polygon_join", "spatial_join",
                     "build"):
            if shuffle:
                joined = SJ.point_in_polygon_join(
                    pts, grid, how="left_first", strategy="shuffle")
            else:
                joined = SJ.point_in_polygon_join(pts, grid,
                                                  strategy="broadcast")
        # n_sub: matches among the shuffle leg's points, for the cross-check
        return joined.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n"),
                                             F.sum("sub").alias("n_sub"))

    def check(self, ctx, outputs):
        want = ctx.expected["pip"]
        bcast = {str(r["cell_id"]): r["n"] for r in outputs["pip_broadcast"]}
        shuf = {("null" if r["cell_id"] is None else str(r["cell_id"])): r["n"]
                for r in outputs["pip_shuffle"]}
        fails = _diff("pip_broadcast", bcast, want["broadcast"])
        fails += _diff("pip_shuffle", shuf, want["shuffle"])
        # the two legs against each other, on the shuffle leg's points
        sub = {str(r["cell_id"]): r["n_sub"] for r in outputs["pip_broadcast"]
               if r["n_sub"]}
        fails += _diff("pip_broadcast_vs_shuffle", sub,
                       {k: v for k, v in shuf.items() if k != "null"})
        return fails

    def matches(self, outputs):
        return {"pip_broadcast": sum(r["n"] for r in outputs["pip_broadcast"]),
                "pip_shuffle": sum(r["n"] for r in outputs["pip_shuffle"]
                                   if r["cell_id"] is not None)}


WORKLOADS = {w.name: w for w in (FlagshipPages(), PipPolygons())}


def input_rows(ctx) -> int:
    """Rows in the pages parquet, read from the footers."""
    import pyarrow.parquet as pq
    d = ctx.path("pages")
    return sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
               for f in sorted(os.listdir(d)) if f.endswith(".parquet"))


# --- probes, traced runs only ----------------------------------------------

def geometry_probe(ctx) -> dict:
    """``PreparedPolygons`` called in-process on the workload's grid, with a
    fixed batch of points drawn like the pages' host coordinates."""
    from gdal_spark.functions.geometry import PreparedPolygons

    rows = ctx.workload._grid(ctx).select("cell_id", "wkb").collect()
    lon, lat = inputs.host_coords(np.random.default_rng([ctx.seed, 3]), 200_000)
    px, py = lon / 1e6, lat / 1e6
    tr = ctx.tracer
    with tr.span("geometry.PreparedPolygons", "geometry", "kernel"):
        t0 = time.perf_counter()
        prep = PreparedPolygons(ids=[r[0] for r in rows],
                                wkbs=[bytes(r[1]) for r in rows])
        # the first call builds the cell index; an empty batch would raise
        # IndexError inside contains_batch, so use one point
        prep.contains_batch(px[:1], py[:1])
        prepare_s = time.perf_counter() - t0
    rates = []
    for _ in range(3):
        with tr.span("geometry.contains_batch", "geometry", "kernel"):
            t0 = time.perf_counter()
            prep.contains_batch(px, py)
            rates.append(len(px) / (time.perf_counter() - t0))
    return {"geometry.prepare_s": prepare_s,
            "geometry.contains_pts_per_s": float(np.median(rates))}


def scan_probe(ctx) -> dict:
    """The scan + point-extraction prefix of the workload, alone, as one
    timed noop job."""
    import sparkstats
    from gdal_spark.sources import pages as P

    tr = ctx.tracer
    name = "pages" if ctx.workload is WORKLOADS["flagship_pages"] \
        else "pages/part-00000.parquet"
    with tr.span("pages.extract_points", "sources", "build"):
        df = P.extract_points(ctx.spark.read.parquet(ctx.path(name)))
    with tr.span("sources.scan", "sources", "exec") as s:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        scan_s = time.perf_counter() - t0
    tr.harvest(tr.run)
    tot = sparkstats.totals(s["records"])
    return {"sources.scan_s": scan_s, "sources.scan_bytes": tot["scan_bytes"],
            "sources.scan_rows": tot["scan_rows"]}


REGISTRY_LAYERS = {"span_dedup": "dedup", "dedup_cluster": "dedup",
                   "knn_k3": "knn", "warp_bilinear": "raster"}


def registry_probe(ctx, tally, corpus_dir: str, expected: dict) -> None:
    """Once each, on a generated documents table: the registry queries that
    reach the dedup, knn and raster layers, output-checked against the
    oracle answers stored with the input."""
    from gdal_spark import queries as Q

    tr = ctx.tracer
    for name in inputs.CORPUS_QUERIES:
        layer = REGISTRY_LAYERS[name]
        tally.attempted += 1
        try:
            ctx.spark.catalog.clearCache()
            with tr.span(name, layer, "query"):
                with tr.span(f"queries.{name}", layer, "build"):
                    df = Q.QUERIES[name][0](ctx.spark, corpus_dir)
                with tr.span(f"{name}.action", layer, "exec"):
                    rows = df.select(*sorted(df.columns)).collect()
        except Exception as e:
            tally.failures.append(f"{name}: {type(e).__name__}: "
                                  f"{str(e).splitlines()[0][:300]}")
            continue
        want = expected[name]
        cols = list(rows[0].asDict()) if rows else want["columns"]
        if cols != want["columns"] or \
                inputs.normalize(tuple(r) for r in rows) != want["rows"]:
            tally.failures.append(f"{name}: {len(rows)} rows, want "
                                  f"{len(want['rows'])}, or values differ")
    tr.harvest(tr.run)


def lsh_probe(ctx, corpus_dir: str) -> dict:
    """Candidate pairs out of LSH banding, and the share that pass the
    Jaccard threshold, with the parameters ``dedup_cluster`` uses."""
    from gdal_spark.operators import dedup as DD

    tr = ctx.tracer
    docs = ctx.spark.read.parquet(f"{corpus_dir}/documents.parquet")
    with tr.span("dedup.minhash_signatures", "dedup", "build"):
        sigs = DD.minhash_signatures(docs, n_hashes=8, shingle_n=3)
    with tr.span("dedup.lsh_candidate_pairs", "dedup", "build"):
        pairs = DD.lsh_candidate_pairs(sigs, n_bands=4, rows_per_band=2).cache()
    n_pairs = pairs.count()
    with tr.span("dedup.ngram_jaccard_pairs", "dedup", "build"):
        jac = DD.ngram_jaccard_pairs(docs, pairs, shingle_n=3)
    n_match = jac.filter(F.col("jaccard") >= 0.1).count()
    pairs.unpersist()
    return {"dedup.lsh_candidate_pairs": float(n_pairs),
            "dedup.lsh_match_ratio": n_match / n_pairs if n_pairs else 0.0}
