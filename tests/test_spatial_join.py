"""PIP join: broadcast vs shuffle paths vs a plain-Python oracle; OGR join
semantics (first-match left join); envelope derivation; cell cover."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.functions import geometry as G
from gdal_spark.operators import spatial_join as SJ
from gdal_spark.sources import pages as P
from gdal_spark.sources import polygons as PG


@pytest.fixture(scope="module")
def small_world(spark):
    pts = P.extract_points(P.pages(spark, 400, n_hosts=100)).persist()
    polys = PG.admin_grid(spark, nx=12, ny=6).persist()
    # plain-python oracle over collected rows
    prows = pts.collect()
    grows = polys.collect()
    prep = G.PreparedPolygons([r["cell_id"] for r in grows], [bytes(r["wkb"]) for r in grows])
    pi, gi = prep.contains_batch(
        np.array([r["lon"] for r in prows]), np.array([r["lat"] for r in prows]))
    expected = {(prows[int(a)]["url"], int(prep.ids[int(b)])) for a, b in zip(pi, gi)}
    return pts, polys, prows, expected


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle"])
def test_inner_matches_oracle(spark, small_world, strategy):
    pts, polys, prows, expected = small_world
    out = SJ.point_in_polygon_join(pts, polys, strategy=strategy, cell_zoom=4)
    got = {(r["url"], r["cell_id"]) for r in out.collect()}
    assert got == expected


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle"])
def test_left_emits_unmatched(spark, small_world, strategy):
    pts, polys, prows, expected = small_world
    # grid covering only the eastern hemisphere -> western points unmatched
    east = polys.filter(F.col("xmin") >= 0)
    out = SJ.point_in_polygon_join(pts, east, how="left", strategy=strategy, cell_zoom=4)
    rows = out.collect()
    assert len({r["url"] for r in rows}) == len(prows)
    matched = {r["url"] for r in rows if r["cell_id"] is not None}
    west = {r["url"] for r in prows if r["lon"] < 0}
    assert matched.isdisjoint(west)


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle"])
def test_left_first_match_semantics(spark, strategy):
    """OGR SQL LEFT JOIN returns only the first match
    (ogr_gensql.cpp:1283-1314) — determinized to lowest polygon id."""
    sq = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    polys = spark.createDataFrame(
        [(5, bytearray(G.encode_polygon([sq]))), (2, bytearray(G.encode_polygon([sq])))],
        "cell_id long, wkb binary")
    pts = spark.createDataFrame([("a", 5.0, 5.0), ("b", 50.0, 5.0)],
                                "url string, lon double, lat double")
    out = SJ.point_in_polygon_join(pts, polys, how="left_first", strategy=strategy, cell_zoom=3)
    got = {(r["url"], r["cell_id"]) for r in out.collect()}
    assert got == {("a", 2), ("b", None)}


@pytest.mark.parametrize("how", ["left", "left_first"])
def test_shuffle_left_duplicate_points_and_wide_payload(spark, how):
    """Regression: the shuffle path's left modes previously keyed the dedup
    window and unmatched anti-join on ALL point columns — merging duplicate
    points into one row (and shuffling the full payload). Duplicates must
    survive, payload intact."""
    sq = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    polys = spark.createDataFrame([(1, bytearray(G.encode_polygon([sq])))],
                                  "cell_id long, wkb binary")
    payload = "x" * 10000
    pts = spark.createDataFrame(
        [("dup", 5.0, 5.0, payload), ("dup", 5.0, 5.0, payload),
         ("out", 50.0, 5.0, payload), ("out", 50.0, 5.0, payload)],
        "url string, lon double, lat double, body string")
    out = SJ.point_in_polygon_join(pts, polys, how=how, strategy="shuffle",
                                   cell_zoom=3).collect()
    assert len(out) == 4
    assert sorted((r["url"], r["cell_id"]) for r in out) == \
        [("dup", 1), ("dup", 1), ("out", None), ("out", None)]
    assert all(r["body"] == payload for r in out)


def test_hole_and_concave_respected_in_join(spark):
    polys = PG.poly_fixture(spark).select(
        F.col("fid").alias("cell_id"), F.col("geometry").alias("wkb"))
    pts = spark.createDataFrame(
        [("in7", 145.0, 1.0), ("hole7", 145.0, 5.0), ("in3", 61.0, 5.0),
         ("notch3", 65.0, 5.0)],
        "url string, lon double, lat double")
    for strategy in ("broadcast", "shuffle"):
        out = SJ.point_in_polygon_join(pts, polys, strategy=strategy, cell_zoom=3)
        got = {(r["url"], r["cell_id"]) for r in out.collect()}
        assert got == {("in7", 7), ("in3", 3)}, strategy


def test_with_envelope_matches_decoder(spark):
    polys = PG.poly_fixture(spark)
    env = SJ.with_envelope(polys, "geometry").collect()
    for r in env:
        e = G.polygon_envelope(bytes(r["geometry"]))
        assert (r["xmin"], r["ymin"], r["xmax"], r["ymax"]) == e


def test_polygon_cover_cells(spark):
    polys = PG.admin_grid(spark, nx=4, ny=2)
    covered = SJ.polygon_cover_cells(polys, "wkb", cell_zoom=3)
    from gdal_spark.functions import tiles as T
    for r in covered.select("cell_id", "xmin", "ymin", "xmax", "ymax", "_tx", "_ty").collect():
        tx0, _ = T.py_latlon_to_tile(0.0, r["xmin"], 3)
        tx1, _ = T.py_latlon_to_tile(0.0, r["xmax"], 3)
        _, ty0 = T.py_latlon_to_tile(r["ymin"], 0.0, 3)
        _, ty1 = T.py_latlon_to_tile(r["ymax"], 0.0, 3)
        assert tx0 <= r["_tx"] <= tx1 and ty0 <= r["_ty"] <= ty1


def test_metadata_probe_runs_no_job(spark, tmp_path):
    """The auto strategy's row-count probe must come from Catalyst stats
    (parquet footers), not a count() action — no Spark job may run."""
    pq = str(tmp_path / "polys.parquet")
    PG.admin_grid(spark, nx=4, ny=2).write.mode("overwrite").parquet(pq)
    polys = spark.read.parquet(pq)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    est = SJ._estimated_row_count(polys)
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert est is not None and est >= 1
    assert after == before, "metadata probe launched a Spark job"


def _job_count(spark) -> int:
    """Jobs started so far (highest job id + 1), after the listener bus
    drains. Not the size of the status store: past spark.ui.retainedJobs
    (1000) it evicts the oldest tenth, so its size can fall while a job
    runs."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1) + 1


@pytest.mark.parametrize("grid", ["admin", "diamond"])
def test_broadcast_build_runs_no_job(spark, grid):
    """Driver-built layers are LocalRelations: building the grid and the
    broadcast join (the polygon collect included) starts no Spark job."""
    pts = spark.createDataFrame([(5.0, 5.0), (-50.0, 40.0), (170.0, -80.0)],
                                "lon double, lat double")
    before = _job_count(spark)
    if grid == "admin":
        polys = PG.admin_grid(spark, nx=36, ny=17)
    else:
        polys = PG.diamond_grid(spark, 40, 40, -100.0, 100.0, -100.0, 100.0,
                                concave=True)
    out = SJ.point_in_polygon_join(pts, polys, strategy="broadcast")
    assert _job_count(spark) == before
    assert out.count() >= 1
    assert _job_count(spark) > before


def test_rect_cell_table_is_local_relation(spark):
    pts = spark.createDataFrame([(5.0, 5.0)], "lon double, lat double")
    out = SJ.point_in_polygon_join(pts, PG.admin_grid(spark), strategy="broadcast")
    leaves = out._jdf.queryExecution().optimizedPlan().collectLeaves()
    names = {leaves.apply(i).getClass().getSimpleName()
             for i in range(leaves.size())}
    assert names == {"LogicalRDD", "LocalRelation"}
    assert [r["cell_id"] for r in out.collect()] == [42]


def test_auto_strategy_reads_exact_row_count(spark):
    polys = PG.diamond_grid(spark, 40, 40, -100.0, 100.0, -100.0, 100.0)
    assert SJ._estimated_row_count(polys) == 1600


def test_broadcast_pip_empty_partition(spark):
    """A points frame with an empty partition through the Arrow broadcast
    kernel (non-rectangular polygons)."""
    polys = PG.diamond_grid(spark, 4, 4, -10.0, 10.0, -10.0, 10.0, concave=True)
    pts = spark.createDataFrame([("a", 0.0, 1.0), ("b", 50.0, 0.0)],
                                "url string, lon double, lat double"
                                ).repartition(3, "url")
    assert 0 in pts.rdd.glom().map(len).collect()
    got = sorted((r["url"], r["cell_id"]) for r in SJ.point_in_polygon_join(
        pts, polys, how="left", strategy="broadcast").collect())
    assert got == [("a", 10), ("b", None)]


def test_shuffle_keeps_polygons_touching_the_pole(spark):
    """A rectangle reaching lat -90: its cell keys are clamped to the
    Web-Mercator domain, so the shuffle path finds the same match as the
    broadcast path."""
    rect = np.array([[-10, -90], [10, -90], [10, -60], [-10, -60], [-10, -90]],
                    dtype=float)
    polys = spark.createDataFrame([(1, bytearray(G.encode_polygon([rect])))],
                                  "cell_id long, wkb binary")
    pts = spark.createDataFrame([("a", 0.0, -70.0), ("b", 0.0, -89.9)],
                                "url string, lon double, lat double")
    got = {s: sorted((r["url"], r["cell_id"]) for r in SJ.point_in_polygon_join(
        pts, polys, how="left_first", strategy=s).collect())
        for s in ("broadcast", "shuffle")}
    assert got["shuffle"] == got["broadcast"] == [("a", 1), ("b", 1)]


def test_shuffle_left_batch_without_candidates(spark):
    """A batch holding only points with no candidate polygon."""
    sq = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    polys = spark.createDataFrame([(1, bytearray(G.encode_polygon([sq])))],
                                  "cell_id long, wkb binary")
    pts = spark.createDataFrame([("b", 50.0, 5.0)],
                                "url string, lon double, lat double")
    out = SJ.point_in_polygon_join(pts, polys, how="left_first",
                                   strategy="shuffle", cell_zoom=3)
    assert [(r["url"], r["cell_id"]) for r in out.collect()] == [("b", None)]


def _diamond_points(spark):
    """Points on a quarter-degree lattice (many on diamond edges and
    vertices), uniform points, and a tail of far points that fall in no
    cell; one partition, so the tail fills whole Arrow batches."""
    rng = np.random.default_rng(11)
    lon = np.r_[rng.integers(-80, 80, 300) / 4.0, rng.uniform(-25, 25, 300),
                np.full(30, 170.0)]
    lat = np.r_[rng.integers(-80, 80, 300) / 4.0, rng.uniform(-25, 25, 300),
                np.full(30, -60.0)]
    return spark.createDataFrame(
        [(f"p{i}", float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))],
        "url string, lon double, lat double").coalesce(1)


@pytest.mark.parametrize("how", ["inner", "left", "left_first"])
def test_shuffle_matches_broadcast_on_concave_diamonds(spark, how):
    """The Arrow shuffle kernel against the broadcast kernel on the concave
    diamond grid, laid twice so matched points have two polygons. 7-row
    Arrow batches split a point's candidate rows over batches and leave
    batches of left-join misses only."""
    grid = PG.diamond_grid(spark, 12, 12, -30.0, 30.0, -30.0, 30.0, concave=True)
    polys = grid.unionByName(grid.withColumn("cell_id", F.col("cell_id") + 1000))
    pts = _diamond_points(spark)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = {s: sorted((r["url"], -1 if r["cell_id"] is None else r["cell_id"])
                         for r in SJ.point_in_polygon_join(
                             pts, polys, how=how, strategy=s, cell_zoom=4).collect())
               for s in ("broadcast", "shuffle")}
    finally:
        spark.conf.set(key, old)
    assert got["shuffle"] == got["broadcast"]
    urls = [u for u, _ in got["shuffle"]]
    if how == "left_first":
        assert len(urls) == len(set(urls)) == 630
    assert sum(c >= 0 for _, c in got["shuffle"]) > 100
    assert (how == "inner") == (("p629", -1) not in got["shuffle"])


def _plan_nodes(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_shuffle_plan_is_one_arrow_pass(spark):
    """Polygons with envelope columns: the cell table is JVM-only and the
    only Python stage is the pair kernel; without them, with_envelope adds
    one Arrow pass. No pandas stage either way."""
    polys = PG.diamond_grid(spark, 4, 4, -10.0, 10.0, -10.0, 10.0, concave=True)
    pts = spark.createDataFrame([("a", 0.0, 1.0)], "url string, lon double, lat double")
    for cols, n_arrow in ((polys.columns, 1), (["cell_id", "wkb"], 2)):
        plan = _plan_nodes(SJ.point_in_polygon_join(
            pts, polys.select(*cols), how="left_first", strategy="shuffle"))
        assert "MapInPandas" not in plan
        assert plan.count("MapInArrow") == n_arrow, plan


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle"])
def test_empty_polygon_layer(spark, strategy):
    """No polygons: left modes keep every point with a null polygon, inner
    returns nothing (the broadcast path used to raise on the empty grid)."""
    pts = spark.createDataFrame([("a", 0.0, 1.0)], "url string, lon double, lat double")
    empty = PG.admin_grid(spark, 4, 4).limit(0)
    got = {how: [(r["url"], r["cell_id"]) for r in SJ.point_in_polygon_join(
        pts, empty, how=how, strategy=strategy).collect()]
        for how in ("inner", "left", "left_first")}
    assert got == {"inner": [], "left": [("a", None)], "left_first": [("a", None)]}
