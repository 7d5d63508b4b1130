"""Driver-contract query registry: Spark queries + DuckDB oracle SQL.

Each entry in ``QUERIES`` maps name → (spark_fn, oracle_sql_or_None).
``spark_fn(spark, sf_dir)`` runs the engine's operators; the oracle is
ANSI SQL DuckDB runs on the same parquet (views pre-registered by the
driver). Column names and value determinism are contract: every computed
column is aliased identically on both sides, doubles are either produced
by identical IEEE expression trees or rounded.

Geo queries derive a deterministic point layer from the ``documents``
table (doc_id hash-arithmetic — integer-exact in both engines, 70% skewed
into 3 city clusters mirroring sources/pages.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.functions import tiles
from gdal_spark.functions import text as TX
from gdal_spark.operators import ann as ANN
from gdal_spark.operators import dedup as DD
from gdal_spark.operators import knn as KNN
from gdal_spark.operators import spatial_join as SJ
from gdal_spark.operators import tiling
from gdal_spark.session import local_frame
from gdal_spark.sources import polygons as PG

# ---------------------------------------------------------------------------
# shared point derivation (identical SQL text on both engines)
# ---------------------------------------------------------------------------

LON_EXPR = (
    "(CASE WHEN doc_id % 10 < 7 THEN "
    "(CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN -73985000 WHEN 1 THEN 2352000 "
    "ELSE 139692000 END) + ((doc_id * 9973) % 500000) - 250000 "
    "ELSE ((doc_id * 9973) % 340000000) - 170000000 END) / CAST(1000000 AS DOUBLE)"
)
LAT_EXPR = (
    "(CASE WHEN doc_id % 10 < 7 THEN "
    "(CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 40748000 WHEN 1 THEN 48857000 "
    "ELSE 35690000 END) + ((doc_id * 7919) % 400000) - 200000 "
    "ELSE ((doc_id * 7919) % 160000000) - 80000000 END) / CAST(1000000 AS DOUBLE)"
)

POINTS_SQL = f"SELECT doc_id, {LON_EXPR} AS lon, {LAT_EXPR} AS lat FROM documents"


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """All queries load through the source registry: an ``iceberg:`` prefix
    on sf_dir routes to the Iceberg DataSource (the input_hint contract),
    a plain path to the testdata parquet layout."""
    from gdal_spark.sources.catalog import ICEBERG_PREFIX, load_table
    if sf_dir.startswith(ICEBERG_PREFIX):
        return load_table(spark, f"{sf_dir}.{table}")
    return load_table(spark, f"{sf_dir}/{table}.parquet")


def doc_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{LON_EXPR} AS lon", f"{LAT_EXPR} AS lat")


# SQL twins of the tile column expressions (constants embedded as the exact
# Python doubles the Spark columns use, so both engines evaluate the same
# IEEE expression tree; transcendental tan/ln agree except ulps far from
# tile boundaries — see tests/test_tiles.py boundary note).
_K_MX = repr(tiles.ORIGIN_SHIFT / 180.0)
_K_P360 = repr(math.pi / 360.0)
_K_P180 = repr(math.pi / 180.0)
_OS = repr(tiles.ORIGIN_SHIFT)


def sql_mx(lon: str) -> str:
    return f"(({lon}) * {_K_MX})"


def sql_my(lat: str) -> str:
    return f"(ln(tan((90.0 + ({lat})) * {_K_P360})) / {_K_P180} * {_K_MX})"


def sql_tile(m: str, zoom: int) -> str:
    res = repr(tiles.py_resolution(zoom))
    return f"CAST(ceil((({m}) + {_OS}) / {res} / 256.0) - 1 AS INTEGER)"


def sql_tx(lon: str, zoom: int) -> str:
    return sql_tile(sql_mx(lon), zoom)


def sql_ty(lat: str, zoom: int) -> str:
    return sql_tile(sql_my(lat), zoom)


def sql_quadkey(tx: str, ty: str, zoom: int) -> str:
    """Loop-unrolled quadkey digits (gdal2tiles QuadTree semantics)."""
    gy = f"({2**zoom - 1} - ({ty}))"
    digits = []
    for i in range(zoom, 0, -1):
        mask = 1 << (i - 1)
        digits.append(
            f"CAST((CASE WHEN (({tx}) & {mask}) != 0 THEN 1 ELSE 0 END) + "
            f"(CASE WHEN ({gy} & {mask}) != 0 THEN 2 ELSE 0 END) AS VARCHAR)")
    if not digits:
        return "''"
    return " || ".join(digits)


# ---------------------------------------------------------------------------
# geo queries
# ---------------------------------------------------------------------------

def q_tile_assign_z10(spark, sf_dir):
    pts = doc_points(spark, sf_dir)
    df = tiles.with_tile_columns(pts, zoom=10)
    return (df.groupBy("tx", "ty", "gy", "quadkey")
            .agg(F.count(F.lit(1)).alias("n")))


ORACLE_TILE_ASSIGN_Z10 = f"""
WITH pts AS ({POINTS_SQL}),
t AS (SELECT {sql_tx('lon', 10)} AS tx, {sql_ty('lat', 10)} AS ty FROM pts)
SELECT tx, ty, ({2**10 - 1} - ty) AS gy, {sql_quadkey('tx', 'ty', 10)} AS quadkey,
       count(*) AS n
FROM t GROUP BY tx, ty
"""


def q_pip_admin_grid(spark, sf_dir):
    """Generic ray-casting PIP join (broadcast prepared-polygon path) against
    the 36x17 rectangle admin grid; verified by a pure bbox SQL oracle."""
    pts = doc_points(spark, sf_dir)
    grid = PG.admin_grid(spark, nx=36, ny=17, lat_min=-85.0, lat_max=85.0)
    joined = SJ.point_in_polygon_join(pts, grid, strategy="broadcast")
    return joined.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n"),
                                         F.min("doc_id").alias("min_doc"))


ORACLE_PIP_ADMIN_GRID = f"""
WITH pts AS ({POINTS_SQL})
SELECT CAST(floor((lon + 180.0) / 10.0) + 36 * floor((lat + 85.0) / 10.0) AS BIGINT) AS cell_id,
       count(*) AS n, min(doc_id) AS min_doc
FROM pts GROUP BY 1
"""


def q_pip_tile_flagship(spark, sf_dir):
    """Flagship: polygon containment + tile assignment in one pass —
    per (cell_id, tile@z8) document counts."""
    pts = doc_points(spark, sf_dir)
    grid = PG.admin_grid(spark, nx=36, ny=17, lat_min=-85.0, lat_max=85.0)
    joined = SJ.point_in_polygon_join(pts, grid, strategy="broadcast")
    df = tiles.with_tile_columns(joined, zoom=8)
    return df.groupBy("cell_id", "tx", "ty").agg(F.count(F.lit(1)).alias("n"))


ORACLE_PIP_TILE_FLAGSHIP = f"""
WITH pts AS ({POINTS_SQL})
SELECT CAST(floor((lon + 180.0) / 10.0) + 36 * floor((lat + 85.0) / 10.0) AS BIGINT) AS cell_id,
       {sql_tx('lon', 8)} AS tx, {sql_ty('lat', 8)} AS ty, count(*) AS n
FROM pts GROUP BY 1, 2, 3
"""


def q_intersect_except(spark, sf_dir):
    """INTERSECT / EXCEPT set operations (swq set-ops surface, SURVEY §2.7):
    nation keys present in both customer and supplier, minus those of
    customers with small account balances — exercised as Spark's builtin
    INTERSECT/EXCEPT (Catalyst rewrites to semi/anti joins)."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("_customer")
    load(spark, sf_dir, "supplier").createOrReplaceTempView("_supplier")
    return spark.sql("""
        SELECT c_nationkey AS nationkey FROM _customer
        INTERSECT
        SELECT s_nationkey FROM _supplier
        EXCEPT
        SELECT c_nationkey FROM _customer WHERE c_acctbal < -900
    """)


ORACLE_INTERSECT_EXCEPT = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
EXCEPT
SELECT c_nationkey FROM customer WHERE c_acctbal < -900
"""


def q_pip_shuffle_left(spark, sf_dir):
    """Shuffle-path PIP join (cell-keyed equi-join + exact ray cast per
    Arrow batch) in left first-match mode against an eastern-hemisphere
    grid — western points stay unmatched (null cell_id). Exercises
    strategy='shuffle' end-to-end (the broadcast path has its own oracles)."""
    pts = doc_points(spark, sf_dir)
    grid = PG.admin_grid(spark, nx=18, ny=17, lon_min=0.0, lon_max=180.0,
                         lat_min=-85.0, lat_max=85.0)
    joined = SJ.point_in_polygon_join(pts, grid, how="left_first",
                                      strategy="shuffle", cell_zoom=4)
    return joined.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n"),
                                         F.min("doc_id").alias("min_doc"))


ORACLE_PIP_SHUFFLE_LEFT = f"""
WITH pts AS ({POINTS_SQL})
SELECT CASE WHEN lon >= 0
       THEN CAST(floor(lon / 10.0) + 18 * floor((lat + 85.0) / 10.0) AS BIGINT)
       ELSE NULL END AS cell_id,
       count(*) AS n, min(doc_id) AS min_doc
FROM pts GROUP BY 1
"""


def q_knn_k3(spark, sf_dir):
    pts = doc_points(spark, sf_dir).withColumnRenamed("doc_id", "pid")
    qs = (doc_points(spark, sf_dir).filter(F.col("doc_id") < 20)
          .withColumnRenamed("doc_id", "qid"))
    return KNN.knn_cell_ring(qs, pts, k=3, zoom=6)


ORACLE_KNN_K3 = f"""
WITH pts AS ({POINTS_SQL}),
qs AS (SELECT * FROM pts WHERE doc_id < 20),
d AS (SELECT q.doc_id AS qid, p.doc_id AS pid,
        (q.lon - p.lon) * (q.lon - p.lon) + (q.lat - p.lat) * (q.lat - p.lat) AS dist_sq
      FROM qs q CROSS JOIN pts p),
r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist_sq, pid) AS rank FROM d)
SELECT qid, pid, dist_sq, rank FROM r WHERE rank <= 3
"""


def q_tile_pyramid(spark, sf_dir):
    pts = doc_points(spark, sf_dir)
    base = tiling.tile_counts(pts, zoom=8)
    return tiling.pyramid(base, zoom=8, min_zoom=5).select("zoom", "tx", "ty", "n")


def _oracle_pyramid() -> str:
    parts = []
    for z in range(5, 9):
        parts.append(
            f"SELECT {z} AS zoom, {sql_tx('lon', z)} AS tx, {sql_ty('lat', z)} AS ty, "
            f"count(*) AS n FROM pts GROUP BY 2, 3")
    return f"WITH pts AS ({POINTS_SQL})\n" + "\nUNION ALL\n".join(parts)


ORACLE_TILE_PYRAMID = _oracle_pyramid()


def q_extent(spark, sf_dir):
    """ogrinfo/GetExtent analog: layer envelope + feature count."""
    pts = doc_points(spark, sf_dir)
    return pts.agg(F.min("lon").alias("xmin"), F.min("lat").alias("ymin"),
                   F.max("lon").alias("xmax"), F.max("lat").alias("ymax"),
                   F.count(F.lit(1)).alias("n"))


ORACLE_EXTENT = f"""
WITH pts AS ({POINTS_SQL})
SELECT min(lon) AS xmin, min(lat) AS ymin, max(lon) AS xmax, max(lat) AS ymax,
       count(*) AS n FROM pts
"""


# ---------------------------------------------------------------------------
# OGR SQL semantics on the relational tables
# ---------------------------------------------------------------------------

def q_summary_agg(spark, sf_dir):
    """OGR whole-table summary mode (PrepareSummary, ogr_gensql.cpp:796):
    MIN/MAX/COUNT/SUM/AVG without GROUP BY. Sums on decimal for exactness."""
    li = load(spark, sf_dir, "lineitem")
    qty_dec = F.col("l_quantity").cast("decimal(18,2)")
    return li.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.sum(qty_dec).cast("double").alias("sum_qty"),
        F.round(F.sum(qty_dec).cast("double") / F.count(F.lit(1)), 6).alias("avg_qty"),
        F.countDistinct("l_returnflag").alias("n_flags"),
    )


ORACLE_SUMMARY_AGG = """
SELECT count(*) AS cnt, min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
       count(DISTINCT l_returnflag) AS n_flags
FROM lineitem
"""


def q_distinct(spark, sf_dir):
    """SELECT DISTINCT mode (swq DISTINCT_LIST, swq_select.cpp:1133-1148)."""
    return load(spark, sf_dir, "orders").select("o_orderpriority").distinct()


ORACLE_DISTINCT = "SELECT DISTINCT o_orderpriority FROM orders"


def q_orderby_topk(spark, sf_dir):
    """ORDER BY multi-key + LIMIT (CreateOrderByIndex analog; top-k is
    Catalyst TakeOrderedAndProject)."""
    return (load(spark, sf_dir, "orders")
            .orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
            .limit(100)
            .select("o_orderkey", "o_custkey", "o_totalprice"))


ORACLE_ORDERBY_TOPK = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
"""


def q_left_join_first(spark, sf_dir):
    """OGR LEFT JOIN first-match-only semantics (ogr_gensql.cpp:1283-1314):
    each order keeps only its first lineitem (min line number)."""
    from pyspark.sql import Window
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    # the synthetic lineitem has duplicate (orderkey, linenumber) pairs —
    # full tie-break keeps first-match deterministic
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey", "l_suppkey")
    first = (li.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
             .select("l_orderkey", "l_partkey", "l_quantity"))
    return (orders.join(first, orders.o_orderkey == first.l_orderkey, "left")
            .select("o_orderkey", "o_totalprice", "l_partkey", "l_quantity"))


ORACLE_LEFT_JOIN_FIRST = """
WITH first AS (
  SELECT l_orderkey, l_partkey, l_quantity,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
  FROM lineitem)
SELECT o.o_orderkey, o.o_totalprice, f.l_partkey, f.l_quantity
FROM orders o LEFT JOIN (SELECT * FROM first WHERE rn = 1) f
ON o.o_orderkey = f.l_orderkey
"""


def q_like_ci(spark, sf_dir):
    """OGR case-insensitive LIKE (swq_op_general.cpp:42-100)."""
    p = load(spark, sf_dir, "part")
    return (p.filter(F.lower(F.col("p_type")).like("%econ%"))
            .select("p_partkey", "p_type"))


ORACLE_LIKE_CI = "SELECT p_partkey, p_type FROM part WHERE lower(p_type) LIKE '%econ%'"


def q_substr_cast(spark, sf_dir):
    """OGR SUBSTR (1-based, negative-from-end, ogr_sql.dox:141-155) + CAST."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.expr("substring(p_name, 1, 8)").alias("head8"),
        F.expr("substring(p_name, -4)").alias("tail4"),
        F.col("p_size").cast("string").alias("size_str"),
        F.col("p_retailprice").cast("decimal(18,2)").cast("string").alias("price_str"),
    )


ORACLE_SUBSTR_CAST = """
SELECT p_partkey, substr(p_name, 1, 8) AS head8, substr(p_name, -4) AS tail4,
       CAST(p_size AS VARCHAR) AS size_str,
       CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS VARCHAR) AS price_str
FROM part
"""


def q_union_all(spark, sf_dir):
    """UNION ALL of selects (OGRUnionLayer, gdaldataset.cpp:4991-5041)."""
    n = load(spark, sf_dir, "nation")
    a = n.filter(F.col("n_regionkey") == 0).select("n_nationkey", "n_name")
    b = n.filter(F.col("n_regionkey") == 1).select("n_nationkey", "n_name")
    return a.unionByName(b)


ORACLE_UNION_ALL = """
SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 0
UNION ALL
SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 1
"""


def q_groupby_agg(spark, sf_dir):
    """GROUP BY aggregation — capability upgrade over the reference's
    whole-table-only summary (TPC-H Q1 shape)."""
    li = load(spark, sf_dir, "lineitem")
    price_dec = F.col("l_extendedprice").cast("decimal(18,2)")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
                 F.sum(price_dec).cast("double").alias("sum_price")))


ORACLE_GROUPBY_AGG = """
SELECT l_returnflag, l_linestatus, count(*) AS cnt,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# autotest fixture queries (poly.shp / idlink.dbf ports, SURVEY.md §5)
# ---------------------------------------------------------------------------

from gdal_spark.functions import ogr_sql as OS  # noqa: E402

_POLY_VALUES = ", ".join(
    f"({fid}, {area!r}, {eas}, '{prf}')" for fid, area, eas, prf in PG.POLY_ROWS)
_IDLINK_VALUES = ", ".join(f"({eas}, '{nm}')" for eas, nm in PG.IDLINK_ROWS)
# areas of the synthetic fixture geometries (10x10 squares; fid 3 concave
# notch = 72, fid 7 interior ring = 96) — sources/polygons.py _poly_geom
_GEOM_AREAS = {fid: (72.0 if fid == 3 else 96.0 if fid == 7 else 100.0)
               for fid, _a, _e, _p in PG.POLY_ROWS}


def q_poly_idlink_join(spark, sf_dir):
    """ogr_join_test.py analog: poly LEFT JOIN idlink ON eas_id with OGR
    first-match semantics (ogr_gensql.cpp:1283-1314)."""
    poly = PG.poly_fixture(spark).select("fid", "eas_id", "prfedea")
    idl = PG.idlink_fixture(spark)
    out = OS.left_join_first(poly, idl, on="eas_id", order_by=["name"])
    return out.select("fid", "eas_id", "prfedea", "name")


ORACLE_POLY_IDLINK = f"""
WITH poly(fid, area, eas_id, prfedea) AS (VALUES {_POLY_VALUES}),
idlink(eas_id, name) AS (VALUES {_IDLINK_VALUES})
SELECT p.fid, p.eas_id, p.prfedea, i.name
FROM poly p LEFT JOIN idlink i ON p.eas_id = i.eas_id
"""


def q_poly_special_fields(spark, sf_dir):
    """Special fields OGR_GEOMETRY / OGR_GEOM_AREA computed from WKB
    (ogr_p.h:110-115, ogr_sql.dox:485-550), WHERE OGR_GEOM_AREA filter."""
    poly = PG.poly_fixture(spark)
    out = poly.select(
        "fid",
        OS.ogr_geometry(F.col("geometry")).alias("ogr_geometry"),
        F.round(OS.ogr_geom_area(F.col("geometry")), 6).alias("geom_area"))
    return out.filter(F.col("geom_area") < 100.0)


ORACLE_POLY_SPECIAL = f"""
WITH areas(fid, geom_area) AS (VALUES {", ".join(
    f"({fid}, {a!r})" for fid, a in _GEOM_AREAS.items())})
SELECT fid, 'POLYGON' AS ogr_geometry, CAST(geom_area AS DOUBLE) AS geom_area
FROM areas WHERE geom_area < 100.0
"""


def q_poly_distinct_where(spark, sf_dir):
    """ogr_sql_test.py:64-100 ported expectation: SELECT DISTINCT eas_id
    FROM poly WHERE eas_id < 170 → {168, 169, 166, 158, 165} (order-
    insensitive here; the reference's DISTINCT preserves first-seen)."""
    poly = PG.poly_fixture(spark)
    return poly.filter(F.col("eas_id") < 170).select("eas_id").distinct()


ORACLE_POLY_DISTINCT = f"""
WITH poly(fid, area, eas_id, prfedea) AS (VALUES {_POLY_VALUES})
SELECT DISTINCT eas_id FROM poly WHERE eas_id < 170
"""


def q_poly_orderby(spark, sf_dir):
    """ogr_sql_test.py ORDER BY cases (:82-117): multi-key sort with the
    case-sensitive string collation CreateOrderByIndex uses."""
    poly = PG.poly_fixture(spark)
    return (poly.orderBy(F.desc("eas_id"), F.col("prfedea"))
            .select("fid", "eas_id", "prfedea",
                    F.round("area", 3).alias("area")))


ORACLE_POLY_ORDERBY = f"""
WITH poly(fid, area, eas_id, prfedea) AS (VALUES {_POLY_VALUES})
SELECT fid, eas_id, prfedea, round(CAST(area AS DOUBLE), 3) AS area
FROM poly ORDER BY eas_id DESC, prfedea
"""


def q_poly_ci_filter(spark, sf_dir):
    """Case-insensitive string '=' and LIKE (swq_op_general.cpp:42-100)."""
    poly = PG.poly_fixture(spark)
    return (poly.filter(OS.ci_like(F.col("prfedea"), "35043_1%"))
            .select("fid", "prfedea",
                    OS.ogr_substr(F.col("prfedea"), -2).alias("tail2")))


ORACLE_POLY_CI = f"""
WITH poly(fid, area, eas_id, prfedea) AS (VALUES {_POLY_VALUES})
SELECT fid, prfedea, substr(prfedea, -2) AS tail2
FROM poly WHERE lower(prfedea) LIKE '35043_1%'
"""


# ---------------------------------------------------------------------------
# webtext / training-data operators
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    return DD.exact_dup_groups(load(spark, sf_dir, "documents"))


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS min_doc_id
FROM documents GROUP BY 1 HAVING count(*) > 1
"""


def q_dedup_prefix(spark, sf_dir):
    """Prefix-fingerprint dedup (boilerplate-style near-dup groups on the
    first 30 chars) — non-empty even at small sf."""
    docs = load(spark, sf_dir, "documents")
    return (docs.select(F.md5(F.substring("text", 1, 30)).alias("prefix_hash"), "doc_id")
            .groupBy("prefix_hash")
            .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
            .filter(F.col("n_docs") > 1))


ORACLE_DEDUP_PREFIX = """
SELECT md5(substr(text, 1, 30)) AS prefix_hash, count(*) AS n_docs,
       min(doc_id) AS min_doc_id
FROM documents GROUP BY 1 HAVING count(*) > 1
"""


def q_token_stats(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return (docs.select("lang", TX.token_count(F.col("text")).alias("_tc"),
                        F.length("text").alias("_len"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("_tc").alias("sum_tokens"),
                 F.sum("_len").alias("sum_chars"),
                 F.max("_tc").alias("max_tokens")))


ORACLE_TOKEN_STATS = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
       max(len(string_split(text, ' '))) AS max_tokens
FROM documents GROUP BY lang
"""


def q_lang_quality(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    qf = TX.quality_features(F.col("text"))
    return docs.select(
        "doc_id", TX.lang_guess(F.col("text")).alias("lang_guess"),
        qf["n_chars"].alias("n_chars"), qf["n_tokens"].alias("n_tokens"),
        qf["mean_token_len"].alias("mean_token_len"))


def _oracle_lang_quality() -> str:
    occ = {lang: f"CAST((length(text) - length(replace(text, '{m}', ''))) / {len(m)} AS INTEGER)"
           for lang, m in TX.LANG_MARKERS.items()}
    best = "greatest(" + ", ".join(occ.values()) + ")"
    guess = "'und'"
    for lang in reversed(list(TX.LANG_MARKERS)):
        guess = (f"CASE WHEN {occ[lang]} = {best} AND {best} > 0 "
                 f"THEN '{lang}' ELSE {guess} END")
    spaces = "CAST((length(text) - length(replace(text, ' ', ''))) / 1 AS INTEGER)"
    ntok = "len(string_split(text, ' '))"
    return f"""
SELECT doc_id, {guess} AS lang_guess, length(text) AS n_chars,
       {ntok} AS n_tokens,
       round((length(text) - {spaces}) / {ntok}, 6) AS mean_token_len
FROM documents
"""


ORACLE_LANG_QUALITY = _oracle_lang_quality()


def q_minhash_lsh_jaccard(spark, sf_dir):
    """Near-dup pipeline: MinHash signatures → LSH banding → exact n-gram
    Jaccard on candidates. Output pairs with jaccard >= 0.1."""
    docs = load(spark, sf_dir, "documents")
    sigs = DD.minhash_signatures(docs, n_hashes=8, shingle_n=3)
    # eager materialization: the jaccard stage references the candidate
    # pairs three times (id pruning, intersection, output join); a lazy
    # cache is not reliably shared between stages launched concurrently
    # inside one action, so the signature+banding subtree would recompute
    # per reference. cache+count (not localCheckpoint — its eager RDD
    # materialization showed pathological multi-minute stalls on repeat
    # invocations) pins the tiny pair set before the fan-out.
    pairs = DD.lsh_candidate_pairs(sigs, n_bands=4, rows_per_band=2).cache()
    pairs.count()
    jac = DD.ngram_jaccard_pairs(docs, pairs, shingle_n=3)
    return jac.filter(F.col("jaccard") >= 0.1).select(
        "id_a", "id_b", "inter", "size_a", "size_b", "jaccard")


def _oracle_minhash() -> str:
    from gdal_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P
    sig_cols = ", ".join(
        f"list_min(list_transform(hs, h -> ((h % {MINHASH_P}) * {MINHASH_A[j]}"
        f" + {MINHASH_B[j]}) % {MINHASH_P})) AS sig_{j}"
        for j in range(8))
    band_keys = " UNION ALL ".join(
        f"SELECT doc_id AS _id, {b} AS _band, "
        f"CAST(sig_{2*b} AS VARCHAR) || '|' || CAST(sig_{2*b+1} AS VARCHAR) AS _key "
        f"FROM sigs"
        for b in range(4))
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh_raw AS (SELECT doc_id,
      list_distinct(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                     i -> array_to_string(w[i:i+2], ' '))) AS sh FROM toks),
hsh AS (SELECT doc_id, list_transform(sh,
          s -> CAST(CAST(concat('0x', substr(md5(s), 1, 15)) AS UBIGINT) AS BIGINT)) AS hs
       FROM sh_raw WHERE len(sh) > 0),
sigs AS (SELECT doc_id, {sig_cols} FROM hsh),
bands_all AS ({band_keys}),
bands AS (SELECT _id, _band, _key FROM (
            SELECT _id, _band, _key,
                   row_number() OVER (PARTITION BY _band, _key ORDER BY _id) AS _rn
            FROM bands_all) WHERE _rn <= 256),
pairs AS (SELECT DISTINCT a._id AS id_a, b._id AS id_b
          FROM bands a JOIN bands b ON a._band = b._band AND a._key = b._key
          WHERE a._id < b._id),
sizes AS (SELECT doc_id, len(hs) AS sz FROM hsh),
inter AS (SELECT p.id_a, p.id_b, len(list_intersect(a.hs, b.hs)) AS inter
          FROM pairs p JOIN hsh a ON a.doc_id = p.id_a
                       JOIN hsh b ON b.doc_id = p.id_b)
SELECT p.id_a, p.id_b, coalesce(i.inter, 0) AS inter,
       sa.sz AS size_a, sb.sz AS size_b,
       round(coalesce(i.inter, 0) / (sa.sz + sb.sz - coalesce(i.inter, 0)), 6) AS jaccard
FROM pairs p
LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
JOIN sizes sa ON sa.doc_id = p.id_a
JOIN sizes sb ON sb.doc_id = p.id_b
WHERE round(coalesce(i.inter, 0) / (sa.sz + sb.sz - coalesce(i.inter, 0)), 6) >= 0.1
"""


ORACLE_MINHASH = _oracle_minhash()


def q_simhash_bands(spark, sf_dir):
    """64-bit SimHash (md5 bit votes over 2-word shingles), reported as four
    16-bit bands (Hamming-band dedup key)."""
    docs = load(spark, sf_dir, "documents")
    sh = DD.simhash64(docs, shingle_n=2)
    bands = [F.shiftrightunsigned(F.col("simhash"), 16 * b)
             .bitwiseAND(F.lit(0xFFFF)).cast("int").alias(f"b{b}")
             for b in range(4)]
    return sh.select("doc_id", *bands)


def _oracle_simhash() -> str:
    band_sel = ", ".join(
        f"CAST(sum(CASE WHEN b >= {16*k} AND b < {16*(k+1)} "
        f"THEN bit << (b - {16*k}) ELSE 0 END) AS INTEGER) AS b{k}"
        for k in range(4))
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT doc_id, list_distinct(list_transform(
         generate_series(1, greatest(len(w) - 1, 0)),
         i -> array_to_string(w[i:i+1], ' '))) AS g FROM toks),
e AS (SELECT doc_id, unnest(g) AS s FROM sh WHERE len(g) > 0),
h AS (SELECT doc_id, CAST(concat('0x', substr(md5(s), 1, 16)) AS UBIGINT) AS hv
      FROM e),
bits AS (SELECT doc_id, b,
           sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE 0 END) AS ones,
           count(*) AS n
         FROM h, (SELECT unnest(generate_series(0, 63)) AS b) GROUP BY doc_id, b),
bv AS (SELECT doc_id, b, CASE WHEN ones * 2 > n THEN 1 ELSE 0 END AS bit
       FROM bits),
agg AS (SELECT doc_id, {band_sel} FROM bv GROUP BY doc_id)
SELECT d.doc_id, coalesce(a.b0, 0) AS b0, coalesce(a.b1, 0) AS b1,
       coalesce(a.b2, 0) AS b2, coalesce(a.b3, 0) AS b3
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
"""


ORACLE_SIMHASH = _oracle_simhash()


def q_fingerprint_winnow(spark, sf_dir):
    """Winnowing fingerprints (k=3 word grams, window 4) — rolling-hash
    document fingerprinting for near-dup detection."""
    return DD.winnow_fingerprints(load(spark, sf_dir, "documents"),
                                  k=3, window=4)


ORACLE_WINNOW = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (SELECT doc_id, unnest(list_transform(
        generate_series(1, greatest(len(w) - 2, 0)),
        i -> struct_pack(i := i, gram := array_to_string(w[i:i+2], ' ')))) AS u
      FROM toks),
flat AS (SELECT doc_id, u.i AS i,
           CAST(concat('0x', substr(md5(u.gram), 1, 15)) AS UBIGINT) AS h
         FROM g),
win AS (SELECT doc_id, i,
          min(h) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
          count(*) OVER (PARTITION BY doc_id) AS n
        FROM flat)
SELECT DISTINCT doc_id, CAST(m AS BIGINT) AS fp
FROM win WHERE i - 1 <= greatest(n - 4, 0)
"""


def q_multimodal_bytes(spark, sf_dir):
    """Binary-column feature extraction: byte stats over an opaque blob
    (here utf-8 of text — the html/image/audio stand-in), one Arrow pass."""
    from gdal_spark.operators import multimodal as MM
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("blob"))
    return MM.byte_features(docs, blob="blob")


ORACLE_MULTIMODAL = """
WITH chars AS (SELECT doc_id, unnest(list_transform(
                 generate_series(1, length(text)),
                 i -> ascii(substr(text, i, 1)))) AS c
               FROM documents),
cnt AS (SELECT doc_id, c, count(*) AS k FROM chars GROUP BY doc_id, c),
tot AS (SELECT doc_id, sum(k) AS n FROM cnt GROUP BY doc_id)
SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_bytes,
       CAST(sum(c.c * c.k) AS BIGINT) AS byte_sum,
       CAST(count(*) AS INTEGER) AS n_distinct,
       round(-sum((c.k / t.n) * log2(c.k / t.n)), 6) AS entropy
FROM cnt c JOIN tot t ON c.doc_id = t.doc_id
GROUP BY t.doc_id, t.n
"""


# deterministic SRP hyperplanes shared by the Spark operator and the oracle
_PLANES = ANN._hyperplanes(64, 6, seed=42)


def q_ann_lsh(spark, sf_dir):
    """Approximate ANN: sign-random-projection bucket join + exact cosine
    rerank inside the bucket (the LSH scale path)."""
    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding")
    return ANN.cosine_topk_lsh(qs, emb, k=5, n_planes=6)


def _oracle_ann_lsh() -> str:
    dots = []
    for p in range(6):
        lits = ", ".join(repr(float(x)) for x in _PLANES[p])
        dots.append(
            f"list_aggregate(list_transform(generate_series(1, 64), "
            f"i -> v[i] * ([{lits}])[i]), 'sum')")
    bucket = " + ".join(
        f"(CASE WHEN {d} > 0 THEN {1 << p} ELSE 0 END)"
        for p, d in enumerate(dots))
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
b AS (SELECT vec_id, v, {bucket} AS bucket,
        sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm
      FROM e),
d AS (SELECT q.vec_id AS qid, p.vec_id AS vec_id,
        round(list_aggregate(list_transform(generate_series(1, 64),
                                            i -> q.v[i] * p.v[i]), 'sum')
              / (q.nrm * p.nrm), 6) AS sim
      FROM b q JOIN b p ON q.bucket = p.bucket WHERE q.vec_id < 5),
r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id)
        AS rank FROM d)
SELECT qid, vec_id, sim, rank FROM r WHERE rank <= 5
"""


ORACLE_ANN_LSH = _oracle_ann_lsh()


def q_ann_cosine_topk(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"), "embedding")
    return ANN.cosine_topk_bruteforce(qs, emb, k=10)


ORACLE_ANN = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm
      FROM e),
d AS (SELECT q.vec_id AS qid, p.vec_id AS vec_id,
        round(list_aggregate(list_transform(generate_series(1, len(q.v)),
                                            i -> q.v[i] * p.v[i]), 'sum')
              / (q.nrm * p.nrm), 6) AS sim
      FROM n q CROSS JOIN n p WHERE q.vec_id < 5),
r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM d)
SELECT qid, vec_id, sim, rank FROM r WHERE rank <= 10
"""


def q_event_window(spark, sf_dir):
    """Tumbling-window aggregation (streaming-shaped, run on the batch table;
    the streaming twin lives in gdal_spark/streaming)."""
    ev = load(spark, sf_dir, "events")
    vdec = F.col("value").cast("decimal(18,2)")
    return (ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(vdec).cast("double").alias("sum_value"))
            .select(F.unix_timestamp(F.col("w.start")).alias("win_start"),
                    "event_type", "n", "sum_value"))


ORACLE_EVENT_WINDOW = """
SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS win_start,
       event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min gap) — lag + cumulative window."""
    from pyspark.sql import Window
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (ev.withColumn("_new", new_sess)
            .groupBy("user_id")
            .agg(F.sum("_new").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")))


ORACLE_SESSIONIZE = """
WITH g AS (
  SELECT user_id,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   > 1800
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_sess
  FROM events)
SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM g GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# raster operators over the documents-derived point layer
# ---------------------------------------------------------------------------

from gdal_spark.raster import checksum as CK  # noqa: E402
from gdal_spark.raster import model as RM  # noqa: E402
from gdal_spark.raster import polygonize as PZ  # noqa: E402
from gdal_spark.raster import pyramid as PY  # noqa: E402
from gdal_spark.raster import rasterize as RZ  # noqa: E402
from gdal_spark.raster import resample as RS  # noqa: E402
from gdal_spark.raster import stats as RST  # noqa: E402

DOC_META = RM.RasterMeta("docs", 720, 340,
                         gt=(-180.0, 0.5, 0.0, 85.0, 0.0, -0.5),
                         dtype="uint8", nodata=0)

# pixel derivation twin (identical expression text on both engines)
_PIX_SQL = f"""
pxr AS (SELECT doc_id, CAST(floor((lon + 180.0) / 0.5) AS BIGINT) AS px,
               CAST(floor((lat - 85.0) / (-0.5)) AS BIGINT) AS py
        FROM pts),
pix AS (SELECT px, py, (max(doc_id) % 199) + 1 AS burn
        FROM pxr WHERE px >= 0 AND px < 720 AND py >= 0 AND py < 340
        GROUP BY px, py)
"""


def _doc_pixels(spark, sf_dir):
    pts = doc_points(spark, sf_dir).withColumn(
        "burn", (F.col("doc_id") % 199 + 1).cast("double"))
    return RZ.rasterize_points(pts, DOC_META, burn="burn", order="doc_id")


def _doc_tiles(spark, sf_dir):
    return RZ.pixels_to_blocks(_doc_pixels(spark, sf_dir), DOC_META)


def q_rasterize(spark, sf_dir):
    """Point burn (GDALdllImagePoint, last-wins feature order) + per-block
    summary — zero-UDF pixel assignment."""
    px = _doc_pixels(spark, sf_dir)
    return (px.groupBy((F.floor(F.col("px") / 256)).cast("int").alias("bx"),
                       (F.floor(F.col("py") / 256)).cast("int").alias("by"))
            .agg(F.count(F.lit(1)).alias("n_burned"),
                 F.sum("burn_val").cast("double").alias("sum_burn")))


ORACLE_RASTERIZE = f"""
WITH pts AS ({POINTS_SQL}), {_PIX_SQL}
SELECT CAST(px // 256 AS INTEGER) AS bx, CAST(py // 256 AS INTEGER) AS by,
       count(*) AS n_burned, CAST(sum(burn) AS DOUBLE) AS sum_burn
FROM pix GROUP BY 1, 2
"""


def q_raster_checksum(spark, sf_dir):
    """Bit-exact distributed GDALChecksumImage of the burned raster
    (gdal/alg/gdalchecksum.cpp:122-159)."""
    return CK.checksum(_doc_tiles(spark, sf_dir), DOC_META)


_PRIMES_SQL = "([7,11,13,17,19,23,29,31,37,41,43])[CAST((py * 720 + px) % 11 AS INTEGER) + 1]"

ORACLE_RASTER_CHECKSUM = f"""
WITH pts AS ({POINTS_SQL}), {_PIX_SQL}
SELECT 'docs' AS raster_id, 0 AS band,
       CAST(((sum(burn % {_PRIMES_SQL}) % 65536) + 65536) % 65536 AS INTEGER)
         AS checksum
FROM pix
"""


def q_raster_stats(spark, sf_dir):
    """ComputeStatistics with nodata skip (gdalrasterband.cpp:3752)."""
    s = RST.compute_statistics(_doc_tiles(spark, sf_dir), DOC_META)
    return s.select("raster_id", "band", "n", "min", "max",
                    F.round("mean", 6).alias("mean"),
                    F.round("stddev", 6).alias("stddev"))


ORACLE_RASTER_STATS = f"""
WITH pts AS ({POINTS_SQL}), {_PIX_SQL}
SELECT 'docs' AS raster_id, 0 AS band, count(*) AS n,
       CAST(min(burn) AS DOUBLE) AS min, CAST(max(burn) AS DOUBLE) AS max,
       round(sum(CAST(burn AS DOUBLE)) / count(*), 6) AS mean,
       round(sqrt(sum(CAST(burn AS DOUBLE) * burn) / count(*)
                  - (sum(CAST(burn AS DOUBLE)) / count(*))
                    * (sum(CAST(burn AS DOUBLE)) / count(*))), 6) AS stddev
FROM pix
"""


def q_raster_mask(spark, sf_dir):
    """GetMaskBand over the nodata raster (GMF_NODATA,
    gdalrasterband.cpp GetMaskBand): 255 where a pixel was burned, 0 on
    nodata — per-block valid-pixel counts value-check the whole mask."""
    from gdal_spark.raster import mask as MK
    mt, mm = MK.mask_band(_doc_tiles(spark, sf_dir), DOC_META)
    pix = RM.nonzero_pixels(mt, mm)   # mask pixels worth 255
    return (pix.groupBy(
        (F.floor(F.col("px") / 256)).cast("int").alias("bx"),
        (F.floor(F.col("py") / 256)).cast("int").alias("by"))
        .agg(F.count(F.lit(1)).alias("n_valid"),
             F.sum("val").cast("long").alias("mask_sum"))
        .withColumn("mask_flags", F.lit(MK.mask_flags(DOC_META))))


ORACLE_RASTER_MASK = f"""
WITH pts AS ({POINTS_SQL}), {_PIX_SQL}
SELECT CAST(px // 256 AS INTEGER) AS bx, CAST(py // 256 AS INTEGER) AS by,
       count(*) AS n_valid, 255 * count(*) AS mask_sum, 8 AS mask_flags
FROM pix GROUP BY 1, 2
"""


def q_raster_histogram(spark, sf_dir):
    """GetHistogram fixed buckets (gdalrasterband.cpp:2848)."""
    return RST.histogram(_doc_tiles(spark, sf_dir), DOC_META, 0.0, 200.0, 20)


ORACLE_RASTER_HISTOGRAM = f"""
WITH pts AS ({POINTS_SQL}), {_PIX_SQL}
SELECT 'docs' AS raster_id, 0 AS band,
       CAST(floor(burn / 10.0) AS INTEGER) AS bucket, count(*) AS count
FROM pix GROUP BY 1, 2, 3
"""


def q_pyramid_avg(spark, sf_dir):
    """One overview level, reference integer rounding (overview.cpp:379):
    per-block nonzero count + sum of the /2 raster."""
    tiles = _doc_tiles(spark, sf_dir)
    ov, ov_meta = PY.overview_level(tiles, DOC_META, "docs_ov1")
    return (RST.block_summary(ov, ov_meta)
            .filter(F.col("n_nonzero") > 0)
            .select("bx", "by", "n_nonzero", "sum_vals"))


ORACLE_PYRAMID_AVG = f"""
WITH pts AS ({POINTS_SQL}), {_PIX_SQL},
par AS (SELECT px // 2 AS ppx, py // 2 AS ppy,
               (sum(burn) + 2) // 4 AS v
        FROM pix GROUP BY 1, 2),
nz AS (SELECT * FROM par WHERE v > 0)
SELECT CAST(ppx // 256 AS INTEGER) AS bx, CAST(ppy // 256 AS INTEGER) AS by,
       count(*) AS n_nonzero, CAST(sum(v) AS DOUBLE) AS sum_vals
FROM nz GROUP BY 1, 2
"""


def q_gdal_merge(spark, sf_dir):
    """gdal_merge.py union-extent composition (gdal_merge.py:259): the doc
    raster split into west/east halves on their own grids, merged back to
    the union grid; per-block nonzero count + sum must equal the one-shot
    rasterize. Exercises the fragment-shatter + one output-block shuffle."""
    from dataclasses import replace

    from gdal_spark.raster import mosaic as MO
    px = _doc_pixels(spark, sf_dir)
    west_meta = replace(DOC_META, raster_id="docs_w", width=360)
    east_meta = replace(DOC_META, raster_id="docs_e", width=360,
                        gt=(0.0, 0.5, 0.0, 85.0, 0.0, -0.5))
    west = RZ.pixels_to_blocks(px.filter(F.col("px") < 360), west_meta)
    east = RZ.pixels_to_blocks(
        px.filter(F.col("px") >= 360)
          .withColumn("px", F.col("px") - 360), east_meta)
    merged, m_meta = MO.gdal_merge([(west, west_meta), (east, east_meta)],
                                   "docs_merged", nodata=0.0)
    assert (m_meta.width, m_meta.height) == (DOC_META.width, DOC_META.height)
    return (RST.block_summary(merged, m_meta)
            .filter(F.col("n_nonzero") > 0)
            .select("bx", "by", "n_nonzero", "sum_vals"))


ORACLE_GDAL_MERGE = f"""
WITH pts AS ({POINTS_SQL}), {_PIX_SQL}
SELECT CAST(px // 256 AS INTEGER) AS bx, CAST(py // 256 AS INTEGER) AS by,
       count(*) AS n_nonzero, CAST(sum(burn) AS DOUBLE) AS sum_vals
FROM pix GROUP BY 1, 2
"""

WARP_DST = RM.RasterMeta("wb", 128, 128,
                         gt=(-74.25, 0.25, 0.0, 41.0, 0.0, -0.25),
                         dtype="uint8", nodata=0)


def q_warp_bilinear(spark, sf_dir):
    """Distributed gdalwarp, bilinear kernel (gdalwarpkernel.cpp:2313),
    2x upscale over the NYC cluster window; nonzero output pixels."""
    out = RS.warp(_doc_tiles(spark, sf_dir), DOC_META, WARP_DST, "bilinear")
    return RM.nonzero_pixels(out, WARP_DST)


ORACLE_WARP_BILINEAR = f"""
WITH pts AS ({POINTS_SQL}), {_PIX_SQL},
dst AS (SELECT dx, dy,
          ((-74.25 + (dx + 0.5) * 0.25) + 180.0) / 0.5 AS sxf,
          ((41.0 - (dy + 0.5) * 0.25) - 85.0) / (-0.5) AS syf
        FROM (SELECT unnest(generate_series(0, 127)) AS dx),
             (SELECT unnest(generate_series(0, 127)) AS dy)),
frac AS (SELECT dx, dy,
           CAST(floor(sxf - 0.5) AS BIGINT) AS isx, sxf - 0.5 - floor(sxf - 0.5) AS fx,
           CAST(floor(syf - 0.5) AS BIGINT) AS isy, syf - 0.5 - floor(syf - 0.5) AS fy
         FROM dst),
gv AS (SELECT f.dx, f.dy, f.fx, f.fy,
         coalesce(p00.burn, 0) AS v00, coalesce(p10.burn, 0) AS v10,
         coalesce(p01.burn, 0) AS v01, coalesce(p11.burn, 0) AS v11
       FROM frac f
       LEFT JOIN pix p00 ON p00.px = f.isx AND p00.py = f.isy
       LEFT JOIN pix p10 ON p10.px = f.isx + 1 AND p10.py = f.isy
       LEFT JOIN pix p01 ON p01.px = f.isx AND p01.py = f.isy + 1
       LEFT JOIN pix p11 ON p11.px = f.isx + 1 AND p11.py = f.isy + 1),
res AS (SELECT dx, dy,
          CAST(floor((1 - fx) * (1 - fy) * v00 + fx * (1 - fy) * v10
                     + (1 - fx) * fy * v01 + fx * fy * v11 + 0.5) AS BIGINT) AS v
        FROM gv)
SELECT dx AS px, dy AS py, CAST(v AS DOUBLE) AS val FROM res WHERE v > 0
"""


WARP_DOWN = RM.RasterMeta("docs_down", 360, 170,
                          gt=(-180.0, 1.0, 0.0, 85.0, 0.0, -1.0),
                          dtype="uint8", nodata=0)


def q_warp_max(spark, sf_dir):
    """Distributed gdalwarp GRA_Max (GWKAverageOrModeThread,
    gdalwarpkernel.cpp:4912-4950): 2x downsample of the doc-point raster —
    each dst pixel takes the max of its 2x2 source box."""
    out = RS.warp(_doc_tiles(spark, sf_dir), DOC_META, WARP_DOWN, "max")
    return RM.nonzero_pixels(out, WARP_DOWN)


ORACLE_WARP_MAX = f"""
WITH pts AS ({POINTS_SQL}), {_PIX_SQL}
SELECT CAST(floor(px / 2) AS BIGINT) AS px, CAST(floor(py / 2) AS BIGINT) AS py,
       CAST(max(burn) AS DOUBLE) AS val
FROM pix GROUP BY 1, 2
"""


DENSE_META = RM.RasterMeta("dense", 256, 128,
                           gt=(0.0, 1.0, 0.0, 128.0, 0.0, -1.0),
                           dtype="uint8", nodata=0)
DENSE_DOWN = RM.RasterMeta("dense_down", 128, 64,
                           gt=(0.0, 2.0, 0.0, 128.0, 0.0, -2.0),
                           dtype="uint8", nodata=0)


def _dense_tiles(spark):
    """Dense deterministic formula raster v = (px*7 + py*13) % 50 + 1 —
    order statistics need full boxes, which the sparse doc raster can't
    exercise."""
    px = (spark.range(256 * 128)
          .select((F.col("id") % 256).alias("px"),
                  F.floor(F.col("id") / 256).alias("py"))
          .withColumn("burn_val",
                      ((F.col("px") * 7 + F.col("py") * 13) % 50 + 1)
                      .cast("double")))
    return RZ.pixels_to_blocks(px, DENSE_META)


def q_warp_med(spark, sf_dir):
    """GRA_Med: quantile index ceil(0.5*n - 1) of the sorted 2x2 source box
    (gdalwarpkernel.cpp:4988-5025) — the second-smallest of 4."""
    out = RS.warp(_dense_tiles(spark), DENSE_META, DENSE_DOWN, "med")
    return RM.nonzero_pixels(out, DENSE_DOWN)


ORACLE_WARP_MED = """
WITH d AS (SELECT i % 128 AS dx, CAST(floor(i / 128) AS BIGINT) AS dy
           FROM (SELECT unnest(generate_series(0, 128 * 64 - 1)) AS i)),
v AS (SELECT dx, dy, list_sort([
        CAST((2 * dx * 7 + 2 * dy * 13) % 50 + 1 AS DOUBLE),
        CAST(((2 * dx + 1) * 7 + 2 * dy * 13) % 50 + 1 AS DOUBLE),
        CAST((2 * dx * 7 + (2 * dy + 1) * 13) % 50 + 1 AS DOUBLE),
        CAST(((2 * dx + 1) * 7 + (2 * dy + 1) * 13) % 50 + 1 AS DOUBLE)]) AS s
      FROM d)
SELECT CAST(dx AS BIGINT) AS px, dy AS py, s[2] AS val FROM v WHERE s[2] > 0
"""


from gdal_spark.raster import contour as CT  # noqa: E402

CONTOUR_META = RM.RasterMeta("ramp", 30, 20,
                             gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0),
                             dtype="float64")


def _ramp_tiles(spark):
    px = (spark.range(30 * 20)
          .select((F.col("id") % 30).alias("px"),
                  F.floor(F.col("id") / 30).alias("py"))
          .withColumn("burn_val", F.col("px").cast("double")))
    return RZ.pixels_to_blocks(px, CONTOUR_META)


def q_contour_lines(spark, sf_dir):
    """GDALContourGenerate with polyline stitching (contour.cpp:1532 merge
    semantics as a per-level endpoint-graph walk): on the z=x ramp each
    level yields exactly one open vertical polyline through all 19 cell
    rows — 20 points, length 19."""
    out = CT.contour_lines(_ramp_tiles(spark), CONTOUR_META,
                           [4.25, 10.5, 17.75])
    return out.select("level", "line_id", "n_points",
                      F.col("closed").cast("int").alias("closed"),
                      F.round("length", 6).alias("length"))


ORACLE_CONTOUR_LINES = """
SELECT CAST(lv AS DOUBLE) AS level, CAST(0 AS BIGINT) AS line_id,
       20 AS n_points, 0 AS closed, CAST(19 AS DOUBLE) AS length
FROM (SELECT unnest([4.25, 10.5, 17.75]) AS lv)
"""


def q_warp_utm(spark, sf_dir):
    """Distributed gdalwarp EPSG:4326 → UTM 18N (Krüger-series transverse
    Mercator, functions/proj.py) over the NYC doc-raster window — the
    classic reprojection path. Non-SQL-expressible (series transform), so
    the driver records the rows-only check; exact parity with a direct
    numpy re-lookup is held in tests/test_proj.py."""
    from gdal_spark.functions import proj as PJ
    e0, n1 = PJ.utm_from_latlon(41.0, -74.25, 18)
    dst = RM.RasterMeta("docs_utm", 64, 64,
                        gt=(float(e0), 500.0, 0.0, float(n1), 0.0, -500.0),
                        dtype="uint8", nodata=0)
    tr = PJ.UtmWarpTransform(DOC_META.gt, dst.gt, zone=18)
    out = RS.warp(_doc_tiles(spark, sf_dir), DOC_META, dst, "nearest",
                  src_from_dst=tr)
    return RM.nonzero_pixels(out, dst)


def q_polygonize_rects(spark, sf_dir):
    """Scanline rasterize of the admin-grid polygons + distributed
    polygonize (2-phase CC): each rectangle must come back as exactly one
    region with exact pixel extents."""
    meta = RM.RasterMeta("rects", 1440, 680,
                         gt=(-180.0, 0.25, 0.0, 85.0, 0.0, -0.25),
                         dtype="uint16", block=64)
    grid = PG.admin_grid(spark, nx=36, ny=17, lat_min=-85.0, lat_max=85.0)
    geoms = grid.select(F.col("cell_id").alias("geom_id"), "wkb",
                        (F.col("cell_id") + 1).cast("double").alias("burn"))
    tiles = RZ.rasterize(geoms, meta)
    return PZ.polygonize(tiles, meta).select(
        "value", "n_pixels", "pxmin", "pymin", "pxmax", "pymax")


ORACLE_POLYGONIZE_RECTS = """
SELECT CAST(j * 36 + i + 1 AS DOUBLE) AS value,
       CAST(1600 AS BIGINT) AS n_pixels,
       CAST(40 * i AS BIGINT) AS pxmin,
       CAST(680 - 40 * (j + 1) AS BIGINT) AS pymin,
       CAST(40 * i + 39 AS BIGINT) AS pxmax,
       CAST(680 - 40 * j - 1 AS BIGINT) AS pymax
FROM (SELECT unnest(generate_series(0, 35)) AS i),
     (SELECT unnest(generate_series(0, 16)) AS j)
"""


# ---------------------------------------------------------------------------
# layer algebra: polygon ∩ convex grid clipping
# ---------------------------------------------------------------------------

from gdal_spark.operators import layer_algebra as LA  # noqa: E402


def q_locate_info(spark, sf_dir):
    """gdallocationinfo (gdal/apps/gdallocationinfo.cpp:383-401): every doc
    point located back in the doc raster via inverse geotransform + block
    join — (doc_id, px, py, val); val null outside the raster."""
    pts = doc_points(spark, sf_dir)
    out = RM.locate_points(pts, _doc_tiles(spark, sf_dir), DOC_META)
    return out.select("doc_id", "px", "py", "val")


ORACLE_LOCATE_INFO = f"""
WITH pts AS ({POINTS_SQL}), {_PIX_SQL}
SELECT r.doc_id, r.px, r.py, CAST(b.burn AS DOUBLE) AS val
FROM pxr r LEFT JOIN pix b ON b.px = r.px AND b.py = r.py
"""


def q_tile_geodetic_z6(spark, sf_dir):
    """Geodetic (plate-carrée) tile profile (gdal2tiles.py:320-412
    GlobalGeodetic, OSGeo-TMS resFact 180/256): per-tile doc counts at z6."""
    pts = doc_points(spark, sf_dir)
    df = tiles.with_geodetic_tile_columns(pts, zoom=6)
    return df.groupBy("gtx", "gty").agg(F.count(F.lit(1)).alias("n"))


ORACLE_TILE_GEODETIC = f"""
WITH pts AS ({POINTS_SQL})
SELECT CAST(ceil(((180.0 + lon) / 0.010986328125) / 256.0) - 1 AS INTEGER) AS gtx,
       CAST(ceil(((90.0 + lat) / 0.010986328125) / 256.0) - 1 AS INTEGER) AS gty,
       count(*) AS n
FROM pts GROUP BY 1, 2
"""


def q_st_predicates(spark, sf_dir):
    """ST predicate suite (Touches/Overlaps/Within/Contains/Equals/
    Intersects — OGRGeometry predicate family, ogrgeometry.cpp:2300-2600)
    over three method layers vs a 4x2 rect grid: a half-cell-shifted grid
    (overlaps + touches), one nested cell (within/contains), and the grid
    itself (equals). The Spark side runs the real segment/ray-cast
    kernels; the oracle is closed-form interval logic."""
    from gdal_spark.functions import st as ST
    a = PG.admin_grid(spark, nx=4, ny=2, lon_min=0.0, lon_max=40.0,
                      lat_min=0.0, lat_max=20.0)
    b1 = PG.admin_grid(spark, nx=4, ny=2, lon_min=5.0, lon_max=45.0,
                       lat_min=0.0, lat_max=20.0)
    b2 = PG.admin_grid(spark, nx=1, ny=1, lon_min=2.0, lon_max=8.0,
                       lat_min=2.0, lat_max=8.0)
    b3 = PG.admin_grid(spark, nx=4, ny=2, lon_min=0.0, lon_max=40.0,
                       lat_min=0.0, lat_max=20.0)
    bs = (b1.withColumn("src", F.lit("shift"))
          .unionByName(b2.withColumn("src", F.lit("nested")))
          .unionByName(b3.withColumn("src", F.lit("same"))))
    pairs = (a.select(F.col("cell_id").alias("aid"), F.col("wkb").alias("wa"))
             .crossJoin(bs.select("src", F.col("cell_id").alias("bid"),
                                  F.col("wkb").alias("wb")))
             .coalesce(8))
    wa, wb = F.col("wa"), F.col("wb")
    return pairs.select(
        "aid", "src", "bid",
        ST.st_predicate("intersects")(wa, wb).cast("int").alias("intersects"),
        ST.st_predicate("touches")(wa, wb).cast("int").alias("touches"),
        ST.st_predicate("overlaps")(wa, wb).cast("int").alias("overlaps"),
        ST.st_predicate("within")(wa, wb).cast("int").alias("within"),
        ST.st_predicate("contains")(wa, wb).cast("int").alias("contains"),
        ST.st_predicate("equals")(wa, wb).cast("int").alias("equals"))


ORACLE_ST_PREDICATES = """
WITH a AS (SELECT j * 4 + i AS aid, i * 10.0 AS x0, j * 10.0 AS y0,
                  i * 10.0 + 10 AS x1, j * 10.0 + 10 AS y1
           FROM (SELECT unnest(generate_series(0, 3)) AS i),
                (SELECT unnest(generate_series(0, 1)) AS j)),
b AS (
  SELECT 'shift' AS src, j * 4 + i AS bid, 5 + i * 10.0 AS x0, j * 10.0 AS y0,
         5 + i * 10.0 + 10 AS x1, j * 10.0 + 10 AS y1
  FROM (SELECT unnest(generate_series(0, 3)) AS i),
       (SELECT unnest(generate_series(0, 1)) AS j)
  UNION ALL
  SELECT 'nested', 0, 2.0, 2.0, 8.0, 8.0
  UNION ALL
  SELECT 'same', j * 4 + i, i * 10.0, j * 10.0, i * 10.0 + 10, j * 10.0 + 10
  FROM (SELECT unnest(generate_series(0, 3)) AS i),
       (SELECT unnest(generate_series(0, 1)) AS j)),
r AS (SELECT aid, src, bid,
        (greatest(a.x0, b.x0) <= least(a.x1, b.x1)
         AND greatest(a.y0, b.y0) <= least(a.y1, b.y1)) AS closed_int,
        (greatest(a.x0, b.x0) < least(a.x1, b.x1)
         AND greatest(a.y0, b.y0) < least(a.y1, b.y1)) AS open_int,
        (a.x0 >= b.x0 AND a.x1 <= b.x1 AND a.y0 >= b.y0 AND a.y1 <= b.y1) AS w_ab,
        (b.x0 >= a.x0 AND b.x1 <= a.x1 AND b.y0 >= a.y0 AND b.y1 <= a.y1) AS w_ba
      FROM a CROSS JOIN b)
SELECT aid, src, bid,
       CAST(closed_int AS INTEGER) AS intersects,
       CAST(closed_int AND NOT open_int AS INTEGER) AS touches,
       CAST(open_int AND NOT w_ab AND NOT w_ba AS INTEGER) AS overlaps,
       CAST(w_ab AS INTEGER) AS within,
       CAST(w_ba AS INTEGER) AS contains,
       CAST(w_ab AND w_ba AS INTEGER) AS equals
FROM r
"""


def q_clip_layer_area(spark, sf_dir):
    """Layer-algebra Intersection/Clip emission (ogrlayer.cpp:2016/3486):
    exact Sutherland–Hodgman pieces of the poly fixture against a convex
    grid; per-piece areas."""
    polys = PG.poly_fixture(spark)
    grid = PG.admin_grid(spark, nx=16, ny=3, lon_min=-2.0, lon_max=202.0,
                         lat_min=-1.0, lat_max=11.0)
    pieces = LA.clip_polygons_to_cells(polys, grid)
    return pieces.select("poly_id", "cell_id",
                         F.round("piece_area", 6).alias("piece_area"))


def _oracle_clip() -> str:
    # fixture geometry: square [20f, 20f+10]×[0,10]; fid3 minus notch
    # [20f+3, 20f+10]×[3, 7]; fid7 minus hole [20f+4, 20f+6]×[4, 6]
    return """
WITH f AS (SELECT unnest(generate_series(0, 9)) AS fid),
cells AS (SELECT j * 16 + i AS cell_id,
                 -2.0 + i * 12.75 AS cx0, -2.0 + (i + 1) * 12.75 AS cx1,
                 -1.0 + j * 4.0 AS cy0, -1.0 + (j + 1) * 4.0 AS cy1
          FROM (SELECT unnest(generate_series(0, 15)) AS i),
               (SELECT unnest(generate_series(0, 2)) AS j)),
geo AS (SELECT fid, 20.0 * fid AS x0, 20.0 * fid + 10.0 AS x1,
               0.0 AS y0, 10.0 AS y1,
               CASE WHEN fid = 3 THEN 20.0 * fid + 3.0
                    WHEN fid = 7 THEN 20.0 * fid + 4.0 ELSE 0.0 END AS hx0,
               CASE WHEN fid = 3 THEN 20.0 * fid + 10.0
                    WHEN fid = 7 THEN 20.0 * fid + 6.0 ELSE 0.0 END AS hx1,
               CASE WHEN fid = 3 THEN 3.0 WHEN fid = 7 THEN 4.0
                    ELSE 0.0 END AS hy0,
               CASE WHEN fid = 3 THEN 7.0 WHEN fid = 7 THEN 6.0
                    ELSE 0.0 END AS hy1
        FROM f),
-- degenerate zero-size "hole" for plain squares (DuckDB least/greatest
-- skip NULLs, so NULL hole coords would subtract the whole cell)
ar AS (SELECT fid, cell_id,
         greatest(0, least(x1, cx1) - greatest(x0, cx0))
           * greatest(0, least(y1, cy1) - greatest(y0, cy0))
         - greatest(0, least(hx1, cx1) - greatest(hx0, cx0))
           * greatest(0, least(hy1, cy1) - greatest(hy0, cy0))
           AS a
       FROM geo CROSS JOIN cells)
SELECT fid AS poly_id, cell_id, round(a, 6) AS piece_area
FROM ar WHERE a > 0
"""


ORACLE_CLIP_LAYER = _oracle_clip()


def q_union_layer(spark, sf_dir):
    """Layer-algebra Union (ogrlayer.cpp:2282): poly fixture × a PARTIAL
    admin grid — intersection pieces (both ids), input−method pieces (null
    cell_id), method−input pieces (null poly_id); per-piece exact areas."""
    polys = PG.poly_fixture(spark)
    grid = PG.admin_grid(spark, nx=8, ny=2, lon_min=-2.0, lon_max=96.0,
                         lat_min=-1.0, lat_max=7.0)
    pieces = LA.layer_union(polys, grid)
    return pieces.select("poly_id", "cell_id",
                         F.round("piece_area", 6).alias("piece_area"))


def q_symdiff_layer(spark, sf_dir):
    """Layer-algebra SymDifference (ogrlayer.cpp:2626): the Union families
    minus the intersection pieces."""
    polys = PG.poly_fixture(spark)
    grid = PG.admin_grid(spark, nx=8, ny=2, lon_min=-2.0, lon_max=96.0,
                         lat_min=-1.0, lat_max=7.0)
    pieces = LA.layer_symdifference(polys, grid)
    return pieces.select("poly_id", "cell_id",
                         F.round("piece_area", 6).alias("piece_area"))


def _oracle_union_family(include_intersection: bool) -> str:
    inter_branch = (
        "SELECT fid AS poly_id, cell_id, round(a, 6) AS piece_area FROM inter\n"
        "UNION ALL\n" if include_intersection else "")
    return f"""
WITH f AS (SELECT unnest(generate_series(0, 9)) AS fid),
cells AS (SELECT j * 8 + i AS cell_id,
                 -2.0 + i * 12.25 AS cx0, -2.0 + (i + 1) * 12.25 AS cx1,
                 -1.0 + j * 4.0 AS cy0, -1.0 + (j + 1) * 4.0 AS cy1
          FROM (SELECT unnest(generate_series(0, 7)) AS i),
               (SELECT unnest(generate_series(0, 1)) AS j)),
geo AS (SELECT fid, 20.0 * fid AS x0, 20.0 * fid + 10.0 AS x1,
               0.0 AS y0, 10.0 AS y1,
               CASE WHEN fid = 3 THEN 20.0 * fid + 3.0
                    WHEN fid = 7 THEN 20.0 * fid + 4.0 ELSE 0.0 END AS hx0,
               CASE WHEN fid = 3 THEN 20.0 * fid + 10.0
                    WHEN fid = 7 THEN 20.0 * fid + 6.0 ELSE 0.0 END AS hx1,
               CASE WHEN fid = 3 THEN 3.0 WHEN fid = 7 THEN 4.0
                    ELSE 0.0 END AS hy0,
               CASE WHEN fid = 3 THEN 7.0 WHEN fid = 7 THEN 6.0
                    ELSE 0.0 END AS hy1
        FROM f),
ar AS (SELECT fid, cell_id,
         greatest(0, least(x1, cx1) - greatest(x0, cx0))
           * greatest(0, least(y1, cy1) - greatest(y0, cy0))
         - greatest(0, least(hx1, cx1) - greatest(hx0, cx0))
           * greatest(0, least(hy1, cy1) - greatest(hy0, cy0))
           AS a
       FROM geo CROSS JOIN cells),
inter AS (SELECT fid, cell_id, a FROM ar WHERE a > 0),
pa AS (SELECT fid, (x1 - x0) * (y1 - y0) - (hx1 - hx0) * (hy1 - hy0) AS area
       FROM geo),
am AS (SELECT p.fid, p.area - coalesce(sum(i.a), 0) AS a
       FROM pa p LEFT JOIN inter i ON i.fid = p.fid GROUP BY p.fid, p.area),
bm AS (SELECT c.cell_id, (cx1 - cx0) * (cy1 - cy0) - coalesce(sum(i.a), 0) AS a
       FROM cells c LEFT JOIN inter i ON i.cell_id = c.cell_id
       GROUP BY c.cell_id, cx0, cx1, cy0, cy1)
{inter_branch}SELECT fid AS poly_id, CAST(NULL AS BIGINT) AS cell_id,
       round(a, 6) AS piece_area FROM am WHERE a > 0
UNION ALL
SELECT CAST(NULL AS BIGINT) AS poly_id, cell_id, round(a, 6) AS piece_area
FROM bm WHERE a > 0
"""


ORACLE_UNION_LAYER = _oracle_union_family(True)
ORACLE_SYMDIFF_LAYER = _oracle_union_family(False)


def q_union_layer_rot(spark, sf_dir):
    """Layer-algebra Union over NON-rectilinear operands: the 45°-rotated
    poly fixture (diamonds; fid 3 concave, fid 7 holed) × a concave
    L-shaped rotated method grid — every piece goes through the general
    Martinez–Rueda boolean kernel (functions/clipping.py; the reference
    delegates to GEOS, ogrgeometry.cpp:2922-3310). The oracle is exact
    because the geometry is rectilinear in the rotated frame
    (u,v)=(x+y, y−x): interval math in uv, area_xy = area_uv/2."""
    polys = PG.rot_poly_fixture(spark)
    grid = PG.diamond_grid(spark, nx=8, ny=2, u_min=-2.0, u_max=98.0,
                           v_min=-1.0, v_max=7.0, concave=True)
    pieces = LA.layer_union(polys, grid)
    return pieces.select("poly_id", "cell_id",
                         F.round("piece_area", 6).alias("piece_area"))


def q_symdiff_layer_rot(spark, sf_dir):
    """SymDifference over the same rotated/concave/holed operands."""
    polys = PG.rot_poly_fixture(spark)
    grid = PG.diamond_grid(spark, nx=8, ny=2, u_min=-2.0, u_max=98.0,
                           v_min=-1.0, v_max=7.0, concave=True)
    pieces = LA.layer_symdifference(polys, grid)
    return pieces.select("poly_id", "cell_id",
                         F.round("piece_area", 6).alias("piece_area"))


def _oracle_rot_family(include_intersection: bool) -> str:
    """uv-frame oracle for the rotated fixtures: subjects are uv rectangles
    (minus a notch/hole rectangle for fid 3/7), cells are uv L-shapes
    (cell minus its top-right quadrant); every overlap is exact interval
    inclusion-exclusion, and xy areas are uv areas halved (Jacobian)."""
    inter_branch = (
        "SELECT fid AS poly_id, cell_id, round(a / 2, 6) AS piece_area "
        "FROM inter\nUNION ALL\n" if include_intersection else "")
    return f"""
WITH f AS (SELECT unnest(generate_series(0, 9)) AS fid),
cells AS (SELECT j * 8 + i AS cell_id,
                 -2.0 + i * 12.5 AS cx0, -2.0 + (i + 1) * 12.5 AS cx1,
                 -1.0 + j * 4.0 AS cy0, -1.0 + (j + 1) * 4.0 AS cy1
          FROM (SELECT unnest(generate_series(0, 7)) AS i),
               (SELECT unnest(generate_series(0, 1)) AS j)),
cq AS (SELECT cell_id, cx0, cx1, cy0, cy1,
              (cx0 + cx1) / 2 AS qx0, cx1 AS qx1,
              (cy0 + cy1) / 2 AS qy0, cy1 AS qy1
       FROM cells),
geo AS (SELECT fid, 20.0 * fid AS x0, 20.0 * fid + 10.0 AS x1,
               0.0 AS y0, 10.0 AS y1,
               CASE WHEN fid = 3 THEN 20.0 * fid + 3.0
                    WHEN fid = 7 THEN 20.0 * fid + 4.0 ELSE 0.0 END AS hx0,
               CASE WHEN fid = 3 THEN 20.0 * fid + 10.0
                    WHEN fid = 7 THEN 20.0 * fid + 6.0 ELSE 0.0 END AS hx1,
               CASE WHEN fid = 3 THEN 3.0 WHEN fid = 7 THEN 4.0
                    ELSE 0.0 END AS hy0,
               CASE WHEN fid = 3 THEN 7.0 WHEN fid = 7 THEN 6.0
                    ELSE 0.0 END AS hy1
        FROM f),
-- overlap(subject minus hole, cell minus quadrant) by inclusion-exclusion
-- (hole within subject, quadrant within cell)
ar AS (SELECT fid, cell_id,
         greatest(0, least(x1, cx1) - greatest(x0, cx0))
           * greatest(0, least(y1, cy1) - greatest(y0, cy0))
         - greatest(0, least(x1, qx1) - greatest(x0, qx0))
           * greatest(0, least(y1, qy1) - greatest(y0, qy0))
         - greatest(0, least(hx1, cx1) - greatest(hx0, cx0))
           * greatest(0, least(hy1, cy1) - greatest(hy0, cy0))
         + greatest(0, least(hx1, qx1) - greatest(hx0, qx0))
           * greatest(0, least(hy1, qy1) - greatest(hy0, qy0))
           AS a
       FROM geo CROSS JOIN cq),
inter AS (SELECT fid, cell_id, a FROM ar WHERE a > 0),
pa AS (SELECT fid, (x1 - x0) * (y1 - y0) - (hx1 - hx0) * (hy1 - hy0) AS area
       FROM geo),
am AS (SELECT p.fid, p.area - coalesce(sum(i.a), 0) AS a
       FROM pa p LEFT JOIN inter i ON i.fid = p.fid GROUP BY p.fid, p.area),
bm AS (SELECT c.cell_id, 0.75 * (cx1 - cx0) * (cy1 - cy0)
                - coalesce(sum(i.a), 0) AS a
       FROM cells c LEFT JOIN inter i ON i.cell_id = c.cell_id
       GROUP BY c.cell_id, cx0, cx1, cy0, cy1)
{inter_branch}SELECT fid AS poly_id, CAST(NULL AS BIGINT) AS cell_id,
       round(a / 2, 6) AS piece_area FROM am WHERE a > 0
UNION ALL
SELECT CAST(NULL AS BIGINT) AS poly_id, cell_id, round(a / 2, 6) AS piece_area
FROM bm WHERE a > 0
"""


ORACLE_UNION_LAYER_ROT = _oracle_rot_family(True)
ORACLE_SYMDIFF_LAYER_ROT = _oracle_rot_family(False)


# ---------------------------------------------------------------------------
# north-star end-to-end on the synthesized Common-Crawl-style pages table
# ---------------------------------------------------------------------------

from gdal_spark.sources import pages as PAGES  # noqa: E402


def q_pages_e2e(spark, sf_dir):
    """The full north-rule pipeline on the input_hint table (url, warc_ts,
    html, text, lang): byte-identical html→text extraction check, point
    derivation, broadcast PIP join, z8 tile assignment — one summary row.
    Deterministic (hash-seeded generator) but not SQL-expressible (xxhash64
    geocoder), so the driver records the rows-only check; pytest holds the
    exact invariants (tests/test_pages.py)."""
    n = 20_000
    pg = PAGES.pages(spark, n)
    html_text = F.regexp_extract(F.decode(F.col("html"), "UTF-8"),
                                 r"<p>(.*)</p>", 1)
    text_ok = pg.agg(F.sum((html_text == F.col("text")).cast("long"))
                     .alias("n_text_byte_identical"))
    pts = PAGES.extract_points(pg)
    grid = PG.admin_grid(spark, nx=36, ny=17, lat_min=-85.0, lat_max=85.0)
    joined = SJ.point_in_polygon_join(pts, grid, strategy="broadcast")
    out = tiles.with_tile_columns(joined, zoom=8)
    agg = out.groupBy("cell_id", "tx", "ty").agg(F.count(F.lit(1)).alias("n"))
    summary = agg.agg(
        F.lit(n).alias("n_pages"),
        F.sum("n").alias("n_points_joined"),
        F.countDistinct("cell_id").alias("n_cells"),
        F.count(F.lit(1)).alias("n_cell_tiles"))
    # both single-row aggregates join into ONE plan/action (a driver-side
    # collect of the text check would split the job in two)
    return summary.crossJoin(text_ok).select(
        "n_pages", "n_text_byte_identical", "n_points_joined",
        "n_cells", "n_cell_tiles")


# ---------------------------------------------------------------------------
# gridding (gdal_grid) over the documents-derived points
# ---------------------------------------------------------------------------

from gdal_spark.operators import gridding as GR  # noqa: E402

GRID_META = RM.RasterMeta("grid", 72, 34, gt=(-180.0, 5.0, 0.0, 85.0, 0.0, -5.0),
                          dtype="float64")
GRID_RADIUS = 6.0

_GRID_PTS = "SELECT doc_id, lon, lat, CAST(doc_id % 97 AS DOUBLE) AS z FROM pts"
_GRID_NODES = """
nodes AS (SELECT px, py, -180.0 + (px + 0.5) * 5.0 AS nx,
                 85.0 + (py + 0.5) * (-5.0) AS ny
          FROM (SELECT unnest(generate_series(0, 71)) AS px),
               (SELECT unnest(generate_series(0, 33)) AS py)),
pr AS (SELECT px, py, doc_id, z,
              (lon - nx) * (lon - nx) + (lat - ny) * (lat - ny) AS d2
       FROM nodes CROSS JOIN p
       WHERE (lon - nx) * (lon - nx) + (lat - ny) * (lat - ny) <= 36.0)
"""


def _grid_points(spark, sf_dir):
    return doc_points(spark, sf_dir).select(
        F.col("doc_id").alias("pid"), F.col("lon").alias("x"),
        F.col("lat").alias("y"), (F.col("doc_id") % 97).cast("double").alias("z"))


def q_grid_invdist(spark, sf_dir):
    """gdal_grid invdist (power=2) — cell-partitioned, zero-UDF IDW."""
    out = GR.grid_invdist(_grid_points(spark, sf_dir), GRID_META, GRID_RADIUS)
    return out.select("px", "py", F.round("val", 6).alias("val"))


ORACLE_GRID_INVDIST = f"""
WITH pts AS ({POINTS_SQL}), p AS ({_GRID_PTS}), {_GRID_NODES}
SELECT px, py,
  round(CASE WHEN max(CASE WHEN d2 < 0.0000000000001 THEN z END) IS NOT NULL
             THEN max(CASE WHEN d2 < 0.0000000000001 THEN z END)
        ELSE sum(CASE WHEN d2 >= 0.0000000000001 THEN z / d2 ELSE 0 END)
             / sum(CASE WHEN d2 >= 0.0000000000001 THEN 1.0 / d2 ELSE 0 END)
        END, 6) AS val
FROM pr GROUP BY px, py
"""


def q_grid_nearest(spark, sf_dir):
    """gdal_grid nearest (gdalgrid.cpp:461), doc_id tiebreak."""
    return GR.grid_nearest(_grid_points(spark, sf_dir), GRID_META, GRID_RADIUS)


ORACLE_GRID_NEAREST = f"""
WITH pts AS ({POINTS_SQL}), p AS ({_GRID_PTS}), {_GRID_NODES},
r AS (SELECT px, py, z,
             row_number() OVER (PARTITION BY px, py ORDER BY d2, doc_id) AS rn
      FROM pr)
SELECT px, py, z AS val FROM r WHERE rn = 1
"""


def q_grid_avgdist(spark, sf_dir):
    """Data metric: average node→point distance (gdal_alg.h:358-368)."""
    out = GR.grid_metric(_grid_points(spark, sf_dir), GRID_META, GRID_RADIUS,
                         "average_distance")
    return out.select("px", "py", F.round("val", 6).alias("val"))


def q_grid_avgdist_pts(spark, sf_dir):
    """Data metric average_distance_pts (gdalgrid.cpp:1171): mean distance
    over unordered in-radius point PAIRS per grid node."""
    out = GR.grid_avg_distance_pts(_grid_points(spark, sf_dir), GRID_META,
                                   GRID_RADIUS)
    return out.select("px", "py", F.round("val", 6).alias("val"))


ORACLE_GRID_AVGDIST_PTS = f"""
WITH pts AS ({POINTS_SQL}), p AS ({_GRID_PTS}),
nodes AS (SELECT px, py, -180.0 + (px + 0.5) * 5.0 AS nx,
                 85.0 + (py + 0.5) * (-5.0) AS ny
          FROM (SELECT unnest(generate_series(0, 71)) AS px),
               (SELECT unnest(generate_series(0, 33)) AS py)),
prx AS (SELECT px, py, doc_id, lon, lat
        FROM nodes CROSS JOIN p
        WHERE (lon - nx) * (lon - nx) + (lat - ny) * (lat - ny) <= 36.0),
pairs AS (SELECT a.px, a.py,
            sqrt((a.lon - b.lon) * (a.lon - b.lon)
                 + (a.lat - b.lat) * (a.lat - b.lat)) AS d
          FROM prx a JOIN prx b
            ON a.px = b.px AND a.py = b.py AND a.doc_id < b.doc_id)
SELECT px, py, round(avg(d), 6) AS val FROM pairs GROUP BY px, py
"""


ORACLE_GRID_AVGDIST = f"""
WITH pts AS ({POINTS_SQL}), p AS ({_GRID_PTS}), {_GRID_NODES}
SELECT px, py, round(avg(sqrt(d2)), 6) AS val FROM pr GROUP BY px, py
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, tuple] = {
    # geo core
    "tile_assign_z10": (q_tile_assign_z10, ORACLE_TILE_ASSIGN_Z10),
    "pip_admin_grid": (q_pip_admin_grid, ORACLE_PIP_ADMIN_GRID),
    "pip_shuffle_left": (q_pip_shuffle_left, ORACLE_PIP_SHUFFLE_LEFT),
    "pip_tile_flagship": (q_pip_tile_flagship, ORACLE_PIP_TILE_FLAGSHIP),
    "knn_k3": (q_knn_k3, ORACLE_KNN_K3),
    "tile_pyramid": (q_tile_pyramid, ORACLE_TILE_PYRAMID),
    "extent": (q_extent, ORACLE_EXTENT),
    # OGR SQL semantics
    "summary_agg": (q_summary_agg, ORACLE_SUMMARY_AGG),
    "distinct": (q_distinct, ORACLE_DISTINCT),
    "orderby_topk": (q_orderby_topk, ORACLE_ORDERBY_TOPK),
    "left_join_first": (q_left_join_first, ORACLE_LEFT_JOIN_FIRST),
    "like_ci": (q_like_ci, ORACLE_LIKE_CI),
    "substr_cast": (q_substr_cast, ORACLE_SUBSTR_CAST),
    "union_all": (q_union_all, ORACLE_UNION_ALL),
    "intersect_except": (q_intersect_except, ORACLE_INTERSECT_EXCEPT),
    "groupby_agg": (q_groupby_agg, ORACLE_GROUPBY_AGG),
    "poly_idlink_join": (q_poly_idlink_join, ORACLE_POLY_IDLINK),
    "poly_special_fields": (q_poly_special_fields, ORACLE_POLY_SPECIAL),
    "poly_ci_filter": (q_poly_ci_filter, ORACLE_POLY_CI),
    "poly_distinct_where": (q_poly_distinct_where, ORACLE_POLY_DISTINCT),
    "poly_orderby": (q_poly_orderby, ORACLE_POLY_ORDERBY),
    # webtext / training-data ops
    "dedup_exact": (q_dedup_exact, ORACLE_DEDUP_EXACT),
    "dedup_prefix": (q_dedup_prefix, ORACLE_DEDUP_PREFIX),
    "token_stats": (q_token_stats, ORACLE_TOKEN_STATS),
    "lang_quality": (q_lang_quality, ORACLE_LANG_QUALITY),
    "minhash_lsh_jaccard": (q_minhash_lsh_jaccard, ORACLE_MINHASH),
    "simhash_bands": (q_simhash_bands, ORACLE_SIMHASH),
    "fingerprint_winnow": (q_fingerprint_winnow, ORACLE_WINNOW),
    "multimodal_bytes": (q_multimodal_bytes, ORACLE_MULTIMODAL),
    "ann_cosine_topk": (q_ann_cosine_topk, ORACLE_ANN),
    "ann_lsh_topk": (q_ann_lsh, ORACLE_ANN_LSH),
    "event_window": (q_event_window, ORACLE_EVENT_WINDOW),
    "sessionize": (q_sessionize, ORACLE_SESSIONIZE),
    # raster operators
    "rasterize": (q_rasterize, ORACLE_RASTERIZE),
    "raster_checksum": (q_raster_checksum, ORACLE_RASTER_CHECKSUM),
    "raster_stats": (q_raster_stats, ORACLE_RASTER_STATS),
    "raster_mask": (q_raster_mask, ORACLE_RASTER_MASK),
    "raster_histogram": (q_raster_histogram, ORACLE_RASTER_HISTOGRAM),
    "pyramid_avg": (q_pyramid_avg, ORACLE_PYRAMID_AVG),
    "warp_bilinear": (q_warp_bilinear, ORACLE_WARP_BILINEAR),
    "warp_max": (q_warp_max, ORACLE_WARP_MAX),
    "contour_lines": (q_contour_lines, ORACLE_CONTOUR_LINES),
    "warp_med": (q_warp_med, ORACLE_WARP_MED),
    "warp_utm": (q_warp_utm, None),
    "polygonize_rects": (q_polygonize_rects, ORACLE_POLYGONIZE_RECTS),
    "clip_layer_area": (q_clip_layer_area, ORACLE_CLIP_LAYER),
    "union_layer": (q_union_layer, ORACLE_UNION_LAYER),
    "union_layer_rot": (q_union_layer_rot, ORACLE_UNION_LAYER_ROT),
    "st_predicates": (q_st_predicates, ORACLE_ST_PREDICATES),
    "symdiff_layer": (q_symdiff_layer, ORACLE_SYMDIFF_LAYER),
    "symdiff_layer_rot": (q_symdiff_layer_rot, ORACLE_SYMDIFF_LAYER_ROT),
    "pages_e2e": (q_pages_e2e, None),
    "grid_invdist": (q_grid_invdist, ORACLE_GRID_INVDIST),
    "grid_nearest": (q_grid_nearest, ORACLE_GRID_NEAREST),
    "grid_avgdist": (q_grid_avgdist, ORACLE_GRID_AVGDIST),
    "grid_avgdist_pts": (q_grid_avgdist_pts, ORACLE_GRID_AVGDIST_PTS),
    "locate_info": (q_locate_info, ORACLE_LOCATE_INFO),
    "tile_geodetic_z6": (q_tile_geodetic_z6, ORACLE_TILE_GEODETIC),
}


# ---------------------------------------------------------------------------
# general SRS transform family (round 3): LCC / Albers / UTM-series /
# GCP-polynomial warps with value-checked oracles (functions/srs.py)
# ---------------------------------------------------------------------------

from gdal_spark.functions import srs as SRS  # noqa: E402

# CONUS Lambert Conformal Conic (the classic stateplane/NARR-style frame)
LCC_CONUS = SRS.LambertConformalConic(lat1=33.0, lat2=45.0, lat0=23.0,
                                      lon0=-96.0)
ALBERS_CONUS = SRS.AlbersEqualArea(lat1=29.5, lat2=45.5, lat0=23.0,
                                   lon0=-96.0)

# LCC source grid covering the projected NYC doc cluster: bbox of the
# projected corners of the lon/lat window (the cone is rotated ~14 deg
# here, so corners — not the NW point — bound the region), 500 m pixels.
_LCC_CX, _LCC_CY = (v for v in LCC_CONUS.forward(
    [-74.30, -74.30, -73.66, -73.66], [40.40, 41.05, 40.40, 41.05]))
_LCC_X0 = float(_LCC_CX.min()) - 2000.0
_LCC_Y1 = float(_LCC_CY.max()) + 2000.0
LCC_META = RM.RasterMeta("docs_lcc", 160, 160,
                         gt=(_LCC_X0, 500.0, 0.0, _LCC_Y1, 0.0, -500.0),
                         dtype="uint8", nodata=0, block=64)
LCC_DST = RM.RasterMeta("docs_lcc_geo", 128, 128,
                        gt=(-74.3, 0.005, 0.0, 41.05, 0.0, -0.005),
                        dtype="uint8", nodata=0, block=64)


def _lcc_tiles(spark, sf_dir):
    """Doc burn on the LCC grid: points projected with the same SQL
    expression text the oracle runs (JVM column math, zero UDF)."""
    xs, ys = SRS.sql_lcc_forward(LCC_CONUS, "lon", "lat")
    pts = (doc_points(spark, sf_dir)
           .selectExpr("doc_id", f"{xs} AS x", f"{ys} AS y")
           .withColumn("burn", (F.col("doc_id") % 199 + 1).cast("double")))
    pix = RZ.rasterize_points(pts, LCC_META, lon="x", lat="y",
                              burn="burn", order="doc_id")
    return RZ.pixels_to_blocks(pix, LCC_META)


def q_warp_lcc(spark, sf_dir):
    """Distributed gdalwarp Lambert-Conformal-Conic → EPSG:4326 (the
    composed GenImgProjTransformer chain, gdaltransformer.cpp:974):
    dst geographic pixel → LCC forward (Snyder 15-1..15-11) → source
    pixel, nearest kernel. Value-checked against a DuckDB twin running
    the same closed-form forward projection."""
    tr = SRS.GenImgProjTransform(LCC_META.gt, LCC_DST.gt, src_crs=LCC_CONUS)
    out = RS.warp(_lcc_tiles(spark, sf_dir), LCC_META, LCC_DST, "nearest",
                  src_from_dst=tr)
    return RM.nonzero_pixels(out, LCC_DST)


def _indep_lcc_sql(lon: str, lat: str) -> tuple[str, str]:
    """Lambert Conformal Conic 2SP forward, hand-written from Snyder
    (1987) eqs 15-1..15-11 / EPSG 9802 with constants derived here from
    the raw parameters (lat1=33, lat2=45, lat0=23, lon0=-96, WGS84) —
    independent of srs.sql_lcc_forward and the LambertConformalConic
    class, so the oracle catches generator or constant-derivation bugs."""
    a, invf = 6378137.0, 298.257223563
    fl = 1.0 / invf
    e2 = fl * (2.0 - fl)
    e = math.sqrt(e2)

    def m(phi):
        return math.cos(phi) / math.sqrt(1.0 - e2 * math.sin(phi) ** 2)

    def tf(phi):
        return math.tan(math.pi / 4.0 - phi / 2.0) / (
            (1.0 - e * math.sin(phi)) / (1.0 + e * math.sin(phi))
        ) ** (e / 2.0)

    p1, p2, p0 = map(math.radians, (33.0, 45.0, 23.0))
    lam0 = math.radians(-96.0)
    n = (math.log(m(p1)) - math.log(m(p2))) / (
        math.log(tf(p1)) - math.log(tf(p2)))
    Fc = m(p1) / (n * tf(p1) ** n)
    rho0 = a * Fc * tf(p0) ** n
    phi = f"radians({lat})"
    s = f"sin({phi})"
    t = (f"(tan(pi()/4.0 - {phi}/2.0) / "
         f"pow((1.0 - {e!r}*{s}) / (1.0 + {e!r}*{s}), {e / 2.0!r}))")
    rho = f"({a * Fc!r} * pow({t}, {n!r}))"
    th = f"({n!r} * (radians({lon}) - {lam0!r}))"
    return f"({rho} * sin({th}))", f"({rho0!r} - {rho} * cos({th}))"


def _oracle_warp_lcc() -> str:
    xs, ys = _indep_lcc_sql("lon", "lat")
    # dst pixel centers -> lon/lat -> LCC forward -> source pixel (nearest)
    cx, cy = _indep_lcc_sql("lon_c", "lat_c")
    x0, y1 = repr(_LCC_X0), repr(_LCC_Y1)
    return f"""
WITH pts AS ({POINTS_SQL}),
prj AS (SELECT doc_id, {xs} AS x, {ys} AS y FROM pts),
pxr AS (SELECT doc_id, CAST(floor((x - {x0}) / 500.0) AS BIGINT) AS px,
               CAST(floor((y - {y1}) / (-500.0)) AS BIGINT) AS py
        FROM prj),
pix AS (SELECT px, py, (max(doc_id) % 199) + 1 AS burn
        FROM pxr WHERE px >= 0 AND px < 160 AND py >= 0 AND py < 160
        GROUP BY px, py),
dst AS (SELECT dx, dy, (-74.3 + (dx + 0.5) * 0.005) AS lon_c,
               (41.05 - (dy + 0.5) * 0.005) AS lat_c
        FROM (SELECT unnest(generate_series(0, 127)) AS dx),
             (SELECT unnest(generate_series(0, 127)) AS dy)),
spx AS (SELECT dx, dy, ({cx} - {x0}) / 500.0 AS sxf,
               ({cy} - {y1}) / (-500.0) AS syf FROM dst),
sel AS (SELECT dx, dy, CAST(trunc(sxf + 1e-10) AS BIGINT) AS isx,
               CAST(trunc(syf + 1e-10) AS BIGINT) AS isy
        FROM spx WHERE sxf >= 0 AND syf >= 0),
res AS (SELECT s.dx, s.dy, coalesce(p.burn, 0) AS v
        FROM sel s LEFT JOIN pix p ON p.px = s.isx AND p.py = s.isy
        WHERE s.isx < 160 AND s.isy < 160)
SELECT dx AS px, dy AS py, CAST(v AS DOUBLE) AS val FROM res WHERE v > 0
"""


ORACLE_WARP_LCC = _oracle_warp_lcc()


def q_proj_albers_cells(spark, sf_dir):
    """Albers equal-area 100 km binning of the doc points — the
    reproject-then-aggregate pattern (equal-area cells give unbiased
    density), pure JVM column math via the shared SQL expression text."""
    ax, ay = SRS.sql_albers_forward(ALBERS_CONUS, "lon", "lat")
    return (doc_points(spark, sf_dir)
            .selectExpr("doc_id",
                        f"CAST(floor({ax} / 100000.0) AS BIGINT) AS cx",
                        f"CAST(floor({ay} / 100000.0) AS BIGINT) AS cy")
            .groupBy("cx", "cy")
            .agg(F.count("*").alias("n"), F.max("doc_id").alias("max_doc"))
            .filter(F.col("n") >= 3))


def _oracle_proj_albers() -> str:
    ax, ay = SRS.sql_albers_forward(ALBERS_CONUS, "lon", "lat")
    return f"""
WITH pts AS ({POINTS_SQL}),
cells AS (SELECT doc_id, CAST(floor({ax} / 100000.0) AS BIGINT) AS cx,
                 CAST(floor({ay} / 100000.0) AS BIGINT) AS cy FROM pts)
SELECT cx, cy, count(*) AS n, max(doc_id) AS max_doc
FROM cells GROUP BY cx, cy HAVING count(*) >= 3
"""


ORACLE_PROJ_ALBERS = _oracle_proj_albers()


# the round-3 SRS family additions, each oracle-gated through the shared
# SQL expression text (identical IEEE trees on Spark and DuckDB)
LAEA_EUROPE = SRS.crs_from_epsg(3035)
PS_ARCTIC = SRS.crs_from_epsg(3413)


def q_proj_laea_cells(spark, sf_dir):
    """ETRS89-LAEA (EPSG 3035) 100 km equal-area binning of the European
    doc points — the unbiased-density sampling grid a training-data
    pipeline uses for geographic balance (Snyder 24-2..24-6 oblique
    azimuthal forward as pure JVM column math)."""
    lx, ly = SRS.sql_laea_forward(LAEA_EUROPE, "lon", "lat")
    return (doc_points(spark, sf_dir)
            .filter("lon >= -10.0 AND lon <= 30.0 AND lat >= 35.0 "
                    "AND lat <= 70.0")
            .selectExpr("doc_id",
                        f"CAST(floor({lx} / 100000.0) AS BIGINT) AS cx",
                        f"CAST(floor({ly} / 100000.0) AS BIGINT) AS cy")
            .groupBy("cx", "cy")
            .agg(F.count("*").alias("n"), F.max("doc_id").alias("max_doc"))
            .filter(F.col("n") >= 2))


def _oracle_proj_laea() -> str:
    lx, ly = SRS.sql_laea_forward(LAEA_EUROPE, "lon", "lat")
    return f"""
WITH pts AS ({POINTS_SQL}),
eur AS (SELECT * FROM pts WHERE lon >= -10.0 AND lon <= 30.0
        AND lat >= 35.0 AND lat <= 70.0),
cells AS (SELECT doc_id, CAST(floor({lx} / 100000.0) AS BIGINT) AS cx,
                 CAST(floor({ly} / 100000.0) AS BIGINT) AS cy FROM eur)
SELECT cx, cy, count(*) AS n, max(doc_id) AS max_doc
FROM cells GROUP BY cx, cy HAVING count(*) >= 2
"""


# deterministic Arctic point derivation (the doc-point hash never lands
# above ~49N at test scales, so the polar query derives its own lat/lon
# from doc_id — same expression text on both engines)
_ARCTIC_LAT = "(56.0 + ((doc_id * 7919) % 33000000) / CAST(1000000 AS DOUBLE))"
_ARCTIC_LON = "(((doc_id * 9973) % 360000000) / CAST(1000000 AS DOUBLE) - 180.0)"


def q_proj_ps_cells(spark, sf_dir):
    """NSIDC Sea-Ice Polar Stereographic North (EPSG 3413) 250 km
    binning of Arctic points (Snyder 21-34 variant-B forward)."""
    px, py = SRS.sql_ps_forward(PS_ARCTIC, "lon", "lat")
    return (load(spark, sf_dir, "documents")
            .selectExpr("doc_id", f"{_ARCTIC_LON} AS lon",
                        f"{_ARCTIC_LAT} AS lat")
            .selectExpr("doc_id",
                        f"CAST(floor({px} / 250000.0) AS BIGINT) AS cx",
                        f"CAST(floor({py} / 250000.0) AS BIGINT) AS cy")
            .groupBy("cx", "cy")
            .agg(F.count("*").alias("n"), F.min("doc_id").alias("min_doc")))


def _oracle_proj_ps() -> str:
    px, py = SRS.sql_ps_forward(PS_ARCTIC, "lon", "lat")
    return f"""
WITH arc AS (SELECT doc_id, {_ARCTIC_LON} AS lon, {_ARCTIC_LAT} AS lat
             FROM documents),
cells AS (SELECT doc_id, CAST(floor({px} / 250000.0) AS BIGINT) AS cx,
                 CAST(floor({py} / 250000.0) AS BIGINT) AS cy FROM arc)
SELECT cx, cy, count(*) AS n, min(doc_id) AS min_doc
FROM cells GROUP BY cx, cy
"""


_MODIS_T = 2.0 * math.pi * 6371007.181 / 36.0  # one 10-deg MODIS tile, m


def q_proj_modis_tiles(spark, sf_dir):
    """MODIS sinusoidal h/v tile assignment of every doc point — the
    36x18 equal-area tile grid (sinusoidal on the authalic sphere,
    tile = 10 deg of equator arc). The satellite-imagery twin of the
    WebMercator tile_assign query."""
    sx, sy = SRS.sql_sinu_forward(SRS.MODIS_SINU, "lon", "lat")
    t = f"({_MODIS_T!r}::DOUBLE)"
    return (doc_points(spark, sf_dir)
            .selectExpr("doc_id",
                        f"CAST(floor(({sx} + 18.0 * {t}) / {t}) AS BIGINT) AS h",
                        f"CAST(floor((9.0 * {t} - {sy}) / {t}) AS BIGINT) AS v")
            .groupBy("h", "v")
            .agg(F.count("*").alias("n"), F.max("doc_id").alias("max_doc"))
            .filter(F.col("n") >= 5))


def _oracle_proj_modis() -> str:
    # spherical sinusoidal hand-written from Snyder eqs 30-1/30-2
    # (exact sphere case): x = R lam cos(phi), y = R phi — independent
    # of srs.sql_sinu_forward (which goes through the ellipsoidal
    # meridian-arc series with f=0). Tile size re-derived inline:
    # 10 degrees of equator arc = R*pi/18.
    R = 6371007.181
    sx = f"({R!r} * radians(lon) * cos(radians(lat)))"
    sy = f"({R!r} * radians(lat))"
    t = f"({R * math.pi / 18.0!r}::DOUBLE)"
    return f"""
WITH pts AS ({POINTS_SQL}),
cells AS (SELECT doc_id,
                 CAST(floor(({sx} + 18.0 * {t}) / {t}) AS BIGINT) AS h,
                 CAST(floor((9.0 * {t} - {sy}) / {t}) AS BIGINT) AS v
          FROM pts)
SELECT h, v, count(*) AS n, max(doc_id) AS max_doc
FROM cells GROUP BY h, v HAVING count(*) >= 5
"""


def _gcp_dst_transform():
    """Order-2 GCP transform fitted to a 5x5 lattice sampled exactly from
    a quadratic pixel→geo model (gdal_crs.c path; lstsq recovers the
    model, max_fit_error ~1e-12). Deterministic — both the warp and the
    oracle use the same fitted coefficient doubles."""
    import numpy as np

    def model(px, py):
        lon = -74.24 + 0.005 * px + 2e-6 * px * py - 1e-6 * py * py
        lat = 40.95 - 0.004 * py + 1.5e-6 * px * px - 2e-6 * px * py
        return lon, lat

    gx, gy = np.meshgrid(np.linspace(0.0, 100.0, 5), np.linspace(0.0, 100.0, 5))
    mx, my = model(gx.ravel(), gy.ravel())
    return SRS.GCPTransform(np.c_[gx.ravel(), gy.ravel(), mx, my], order=2)


def q_warp_gcp(spark, sf_dir):
    """Warp the geographic doc raster onto a GCP-referenced target grid
    (order-2 polynomial georeferencing, gdal/alg/gdal_crs.c analog):
    dst pixel → fitted quadratic → lon/lat → source pixel, nearest."""
    gcp = _gcp_dst_transform()
    dst = RM.RasterMeta("docs_gcp", 100, 100,
                        gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0),  # pixel space
                        dtype="uint8", nodata=0, block=64)
    tr = SRS.GenImgProjTransform(DOC_META.gt, None, dst_gcp=gcp)
    out = RS.warp(_doc_tiles(spark, sf_dir), DOC_META, dst, "nearest",
                  src_from_dst=tr)
    return RM.nonzero_pixels(out, dst)


def _poly2_sql(coef, px: str, py: str) -> str:
    """SQL text of the fitted order-2 polynomial (terms match
    srs._poly_terms: 1, x, y, xy, x², y²)."""
    d = SRS._d
    return (f"({d(float(coef[0]))} + {d(float(coef[1]))} * {px} + "
            f"{d(float(coef[2]))} * {py} + {d(float(coef[3]))} * {px} * {py} + "
            f"{d(float(coef[4]))} * {px} * {px} + "
            f"{d(float(coef[5]))} * {py} * {py})")


def _oracle_warp_gcp() -> str:
    gcp = _gcp_dst_transform()
    lon_c = _poly2_sql(gcp.cx, "(dx + 0.5)", "(dy + 0.5)")
    lat_c = _poly2_sql(gcp.cy, "(dx + 0.5)", "(dy + 0.5)")
    return f"""
WITH pts AS ({POINTS_SQL}), {_PIX_SQL},
dst AS (SELECT dx, dy, ({lon_c} + 180.0) / 0.5 AS sxf,
               ({lat_c} - 85.0) / (-0.5) AS syf
        FROM (SELECT unnest(generate_series(0, 99)) AS dx),
             (SELECT unnest(generate_series(0, 99)) AS dy)),
sel AS (SELECT dx, dy, CAST(trunc(sxf + 1e-10) AS BIGINT) AS isx,
               CAST(trunc(syf + 1e-10) AS BIGINT) AS isy
        FROM dst WHERE sxf >= 0 AND syf >= 0),
res AS (SELECT s.dx, s.dy, coalesce(p.burn, 0) AS v
        FROM sel s LEFT JOIN pix p ON p.px = s.isx AND p.py = s.isy
        WHERE s.isx < 720 AND s.isy < 340)
SELECT dx AS px, dy AS py, CAST(v AS DOUBLE) AS val FROM res WHERE v > 0
"""


ORACLE_WARP_GCP = _oracle_warp_gcp()


def _oracle_warp_utm() -> str:
    """Real value oracle for the existing warp_utm query (was rows-only):
    the Krüger-series inverse is closed-form, so the whole chain is SQL
    (functions/srs.py sql_tm_inverse)."""
    from gdal_spark.functions import proj as PJ
    e0, n1 = PJ.utm_from_latlon(41.0, -74.25, 18)
    e_expr = f"({repr(float(e0))} + (dx + 0.5) * 500.0)"
    n_expr = f"({repr(float(n1))} - (dy + 0.5) * 500.0)"
    lon_e, lat_e = SRS.sql_tm_inverse(e_expr, n_expr,
                                      lon0=PJ.utm_central_meridian(18))
    return f"""
WITH pts AS ({POINTS_SQL}), {_PIX_SQL},
dst AS (SELECT dx, dy, ({lon_e} + 180.0) / 0.5 AS sxf,
               ({lat_e} - 85.0) / (-0.5) AS syf
        FROM (SELECT unnest(generate_series(0, 63)) AS dx),
             (SELECT unnest(generate_series(0, 63)) AS dy)),
sel AS (SELECT dx, dy, CAST(trunc(sxf + 1e-10) AS BIGINT) AS isx,
               CAST(trunc(syf + 1e-10) AS BIGINT) AS isy
        FROM dst WHERE sxf >= 0 AND syf >= 0),
res AS (SELECT s.dx, s.dy, coalesce(p.burn, 0) AS v
        FROM sel s LEFT JOIN pix p ON p.px = s.isx AND p.py = s.isy
        WHERE s.isx < 720 AND s.isy < 340)
SELECT dx AS px, dy AS py, CAST(v AS DOUBLE) AS val FROM res WHERE v > 0
"""


ORACLE_WARP_UTM = _oracle_warp_utm()

QUERIES.update({
    "warp_lcc": (q_warp_lcc, ORACLE_WARP_LCC),
    "proj_albers_cells": (q_proj_albers_cells, ORACLE_PROJ_ALBERS),
    "proj_laea_cells": (q_proj_laea_cells, _oracle_proj_laea()),
    "proj_ps_cells": (q_proj_ps_cells, _oracle_proj_ps()),
    "proj_modis_tiles": (q_proj_modis_tiles, _oracle_proj_modis()),
    "warp_gcp": (q_warp_gcp, ORACLE_WARP_GCP),
    "warp_utm": (q_warp_utm, ORACLE_WARP_UTM),
})


# cutline-clipped warp (gdalwarp -cutline, gdal/alg/gdalcutline.cpp:45)

_CUT_A = (-74.2689, 40.5311)
_CUT_B = (-73.7123, 40.6077)
_CUT_C = (-74.0471, 41.0033)


def q_warp_cutline(spark, sf_dir):
    """Warp the world doc raster into the NYC window with a triangular
    cutline: only pixels whose center falls inside the polygon receive
    output (blend distance 0); blocks outside the cutline envelope are
    pruned before the source join."""
    import numpy as np
    from gdal_spark.functions import geometry as G
    tri = G.encode_polygon([np.array([_CUT_A, _CUT_B, _CUT_C, _CUT_A],
                                     dtype=float)])
    dst = RM.RasterMeta("docs_cut", 128, 128,
                        gt=(-74.3, 0.005, 0.0, 41.05, 0.0, -0.005),
                        dtype="uint8", nodata=0, block=64)
    out = RS.warp(_doc_tiles(spark, sf_dir), DOC_META, dst, "nearest",
                  cutline=tri)
    return RM.nonzero_pixels(out, dst)


def _oracle_warp_cutline() -> str:
    (ax, ay), (bx, by), (cx, cy) = _CUT_A, _CUT_B, _CUT_C
    d1 = f"(({bx!r} - {ax!r}) * (lat_c - {ay!r}) - ({by!r} - {ay!r}) * (lon_c - {ax!r}))"
    d2 = f"(({cx!r} - {bx!r}) * (lat_c - {by!r}) - ({cy!r} - {by!r}) * (lon_c - {bx!r}))"
    d3 = f"(({ax!r} - {cx!r}) * (lat_c - {cy!r}) - ({ay!r} - {cy!r}) * (lon_c - {cx!r}))"
    inside = (f"(({d1} > 0 AND {d2} > 0 AND {d3} > 0) OR "
              f"({d1} < 0 AND {d2} < 0 AND {d3} < 0))")
    return f"""
WITH pts AS ({POINTS_SQL}), {_PIX_SQL},
dst AS (SELECT dx, dy, (-74.3 + (dx + 0.5) * 0.005) AS lon_c,
               (41.05 - (dy + 0.5) * 0.005) AS lat_c
        FROM (SELECT unnest(generate_series(0, 127)) AS dx),
             (SELECT unnest(generate_series(0, 127)) AS dy)),
cut AS (SELECT dx, dy, lon_c, lat_c FROM dst WHERE {inside}),
spx AS (SELECT dx, dy, (lon_c + 180.0) / 0.5 AS sxf,
               (lat_c - 85.0) / (-0.5) AS syf FROM cut),
sel AS (SELECT dx, dy, CAST(trunc(sxf + 1e-10) AS BIGINT) AS isx,
               CAST(trunc(syf + 1e-10) AS BIGINT) AS isy
        FROM spx WHERE sxf >= 0 AND syf >= 0),
res AS (SELECT s.dx, s.dy, coalesce(p.burn, 0) AS v
        FROM sel s LEFT JOIN pix p ON p.px = s.isx AND p.py = s.isy
        WHERE s.isx < 720 AND s.isy < 340)
SELECT dx AS px, dy AS py, CAST(v AS DOUBLE) AS val FROM res WHERE v > 0
"""


ORACLE_WARP_CUTLINE = _oracle_warp_cutline()

QUERIES["warp_cutline"] = (q_warp_cutline, ORACLE_WARP_CUTLINE)


def q_buffer_layer(spark, sf_dir):
    """OGRGeometry::Buffer over the whole poly fixture (convex squares,
    fid 3 concave notch, fid 7 interior ring), dilation +0.5 and erosion
    -0.5 with the default 30 quadrant segments (ogrgeometry.cpp:2817 →
    GEOSBuffer). The oracle is the exact polygon Steiner formula for the
    snapped 4·quadsegs-gon disk: dilation A + P·d + A_disk + R·(A_disk/4
    − d²), erosion A − P·d − R·(A_disk/4) + C·d² (R reflex / C convex
    corners; fid 7 composes outer-shrink minus hole-dilation), verified
    to 1e-13 against the Minkowski/Martinez–Rueda kernel."""
    polys = PG.poly_fixture(spark)
    dil = LA.layer_buffer(polys, 0.5).select(
        "fid", F.round("buf_area", 6).alias("dil_area"))
    ero = LA.layer_buffer(polys, -0.5).select(
        "fid", F.round("buf_area", 6).alias("ero_area"))
    return (dil.join(ero, "fid", "left")
               .select("fid", "dil_area", "ero_area"))


ORACLE_BUFFER_LAYER = """
WITH consts AS (
  SELECT 0.5 AS d, 60.0 * 0.25 * sin(2 * pi() / 120.0) AS adisk
),
f AS (SELECT unnest(generate_series(0, 9)) AS fid),
shapes AS (
  SELECT fid,
         CASE WHEN fid = 3 THEN 72.0 WHEN fid = 7 THEN 96.0 ELSE 100.0 END AS a,
         CASE WHEN fid = 3 THEN 54.0 ELSE 40.0 END AS p,
         CASE WHEN fid = 3 THEN 2 ELSE 0 END AS r,
         CASE WHEN fid = 3 THEN 6 ELSE 4 END AS c
  FROM f
)
SELECT s.fid,
       round(CASE WHEN s.fid = 7
                  THEN (100.0 + 40.0 * k.d + k.adisk) - (2.0 - 2.0 * k.d) * (2.0 - 2.0 * k.d)
                  ELSE s.a + s.p * k.d + k.adisk + s.r * (k.adisk / 4.0 - k.d * k.d)
             END, 6) AS dil_area,
       round(CASE WHEN s.fid = 7
                  THEN (10.0 - 2.0 * k.d) * (10.0 - 2.0 * k.d) - (4.0 + 8.0 * k.d + k.adisk)
                  ELSE s.a - s.p * k.d - s.r * (k.adisk / 4.0) + s.c * k.d * k.d
             END, 6) AS ero_area
FROM shapes s CROSS JOIN consts k
"""

QUERIES["buffer_layer"] = (q_buffer_layer, ORACLE_BUFFER_LAYER)


def q_layer_sqlite_info(spark, sf_dir):
    """SQLite-dialect layer introspection (ogr_sql_sqlite.dox:103-140):
    ogr_layer_FeatureCount / GeometryType / SRID / Extent for the pages
    point layer and the admin polygon grid, one catalog row per layer.
    The admin row's geometry type is read from the WKB header byte in JVM
    column math (functions/sqlite_dialect.py); extents/counts are single
    partial aggregations."""
    from gdal_spark.functions import sqlite_dialect as SD
    pts = doc_points(spark, sf_dir)
    grid = PG.admin_grid(spark)
    info = SD.layer_info({
        "pages": {"df": pts, "x": "lon", "y": "lat", "geom_type": "POINT"},
        "admin": {"df": grid, "wkb": "wkb",
                  "bbox": ("xmin", "ymin", "xmax", "ymax")},
    })
    return info.select("layer_name", "n_features", "geom_type", "srid",
                       F.round("minx", 9).alias("minx"),
                       F.round("miny", 9).alias("miny"),
                       F.round("maxx", 9).alias("maxx"),
                       F.round("maxy", 9).alias("maxy"))


ORACLE_LAYER_SQLITE_INFO = f"""
WITH pts AS ({POINTS_SQL}),
pages AS (
  SELECT 'pages' AS layer_name, count(*) AS n_features,
         'POINT' AS geom_type, 4326 AS srid,
         round(min(lon), 9) AS minx, round(min(lat), 9) AS miny,
         round(max(lon), 9) AS maxx, round(max(lat), 9) AS maxy
  FROM pts
),
admin AS (
  SELECT 'admin' AS layer_name, CAST(72 AS BIGINT) AS n_features,
         'POLYGON' AS geom_type, 4326 AS srid,
         CAST(-180.0 AS DOUBLE) AS minx, CAST(-85.0 AS DOUBLE) AS miny,
         CAST(180.0 AS DOUBLE) AS maxx, CAST(85.0 AS DOUBLE) AS maxy
)
SELECT * FROM pages UNION ALL SELECT * FROM admin
"""

QUERIES["layer_sqlite_info"] = (q_layer_sqlite_info, ORACLE_LAYER_SQLITE_INFO)


def q_overview_magphase(spark, sf_dir):
    """Complex-raster AVERAGE_MAGPHASE /2 overview
    (GDALResampleChunkC32R, gdal/gcore/overview.cpp:1848-1892): a 64x48
    GDT_CFloat32 raster with linear real/imag ramps reduced one level;
    each output pixel is the 2x2 component mean rescaled to the mean
    source magnitude. The oracle replays the reference's exact cast
    chain (float32 component means, double magnitude math, float32
    scale) in SQL."""
    import numpy as np
    meta = RM.RasterMeta("cplx", 64, 48,
                         gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0),
                         dtype="complex64", nodata=None, block=32)

    def pattern(X, Y):
        return ((0.5 * X - 0.25 * Y + 3.0)
                + 1j * (0.25 * Y - 0.125 * X))

    tiles = RM.synthetic_raster(spark, meta, pattern)
    out, out_meta = PY.overview_level(tiles, meta, "cplx_ov",
                                      method="average_magphase")

    block = out_meta.block

    def to_pixels(batches):
        import pandas as pd
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = np.frombuffer(bytes(r.data),
                                    dtype="complex64").reshape(r.h, r.w)
                ys, xs = np.nonzero(np.ones_like(arr, dtype=bool))
                for y, x in zip(ys, xs):
                    rows.append((int(r.bx) * block + int(x),
                                 int(r.by) * block + int(y),
                                 float(arr[y, x].real),
                                 float(arr[y, x].imag)))
            yield pd.DataFrame(rows, columns=["px", "py", "re", "im"])

    pix = out.mapInPandas(to_pixels, schema="px int, py int, re double, im double")
    return pix.select("px", "py",
                      F.round("re", 5).alias("re"),
                      F.round("im", 5).alias("im"))


ORACLE_OVERVIEW_MAGPHASE = """
WITH src AS (
  SELECT x.x AS px, y.y AS py,
         CAST(0.5 * x.x - 0.25 * y.y + 3.0 AS FLOAT) AS r,
         CAST(0.25 * y.y - 0.125 * x.x AS FLOAT) AS i
  FROM (SELECT unnest(generate_series(0, 63)) AS x) x,
       (SELECT unnest(generate_series(0, 47)) AS y) y
),
agg AS (
  SELECT px // 2 AS ox, py // 2 AS oy,
         CAST(avg(CAST(r AS DOUBLE)) AS FLOAT) AS mean_r,
         CAST(avg(CAST(i AS DOUBLE)) AS FLOAT) AS mean_i,
         avg(sqrt(CAST(r AS DOUBLE) * r + CAST(i AS DOUBLE) * i)) AS mean_m
  FROM src GROUP BY 1, 2
),
scaled AS (
  SELECT ox, oy, mean_r, mean_i,
         CASE WHEN sqrt(CAST(mean_r AS DOUBLE) * mean_r
                        + CAST(mean_i AS DOUBLE) * mean_i) = 0 THEN CAST(1.0 AS FLOAT)
              ELSE CAST(mean_m / sqrt(CAST(mean_r AS DOUBLE) * mean_r
                                      + CAST(mean_i AS DOUBLE) * mean_i) AS FLOAT)
         END AS ratio
  FROM agg
)
SELECT ox AS px, oy AS py,
       round(CAST(CAST(mean_r * ratio AS FLOAT) AS DOUBLE), 5) AS re,
       round(CAST(CAST(mean_i * ratio AS FLOAT) AS DOUBLE), 5) AS im
FROM scaled
"""

QUERIES["overview_magphase"] = (q_overview_magphase, ORACLE_OVERVIEW_MAGPHASE)


def q_geom_constructive(spark, sf_dir):
    """Constructive-geometry rollup over the poly fixture: Boundary
    length (ogrgeometry.cpp:2685), PointOnSurface interiority (:3985),
    ConvexHull area (:2595) per feature, plus the UnionCascaded area of
    the whole layer (:3119 — two-stage partition-partial fold). All four
    have exact closed forms on the fixture: perimeters 40/54/48, hulls
    100, disjoint-union area 968."""
    per = LA.layer_constructive(PG.poly_fixture(spark))
    union = LA.layer_union_cascaded(PG.poly_fixture(spark)) \
        .select(F.round("union_area", 6).alias("union_area"))
    return (per.crossJoin(union)
            .select("fid", F.round("boundary_len", 6).alias("boundary_len"),
                    "pos_inside", F.round("hull_area", 6).alias("hull_area"),
                    "union_area"))


ORACLE_GEOM_CONSTRUCTIVE = """
SELECT fid,
       CAST(CASE WHEN fid = 3 THEN 54.0 WHEN fid = 7 THEN 48.0
            ELSE 40.0 END AS DOUBLE) AS boundary_len,
       1 AS pos_inside,
       CAST(100.0 AS DOUBLE) AS hull_area,
       CAST(968.0 AS DOUBLE) AS union_area
FROM (SELECT unnest(generate_series(0, 9)) AS fid)
"""

QUERIES["geom_constructive"] = (q_geom_constructive, ORACLE_GEOM_CONSTRUCTIVE)


def q_asof_join(spark, sf_dir):
    """As-of join (SURVEY §2.3): each 'click' event matched to the latest
    'view' event of the same user at or before it — union-merge-window
    form (operators/joins.py), one exchange, no cross product. Right
    ties on timestamp resolve to the highest view event_id."""
    from gdal_spark.operators import joins as J
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view") \
        .select("user_id", "ts", F.col("event_id").alias("view_id"))
    out = J.asof_join(clicks, views, key="user_id",
                      left_time="ts", right_time="ts",
                      right_cols=["view_id"], suffix="")
    return out.select("event_id", "user_id",
                      F.col("view_id").cast("long").alias("view_id"))


ORACLE_ASOF_JOIN = """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
r AS (
  -- collapse right-side timestamp ties to the highest event_id, making
  -- arg_max over ts deterministic (mirrors the Spark window tie-break)
  SELECT user_id, ts, max(event_id) AS view_id FROM events
  WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT l.event_id, l.user_id,
       arg_max(r.view_id, r.ts) AS view_id
FROM l LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
GROUP BY l.event_id, l.user_id
"""

QUERIES["asof_join"] = (q_asof_join, ORACLE_ASOF_JOIN)


def q_range_join(spark, sf_dir):
    """Value-band range join (SURVEY §2.3 theta/range): events joined to
    non-uniform value bands via the bucket-explode equi-join
    (operators/joins.py) — the scale shape that replaces the reference's
    nested-loop theta evaluation (ogr_gensql.cpp)."""
    from gdal_spark.operators import joins as J
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("event_id", "value")
    bands = local_frame(
        spark,
        [("tiny", 0.0, 2.0), ("small", 2.0, 8.0), ("mid", 8.0, 32.0),
         ("large", 32.0, 70.0)],
        "band string, lo double, hi double")
    out = J.range_join_bucketed(ev, "value", bands, "lo", "hi",
                                bucket_width=4.0)
    return (out.groupBy("band")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 6).alias("sum_value")))


ORACLE_RANGE_JOIN = """
WITH bands(band, lo, hi) AS (
  VALUES ('tiny', 0.0, 2.0), ('small', 2.0, 8.0), ('mid', 8.0, 32.0),
         ('large', 32.0, 70.0)
)
SELECT b.band, count(*) AS n, round(sum(e.value), 6) AS sum_value
FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
GROUP BY b.band
"""

QUERIES["range_join"] = (q_range_join, ORACLE_RANGE_JOIN)


def q_rollup_agg(spark, sf_dir):
    """GROUPING SETS / ROLLUP (SURVEY §2.4): two-level rollup over
    (event_type, hour-of-day bucket) with grouping indicators — Catalyst
    expands the grouping sets in one pass (Expand + single shuffle)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .withColumn("hod", (F.hour("ts") / 6).cast("int"))
    out = (ev.rollup("event_type", "hod")
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 6).alias("sum_value"),
                F.grouping("event_type").alias("g_type"),
                F.grouping("hod").alias("g_hod")))
    return out.select("event_type", "hod", "n", "sum_value",
                      F.col("g_type").cast("int").alias("g_type"),
                      F.col("g_hod").cast("int").alias("g_hod"))


ORACLE_ROLLUP_AGG = """
SELECT event_type, CAST(floor(hour(ts) / 6) AS INT) AS hod,
       count(*) AS n, round(sum(value), 6) AS sum_value,
       CAST(GROUPING(event_type) AS INT) AS g_type,
       CAST(GROUPING(CAST(floor(hour(ts) / 6) AS INT)) AS INT) AS g_hod
FROM events
GROUP BY ROLLUP(event_type, CAST(floor(hour(ts) / 6) AS INT))
"""

QUERIES["rollup_agg"] = (q_rollup_agg, ORACLE_ROLLUP_AGG)


# ---------------------------------------------------------------------------
# round-3 oracle widening: the operators previously verified only in pytest
# (mosaic/retile, pixel algebra, windowed read, DEM focal, proximity,
# fillnodata, sieve, color relief, point-layer Erase/Identity/Update,
# n-gram Jaccard dedup) each get a driver-gate query with a closed-form
# DuckDB twin over deterministic formula rasters / the documents table.
# ---------------------------------------------------------------------------

import numpy as np  # noqa: E402

from gdal_spark.raster import algebra as AL  # noqa: E402
from gdal_spark.raster import dem as DEM  # noqa: E402
from gdal_spark.raster import mosaic as MO  # noqa: E402
from gdal_spark.raster import proximity as PX  # noqa: E402
from gdal_spark.raster import sieve as SV  # noqa: E402

# shared unit-grid formula raster: v = (px*7 + py*13) % 50 + 1, 4x2 blocks
MOS_META = RM.RasterMeta("mosA", 256, 128,
                         gt=(0.0, 1.0, 0.0, 128.0, 0.0, -1.0),
                         dtype="uint8", nodata=0, block=64)
_V_A = "((px * 7 + py * 13) % 50 + 1)"   # SQL twin of the A formula
_V_B = "(CASE WHEN px >= 128 THEN (px * 3 + py * 5) % 40 ELSE 0 END)"
_PIXGRID = """
g AS (SELECT px, py FROM (SELECT unnest(generate_series(0, 255)) AS px),
                         (SELECT unnest(generate_series(0, 127)) AS py))
"""


def _formula_a(spark):
    return RM.synthetic_raster(spark, MOS_META,
                               lambda X, Y: (X * 7 + Y * 13) % 50 + 1)


def _formula_b(spark):
    return RM.synthetic_raster(
        spark, MOS_META,
        lambda X, Y: np.where(X >= 128, (X * 3 + Y * 5) % 40, 0))


def q_mosaic_overlay(spark, sf_dir):
    """gdalbuildvrt/gdal_merge mosaic (gdal_merge.py:55 raster_copy):
    last-on-top nodata-aware overlay of two same-grid formula rasters —
    B (right half, zeros = nodata) paints over A."""
    a, b = _formula_a(spark), _formula_b(spark)
    m, mm = MO.mosaic([(a, MOS_META), (b, MOS_META)], "mos")
    return RM.nonzero_pixels(m, mm)


ORACLE_MOSAIC_OVERLAY = f"""
WITH {_PIXGRID}
SELECT px, py, CAST(CASE WHEN {_V_B} != 0 THEN {_V_B} ELSE {_V_A} END
               AS DOUBLE) AS val
FROM g
"""


def q_retile_blocks(spark, sf_dir):
    """gdal_retile.py re-blocking (block 64 -> 48): pixel values must
    survive the shatter/assemble shuffle bit-for-bit; per-new-block
    nonzero count + sum."""
    a = _formula_a(spark)
    r, rm = MO.reblock(a, MOS_META, 48, "ret")
    return RST.block_summary(r, rm).select("bx", "by", "n_nonzero",
                                           "sum_vals")


ORACLE_RETILE_BLOCKS = f"""
WITH {_PIXGRID}
SELECT CAST(px // 48 AS INTEGER) AS bx, CAST(py // 48 AS INTEGER) AS by,
       count(*) AS n_nonzero, CAST(sum({_V_A}) AS DOUBLE) AS sum_vals
FROM g GROUP BY 1, 2
"""


def q_pixel_calc(spark, sf_dir):
    """gdal_calc.py two-raster pixel algebra (gdal_calc.py:63-84, VRT pixel
    functions): out = A*2 + B in uint8 (mod-256 wrap), same-grid block
    equi-join, one shuffle."""
    a, b = _formula_a(spark), _formula_b(spark)
    c, cm = AL.zip_pixels(a, b, MOS_META, "calc", lambda x, y: x * 2 + y)
    return RM.nonzero_pixels(c, cm)


ORACLE_PIXEL_CALC = f"""
WITH {_PIXGRID},
v AS (SELECT px, py, ({_V_A} * 2 + {_V_B}) % 256 AS c FROM g)
SELECT px, py, CAST(c AS DOUBLE) AS val FROM v WHERE c != 0
"""


WR_DST = RM.RasterMeta("wr", 128, 64, gt=(0.0, 2.0, 0.0, 128.0, 0.0, -2.0),
                       dtype="uint8", nodata=0, block=32)


def q_windowed_read(spark, sf_dir):
    """RasterIO windowed decimated read (gdal/gcore/rasterio.cpp:65,718):
    a 2x-decimated nearest read of dst blocks (1..2, 1) only — the
    dst_window path must enumerate just the requested blocks and sample
    src pixel floor(2*dx+1)."""
    a = _formula_a(spark)
    out = RS.warp(a, MOS_META, WR_DST, "nearest", dst_window=(1, 1, 2, 1))
    return RM.nonzero_pixels(out, WR_DST)


ORACLE_WINDOWED_READ = """
WITH d AS (SELECT dx, dy
           FROM (SELECT unnest(generate_series(32, 95)) AS dx),
                (SELECT unnest(generate_series(32, 63)) AS dy)),
v AS (SELECT dx, dy,
             ((2 * dx + 1) * 7 + (2 * dy + 1) * 13) % 50 + 1 AS c FROM d)
SELECT dx AS px, dy AS py, CAST(c AS DOUBLE) AS val FROM v WHERE c != 0
"""


FOCAL_META = RM.RasterMeta("focal", 256, 128,
                           gt=(0.0, 1.0, 0.0, 128.0, 0.0, -1.0),
                           dtype="float64", block=64)


def q_dem_focal(spark, sf_dir):
    """gdaldem 3x3 focal ops over the halo-exchange stencil
    (gdal/apps/gdaldem.cpp:634 Horn slope, :1766 roughness): percent slope
    (exact, sqrt of integer) joined with window roughness per interior
    pixel."""
    t = RM.synthetic_raster(spark, FOCAL_META,
                            lambda X, Y: (X * 7 + Y * 13) % 50 + 1)
    sl, slm = DEM.stencil_apply(
        t, FOCAL_META, "slope",
        lambda w, gt: DEM.slope(w, gt, percent=True), out_dtype="float64")
    rg, rgm = DEM.stencil_apply(t, FOCAL_META, "rough", DEM.roughness,
                                out_dtype="float64")
    interior = ((F.col("px") >= 1) & (F.col("px") <= 254)
                & (F.col("py") >= 1) & (F.col("py") <= 126))
    s = RM.nonzero_pixels(sl, slm).filter(interior) \
        .withColumnRenamed("val", "slope_pct")
    r = RM.nonzero_pixels(rg, rgm).filter(interior) \
        .withColumnRenamed("val", "rough")
    return s.join(r, on=["px", "py"])


def _oracle_dem() -> str:
    def v(dx, dy):
        return f"((px + {dx}) * 7 + (py + {dy}) * 13) % 50 + 1"
    # afWin order: w0..w2 row above (py-1), w3..w5 center, w6..w8 below
    w = [v(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    dx_e = (f"(({w[0]}) + 2 * ({w[3]}) + ({w[6]})"
            f" - (({w[2]}) + 2 * ({w[5]}) + ({w[8]}))) / 1.0")
    dy_e = (f"(({w[6]}) + 2 * ({w[7]}) + ({w[8]})"
            f" - (({w[0]}) + 2 * ({w[1]}) + ({w[2]}))) / (-1.0)")
    mx = "greatest(" + ", ".join(w) + ")"
    mn = "least(" + ", ".join(w) + ")"
    return f"""
WITH g AS (SELECT px, py
           FROM (SELECT unnest(generate_series(1, 254)) AS px),
                (SELECT unnest(generate_series(1, 126)) AS py)),
d AS (SELECT px, py, {dx_e} AS ddx, {dy_e} AS ddy,
             CAST({mx} - {mn} AS DOUBLE) AS rough
      FROM g),
s AS (SELECT px, py, 100.0 * (sqrt(ddx * ddx + ddy * ddy) / 8.0) AS slope_pct,
             rough
      FROM d)
SELECT px, py, slope_pct, rough FROM s WHERE slope_pct > 0 AND rough > 0
"""


ORACLE_DEM_FOCAL = _oracle_dem()


PROX_META = RM.RasterMeta("prox", 128, 64, gt=(0.0, 1.0, 0.0, 64.0, 0.0, -1.0),
                          dtype="uint8", nodata=0, block=32)


def q_proximity_dist(spark, sf_dir):
    """GDALComputeProximity (gdal/alg/gdalproximity.cpp:102) as the
    separable distributed EDT: exact euclidean pixel distance to the
    nearest of 12 lattice targets, capped at 40 px."""
    t = RM.synthetic_raster(
        spark, PROX_META,
        lambda X, Y: np.where((X % 37 == 0) & (Y % 23 == 0), 1, 0))
    d, dm = PX.proximity(t, PROX_META, 40.0)
    return (RM.nonzero_pixels(d, dm)
            .filter(F.col("val") != 65535.0)
            .select("px", "py", "val"))


ORACLE_PROXIMITY = """
WITH g AS (SELECT px, py FROM (SELECT unnest(generate_series(0, 127)) AS px),
                              (SELECT unnest(generate_series(0, 63)) AS py)),
t AS (SELECT px AS tx, py AS ty FROM g WHERE px % 37 = 0 AND py % 23 = 0),
m AS (SELECT px, py,
             min((px - tx) * (px - tx) + (py - ty) * (py - ty)) AS d2
      FROM g CROSS JOIN t GROUP BY px, py)
SELECT px, py, CAST(CAST(sqrt(CAST(d2 AS DOUBLE)) AS REAL) AS DOUBLE) AS val
FROM m WHERE d2 > 0 AND d2 <= 1600
"""


FILL_META = RM.RasterMeta("fill", 256, 128,
                          gt=(0.0, 1.0, 0.0, 128.0, 0.0, -1.0),
                          dtype="float64", nodata=0.0, block=64)


def q_fillnodata_idw(spark, sf_dir):
    """GDALFillNodata (gdal/alg/rasterfill.cpp:389): nodata holes filled by
    the 4-direction nearest-valid IDW within max_search=4; filled values
    at the hole pixels."""
    t = RM.synthetic_raster(
        spark, FILL_META, lambda X, Y: np.where(
            (X * 11 + Y * 17) % 53 == 0, 0.0, (X * 7 + Y * 13) % 50 + 1))
    f, fm = PX.fillnodata(t, FILL_META, max_search=4)
    holes = ((F.col("px") * 11 + F.col("py") * 17) % 53 == 0)
    return (RM.nonzero_pixels(f, fm).filter(holes)
            .select("px", "py", F.round("val", 6).alias("val")))


ORACLE_FILLNODATA = f"""
WITH {_PIXGRID},
d AS (SELECT px, py, (px * 11 + py * 17) % 53 != 0 AS good,
             CAST({_V_A} AS DOUBLE) AS v
      FROM g),
w AS (SELECT px, py, good, v,
  px - last_value(CASE WHEN good THEN px END IGNORE NULLS)
       OVER (PARTITION BY py ORDER BY px
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS dl,
  last_value(CASE WHEN good THEN v END IGNORE NULLS)
       OVER (PARTITION BY py ORDER BY px
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS vl,
  last_value(CASE WHEN good THEN px END IGNORE NULLS)
       OVER (PARTITION BY py ORDER BY px DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - px AS dr,
  last_value(CASE WHEN good THEN v END IGNORE NULLS)
       OVER (PARTITION BY py ORDER BY px DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS vr,
  py - last_value(CASE WHEN good THEN py END IGNORE NULLS)
       OVER (PARTITION BY px ORDER BY py
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS du,
  last_value(CASE WHEN good THEN v END IGNORE NULLS)
       OVER (PARTITION BY px ORDER BY py
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS vu,
  last_value(CASE WHEN good THEN py END IGNORE NULLS)
       OVER (PARTITION BY px ORDER BY py DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - py AS dd,
  last_value(CASE WHEN good THEN v END IGNORE NULLS)
       OVER (PARTITION BY px ORDER BY py DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS vd
  FROM d),
k AS (SELECT px, py,
        CASE WHEN dl IS NOT NULL AND dl <= 4 THEN 1.0 / dl ELSE 0.0 END AS wl,
        CASE WHEN dr IS NOT NULL AND dr <= 4 THEN 1.0 / dr ELSE 0.0 END AS wr,
        CASE WHEN du IS NOT NULL AND du <= 4 THEN 1.0 / du ELSE 0.0 END AS wu,
        CASE WHEN dd IS NOT NULL AND dd <= 4 THEN 1.0 / dd ELSE 0.0 END AS wd,
        coalesce(vl, 0) AS vl, coalesce(vr, 0) AS vr,
        coalesce(vu, 0) AS vu, coalesce(vd, 0) AS vd
      FROM w WHERE NOT good)
SELECT px, py,
       round((wl * vl + wr * vr + wu * vu + wd * vd)
             / (wl + wr + wu + wd), 6) AS val
FROM k WHERE wl + wr + wu + wd > 0
"""


SIEVE_META = RM.RasterMeta("sv", 256, 128,
                           gt=(0.0, 1.0, 0.0, 128.0, 0.0, -1.0),
                           dtype="uint16", block=64)


def q_sieve_counts(spark, sf_dir):
    """GDALSieveFilter (gdal/alg/gdalsievefilter.cpp:183): isolated 64-px
    value-2 squares (< threshold 100) merge into their largest neighbor.
    Subtle: the diagonal square chains pinch the 4-connected background
    into antidiagonal bands, so the two squares at cells (5,0)/(0,5) see
    only an 896-px background fragment vs the 1600-px corner — largest
    neighbor is the CORNER, giving 3 -> 1728 (verified against an
    independent sequential flood-fill sieve). Per-value pixel counts
    after the distributed relabel."""
    def fn(X, Y):
        small = ((X // 8 + Y // 8) % 5 == 0)
        return np.where((X < 40) & (Y < 40), 3, np.where(small, 2, 1))

    t = RM.synthetic_raster(spark, SIEVE_META, fn)
    out = SV.sieve(t, SIEVE_META, threshold=100)
    return (RM.nonzero_pixels(out, SIEVE_META)
            .groupBy("val").agg(F.count(F.lit(1)).alias("n")))


ORACLE_SIEVE_COUNTS = """
SELECT CAST(1 AS DOUBLE) AS val, CAST(256 * 128 - 1728 AS BIGINT) AS n
UNION ALL
SELECT CAST(3 AS DOUBLE) AS val, CAST(1600 + 2 * 64 AS BIGINT) AS n
"""


RELIEF_RAMP = [(0.0, 0, 0, 255), (16.0, 0, 128, 192),
               (32.0, 64, 255, 64), (48.0, 255, 200, 0)]


def q_color_relief(spark, sf_dir):
    """gdaldem color-relief (gdal/apps/gdaldem.cpp:805-1265): piecewise-
    linear RGB ramp over the formula raster; dyadic ramp knots make the
    interpolation IEEE-exact on both engines."""
    a = _formula_a(spark)
    cr, crm = AL.color_relief(a, MOS_META, "relief", RELIEF_RAMP)
    parts = [RM.nonzero_pixels(cr, crm, band=b)
             .select(F.lit(b).alias("band"), "px", "py", "val")
             for b in (0, 1, 2)]
    return parts[0].unionByName(parts[1]).unionByName(parts[2])


def _oracle_relief() -> str:
    knots = RELIEF_RAMP
    chans = []
    for c in range(3):
        e = "CASE "
        for (x0, *c0), (x1, *c1) in zip(knots, knots[1:]):
            slope = (c1[c] - c0[c]) / (x1 - x0)
            # the reference truncates with a 0.45 offset
            # (GDALColorReliefGetRGBA, gdaldem.cpp:915-929)
            e += (f"WHEN v <= {x1} THEN floor({repr(slope)} * (v - {x0}) "
                  f"+ {c0[c]} + 0.45) ")
        e += f"ELSE {knots[-1][1 + c]} END"
        chans.append(e)
    branches = "\nUNION ALL\n".join(
        f"SELECT {b} AS band, px, py, CAST(ch{b} AS DOUBLE) AS val "
        f"FROM chans WHERE ch{b} != 0" for b in (0, 1, 2))
    return f"""
WITH {_PIXGRID},
v AS (SELECT px, py, CAST({_V_A} AS DOUBLE) AS v FROM g),
chans AS (SELECT px, py, {chans[0]} AS ch0, {chans[1]} AS ch1,
                 {chans[2]} AS ch2 FROM v)
{branches}
"""


ORACLE_COLOR_RELIEF = _oracle_relief()


def q_erase_points(spark, sf_dir):
    """Layer Erase (ogrlayer.cpp:3722) = spatial anti-join: doc points NOT
    covered by the eastern-hemisphere admin grid, banded by lon/20."""
    pts = doc_points(spark, sf_dir)
    grid = PG.admin_grid(spark, nx=18, ny=17, lon_min=0.0, lon_max=180.0,
                         lat_min=-85.0, lat_max=85.0)
    er = LA.points_erase(pts, grid, strategy="broadcast")
    return (er.groupBy(F.floor(F.col("lon") / 20).cast("long").alias("band"))
            .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("min_doc")))


ORACLE_ERASE_POINTS = f"""
WITH pts AS ({POINTS_SQL})
SELECT CAST(floor(lon / 20) AS BIGINT) AS band, count(*) AS n,
       min(doc_id) AS min_doc
FROM pts WHERE lon < 0 GROUP BY 1
"""


def q_identity_points(spark, sf_dir):
    """Layer Identity (ogrlayer.cpp:2937): all doc points, eastern-grid
    cell attrs where covered (left first-match PIP), null cell outside."""
    pts = doc_points(spark, sf_dir)
    grid = PG.admin_grid(spark, nx=18, ny=17, lon_min=0.0, lon_max=180.0,
                         lat_min=-85.0, lat_max=85.0)
    idn = LA.points_identity(pts, grid, strategy="broadcast")
    return idn.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n"),
                                      F.min("doc_id").alias("min_doc"))


ORACLE_IDENTITY_POINTS = f"""
WITH pts AS ({POINTS_SQL})
SELECT CASE WHEN lon >= 0 THEN
         CAST(floor(lon / 10.0) + 18 * floor((lat + 85.0) / 10.0) AS BIGINT)
       ELSE NULL END AS cell_id,
       count(*) AS n, min(doc_id) AS min_doc
FROM pts GROUP BY 1
"""


def q_update_layer(spark, sf_dir):
    """Layer Update (ogrlayer.cpp:3211): patch rows (doc_id % 7 == 0,
    negated n_chars) replace base rows by key — anti-join + union,
    aggregated per doc_id % 5."""
    base = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    patch = base.filter(F.col("doc_id") % 7 == 0) \
        .withColumn("n_chars", -F.col("n_chars"))
    upd = LA.points_update(base, patch, "doc_id")
    return (upd.groupBy((F.col("doc_id") % 5).alias("grp"))
            .agg(F.sum("n_chars").alias("sum_chars"),
                 F.count(F.lit(1)).alias("n")))


ORACLE_UPDATE_LAYER = """
SELECT doc_id % 5 AS grp,
       sum(CASE WHEN doc_id % 7 = 0 THEN -n_chars ELSE n_chars END) AS sum_chars,
       count(*) AS n
FROM documents GROUP BY 1
"""


def q_ngram_jaccard(spark, sf_dir):
    """Exact n-gram (3-word shingle) Jaccard for a fixed candidate pair
    list via 60-bit hash-array intersection (operators/dedup.py
    ngram_jaccard_pairs) — the dedup verify stage as a standalone op."""
    docs = load(spark, sf_dir, "documents")
    pairs = spark.range(10).select(F.col("id").alias("id_a"),
                                   (F.col("id") + 10).alias("id_b"))
    out = DD.ngram_jaccard_pairs(docs, pairs, shingle_n=3)
    return out.select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")


ORACLE_NGRAM_JACCARD = """
WITH pr AS (SELECT i AS id_a, i + 10 AS id_b
            FROM (SELECT unnest(generate_series(0, 9)) AS i)),
toks AS (SELECT doc_id, string_split(text, ' ') AS w
         FROM documents WHERE doc_id < 20),
sh AS (SELECT doc_id, list_distinct(list_transform(
         generate_series(1, greatest(len(w) - 2, 0)),
         i -> array_to_string(w[i:i+2], ' '))) AS gr FROM toks),
hs AS (SELECT doc_id, list_transform(gr,
         s -> CAST(CAST(concat('0x', substr(md5(s), 1, 15)) AS UBIGINT)
                   AS BIGINT)) AS h
       FROM sh),
j AS (SELECT p.id_a, p.id_b,
        len(list_intersect(a.h, b.h)) AS inter,
        len(a.h) AS size_a, len(b.h) AS size_b
      FROM pr p JOIN hs a ON a.doc_id = p.id_a
                JOIN hs b ON b.doc_id = p.id_b)
SELECT id_a, id_b, CAST(inter AS INTEGER) AS inter,
       CAST(size_a AS INTEGER) AS size_a, CAST(size_b AS INTEGER) AS size_b,
       round(inter / (size_a + size_b - inter), 6) AS jaccard
FROM j
"""


QUERIES["mosaic_overlay"] = (q_mosaic_overlay, ORACLE_MOSAIC_OVERLAY)
QUERIES["retile_blocks"] = (q_retile_blocks, ORACLE_RETILE_BLOCKS)
QUERIES["pixel_calc"] = (q_pixel_calc, ORACLE_PIXEL_CALC)
QUERIES["windowed_read"] = (q_windowed_read, ORACLE_WINDOWED_READ)
QUERIES["dem_focal"] = (q_dem_focal, ORACLE_DEM_FOCAL)
QUERIES["proximity_dist"] = (q_proximity_dist, ORACLE_PROXIMITY)
QUERIES["fillnodata_idw"] = (q_fillnodata_idw, ORACLE_FILLNODATA)
QUERIES["sieve_counts"] = (q_sieve_counts, ORACLE_SIEVE_COUNTS)
QUERIES["color_relief"] = (q_color_relief, ORACLE_COLOR_RELIEF)
QUERIES["erase_points"] = (q_erase_points, ORACLE_ERASE_POINTS)
QUERIES["identity_points"] = (q_identity_points, ORACLE_IDENTITY_POINTS)
QUERIES["update_layer"] = (q_update_layer, ORACLE_UPDATE_LAYER)
QUERIES["ngram_jaccard"] = (q_ngram_jaccard, ORACLE_NGRAM_JACCARD)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-flat ANN (operators/ann.py cosine_topk_ivf): 16 deterministic
    centroids, 1 inverted list per vector, 4-probe queries, exact rerank
    in the probed lists."""
    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("qid"), "embedding")
    return ANN.cosine_topk_ivf(qs, emb, k=10, n_centroids=16, n_probe=4)


ORACLE_ANN_IVF = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
c AS (SELECT vec_id AS cid,
             list_transform(v, x -> x / sqrt(list_aggregate(
                 list_transform(v, y -> y * y), 'sum'))) AS cv
      FROM e WHERE vec_id < 16),
dotc AS (SELECT e.vec_id, c.cid,
           list_aggregate(list_transform(generate_series(1, len(e.v)),
                                         i -> e.v[i] * c.cv[i]), 'sum') AS d
         FROM e CROSS JOIN c),
assign AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d DESC, cid) AS rn
             FROM dotc) WHERE rn = 1),
probes AS (SELECT vec_id AS qid, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d DESC, cid) AS rn
             FROM dotc WHERE vec_id < 5) WHERE rn <= 4),
n AS (SELECT vec_id, v,
             sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm
      FROM e),
cand AS (SELECT p.qid, a.vec_id
         FROM probes p JOIN assign a ON a.cid = p.cid),
d AS (SELECT cd.qid, cd.vec_id,
        round(list_aggregate(list_transform(generate_series(1, len(q.v)),
                                            i -> q.v[i] * x.v[i]), 'sum')
              / (q.nrm * x.nrm), 6) AS sim
      FROM cand cd JOIN n q ON q.vec_id = cd.qid
                   JOIN n x ON x.vec_id = cd.vec_id),
r AS (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY sim DESC, vec_id) AS rank
      FROM d)
SELECT qid, vec_id, sim, rank FROM r WHERE rank <= 10
"""

QUERIES["ann_ivf_topk"] = (q_ann_ivf_topk, ORACLE_ANN_IVF)


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs (operators/ann.py
    embedding_neardup_pairs): 2 independent 6-plane SRP bands propose
    candidates, exact cosine >= 0.3 verifies — the dedup-by-embedding
    path alongside MinHash/SimHash text dedup."""
    emb = load(spark, sf_dir, "embeddings")
    return ANN.embedding_neardup_pairs(emb, threshold=0.3, n_planes=6,
                                       n_bands=2, seed=42, cap=256)


def _oracle_dedup_embedding() -> str:
    bands = []
    for b in range(2):
        planes = ANN._hyperplanes(64, 6, seed=42 + b)
        dots = []
        for p in range(6):
            lits = ", ".join(repr(float(x)) for x in planes[p])
            dots.append(
                f"list_aggregate(list_transform(generate_series(1, 64), "
                f"i -> v[i] * ([{lits}])[i]), 'sum')")
        bucket = " + ".join(
            f"(CASE WHEN {d} > 0 THEN {1 << p} ELSE 0 END)"
            for p, d in enumerate(dots))
        bands.append(f"SELECT {b} AS band, vec_id, {bucket} AS bucket FROM e")
    band_sql = " UNION ALL ".join(bands)
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
bk AS ({band_sql}),
cap AS (SELECT band, bucket, vec_id,
               row_number() OVER (PARTITION BY band, bucket
                                  ORDER BY vec_id) AS rn
        FROM bk),
c AS (SELECT band, bucket, vec_id FROM cap WHERE rn <= 256),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM c a JOIN c b ON a.band = b.band AND a.bucket = b.bucket
                          AND a.vec_id < b.vec_id),
u AS (SELECT vec_id,
             list_transform(v, x -> x / sqrt(list_aggregate(
                 list_transform(v, y -> y * y), 'sum'))) AS uv
      FROM e),
s AS (SELECT cd.id_a, cd.id_b,
        round(list_aggregate(list_transform(generate_series(1, 64),
                                            i -> a.uv[i] * b.uv[i]),
                             'sum'), 6) AS sim
      FROM cand cd JOIN u a ON a.vec_id = cd.id_a
                   JOIN u b ON b.vec_id = cd.id_b)
SELECT id_a, id_b, sim FROM s WHERE sim >= 0.3
"""


ORACLE_DEDUP_EMBEDDING = _oracle_dedup_embedding()

QUERIES["dedup_embedding"] = (q_dedup_embedding, ORACLE_DEDUP_EMBEDDING)


def q_s2_cells(spark, sf_dir):
    """S2 cell index (functions/s2.py — the north rule's H3/S2 index):
    leaf cell id + level-10 parent per doc point, one vectorized Arrow
    pass, no shuffle. DuckDB twin replays the Hilbert walk as a
    30-step recursive CTE."""
    from gdal_spark.functions import s2 as S2
    pts = doc_points(spark, sf_dir)
    return (S2.with_s2_columns(pts, level=10)
            .select("doc_id", "s2_id", "s2_id_l10"))


ORACLE_S2_CELLS = f"""
WITH RECURSIVE pts AS ({POINTS_SQL}),
xyz AS (SELECT doc_id,
               cos(radians(lat)) * cos(radians(lon)) AS x,
               cos(radians(lat)) * sin(radians(lon)) AS y,
               sin(radians(lat)) AS z
        FROM pts),
f0 AS (SELECT doc_id, x, y, z,
              CASE WHEN abs(x) >= abs(y) AND abs(x) >= abs(z) THEN 0
                   WHEN abs(y) >= abs(z) THEN 1 ELSE 2 END AS f3
       FROM xyz),
fc AS (SELECT doc_id, x, y, z,
              f3 + CASE WHEN (CASE f3 WHEN 0 THEN x WHEN 1 THEN y
                              ELSE z END) < 0 THEN 3 ELSE 0 END AS face
       FROM f0),
uv AS (SELECT doc_id, face,
              CASE face WHEN 0 THEN y / x WHEN 1 THEN -x / y
                        WHEN 2 THEN -x / z WHEN 3 THEN z / x
                        WHEN 4 THEN z / y ELSE -y / z END AS u,
              CASE face WHEN 0 THEN z / x WHEN 1 THEN z / y
                        WHEN 2 THEN -y / z WHEN 3 THEN y / x
                        WHEN 4 THEN -x / y ELSE -x / z END AS v
       FROM fc),
st AS (SELECT doc_id, face,
              CASE WHEN u >= 0 THEN 0.5 * sqrt(1 + 3 * u)
                   ELSE 1 - 0.5 * sqrt(1 - 3 * u) END AS s,
              CASE WHEN v >= 0 THEN 0.5 * sqrt(1 + 3 * v)
                   ELSE 1 - 0.5 * sqrt(1 - 3 * v) END AS t
       FROM uv),
ij AS (SELECT doc_id, face,
              least(greatest(CAST(floor(s * 1073741824.0) AS BIGINT),
                             0), 1073741823) AS i,
              least(greatest(CAST(floor(t * 1073741824.0) AS BIGINT),
                             0), 1073741823) AS j
       FROM st),
walk AS (
  SELECT doc_id, face, i, j, 29 AS k, CAST(0 AS HUGEINT) AS pos,
         face & 1 AS o
  FROM ij
  UNION ALL
  SELECT doc_id, face, i, j, k - 1,
         pos * 4 + idx,
         xor(o, ([1, 0, 0, 3])[idx + 1])
  FROM (SELECT *,
          ([0,1,3,2, 0,3,1,2, 2,3,1,0, 2,1,3,0])[
              o * 4 + ((i >> k) & 1) * 2 + ((j >> k) & 1) + 1] AS idx
        FROM walk WHERE k >= 0) w
),
ids AS (SELECT doc_id,
               (CAST(face AS HUGEINT) * 1152921504606846976 + pos) * 2
               + 1 AS id_u
        FROM walk WHERE k = -1),
packed AS (SELECT doc_id, id_u,
                  (id_u // 2199023255552) * 2199023255552
                  + 1099511627776 AS par_u
           FROM ids)
SELECT doc_id,
       CAST(CASE WHEN id_u >= 9223372036854775808
                 THEN id_u - 18446744073709551616 ELSE id_u END
            AS BIGINT) AS s2_id,
       CAST(CASE WHEN par_u >= 9223372036854775808
                 THEN par_u - 18446744073709551616 ELSE par_u END
            AS BIGINT) AS s2_id_l10
FROM packed
"""

QUERIES["s2_cells"] = (q_s2_cells, ORACLE_S2_CELLS)


# ---------------------------------------------------------------------------
# Format-driver round-trips (GeoJSON codec + Shapefile binary codec over
# the poly fixture; gdal/ogr/ogrsf_frmts/geojson + shape driver parity —
# autotest/ogr/ogr_geojson.py / ogr_shape.py expectations)
# ---------------------------------------------------------------------------

def q_geojson_roundtrip(spark, sf_dir):
    """poly fixture → RFC 7946 feature lines → parsed back through the
    GeoJSON geometry codec → (fid, eas_id, prfedea, geom_area). Exercises
    both codec directions; geometry must survive bit-exactly (areas match
    the fixture's known values: 100 / 72 concave / 96 holed)."""
    import json as _json
    from collections.abc import Iterator as _It

    import pandas as _pd

    from gdal_spark.functions import geometry as _G
    from gdal_spark.sources import formats as FMT

    lines = FMT.geojson_feature_lines(PG.poly_fixture(spark))

    def parse(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in batches:
            rows = []
            for line in pdf["value"]:
                feat = _json.loads(line)
                wkb = FMT.wkb_from_geojson_geom(feat["geometry"])
                p = feat["properties"]
                rows.append((int(p["fid"]), int(p["eas_id"]), p["prfedea"],
                             _G.polygon_area(wkb)))
            yield _pd.DataFrame(
                rows, columns=["fid", "eas_id", "prfedea", "geom_area"])

    return lines.mapInPandas(
        parse, "fid long, eas_id long, prfedea string, geom_area double"
    ).orderBy("fid")


_GEOM_AREAS = {3: 72.0, 7: 96.0}
ORACLE_FORMAT_ROUNDTRIP = (
    "WITH t(fid, eas_id, prfedea, geom_area) AS (VALUES "
    + ", ".join(f"({fid}, {eas}, '{prf}', {_GEOM_AREAS.get(fid, 100.0)})"
                for fid, _area, eas, prf in PG.POLY_ROWS)
    + ") SELECT fid, eas_id, prfedea, CAST(geom_area AS DOUBLE) AS geom_area"
    " FROM t ORDER BY fid"
)

QUERIES["geojson_roundtrip"] = (q_geojson_roundtrip, ORACLE_FORMAT_ROUNDTRIP)


def q_shapefile_roundtrip(spark, sf_dir):
    """poly fixture → ESRI Shapefile bytes (.shp/.dbf built per the spec's
    binary layout, outer-CW ring normalization) → parsed back →
    (fid, eas_id, prfedea, geom_area). The dbf N-field text encoding and
    the ring orientation flip must both round-trip losslessly."""
    from collections.abc import Iterator as _It

    import pandas as _pd

    from gdal_spark.functions import geometry as _G
    from gdal_spark.sources import formats as FMT

    poly = PG.poly_fixture(spark).select("fid", "eas_id", "prfedea",
                                         "geometry").repartition(1)

    def roundtrip(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            shp, _shx, dbf = FMT.shapefile_bytes(pdf)
            geoms = FMT.parse_shp(shp)
            attrs = FMT.parse_dbf(dbf)
            attrs["geom_area"] = [_G.polygon_area(g) for g in geoms]
            yield attrs[["fid", "eas_id", "prfedea", "geom_area"]]

    return poly.mapInPandas(
        roundtrip, "fid long, eas_id long, prfedea string, geom_area double"
    ).orderBy("fid")


QUERIES["shapefile_roundtrip"] = (q_shapefile_roundtrip,
                                  ORACLE_FORMAT_ROUNDTRIP)


# ---------------------------------------------------------------------------
# ExecuteSQL dialect entry point (gdal/gcore/gdaldataset.cpp:4884 →
# swq_parser.y → ogr_gensql.cpp, re-planned onto Catalyst in ogrsql.py)
# ---------------------------------------------------------------------------

def q_ogrsql_join(spark, sf_dir):
    """OGR SQL statement through the dialect parser: aliased first-match
    LEFT JOIN + ci LIKE + ORDER BY, planned as Catalyst Column trees."""
    from gdal_spark.ogrsql import OGRSQLEngine

    eng = OGRSQLEngine(spark)
    eng.register("poly", PG.poly_fixture(spark))
    eng.register("idlink", PG.idlink_fixture(spark), geometry_col=None)
    return eng.execute_sql(
        "SELECT p.fid AS fid, p.eas_id AS eas_id, name AS link_name, "
        "SUBSTR(prfedea, -2) AS tail2 "
        "FROM poly p LEFT JOIN idlink il ON p.eas_id = il.eas_id "
        "WHERE prfedea LIKE '35043%' AND eas_id < 172 ORDER BY fid")


_IDLINK_MAP = {eas: nm for eas, nm in PG.IDLINK_ROWS}
ORACLE_OGRSQL_JOIN = (
    "WITH t(fid, eas_id, link_name, tail2) AS (VALUES "
    + ", ".join(
        f"({fid}, {eas}, "
        + (f"'{_IDLINK_MAP[eas]}'" if eas in _IDLINK_MAP else "NULL")
        + f", '{prf[-2:]}')"
        for fid, _a, eas, prf in PG.POLY_ROWS if eas < 172)
    + ") SELECT fid, eas_id, CAST(link_name AS VARCHAR) AS link_name, tail2 "
    "FROM t ORDER BY fid"
)

QUERIES["ogrsql_join"] = (q_ogrsql_join, ORACLE_OGRSQL_JOIN)


def q_ogrsql_summary(spark, sf_dir):
    """Summary mode (PrepareSummary analog): whole-table aggregates with
    the reference's OP_field column naming, via the dialect parser."""
    from gdal_spark.ogrsql import OGRSQLEngine

    eng = OGRSQLEngine(spark)
    eng.register("poly", PG.poly_fixture(spark))
    return eng.execute_sql(
        "SELECT MIN(eas_id), MAX(eas_id), COUNT(*), "
        "SUM(eas_id) AS sum_eas, AVG(area) AS avg_area "
        "FROM poly WHERE eas_id IN ('158', 165, 166, 'a999')")


ORACLE_OGRSQL_SUMMARY = (
    "WITH poly(fid, area, eas_id, prfedea) AS (VALUES "
    + ", ".join(f"({fid}, {a!r}, {eas}, '{prf}')"
                for fid, a, eas, prf in PG.POLY_ROWS)
    + ') SELECT min(eas_id) AS "MIN_eas_id", max(eas_id) AS "MAX_eas_id", '
    'count(*) AS "COUNT_*", sum(eas_id) AS sum_eas, '
    "CAST(avg(area) AS DOUBLE) AS avg_area "
    "FROM poly WHERE eas_id IN (158, 165, 166)"
)

QUERIES["ogrsql_summary"] = (q_ogrsql_summary, ORACLE_OGRSQL_SUMMARY)


# ---------------------------------------------------------------------------
# App pipelines: ogr2ogr + gdal_translate (gdal/apps parity, apps.py)
# ---------------------------------------------------------------------------

def q_ogr2ogr_pipeline(spark, sf_dir):
    """ogr2ogr stage chain (-where + -spat + -select, ogr2ogr.cpp order):
    dialect attribute filter, staged rectangle spatial filter, projection."""
    from gdal_spark import apps as APP

    out = APP.ogr2ogr(spark, PG.poly_fixture(spark),
                      where="eas_id <= 173 AND prfedea LIKE '35043%'",
                      spat=(35.0, 0.0, 65.0, 10.0),
                      select=["fid", "eas_id", "prfedea"])
    return out.select("fid", "eas_id", "prfedea").orderBy("fid")


ORACLE_OGR2OGR = """
WITH t(fid, eas_id, prfedea) AS (VALUES
  (2, 171, '35043414'), (3, 173, '35043416'))
SELECT fid, eas_id, prfedea FROM t ORDER BY fid
"""

QUERIES["ogr2ogr_pipeline"] = (q_ogr2ogr_pipeline, ORACLE_OGR2OGR)


def q_translate_pipeline(spark, sf_dir):
    """gdal_translate chain (-srcwin -outsize -ot -scale,
    gdal_translate.cpp): windowed 2x-decimated nearest read, linear value
    rescale 0..50 -> 0..100, float64 output — block-pruned warp + one
    narrow map stage."""
    from gdal_spark import apps as APP

    a = _formula_a(spark)
    out, om = APP.gdal_translate(a, MOS_META, "trans",
                                 srcwin=(16, 8, 128, 64), outsize=(64, 32),
                                 ot="float64", scale=(0, 50, 0.0, 100.0))
    return RM.nonzero_pixels(out, om)


ORACLE_TRANSLATE = """
WITH d AS (SELECT dx, dy
           FROM (SELECT unnest(generate_series(0, 63)) AS dx),
                (SELECT unnest(generate_series(0, 31)) AS dy)),
v AS (SELECT dx, dy,
             ((2 * dx + 17) * 7 + (2 * dy + 9) * 13) % 50 + 1 AS c FROM d)
SELECT dx AS px, dy AS py, CAST(c AS DOUBLE) * 2.0 AS val FROM v
"""

QUERIES["translate_pipeline"] = (q_translate_pipeline, ORACLE_TRANSLATE)


def _gdalwarp_meta():
    import numpy as _np

    from gdal_spark.functions import srs as _S
    meta = RM.RasterMeta("geowarp", 128, 128,
                         gt=(0.0, 0.25, 0.0, 32.0, 0.0, -0.25),
                         dtype="uint8", block=64)

    def dst_from_src(px, py):
        lon = _np.asarray(px, _np.float64) * 0.25
        lat = 32.0 - _np.asarray(py, _np.float64) * 0.25
        return _S.WebMercator().forward(lon, lat)

    w, h, gt = _S.suggested_warp_output(128, 128, dst_from_src)
    return meta, w, h, gt


GDALWARP_SRC, _GW_W, _GW_H, _GW_GT = _gdalwarp_meta()


def q_gdalwarp_app(spark, sf_dir):
    """gdalwarp app end-to-end (gdal/apps/gdalwarp.cpp): geographic →
    WebMercator with the GDALSuggestedWarpOutput grid inference
    (gdaltransformer.cpp:340) and the exact composed transform chain
    (-et 0), nearest kernel, distributed block-pruned gather."""
    from gdal_spark import apps as APP
    from gdal_spark.functions import srs as _S

    src = RM.synthetic_raster(spark, GDALWARP_SRC,
                              lambda X, Y: (X * 7 + Y * 13) % 50 + 1)
    out, om = APP.gdalwarp(src, GDALWARP_SRC, "gwapp",
                           t_srs=_S.WebMercator(), et=0)
    assert (om.width, om.height) == (_GW_W, _GW_H)
    return RM.nonzero_pixels(out, om)


def _oracle_gdalwarp() -> str:
    import math as _math
    xmin, ps, ymax = repr(_GW_GT[0]), repr(_GW_GT[1]), repr(_GW_GT[3])
    r2d = repr(180.0 / _math.pi)
    hpi = repr(_math.pi / 2.0)
    # mirror the engine's float64 op order exactly: px→geo (xmin+(dx+.5)*ps),
    # merc inverse (rad2deg via * 180/pi), geo→src px via the 2x2 inverse
    # ((lon-0)*gt5)/det with det = gt1*gt5 = -0.0625 — powers of two, exact
    return f"""
WITH d AS (SELECT dx, dy
           FROM (SELECT unnest(generate_series(0, {_GW_W - 1})) AS dx),
                (SELECT unnest(generate_series(0, {_GW_H - 1})) AS dy)),
geo AS (SELECT dx, dy, {xmin} + (dx + 0.5) * {ps} AS gx,
               {ymax} - (dy + 0.5) * {ps} AS gy FROM d),
ll AS (SELECT dx, dy, (gx / 6378137.0) * {r2d} AS lon,
              (2.0 * atan(exp(gy / 6378137.0)) - {hpi}) * {r2d} AS lat
       FROM geo),
spx AS (SELECT dx, dy, ((lon - 0.0) * -0.25) / -0.0625 AS sxf,
               ((lat - 32.0) * 0.25) / -0.0625 AS syf FROM ll),
sel AS (SELECT dx, dy, CAST(trunc(sxf + 1e-10) AS BIGINT) AS isx,
               CAST(trunc(syf + 1e-10) AS BIGINT) AS isy
        FROM spx WHERE sxf >= 0 AND syf >= 0),
res AS (SELECT dx, dy, (isx * 7 + isy * 13) % 50 + 1 AS v
        FROM sel WHERE isx < 128 AND isy < 128)
SELECT dx AS px, dy AS py, CAST(v AS DOUBLE) AS val FROM res
"""


QUERIES["gdalwarp_app"] = (q_gdalwarp_app, _oracle_gdalwarp())


def q_geotiff_roundtrip(spark, sf_dir):
    """GeoTIFF codec round-trip (gdal/frmts/gtiff driver core re-expressed
    from the TIFF 6.0 / GeoTIFF 1.1 specs): formula raster → tiled
    uncompressed GeoTIFF bytes → parsed back → sparse pixel rows. The
    whole encode/decode happens executor-side on Arrow batches."""
    from collections.abc import Iterator as _It

    import numpy as _np
    import pandas as _pd

    from gdal_spark.raster import formats as _RF

    a = _formula_a(spark).repartition(1)
    block, W, H = MOS_META.block, MOS_META.width, MOS_META.height

    def roundtrip(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            arr = _np.zeros((H, W), dtype=MOS_META.dtype)
            for r in pdf.itertuples(index=False):
                sub = _np.frombuffer(bytes(r.data),
                                     dtype=MOS_META.dtype).reshape(r.h, r.w)
                arr[r.by * block:r.by * block + r.h,
                    r.bx * block:r.bx * block + r.w] = sub
            data = _RF.geotiff_bytes([arr], MOS_META)
            bands, meta2 = _RF.parse_geotiff(data, "rt", block=block)
            assert meta2.gt == MOS_META.gt and meta2.dtype == MOS_META.dtype
            back = bands[0]
            ys, xs = _np.nonzero(back)
            yield _pd.DataFrame({"px": xs.astype("int64"),
                                 "py": ys.astype("int64"),
                                 "val": back[ys, xs].astype(_np.float64)})

    return a.mapInPandas(roundtrip, "px long, py long, val double")


ORACLE_GEOTIFF = f"""
WITH {_PIXGRID}
SELECT px, py, CAST({_V_A} AS DOUBLE) AS val FROM g
WHERE {_V_A} != 0
"""

QUERIES["geotiff_roundtrip"] = (q_geotiff_roundtrip, ORACLE_GEOTIFF)


def q_vrt_compose(spark, sf_dir):
    """VRT lifecycle end-to-end (gdal/frmts/vrt + gdalbuildvrt): write two
    overlapping formula GeoTIFFs, build a .vrt of their union grid, read
    it back as a lazy plan, materialize sparse pixels. Last-on-top over
    the 8-px overlap, nodata background — the gdalbuildvrt contract."""
    import os as _os

    import numpy as _np

    from gdal_spark.raster import vrt as _V

    d = "/tmp/gdal_spark_vrtq"
    _os.makedirs(d, exist_ok=True)
    ya, xa = _np.mgrid[0:32, 0:40]
    a = ((xa * 7 + ya * 13) % 50 + 1).astype(_np.uint8)
    yb, xb = _np.mgrid[0:32, 0:32]
    b = ((xb * 3 + yb * 5) % 40 + 1).astype(_np.uint8)
    ma = RM.RasterMeta("va", 40, 32, gt=(0.0, 1.0, 0.0, 32.0, 0.0, -1.0),
                       dtype="uint8", nodata=0.0, block=16)
    mb = RM.RasterMeta("vb", 32, 32, gt=(32.0, 1.0, 0.0, 32.0, 0.0, -1.0),
                       dtype="uint8", nodata=0.0, block=16)
    from gdal_spark.raster import formats as _RF_

    _RF_.write_geotiff(RM.from_array(spark, a, ma), ma, f"{d}/va.tif")
    _RF_.write_geotiff(RM.from_array(spark, b, mb), mb, f"{d}/vb.tif")
    _V.build_vrt([f"{d}/va.tif", f"{d}/vb.tif"], f"{d}/u.vrt", block=16)
    tiles, meta = _V.read_vrt(spark, f"{d}/u.vrt", block=16)
    assert (meta.width, meta.height) == (64, 32)
    return RM.nonzero_pixels(tiles, meta)


ORACLE_VRT = """
WITH g AS (SELECT px, py
           FROM (SELECT unnest(generate_series(0, 63)) AS px),
                (SELECT unnest(generate_series(0, 31)) AS py)),
v AS (SELECT px, py,
             CASE WHEN px >= 32 THEN ((px - 32) * 3 + py * 5) % 40 + 1
                  ELSE (px * 7 + py * 13) % 50 + 1 END AS c
      FROM g)
SELECT px, py, CAST(c AS DOUBLE) AS val FROM v WHERE c != 0
"""

QUERIES["vrt_compose"] = (q_vrt_compose, ORACLE_VRT)


def q_ogr2ogr_clipdst(spark, sf_dir):
    """-clipdst geometry clipping through the app pipeline: fixture
    squares cut to a rect window, clipped areas value-checked."""
    from gdal_spark import apps as APP
    from gdal_spark.functions import geometry as _G

    out = APP.ogr2ogr(spark, PG.poly_fixture(spark),
                      clipdst=(5.0, 2.0, 25.0, 8.0))

    def area(batches):
        import pandas as _pd
        for pdf in batches:
            yield _pd.DataFrame({
                "fid": pdf["fid"],
                "clip_area": [_G.polygon_area(bytes(w))
                              for w in pdf["geometry"]]})

    return out.mapInPandas(area, "fid long, clip_area double").orderBy("fid")


ORACLE_CLIPDST = """
WITH t(fid, clip_area) AS (VALUES (0, 30.0), (1, 30.0))
SELECT fid, CAST(clip_area AS DOUBLE) AS clip_area FROM t ORDER BY fid
"""

QUERIES["ogr2ogr_clipdst"] = (q_ogr2ogr_clipdst, ORACLE_CLIPDST)


def q_ogr2ogr_clipsrc(spark, sf_dir):
    """-clipsrc with an arbitrary (non-rectilinear) polygon: the fixture
    layer cut by a triangle through the Martinez–Rueda boolean kernel in
    the app's per-feature pipeline; empty results drop the feature
    (ogr2ogr.cpp:3885-3893)."""
    from gdal_spark import apps as APP
    from gdal_spark.functions import geometry as _G

    out = APP.ogr2ogr(spark, PG.poly_fixture(spark),
                      clipsrc="POLYGON((0 0,120 0,0 12,0 0))")

    def area(batches):
        import pandas as _pd
        for pdf in batches:
            yield _pd.DataFrame({
                "fid": pdf["fid"],
                "clip_area": [round(_G.polygon_area(bytes(w)), 4)
                              for w in pdf["geometry"]]})

    return out.mapInPandas(area, "fid long, clip_area double").orderBy("fid")


ORACLE_CLIPSRC = """
WITH t(fid, clip_area) AS (VALUES
  (0, 100.0), (1, 95.0), (2, 75.0), (3, 38.55), (4, 35.0), (5, 15.0))
SELECT fid, CAST(clip_area AS DOUBLE) AS clip_area FROM t ORDER BY fid
"""

QUERIES["ogr2ogr_clipsrc"] = (q_ogr2ogr_clipsrc, ORACLE_CLIPSRC)


def q_image_decode(spark, sf_dir):
    """REAL image decode on the driver gate: every doc synthesizes a
    deterministic 17x24 gray PNG (pixel = (doc_id*7 + y*13 + x) % 251),
    the pure-numpy PNG codec (raster/imagecodec.py) decodes it back, and
    byte_features over the decoded pixel grid proves bit-exactness
    against the closed-form oracle. Composes the two public operators a
    multimodal pipeline chains: decode_image -> byte_features."""
    import numpy as _np
    import pandas as _pd

    from gdal_spark.operators import multimodal as MM
    from gdal_spark.raster import imagecodec as IC

    H, W = 17, 24
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(batches):
        y, x = _np.mgrid[0:H, 0:W]
        for pdf in batches:
            out = [(int(did),
                    IC.png_encode(((int(did) * 7 + y * 13 + x) % 251
                                   ).astype(_np.uint8)))
                   for did in pdf["doc_id"]]
            yield _pd.DataFrame(out, columns=["doc_id", "blob"])

    blobs = docs.mapInPandas(make, schema="doc_id long, blob binary")
    imgs = MM.decode_image(blobs)
    feats = MM.byte_features(imgs.select("doc_id", "pixels"), blob="pixels")
    return (imgs.select("doc_id", "h", "w")
            .join(feats.select("doc_id", "n_bytes",
                               F.col("byte_sum").alias("px_sum")),
                  on="doc_id"))


ORACLE_IMAGE_DECODE = """
WITH grid AS (SELECT y.y AS y, x.x AS x
              FROM generate_series(0, 16) y(y), generate_series(0, 23) x(x))
SELECT d.doc_id, CAST(17 AS INTEGER) AS h, CAST(24 AS INTEGER) AS w,
       CAST(408 AS BIGINT) AS n_bytes,
       CAST(sum((d.doc_id * 7 + g.y * 13 + g.x) % 251) AS BIGINT) AS px_sum
FROM documents d, grid g
GROUP BY d.doc_id
"""

QUERIES["image_decode"] = (q_image_decode, ORACLE_IMAGE_DECODE)


def q_audio_decode(spark, sf_dir):
    """REAL audio decode on the driver gate: every doc synthesizes a
    deterministic 400-sample 8 kHz PCM WAV (v_i = (doc_id*31 + i*17) %
    1999 - 999), the RIFF parser decodes it, and the integer-exact
    features (energy, zero crossings) match the closed-form oracle."""
    import numpy as _np
    import pandas as _pd

    from gdal_spark.operators import multimodal as MM
    from gdal_spark.raster import imagecodec as IC

    N, RATE = 400, 8000
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(batches):
        i = _np.arange(N, dtype=_np.int64)
        for pdf in batches:
            out = [(int(did),
                    IC.wav_encode(((int(did) * 31 + i * 17) % 1999 - 999
                                   ).astype(_np.int16), RATE))
                   for did in pdf["doc_id"]]
            yield _pd.DataFrame(out, columns=["doc_id", "blob"])

    blobs = docs.mapInPandas(make, schema="doc_id long, blob binary")
    return MM.audio_features(blobs)


ORACLE_AUDIO_DECODE = """
WITH s AS (SELECT d.doc_id, i.i AS i,
                  (d.doc_id * 31 + i.i * 17) % 1999 - 999 AS v
           FROM documents d, generate_series(0, 399) i(i)),
z AS (SELECT doc_id, v,
             CASE WHEN lag(v) OVER (PARTITION BY doc_id ORDER BY i)
                       IS NOT NULL
                   AND ((v >= 0) !=
                        (lag(v) OVER (PARTITION BY doc_id ORDER BY i) >= 0))
                  THEN 1 ELSE 0 END AS zc
      FROM s)
SELECT doc_id, CAST(8000 AS INTEGER) AS rate, CAST(1 AS INTEGER) AS channels,
       CAST(400 AS BIGINT) AS n_samples,
       CAST(0.05 AS DOUBLE) AS duration_s,
       CAST(sum(v * v) AS BIGINT) AS sq_sum,
       CAST(sum(zc) AS BIGINT) AS zero_crossings
FROM z GROUP BY doc_id
"""

QUERIES["audio_decode"] = (q_audio_decode, ORACLE_AUDIO_DECODE)


def q_video_decode(spark, sf_dir):
    """REAL video sampling on the driver gate: every doc synthesizes a
    3-frame animated GIF (frame f pixel = (doc_id*7 + y*13 + x + f*31)
    % 251, 11x16 gray), video_frames samples every 2nd frame, and the
    per-frame integer pixel sum is verified closed-form — GIF is
    lossless, so decode must be bit-exact."""
    import numpy as _np
    import pandas as _pd

    from gdal_spark.operators import multimodal as MM
    from gdal_spark.raster import imagecodec as IC

    H, W, NF = 11, 16, 3
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def make(batches):
        y, x = _np.mgrid[0:H, 0:W]
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                frames = [((int(did) * 7 + y * 13 + x + f * 31) % 251
                           ).astype(_np.uint8) for f in range(NF)]
                out.append((int(did), IC.gif_encode_frames(frames)))
            yield _pd.DataFrame(out, columns=["doc_id", "blob"])

    blobs = docs.mapInPandas(make, schema="doc_id long, blob binary")
    return _video_sums(MM.video_frames(blobs, every=2))


def _video_sums(frames):
    """(doc_id, frame_no, h, w, px_sum) with the sum computed in the same
    Arrow pass (no base64 detour)."""
    import numpy as _np
    import pandas as _pd

    def agg(batches):
        for pdf in batches:
            rows = [(int(r.doc_id), int(r.frame_no), int(r.h), int(r.w),
                     int(_np.frombuffer(bytes(r.pixels), _np.uint8)
                         .sum(dtype=_np.int64)))
                    for r in pdf.itertuples(index=False)]
            yield _pd.DataFrame(rows, columns=["doc_id", "frame_no", "h",
                                               "w", "px_sum"])

    return frames.mapInPandas(
        agg, schema="doc_id long, frame_no int, h int, w int, px_sum long")


ORACLE_VIDEO_DECODE = """
WITH grid AS (SELECT y.y AS y, x.x AS x
              FROM generate_series(0, 10) y(y), generate_series(0, 15) x(x)),
fr AS (SELECT 0 AS frame_no UNION ALL SELECT 2)
SELECT d.doc_id, CAST(f.frame_no AS INTEGER) AS frame_no,
       CAST(11 AS INTEGER) AS h, CAST(16 AS INTEGER) AS w,
       CAST(sum((d.doc_id * 7 + g.y * 13 + g.x + f.frame_no * 31) % 251)
            AS BIGINT) AS px_sum
FROM documents d, fr f, grid g
GROUP BY d.doc_id, f.frame_no
"""

QUERIES["video_decode"] = (q_video_decode, ORACLE_VIDEO_DECODE)


# ---------------------------------------------------------------------------
# H3-style hex cell index (functions/h3.py — the hexagonal half of the
# north rule's "H3/S2 index").

def q_h3_cells(spark, sf_dir):
    """Aperture-7 hex cell id at res 9 + res-5 ancestor per doc point,
    one vectorized Arrow pass, no shuffle. The res-5 ancestor is pure
    integer column math over the same id (S2-style prefix rollup).
    DuckDB twin replays the icosahedral gnomonic projection + cube
    rounding + the 9-step aperture-7 digit walk as a recursive CTE."""
    from gdal_spark.functions import h3 as H3
    pts = doc_points(spark, sf_dir)
    return (H3.with_h3_columns(pts, res=9, parent_res=5)
            .select("doc_id", "h3_id", "h3_id_r5"))


def _h3_oracle() -> str:
    from gdal_spark.functions import h3 as H3

    def rnd(v: str) -> str:
        return (f"(CASE WHEN ({v}) >= 0 THEN floor(({v}) + 0.5) "
                f"ELSE -floor(0.5 - ({v})) END)")

    rows = ",\n       ".join(
        f"({f}, {H3.FACE_XYZ[f,0]!r}, {H3.FACE_XYZ[f,1]!r}, "
        f"{H3.FACE_XYZ[f,2]!r}, {H3.FACE_LAT[f]!r}, {H3.FACE_LON[f]!r}, "
        f"{H3.FACE_AZ0[f]!r})"
        for f in range(20))
    res = 9
    digit = """CASE WHEN d_i = 0 AND d_j = 0 THEN 0
                 WHEN d_i = -1 AND d_j = -1 THEN 1
                 WHEN d_i = 0 AND d_j = 1 THEN 2
                 WHEN d_i = -1 AND d_j = 0 THEN 3
                 WHEN d_i = 1 AND d_j = 0 THEN 4
                 WHEN d_i = 0 AND d_j = -1 THEN 5
                 WHEN d_i = 1 AND d_j = 1 THEN 6 END"""
    return f"""
WITH RECURSIVE pts AS ({POINTS_SQL}),
rad AS (SELECT doc_id, radians(lon) AS lam, radians(lat) AS phi FROM pts),
xyz AS (SELECT doc_id, lam, phi,
               cos(phi) * cos(lam) AS x, cos(phi) * sin(lam) AS y,
               sin(phi) AS z
        FROM rad),
faces(face, fx, fy, fz, flat, flon, az0) AS (VALUES
       {rows}),
scored AS (SELECT doc_id, lam, phi, face, flat, flon, az0,
                  x * fx + y * fy + z * fz AS dot,
                  row_number() OVER (
                      PARTITION BY doc_id
                      ORDER BY x * fx + y * fy + z * fz DESC, face) AS rn
           FROM xyz CROSS JOIN faces),
hex AS (SELECT doc_id, face,
               tan(acos(least(greatest(dot, -1.0), 1.0)))
                 / {H3.RES0_U_GNOMONIC!r} * {H3._pow7(res)!r} AS rg,
               (az0 - atan2(cos(phi) * sin(lam - flon),
                            cos(flat) * sin(phi)
                            - sin(flat) * cos(phi) * cos(lam - flon)))
                 - {H3.AP7_ROT!r} AS theta
        FROM scored WHERE rn = 1),
axf AS (SELECT doc_id, face,
               rg * cos(theta) + 0.5 * (rg * sin(theta) / {H3.SQRT3_2!r})
                 AS fi,
               rg * sin(theta) / {H3.SQRT3_2!r} AS fj
        FROM hex),
cr AS (SELECT doc_id, face, fi, fj, -fi - fj AS fc,
              {rnd('fi')} AS ri, {rnd('fj')} AS rj,
              {rnd('-fi - fj')} AS rc
       FROM axf),
fixed AS (SELECT doc_id, face,
       CAST(CASE WHEN abs(ri - fi) > abs(rj - fj)
                      AND abs(ri - fi) > abs(rc - fc)
                 THEN -rj - rc ELSE ri END AS BIGINT) AS ci,
       CAST(CASE WHEN NOT (abs(ri - fi) > abs(rj - fj)
                           AND abs(ri - fi) > abs(rc - fc))
                      AND abs(rj - fj) > abs(rc - fc)
                 THEN -ri - rc ELSE rj END AS BIGINT) AS cj
   FROM cr),
walk AS (
  SELECT doc_id, face, ci, cj, {res} AS k, CAST(0 AS BIGINT) AS acc
  FROM fixed
  UNION ALL
  SELECT doc_id, face, pi, pj, k - 1,
         acc + (CAST({digit} AS BIGINT) << (3 * (15 - k)))
  FROM (
    SELECT doc_id, face, k, acc, pi, pj,
           ci - (CASE WHEN k % 2 = 1 THEN pi * 2 + pj
                      ELSE pi * 3 - pj END) AS d_i,
           cj - (CASE WHEN k % 2 = 1 THEN -pi + pj * 3
                      ELSE pi + pj * 2 END) AS d_j
    FROM (
      SELECT doc_id, face, k, acc, ci, cj,
             CAST(CASE WHEN k % 2 = 1
                  THEN {rnd('(3.0 * ci - cj) / 7.0')}
                  ELSE {rnd('(2.0 * ci + cj) / 7.0')} END AS BIGINT) AS pi,
             CAST(CASE WHEN k % 2 = 1
                  THEN {rnd('(ci + 2.0 * cj) / 7.0')}
                  ELSE {rnd('(3.0 * cj - ci) / 7.0')} END AS BIGINT) AS pj
      FROM walk WHERE k >= 1) a) b
),
ids AS (SELECT doc_id,
               (CAST({res} AS BIGINT) << 58)
               | (CAST(face AS BIGINT) << 53)
               | ((ci + 8) << 49) | ((cj + 8) << 45)
               | acc | {(1 << (3 * (15 - res))) - 1} AS h3_id
        FROM walk WHERE k = 0)
SELECT doc_id, h3_id,
       (h3_id - (CAST(4 AS BIGINT) << 58))
       | ((CAST(1 AS BIGINT) << 30) - 1) AS h3_id_r5
FROM ids
"""


QUERIES["h3_cells"] = (q_h3_cells, _h3_oracle())


# ---------------------------------------------------------------------------
# dedup clustering: candidate pairs -> connected components -> cluster label
# ---------------------------------------------------------------------------

def q_dedup_cluster(spark, sf_dir):
    """Near-dup clustering, the stage after pair generation: LSH candidate
    pairs verified by exact n-gram Jaccard (>= 0.1) become an edge list;
    alternating large-star / small-star connected components
    (operators/graph.py, Kiveris et al. SoCC'14) labels every document
    with its cluster's minimum doc_id.  Non-edge documents come back as
    their own singleton cluster, so the output is one row per document.

    Scale shape: each CC round is two narrow shuffles over a monotonically
    shrinking edge list, O(log n) rounds — no driver-side union-find, no
    collect of edges.  The oracle's recursive-CTE closure is O(n*m) and
    exists only for the small-SF gate."""
    from gdal_spark.operators.graph import connected_components
    docs = load(spark, sf_dir, "documents")
    sigs = DD.minhash_signatures(docs, n_hashes=8, shingle_n=3)
    pairs = DD.lsh_candidate_pairs(sigs, n_bands=4, rows_per_band=2).cache()
    pairs.count()
    jac = DD.ngram_jaccard_pairs(docs, pairs, shingle_n=3)
    edges = (jac.filter(F.col("jaccard") >= 0.1)
             .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))
    return connected_components(
        edges, vertices=docs.select(F.col("doc_id").alias("id")),
        id_col="id")


ORACLE_DEDUP_CLUSTER = f"""
WITH RECURSIVE
e AS (SELECT id_a AS u, id_b AS v FROM ({ORACLE_MINHASH}) p),
sym AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, s.v FROM reach r JOIN sym s ON s.u = r.dst
)
SELECT src AS id, min(dst) AS component FROM reach GROUP BY src
"""

QUERIES["dedup_cluster"] = (q_dedup_cluster, ORACLE_DEDUP_CLUSTER)


# ---------------------------------------------------------------------------
# SURF image matching (GDALComputeMatchingPoints, gdal/alg/gdalmatching.cpp)
# ---------------------------------------------------------------------------

def q_image_matching(spark, sf_dir):
    """SURF-style correlator (raster/matching.py — Fast-Hessian detection,
    64-d Haar descriptors, greedy ratio-test matching; semantics from
    gdal/alg/gdal_octave.cpp + gdal_simplesurf.cpp + gdalmatching.cpp).

    Fixture: 60 documents rows become distinctive additive blobs at
    doc_id-derived positions (pure column math, identical at every SF);
    image 2 is the same scene translated by (+7, +5) px.  The GCPs must
    be translation-equivariant: x = pixel + 7, y = line + 5 for every
    match.  SURF itself is not SQL-expressible, so the oracle pins the
    translation invariant exactly and the full matched-point set as a
    literal (the same autotest-golden style as the reference's alg
    tests); kernel-level parity vs a scalar transcription of the C++ is
    held in tests/test_matching.py."""
    from gdal_spark.raster import matching as MT

    blobs = (load(spark, sf_dir, "documents")
             .filter(F.col("doc_id") < 60)
             .select(
                 F.col("doc_id").alias("d"),
                 (48 + (F.col("doc_id") * 73) % 148).cast("int").alias("px"),
                 (48 + (F.col("doc_id") * 131) % 148).cast("int").alias("py"),
                 (5 + F.col("doc_id") % 7).cast("int").alias("side"),
                 (0.35 + 0.6 * ((F.col("doc_id") * 37) % 19) / 19.0).alias("val"),
             ))

    def build(pdf):
        import numpy as np
        import pandas as pd
        img1 = np.zeros((256, 256))
        img2 = np.zeros((256, 256))
        for r in pdf.itertuples(index=False):
            img1[r.py:r.py + r.side, r.px:r.px + r.side] += r.val
            img2[r.py + 5:r.py + 5 + r.side,
                 r.px + 7:r.px + 7 + r.side] += r.val
        return pd.DataFrame({
            "pair_id": [0], "w1": [256], "h1": [256],
            "img1": [img1.tobytes()],
            "w2": [256], "h2": [256], "img2": [img2.tobytes()]})

    pair_schema = ("pair_id long, w1 int, h1 int, img1 binary, "
                   "w2 int, h2 int, img2 binary")
    pairs = (blobs.withColumn("_p", F.lit(0)).groupBy("_p")
             .applyInPandas(lambda _k, pdf: build(pdf), schema=pair_schema))
    return (MT.matching_points(pairs)
            .select("gcp_id", "pixel", "line", "x", "y"))


ORACLE_IMAGE_MATCHING = """SELECT CAST(gcp_id AS INTEGER) AS gcp_id, CAST(pixel AS DOUBLE) AS pixel, CAST(line AS DOUBLE) AS line, CAST(pixel + 7.0 AS DOUBLE) AS x, CAST(line + 5.0 AS DOUBLE) AS y FROM (VALUES (0, 161.5, 58.5), (1, 93.5, 62.5), (2, 157.5, 65.5), (3, 179.5, 68.5), (4, 92.5, 70.5), (5, 86.5, 71.5), (6, 88.5, 71.5), (7, 64.5, 72.5), (8, 193.5, 74.5), (9, 167.5, 81.5), (10, 84.5, 82.5), (11, 167.5, 83.5), (12, 79.5, 84.5), (13, 104.5, 84.5), (14, 106.5, 84.5), (15, 163.5, 87.5), (16, 186.5, 87.5), (17, 98.5, 94.5), (18, 72.5, 97.5), (19, 85.5, 99.5), (20, 159.5, 99.5), (21, 209.5, 99.5), (22, 181.5, 100.5), (23, 153.5, 101.5), (24, 196.5, 102.5), (25, 112.5, 103.5), (26, 129.5, 106.5), (27, 86.5, 110.5), (28, 151.5, 111.5), (29, 173.5, 111.5), (30, 135.5, 113.5), (31, 147.5, 113.5), (32, 195.5, 113.5), (33, 112.5, 114.5), (34, 83.5, 116.5), (35, 85.5, 116.5), (36, 107.5, 116.5), (37, 79.5, 118.5), (38, 188.5, 121.5), (39, 104.5, 126.5), (40, 165.5, 126.5), (41, 78.5, 127.5), (42, 152.5, 128.5), (43, 74.5, 129.5), (44, 99.5, 129.5), (45, 127.5, 129.5), (46, 115.5, 131.5), (47, 187.5, 131.5), (48, 181.5, 132.5), (49, 183.5, 132.5), (50, 209.5, 132.5), (51, 128.5, 136.5), (52, 153.5, 139.5), (53, 131.5, 140.5), (54, 90.5, 142.5), (55, 114.5, 142.5), (56, 179.5, 143.5), (57, 114.5, 144.5), (58, 152.5, 145.5), (59, 174.5, 145.5), (60, 110.5, 148.5), (61, 198.5, 153.5), (62, 84.5, 155.5), (63, 71.5, 157.5), (64, 167.5, 158.5), (65, 180.5, 160.5), (66, 102.5, 161.5), (67, 72.5, 168.5), (68, 72.5, 170.5), (69, 124.5, 170.5), (70, 157.5, 171.5), (71, 159.5, 171.5), (72, 181.5, 171.5), (73, 98.5, 172.5), (74, 93.5, 174.5), (75, 116.5, 174.5), (76, 132.5, 174.5), (77, 146.5, 174.5), (78, 132.5, 176.5), (79, 177.5, 177.5), (80, 112.5, 184.5), (81, 86.5, 187.5), (82, 99.5, 189.5), (83, 167.5, 190.5), (84, 126.5, 193.5), (85, 104.5, 200.5), (86, 162.5, 49.5), (87, 158.5, 51.5), (88, 95.5, 54.5), (89, 93.5, 56.5), (90, 168.5, 59.5), (91, 168.5, 62.5), (92, 173.5, 62.5), (93, 64.5, 68.5), (94, 147.5, 72.5), (95, 82.5, 78.5), (96, 84.5, 78.5), (97, 103.5, 79.5), (98, 190.5, 81.5), (99, 195.5, 81.5), (100, 100.5, 88.5), (101, 102.5, 88.5), (102, 108.5, 88.5), (103, 157.5, 95.5), (104, 159.5, 95.5), (105, 125.5, 98.5), (106, 129.5, 98.5), (107, 68.5, 101.5), (108, 175.5, 104.5), (109, 177.5, 104.5), (110, 96.5, 107.5), (111, 139.5, 117.5), (112, 101.5, 120.5), (113, 104.5, 120.5), (114, 154.5, 120.5), (115, 159.5, 120.5), (116, 154.5, 122.5), (117, 115.5, 123.5), (118, 120.5, 123.5), (119, 79.5, 133.5), (120, 132.5, 133.5), (121, 68.5, 136.5), (122, 79.5, 137.5), (123, 87.5, 137.5), (124, 89.5, 137.5), (125, 177.5, 138.5), (126, 179.5, 139.5), (127, 198.5, 140.5), (128, 72.5, 147.5), (129, 73.5, 149.5), (130, 78.5, 149.5), (131, 168.5, 149.5), (132, 195.5, 149.5), (133, 200.5, 149.5), (134, 203.5, 149.5), (135, 142.5, 152.5), (136, 140.5, 153.5), (137, 123.5, 157.5), (138, 147.5, 163.5), (139, 133.5, 165.5), (140, 148.5, 166.5), (141, 152.5, 166.5), (142, 156.5, 166.5), (143, 96.5, 168.5), (144, 98.5, 168.5), (145, 67.5, 172.5), (146, 114.5, 178.5), (147, 75.5, 183.5), (148, 78.5, 183.5), (149, 184.5, 186.5), (150, 188.5, 186.5), (151, 139.5, 188.5), (152, 184.5, 188.5), (153, 155.5, 200.5), (154, 119.5, 203.5)) AS t(gcp_id, pixel, line)"""

QUERIES["image_matching"] = (q_image_matching, ORACLE_IMAGE_MATCHING)


# ---------------------------------------------------------------------------
# linear referencing (ogrlineref, gdal/apps/ogrlineref.cpp)
# ---------------------------------------------------------------------------

def _lineref_lines(spark, sf_dir):
    """Five deterministic polylines built from documents rows: group
    g = doc_id % 5, vertices at doc_id-derived coordinates in doc_id
    order (pure column math — identical at every SF)."""
    import pandas as pd

    from gdal_spark.functions.geometry import encode_linestring

    verts = (load(spark, sf_dir, "documents")
             .filter(F.col("doc_id") < 40)
             .select((F.col("doc_id") % 5).cast("int").alias("g"),
                     F.col("doc_id").alias("ord"),
                     ((F.col("doc_id") * 73) % 148).cast("double").alias("x"),
                     ((F.col("doc_id") * 131) % 148).cast("double").alias("y")))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ord")
        import numpy as np
        coords = np.column_stack([pdf["x"].to_numpy(), pdf["y"].to_numpy()])
        return pd.DataFrame({"g": [int(pdf["g"].iloc[0])],
                             "wkb": [encode_linestring(coords)]})

    return verts.groupBy("g").applyInPandas(
        lambda _k, pdf: build(pdf), schema="g int, wkb binary")


_LINEREF_VERTS_SQL = """
verts AS (SELECT CAST(doc_id % 5 AS INTEGER) AS g,
                 row_number() OVER (PARTITION BY doc_id % 5 ORDER BY doc_id) AS seq,
                 CAST((doc_id * 73) % 148 AS DOUBLE) AS x,
                 CAST((doc_id * 131) % 148 AS DOUBLE) AS y
          FROM documents WHERE doc_id < 40),
segs AS (SELECT a.g, a.seq, a.x AS x1, a.y AS y1, b.x - a.x AS dx,
                b.y - a.y AS dy,
                sqrt((b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y)) AS sl
         FROM verts a JOIN verts b ON b.g = a.g AND b.seq = a.seq + 1),
cums AS (SELECT *,
                coalesce(sum(sl) OVER (PARTITION BY g ORDER BY seq
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         FROM segs),
lens AS (SELECT g, sum(sl) AS total FROM segs GROUP BY g)
"""


def q_lineref_parts(spark, sf_dir):
    """ogrlineref -c create-parts (gdal/apps/ogrlineref.cpp:413-545) over
    the deterministic doc polylines: uniform mileposts of step 40 with
    begin/end measures, exact sub-line length, and the part midpoint
    interpolated at part_len/2 (the app's reper-point Value call,
    ogrlineref.cpp:679)."""
    from gdal_spark.operators import lineref as LRF

    lines = _lineref_lines(spark, sf_dir)
    parts = LRF.milepost_parts(lines, step=40.0, wkb="wkb")
    mids = LRF.with_point_at(
        parts.withColumn("m", F.col("part_len") / 2.0),
        wkb="part_wkb", measure="m", out_x="mid_x", out_y="mid_y")
    return mids.select(
        "g", "part_id", F.round("begin", 6).alias("begin"),
        F.round("end", 6).alias("end"),
        F.round("part_len", 6).alias("part_len"),
        F.round("mid_x", 6).alias("mid_x"),
        F.round("mid_y", 6).alias("mid_y"))


ORACLE_LINEREF_PARTS = f"""
WITH {_LINEREF_VERTS_SQL},
parts AS (SELECT l.g, CAST(k AS INTEGER) AS part_id,
                 CAST(k * 40.0 AS DOUBLE) AS begin_m,
                 CAST(least((k + 1) * 40.0, l.total) AS DOUBLE) AS end_m
          FROM lens l, (SELECT unnest(generate_series(0, 63)) AS k)
          WHERE k * 40.0 < l.total),
mid AS (SELECT g, part_id, begin_m, end_m,
               begin_m + (end_m - begin_m) / 2 AS m FROM parts),
interp AS (SELECT m.g, m.part_id, m.begin_m, m.end_m,
                  c.x1 + (m.m - c.cum) / c.sl * c.dx AS mx,
                  c.y1 + (m.m - c.cum) / c.sl * c.dy AS my,
                  row_number() OVER (PARTITION BY m.g, m.part_id
                                     ORDER BY c.seq) AS rn
           FROM mid m JOIN cums c
             ON c.g = m.g AND c.cum <= m.m AND c.cum + c.sl >= m.m)
SELECT g, part_id, round(begin_m, 6) AS begin, round(end_m, 6) AS "end",
       round(end_m - begin_m, 6) AS part_len,
       round(mx, 6) AS mid_x, round(my, 6) AS mid_y
FROM interp WHERE rn = 1
"""


def q_lineref_position(spark, sf_dir):
    """ogrlineref get-position mode: measure along the g-th polyline of
    each test point's nearest-point projection (OGRSimpleCurve::Project
    via gdal/apps/ogrlineref.cpp:547 — first minimal segment wins)."""
    from gdal_spark.operators import lineref as LRF

    pts = (load(spark, sf_dir, "documents")
           .filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 60))
           .select("doc_id", (F.col("doc_id") % 5).cast("int").alias("g"),
                   ((F.col("doc_id") * 53) % 160 + 0.5).cast("double").alias("x"),
                   ((F.col("doc_id") * 97) % 160 + 0.5).cast("double").alias("y")))
    lines = _lineref_lines(spark, sf_dir)
    joined = pts.join(F.broadcast(lines), on="g")
    return (LRF.with_measure(joined, wkb="wkb")
            .select("doc_id", "g", F.round("measure", 6).alias("measure")))


ORACLE_LINEREF_POSITION = f"""
WITH {_LINEREF_VERTS_SQL},
pts AS (SELECT doc_id, CAST(doc_id % 5 AS INTEGER) AS g,
               CAST((doc_id * 53) % 160 + 0.5 AS DOUBLE) AS px,
               CAST((doc_id * 97) % 160 + 0.5 AS DOUBLE) AS py
        FROM documents WHERE doc_id >= 40 AND doc_id < 60),
proj AS (SELECT p.doc_id, p.g, c.seq, c.cum, c.sl,
                greatest(0.0, least(1.0,
                  ((p.px - c.x1) * c.dx + (p.py - c.y1) * c.dy) / (c.sl * c.sl)
                )) AS t
         FROM pts p JOIN cums c ON c.g = p.g),
dist AS (SELECT doc_id, g, seq, cum + t * sl AS m,
                (SELECT px FROM pts WHERE pts.doc_id = proj.doc_id) AS px,
                t, sl, cum
         FROM proj),
scored AS (SELECT p.doc_id, p.g, p.seq, p.cum + p.t * p.sl AS m,
                  (q.px - (c.x1 + p.t * c.dx)) * (q.px - (c.x1 + p.t * c.dx))
                + (q.py - (c.y1 + p.t * c.dy)) * (q.py - (c.y1 + p.t * c.dy)) AS d2
           FROM proj p
           JOIN pts q ON q.doc_id = p.doc_id
           JOIN cums c ON c.g = p.g AND c.seq = p.seq)
SELECT doc_id, g, round(m, 6) AS measure
FROM (SELECT doc_id, g, m,
             row_number() OVER (PARTITION BY doc_id ORDER BY d2, seq) AS rn
      FROM scored)
WHERE rn = 1
"""

QUERIES["lineref_parts"] = (q_lineref_parts, ORACLE_LINEREF_PARTS)
QUERIES["lineref_position"] = (q_lineref_position, ORACLE_LINEREF_POSITION)


# ---------------------------------------------------------------------------
# histogram equalization (gdalenhance, gdal/apps/gdalenhance.cpp)
# ---------------------------------------------------------------------------

def q_enhance_equalize(spark, sf_dir):
    """gdalenhance -equalize over the burned doc raster: distributed
    256-bin histogram -> reference LUT math (cum + hist/2 halves,
    (cum*bins)//total clamp) -> per-tile LUT apply (raster/enhance.py).
    Output: pixel count per equalized value (eq > 0; LUT-zero pixels
    are indistinguishable from background in the sparse block model,
    mirrored by the oracle's WHERE)."""
    from gdal_spark.raster import enhance as EN

    tiles = _doc_tiles(spark, sf_dir)
    out = EN.enhance(tiles, DOC_META)
    return (RM.nonzero_pixels(out, DOC_META)
            .groupBy(F.col("val").cast("int").alias("val"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("val"))


ORACLE_ENHANCE_EQUALIZE = f"""
WITH pts AS ({POINTS_SQL}), {_PIX_SQL},
hist AS (SELECT burn AS v, count(*) AS cnt FROM pix GROUP BY burn),
cums AS (SELECT v, cnt,
                coalesce(sum(cnt) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + cnt // 2 AS c,
                sum(cnt) OVER () AS total
         FROM hist),
lut AS (SELECT v, cnt,
               greatest(0, least(255, (c * 256) // total)) AS eq
        FROM cums)
SELECT CAST(eq AS INTEGER) AS val, CAST(sum(cnt) AS BIGINT) AS n
FROM lut WHERE eq > 0 GROUP BY eq
"""

QUERIES["enhance_equalize"] = (q_enhance_equalize, ORACLE_ENHANCE_EQUALIZE)


# ---------------------------------------------------------------------------
# dissolve (ogrdissolve, gdal/apps/ogrdissolve.cpp)
# ---------------------------------------------------------------------------

def q_dissolve_layer(spark, sf_dir):
    """ogrdissolve: merge the admin-grid cells by attribute
    key = cell_id % 6.  Because the grid is 36 columns wide (36 ≡ 0 mod
    6), each key collects 6 full columns; the cascaded union dissolves
    every shared edge, so each key must come back as exactly 6 tall
    rectangles with the exact summed area — the oracle checks pieces,
    area and feature count per key."""
    grid = PG.admin_grid(spark, nx=36, ny=17, lat_min=-85.0, lat_max=85.0)
    feats = grid.select((F.col("cell_id") % 6).cast("int").alias("key"), "wkb")
    out = LA.layer_dissolve(feats, key="key", feat_wkb="wkb")
    return out.select("key", F.round("union_area", 6).alias("union_area"),
                      "n_pieces", "n_features")


ORACLE_DISSOLVE_LAYER = """
WITH cells AS (
  SELECT (j * 36 + i) % 6 AS key, i, j
  FROM (SELECT unnest(generate_series(0, 35)) AS i),
       (SELECT unnest(generate_series(0, 16)) AS j))
SELECT CAST(key AS INTEGER) AS key,
       CAST(round(count(*) * 10.0 * 10.0, 6) AS DOUBLE) AS union_area,
       CAST(count(DISTINCT i) AS INTEGER) AS n_pieces,
       count(*) AS n_features
FROM cells GROUP BY key
"""

QUERIES["dissolve_layer"] = (q_dissolve_layer, ORACLE_DISSOLVE_LAYER)


# ---------------------------------------------------------------------------
# gdal2xyz export (gdal/swig/python/scripts/gdal2xyz.py)
# ---------------------------------------------------------------------------

def q_xyz_export(spark, sf_dir):
    """gdal2xyz over the burned doc raster with skip=2: pixel-center
    geocoordinates per sampled burned pixel (apps.gdal2xyz)."""
    from gdal_spark import apps as APP

    out = APP.gdal2xyz(_doc_tiles(spark, sf_dir), DOC_META, skip=2)
    return out.select(F.round("geo_x", 6).alias("geo_x"),
                      F.round("geo_y", 6).alias("geo_y"), "val")


ORACLE_XYZ_EXPORT = f"""
WITH pts AS ({POINTS_SQL}), {_PIX_SQL}
SELECT CAST(round(-180.0 + (px + 0.5) * 0.5, 6) AS DOUBLE) AS geo_x,
       CAST(round(85.0 - (py + 0.5) * 0.5, 6) AS DOUBLE) AS geo_y,
       CAST(burn AS DOUBLE) AS val
FROM pix WHERE px % 2 = 0 AND py % 2 = 0
"""

QUERIES["xyz_export"] = (q_xyz_export, ORACLE_XYZ_EXPORT)


# ---------------------------------------------------------------------------
# rasterize MERGE_ALG=ADD and ALL_TOUCHED (gdal/alg/gdalrasterize.cpp)
# ---------------------------------------------------------------------------

def q_rasterize_add(spark, sf_dir):
    """gdal_rasterize MERGE_ALG=ADD point burn (gvBurnPoint +=,
    gdalrasterize.cpp:141): per-pixel accumulated burn with Byte
    wraparound, summarized per 256-pixel block."""
    pts = doc_points(spark, sf_dir).withColumn(
        "burn", (F.col("doc_id") % 199 + 1).cast("double"))
    px = RZ.rasterize_points(pts, DOC_META, burn="burn", merge_alg="add")
    return (px.groupBy((F.floor(F.col("px") / 256)).cast("int").alias("bx"),
                       (F.floor(F.col("py") / 256)).cast("int").alias("by"))
            .agg(F.count(F.lit(1)).alias("n_burned"),
                 F.sum("burn_val").cast("double").alias("sum_burn")))


ORACLE_RASTERIZE_ADD = f"""
WITH pts AS ({POINTS_SQL}),
pxr AS (SELECT doc_id, CAST(floor((lon + 180.0) / 0.5) AS BIGINT) AS px,
               CAST(floor((lat - 85.0) / (-0.5)) AS BIGINT) AS py
        FROM pts),
pix AS (SELECT px, py, CAST(sum((doc_id % 199) + 1) % 256 AS DOUBLE) AS burn
        FROM pxr WHERE px >= 0 AND px < 720 AND py >= 0 AND py < 340
        GROUP BY px, py)
SELECT CAST(px // 256 AS INTEGER) AS bx, CAST(py // 256 AS INTEGER) AS by,
       count(*) AS n_burned, CAST(sum(burn) AS DOUBLE) AS sum_burn
FROM pix GROUP BY 1, 2
"""


def q_rasterize_alltouched(spark, sf_dir):
    """gdal_rasterize -at (GDALdllImageLineAllTouched over each ring,
    gdalrasterize.cpp:392-441): fractional-edge rectangles where the
    all-touched footprint is strictly wider than the scanline-center
    fill.  20 rects at doc_id-derived grid slots (x edges at +0.6/+9.2,
    so centers give cols 1..8 but touched gives 0..9); output per burn
    value: pixel count and coordinate sums."""
    meta = RM.RasterMeta("at", 64, 64, gt=(0.0, 1.0, 0.0, 64.0, 0.0, -1.0),
                         dtype="uint16", block=32)
    d = F.col("doc_id")
    rects = (load(spark, sf_dir, "documents")
             .filter(d < 20)
             .select(d.alias("geom_id"),
                     (12.0 * (d % 5) + 0.6).alias("x0"),
                     (12.0 * (d % 5) + 9.2).alias("x1"),
                     (64.0 - (12.0 * (d / 5).cast("int") + 9.2)).alias("y0"),
                     (64.0 - (12.0 * (d / 5).cast("int") + 0.6)).alias("y1"),
                     (d + 1).cast("double").alias("burn")))

    def mk(pdf):
        import pandas as pd

        from gdal_spark.functions.geometry import encode_polygon
        rows = []
        for r in pdf.itertuples(index=False):
            ring = np.array([[r.x0, r.y0], [r.x1, r.y0], [r.x1, r.y1],
                             [r.x0, r.y1], [r.x0, r.y0]])
            rows.append((r.geom_id, bytearray(encode_polygon([ring])), r.burn))
        return pd.DataFrame(rows, columns=["geom_id", "wkb", "burn"])

    geoms = rects.mapInPandas(lambda it: (mk(p) for p in it),
                              schema="geom_id long, wkb binary, burn double")
    tiles = RZ.rasterize(geoms, meta, all_touched=True)
    return (RM.nonzero_pixels(tiles, meta)
            .groupBy(F.col("val").cast("int").alias("burn"))
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("px").alias("sum_px"), F.sum("py").alias("sum_py")))


ORACLE_RASTERIZE_ALLTOUCHED = """
WITH rects AS (
  SELECT doc_id, 12 * (doc_id % 5) AS cx, 12 * (doc_id // 5) AS cy
  FROM documents WHERE doc_id < 20),
px AS (SELECT doc_id, cx + i AS px, cy + j AS py
       FROM rects,
            (SELECT unnest(generate_series(0, 9)) AS i),
            (SELECT unnest(generate_series(0, 9)) AS j))
SELECT CAST(doc_id + 1 AS INTEGER) AS burn, count(*) AS n_px,
       sum(px) AS sum_px, sum(py) AS sum_py
FROM px GROUP BY doc_id
"""

QUERIES["rasterize_add"] = (q_rasterize_add, ORACLE_RASTERIZE_ADD)
QUERIES["rasterize_alltouched"] = (q_rasterize_alltouched,
                                   ORACLE_RASTERIZE_ALLTOUCHED)

QUERIES["gdal_merge"] = (q_gdal_merge, ORACLE_GDAL_MERGE)


# ---------------------------------------------------------------------------
# ISO curve geometries (round 4): CircularString / CurvePolygon codec,
# GDAL-exact arc stroking + arc measures (functions/curves.py)
# ---------------------------------------------------------------------------

def q_curve_area(spark, sf_dir):
    """Curve-geometry gate: per nation row build a full-circle
    CURVEPOLYGON (CIRCULARSTRING) in WKT, round-trip it through the
    dimension-aware codec, then compute (a) exact area via the
    IsFullCircle πR² branch (ogrcircularstring.cpp:668), (b) exact arc
    length R·|Δα| (:171), (c) the stroked vertex count under the
    curveToLineString stealth-step rule (ogrgeometryfactory.cpp:3331 —
    nSteps = round(|Δα|/step) lifted to 7-plus-even), and (d) the
    shoelace area of the stroked ring. The oracle reproduces all four in
    closed form (regular-polygon area 0.5·n·R²·sin(2π/n))."""
    nat = load(spark, sf_dir, "nation").select("n_nationkey")

    schema = ("n_nationkey bigint, r int, step_deg int, area_exact double, "
              "len_exact double, npts int, area_stroked double")

    def compute(batches):
        import pandas as pd
        from gdal_spark.functions import curves as C
        from gdal_spark.functions import geometry as G

        for pdf in batches:
            rows = []
            for k in pdf["n_nationkey"].astype("int64"):
                k = int(k)
                r = k % 7 + 1
                step = 3 + k % 13
                cx, cy = float(k * 10), float(k % 5 * 7)
                wkt = (f"CURVEPOLYGON (CIRCULARSTRING ({cx - r} {cy},"
                       f"{cx + r} {cy},{cx - r} {cy}))")
                g = C.decode_geom(C.encode_geom(C.geom_from_wkt(wkt)))
                ring = C.geom_to_linear(g, float(step)).parts[0]
                rows.append((k, r, step,
                             round(C.curve_area(g), 6),
                             round(C.curve_length(g.parts[0]), 6),
                             len(ring),
                             round(G.ring_area(ring), 6)))
            yield pd.DataFrame(rows, columns=[
                "n_nationkey", "r", "step_deg", "area_exact", "len_exact",
                "npts", "area_stroked"])

    return nat.mapInPandas(compute, schema)


ORACLE_CURVE_AREA = """
WITH base AS (
  SELECT n_nationkey, CAST(n_nationkey % 7 + 1 AS INTEGER) AS r,
         CAST(3 + n_nationkey % 13 AS INTEGER) AS step_deg
  FROM nation),
m AS (
  SELECT *, CASE WHEN n0 < 7 THEN 7
                 ELSE 7 + 2 * CAST(floor((n0 - 6) / 2.0) AS INTEGER)
            END AS nsteps
  FROM (SELECT *, CAST(floor(360.0 / step_deg + 0.5) AS INTEGER) AS n0
        FROM base))
SELECT n_nationkey, r, step_deg,
       ROUND(pi() * r * r, 6) AS area_exact,
       ROUND(2 * pi() * r, 6) AS len_exact,
       CAST(nsteps + 1 AS INTEGER) AS npts,
       ROUND(0.5 * nsteps * r * r * sin(2 * pi() / nsteps), 6)
           AS area_stroked
FROM m
"""

QUERIES["curve_area"] = (q_curve_area, ORACLE_CURVE_AREA)


# ---------------------------------------------------------------------------
# Hotine Oblique Mercator gate (round 4): EPSG registry-driven CRS
# (functions/epsg.py) + vectorized HOM forward (functions/projections.py)
# ---------------------------------------------------------------------------

OMERC_BORNEO = SRS.crs_from_epsg(3376)   # GDM2000 / East Malaysia BRSO

_BORNEO_LON = "(110.0 + ((doc_id * 9973) % 9000000) / CAST(1000000 AS DOUBLE))"
_BORNEO_LAT = "(0.5 + ((doc_id * 7919) % 6500000) / CAST(1000000 AS DOUBLE))"


def q_proj_omerc_cells(spark, sf_dir):
    """Borneo RSO (EPSG 3376, Hotine Oblique Mercator variant A via the
    bundled EPSG registry) 100 km binning of Borneo-window points —
    the oblique-grid twin of the LCC/PS/LAEA cell gates. Exercises the
    skew-rectified (u,v)→(E,N) rotation end-to-end."""
    px, py = SRS.sql_omerc_forward(OMERC_BORNEO, "lon", "lat")
    return (load(spark, sf_dir, "documents")
            .selectExpr("doc_id", f"{_BORNEO_LON} AS lon",
                        f"{_BORNEO_LAT} AS lat")
            .selectExpr("doc_id",
                        f"CAST(floor({px} / 100000.0) AS BIGINT) AS cx",
                        f"CAST(floor({py} / 100000.0) AS BIGINT) AS cy")
            .groupBy("cx", "cy")
            .agg(F.count("*").alias("n"), F.min("doc_id").alias("min_doc")))


def _indep_omerc_consts() -> dict:
    """Hotine Oblique Mercator (variant A) constants for EPSG 3376,
    derived INDEPENDENTLY of functions/srs.py: raw parameter values are
    re-read from the bundled EPSG CSV with a local parser (including
    the 9110 sexagesimal-DMS decode), and the projection constants
    follow EPSG Guidance Note 7-2 §1.3.6 re-derived from scratch. The
    Spark side uses crs_from_epsg + sql_omerc_forward — the two share
    only the published formulas and the EPSG data file, so a bug in
    either parameter plumbing or SQL generation breaks the gate."""
    import csv
    import gzip
    import os

    d = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "data", "epsg")
    with gzip.open(os.path.join(d, "pcs.csv.gz"), "rt") as f:
        row = next(r for r in csv.DictReader(f)
                   if r["COORD_REF_SYS_CODE"] == "3376")
    assert row["COORD_OP_METHOD_CODE"] == "9812"
    prm = {}
    for i in range(1, 8):
        code = row.get(f"PARAMETER_CODE_{i}")
        if not code:
            continue
        v = float(row[f"PARAMETER_VALUE_{i}"])
        if row[f"PARAMETER_UOM_{i}"] == "9110":   # DDD.MMSSsss
            sign = -1.0 if v < 0 else 1.0
            v = abs(v)
            deg = math.floor(v)
            mins = math.floor((v - deg) * 100.0 + 1e-9)
            secs = (v - deg - mins / 100.0) * 10000.0
            v = sign * (deg + mins / 60.0 + secs / 3600.0)
        prm[code] = v
    # GDM2000 -> GRS80 (geog CRS 4742)
    a, invf = 6378137.0, 298.257222101
    fl = 1.0 / invf
    e2 = fl * (2.0 - fl)
    e = math.sqrt(e2)
    latc = math.radians(prm["8811"])
    lonc = math.radians(prm["8812"])
    alphac = math.radians(prm["8813"])
    gammac = math.radians(prm["8814"])
    k0 = prm["8815"]
    B = math.sqrt(1.0 + e2 * math.cos(latc) ** 4 / (1.0 - e2))
    A = a * B * k0 * math.sqrt(1.0 - e2) / (1.0 - e2 * math.sin(latc) ** 2)
    t0 = math.tan(math.pi / 4.0 - latc / 2.0) / (
        (1.0 - e * math.sin(latc)) / (1.0 + e * math.sin(latc))) ** (e / 2.0)
    D = B * math.sqrt(1.0 - e2) / (
        math.cos(latc) * math.sqrt(1.0 - e2 * math.sin(latc) ** 2))
    D2 = max(D * D, 1.0)
    Fc = D + math.sqrt(D2 - 1.0) * (1.0 if latc >= 0 else -1.0)
    H = Fc * t0 ** B
    G = (Fc - 1.0 / Fc) / 2.0
    gamma0 = math.asin(math.sin(alphac) / D)
    lam0 = lonc - math.asin(G * math.tan(gamma0)) / B
    return {"e": e, "A": A, "B": B, "H": H, "gamma0": gamma0,
            "lam0": lam0, "gammac": gammac,
            "fe": prm["8806"], "fn": prm["8807"]}


def _indep_omerc_sql(lon: str, lat: str) -> tuple[str, str]:
    """Hand-written GN7-2 variant-A forward SQL over the independent
    constants (NOT srs.sql_omerc_forward)."""
    c = _indep_omerc_consts()
    phi = f"radians({lat})"
    s = f"sin({phi})"
    t = (f"(tan(pi()/4.0 - {phi}/2.0) / "
         f"pow((1.0 - {c['e']!r}*{s}) / (1.0 + {c['e']!r}*{s}), "
         f"{c['e'] / 2.0!r}))")
    Q = f"({c['H']!r} / pow({t}, {c['B']!r}))"
    S = f"(({Q} - 1.0/{Q}) / 2.0)"
    T = f"(({Q} + 1.0/{Q}) / 2.0)"
    dl = f"(radians({lon}) - {c['lam0']!r})"
    V = f"sin({c['B']!r} * {dl})"
    cg0, sg0 = repr(math.cos(c["gamma0"])), repr(math.sin(c["gamma0"]))
    U = f"((-{V}*{cg0} + {S}*{sg0}) / {T})"
    v = f"({c['A']!r} * ln((1.0 - {U}) / (1.0 + {U})) / {2.0 * c['B']!r})"
    u = (f"({c['A']!r} * atan2({S}*{cg0} + {V}*{sg0}, "
         f"cos({c['B']!r} * {dl})) / {c['B']!r})")
    cg, sg = repr(math.cos(c["gammac"])), repr(math.sin(c["gammac"]))
    x = f"({c['fe']!r} + {v}*{cg} + {u}*{sg})"
    y = f"({c['fn']!r} + {u}*{cg} - {v}*{sg})"
    return x, y


def _oracle_proj_omerc() -> str:
    px, py = _indep_omerc_sql("lon", "lat")
    return f"""
WITH pts AS (SELECT doc_id, {_BORNEO_LON} AS lon, {_BORNEO_LAT} AS lat
             FROM documents),
cells AS (SELECT doc_id, CAST(floor({px} / 100000.0) AS BIGINT) AS cx,
                 CAST(floor({py} / 100000.0) AS BIGINT) AS cy FROM pts)
SELECT cx, cy, count(*) AS n, min(doc_id) AS min_doc
FROM cells GROUP BY cx, cy
"""


QUERIES["proj_omerc_cells"] = (q_proj_omerc_cells, _oracle_proj_omerc())


# ---------------------------------------------------------------------------
# Gopher-style quality rules (Rae et al. 2021 §A1.1, public paper):
# per-document rule flags + overall pass — pure column math, and the
# whole rule set re-expressed in ANSI SQL for the value oracle.
# ---------------------------------------------------------------------------

_GOPHER_STOPS = ["the", "a", "data", "key", "join"]


def q_gopher_quality(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_words = F.size(toks)
    n_spaces = ((F.length("text") - F.length(
        F.replace(F.col("text"), F.lit(" "), F.lit("")))) / 1).cast("int")
    mean_wl = F.round((F.length("text") - n_spaces) / n_words, 6)
    stop_hits = None
    for s in _GOPHER_STOPS:
        hit = F.when(F.array_contains(toks, s), 1).otherwise(0)
        stop_hits = hit if stop_hits is None else stop_hits + hit
    ok_words = (n_words >= 50) & (n_words <= 100000)
    ok_wl = (mean_wl >= 3) & (mean_wl <= 10)
    ok_stops = stop_hits >= 2
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        stop_hits.cast("int").alias("stop_hits"),
        ok_words.cast("int").alias("ok_word_count"),
        ok_wl.cast("int").alias("ok_word_len"),
        ok_stops.cast("int").alias("ok_stops"),
        (ok_words & ok_wl & ok_stops).cast("int").alias("gopher_pass"))


def _oracle_gopher() -> str:
    nw = "len(string_split(text, ' '))"
    nsp = "CAST((length(text) - length(replace(text, ' ', ''))) AS INTEGER)"
    mwl = f"round((length(text) - {nsp}) / {nw}, 6)"
    hits = " + ".join(
        f"(CASE WHEN list_contains(string_split(text, ' '), '{s}') "
        f"THEN 1 ELSE 0 END)" for s in _GOPHER_STOPS)
    okw = f"CASE WHEN {nw} >= 50 AND {nw} <= 100000 THEN 1 ELSE 0 END"
    okl = f"CASE WHEN {mwl} >= 3 AND {mwl} <= 10 THEN 1 ELSE 0 END"
    oks = f"CASE WHEN ({hits}) >= 2 THEN 1 ELSE 0 END"
    return f"""
SELECT doc_id, {nw} AS n_words, {mwl} AS mean_word_len,
       CAST(({hits}) AS INTEGER) AS stop_hits,
       {okw} AS ok_word_count, {okl} AS ok_word_len, {oks} AS ok_stops,
       CASE WHEN {okw} = 1 AND {okl} = 1 AND {oks} = 1 THEN 1 ELSE 0 END
           AS gopher_pass
FROM documents
"""


QUERIES["gopher_quality"] = (q_gopher_quality, _oracle_gopher())


# ---------------------------------------------------------------------------
# Duplicated-span statistics (the C4/RefinedWeb "repeated n-gram span"
# dedup signal): per-document count and fraction of 5-gram spans that
# occur in at least one OTHER document. Shape at 100 TB: one explode +
# one shuffle keyed by span hash with map-side combine; no all-pairs.
# ---------------------------------------------------------------------------

def q_span_dedup(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    # tokens materialized in their own select: inlining split() into the
    # slice lambda re-tokenizes the doc per span, O(n_words²) (see
    # functions/text.py shingle_array — measured 8× wall at 50 k docs)
    tok = docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    # guard docs with <5 tokens: sequence(1, 0) would DESCEND ([1, 0])
    # and slice(toks, 0, 5) throws; emit no spans instead (matches the
    # oracle's range(1, greatest(len-4, 0) + 1) which is empty there)
    idx = F.when(F.size("toks") >= 5,
                 F.sequence(F.lit(1), F.size("toks") - F.lit(4))
                 ).otherwise(F.array().cast("array<int>"))
    spans = tok.select(
        "doc_id",
        F.explode(F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, 5)))
        ).alias("span"))
    # referenced by both the span-count side and the join-back side —
    # pin once (same rationale as the LSH candidate cache above)
    spans = spans.cache()
    # countDistinct = partial per-partition distinct + one shuffle, vs
    # the old distinct().groupBy() two-shuffle chain
    span_docs = (spans.groupBy("span")
                 .agg(F.countDistinct("doc_id").alias("n_docs_with_span")))
    per_doc = (spans.join(span_docs, "span")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_spans"),
                    F.sum(F.when(F.col("n_docs_with_span") > 1, 1)
                          .otherwise(0)).alias("n_shared_spans")))
    return per_doc.select(
        "doc_id", "n_spans", "n_shared_spans",
        F.round(F.col("n_shared_spans") / F.col("n_spans"), 6)
        .alias("shared_frac"))


ORACLE_SPAN_DEDUP = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), spans AS (
  SELECT doc_id,
         array_to_string(list_slice(t, i, i + 4), ' ') AS span
  FROM toks, UNNEST(range(1, greatest(len(t) - 4, 0) + 1)) AS u(i)
), span_docs AS (
  SELECT span, count(*) AS n_docs_with_span
  FROM (SELECT DISTINCT doc_id, span FROM spans) GROUP BY span
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN d.n_docs_with_span > 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_shared_spans,
       round(sum(CASE WHEN d.n_docs_with_span > 1 THEN 1 ELSE 0 END)
             / count(*), 6) AS shared_frac
FROM spans s JOIN span_docs d USING (span)
GROUP BY s.doc_id
"""

QUERIES["span_dedup"] = (q_span_dedup, ORACLE_SPAN_DEDUP)


# ---------------------------------------------------------------------------
# TIGER/Line (sources/tiger.py, round 5): write a deterministic module
# (40 complete chains, RT1 + RT2 shape points, formula-generated), read
# the CompleteChain layer back distributed, and emit per-chain
# attributes plus the assembled vertex count decoded from the WKB. The
# oracle regenerates the same values by pure arithmetic — the two sides
# share only the generating formula, not the parse path.
# ---------------------------------------------------------------------------

_TIGERQ_N = 40


def _tigerq_fixture() -> str:
    import os as _os
    d = "/tmp/gdal_spark_tigerq"
    rt1p, rt2p = f"{d}/TGRQ.RT1", f"{d}/TGRQ.RT2"
    if _os.path.exists(rt1p) and _os.path.exists(rt2p):
        return d
    _os.makedirs(d, exist_ok=True)

    def rec(rectype, reclen, fields):
        buf = [" "] * reclen
        buf[0] = rectype
        buf[1:5] = "1006"
        for (beg, end), val in fields.items():
            w = end - beg + 1
            buf[beg - 1:beg - 1 + w] = str(val).rjust(w)[:w]
        return "".join(buf)

    r1, r2 = [], []
    for i in range(_TIGERQ_N):
        sx, sy = -86400000 - 137 * i, 32500000 + 91 * i
        ex, ey = sx - 777, sy - 555
        f1 = {(6, 15): 1000 + i, (56, 58): "A41",
              (107, 111): 35000 + i % 100,        # ZIPL
              (183, 186): 2000 + i % 7,           # BLOCKL
              (191, 200): sx, (201, 209): sy,
              (210, 219): ex, (220, 228): ey}
        r1.append(rec("1", 228, f1))
        k = i % 4
        if k:
            f2 = {(6, 15): 1000 + i, (16, 18): 1}
            for j in range(k):
                f2[(19 + 19 * j, 28 + 19 * j)] = sx - 100 * (j + 1)
                f2[(29 + 19 * j, 37 + 19 * j)] = sy - 50 * (j + 1)
            r2.append(rec("2", 208, f2))
    with open(rt1p, "w") as f:
        f.write("\n".join(r1) + "\n")
    with open(rt2p, "w") as f:
        f.write("\n".join(r2) + "\n")
    return d


def q_tiger_layer(spark, sf_dir):
    from gdal_spark.sources.tiger import read_tiger
    d = _tigerq_fixture()
    df = read_tiger(spark, d, "CompleteChain")
    return df.select(
        F.col("TLID").cast("long").alias("tlid"),
        F.col("BLOCKL").cast("long").alias("blockl"),
        F.col("ZIPL").cast("long").alias("zipl"),
        F.col("CFCC").alias("cfcc"),
        # WKB LINESTRING: 1 byte order + 4 type + 4 count + 16/vertex
        ((F.length("geometry") - 9) / 16).cast("long").alias("n_pts"))


ORACLE_TIGER = f"""
SELECT 1000 + i AS tlid,
       2000 + i % 7 AS blockl,
       35000 + i % 100 AS zipl,
       'A41' AS cfcc,
       2 + i % 4 AS n_pts
FROM (SELECT unnest(generate_series(0, {_TIGERQ_N - 1})) AS i)
"""

QUERIES["tiger_layer"] = (q_tiger_layer, ORACLE_TIGER)


# ---------------------------------------------------------------------------
# SQLite-dialect SQL-string surface (sqlite_sql.py, round 5): build a
# square polygon per doc point (integer micro-degree coordinates, so
# shoelace area/centroid are EXACT in doubles), run a dialect TEXT
# query through SQLiteDialectEngine (ST_Area / ST_Centroid / ST_X/Y /
# ST_Intersects / ST_GeomFromText / ROWID / GEOMETRY rewrites), and
# verify against pure integer arithmetic in DuckDB.
# ---------------------------------------------------------------------------

def q_sqlite_dialect_sql(spark, sf_dir):
    import pandas as pd

    from gdal_spark.functions import geometry as G
    from gdal_spark.sqlite_sql import SQLiteDialectEngine

    eng = SQLiteDialectEngine(spark)
    pts = doc_points(spark, sf_dir).select(
        "doc_id",
        F.round(F.col("lon") * 1e6).cast("long").alias("cx"),
        F.round(F.col("lat") * 1e6).cast("long").alias("cy"),
        ((F.col("doc_id") % 7 + 1) * 5).cast("long").alias("h"))

    def _square(cx, cy, h):
        import numpy as np
        out = []
        for x, y, hh in zip(cx, cy, h):
            x, y, hh = float(x), float(y), float(hh)
            ring = np.array([[x - hh, y - hh], [x + hh, y - hh],
                             [x + hh, y + hh], [x - hh, y + hh],
                             [x - hh, y - hh]])
            out.append(G.encode_polygon([ring]))
        return pd.Series(out, dtype=object)

    square = F.pandas_udf(_square, "binary")

    eng.layers["docsq"] = pts.select(
        F.col("doc_id").alias("rowid"), "doc_id",
        square("cx", "cy", "h").alias("geometry"),
        F.lit(None).cast("string").alias("ogr_style"))
    # the fixed probe window (integer micro-degrees, NYC cluster)
    win = ("POLYGON ((-74230000 40950000,-74180000 40950000,"
           "-74180000 41000000,-74230000 41000000,-74230000 40950000))")
    return eng.execute(f"""
        SELECT doc_id,
               CAST(ST_Area(GEOMETRY) AS BIGINT) AS area,
               CAST(ST_X(ST_Centroid(GEOMETRY)) AS BIGINT) AS ctr_x,
               CAST(ST_Y(ST_Centroid(GEOMETRY)) AS BIGINT) AS ctr_y,
               CAST(CASE WHEN ST_Intersects(GEOMETRY,
                    ST_GeomFromText('{win}')) THEN 1 ELSE 0 END
                    AS BIGINT) AS in_win
        FROM docsq WHERE ROWID % 3 = 0""")


ORACLE_SQLITE_DIALECT = f"""
WITH pts AS ({POINTS_SQL}),
s AS (SELECT doc_id,
             CAST(round(lon * 1000000) AS BIGINT) AS cx,
             CAST(round(lat * 1000000) AS BIGINT) AS cy,
             (doc_id % 7 + 1) * 5 AS h
      FROM pts)
SELECT doc_id, 4 * h * h AS area, cx AS ctr_x, cy AS ctr_y,
       CAST(CASE WHEN cx + h >= -74230000 AND cx - h <= -74180000
                  AND cy + h >= 40950000 AND cy - h <= 41000000
            THEN 1 ELSE 0 END AS BIGINT) AS in_win
FROM s WHERE doc_id % 3 = 0
"""

QUERIES["sqlite_dialect_sql"] = (q_sqlite_dialect_sql,
                                 ORACLE_SQLITE_DIALECT)
# registry entries, so lead with the 50 queries that span the widest
# operator surface (one per operator family; redundant SQL variants and
# same-family duplicates follow for local/judge verification).
# ---------------------------------------------------------------------------

# Round-5 rotation (judge r4 item 8): in — the proj_albers/laea/ps
# trio, warp_gcp, dem_focal, proximity_dist, image_decode,
# dissolve_layer, and the round-5 additions tiger_layer +
# sqlite_dialect_sql; out (multi-round green, family coverage kept in
# the gate, still verified by the judge-local set) — extent,
# substr_cast, lang_quality, simhash_bands, ann_lsh_topk,
# ngram_jaccard, raster_histogram, overview_magphase, warp_utm,
# symdiff_layer_rot.
_DRIVER_GATE_50 = [
    # geo core / spatial join / tiling
    "pip_tile_flagship", "tile_assign_z10", "pip_admin_grid",
    "pip_shuffle_left", "knn_k3", "tile_pyramid",
    # OGR SQL semantics
    "summary_agg", "left_join_first", "poly_special_fields",
    "sqlite_dialect_sql",
    # webtext / training-data ops
    "gopher_quality", "span_dedup",
    "dedup_exact", "token_stats", "minhash_lsh_jaccard",
    "multimodal_bytes", "image_decode", "ann_cosine_topk",
    "ann_ivf_topk", "dedup_embedding",
    "dedup_cluster", "sessionize",
    # raster operators
    "rasterize", "raster_checksum", "raster_stats",
    "warp_bilinear", "warp_cutline", "warp_gcp",
    "contour_lines", "polygonize_rects", "dem_focal", "proximity_dist",
    # vector sources
    "tiger_layer",
    # layer algebra / geometry
    "clip_layer_area", "union_layer_rot", "dissolve_layer",
    "buffer_layer", "geom_constructive", "st_predicates", "curve_area",
    "layer_sqlite_info",
    # SRS family
    "proj_omerc_cells", "warp_lcc", "proj_modis_tiles",
    "proj_albers_cells", "proj_laea_cells", "proj_ps_cells",
    # joins / gridding
    "asof_join", "range_join", "grid_invdist",
]

assert len(_DRIVER_GATE_50) == 50, len(_DRIVER_GATE_50)
QUERIES = {name: QUERIES[name] for name in _DRIVER_GATE_50} | {
    name: entry for name, entry in QUERIES.items()
    if name not in set(_DRIVER_GATE_50)}
