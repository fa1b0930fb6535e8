"""Query registry: every implemented operator as (Spark callable, DuckDB oracle).

Each entry is one row of SURVEY.md §2's operator inventory re-expressed
Spark-first, paired with an independent ANSI-SQL formulation DuckDB runs on
the same parquet tables. The driver compares row count + schema + value hash,
so every computed column is aliased identically on both sides and every
floating aggregate goes through the same deterministic arithmetic
(decimal-exact sums, fixed association, explicit ROUND).

Naming: q_* functions take (spark, sf_dir) and return a DataFrame.

Fixtures: the round-trip queries write their files while the plan is
built (the readers plan from the file). Every such file lives only under
the per-process scratch root from `core.vsi.scratch()`, one fresh path
per call, and the root is removed when the process exits.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import datagen
from .core import tilemath, vsi
from .functions import st
from .operators import graphops, simsearch, spatial_join, textops

Q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def _reg(name: str, sql: str | None = None):
    def deco(fn):
        Q[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn
    return deco


def _t(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# -- deterministic decimal aggregation helpers (Spark side) -------------------

def _dsum(col, scale=2):
    """Exact decimal sum then round→double; twin of
    CAST(ROUND(SUM(CAST(x AS DECIMAL(18,4))), s) AS DOUBLE)."""
    return F.round(F.sum(col.cast("decimal(18,4)")), scale).cast("double")


def _davg(col, scale=6):
    return F.round(F.sum(col.cast("decimal(18,4)")).cast("double")
                   / F.count(col), scale)


# =============================================================================
# §2.5 aggregations — OGR SQL SUMMARY_RECORD (whole table -> one row)
# =============================================================================

@_reg("ogr_summary", """
SELECT CAST(count(*) AS BIGINT)                       AS cnt,
       CAST(count(DISTINCT l_returnflag) AS BIGINT)   AS n_flags,
       min(l_quantity)                                AS min_qty,
       max(l_quantity)                                AS max_qty,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
             / count(l_quantity), 6)                  AS avg_qty,
       ROUND(sqrt((CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))
                            * CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                   - (CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                      * CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE))
                     / count(*))
                  / (count(*) - 1)), 6)               AS std_qty
FROM lineitem
""")
def q_ogr_summary(spark, sf_dir):
    """OGR aggregate-to-one-summary-record (SWQM_SUMMARY_RECORD,
    ogr_swq.h:315): COUNT/COUNT DISTINCT/MIN/MAX/SUM/AVG/STDDEV_SAMP.
    Kahan-compensated SUM (ogr_swq.h:367-372) matched via exact decimal."""
    li = _t(spark, sf_dir, "lineitem")
    qd = F.col("l_quantity").cast("decimal(18,4)")
    s1 = F.sum(qd).cast("double")
    s2 = F.sum(qd * qd).cast("double")
    n = F.count("*")
    return li.agg(
        F.count("*").alias("cnt"),
        F.countDistinct("l_returnflag").alias("n_flags"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        _dsum(F.col("l_quantity")).alias("sum_qty"),
        _davg(F.col("l_quantity")).alias("avg_qty"),
        F.round(F.sqrt((s2 - s1 * s1 / n) / (n - F.lit(1))), 6).alias("std_qty"),
    )


@_reg("ogr_groupby_pricing", """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (CAST(1 AS DECIMAL(18,4))
                         - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
           AS sum_disc_price,
       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)
             / count(l_discount), 6) AS avg_disc
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def q_ogr_groupby_pricing(spark, sf_dir):
    """TPC-H-q1-shaped grouped aggregation (beyond OGR, which lacks GROUP BY —
    SURVEY.md §2.5 'grouping sets: none'; Spark built-in)."""
    li = _t(spark, sf_dir, "lineitem")
    disc = (F.col("l_extendedprice").cast("decimal(18,4)")
            * (F.lit(1).cast("decimal(18,4)")
               - F.col("l_discount").cast("decimal(18,4)")))
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("cnt"),
                 _dsum(F.col("l_quantity")).alias("sum_qty"),
                 F.round(F.sum(disc), 2).cast("double").alias("sum_disc_price"),
                 _davg(F.col("l_discount")).alias("avg_disc")))


# =============================================================================
# §2.2 filters / predicates, §2.7 sort/limit/union, §2.8 scalar functions
# =============================================================================

@_reg("ogr_filter_predicates", """
SELECT o_orderkey, o_totalprice, o_orderpriority
FROM orders
WHERE o_orderstatus IN ('O', 'F')
  AND o_totalprice BETWEEN 1000.0 AND 50000.0
  AND o_orderpriority LIKE '1%'
""")
def q_ogr_filter_predicates(spark, sf_dir):
    """WHERE with IN / BETWEEN / LIKE (swq_op_general.cpp:432-470, :1089-1127).
    Catalyst pushes all three to the parquet scan (PushedFilters)."""
    o = _t(spark, sf_dir, "orders")
    return (o.where(F.col("o_orderstatus").isin("O", "F")
                    & F.col("o_totalprice").between(1000.0, 50000.0)
                    & F.col("o_orderpriority").like("1%"))
            .select("o_orderkey", "o_totalprice", "o_orderpriority"))


@_reg("ogr_distinct", """
SELECT DISTINCT lang, source FROM documents
""")
def q_ogr_distinct(spark, sf_dir):
    """SELECT DISTINCT (SWQM_DISTINCT_LIST, ogr_swq.h:317)."""
    return _t(spark, sf_dir, "documents").select("lang", "source").distinct()


@_reg("ogr_orderby_limit", """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
LIMIT 100 OFFSET 10
""")
def q_ogr_orderby_limit(spark, sf_dir):
    """ORDER BY multi-key + LIMIT/OFFSET (ogr_gensql.cpp:2192-2435, :1864-1874).
    Catalyst plans TakeOrderedAndProject — no full sort materialization."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.select("l_orderkey", "l_linenumber", "l_extendedprice")
            .orderBy(F.col("l_extendedprice").desc(), F.col("l_orderkey").asc(),
                     F.col("l_linenumber").asc())
            .offset(10).limit(100))


@_reg("ogr_union_all", """
SELECT 'hi' AS grp, o_orderkey AS key, o_totalprice AS val
FROM orders WHERE o_totalprice > 40000.0
UNION ALL
SELECT 'lo' AS grp, o_orderkey AS key, o_totalprice AS val
FROM orders WHERE o_totalprice < 1500.0
""")
def q_ogr_union_all(spark, sf_dir):
    """UNION ALL -> OGRUnionLayer (swq_parser.y:622, gdaldataset.cpp:7009)."""
    o = _t(spark, sf_dir, "orders")
    hi = o.where(F.col("o_totalprice") > 40000.0).select(
        F.lit("hi").alias("grp"), F.col("o_orderkey").alias("key"),
        F.col("o_totalprice").alias("val"))
    lo = o.where(F.col("o_totalprice") < 1500.0).select(
        F.lit("lo").alias("grp"), F.col("o_orderkey").alias("key"),
        F.col("o_totalprice").alias("val"))
    return hi.unionAll(lo)


@_reg("ogr_cast_substr", """
SELECT n_nationkey, n_name, r_name,
       CAST(n_nationkey AS VARCHAR)            AS key_str,
       substr(n_name, 1, 5)                    AS name_c5,
       substr(n_name, length(n_name) - 2, 3)   AS last3,
       n_name || '_' || r_name                 AS label
FROM nation JOIN region ON n_regionkey = r_regionkey
""")
def q_ogr_cast_substr(spark, sf_dir):
    """CAST + CHARACTER(n) width truncation (swq_op_general.cpp:1819-1821),
    SUBSTR negative-offset rule (:1152-1200, expressed as length-relative),
    CONCAT (:1133-1151); broadcast equi-join on the dim table."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return j.select(
        "n_nationkey", "n_name", "r_name",
        F.col("n_nationkey").cast("string").alias("key_str"),
        F.substring("n_name", 1, 5).alias("name_c5"),
        F.expr("substring(n_name, length(n_name) - 2, 3)").alias("last3"),
        F.concat(F.col("n_name"), F.lit("_"), F.col("r_name")).alias("label"))


@_reg("ogr_arith", """
SELECT l_orderkey, l_linenumber,
       CAST(l_quantity AS BIGINT)            AS qty_i,
       CAST(l_quantity AS BIGINT) // 7       AS qdiv,
       CAST(l_quantity AS BIGINT) % 7        AS qmod,
       l_partkey * 3 - 1                     AS pk_expr
FROM lineitem WHERE l_linenumber = 1
""")
def q_ogr_arith(spark, sf_dir):
    """Arithmetic incl. truncating integer division (swq_op_general.cpp:474-540)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_linenumber") == 1)
    qi = F.col("l_quantity").cast("long")
    return li.select(
        "l_orderkey", "l_linenumber", qi.alias("qty_i"),
        F.expr("div(CAST(l_quantity AS BIGINT), 7)").alias("qdiv"),
        (qi % 7).alias("qmod"),
        (F.col("l_partkey") * 3 - 1).alias("pk_expr"))


# =============================================================================
# §2.3 joins — first-match semantics + semi/anti
# =============================================================================

@_reg("ogr_join_first_match", """
SELECT o.o_orderkey, o.o_totalprice, l.l_partkey, l.l_quantity, l.l_linenumber
FROM orders o
LEFT JOIN (
  SELECT * FROM (
    SELECT l_orderkey, l_partkey, l_quantity, l_linenumber,
           row_number() OVER (PARTITION BY l_orderkey
                              ORDER BY l_linenumber ASC, l_partkey ASC,
                                       l_suppkey ASC) AS rn
    FROM lineitem) WHERE rn = 1
) l ON o.o_orderkey = l.l_orderkey
""")
def q_ogr_join_first_match(spark, sf_dir):
    """OGR SQL JOIN keeps only the FIRST matching secondary row per primary
    row (ogr_gensql.cpp:1505-1535); 'first' pinned to the full unique
    secondary key (linenumber, partkey, suppkey) so it is deterministic."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_partkey", "l_quantity", "l_linenumber", "l_suppkey")
    out = spatial_join.first_match_join(
        o.select("o_orderkey", "o_totalprice"), li,
        on="o_orderkey", order_col=["l_linenumber", "l_partkey", "l_suppkey"])
    return out.select("o_orderkey", "o_totalprice", "l_partkey",
                      "l_quantity", "l_linenumber")


@_reg("ogr_semi_anti", """
SELECT 'semi' AS mode, c_custkey AS key FROM customer
 WHERE c_custkey IN (SELECT o_custkey FROM orders)
UNION ALL
SELECT 'anti' AS mode, c_custkey AS key FROM customer
 WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
""")
def q_ogr_semi_anti(spark, sf_dir):
    """left_semi / left_anti (the SQLITE dialect's IN (SELECT ...) forms,
    ogrsqliteexecutesql.cpp)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    semi = c.join(o, "c_custkey", "left_semi").select(
        F.lit("semi").alias("mode"), F.col("c_custkey").alias("key"))
    anti = c.join(o, "c_custkey", "left_anti").select(
        F.lit("anti").alias("mode"), F.col("c_custkey").alias("key"))
    return semi.unionAll(anti)


# =============================================================================
# events: windowed aggregation + hstore/JSON property access (§2.8)
# =============================================================================

@_reg("events_window", """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_val
FROM events
GROUP BY 1, 2
""")
def q_events_window(spark, sf_dir):
    """Tumbling 1h window aggregation over the event stream table (batch
    form; the Structured Streaming twin shares this transformation)."""
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("win"),
        "event_type")
        .agg(F.count("*").alias("n"), _dsum(F.col("value")).alias("sum_val")))


@_reg("events_props", """
SELECT event_id, TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k_val
FROM events
""")
def q_events_props(spark, sf_dir):
    """Property-map access — hstore_get_value analog (ogr_swq.h:65,516-517)
    over the JSON props column."""
    e = _t(spark, sf_dir, "events")
    return e.select("event_id",
                    F.regexp_extract("props", '"k": (\\d+)', 1)
                    .cast("long").alias("k_val"))


# =============================================================================
# spatial: tile assignment, PIP join, kNN, distance join, geometry measures
# =============================================================================

def _pts_cte():
    return f"WITH pts AS ({datagen.POINTS_SQL})"


@_reg("tile_assign", f"""
{_pts_cte()},
t AS (SELECT {tilemath.mercator_tile_sql('lon', 'lat', 6)[0]} AS tile_x,
             {tilemath.mercator_tile_sql('lon', 'lat', 6)[1]} AS tile_y
      FROM pts)
SELECT tile_x, tile_y,
       CAST(((tile_x >> 5) & 1) + 2 * ((tile_y >> 5) & 1) AS VARCHAR)
    || CAST(((tile_x >> 4) & 1) + 2 * ((tile_y >> 4) & 1) AS VARCHAR)
    || CAST(((tile_x >> 3) & 1) + 2 * ((tile_y >> 3) & 1) AS VARCHAR)
    || CAST(((tile_x >> 2) & 1) + 2 * ((tile_y >> 2) & 1) AS VARCHAR)
    || CAST(((tile_x >> 1) & 1) + 2 * ((tile_y >> 1) & 1) AS VARCHAR)
    || CAST(((tile_x >> 0) & 1) + 2 * ((tile_y >> 0) & 1) AS VARCHAR) AS qk,
       CAST(count(*) AS BIGINT) AS n_pages
FROM t GROUP BY tile_x, tile_y
""")
def q_tile_assign(spark, sf_dir):
    """Web-mercator XYZ tile assignment + quadkey (gdal2tiles.py:328-545
    GlobalMercator / :524 QuadTree) as pure whole-stage-codegen column math."""
    p = datagen.points(spark, sf_dir)
    tx, ty = tilemath.mercator_tile_cols(F.col("lon"), F.col("lat"), 6)
    p = p.select(tx.alias("tile_x"), ty.alias("tile_y"))
    digits = [
        ((F.shiftright("tile_x", b).bitwiseAND(F.lit(1)))
         + (F.shiftright("tile_y", b).bitwiseAND(F.lit(1))) * 2).cast("string")
        for b in range(5, -1, -1)]
    return (p.groupBy("tile_x", "tile_y")
            .agg(F.count("*").alias("n_pages"))
            .select("tile_x", "tile_y", F.concat(*digits).alias("qk"), "n_pages"))


@_reg("pip_grid", f"""
{_pts_cte()}
SELECT (CAST(floor((lon + 180.0) / 10.0) AS BIGINT) * {datagen.N_GRID_Y}
        + CAST(floor((lat + 90.0) / 5.0) AS BIGINT)) AS region_id,
       CAST(count(*) AS BIGINT) AS n_pages
FROM pts GROUP BY 1
""")
def q_pip_grid(spark, sf_dir):
    """FLAGSHIP: point-in-polygon join pages x admin grid via the full engine
    path — cell-cover explode -> broadcast equi-join on cell -> exact ray-cast
    PIP pandas UDF (OGR SetSpatialFilter+Within semantics,
    ogrlayer.cpp:1750-1822, ogrgeometry.cpp:5842). The oracle derives the
    region analytically — agreement validates cover, join and exact test."""
    p = datagen.points(spark, sf_dir)
    r = datagen.regions(spark).where(F.col("kind") == "grid") \
        .select("region_id", "geom", "cells", "in_masks", "out_masks")
    hits = spatial_join.pip_join(p, r, zoom=datagen.PIP_ZOOM)
    return hits.groupBy("region_id").agg(F.count("*").alias("n_pages"))


@_reg("pip_convex", f"""
{_pts_cte()}
SELECT region_id, n_pages FROM {datagen.convex_pip_oracle_sql('pts')} u
WHERE n_pages > 0
""")
def q_pip_convex(spark, sf_dir):
    """PIP against irregular convex polygons — Spark side ray-casts (even-odd),
    oracle side uses half-plane conjunctions: two independent formulations."""
    p = datagen.points(spark, sf_dir)
    r = datagen.regions(spark).where(F.col("kind") == "convex") \
        .select("region_id", "geom", "cells", "in_masks", "out_masks")
    hits = spatial_join.pip_join(p, r, zoom=datagen.PIP_ZOOM)
    return hits.groupBy("region_id").agg(F.count("*").alias("n_pages"))


@_reg("knn_centroids", f"""
{_pts_cte()},
s AS (SELECT * FROM pts WHERE doc_id % 17 = 0),
d AS (SELECT s.doc_id, CAST(c.region_id AS BIGINT) AS region_id,
             sqrt((lon - cx) * (lon - cx) + (lat - cy) * (lat - cy)) AS dist
      FROM s, {datagen.convex_centroids_values_sql()}),
r AS (SELECT doc_id, region_id, dist,
             CAST(row_number() OVER (PARTITION BY doc_id
                  ORDER BY dist ASC, region_id ASC) AS INTEGER) AS rank
      FROM d)
SELECT doc_id, rank, region_id, ROUND(dist, 6) AS dist_r
FROM r WHERE rank <= 3
""")
def q_knn_centroids(spark, sf_dir):
    """kNN (k=3) to region centroids — broadcast + window top-k
    (SURVEY.md §2.3 kNN row; reference has Distance ogrgeometry.cpp:3562
    but no layer-level kNN operator)."""
    p = datagen.points(spark, sf_dir).where(F.col("doc_id") % 17 == 0)
    c = p.sparkSession.createDataFrame(datagen.convex_centroids_pdf())
    out = spatial_join.knn_join(p, c, k=3, point_key="doc_id")
    return out.select("doc_id", F.col("rank").cast("int").alias("rank"),
                      "region_id", F.round("dist", 6).alias("dist_r"))


@_reg("knn_ring", f"""
{_pts_cte()},
d AS (SELECT pts.doc_id, CAST(c.region_id AS BIGINT) AS region_id,
             sqrt((lon - cx) * (lon - cx) + (lat - cy) * (lat - cy)) AS dist
      FROM pts, {datagen.grid_centroids_sql()}),
r AS (SELECT doc_id, region_id, dist,
             CAST(row_number() OVER (PARTITION BY doc_id
                  ORDER BY dist ASC, region_id ASC) AS INTEGER) AS rank
      FROM d)
SELECT doc_id, rank, region_id, ROUND(dist, 6) AS dist_r
FROM r WHERE rank <= 3
""")
def q_knn_ring(spark, sf_dir):
    """kNN (k=3) against the 1,296-center grid table via cell-ring expansion
    + sort-tile-recursive fallback (SURVEY.md §2.3 kNN row: 'cell-ring
    expansion join ... sort-tile-recursive fallback'; the oracle is the
    brute-force cross-join window — two independent formulations)."""
    p = datagen.points(spark, sf_dir)
    c = spark.createDataFrame(datagen.grid_centroids_pdf())
    # materialize the shared candidate subtree: it feeds both the
    # resolved branch and the fallback's stats rows, and recomputing it
    # doubles the one-time codegen+probe cost (measured 4.5s -> 2.4s
    # first pass at sf0.1; steady unchanged)
    out = spatial_join.ring_knn_join(p, c, k=3, zoom=5, point_key="doc_id",
                                     str_buckets=32,
                                     materialize_candidates=True)
    return out.select("doc_id", F.col("rank").cast("int").alias("rank"),
                      "region_id", F.round("dist", 6).alias("dist_r"))


_GTX, _GTY = tilemath.geodetic_tile_sql("lon", "lat", 3)


@_reg("geodetic_tile_assign", f"""
{_pts_cte()}
SELECT {_GTX} AS tile_x, {_GTY} AS tile_y, CAST(count(*) AS BIGINT) AS n
FROM pts GROUP BY 1, 2
""")
def q_geodetic_tile_assign(spark, sf_dir):
    """Geodetic (EPSG:4326) TMS profile tile assignment — GlobalGeodetic,
    gdal2tiles.py:547-620 (2x1 tiles at z0, res 180/256/2^z). Pure column
    math like the mercator profile."""
    p = datagen.points(spark, sf_dir)
    tx, ty = tilemath.geodetic_tile_cols(F.col("lon"), F.col("lat"), 3)
    return (p.select(tx.alias("tile_x"), ty.alias("tile_y"))
            .groupBy("tile_x", "tile_y").agg(F.count("*").alias("n")))


@_reg("st_sql_surface", f"""
{_pts_cte()}
SELECT doc_id, {datagen.grid_pip_oracle_predicate()} AS region_id,
       50.0 AS area_r
FROM pts WHERE doc_id % 29 = 0
""")
def q_st_sql_surface(spark, sf_dir):
    """The registered SQL surface (SQLITE-dialect parity: ST_* functions
    usable from spark.sql — ogrsqlitesqlfunctions.cpp:875-1206): point-in-
    region via ST_Contains(geom, ST_GeomFromText(...)) plus ST_Area, all
    inside a SQL string. The oracle derives region + area analytically."""
    st.register_all(spark)
    datagen.regions(spark).where(F.col("kind") == "grid") \
        .createOrReplaceTempView("regions_v")
    datagen.points(spark, sf_dir).createOrReplaceTempView("pts_v")
    return spark.sql("""
        SELECT p.doc_id, r.region_id, ROUND(ST_Area(r.geom), 6) AS area_r
        FROM pts_v p JOIN regions_v r
          ON p.lon >= r.xmin AND p.lon < r.xmax
         AND p.lat >= r.ymin AND p.lat < r.ymax
        WHERE p.doc_id % 29 = 0
          AND ST_Contains(r.geom, ST_GeomFromText(
                CONCAT('POINT (', p.lon, ' ', p.lat, ')')))
    """)


@_reg("ogr_geocode_lookup", f"""
{_pts_cte()}
SELECT p.doc_id,
       arg_min(c.region_id, (p.lon - c.cx)*(p.lon - c.cx)
                            + (p.lat - c.cy)*(p.lat - c.cy))
         AS nearest_rid,
       ROUND(CAST(arg_min(c.cx, (p.lon - c.cx)*(p.lon - c.cx)
                          + (p.lat - c.cy)*(p.lat - c.cy)) AS DOUBLE), 9)
         AS gx_r,
       ROUND(CAST(arg_min(c.cy, (p.lon - c.cx)*(p.lon - c.cx)
                          + (p.lat - c.cy)*(p.lat - c.cy)) AS DOUBLE), 9)
         AS gy_r
FROM pts p, {datagen.convex_centroids_values_sql()}
WHERE p.doc_id % 37 = 0
GROUP BY p.doc_id
""")
def q_ogr_geocode_lookup(spark, sf_dir):
    """ogr_geocode / ogr_geocode_reverse (ogrsqlitesqlfunctions.cpp;
    ogr/ogrgeocoding.cpp) against a deterministic offline gazetteer of
    region centroids: reverse-geocode every 37th page to its nearest
    entry, then forward-geocode that name back to coordinates — the
    oracle recomputes the nearest centroid with arg_min in SQL."""
    from .operators.geocode import register_geocoder
    gaz = spark.createDataFrame(datagen.convex_centroids_pdf()) \
        .selectExpr("concat('region_', region_id) AS name",
                    "cx AS lon", "cy AS lat")
    register_geocoder(spark, gaz)
    datagen.points(spark, sf_dir).where(F.col("doc_id") % 37 == 0) \
        .createOrReplaceTempView("geocode_pts_v")
    return spark.sql("""
        WITH rev AS (
          SELECT doc_id, ogr_geocode_reverse(lon, lat) AS name
          FROM geocode_pts_v)
        SELECT doc_id,
               CAST(substring(name, 8) AS BIGINT) AS nearest_rid,
               ROUND(ogr_geocode_x(name), 9) AS gx_r,
               ROUND(ogr_geocode_y(name), 9) AS gy_r
        FROM rev
    """)


@_reg("st_envelope_accessors", f"""
{_pts_cte()}
SELECT doc_id,
       ROUND(lon, 9) AS minx_r, ROUND(lat, 9) AS miny_r,
       ROUND(lon + 1 + doc_id % 5, 9) AS maxx_r,
       ROUND(lat + 2 + doc_id % 3, 9) AS maxy_r,
       CAST(5 AS BIGINT) AS npts, CAST(1 AS BIGINT) AS ngeoms,
       ROUND((1 + doc_id % 5) * (2 + doc_id % 3), 6) AS env_area_r
FROM pts WHERE doc_id % 23 = 0
""")
def q_st_envelope_accessors(spark, sf_dir):
    """Envelope accessor surface (ogrsqlitesqlfunctions.cpp:343-380
    OGR2SQLITE_ST_MinX/MinY/MaxX/MaxY; OGRGeometry::getEnvelope): boxes of
    varying size built in SQL via ST_GeomFromText, then
    ST_MinX/MinY/MaxX/MaxY, ST_NPoints, ST_NumGeometries and the area of
    ST_Envelope — all closed-form in the oracle (a box is its own
    envelope)."""
    st.register_all(spark)
    datagen.points(spark, sf_dir).createOrReplaceTempView("pts_env_v")
    return spark.sql("""
        WITH g AS (
          SELECT doc_id, ST_GeomFromText(CONCAT(
            'POLYGON ((', lon, ' ', lat, ', ',
                         lon + 1 + doc_id % 5, ' ', lat, ', ',
                         lon + 1 + doc_id % 5, ' ', lat + 2 + doc_id % 3,
                         ', ', lon, ' ', lat + 2 + doc_id % 3, ', ',
                         lon, ' ', lat, '))')) AS geom
          FROM pts_env_v WHERE doc_id % 23 = 0)
        SELECT doc_id,
               ROUND(ST_MinX(geom), 9) AS minx_r,
               ROUND(ST_MinY(geom), 9) AS miny_r,
               ROUND(ST_MaxX(geom), 9) AS maxx_r,
               ROUND(ST_MaxY(geom), 9) AS maxy_r,
               ST_NPoints(geom) AS npts,
               ST_NumGeometries(geom) AS ngeoms,
               ROUND(ST_Area(ST_Envelope(geom)), 6) AS env_area_r
        FROM g
    """)


@_reg("dwithin", f"""
{_pts_cte()}
SELECT CAST(c.region_id AS BIGINT) AS region_id, CAST(count(*) AS BIGINT) AS n_pages
FROM pts, {datagen.convex_centroids_values_sql()}
WHERE lon >= cx - 8.0 AND lon <= cx + 8.0
  AND lat >= cy - 8.0 AND lat <= cy + 8.0
  AND sqrt((lon - cx) * (lon - cx) + (lat - cy) * (lat - cy)) <= 8.0
GROUP BY 1
""")
def q_dwithin(spark, sf_dir):
    """Distance-within join (range join): bbox prefilter inside the broadcast
    hash join condition + exact circle test (envelope-prefilter pattern of
    ogrgeometry.cpp:585-592)."""
    p = datagen.points(spark, sf_dir)
    c = p.sparkSession.createDataFrame(datagen.convex_centroids_pdf())
    out = spatial_join.distance_join(p, c, 8.0)
    return out.groupBy("region_id").agg(F.count("*").alias("n_pages"))


@_reg("st_measures_grid", f"""
SELECT CAST(gx * {datagen.N_GRID_Y} + gy AS BIGINT) AS region_id,
       CAST(50.0 AS DOUBLE)               AS area,
       CAST(30.0 AS DOUBLE)               AS perim,
       CAST(-175.0 + 10 * gx AS DOUBLE)   AS cx,
       CAST(-87.5 + 5 * gy AS DOUBLE)     AS cy
FROM range(36) a(gx), range(36) b(gy)
""")
def q_st_measures_grid(spark, sf_dir):
    """ST_Area / ST_Length(perimeter) / ST_Centroid over WKB polygons via the
    vectorized pUDF library (OGR_G_Area; Centroid ogrgeometry.cpp:6106) —
    integer-coordinate grid makes the oracle analytic and exact."""
    r = datagen.regions(spark).where(F.col("kind") == "grid")
    return r.select(
        "region_id",
        st.st_area("geom").alias("area"),
        st.st_length("geom").alias("perim"),
        st.st_centroid_x("geom").alias("cx"),
        st.st_centroid_y("geom").alias("cy"))


# =============================================================================
# raster: point rasterization (MERGE_ALG=ADD) + overview pyramid reduce
# =============================================================================

_GPX1, _GPY1 = tilemath.mercator_pixel_sql("lon", "lat", 1)


@_reg("rasterize_z1", f"""
{_pts_cte()},
g AS (SELECT {_GPX1} AS gpx, {_GPY1} AS gpy FROM pts)
SELECT (gpx >> 8) AS tile_x, (gpy >> 8) AS tile_y,
       (gpx & 255) AS px, (gpy & 255) AS py,
       CAST(count(*) AS BIGINT) AS burn
FROM g GROUP BY 1, 2, 3, 4
""")
def q_rasterize_z1(spark, sf_dir):
    """Rasterize points into the zoom-1 pixel grid, MERGE_ALG=ADD semantics
    (gdalrasterize.cpp:743-781): burn = additive count per pixel; tiles are
    256x256 XYZ. Pure column math -> groupBy: the Spark-native form of
    'rasterize as groupBy-tile aggregation'."""
    p = datagen.points(spark, sf_dir)
    gpx, gpy = tilemath.mercator_pixel_cols(F.col("lon"), F.col("lat"), 1)
    g = p.select(gpx.alias("gpx"), gpy.alias("gpy"))
    return (g.select(
        F.shiftright("gpx", 8).alias("tile_x"),
        F.shiftright("gpy", 8).alias("tile_y"),
        F.col("gpx").bitwiseAND(F.lit(255)).alias("px"),
        F.col("gpy").bitwiseAND(F.lit(255)).alias("py"))
        .groupBy("tile_x", "tile_y", "px", "py")
        .agg(F.count("*").alias("burn")))


@_reg("polygonize_density", f"""
WITH RECURSIVE pts AS ({datagen.POINTS_SQL}),
c AS (SELECT CAST(floor((lon + 180.0) / 5.625) AS BIGINT) AS x,
             CAST(floor((lat + 90.0) / 2.8125) AS BIGINT) AS y,
             count(*) AS v
      FROM pts GROUP BY 1, 2),
ids AS (SELECT x, y, v, y * 64 + x AS id FROM c),
adj AS (SELECT a.id AS s, b.id AS d FROM ids a, ids b
        WHERE a.v = b.v AND ((abs(a.x - b.x) = 1 AND a.y = b.y)
                             OR (a.x = b.x AND abs(a.y - b.y) = 1))),
reach AS (SELECT id AS s, id AS d FROM ids
          UNION
          SELECT r.s, a.d FROM reach r JOIN adj a ON r.d = a.s),
comp AS (SELECT s AS id, min(d) AS comp FROM reach GROUP BY s)
SELECT CAST(v AS DOUBLE) AS value, CAST(count(*) AS BIGINT) AS n_pixels,
       min(x) AS px_xmin, min(y) AS px_ymin,
       max(x) AS px_xmax, max(y) AS px_ymax
FROM ids JOIN comp USING (id) GROUP BY comp.comp, v
""")
def q_polygonize_density(spark, sf_dir):
    """Raster -> vector: polygonize connected equal-valued regions of a
    64x64 density raster (GDALPolygonize, alg/polygonize.cpp:170 — per-tile
    labeling + cross-tile component merge re-expressed as applyInPandas +
    iterative min-label propagation). The oracle is an independent
    formulation: DuckDB recursive-CTE transitive closure over the pixel
    adjacency graph. Output drops the internal comp_id (an engine-specific
    min-node id) and compares the component multiset (value, size, bbox)."""
    import numpy as np
    import pandas as pd
    from .raster.polygonize import polygonize
    from .raster.tiles import TILE_SCHEMA, encode_px

    p = datagen.points(spark, sf_dir)
    x = F.floor((F.col("lon") + 180.0) / 5.625).cast("long")
    y = F.floor((F.col("lat") + 90.0) / 2.8125).cast("long")
    cnt = (p.select(x.alias("x"), y.alias("y"))
           .groupBy("x", "y").agg(F.count("*").alias("v"))
           .withColumn("tile_x", F.shiftright("x", 3))
           .withColumn("tile_y", F.shiftright("y", 3)))

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.zeros((8, 8), np.int64)
        arr[pdf["y"].values & 7, pdf["x"].values & 7] = pdf["v"].values
        return pd.DataFrame([(1, 0, int(key[0]), int(key[1]), "int64", 0.0,
                              encode_px(arr))],
                            columns=[f.name for f in TILE_SCHEMA.fields])

    tiles = cnt.groupBy("tile_x", "tile_y").applyInPandas(build, TILE_SCHEMA)
    out = polygonize(tiles, tile=8)
    return out.select("value", "n_pixels",
                      "px_xmin", "px_ymin", "px_xmax", "px_ymax")


_OVERLAY_RECTS = [(200 + i,
                   -170.0 + 28.0 * i, -60.0 + 10.0 * (i % 5),
                   -151.0 + 28.0 * i, -46.0 + 10.0 * (i % 5))
                  for i in range(12)]          # disjoint (x-spacing > width)

_OVERLAY_RECTS_SQL = ("(VALUES " + ", ".join(
    f"({m}, {x0!r}, {y0!r}, {x1!r}, {y1!r})"
    for m, x0, y0, x1, y1 in _OVERLAY_RECTS)
    + ") AS m(mid, mx0, my0, mx1, my1)")

_GRID_RECTS_SQL = (f"(SELECT gx.range * {datagen.N_GRID_Y} + gy.range"
                   " AS region_id,"
                   " -180.0 + 10.0 * gx.range AS gx0,"
                   " -90.0 + 5.0 * gy.range AS gy0,"
                   " -170.0 + 10.0 * gx.range AS gx1,"
                   " -85.0 + 5.0 * gy.range AS gy1"
                   f" FROM range({datagen.N_GRID_X}) gx,"
                   f" range({datagen.N_GRID_Y}) gy) AS g")


def _overlay_inputs(spark):
    import pandas as pd
    from .core import wkb as _wkb
    subject = datagen.regions(spark).where(F.col("kind") == "grid") \
        .select("region_id", "geom")
    mrows = [(m, _wkb.box(x0, y0, x1, y1))
             for m, x0, y0, x1, y1 in _OVERLAY_RECTS]
    from pyspark.sql import types as T
    method = spark.createDataFrame(
        pd.DataFrame(mrows, columns=["mid", "geom"]),
        schema=T.StructType([T.StructField("mid", T.LongType()),
                             T.StructField("geom", T.BinaryType())]))
    return subject, method


@_reg("overlay_clip_area", f"""
SELECT g.region_id, CAST(m.mid AS BIGINT) AS mid,
       ROUND((least(gx1, mx1) - greatest(gx0, mx0))
             * (least(gy1, my1) - greatest(gy0, my0)), 6) AS area_r
FROM {_GRID_RECTS_SQL}, {_OVERLAY_RECTS_SQL}
WHERE least(gx1, mx1) > greatest(gx0, mx0)
  AND least(gy1, my1) > greatest(gy0, my0)
""")
def q_overlay_clip_area(spark, sf_dir):
    """Layer x layer Intersection (OGRLayer::Intersection,
    ogrlayer.cpp:2633): grid regions x a disjoint rect layer, one row per
    intersecting pair with the piece's shoelace area. The oracle computes
    the same areas ANALYTICALLY (rect-overlap formula) — an independent
    check of the whole overlay path (envelope prefilter + Sutherland-
    Hodgman clip + area)."""
    from .operators.overlay import overlay
    subject, method = _overlay_inputs(spark)
    out = overlay(subject, method, "intersection")
    return out.select("region_id", "mid",
                      F.round(st.st_area("geom"), 6).alias("area_r")) \
        .where(F.col("area_r") > 0)


@_reg("overlay_erase_area", f"""
WITH ov AS (
  SELECT g.region_id,
         (least(gx1, mx1) - greatest(gx0, mx0))
         * (least(gy1, my1) - greatest(gy0, my0)) AS a
  FROM {_GRID_RECTS_SQL}, {_OVERLAY_RECTS_SQL}
  WHERE least(gx1, mx1) > greatest(gx0, mx0)
    AND least(gy1, my1) > greatest(gy0, my0))
SELECT region_id, ROUND(50.0 - sum(a), 6) AS area_r
FROM ov GROUP BY region_id HAVING ROUND(50.0 - sum(a), 6) > 0
""")
def q_overlay_erase_area(spark, sf_dir):
    """Layer x layer Erase (OGRLayer::Erase, ogrlayer.cpp:5094): each grid
    region minus the rect layer, via exact wedge-decomposition difference.
    Oracle: 50 deg^2 minus the analytic overlap sum (methods disjoint).
    Regions fully covered by a method drop out on both sides."""
    from .operators.overlay import overlay
    subject, method = _overlay_inputs(spark)
    touched = overlay(subject, method, "intersection") \
        .where(st.st_area("geom") > 0).select("region_id").distinct()
    out = overlay(subject.join(touched, "region_id"), method, "erase")
    return out.select("region_id",
                      F.round(st.st_area("geom"), 6).alias("area_r")) \
        .where(F.col("area_r") > 0)


@_reg("grid_invdist", f"""
{_pts_cte()},
p AS (SELECT lon, lat, CAST(doc_id % 97 AS DOUBLE) AS z FROM pts),
g AS (SELECT gi.range AS i, gj.range AS j,
             -180.0 + (gi.range + 0.5) * 10.0 AS cx,
             -90.0 + (gj.range + 0.5) * 10.0 AS cy
      FROM range(36) gi, range(18) gj),
d AS (SELECT i, j, z,
             sqrt((lon - cx) * (lon - cx) + (lat - cy) * (lat - cy)) AS d
      FROM p, g
      WHERE sqrt((lon - cx) * (lon - cx) + (lat - cy) * (lat - cy)) <= 6.0)
SELECT i, j, ROUND(sum(z / (d * d)) / sum(1.0 / (d * d)), 6) AS val_r
FROM d GROUP BY i, j
""")
def q_grid_invdist(spark, sf_dir):
    """gdal_grid inverse-distance interpolation (alg/gdalgrid.cpp
    GDALGridInverseDistanceToAPower, radius-bounded variant) of a derived
    per-page score onto a 36x18 world grid — the explode-join-aggregate
    form; the oracle is the brute-force cross join."""
    from .raster.gridding import grid_interpolate
    p = datagen.points(spark, sf_dir).select(
        F.col("lon").alias("x"), F.col("lat").alias("y"),
        (F.col("doc_id") % 97).cast("double").alias("z"))
    out = grid_interpolate(p, x0=-180.0, y0=-90.0, dx=10.0, dy=10.0,
                           nx=36, ny=18, radius=6.0, algorithm="invdist",
                           power=2.0)
    return out.select("i", "j", F.round("value", 6).alias("val_r"))


@_reg("grid_metrics", f"""
{_pts_cte()},
p AS (SELECT lon, lat, CAST(doc_id % 97 AS DOUBLE) AS z FROM pts),
g AS (SELECT gi.range AS i, gj.range AS j,
             -180.0 + (gi.range + 0.5) * 10.0 AS cx,
             -90.0 + (gj.range + 0.5) * 10.0 AS cy
      FROM range(36) gi, range(18) gj),
d AS (SELECT i, j, z,
             sqrt((lon - cx) * (lon - cx) + (lat - cy) * (lat - cy)) AS d
      FROM p, g
      WHERE sqrt((lon - cx) * (lon - cx) + (lat - cy) * (lat - cy)) <= 6.0)
SELECT i, j, CAST(count(*) AS BIGINT) AS n,
       ROUND(min(z), 6) AS zmin_r, ROUND(max(z), 6) AS zmax_r,
       ROUND(max(z) - min(z), 6) AS zrange_r,
       ROUND(avg(z), 6) AS zavg_r, ROUND(min(d), 6) AS dmin_r
FROM d GROUP BY i, j
""")
def q_grid_metrics(spark, sf_dir):
    """gdal_grid data-metrics family (GDALGridDataMetricCount / Minimum /
    Maximum / Range, alg/gdalgrid.cpp:1722 ff.) — the reference runs one
    neighbor search per metric; here one explode-join-aggregate pass emits
    them all. Oracle: brute-force cross join."""
    from .raster.gridding import grid_data_metrics
    p = datagen.points(spark, sf_dir).select(
        F.col("lon").alias("x"), F.col("lat").alias("y"),
        (F.col("doc_id") % 97).cast("double").alias("z"))
    out = grid_data_metrics(p, x0=-180.0, y0=-90.0, dx=10.0, dy=10.0,
                            nx=36, ny=18, radius=6.0)
    return out.select("i", "j", "n",
                      F.round("zmin", 6).alias("zmin_r"),
                      F.round("zmax", 6).alias("zmax_r"),
                      F.round("zrange", 6).alias("zrange_r"),
                      F.round("zavg", 6).alias("zavg_r"),
                      F.round("dmin", 6).alias("dmin_r"))


@_reg("grid_nearest", f"""
{_pts_cte()},
p AS (SELECT lon, lat, CAST(doc_id % 97 AS DOUBLE) AS z FROM pts),
g AS (SELECT gi.range AS i, gj.range AS j,
             -180.0 + (gi.range + 0.5) * 10.0 AS cx,
             -90.0 + (gj.range + 0.5) * 10.0 AS cy
      FROM range(36) gi, range(18) gj),
d AS (SELECT i, j, z,
             sqrt((lon - cx) * (lon - cx) + (lat - cy) * (lat - cy)) AS d
      FROM p, g
      WHERE sqrt((lon - cx) * (lon - cx) + (lat - cy) * (lat - cy)) <= 6.0),
r AS (SELECT i, j, z,
             row_number() OVER (PARTITION BY i, j ORDER BY d ASC, z ASC) AS rn
      FROM d)
SELECT i, j, ROUND(z, 6) AS val_r FROM r WHERE rn = 1
""")
def q_grid_nearest(spark, sf_dir):
    """gdal_grid nearest-neighbor (GDALGridNearestNeighbor,
    alg/gdalgrid.cpp:860 — 'takes the value of nearest point found in grid
    node search ellipse'); ties broken by smallest z to stay deterministic
    on both engines. Window top-1 over the same bounded explode."""
    from .raster.gridding import grid_interpolate
    p = datagen.points(spark, sf_dir).select(
        F.col("lon").alias("x"), F.col("lat").alias("y"),
        (F.col("doc_id") % 97).cast("double").alias("z"))
    out = grid_interpolate(p, x0=-180.0, y0=-90.0, dx=10.0, dy=10.0,
                           nx=36, ny=18, radius=6.0, algorithm="nearest")
    return out.select("i", "j", F.round("value", 6).alias("val_r"))


@_reg("events_sessions", """
WITH l AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                                 ORDER BY ts)) > 1800.0
         THEN 1 ELSE 0 END AS is_new
  FROM events),
s AS (
  SELECT user_id, ts, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sess
  FROM l)
SELECT user_id, min(ts) AS sess_start, CAST(count(*) AS BIGINT) AS n_events,
       ROUND(sum(value), 6) AS sum_val
FROM s GROUP BY user_id, sess
""")
def q_events_sessions(spark, sf_dir):
    """Gap-based sessionization (30-min timeout) — the batch anchor of the
    custom stateful streaming operator (streaming/sessions.py twin via
    applyInPandasWithState). Window-function formulation, SQL-oracled."""
    from .streaming.sessions import sessionize_batch
    return sessionize_batch(_t(spark, sf_dir, "events"), gap_minutes=30.0)


@_reg("ogr_fid_access", """
SELECT doc_id, lang, length(text) AS text_len
FROM documents WHERE doc_id IN (7, 42, 199, 255)
""")
def q_ogr_fid_access(spark, sf_dir):
    """Random access by FID (GetFeature(fid) / SetNextByIndex,
    ogrlayer.cpp — SURVEY §2.1): an IN-list point lookup whose predicate
    pushes into the parquet scan (In(doc_id) in PushedFilters)."""
    d = _t(spark, sf_dir, "documents")
    return (d.where(F.col("doc_id").isin(7, 42, 199, 255))
            .select("doc_id", "lang",
                    F.length("text").cast("long").alias("text_len")))


@_reg("ogr_hstore_like", """
SELECT doc_id,
       lang AS hs_lang,
       CAST(length(text) AS VARCHAR) AS hs_len,
       ('pfx_' || lang || '%' || CAST(doc_id AS VARCHAR))
         LIKE 'pfx\\_e%\\%%' ESCAPE '\\' AS m_esc,
       upper(lang) LIKE 'E%' AS m_ilike
FROM documents WHERE doc_id % 13 = 0
""")
def q_ogr_hstore_like(spark, sf_dir):
    """§2.8 scalar surface: hstore_get_value (ogr_swq.h:65 — parsed with
    str_to_map per the SURVEY mapping) + LIKE with ESCAPE
    (swq_op_general.cpp:35-160) + the ILIKE case-insensitivity rule
    (:1100-1101, here via upper()). The hstore string is CONSTRUCTED from
    row values, so the oracle knows the expected extraction analytically."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 0)
    hstore = F.concat(F.lit('lang=>"'), F.col("lang"),
                      F.lit('", len=>"'), F.length("text").cast("string"),
                      F.lit('"'))
    like_src = F.concat(F.lit("pfx_"), F.col("lang"), F.lit("%"),
                        F.col("doc_id").cast("string"))
    d = (d.withColumn("_hs", hstore)
         .withColumn("_m", F.expr("str_to_map(_hs, ', ', '=>')"))
         .withColumn("_ls", like_src))

    def unq(c):
        return F.regexp_replace(c, '"', "")

    return d.select(
        "doc_id",
        unq(F.col("_m")["lang"]).alias("hs_lang"),
        unq(F.col("_m")["len"]).alias("hs_len"),
        F.expr(r"_ls LIKE 'pfx\\_e%\\%%' ESCAPE '\\'").alias("m_esc"),
        F.upper("lang").like("E%").alias("m_ilike"))


_XC1, _YC1 = tilemath.mercator_pixel_float_sql("lon", "lat", 1)


@_reg("interp_at_point", f"""
{_pts_cte()},
g AS (SELECT {_GPX1} AS gpx, {_GPY1} AS gpy,
             CAST(count(*) AS DOUBLE) AS value
      FROM pts GROUP BY 1, 2),
p AS (SELECT doc_id, {_XC1} - 0.5 AS xs, {_YC1} - 0.5 AS ys FROM pts),
q AS (SELECT doc_id, CAST(floor(xs) AS BIGINT) AS x0,
             CAST(floor(ys) AS BIGINT) AS y0,
             xs - floor(xs) AS fx, ys - floor(ys) AS fy FROM p),
c(dx, dy) AS (VALUES (0, 0), (1, 0), (0, 1), (1, 1)),
k AS (SELECT doc_id, x0 + dx AS jx, y0 + dy AS jy,
             (CASE WHEN dx = 1 THEN fx ELSE 1.0 - fx END)
             * (CASE WHEN dy = 1 THEN fy ELSE 1.0 - fy END) AS w
      FROM q, c)
SELECT k.doc_id, ROUND(sum(COALESCE(g.value, 0.0) * k.w), 6) AS val_r
FROM k LEFT JOIN g ON k.jx = g.gpx AND k.jy = g.gpy
GROUP BY k.doc_id
""")
def q_interp_at_point(spark, sf_dir):
    """Raster -> vector enrichment: bilinear InterpolateAtPoint
    (alg/gdal_interpolateatpoint.cpp:394-397, pixel centers at i+0.5) of the
    z1 density raster at every page's own location — expressed as a 4-corner
    explode + equi-join + weighted-sum aggregation, pure JVM column math (no
    gather UDF), so it scales as an ordinary join."""
    from .raster.sample import interpolate_at_points, pixels_from_density
    p = datagen.points(spark, sf_dir)
    pixels = pixels_from_density(q_rasterize_z1(spark, sf_dir))
    xc, yc = tilemath.mercator_pixel_float_cols(F.col("lon"), F.col("lat"), 1)
    pts = p.select("doc_id", xc.alias("_xc"), yc.alias("_yc"))
    out = interpolate_at_points(pixels, pts, "_xc", "_yc", mode="bilinear",
                                out_col="val")
    return out.select("doc_id", F.round("val", 6).alias("val_r"))


@_reg("proximity_density", f"""
{_pts_cte()},
c AS (SELECT DISTINCT CAST(floor((lon + 180.0) / 5.625) AS BIGINT) AS x,
                      CAST(floor((lat + 90.0) / 2.8125) AS BIGINT) AS y
      FROM pts),
t AS (SELECT DISTINCT (x >> 3) AS tx, (y >> 3) AS ty FROM c),
g AS (SELECT t.tx * 8 + i.range AS x, t.ty * 8 + j.range AS y
      FROM t, range(8) i, range(8) j),
d AS (SELECT g.x, g.y,
             min((g.x - c.x) * (g.x - c.x)
                 + (g.y - c.y) * (g.y - c.y)) AS md
      FROM g, c GROUP BY g.x, g.y)
SELECT x, y, ROUND(sqrt(CAST(md AS DOUBLE)), 6) AS dist_r FROM d
""")
def q_proximity_density(spark, sf_dir):
    """Proximity raster (GDALComputeProximity, alg/gdalproximity.cpp):
    distance from every pixel of the occupied tiles to the nearest occupied
    cell of the 64x64 density mask, via the iterative halo-exchange vector
    distance transform. Oracle: brute-force min over all occupied cells —
    an independent global formulation of the distributed wavefront."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from .raster.proximity import proximity
    from .raster.tiles import TILE_SCHEMA, decode_px, encode_px

    p = datagen.points(spark, sf_dir)
    x = F.floor((F.col("lon") + 180.0) / 5.625).cast("long")
    y = F.floor((F.col("lat") + 90.0) / 2.8125).cast("long")
    cnt = (p.select(x.alias("x"), y.alias("y")).distinct()
           .withColumn("tile_x", F.shiftright("x", 3))
           .withColumn("tile_y", F.shiftright("y", 3)))

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.zeros((8, 8), np.int64)
        arr[pdf["y"].values & 7, pdf["x"].values & 7] = 1
        return pd.DataFrame([(1, 0, int(key[0]), int(key[1]), "int64", None,
                              encode_px(arr))],
                            columns=[f.name for f in TILE_SCHEMA.fields])

    tiles = cnt.groupBy("tile_x", "tile_y").applyInPandas(build, TILE_SCHEMA)
    prox = proximity(tiles, tile=8)

    _PX = T.StructType([T.StructField("x", T.LongType()),
                        T.StructField("y", T.LongType()),
                        T.StructField("dist_r", T.DoubleType())])

    def explode_px(batches):
        # vectorized meshgrid flatten — no per-pixel Python
        jj, ii = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
        jf, if_ = jj.ravel(), ii.ravel()
        for pdf in batches:
            frames = []
            for r in pdf.itertuples():
                d = decode_px(r.px, "float64", 8)
                frames.append(pd.DataFrame({
                    "x": int(r.tile_x) * 8 + if_,
                    "y": int(r.tile_y) * 8 + jf,
                    "dist_r": np.round(d.ravel(), 6)}))
            yield pd.concat(frames) if frames else                 pd.DataFrame(columns=["x", "y", "dist_r"])

    return prox.mapInPandas(explode_px, _PX)


_CONTOUR_LUT_SQL = (
    "(VALUES (1, 1, sqrt(0.5)), (2, 1, sqrt(0.5)), (4, 1, sqrt(0.5)), "
    "(8, 1, sqrt(0.5)), (7, 1, sqrt(0.5)), (11, 1, sqrt(0.5)), "
    "(13, 1, sqrt(0.5)), (14, 1, sqrt(0.5)), "
    "(3, 1, 1.0), (12, 1, 1.0), (5, 1, 1.0), (10, 1, 1.0), "
    "(6, 2, 2 * sqrt(0.5)), (9, 2, 2 * sqrt(0.5))) "
    "AS lut(code, nseg, seg_len)")


@_reg("contour_density", f"""
{_pts_cte()},
occ AS (SELECT DISTINCT CAST(floor((lon + 180.0) / 5.625) AS BIGINT) AS x,
                        CAST(floor((lat + 90.0) / 2.8125) AS BIGINT) AS y
        FROM pts),
pt AS (SELECT DISTINCT (x >> 3) AS tx, (y >> 3) AS ty FROM occ),
v AS (SELECT x, y, 1 AS one FROM occ),
cells AS (SELECT gx.range AS x, gy.range AS y
          FROM range(63) gx, range(63) gy),
ok AS (SELECT c.x, c.y FROM cells c
       JOIN pt p1 ON p1.tx = (c.x >> 3) AND p1.ty = (c.y >> 3)
       JOIN pt p2 ON p2.tx = ((c.x + 1) >> 3) AND p2.ty = (c.y >> 3)
       JOIN pt p3 ON p3.tx = (c.x >> 3) AND p3.ty = ((c.y + 1) >> 3)),
code AS (SELECT o.x, o.y,
                COALESCE(a.one, 0) + 2 * COALESCE(b.one, 0)
                + 4 * COALESCE(d.one, 0) + 8 * COALESCE(e.one, 0) AS code
         FROM ok o
         LEFT JOIN v a ON a.x = o.x AND a.y = o.y
         LEFT JOIN v b ON b.x = o.x + 1 AND b.y = o.y
         LEFT JOIN v d ON d.x = o.x AND d.y = o.y + 1
         LEFT JOIN v e ON e.x = o.x + 1 AND e.y = o.y + 1)
SELECT 0.5 AS level, CAST(sum(lut.nseg) AS BIGINT) AS n_segments,
       ROUND(sum(lut.seg_len), 6) AS total_len_r
FROM code JOIN {_CONTOUR_LUT_SQL} ON lut.code = code.code
""")
def q_contour_density(spark, sf_dir):
    """Contour stats of the 64x64 density mask at level 0.5 — the occupied-
    region outlines (GDALContourGenerate, alg/contour.cpp). For a BINARY
    mask at level 0.5 every marching-squares cell reduces to one of 16
    corner codes with a fixed (segment count, length) — so the oracle is a
    relational join against that 16-row lookup over exactly the cells the
    distributed job evaluates (all 4 corners in materialized tiles, per the
    halo contract). Ring topology stays pinned by tests/test_contour.py."""
    import numpy as np
    import pandas as pd
    from .raster.contour import contour_stats
    from .raster.tiles import TILE_SCHEMA, encode_px

    p = datagen.points(spark, sf_dir)
    x = F.floor((F.col("lon") + 180.0) / 5.625).cast("long")
    y = F.floor((F.col("lat") + 90.0) / 2.8125).cast("long")
    cnt = (p.select(x.alias("x"), y.alias("y")).distinct()
           .withColumn("tile_x", F.shiftright("x", 3))
           .withColumn("tile_y", F.shiftright("y", 3)))

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.zeros((8, 8), np.float64)
        arr[pdf["y"].values & 7, pdf["x"].values & 7] = 1.0
        return pd.DataFrame([(1, 0, int(key[0]), int(key[1]), "float64",
                              None, encode_px(arr))],
                            columns=[f.name for f in TILE_SCHEMA.fields])

    tiles = cnt.groupBy("tile_x", "tile_y").applyInPandas(build, TILE_SCHEMA)
    out = contour_stats(tiles, levels=[0.5], tile=8)
    return out.select("level", "n_segments",
                      F.round("total_len", 6).alias("total_len_r"))


@_reg("pyramid_z0", f"""
{_pts_cte()},
g AS (SELECT {_GPX1} AS gpx, {_GPY1} AS gpy FROM pts)
SELECT (gpx >> 1) AS px0, (gpy >> 1) AS py0, CAST(count(*) AS BIGINT) AS burn
FROM g GROUP BY 1, 2
""")
def q_pyramid_z0(spark, sf_dir):
    """Overview pyramid: z0 tile from its 4 z1 children by 2x2 reduce
    (gdal2tiles.py:1515 create_overview_tile; overview.cpp sum/average) —
    expressed as a second groupBy over the rasterized table (the oracle
    computes z0 directly; floor(floor(x)/2) == floor(x/2) makes them equal)."""
    z1 = q_rasterize_z1(spark, sf_dir)
    gpx1 = F.shiftleft("tile_x", 8) + F.col("px")
    gpy1 = F.shiftleft("tile_y", 8) + F.col("py")
    return (z1.select(F.shiftright(gpx1, 1).alias("px0"),
                      F.shiftright(gpy1, 1).alias("py0"), "burn")
            .groupBy("px0", "py0")
            .agg(F.sum("burn").cast("long").alias("burn")))


# =============================================================================
# pages pipeline: extraction invariant + multimodal metadata
# =============================================================================

@_reg("extract_text", f"""
WITH pg AS ({datagen.PAGES_SQL})
SELECT url, md5(regexp_extract(html, '<p>(.*)</p>', 1)) AS text_md5 FROM pg
""")
def q_extract_text(spark, sf_dir):
    """The per-row invariant of BASELINE.json input_hint: text extracted from
    html must be byte-identical per url — checked as md5 over every row."""
    pg = datagen.pages(spark, sf_dir)
    extracted = F.regexp_extract(F.decode("html", "UTF-8"), "<p>(.*)</p>", 1)
    return pg.select("url", F.md5(extracted).alias("text_md5"))


@_reg("multimodal_meta", f"""
WITH pg AS ({datagen.PAGES_SQL})
SELECT url, CAST(strlen(html) AS BIGINT) AS n_bytes, md5(html) AS payload_md5
FROM pg
""")
def q_multimodal_meta(spark, sf_dir):
    """Opaque-binary-column metadata pass (the multimodal pattern): byte
    length + content hash of the binary payload via mapInPandas (Arrow
    batches; the decode step proper is stubbed — see operators.multimodal)."""
    from .operators import multimodal
    pg = datagen.pages(spark, sf_dir)
    return multimodal.binary_meta(pg, payload_col="html", key_col="url")


# =============================================================================
# training-data ops: dedup / minhash / simhash / jaccard / text stats / langid
# =============================================================================

@_reg("dedup_exact", """
SELECT md5(text) AS fp, CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS keeper
FROM documents GROUP BY 1
""")
def q_dedup_exact(spark, sf_dir):
    return textops.exact_fingerprint(_t(spark, sf_dir, "documents"))


@_reg("dedup_norm", """
SELECT md5(substr(lower(text), 1, 40)) AS fp, CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS keeper
FROM documents GROUP BY 1
""")
def q_dedup_norm(spark, sf_dir):
    return textops.norm_fingerprint(_t(spark, sf_dir, "documents"))


_MINHASH_SQL_BODY = """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
d2 AS (SELECT doc_id, ws FROM d WHERE len(ws) >= 3),
ix AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM d2),
sh AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh FROM ix),
sig AS (SELECT doc_id,
               min(md5('0:' || sh)) AS sig0, min(md5('1:' || sh)) AS sig1,
               min(md5('2:' || sh)) AS sig2, min(md5('3:' || sh)) AS sig3
        FROM sh GROUP BY doc_id)
SELECT doc_id, md5(sig0 || '|' || sig1 || '|' || sig2 || '|' || sig3) AS band
FROM sig
"""


@_reg("minhash_band", _MINHASH_SQL_BODY)
def q_minhash_band(spark, sf_dir):
    """MinHash(4 perms) over word 3-shingles folded to one LSH band per doc."""
    return textops.minhash_bands(_t(spark, sf_dir, "documents"))


@_reg("minhash_clusters", f"""
WITH bands AS ({_MINHASH_SQL_BODY})
SELECT band, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS keeper
FROM bands GROUP BY band
""")
def q_minhash_clusters(spark, sf_dir):
    return textops.minhash_clusters(_t(spark, sf_dir, "documents"))


def _simhash_sql():
    sums = ", ".join(
        f"SUM((((h >> {b}) & 1) * 2 - 1)) AS s{b}" for b in range(16))
    fp = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16))
    return f"""
WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 4))::BIGINT AS h FROM w),
s AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM s
"""


@_reg("simhash", _simhash_sql())
def q_simhash(spark, sf_dir):
    return textops.simhash16(_t(spark, sf_dir, "documents"))


@_reg("ngram_jaccard", """
WITH w0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
w AS (SELECT DISTINCT doc_id, w FROM w0),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nd FROM w GROUP BY doc_id),
inter AS (SELECT a.doc_id, CAST(count(*) AS BIGINT) AS ni
          FROM w a JOIN (SELECT doc_id - 1 AS doc_id, w FROM w) b
          USING (doc_id, w) GROUP BY a.doc_id),
j AS (SELECT a.doc_id, a.nd, b2.nd AS nd_b, COALESCE(i.ni, 0) AS ni
      FROM sizes a
      JOIN (SELECT doc_id - 1 AS doc_id, nd FROM sizes) b2 USING (doc_id)
      LEFT JOIN inter i USING (doc_id))
SELECT doc_id, ROUND(CAST(ni AS DOUBLE) / (nd + nd_b - ni), 6) AS jacc FROM j
""")
def q_ngram_jaccard(spark, sf_dir):
    return textops.consecutive_jaccard(_t(spark, sf_dir, "documents"))


_STOP_SQL = "('" + "', '".join(textops.STOPWORDS) + "')"


@_reg("token_stats", f"""
WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
s AS (SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars_t,
             CAST(len(list_filter(ws, w -> w IN {_STOP_SQL})) AS BIGINT) AS n_stop
      FROM d)
SELECT doc_id, n_tokens, n_chars_t,
       ROUND(CAST(n_chars_t - (n_tokens - 1) AS DOUBLE) / n_tokens, 6) AS avg_wlen,
       n_stop,
       ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio
FROM s
""")
def q_token_stats(spark, sf_dir):
    return textops.token_stats(_t(spark, sf_dir, "documents"))


@_reg("doc_quality", f"""
WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
s AS (SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             CAST(length(text) - (len(ws) - 1) AS DOUBLE) / len(ws) AS awl,
             CAST(len(list_filter(ws, w -> w IN {_STOP_SQL})) AS DOUBLE)
               / len(ws) AS sr,
             CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS uq,
             CAST(list_max(list_transform(list_distinct(ws),
                  w -> len(list_filter(ws, x -> x = w)))) AS DOUBLE)
               / len(ws) AS tf
      FROM d)
SELECT doc_id, n_words,
       ROUND(awl, 6) AS avg_wlen_r, ROUND(sr, 6) AS stop_ratio_r,
       ROUND(uq, 6) AS uniq_ratio_r, ROUND(tf, 6) AS top_frac_r,
       CAST(CASE WHEN n_words >= 30 AND n_words <= 95 AND uq >= 0.35
                  AND tf <= 0.15 AND sr >= 0.02
            THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM s
""")
def q_doc_quality(spark, sf_dir):
    """Training-pipeline quality filter (Gopher/C4-style signals: length,
    mean word length, stopword ratio, uniqueness, top-word dominance) over
    the documents table; keep flag per the quality envelope. All JVM
    higher-order-function math — no Python in the hot path."""
    return textops.quality_score(_t(spark, sf_dir, "documents"))


def _langid_sql():
    langs = sorted(textops.LANG_MARKERS)
    score = {
        lang: ("len(list_filter(ws, w -> w IN ('"
               + "', '".join(textops.LANG_MARKERS[lang]) + "')))")
        for lang in langs}
    cols = ", ".join(f"{score[lang]} AS s_{lang}" for lang in langs)
    m = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    pred = "CASE " + " ".join(
        f"WHEN s_{lang} = {m} THEN '{lang}'" for lang in langs) + " END"
    return f"""
WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
s AS (SELECT doc_id, lang, {cols} FROM d)
SELECT lang, {pred} AS pred, CAST(count(*) AS BIGINT) AS n
FROM s GROUP BY 1, 2
"""


@_reg("langid", _langid_sql())
def q_langid(spark, sf_dir):
    return textops.langid(_t(spark, sf_dir, "documents"))


@_reg("jaccard_exact_join", """
WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS s
           FROM documents),
p AS (SELECT a.doc_id AS a, b.doc_id AS b,
             len(list_intersect(a.s, b.s)) AS inter,
             len(a.s) AS la, len(b.s) AS lb
      FROM d a JOIN d b ON a.doc_id < b.doc_id)
SELECT a, b, CAST(inter AS BIGINT) AS inter,
       CAST(la + lb - inter AS BIGINT) AS union_,
       ROUND(CAST(inter AS DOUBLE) / (la + lb - inter), 6) AS jacc_r
FROM p WHERE inter * 10 >= 9 * (la + lb - inter)
""")
def q_jaccard_exact_join(spark, sf_dir):
    """EXACT all-pairs Jaccard join at tau=0.9 via prefix filtering
    (Bayardo et al. 2007) — the exact counterpart to the MinHash family:
    rarest-first global token order, integer-exact prefix lengths,
    candidate equi-join on prefix tokens + length-ratio filter, exact
    verification. The oracle brute-forces every pair (feasible at oracle
    scale) with the identical integer threshold test, so the lossless-
    ness of the prefix filter is itself what's being value-hashed."""
    return textops.jaccard_prefix_join(_t(spark, sf_dir, "documents"),
                                       num=9, den=10)


@_reg("hll_distinct", """
WITH t AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
hh AS (SELECT ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM t),
s2 AS (SELECT h % 256 AS b, h // 256 AS rest FROM hh),
rk AS (SELECT b, CASE WHEN rest = 0 THEN 53
                      ELSE 53 - length(bin(rest)) END AS r FROM s2),
regs AS (SELECT b, max(r) AS m FROM rk GROUP BY b),
f AS (SELECT gb.range AS b, coalesce(regs.m, 0) AS m
      FROM range(256) gb LEFT JOIN regs ON regs.b = gb.range),
agg AS (SELECT sum(CAST(1 AS BIGINT) << CAST(53 - m AS INT)) AS s,
               CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS v
        FROM f),
ex AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS n_exact FROM t),
e AS (SELECT n_exact, v,
             CASE WHEN 4.2399330249068963e+20 / s <= 640.0 AND v > 0
                  THEN 256.0 * ln(256.0 / v)
                  ELSE 4.2399330249068963e+20 / s END AS est
      FROM agg, ex)
SELECT n_exact, v AS v_zero, ROUND(est, 4) AS hll_est_r,
       ROUND(est / n_exact - 1, 4) AS rel_err_r
FROM e
""")
def q_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-token estimate (Flajolet et al. 2007, m=256)
    beside the exact count: the harmonic-mean denominator is an EXACT
    integer sum of 2^(53-M[b]) so the estimate is bit-deterministic
    across engines; one map-side-combined groupBy to 256 mergeable
    registers — the sketch shape a 10^12-token stream needs."""
    return textops.hll_distinct(_t(spark, sf_dir, "documents"))


@_reg("cms_heavy_hitters", """
WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
exact AS (SELECT w, CAST(count(*) AS BIGINT) AS n_exact
          FROM toks GROUP BY w),
top AS (SELECT w, n_exact FROM exact
        ORDER BY n_exact DESC, w ASC LIMIT 20),
cells AS (
  SELECT j, ('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || w), 1, 8))
              ::BIGINT % 1024 AS b,
         CAST(count(*) AS BIGINT) AS s
  FROM toks, unnest([0, 1, 2, 3]) t(j) GROUP BY 1, 2),
probes AS (
  SELECT w, n_exact, j,
         ('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || w), 1, 8))
           ::BIGINT % 1024 AS b
  FROM top, unnest([0, 1, 2, 3]) t(j))
SELECT probes.w, probes.n_exact,
       CAST(min(cells.s) AS BIGINT) AS cms_est
FROM probes JOIN cells USING (j, b)
GROUP BY probes.w, probes.n_exact
""")
def q_cms_heavy_hitters(spark, sf_dir):
    """Count-Min sketch heavy hitters (Cormode & Muthukrishnan 2005):
    4x1024 sketch over the token stream as four map-side-combined
    groupBys, exact top-20 probe with min-over-rows estimates. The
    oracle replays the identical md5 bucket arithmetic; the one-sided
    cms_est >= n_exact guarantee is pinned in tests."""
    return textops.cms_heavy_hitters(_t(spark, sf_dir, "documents"))


@_reg("winnowing", """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
           WHERE len(string_split(text, ' ')) >= 6),
g AS (SELECT doc_id, len(ws) - 2 AS m, i AS pos,
             ('0x' || substr(md5(ws[i] || ' ' || ws[i + 1] || ' '
                                 || ws[i + 2]), 1, 8))::BIGINT
               % 1000000007 AS h
      FROM d, unnest(generate_series(1, len(ws) - 2)) t(i)),
wins AS (SELECT doc_id, pos, h, q
         FROM g, unnest(generate_series(greatest(1, pos - 3),
                                        least(pos, m - 3))) tq(q)),
mins AS (SELECT doc_id, q, min(h) AS mh FROM wins GROUP BY doc_id, q),
sel AS (SELECT wins.doc_id, wins.q, mh, max(pos) AS pos
        FROM wins JOIN mins USING (doc_id, q)
        WHERE h = mh GROUP BY wins.doc_id, wins.q, mh)
SELECT DISTINCT doc_id, pos, mh AS fp_h FROM sel
""")
def q_winnowing(spark, sf_dir):
    """Robust winnowing fingerprints (Schleimer et al. 2003, the MOSS
    algorithm): 3-gram md5 hashes, window w=4, rightmost-minimum
    selection, distinct (pos, hash) fingerprint set per document. The
    oracle replays the identical two-step rightmost-min selection."""
    return textops.winnowing_fingerprints(_t(spark, sf_dir, "documents"),
                                          k=3, w=4)


@_reg("doc_fingerprint", """
WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                  generate_subscripts(string_split(text, ' '), 1) AS pos
           FROM documents),
t AS (SELECT doc_id,
             (pos * (('0x' || substr(md5(w), 1, 8))::BIGINT % 1000000007))
              % 1000000007 AS t
      FROM w)
SELECT doc_id, CAST(SUM(t) % 1000000007 AS BIGINT) AS fp FROM t GROUP BY doc_id
""")
def q_doc_fingerprint(spark, sf_dir):
    return textops.rolling_fingerprint(_t(spark, sf_dir, "documents"))


# =============================================================================
# similarity search over embeddings
# =============================================================================

@_reg("ann_topk", """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
             list_dot_product(q.v, e.v)
              / (sqrt(list_dot_product(q.v, q.v))
                 * sqrt(list_dot_product(e.v, e.v))) AS cos
      FROM e q, e WHERE q.vec_id < 10 AND e.vec_id != q.vec_id)
SELECT q_id, rank, vec_id FROM (
  SELECT q_id, vec_id,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank
  FROM p) WHERE rank <= 3
""")
def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-k (the ANN correctness baseline)."""
    return simsearch.brute_topk(_t(spark, sf_dir, "embeddings"))


def _lsh_hist_sql():
    planes = simsearch.hyperplanes()
    terms = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(repr(float(x)) for x in p) + "]"
        terms.append(f"(CASE WHEN list_dot_product(v, {lit}) > 0"
                     f" THEN {1 << i} ELSE 0 END)")
    bucket = " + ".join(terms)
    return f"""
WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings)
SELECT CAST({bucket} AS INTEGER) AS bucket, CAST(count(*) AS BIGINT) AS n
FROM e GROUP BY 1
"""


_NEARDUP_COS = ("list_dot_product(a.v, b.v)"
                " / (sqrt(list_dot_product(a.v, a.v))"
                " * sqrt(list_dot_product(b.v, b.v)))")


@_reg("embed_neardup", f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       ROUND({_NEARDUP_COS}, 6) AS cos_r
FROM e a, e b
WHERE a.vec_id < b.vec_id AND {_NEARDUP_COS} >= 0.35
""")
def q_embed_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate detection, exact baseline: all pairs
    with cosine >= 0.35. The training-data dedup primitive; oracle is the
    brute-force cross join."""
    out = simsearch.neardup_pairs(_t(spark, sf_dir, "embeddings"),
                                  threshold=0.35)
    return out.select("a_id", "b_id", F.round("cos", 6).alias("cos_r"))


def _neardup_lsh_sql():
    planes = simsearch.hyperplanes()
    terms = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(repr(float(x)) for x in p) + "]"
        terms.append(f"(CASE WHEN list_dot_product(v, {lit}) > 0"
                     f" THEN {1 << i} ELSE 0 END)")
    bucket = " + ".join(terms)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  {bucket} AS bucket FROM embeddings)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       ROUND({_NEARDUP_COS}, 6) AS cos_r
FROM e a, e b
WHERE a.vec_id < b.vec_id AND a.bucket = b.bucket
  AND {_NEARDUP_COS} >= 0.2
"""


@_reg("embed_neardup_lsh", _neardup_lsh_sql())
def q_embed_neardup_lsh(spark, sf_dir):
    """Near-dup via the scale path: LSH bucket prefilter + exact cosine
    verify. The oracle replicates the hyperplane bucketing bit-for-bit, so
    the approximate candidate set itself is pinned, not just the verify."""
    out = simsearch.neardup_lsh(_t(spark, sf_dir, "embeddings"),
                                threshold=0.2)
    return out.select("a_id", "b_id", F.round("cos", 6).alias("cos_r"))


@_reg("ann_lsh_hist", _lsh_hist_sql())
def q_ann_lsh_hist(spark, sf_dir):
    """Random-hyperplane LSH bucketing (the ANN scale path) — bucket
    occupancy histogram pins the bucketing bit-for-bit."""
    return simsearch.lsh_histogram(_t(spark, sf_dir, "embeddings"))


def _lsh_topk_sql():
    planes = simsearch.hyperplanes()
    terms = []
    for i, pl in enumerate(planes):
        lit = "[" + ", ".join(repr(float(x)) for x in pl) + "]"
        terms.append(f"(CASE WHEN list_dot_product(v, {lit}) > 0"
                     f" THEN {1 << i} ELSE 0 END)")
    bucket = " + ".join(terms)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  {bucket} AS bucket FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM e WHERE vec_id < 10),
p AS (SELECT q.q_id, e.vec_id,
             list_dot_product(q.qv, e.v)
             / (sqrt(list_dot_product(q.qv, q.qv))
                * sqrt(list_dot_product(e.v, e.v))) AS cos
      FROM e JOIN q ON e.bucket = q.bucket
      WHERE e.vec_id <> q.q_id)
SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id
FROM (SELECT q_id, vec_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos DESC, vec_id ASC) AS rank
      FROM p)
WHERE rank <= 3
"""


@_reg("ann_lsh_topk", _lsh_topk_sql())
def q_ann_lsh_topk(spark, sf_dir):
    """ANN top-k via LSH bucket equi-join + exact in-bucket cosine re-rank.
    Recall < 1 vs brute force by construction, but the candidate set and the
    re-rank are fully deterministic, so the oracle is the in-bucket brute
    force in SQL — the approximate ANSWER itself is hash-pinned, not just
    the bucketing (which ann_lsh_hist already pins)."""
    return simsearch.lsh_topk(_t(spark, sf_dir, "embeddings"))


# =============================================================================
# round 2: full overlay family + full predicate surface
# =============================================================================

@_reg("overlay_union_area", f"""
WITH ov AS (
  SELECT g.region_id, m.mid,
         (least(gx1, mx1) - greatest(gx0, mx0))
         * (least(gy1, my1) - greatest(gy0, my0)) AS a
  FROM {_GRID_RECTS_SQL}, {_OVERLAY_RECTS_SQL}
  WHERE least(gx1, mx1) > greatest(gx0, mx0)
    AND least(gy1, my1) > greatest(gy0, my0))
SELECT region_id, CAST(mid AS BIGINT) AS mid, ROUND(a, 6) AS area_r
FROM ov WHERE ROUND(a, 6) > 0
UNION ALL
SELECT g.region_id, CAST(NULL AS BIGINT) AS mid,
       ROUND(50.0 - COALESCE(
         (SELECT sum(a) FROM ov WHERE ov.region_id = g.region_id), 0), 6)
       AS area_r
FROM {_GRID_RECTS_SQL}
WHERE ROUND(50.0 - COALESCE(
  (SELECT sum(a) FROM ov WHERE ov.region_id = g.region_id), 0), 6) > 0
""")
def q_overlay_union_area(spark, sf_dir):
    """Layer x layer Union (OGRLayer::Union, ogrlayer.cpp:3051): pair pieces
    + subject leftovers + method leftovers. The method rects lie entirely
    inside the grid's coverage, so the reverse side (method \\ subjects,
    computed by the shuffle-by-mid difference fold) must come back EMPTY —
    which the row count pins. Areas come from the general slab-decomposition
    boolean kernel (core.polyclip); the oracle is the analytic rect algebra."""
    from .operators.overlay import overlay
    subject, method = _overlay_inputs(spark)
    out = overlay(subject, method, "union")
    return out.select("region_id", "mid",
                      F.round(st.st_area("geom"), 6).alias("area_r")) \
        .where(F.col("area_r") > 0)


_SYMDIFF_RECTS = [(900 + i, 155.0, -80.0 + 20.0 * i, 195.0, -70.0 + 20.0 * i)
                  for i in range(4)]     # right edge beyond the grid (x>180)

_SYMDIFF_RECTS_SQL = ("(VALUES " + ", ".join(
    f"({m}, {x0!r}, {y0!r}, {x1!r}, {y1!r})"
    for m, x0, y0, x1, y1 in _SYMDIFF_RECTS)
    + ") AS m(mid, mx0, my0, mx1, my1)")


@_reg("overlay_symdiff_area", f"""
WITH ov AS (
  SELECT g.region_id, m.mid,
         (least(gx1, mx1) - greatest(gx0, mx0))
         * (least(gy1, my1) - greatest(gy0, my0)) AS a
  FROM {_GRID_RECTS_SQL}, {_SYMDIFF_RECTS_SQL}
  WHERE least(gx1, mx1) > greatest(gx0, mx0)
    AND least(gy1, my1) > greatest(gy0, my0))
SELECT g.region_id, CAST(NULL AS BIGINT) AS mid,
       ROUND(50.0 - COALESCE(
         (SELECT sum(a) FROM ov WHERE ov.region_id = g.region_id), 0), 6)
       AS area_r
FROM {_GRID_RECTS_SQL}
WHERE ROUND(50.0 - COALESCE(
  (SELECT sum(a) FROM ov WHERE ov.region_id = g.region_id), 0), 6) > 0
UNION ALL
SELECT CAST(NULL AS BIGINT) AS region_id, CAST(m.mid AS BIGINT) AS mid,
       ROUND((mx1 - mx0) * (my1 - my0) - COALESCE(
         (SELECT sum(a) FROM ov WHERE ov.mid = m.mid), 0), 6) AS area_r
FROM {_SYMDIFF_RECTS_SQL}
WHERE ROUND((mx1 - mx0) * (my1 - my0) - COALESCE(
  (SELECT sum(a) FROM ov WHERE ov.mid = m.mid), 0), 6) > 0
""")
def q_overlay_symdiff_area(spark, sf_dir):
    """Layer x layer SymDifference (OGRLayer::SymDifference,
    ogrlayer.cpp:3588): subject \\ methods + method \\ subjects. The method
    rects extend past the grid's east edge (x in [155,195], grid ends at
    180), so each leaves a 15x10 leftover strip — the reverse difference
    fold must reproduce exactly 150 deg^2 per method."""
    import pandas as pd
    from pyspark.sql import types as T
    from .core import wkb as _wkb
    from .operators.overlay import overlay
    subject = datagen.regions(spark).where(F.col("kind") == "grid") \
        .select("region_id", "geom")
    mrows = [(m, _wkb.box(x0, y0, x1, y1))
             for m, x0, y0, x1, y1 in _SYMDIFF_RECTS]
    method = spark.createDataFrame(
        pd.DataFrame(mrows, columns=["mid", "geom"]),
        schema=T.StructType([T.StructField("mid", T.LongType()),
                             T.StructField("geom", T.BinaryType())]))
    out = overlay(subject, method, "symdifference")
    return out.select("region_id", "mid",
                      F.round(st.st_area("geom"), 6).alias("area_r")) \
        .where(F.col("area_r") > 0)


_PRED_WKT = {
    "SQ": "POLYGON ((0 0,10 0,10 10,0 10,0 0))",
    "SQ_OVER": "POLYGON ((5 5,15 5,15 15,5 15,5 5))",
    "SQ_EDGE": "POLYGON ((10 0,20 0,20 10,10 10,10 0))",
    "SQ_CORNER": "POLYGON ((10 10,20 10,20 20,10 20,10 10))",
    "SQ_IN": "POLYGON ((2 2,8 2,8 8,2 8,2 2))",
    "SQ_FAR": "POLYGON ((50 50,60 50,60 60,50 60,50 50))",
    "L_CROSS": "LINESTRING (-5 5,15 5)",
    "L_EDGE": "LINESTRING (10 2,10 8)",
    "L_OUT": "LINESTRING (20 20,30 30)",
    "L_A": "LINESTRING (0 0,10 10)",
    "L_B": "LINESTRING (0 10,10 0)",
    "L_SHARE_END": "LINESTRING (10 10,20 0)",
    "L_COLL": "LINESTRING (5 5,15 15)",
    "L_TJUNC": "LINESTRING (5 5,5 -5)",
    "P_IN": "POINT (5 5)",
    "P_ON": "POINT (10 5)",
    "P_OUT": "POINT (30 30)",
    "MP_STRADDLE": "MULTIPOINT ((5 5),(30 30))",
}

# (pair_id, a, b, intersects, disjoint, touches, crosses, overlaps, equals,
#  contains, within) — DE-9IM truth, pinned by tests/test_predicates.py
_PRED_CASES = [
    (1, "SQ", "SQ_OVER", 1, 0, 0, 0, 1, 0, 0, 0),
    (2, "SQ", "SQ_EDGE", 1, 0, 1, 0, 0, 0, 0, 0),
    (3, "SQ", "SQ_CORNER", 1, 0, 1, 0, 0, 0, 0, 0),
    (4, "SQ", "SQ", 1, 0, 0, 0, 0, 1, 1, 1),
    (5, "SQ", "SQ_IN", 1, 0, 0, 0, 0, 0, 1, 0),
    (6, "SQ", "SQ_FAR", 0, 1, 0, 0, 0, 0, 0, 0),
    (7, "L_CROSS", "SQ", 1, 0, 0, 1, 0, 0, 0, 0),
    (8, "L_EDGE", "SQ", 1, 0, 1, 0, 0, 0, 0, 0),
    (9, "L_OUT", "SQ", 0, 1, 0, 0, 0, 0, 0, 0),
    (10, "L_A", "L_B", 1, 0, 0, 1, 0, 0, 0, 0),
    (11, "L_A", "L_SHARE_END", 1, 0, 1, 0, 0, 0, 0, 0),
    (12, "L_A", "L_COLL", 1, 0, 0, 0, 1, 0, 0, 0),
    (13, "L_A", "L_A", 1, 0, 0, 0, 0, 1, 1, 1),
    (14, "L_TJUNC", "L_A", 1, 0, 1, 0, 0, 0, 0, 0),
    (15, "P_IN", "SQ", 1, 0, 0, 0, 0, 0, 0, 1),
    (16, "P_ON", "SQ", 1, 0, 1, 0, 0, 0, 0, 0),
    (17, "P_OUT", "SQ", 0, 1, 0, 0, 0, 0, 0, 0),
    (18, "MP_STRADDLE", "SQ", 1, 0, 0, 1, 0, 0, 0, 0),
]


def _pred_matrix_sql() -> str:
    rows = ", ".join(
        f"({pid}, {i}, {d}, {t}, {c}, {o}, {e}, {cn}, {wn})"
        for pid, _a, _b, i, d, t, c, o, e, cn, wn in _PRED_CASES)
    return (f"SELECT * FROM (VALUES {rows}) AS p(pair_id, intersects_i, "
            "disjoint_i, touches_i, crosses_i, overlaps_i, equals_i, "
            "contains_i, within_i)")


@_reg("st_predicate_matrix", _pred_matrix_sql())
def q_st_predicate_matrix(spark, sf_dir):
    """The full 8-predicate SQL surface (ogrsqlitesqlfunctions.cpp:875-884
    registers ST_Intersects/Equals/Disjoint/Touches/Crosses/Within/Contains/
    Overlaps) evaluated over analytically-placed shape pairs; the oracle is
    the hand-derived DE-9IM truth table."""
    import pandas as pd
    st.register_all(spark)
    pdf = pd.DataFrame(
        [(pid, _PRED_WKT[a], _PRED_WKT[b])
         for pid, a, b, *_x in _PRED_CASES],
        columns=["pair_id", "wkt_a", "wkt_b"])
    spark.createDataFrame(pdf).createOrReplaceTempView("pred_pairs_v")
    return spark.sql("""
        SELECT pair_id,
               CAST(ST_Intersects(a, b) AS INT)    AS intersects_i,
               CAST(ST_Disjoint(a, b) AS INT)      AS disjoint_i,
               CAST(ST_Touches(a, b) AS INT)       AS touches_i,
               CAST(ST_Crosses(a, b) AS INT)       AS crosses_i,
               CAST(ST_Overlaps(a, b) AS INT)      AS overlaps_i,
               CAST(ST_Equals(a, b) AS INT)        AS equals_i,
               CAST(ST_Contains(a, b) AS INT)      AS contains_i,
               CAST(ST_Within(a, b) AS INT)        AS within_i
        FROM (SELECT pair_id, ST_GeomFromText(wkt_a) AS a,
                     ST_GeomFromText(wkt_b) AS b FROM pred_pairs_v)
    """)


@_reg("warp_average", f"""
{_pts_cte()},
c AS (SELECT CAST(floor((lon + 180.0) / 5.625) AS BIGINT) AS x,
             CAST(floor((lat + 90.0) / 2.8125) AS BIGINT) AS y,
             count(*) AS v
      FROM pts GROUP BY 1, 2)
SELECT CAST(x >> 1 AS BIGINT) AS xo, CAST(y >> 1 AS BIGINT) AS yo,
       ROUND(sum(v) / 4.0, 6) AS val_r
FROM c GROUP BY 1, 2
""")
def q_warp_average(spark, sf_dir):
    """gdalwarp -r average, factor-2 downsample (GWKAverageOrMode,
    alg/gdalwarpkernel.cpp; resample enum alg/gdalwarper.h:37-67) of a 64x64
    page-density raster through the full distributed warp path (src-tile
    flatMap routing -> groupBy(dst tile) -> footprint reduce). Aligned
    grids make the footprint exactly 2x2, so the oracle is groupBy(x>>1)
    sum/4 with absent cells contributing 0."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from .raster.tiles import TILE_SCHEMA, encode_px
    from .raster.warp import WarpSpec, warp as warp_run
    from .raster.rasterize import GridSpec

    p = datagen.points(spark, sf_dir)
    x = F.floor((F.col("lon") + 180.0) / 5.625).cast("long")
    y = F.floor((F.col("lat") + 90.0) / 2.8125).cast("long")
    cnt = (p.select(x.alias("x"), y.alias("y"))
           .groupBy("x", "y").agg(F.count("*").cast("double").alias("v")))
    # one sentinel row per tile so every src tile materializes (zeros where
    # no pages — the warp's canvas then covers the full 64x64 grid)
    allt = spark.range(8).select(F.col("id").alias("tx")) \
        .crossJoin(spark.range(8).select(F.col("id").alias("ty"))) \
        .select((F.col("tx") * 8).alias("x"), (F.col("ty") * 8).alias("y"),
                F.lit(0.0).alias("v"))
    cells = cnt.unionByName(allt) \
        .withColumn("tile_x", F.shiftright("x", 3)) \
        .withColumn("tile_y", F.shiftright("y", 3))

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.zeros((8, 8), np.float64)
        np.add.at(arr, (pdf["y"].values & 7, pdf["x"].values & 7),
                  pdf["v"].values)
        return pd.DataFrame([(1, 0, int(key[0]), int(key[1]), "float64",
                              None, encode_px(arr))],
                            columns=[f.name for f in TILE_SCHEMA.fields])

    tiles8 = cells.groupBy("tile_x", "tile_y").applyInPandas(build,
                                                             TILE_SCHEMA)
    src = GridSpec(x0=0.0, y0=0.0, dx=1.0, dy=1.0, width=64, height=64,
                   tile=8)
    dst = GridSpec(x0=0.0, y0=0.0, dx=2.0, dy=2.0, width=32, height=32,
                   tile=8)
    out = warp_run(tiles8, WarpSpec(src, "EPSG:4326", dst, "EPSG:4326",
                                    "average"))

    px_schema = T.StructType([T.StructField("xo", T.LongType()),
                              T.StructField("yo", T.LongType()),
                              T.StructField("val_r", T.DoubleType())])

    def to_rows(batches):
        for pdf in batches:
            outs = []
            for r in pdf.itertuples():
                arr = np.frombuffer(r.px, dtype=np.float64).reshape(8, 8)
                ys, xs = np.nonzero(arr)
                for yy, xx in zip(ys, xs):
                    outs.append((int(r.tile_x) * 8 + int(xx),
                                 int(r.tile_y) * 8 + int(yy),
                                 round(float(arr[yy, xx]), 6)))
            yield pd.DataFrame(outs, columns=["xo", "yo", "val_r"]) if outs \
                else pd.DataFrame(columns=["xo", "yo", "val_r"])

    return out.mapInPandas(to_rows, px_schema)


# =============================================================================
# round 2: production-parameterized dedup family
# =============================================================================

def _minhash128_sql_parts():
    perms, bands = textops.MINHASH128_PERMS, textops.MINHASH_BANDS
    r = perms // bands
    p = textops.MH_PRIME
    sig_exprs = ", ".join(
        f"min((h1 + {j} * h2) % {p}) AS sig{j}" for j in range(perms))
    band_rows = ", ".join(
        "({b}, md5({key}))".format(
            b=b, key=" || '|' || ".join(
                f"sig{j}::VARCHAR" for j in range(b * r, (b + 1) * r)))
        for b in range(bands))
    return f"""
d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
d2 AS (SELECT doc_id, ws FROM d WHERE len(ws) >= 3),
ix AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
       FROM d2),
sh AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
       FROM ix),
hp AS (SELECT doc_id,
              ('0x' || substr(md5(sh), 1, 7))::BIGINT AS h1,
              ('0x' || substr(md5(sh), 9, 7))::BIGINT AS h2 FROM sh),
sig AS (SELECT doc_id, {sig_exprs} FROM hp GROUP BY doc_id),
bk AS (SELECT doc_id, b.band, b.key
       FROM sig, LATERAL (VALUES {band_rows}) AS b(band, key))
"""


@_reg("minhash128_bands", f"""
WITH {_minhash128_sql_parts()}
SELECT doc_id, CAST(band AS INTEGER) AS band, key FROM bk
""")
def q_minhash128_bands(spark, sf_dir):
    """Production-parameterized MinHash: 128 permutations via the
    (h1 + j*h2) mod p universal-hash trick, banded 16x8 — every (doc, band)
    LSH key hash-pinned against the same arithmetic in DuckDB."""
    return textops.minhash_band_keys(_t(spark, sf_dir, "documents"))


@_reg("minhash_cc_clusters", f"""
WITH RECURSIVE {_minhash128_sql_parts().strip().rstrip()},
e AS (SELECT a.doc_id AS s, b.doc_id AS d
      FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
      WHERE a.doc_id <> b.doc_id),
reach AS (SELECT doc_id AS s, doc_id AS d FROM documents
          UNION
          SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s),
comp AS (SELECT s, min(d) AS cluster FROM reach GROUP BY s)
SELECT cluster, CAST(count(*) AS BIGINT) AS n_docs FROM comp GROUP BY cluster
""")
def q_minhash_cc_clusters(spark, sf_dir):
    """Cross-band cluster merge: connected components over the shared-band
    graph via distributed min-label propagation (docs sharing ANY of the 16
    band keys merge). The oracle is an independent formulation — recursive-
    CTE transitive closure."""
    return textops.minhash_cc_clusters(_t(spark, sf_dir, "documents"))


def _simhash64_sql():
    sums = ", ".join(
        [f"SUM((((hh >> {b}) & 1) * 2 - 1)) AS a{b}" for b in range(32)]
        + [f"SUM((((hl >> {b}) & 1) * 2 - 1)) AS b{b}" for b in range(32)])
    fp_hi = " + ".join(
        f"(CASE WHEN a{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(32))
    fp_lo = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(32))
    return f"""
WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS hh,
                     ('0x' || substr(md5(w), 9, 8))::BIGINT AS hl FROM w),
s AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({fp_hi} AS BIGINT) AS simhash_hi,
       CAST({fp_lo} AS BIGINT) AS simhash_lo FROM s
"""


@_reg("simhash64", _simhash64_sql())
def q_simhash64(spark, sf_dir):
    """64-bit SimHash (production width) as two 32-bit words — signed-
    overflow-free in every engine; same majority-vote arithmetic as the
    16-bit demo, hash-pinned bit for bit."""
    return textops.simhash64(_t(spark, sf_dir, "documents"))


@_reg("embed_neardup_lsh_salted", _neardup_lsh_sql())
def q_embed_neardup_lsh_salted(spark, sf_dir):
    """The SALTED hot-bucket path of neardup_lsh (salt=4, hot_threshold=1 so
    every bucket salts): the triangle self-join must return EXACTLY the
    pairs of the plain bucket join — same oracle as embed_neardup_lsh."""
    out = simsearch.neardup_lsh(_t(spark, sf_dir, "embeddings"),
                                threshold=0.2, salt=4, hot_threshold=1)
    return out.select("a_id", "b_id", F.round("cos", 6).alias("cos_r"))


_GEOD_Q_SQL = ("((1 - 0.0066943799901413165) * "
               "(sin(radians({lat})) / (1 - 0.0066943799901413165 * "
               "sin(radians({lat})) * sin(radians({lat})))"
               " - ln((1 - 0.08181919084262149 * sin(radians({lat})))"
               " / (1 + 0.08181919084262149 * sin(radians({lat}))))"
               " / (2 * 0.08181919084262149)))")


@_reg("st_constructive", """
SELECT 1 AS case_id, 0.0 AS metric                  -- bowtie IsValid
UNION ALL SELECT 2, 1.0                             -- square IsValid
UNION ALL SELECT 3, 0.0                             -- bowtie line IsSimple
UNION ALL SELECT 4, 8.0                             -- MakeValid(bowtie) area
UNION ALL SELECT 5, 16.0                            -- negative buffer area
UNION ALL SELECT 6, 1.0                             -- PointOnSurface within
UNION ALL SELECT 7,
  ROUND(radians(2.0) * 6378137.0 * 6378137.0
        * ({q2} - {q1}) / 2 / 1e6, 3)               -- geodesic rect km^2
UNION ALL SELECT 8, ROUND(6378137.0 * pi() / 180, 2) -- 1 deg equator meters
""".format(q1=_GEOD_Q_SQL.format(lat="40.0"),
           q2=_GEOD_Q_SQL.format(lat="41.0")))
def q_st_constructive(spark, sf_dir):
    """The round-2 constructive/validity/geodesic SQL surface — MakeValid,
    Buffer (negative, exact erosion), PointOnSurface, IsValid/IsSimple,
    geodesic area/length — each case pinned to an ANALYTIC value (the
    geodesic rect via the authalic-q closed form evaluated IN SQL)."""
    from .core import wkb as _wkb
    import pandas as pd
    st.register_all(spark)
    shapes = pd.DataFrame({
        "name": ["bowtie", "square", "bowline", "cshape", "rect4041",
                 "eq_seg"],
        "geom": [
            _wkb.polygon([(0, 0), (4, 4), (4, 0), (0, 4)]),
            _wkb.box(0, 0, 6, 6),
            _wkb.linestring([(0, 0), (4, 4), (4, 0), (0, 4)]),
            _wkb.polygon([(0, 0), (10, 0), (10, 2), (2, 2), (2, 8),
                          (10, 8), (10, 10), (0, 10)]),
            _wkb.polygon([(10, 40), (12, 40), (12, 41), (10, 41)]),
            _wkb.linestring([(0, 0), (1, 0)]),
        ]})
    spark.createDataFrame(shapes).createOrReplaceTempView("shapes_v")
    return spark.sql("""
        SELECT 1 AS case_id,
               CAST(CAST(ST_IsValid(geom) AS INT) AS DOUBLE) AS metric
        FROM shapes_v WHERE name = 'bowtie'
        UNION ALL
        SELECT 2, CAST(CAST(ST_IsValid(geom) AS INT) AS DOUBLE)
        FROM shapes_v WHERE name = 'square'
        UNION ALL
        SELECT 3, CAST(CAST(ST_IsSimple(geom) AS INT) AS DOUBLE)
        FROM shapes_v WHERE name = 'bowline'
        UNION ALL
        SELECT 4, ST_Area(ST_MakeValid(geom))
        FROM shapes_v WHERE name = 'bowtie'
        UNION ALL
        SELECT 5, ST_Area(ST_Buffer(geom, -1.0))
        FROM shapes_v WHERE name = 'square'
        UNION ALL
        SELECT 6, CAST(CAST(ST_Within(ST_PointOnSurface(geom), geom)
                            AS INT) AS DOUBLE)
        FROM shapes_v WHERE name = 'cshape'
        UNION ALL
        SELECT 7, ROUND(ST_GeodesicArea(geom) / 1e6, 3)
        FROM shapes_v WHERE name = 'rect4041'
        UNION ALL
        SELECT 8, ROUND(ST_GeodesicLength(geom), 2)
        FROM shapes_v WHERE name = 'eq_seg'
    """)


@_reg("grid_linear", f"""
SELECT gi.range AS i, gj.range AS j,
       ROUND(2.0 + 0.25 * (-180.0 + (gi.range + 0.5) * 10.0)
             - 0.5 * (-90.0 + (gj.range + 0.5) * 10.0), 6) AS val_r
FROM range(36) gi, range(18) gj
WHERE gi.range BETWEEN 1 AND 34 AND gj.range BETWEEN 1 AND 16
""")
def q_grid_linear(spark, sf_dir):
    """gdal_grid linear (Delaunay + barycentric, alg/gdalgrid.cpp
    GDALGridLinear / alg/delaunay.c): interpolate an AFFINE field of the
    page locations onto the world grid. Linear interpolation reproduces
    affine fields exactly on ANY valid triangulation, so the oracle is the
    closed-form plane — an implementation-independent pin that still
    exercises the full distributed triangulate+interpolate path. Border
    nodes (possibly outside the convex hull) are excluded on both sides."""
    from .raster.gridding import grid_linear
    p = datagen.points(spark, sf_dir).select(
        F.col("lon").alias("x"), F.col("lat").alias("y"),
        (2.0 + 0.25 * F.col("lon") - 0.5 * F.col("lat")).alias("z"))
    out = grid_linear(p, x0=-180.0, y0=-90.0, dx=10.0, dy=10.0,
                      nx=36, ny=18, block=64)
    return (out.where((F.col("i").between(1, 34))
                      & (F.col("j").between(1, 16)))
            .select("i", "j", F.round("value", 6).alias("val_r")))


@_reg("polygonize_rings_density", f"""
WITH RECURSIVE pts AS ({datagen.POINTS_SQL}),
c AS (SELECT CAST(floor((lon + 180.0) / 5.625) AS BIGINT) AS x,
             CAST(floor((lat + 90.0) / 2.8125) AS BIGINT) AS y,
             count(*) AS v
      FROM pts GROUP BY 1, 2),
ids AS (SELECT x, y, v, y * 64 + x AS id FROM c),
adj AS (SELECT a.id AS s, b.id AS d FROM ids a, ids b
        WHERE a.v = b.v AND ((abs(a.x - b.x) = 1 AND a.y = b.y)
                             OR (a.x = b.x AND abs(a.y - b.y) = 1))),
reach AS (SELECT id AS s, id AS d FROM ids
          UNION
          SELECT r.s, a.d FROM reach r JOIN adj a ON r.d = a.s),
comp AS (SELECT s AS id, min(d) AS comp FROM reach GROUP BY s)
SELECT CAST(v AS DOUBLE) AS value, CAST(count(*) AS BIGINT) AS area_px
FROM ids JOIN comp USING (id) GROUP BY comp.comp, v
""")
def q_polygonize_rings_density(spark, sf_dir):
    """Polygonize with TRACED RINGS (alg/polygonize_polygonizer.cpp): the
    shoelace area of each component's polygon-with-holes must equal its
    pixel count — the strongest SQL-expressible pin on the ring tracer
    (the recursive-CTE oracle counts component pixels independently)."""
    import numpy as np
    import pandas as pd
    from .raster.polygonize import polygonize_polygons
    from .raster.tiles import TILE_SCHEMA, encode_px

    p = datagen.points(spark, sf_dir)
    x = F.floor((F.col("lon") + 180.0) / 5.625).cast("long")
    y = F.floor((F.col("lat") + 90.0) / 2.8125).cast("long")
    cnt = (p.select(x.alias("x"), y.alias("y"))
           .groupBy("x", "y").agg(F.count("*").alias("v"))
           .withColumn("tile_x", F.shiftright("x", 3))
           .withColumn("tile_y", F.shiftright("y", 3)))

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.zeros((8, 8), np.int64)
        arr[pdf["y"].values & 7, pdf["x"].values & 7] = pdf["v"].values
        return pd.DataFrame([(1, 0, int(key[0]), int(key[1]), "int64", 0.0,
                              encode_px(arr))],
                            columns=[f.name for f in TILE_SCHEMA.fields])

    tiles = cnt.groupBy("tile_x", "tile_y").applyInPandas(build, TILE_SCHEMA)
    out = polygonize_polygons(tiles, tile=8, nodata=0.0)
    return out.select("value",
                      F.round(st.st_area("geom")).cast("long")
                      .alias("area_px"))


def _neardup_banded_sql(bands: int = 4) -> str:
    unions = []
    for b in range(bands):
        planes = simsearch.hyperplanes(band=b)
        terms = []
        for i, pl in enumerate(planes):
            lit = "[" + ", ".join(repr(float(x)) for x in pl) + "]"
            terms.append(f"(CASE WHEN list_dot_product(v, {lit}) > 0"
                         f" THEN {1 << i} ELSE 0 END)")
        bucket = " + ".join(terms)
        unions.append(f"""
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       ROUND({_NEARDUP_COS}, 6) AS cos_r
FROM (SELECT vec_id, embedding::DOUBLE[] AS v,
             {bucket} AS bucket FROM embeddings) a
JOIN (SELECT vec_id, embedding::DOUBLE[] AS v,
             {bucket} AS bucket FROM embeddings) b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_NEARDUP_COS} >= 0.2""")
    return ("SELECT DISTINCT a_id, b_id, cos_r FROM ("
            + " UNION ALL ".join(unions) + ")")


@_reg("embed_neardup_lsh_banded", _neardup_banded_sql())
def q_embed_neardup_lsh_banded(spark, sf_dir):
    """Multi-band LSH near-dup (4 hyperplane rotations, candidates
    unioned + deduped): recall strictly >= the single band's; the oracle
    replays all four bucketings and the dedupe in SQL."""
    out = simsearch.neardup_lsh_banded(_t(spark, sf_dir, "embeddings"),
                                       threshold=0.2, bands=4)
    return out.select("a_id", "b_id", F.round("cos", 6).alias("cos_r"))


def _density_tiles_full(spark, sf_dir):
    """64x64 page-density raster with ALL tiles materialized (zeros where
    no pages) — shared input for the raster-statistics queries."""
    import numpy as np
    import pandas as pd
    from .raster.tiles import TILE_SCHEMA, encode_px

    p = datagen.points(spark, sf_dir)
    x = F.floor((F.col("lon") + 180.0) / 5.625).cast("long")
    y = F.floor((F.col("lat") + 90.0) / 2.8125).cast("long")
    cnt = (p.select(x.alias("x"), y.alias("y"))
           .groupBy("x", "y").agg(F.count("*").cast("double").alias("v")))
    allt = spark.range(8).select(F.col("id").alias("tx")) \
        .crossJoin(spark.range(8).select(F.col("id").alias("ty"))) \
        .select((F.col("tx") * 8).alias("x"), (F.col("ty") * 8).alias("y"),
                F.lit(0.0).alias("v"))
    cells = cnt.unionByName(allt) \
        .withColumn("tile_x", F.shiftright("x", 3)) \
        .withColumn("tile_y", F.shiftright("y", 3))

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.zeros((8, 8), np.float64)
        np.add.at(arr, (pdf["y"].values & 7, pdf["x"].values & 7),
                  pdf["v"].values)
        return pd.DataFrame([(1, 0, int(key[0]), int(key[1]), "float64",
                              None, encode_px(arr))],
                            columns=[f.name for f in TILE_SCHEMA.fields])

    return cells.groupBy("tile_x", "tile_y").applyInPandas(build,
                                                           TILE_SCHEMA)


_DENSITY_VALS_SQL = f"""
{_pts_cte()},
c AS (SELECT CAST(floor((lon + 180.0) / 5.625) AS BIGINT) AS x,
             CAST(floor((lat + 90.0) / 2.8125) AS BIGINT) AS y,
             count(*) AS v
      FROM pts GROUP BY 1, 2),
g AS (SELECT gx.range AS x, gy.range AS y FROM range(64) gx, range(64) gy),
vals AS (SELECT CAST(COALESCE(c.v, 0) AS DOUBLE) AS v
         FROM g LEFT JOIN c ON c.x = g.x AND c.y = g.y)
"""

_DENSITY_XY_SQL = _DENSITY_VALS_SQL.replace("vals AS (SELECT",
                                            "vals AS (SELECT g.x, g.y,")


@_reg("raster_stats", _DENSITY_VALS_SQL + """
SELECT CAST(1 AS INTEGER) AS band, CAST(count(*) AS BIGINT) AS n_valid,
       min(v) AS min_v, max(v) AS max_v,
       ROUND(avg(v), 6) AS mean_r,
       ROUND(stddev_pop(v), 6) AS stddev_r
FROM vals
""")
def q_raster_stats(spark, sf_dir):
    """GDALRasterBand::ComputeStatistics (exact pass, population stddev) as
    per-tile partials + one JVM combine; the oracle recomputes min/max/
    mean/stddev over the same 4096 cell values in SQL."""
    from .raster.stats import band_statistics
    t = _density_tiles_full(spark, sf_dir)
    out = band_statistics(t, tile=8)
    return out.select("band", "n_valid",
                      F.col("min").alias("min_v"),
                      F.col("max").alias("max_v"),
                      F.round("mean", 6).alias("mean_r"),
                      F.round("stddev", 6).alias("stddev_r"))


@_reg("raster_histogram", _DENSITY_VALS_SQL + """
SELECT CAST(1 AS INTEGER) AS band,
       CAST(least(floor(v / 0.5), 7) AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n
FROM vals GROUP BY 2
""")
def q_raster_histogram(spark, sf_dir):
    """GDALGetRasterHistogram: 8 buckets of width 0.5 over [0, 4) with
    out-of-range clamping into the end bucket — per-tile np.histogram
    partials summed in one groupBy; the oracle buckets the same values."""
    from .raster.stats import band_histogram
    t = _density_tiles_full(spark, sf_dir)
    return band_histogram(t, lo=0.0, hi=4.0, nbuckets=8, tile=8,
                          include_out_of_range=True)


@_reg("line_dedup", """
WITH d AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
l AS (SELECT doc_id, i AS pos, ls[i] AS line
      FROM d, unnest(generate_series(1, len(ls))) AS t(i)),
c AS (SELECT line, count(*) AS n FROM l GROUP BY line),
k AS (SELECT doc_id, l.pos, l.line FROM l JOIN c USING (line)
      WHERE c.n < 2)
SELECT d.doc_id,
       COALESCE(string_agg(k.line, chr(10) ORDER BY k.pos), '') AS text
FROM d LEFT JOIN k USING (doc_id)
GROUP BY d.doc_id
""")
def q_line_dedup(spark, sf_dir):
    """Line-level boilerplate removal (CCNet-style): every line repeated
    corpus-wide (>= 2 occurrences) drops; documents reassemble from the
    surviving lines in order — md5-value-hashed against the DuckDB twin."""
    return textops.line_dedup(_t(spark, sf_dir, "documents"), min_count=2)


@_reg("band_calc", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       ROUND(sqrt(v) + 2.0 * v, 6) AS val_r
FROM vals WHERE v > 0
""")
def q_band_calc(spark, sf_dir):
    """gdal_calc band algebra: sqrt(A) + 2*A over the density raster —
    evaluated per tile in numpy, the oracle recomputes the expression per
    cell in SQL."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from .raster.stats import band_calc
    from .raster.tiles import decode_px
    t = _density_tiles_full(spark, sf_dir)
    out = band_calc(t, "sqrt(A) + 2.0 * A", tile=8)

    px_schema = T.StructType([T.StructField("x", T.LongType()),
                              T.StructField("y", T.LongType()),
                              T.StructField("val_r", T.DoubleType())])

    def to_rows(batches):
        for pdf in batches:
            frames = []
            jj, ii = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
            for r in pdf.itertuples():
                arr = decode_px(r.px, "float64", 8)
                m = arr > 0
                frames.append(pd.DataFrame({
                    "x": int(r.tile_x) * 8 + ii[m],
                    "y": int(r.tile_y) * 8 + jj[m],
                    "val_r": np.round(arr[m], 6)}))
            yield pd.concat(frames) if frames else \
                pd.DataFrame(columns=["x", "y", "val_r"])

    return out.mapInPandas(to_rows, px_schema)


@_reg("ogr_special_fields", f"""
SELECT CAST(gx.range * {datagen.N_GRID_Y} + gy.range AS BIGINT) AS fid,
       'POLYGON' AS gtype,
       CAST(50.0 AS DOUBLE) AS geom_area,
       'POLYGON ' AS wkt_prefix
FROM range({datagen.N_GRID_X}) gx, range({datagen.N_GRID_Y}) gy
WHERE (gx.range * {datagen.N_GRID_Y} + gy.range) % 11 = 0
""")
def q_ogr_special_fields(spark, sf_dir):
    """OGR SQL special fields (ogr/ogrfeaturequery.cpp:37, ogr/ogr_p.h:
    164-168: FID, OGR_GEOMETRY, OGR_GEOM_AREA, OGR_GEOM_WKT) as plain
    derived columns over the registered ST_ surface — the SURVEY §1.1
    mapping, oracle-pinned analytically."""
    st.register_all(spark)
    datagen.regions(spark).where(F.col("kind") == "grid") \
        .createOrReplaceTempView("regions_sf_v")
    return spark.sql("""
        SELECT region_id AS fid,
               ST_GeometryType(geom) AS gtype,
               ST_Area(geom) AS geom_area,
               substr(ST_AsText(geom), 1, 8) AS wkt_prefix
        FROM regions_sf_v WHERE region_id % 11 = 0
    """)


@_reg("translate_reproject", f"""
{_pts_cte()}
SELECT doc_id,
       ROUND(6378137.0 * radians(lon), 3) AS mx,
       ROUND(6378137.0 * ln(tan(pi() / 4 + radians(lat) / 2)), 3) AS my
FROM pts WHERE doc_id % 13 = 0
""")
def q_translate_reproject(spark, sf_dir):
    """The ogr2ogr -t_srs stage through the FULL translate chain (batched
    leaf-array CRS transform): page points reproject 4326 -> 3857 and the
    oracle evaluates the spherical-mercator closed form in SQL."""
    from .operators.translate import TranslateOptions, translate
    st.register_all(spark)
    p = datagen.points(spark, sf_dir).where(F.col("doc_id") % 13 == 0)
    pts = p.selectExpr("doc_id", "ST_MakePoint(lon, lat) AS geom")
    out = translate(pts, TranslateOptions(src_crs="EPSG:4326",
                                          dst_crs="EPSG:3857"))
    return out.select("doc_id",
                      F.round(st.st_x("geom"), 3).alias("mx"),
                      F.round(st.st_y("geom"), 3).alias("my"))


@_reg("overlay_union_bigjoin", ORACLE["overlay_union_area"])
def q_overlay_union_bigjoin(spark, sf_dir):
    """The BIG x BIG overlay path (cell-cover equi-join + per-key
    difference folds, zero driver collect) driven through the same Union
    contract and ANALYTIC ORACLE as the broadcast path — the scale variant
    is value-hash-pinned, not just pytest-compared."""
    from .operators.overlay import overlay_join
    subject, method = _overlay_inputs(spark)
    out = overlay_join(subject, method, "union", cell_size=10.0,
                       sid_col="region_id")
    return out.select("region_id", "mid",
                      F.round(st.st_area("geom"), 6).alias("area_r")) \
        .where(F.col("area_r") > 0)


@_reg("warp_near_mercator", f"""
{_pts_cte()},
c AS (SELECT CAST(floor((lon + 180.0) / 5.625) AS BIGINT) AS x,
             CAST(floor((90.0 - lat) / 2.8125) AS BIGINT) AS y,
             count(*) AS v
      FROM pts GROUP BY 1, 2),
d AS (SELECT gi.range AS i, gj.range AS j,
             -20037508.342789244 + (gi.range + 0.5) * 626172.1357121639
               AS mx,
             20037508.342789244 - (gj.range + 0.5) * 626172.1357121639
               AS my
      FROM range(64) gi, range(64) gj),
ll AS (SELECT i, j,
              degrees(mx / 6378137.0) AS lon,
              degrees(2 * atan(exp(my / 6378137.0)) - pi() / 2) AS lat
       FROM d),
px AS (SELECT i, j, CAST(floor((lon + 180.0) / 5.625) AS BIGINT) AS sx,
              CAST(floor((90.0 - lat) / 2.8125) AS BIGINT) AS sy
       FROM ll)
SELECT px.i, px.j, CAST(c.v AS DOUBLE) AS val_r
FROM px JOIN c ON c.x = px.sx AND c.y = px.sy
""")
def q_warp_near_mercator(spark, sf_dir):
    """gdalwarp through a REAL CRS change: the 64x64 lon/lat density
    raster warps onto a spherical-mercator grid with the near kernel —
    dst pixel center -> inverse mercator -> src pixel floor, which the
    oracle replays with the closed-form mercator inverse in SQL. Pins the
    full distributed warp path (tile routing, canvas, CT chain) with a
    non-identity transformer."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from .raster.tiles import TILE_SCHEMA, decode_px, encode_px
    from .raster.warp import WarpSpec, warp as warp_run
    from .raster.rasterize import GridSpec

    p = datagen.points(spark, sf_dir)
    x = F.floor((F.col("lon") + 180.0) / 5.625).cast("long")
    y = F.floor((90.0 - F.col("lat")) / 2.8125).cast("long")
    cnt = (p.select(x.alias("x"), y.alias("y"))
           .groupBy("x", "y").agg(F.count("*").cast("double").alias("v"))
           .withColumn("tile_x", F.shiftright("x", 3))
           .withColumn("tile_y", F.shiftright("y", 3)))

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.zeros((8, 8), np.float64)
        arr[pdf["y"].values & 7, pdf["x"].values & 7] = pdf["v"].values
        return pd.DataFrame([(1, 0, int(key[0]), int(key[1]), "float64",
                              None, encode_px(arr))],
                            columns=[f.name for f in TILE_SCHEMA.fields])

    tiles8 = cnt.groupBy("tile_x", "tile_y").applyInPandas(build,
                                                           TILE_SCHEMA)
    merc = 20037508.342789244
    src = GridSpec(x0=-180.0, y0=90.0, dx=5.625, dy=-2.8125,
                   width=64, height=64, tile=8)
    dst = GridSpec(x0=-merc, y0=merc, dx=2 * merc / 64, dy=-2 * merc / 64,
                   width=64, height=64, tile=8)
    out = warp_run(tiles8, WarpSpec(src, "EPSG:4326", dst, "EPSG:3857",
                                    "near", fill=0.0))

    px_schema = T.StructType([T.StructField("i", T.LongType()),
                              T.StructField("j", T.LongType()),
                              T.StructField("val_r", T.DoubleType())])

    def to_rows(batches):
        jj, ii = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
        for pdf in batches:
            frames = []
            for r in pdf.itertuples():
                arr = decode_px(r.px, "float64", 8)
                m = arr != 0
                frames.append(pd.DataFrame({
                    "i": int(r.tile_x) * 8 + ii[m],
                    "j": int(r.tile_y) * 8 + jj[m],
                    "val_r": arr[m]}))
            yield pd.concat(frames) if frames else \
                pd.DataFrame(columns=["i", "j", "val_r"])

    return out.mapInPandas(to_rows, px_schema)


# =============================================================================
# Round 3: driver oracles for the previously pytest-only raster operators
# (sieve, fillnodata, DEM suite, color-relief, viewshed, pansharpen,
#  footprint, mosaic, rtranslate, sub-pixel contour bands)
# =============================================================================

def _pxy_udfs():
    """(px, py) pandas UDFs extracting point coordinates from WKB via the
    vectorized `wkb.points_batch` lane (one concat + one frombuffer per
    Arrow batch — no per-row Python decode); falls back to per-row decode
    only when a batch contains non-POINT geometries."""
    from .core import wkb as _wkb

    def _lane(col_idx):
        @F.pandas_udf("double")
        def f(geom):
            import numpy as np
            import pandas as pd
            blobs = list(geom)
            pts = _wkb.points_batch(blobs)
            if pts is not None:
                return pd.Series(np.ascontiguousarray(pts[:, col_idx]))
            return pd.Series([_wkb.decode(bytes(b)).rings[0][0][col_idx]
                              for b in blobs])
        return f

    return _lane(0), _lane(1)


def _px_rows(tiles_df, tile=8, dtype="float64", name="val_r",
             round_to=None, drop_zero=False):
    """Tile table -> (x, y, <name>) rows for oracle comparison."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from .raster.tiles import decode_px

    schema = T.StructType([T.StructField("x", T.LongType()),
                           T.StructField("y", T.LongType()),
                           T.StructField(name, T.DoubleType())])

    def to_rows(batches):
        jj, ii = np.meshgrid(np.arange(tile), np.arange(tile),
                             indexing="ij")
        for pdf in batches:
            frames = []
            for r in pdf.itertuples():
                arr = decode_px(r.px, dtype, tile).astype(np.float64)
                m = arr != 0 if drop_zero else np.ones_like(arr, bool)
                v = arr[m]
                if round_to is not None:
                    v = np.round(v, round_to)
                frames.append(pd.DataFrame({
                    "x": int(r.tile_x) * tile + ii[m],
                    "y": int(r.tile_y) * tile + jj[m],
                    name: v}))
            yield pd.concat(frames) if frames else \
                pd.DataFrame(columns=["x", "y", name])

    return tiles_df.mapInPandas(to_rows, schema)


def _xyv(tiles_df, name="v"):
    """8-px tile table -> (x, y, <name>) rows through gdal2xyz: the
    read-back side of the raster round trips."""
    from .raster.tiles import gdal2xyz
    return gdal2xyz(tiles_df, tile=8).select(
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
        F.col("value").alias(name))


def _map_px(tiles_df, fn):
    """Per-tile numpy map over an 8-px tile table: every tile's pixels
    become fn(pixels); the dtype tag ("f8", "u1", ...) is taken from the
    array fn returns."""
    import pandas as pd
    from .raster.tiles import decode_px, encode_px

    def run(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = fn(decode_px(r.px, r.dtype, 8))
                out.append((r.band, r.zoom, r.tile_x, r.tile_y,
                            f"{arr.dtype.kind}{arr.dtype.itemsize}",
                            r.nodata, encode_px(arr)))
            yield pd.DataFrame(out, columns=list(pdf.columns))

    return tiles_df.mapInPandas(run, tiles_df.schema)


_HORN_NB_SQL = """
nb AS (SELECT a.x, a.y,
        max(CASE WHEN b.x=a.x-1 AND b.y=a.y-1 THEN b.v END) AS z0,
        max(CASE WHEN b.x=a.x   AND b.y=a.y-1 THEN b.v END) AS z1,
        max(CASE WHEN b.x=a.x+1 AND b.y=a.y-1 THEN b.v END) AS z2,
        max(CASE WHEN b.x=a.x-1 AND b.y=a.y   THEN b.v END) AS z3,
        max(CASE WHEN b.x=a.x   AND b.y=a.y   THEN b.v END) AS z4,
        max(CASE WHEN b.x=a.x+1 AND b.y=a.y   THEN b.v END) AS z5,
        max(CASE WHEN b.x=a.x-1 AND b.y=a.y+1 THEN b.v END) AS z6,
        max(CASE WHEN b.x=a.x   AND b.y=a.y+1 THEN b.v END) AS z7,
        max(CASE WHEN b.x=a.x+1 AND b.y=a.y+1 THEN b.v END) AS z8
       FROM vals a JOIN vals b
         ON abs(a.x - b.x) <= 1 AND abs(a.y - b.y) <= 1
       WHERE a.x BETWEEN 1 AND 62 AND a.y BETWEEN 1 AND 62
       GROUP BY a.x, a.y),
grad AS (SELECT x, y, z4,
          ((z2 + 2*z5 + z8) - (z0 + 2*z3 + z6)) / 8.0 AS dzdx,
          ((z6 + 2*z7 + z8) - (z0 + 2*z1 + z2)) / 8.0 AS dzdy,
          z0, z1, z2, z3, z5, z6, z7, z8
         FROM nb)
"""


@_reg("dem_horn_density", _DENSITY_XY_SQL + "," + _HORN_NB_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       ROUND(degrees(atan(sqrt(dzdx*dzdx + dzdy*dzdy))), 6) AS slope_r,
       ROUND(CASE WHEN degrees(atan2(dzdy, -dzdx)) < 0
                  THEN 90.0 - degrees(atan2(dzdy, -dzdx))
                  WHEN degrees(atan2(dzdy, -dzdx)) > 90.0
                  THEN 360.0 - degrees(atan2(dzdy, -dzdx)) + 90.0
                  ELSE 90.0 - degrees(atan2(dzdy, -dzdx)) END, 6)
         AS aspect_r,
       least(greatest(ROUND(254.0 *
             (sin(radians(45.0)) * cos(atan(sqrt(dzdx*dzdx + dzdy*dzdy)))
              + cos(radians(45.0)) * sin(atan(sqrt(dzdx*dzdx + dzdy*dzdy)))
                * cos(radians(315.0) - pi()/2.0 - atan2(dzdy, -dzdx)))) + 1.0,
             1.0), 255.0) AS shade_r
FROM grad
WHERE dzdx != 0 OR dzdy != 0
""")
def q_dem_horn_density(spark, sf_dir):
    """gdaldem slope / aspect / hillshade (apps/gdaldem_lib.cpp:754-760
    Horn 3x3 gradients) over the density DEM — halo-exchange stencil job;
    the oracle recomputes the Horn window, slope/aspect conversion and the
    254*shade+1 clamp per interior pixel in SQL. Flat pixels excluded
    (aspect undefined there in both engines)."""
    from .raster.dem import dem_op
    t = _density_tiles_full(spark, sf_dir)
    slope = _px_rows(dem_op(t, "slope", tile=8), name="slope_v")
    aspect = _px_rows(dem_op(t, "aspect", tile=8), name="aspect_v")
    shade = _px_rows(dem_op(t, "hillshade", tile=8), name="shade_v")
    out = (slope.join(aspect, ["x", "y"]).join(shade, ["x", "y"])
           .where((F.col("x").between(1, 62)) & (F.col("y").between(1, 62))
                  & (F.col("slope_v") != 0.0)))
    return out.select("x", "y",
                      F.round("slope_v", 6).alias("slope_r"),
                      F.round("aspect_v", 6).alias("aspect_r"),
                      F.col("shade_v").alias("shade_r"))


@_reg("dem_shade_variants", _DENSITY_XY_SQL + "," + _HORN_NB_SQL + """,
ab AS (SELECT x, y, -dzdx AS a, dzdy AS b,
        dzdx*dzdx + dzdy*dzdy AS q
       FROM grad WHERE dzdx != 0 OR dzdy != 0),
parts AS (SELECT x, y, a, b, q,
    acos(least(greatest(
      (sin(radians(45.0)) - (b*cos(radians(315.0))*cos(radians(45.0))
                             - a*sin(radians(315.0))*cos(radians(45.0))))
      / sqrt(1.0 + q), -1.0), 1.0)) AS ac,
    greatest(127.0*(sin(radians(45.0))
             + (a-b)*cos(radians(225.0))*cos(radians(45.0))), 0.0) AS v225,
    greatest(127.0*(sin(radians(45.0)) - a*cos(radians(45.0))), 0.0) AS v270,
    greatest(127.0*(sin(radians(45.0))
             + (a+b)*cos(radians(225.0))*cos(radians(45.0))), 0.0) AS v315,
    greatest(127.0*(sin(radians(45.0)) - b*cos(radians(45.0))), 0.0) AS v360,
    fmod(fmod(atan2(b, a), 2.0*pi()) + 2.0*pi(), 2.0*pi()) AS asp
   FROM ab),
res AS (SELECT x, y, q,
    1.0 - ac * atan(sqrt(q)) / (pi()*pi()/4.0) AS cmb,
    ((0.5*q - a*b)*v225 + (a*a)*v270 + (q - (0.5*q - a*b))*v315
     + (b*b)*v360) / q / sqrt(1.0 + q) AS md,
    CASE WHEN abs(asp - 7.0*pi()/4.0) > pi()
         THEN 2.0*pi() - abs(asp - 7.0*pi()/4.0)
         ELSE abs(asp - 7.0*pi()/4.0) END AS dif
   FROM parts)
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       ROUND(CASE WHEN cmb <= 0.0 THEN 1.0
                  ELSE 1.0 + 254.0*cmb END, 6) AS combined_r,
       ROUND(1.0 + md, 6) AS multi_r,
       ROUND(255.0 * (1.0 - (degrees(atan(sqrt(q)))/90.0)
                      * (1.0 - dif/pi())), 6) AS igor_r
FROM res
""")
def q_dem_shade_variants(spark, sf_dir):
    """gdaldem hillshade -combined / -multidirectional / -igor
    (GDALHillshadeCombinedAlg gdaldem_lib.cpp:1077, MultiDirectionalAlg
    :1162 with the USGS OF 92-422 weights, IgorAlg :842) over the density
    DEM — the oracle transcribes all three shade formulas per interior
    non-flat pixel in SQL from the same Horn gradients."""
    from .raster.dem import dem_op
    t = _density_tiles_full(spark, sf_dir)
    cmb = _px_rows(dem_op(t, "hillshade_combined", tile=8,
                          altitude=45.0, azimuth=315.0), name="cmb_v")
    md = _px_rows(dem_op(t, "hillshade_multidirectional", tile=8,
                         altitude=45.0, azimuth=315.0), name="md_v")
    ig = _px_rows(dem_op(t, "hillshade_igor", tile=8,
                         altitude=45.0, azimuth=315.0), name="ig_v")
    slope = _px_rows(dem_op(t, "slope", tile=8), name="slope_v")
    out = (cmb.join(md, ["x", "y"]).join(ig, ["x", "y"])
           .join(slope, ["x", "y"])
           .where((F.col("x").between(1, 62)) & (F.col("y").between(1, 62))
                  & (F.col("slope_v") != 0.0)))
    return out.select("x", "y",
                      F.round("cmb_v", 6).alias("combined_r"),
                      F.round("md_v", 6).alias("multi_r"),
                      F.round("ig_v", 6).alias("igor_r"))


@_reg("dem_slope_aspect_opts", _DENSITY_XY_SQL + "," + _HORN_NB_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       ROUND(100.0 * sqrt(dzdx*dzdx + dzdy*dzdy), 6) AS slope_pct_r,
       ROUND(CASE WHEN degrees(atan2(dzdy, -dzdx)) < 0
                  THEN degrees(atan2(dzdy, -dzdx)) + 360.0
                  WHEN degrees(atan2(dzdy, -dzdx)) = 360.0 THEN 0.0
                  ELSE degrees(atan2(dzdy, -dzdx)) END, 6) AS aspect_trig_r
FROM grad WHERE dzdx != 0 OR dzdy != 0
""")
def q_dem_slope_aspect_opts(spark, sf_dir):
    """gdaldem slope -p and aspect -trigonometric (GDALSlopeHornAlg
    slopeFormat==0 gdaldem_lib.cpp:1279; GDALAspectAlg
    bAngleAsAzimuth=false :1349): percent slope = 100*rise/run and the
    0-360 math-convention aspect, both recomputed closed-form by the
    oracle from the Horn gradients. Flat pixels (NaN aspect = dst nodata)
    are excluded on both sides."""
    from .raster.dem import dem_op
    t = _density_tiles_full(spark, sf_dir)
    pct = _px_rows(dem_op(t, "slope_percent", tile=8), name="pct_v")
    trig = _px_rows(dem_op(t, "aspect_trig", tile=8), name="trig_v")
    out = (pct.join(trig, ["x", "y"])
           .where((F.col("x").between(1, 62)) & (F.col("y").between(1, 62))
                  & (F.col("pct_v") != 0.0) & ~F.isnan("trig_v")))
    return out.select("x", "y",
                      F.round("pct_v", 6).alias("slope_pct_r"),
                      F.round("trig_v", 6).alias("aspect_trig_r"))


@_reg("dem_tri_tpi_roughness", _DENSITY_XY_SQL + "," + _HORN_NB_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       ROUND((abs(z4-z0)+abs(z4-z1)+abs(z4-z2)+abs(z4-z3)
              +abs(z4-z5)+abs(z4-z6)+abs(z4-z7)+abs(z4-z8)) / 8.0, 6)
         AS tri_r,
       ROUND(z4 - (z0+z1+z2+z3+z5+z6+z7+z8) / 8.0, 6) AS tpi_r,
       ROUND(greatest(z0,z1,z2,z3,z4,z5,z6,z7,z8)
             - least(z0,z1,z2,z3,z4,z5,z6,z7,z8), 6) AS rough_r
FROM grad
""")
def q_dem_tri_tpi_roughness(spark, sf_dir):
    """gdaldem TRI (Riley) / TPI / roughness (apps/gdaldem_lib.cpp) over
    the density DEM; interior pixels vs the closed-form 3x3 window math
    in SQL."""
    from .raster.dem import dem_op
    t = _density_tiles_full(spark, sf_dir)
    tri = _px_rows(dem_op(t, "tri", tile=8), name="tri_v")
    tpi = _px_rows(dem_op(t, "tpi", tile=8), name="tpi_v")
    rough = _px_rows(dem_op(t, "roughness", tile=8), name="rough_v")
    out = (tri.join(tpi, ["x", "y"]).join(rough, ["x", "y"])
           .where((F.col("x").between(1, 62))
                  & (F.col("y").between(1, 62))))
    return out.select("x", "y",
                      F.round("tri_v", 6).alias("tri_r"),
                      F.round("tpi_v", 6).alias("tpi_r"),
                      F.round("rough_v", 6).alias("rough_r"))


@_reg("color_relief_ramp", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       least(v, 200.0) + 10.0 AS r_v,
       least(v, 200.0) + 16.0 AS g_v,
       least(v, 200.0) + 32.0 AS b_v
FROM vals
""")
def q_color_relief_ramp(spark, sf_dir):
    """gdaldem color-relief (apps/gdaldem_lib.cpp INTERPOLATE mode): a
    unit-slope two-stop ramp maps count v to (v+10, v+16, v+32) clamped at
    v=200 — integer-exact linear interpolation, recomputed per cell in
    SQL. Bands 1/2/3 pivot back to r/g/b columns."""
    from .raster.dem import color_relief
    t = _density_tiles_full(spark, sf_dir)
    colors = [(0.0, 10, 16, 32), (200.0, 210, 216, 232)]
    out = color_relief(t, colors, tile=8, interpolate=True)
    rows = _px_rows_banded(out, tile=8, dtype="uint8")
    return (rows.groupBy("x", "y")
            .agg(F.max(F.when(F.col("band") == 1, F.col("val"))).alias("r_v"),
                 F.max(F.when(F.col("band") == 2, F.col("val"))).alias("g_v"),
                 F.max(F.when(F.col("band") == 3, F.col("val"))).alias("b_v")))


def _px_rows_banded(tiles_df, tile=8, dtype="float64"):
    """Tile table -> (band, x, y, val) rows (multi-band variant)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from .raster.tiles import decode_px

    schema = T.StructType([T.StructField("band", T.IntegerType()),
                           T.StructField("x", T.LongType()),
                           T.StructField("y", T.LongType()),
                           T.StructField("val", T.DoubleType())])

    def to_rows(batches):
        jj, ii = np.meshgrid(np.arange(tile), np.arange(tile),
                             indexing="ij")
        for pdf in batches:
            frames = []
            for r in pdf.itertuples():
                arr = decode_px(r.px, r.dtype if dtype is None else dtype,
                                tile).astype(np.float64)
                frames.append(pd.DataFrame({
                    "band": int(r.band),
                    "x": int(r.tile_x) * tile + ii.ravel(),
                    "y": int(r.tile_y) * tile + jj.ravel(),
                    "val": arr.ravel()}))
            yield pd.concat(frames) if frames else \
                pd.DataFrame(columns=["band", "x", "y", "val"])

    return tiles_df.mapInPandas(to_rows, schema)


@_reg("pansharpen_brovey", _DENSITY_XY_SQL + """
SELECT CAST(b.band AS INTEGER) AS band,
       CAST(v.x AS BIGINT) AS x, CAST(v.y AS BIGINT) AS y,
       ROUND(CASE WHEN v.v + (v.v + 3.0) != 0
                  THEN (CASE WHEN b.band = 1 THEN v.v ELSE v.v + 3.0 END)
                       * 2.0
                  ELSE 0.0 END, 6) AS val_r
FROM vals v, (SELECT 1 AS band UNION ALL SELECT 2) b
""")
def q_pansharpen_brovey(spark, sf_dir):
    """Weighted-Brovey pansharpening (alg/gdalpansharpen.cpp): ms bands
    (v, v+3) with pan = their SUM -> ratio pan/pseudo_pan = 2 exactly, so
    out_i = 2*ms_i wherever pseudo_pan != 0 (else 0) — the Brovey identity
    law, recomputed in SQL."""
    import numpy as np
    import pandas as pd
    from .raster.mosaic import pansharpen
    from .raster.tiles import TILE_SCHEMA, decode_px, encode_px
    t = _density_tiles_full(spark, sf_dir)

    def expand(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                arr = decode_px(r.px, r.dtype, 8)
                out.append((1, r.zoom, r.tile_x, r.tile_y, "float64",
                            None, encode_px(arr)))
                out.append((2, r.zoom, r.tile_x, r.tile_y, "float64",
                            None, encode_px(arr + 3.0)))
            yield pd.DataFrame(out, columns=[f.name for f in
                                             TILE_SCHEMA.fields])

    def pan_of(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                arr = decode_px(r.px, r.dtype, 8)
                out.append((1, r.zoom, r.tile_x, r.tile_y, "float64",
                            None, encode_px(arr + (arr + 3.0))))
            yield pd.DataFrame(out, columns=[f.name for f in
                                             TILE_SCHEMA.fields])

    ms = t.mapInPandas(expand, TILE_SCHEMA)
    pan = t.mapInPandas(pan_of, TILE_SCHEMA)
    out = pansharpen(ms, pan, tile=8)
    rows = _px_rows_banded(out, tile=8)
    return rows.select("band", "x", "y",
                       F.round("val", 6).alias("val_r"))


@_reg("mosaic_last_on_top", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CASE WHEN x < 32 AND v > 0 THEN 2.0 * v ELSE v END AS val_r
FROM vals
""")
def q_mosaic_last_on_top(spark, sf_dir):
    """Mosaic compositing (gdal_merge last-on-top rule): source 0 = the
    density raster, source 1 = its doubled west half — wherever source 1
    has data (!= nodata 0) it wins; the oracle applies the same rule per
    cell."""
    import pandas as pd
    from .raster.mosaic import mosaic
    from .raster.tiles import TILE_SCHEMA, decode_px, encode_px
    t = _density_tiles_full(spark, sf_dir) \
        .withColumn("nodata", F.lit(0.0))

    def west_double(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                if int(r.tile_x) >= 4:
                    continue
                arr = decode_px(r.px, r.dtype, 8)
                out.append((r.band, r.zoom, r.tile_x, r.tile_y, r.dtype,
                            0.0, encode_px(arr * 2.0)))
            yield pd.DataFrame(out, columns=[f.name for f in
                                             TILE_SCHEMA.fields]) \
                if out else pd.DataFrame(columns=[f.name for f in
                                                  TILE_SCHEMA.fields])

    src0 = t.withColumn("seq", F.lit(0))
    src1 = t.mapInPandas(west_double, TILE_SCHEMA) \
        .withColumn("seq", F.lit(1))
    out = mosaic(src0.unionByName(src1), tile=8, nodata=0.0)
    return _px_rows(out, tile=8)


@_reg("rtranslate_window_scale", _DENSITY_XY_SQL + """
SELECT CAST(x - 8 AS BIGINT) AS x, CAST(y - 8 AS BIGINT) AS y,
       ROUND(v * 25.0, 6) AS val_r
FROM vals
WHERE x BETWEEN 8 AND 39 AND y BETWEEN 8 AND 39
""")
def q_rtranslate_window_scale(spark, sf_dir):
    """gdal_translate -srcwin 8 8 32 32 -scale 0 4 0 100
    (apps/gdal_translate_lib.cpp): windowed copy + linear rescale
    (k = 25), recomputed per source cell in SQL."""
    from .raster.rasterize import GridSpec
    from .raster.rtranslate import translate_raster
    t = _density_tiles_full(spark, sf_dir)
    grid = GridSpec(x0=0.0, y0=0.0, dx=1.0, dy=-1.0,
                    width=64, height=64, tile=8)
    out = translate_raster(t, grid, srcwin=(8, 8, 32, 32),
                           scale=(0.0, 4.0, 0.0, 100.0))
    return _px_rows(out, tile=8, round_to=6)


@_reg("footprint_density", f"""
WITH RECURSIVE pts AS ({datagen.POINTS_SQL}),
c AS (SELECT CAST(floor((lon + 180.0) / 5.625) AS BIGINT) AS x,
             CAST(floor((lat + 90.0) / 2.8125) AS BIGINT) AS y
      FROM pts GROUP BY 1, 2),
ids AS (SELECT x, y, y * 64 + x AS id FROM c),
adj AS (SELECT a.id AS s, b.id AS d FROM ids a, ids b
        WHERE (abs(a.x - b.x) = 1 AND a.y = b.y)
           OR (a.x = b.x AND abs(a.y - b.y) = 1)),
reach AS (SELECT id AS s, id AS d FROM ids
          UNION
          SELECT r.s, a.d FROM reach r JOIN adj a ON r.d = a.s),
comp AS (SELECT s AS id, min(d) AS comp FROM reach GROUP BY s)
SELECT CAST(count(*) AS BIGINT) AS n_pixels,
       CAST((max(x) - min(x) + 1) * (max(y) - min(y) + 1) AS DOUBLE)
         AS area_r
FROM ids JOIN comp USING (id) GROUP BY comp.comp
""")
def q_footprint_density(spark, sf_dir):
    """gdal_footprint (apps/gdal_footprint_lib.cpp): connected data
    regions of the density raster (nodata=0) with their envelope
    polygons; the oracle rebuilds the components with a recursive-CTE
    closure and compares (n_pixels, envelope area) per region."""
    from .raster.mosaic import footprint
    t = _density_tiles_full(spark, sf_dir).withColumn("nodata", F.lit(0.0))
    out = footprint(t, tile=8)
    return out.select("n_pixels", st.st_area("geom").alias("area_r"))


@_reg("viewshed_cone", f"""
{_pts_cte()}
SELECT gx.range AS gpx, gy.range AS gpy, CAST(1 AS INTEGER) AS visible
FROM range(64) gx, range(64) gy
""")
def q_viewshed_cone(spark, sf_dir):
    """Viewshed (alg/viewshed/viewshed.cpp) from the apex of a cone whose
    height is anchored to the corpus size: elevation angles increase
    monotonically along every ray, so every one of the 64x64 pixels is
    visible — the closed-form oracle. Pins the shuffle-by-ray R2 pipeline
    (azimuth bucketing, radius sort, running-max scan) end to end."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from .raster.dem import viewshed
    from .raster.tiles import TILE_SCHEMA, encode_px

    n_docs = int(datagen.points(spark, sf_dir).count())
    peak = 100.0 + (n_docs % 50)

    tile_ids = spark.range(8).select(F.col("id").alias("tile_x")) \
        .crossJoin(spark.range(8).select(F.col("id").alias("tile_y")))

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        jj, ii = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
        gx = tx * 8 + ii + 0.5
        gy = ty * 8 + jj + 0.5
        z = peak - np.hypot(gx - 32.0, gy - 32.0)
        return pd.DataFrame([(1, 0, tx, ty, "float64", None,
                              encode_px(z.astype(np.float64)))],
                            columns=[f.name for f in TILE_SCHEMA.fields])

    tiles = tile_ids.groupBy("tile_x", "tile_y").applyInPandas(
        build, TILE_SCHEMA)
    return viewshed(tiles, ox=32.0, oy=32.0, oz=peak + 5.0, tile=8,
                    n_rays=720).select("gpx", "gpy", "visible")


@_reg("fillnodata_idw", _DENSITY_XY_SQL + """,
dirs(dx, dy) AS (VALUES (-1,0),(1,0),(0,-1),(0,1),
                        (-1,-1),(1,-1),(-1,1),(1,1)),
ks AS (SELECT range AS k FROM range(1, 4)),
holes AS (SELECT x, y FROM vals WHERE v = 0),
hits AS (SELECT h.x, h.y, d.dx, d.dy, min(ks.k) AS k
         FROM holes h CROSS JOIN dirs d CROSS JOIN ks
         JOIN vals t ON t.x = h.x + d.dx * ks.k
                    AND t.y = h.y + d.dy * ks.k AND t.v > 0
         GROUP BY h.x, h.y, d.dx, d.dy),
fills AS (SELECT hi.x, hi.y,
           sum(t.v / (hi.k * sqrt(hi.dx*hi.dx + hi.dy*hi.dy)))
             / sum(1.0 / (hi.k * sqrt(hi.dx*hi.dx + hi.dy*hi.dy))) AS f
          FROM hits hi JOIN vals t ON t.x = hi.x + hi.dx * hi.k
                                  AND t.y = hi.y + hi.dy * hi.k
          GROUP BY hi.x, hi.y)
SELECT CAST(v.x AS BIGINT) AS x, CAST(v.y AS BIGINT) AS y,
       ROUND(COALESCE(f.f, v.v), 6) AS val_r
FROM vals v LEFT JOIN fills f ON f.x = v.x AND f.y = v.y
""")
def q_fillnodata_idw(spark, sf_dir):
    """GDALFillNodata (alg/rasterfill.cpp re-expressed as the 8-compass-ray
    IDW documented in raster/fillnodata.py): holes (count 0, nodata=0) fill
    from the first valid hit per direction within max_dist=3, weighted
    1/d. The oracle replays the ray search and the IDW blend in SQL."""
    from .raster.fillnodata import fillnodata
    t = _density_tiles_full(spark, sf_dir).withColumn("nodata", F.lit(0.0))
    out = fillnodata(t, max_dist=3, tile=8)
    return _px_rows(out, tile=8, round_to=6)


@_reg("sieve_stencil", _DENSITY_XY_SQL + """,
st2 AS (SELECT x, y FROM vals
        WHERE v > 0 AND ((x % 5 = 2 AND y % 10 = 3)
                         OR (x % 9 IN (4, 5) AND y % 10 = 7))),
dominoes AS (SELECT a.x AS x0, a.y AS y0
             FROM st2 a JOIN st2 b ON b.x = a.x + 1 AND b.y = a.y
             WHERE a.x % 9 = 4 AND a.y % 10 = 7)
SELECT CAST(2.0 AS DOUBLE) AS value, CAST(2 AS BIGINT) AS n_pixels,
       x0 AS px_xmin, y0 AS px_ymin, x0 + 1 AS px_xmax, y0 AS px_ymax
FROM dominoes
UNION ALL
SELECT CAST(1.0 AS DOUBLE) AS value,
       CAST(4096 - 2 * (SELECT count(*) FROM dominoes) AS BIGINT)
         AS n_pixels,
       CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       CAST(63 AS BIGINT), CAST(63 AS BIGINT)
""")
def q_sieve_stencil(spark, sf_dir):
    """GDALSieveFilter (alg/gdalsievefilter.cpp): a stencil raster carves
    isolated dots (1 px) and separated dominoes (2 px) of value 2 out of a
    value-1 background wherever the density raster has data; sieve
    threshold=2 removes exactly the dots (their only neighbour is the
    connected background) and keeps the dominoes — a cascade-free scenario
    whose post-sieve component table is derivable in closed form. Output =
    polygonize(sieve(raster)) component rows (value, size, bbox)."""
    import numpy as np
    import pandas as pd
    from .raster.polygonize import polygonize
    from .raster.sieve import sieve
    from .raster.tiles import TILE_SCHEMA, decode_px, encode_px
    t = _density_tiles_full(spark, sf_dir)

    def stencil(batches):
        jj, ii = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                arr = decode_px(r.px, r.dtype, 8)
                gx = int(r.tile_x) * 8 + ii
                gy = int(r.tile_y) * 8 + jj
                dots = (gx % 5 == 2) & (gy % 10 == 3)
                doms = ((gx % 9 == 4) | (gx % 9 == 5)) & (gy % 10 == 7)
                v = np.where((dots | doms) & (arr > 0), 2.0, 1.0)
                out.append((r.band, r.zoom, r.tile_x, r.tile_y, "float64",
                            None, encode_px(v)))
            yield pd.DataFrame(out, columns=[f.name for f in
                                             TILE_SCHEMA.fields])

    sv = sieve(t.mapInPandas(stencil, TILE_SCHEMA), threshold=2, tile=8)
    comps = polygonize(sv, tile=8)
    return comps.select("value", "n_pixels",
                        "px_xmin", "px_ymin", "px_xmax", "px_ymax")


@_reg("contour_bands_subpixel", _DENSITY_XY_SQL + """,
b AS (SELECT x, y, CASE WHEN v > 0 THEN 1.0 ELSE 0.0 END AS h FROM vals),
cells AS (SELECT tl.x, tl.y,
           tl.h AS tl, tr.h AS tr, bl.h AS bl, br.h AS br
          FROM b tl
          JOIN b tr ON tr.x = tl.x + 1 AND tr.y = tl.y
          JOIN b bl ON bl.x = tl.x AND bl.y = tl.y + 1
          JOIN b br ON br.x = tl.x + 1 AND br.y = tl.y + 1),
areas AS (SELECT CASE tl + tr + bl + br
            WHEN 0 THEN 0.0
            WHEN 1 THEN 0.125
            WHEN 3 THEN 0.875
            WHEN 4 THEN 1.0
            ELSE CASE WHEN tl = br AND tr = bl AND tl != tr
                      THEN 0.75 ELSE 0.5 END
          END AS a
          FROM cells),
hi AS (SELECT ROUND(sum(a), 6) AS area FROM areas)
SELECT 0 AS band_idx, ROUND(3969.0 - area, 6) AS area_r FROM hi
UNION ALL
SELECT 1 AS band_idx, area AS area_r FROM hi
""")
def q_contour_bands_subpixel(spark, sf_dir):
    """gdal_contour -p with sub-pixel interpolation (alg/contour.cpp
    polygon writer) through the DISTRIBUTED ring assembly
    (contour_polygon_bands: per-block linking -> fragment connected
    components -> per-band nesting). On the binarized density raster every
    marching crossing sits at t=0.5, so each 2x2 cell's contribution to
    the >=0.5 band is a closed-form case table (0, 1/8, 1/2, 3/4 saddle,
    7/8, 1) the oracle sums in SQL; band 0 is the 63x63 lattice complement."""
    import numpy as np
    import pandas as pd
    from .raster.contour import contour_polygon_bands
    from .raster.tiles import TILE_SCHEMA, decode_px, encode_px
    t = _density_tiles_full(spark, sf_dir)

    def binarize(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                arr = decode_px(r.px, r.dtype, 8)
                out.append((r.band, r.zoom, r.tile_x, r.tile_y, "float64",
                            None, encode_px((arr > 0).astype(np.float64))))
            yield pd.DataFrame(out, columns=[f.name for f in
                                             TILE_SCHEMA.fields])

    bt = t.mapInPandas(binarize, TILE_SCHEMA)
    out = contour_polygon_bands(bt, [0.5], tile=8)
    return out.select("band_idx",
                      F.round(st.st_area("geom"), 6).alias("area_r"))


# =============================================================================
# Round 3: geo format sources (Shapefile, FlatGeobuf) — write a fixture
# layer from the corpus, read it back through the distributed parsers
# =============================================================================

@_reg("shp_roundtrip", f"""
{_pts_cte()}
SELECT doc_id, ROUND(lon, 9) AS lon_r, ROUND(lat, 9) AS lat_r
FROM pts WHERE doc_id % 7 = 0
""")
def q_shp_roundtrip(spark, sf_dir):
    """Shapefile driver round-trip (ogr/ogrsf_frmts/shape/shpopen.c
    SHPWriteObject/SHPReadObject, dbfopen.c): every 7th page becomes a
    point feature with its doc_id attribute, written through the
    DISTRIBUTED two-phase pwrite sink (write_shapefile_dist — no driver
    collect of features) and read back through the byte-range
    distributed parser; the oracle recomputes the same (doc_id, lon,
    lat) set from the table."""
    import numpy as np
    import pandas as pd
    from .core import wkb as _wkb
    from .sources.shapefile import read_shapefile, write_shapefile_dist

    @F.pandas_udf("binary")
    def mk(lon, lat):
        return pd.Series(_wkb.encode_points_batch(
            np.stack([lon.values, lat.values], axis=1)))

    layer = datagen.points(spark, sf_dir).where(F.col("doc_id") % 7 == 0) \
        .select(mk("lon", "lat").alias("geom"), F.col("doc_id"))
    base = vsi.scratch()
    write_shapefile_dist(layer, base)
    out = read_shapefile(spark, base, features_per_task=512)

    px, py = _pxy_udfs()

    return out.select(F.col("doc_id"),
                      F.round(px("geom"), 9).alias("lon_r"),
                      F.round(py("geom"), 9).alias("lat_r"))


@_reg("fgb_bbox_read", f"""
{_pts_cte()}
SELECT doc_id, ROUND(lon, 9) AS lon_r, ROUND(lat, 9) AS lat_r
FROM pts
WHERE doc_id % 7 = 0
  AND lon BETWEEN -50.0 AND 60.0 AND lat BETWEEN -40.0 AND 40.0
""")
def q_fgb_bbox_read(spark, sf_dir):
    """FlatGeobuf driver with packed-R-tree bbox pruning
    (ogr/ogrsf_frmts/flatgeobuf/packedrtree.cpp streamSearch,
    ogrflatgeobuflayer.cpp feature stream): the same every-97th-page point
    layer writes to .fgb (Hilbert-sorted, indexed), then a bbox read must
    return exactly the features inside the window — the oracle filters
    the source table with the same rectangle. Point envelopes make the
    R-tree prefilter exact. Round 4: the layer is written through the
    DISTRIBUTED sink (write_fgb_dist — distributed Hilbert sort, per-task
    feature + leaf-node pwrite, healed 16-group upper levels) instead of
    a driver rows list."""
    import numpy as np
    import pandas as pd
    from .core import wkb as _wkb
    from .sources.flatgeobuf import read_fgb, write_fgb_dist

    @F.pandas_udf("binary")
    def mk(lon, lat):
        return pd.Series(_wkb.encode_points_batch(
            np.stack([lon.values, lat.values], axis=1)))

    layer = datagen.points(spark, sf_dir).where(F.col("doc_id") % 7 == 0) \
        .select(mk("lon", "lat").alias("geom"), F.col("doc_id"))
    path = vsi.scratch(".fgb")
    write_fgb_dist(layer, path)
    out = read_fgb(spark, path, bbox=(-50.0, -40.0, 60.0, 40.0),
                   features_per_task=512)

    px, py = _pxy_udfs()

    return out.select(F.col("doc_id"),
                      F.round(px("geom"), 9).alias("lon_r"),
                      F.round(py("geom"), 9).alias("lat_r"))


# =============================================================================
# Round 3: OGRSQL front end (engine.sql) driver oracle
# =============================================================================

@_reg("ogr_sql_front", f"""
{_pts_cte()},
pages AS (SELECT p.doc_id, p.url, p.lon, p.lat,
                 CAST(p.doc_id % 5 AS VARCHAR) AS cls
          FROM pts p),
lut AS (SELECT r.range AS lid, CAST(r.range % 5 AS VARCHAR) AS cls,
               'label' || CAST(r.range AS VARCHAR) AS label
        FROM range(20) r),
first AS (SELECT cls, min(lid) AS lid FROM lut GROUP BY cls),
fl AS (SELECT f.cls, l.label FROM first f JOIN lut l ON l.lid = f.lid)
SELECT p.doc_id AS fid, fl.label,
       ROUND(p.lon, 6) AS lon_r
FROM pages p LEFT JOIN fl ON p.cls = fl.cls
WHERE p.url LIKE 'https://site1%' AND p.doc_id % 3 = 0
""")
def q_ogr_sql_front(spark, sf_dir):
    """ExecuteSQL twin (gcore/gdaldataset.cpp:6860 -> ogr_gensql.cpp): one
    OGRSQL statement through engine.sql combining special-field FID,
    a first-match JOIN (ogr_gensql.cpp:1505 — lowest-fid secondary wins;
    the lut deliberately has duplicate cls keys), case-sensitive LIKE and
    arithmetic WHERE. The oracle reproduces the first-match rule with an
    explicit min(fid) dedup in SQL."""
    from .sql import OgrSqlEngine
    from pyspark.sql import types as T
    import pandas as pd

    eng = OgrSqlEngine(spark)
    pages = datagen.points(spark, sf_dir).select(
        F.col("doc_id").alias("pfid"), "url", "lon", "lat",
        (F.col("doc_id") % 5).cast("string").alias("cls"))
    eng.register("pages", pages, fid_col="pfid")
    lut = spark.createDataFrame(
        pd.DataFrame([(i, str(i % 5), f"label{i}") for i in range(20)],
                     columns=["lid", "cls", "label"]),
        schema=T.StructType([T.StructField("lid", T.LongType()),
                             T.StructField("cls", T.StringType()),
                             T.StructField("label", T.StringType())]))
    eng.register("lut", lut, fid_col="lid")
    out = eng.sql(
        "SELECT pages.FID, lut.label, lon FROM pages "
        "JOIN lut ON pages.cls = lut.cls "
        "WHERE url LIKE 'https://site1%' AND pages.FID % 3 = 0")
    return out.select(F.col("pfid").alias("fid"), "label",
                      F.round("lon", 6).alias("lon_r"))


# =============================================================================
# Round 4: ported autotest/ogr/ogr_sql_test.py battery through engine.sql
# =============================================================================

_SQL_BATTERY_PAGES = """
pages AS (SELECT p.doc_id AS pfid, p.url, p.lon, p.lat,
                 CASE WHEN p.doc_id % 70 = 0 THEN NULL
                      ELSE CAST(p.doc_id % 5 AS VARCHAR) END AS cls
          FROM pts p WHERE p.doc_id % 7 = 0),
lut AS (SELECT r.range AS lid, CAST(r.range % 5 AS VARCHAR) AS cls,
               'label' || CAST(r.range AS VARCHAR) AS label
        FROM range(20) r),
flut AS (SELECT cls, 'label' || CAST(min(lid) AS VARCHAR) AS label
         FROM lut GROUP BY cls)
"""


@_reg("ogr_sql_battery", f"""
{_pts_cte()},{_SQL_BATTERY_PAGES}
SELECT 'distinct_where' AS cid, NULL::DOUBLE AS vnum, cls AS vstr
  FROM (SELECT DISTINCT cls FROM pages WHERE pfid < 350)
UNION ALL SELECT 'agg_max', CAST(max(pfid) AS DOUBLE), NULL FROM pages
UNION ALL SELECT 'agg_min', CAST(min(pfid) AS DOUBLE), NULL FROM pages
UNION ALL SELECT 'agg_avg', ROUND(avg(lat), 6), NULL FROM pages
UNION ALL SELECT 'agg_cnt', CAST(count(*) AS DOUBLE), NULL FROM pages
UNION ALL SELECT 'agg_sd', ROUND(stddev_pop(lat), 6), NULL FROM pages
UNION ALL SELECT 'agg_sds', ROUND(stddev_samp(lat), 6), NULL FROM pages
UNION ALL SELECT 'fid_in', CAST(pfid AS DOUBLE), NULL
  FROM pages WHERE pfid IN (14, 35, 77)
UNION ALL SELECT 'quoted_tbl', NULL, url FROM pages WHERE pfid = 21
UNION ALL SELECT 'like_cs', CAST(count(*) AS DOUBLE), NULL
  FROM pages WHERE url LIKE 'HTTPS%'
UNION ALL SELECT 'ilike_ci', CAST(count(*) AS DOUBLE), NULL
  FROM pages WHERE url ILIKE 'HTTPS://SITE7%'
UNION ALL SELECT 'max_empty', CAST(max(pfid) AS DOUBLE), NULL
  FROM pages WHERE pfid < 0
UNION ALL SELECT 'distinct_empty', NULL, cls
  FROM (SELECT DISTINCT cls FROM pages WHERE pfid < 0)
UNION ALL SELECT 'ar_1', 1.0, NULL
UNION ALL SELECT 'ar_2', 1.0 / 1.0, NULL
UNION ALL SELECT 'ar_3', CAST(1 AS BIGINT) / 1.0, NULL
UNION ALL SELECT 'ar_4', 1.0 / CAST(1 AS BIGINT), NULL
UNION ALL SELECT 'ar_5', 1.5 + 1, NULL
UNION ALL SELECT 'ar_6', (1 * 1) + 1.5, NULL
UNION ALL SELECT 'ar_7', 2.0, NULL
UNION ALL SELECT 'ar_8', 1234567890124.0, NULL
UNION ALL SELECT 'ar_9', 1234567890123.0, NULL
UNION ALL SELECT 'div_zero', 2147483647.0, NULL
UNION ALL SELECT 'div_trunc_neg', CAST(TRUNC((0.0 - pfid) / 3) AS DOUBLE),
  NULL FROM pages WHERE pfid = 77
UNION ALL SELECT 'str_promote', CAST(pfid AS DOUBLE), NULL
  FROM pages WHERE pfid = 35
UNION ALL SELECT 'union_arms', CAST(pfid AS DOUBLE), NULL
  FROM pages WHERE pfid IN (7, 14)
UNION ALL SELECT 'cast_char', NULL, CAST(pfid AS VARCHAR)
  FROM pages WHERE pfid = 42
UNION ALL SELECT 'between', CAST(pfid AS DOUBLE), NULL
  FROM pages WHERE pfid BETWEEN 30 AND 56
UNION ALL SELECT 'cls_null', CAST(pfid AS DOUBLE), NULL
  FROM pages WHERE cls IS NULL AND pfid < 350
UNION ALL SELECT 'substr_concat', NULL,
  substr(url, 9, 5) || '|' || (cls || '_x')
  FROM pages WHERE pfid = 56
UNION ALL SELECT 'join_first', NULL, f.label
  FROM pages p JOIN flut f ON p.cls = f.cls WHERE p.pfid = 63
UNION ALL SELECT 'order_lim_off', CAST(pfid AS DOUBLE), NULL FROM
  (SELECT pfid FROM pages WHERE pfid < 350
   ORDER BY pfid DESC LIMIT 3 OFFSET 2)
""")
def q_ogr_sql_battery(spark, sf_dir):
    """A ~30-case slice of autotest/ogr/ogr_sql_test.py (DISTINCT, ORDER
    BY, aggregate battery test_ogr_sql_5, IN, quoted tables, LIKE case
    sensitivity, empty-set MAX/DISTINCT test_ogr_sql_11/12, the FULL
    arithmetic battery test_ogr_sql_49 incl. truncating integer division
    and INT_MAX-on-zero, string-constant promotion, UNION ALL, CAST
    spellings, BETWEEN, IS NULL, RFC 28 SUBSTR/CONCAT, first-match JOIN,
    LIMIT/OFFSET) — every statement runs through engine.sql's OGRSQL
    translator and the oracle recomputes each case with the OGR
    semantics hand-applied in DuckDB SQL."""
    from .sql import OgrSqlEngine

    eng = OgrSqlEngine(spark)
    pages = datagen.points(spark, sf_dir).where(F.col("doc_id") % 7 == 0) \
        .select(F.col("doc_id").alias("pfid"), "url", "lon", "lat",
                F.when(F.col("doc_id") % 70 == 0, F.lit(None))
                 .otherwise((F.col("doc_id") % 5).cast("string"))
                 .alias("cls"))
    eng.register("pages", pages, fid_col="pfid")
    import pandas as pd
    from pyspark.sql import types as T
    lut = spark.createDataFrame(
        pd.DataFrame([(i, str(i % 5), f"label{i}") for i in range(20)],
                     columns=["lid", "cls", "label"]),
        schema=T.StructType([T.StructField("lid", T.LongType()),
                             T.StructField("cls", T.StringType()),
                             T.StructField("label", T.StringType())]))
    eng.register("lut", lut, fid_col="lid")

    def num(cid, sql, col=None):
        d = eng.sql(sql)
        c = col or d.columns[0]
        return d.select(F.lit(cid).alias("cid"),
                        F.col(c).cast("double").alias("vnum"),
                        F.lit(None).cast("string").alias("vstr"))

    def txt(cid, sql, col=None):
        d = eng.sql(sql)
        c = col or d.columns[0]
        return d.select(F.lit(cid).alias("cid"),
                        F.lit(None).cast("double").alias("vnum"),
                        F.col(c).cast("string").alias("vstr"))

    arith = ["1/1", "1/1.", "cast((1) as integer)/1.",
             "1./cast((1) as integer)", "1.5+1", "(1*1)+1.5", "1+1",
             "cast(1 as integer)+ 1234567890123",
             "cast(1 as integer)* 1234567890123"]
    cases = [
        txt("distinct_where",
            "SELECT DISTINCT cls FROM pages WHERE FID < 350"),
        num("agg_max", "SELECT MAX(FID) FROM pages"),
        num("agg_min", "SELECT MIN(FID) FROM pages"),
        num("agg_avg", "SELECT ROUND(AVG(lat), 6) FROM pages"),
        num("agg_cnt", "SELECT COUNT(*) FROM pages"),
        num("agg_sd", "SELECT ROUND(STDDEV_POP(lat), 6) FROM pages"),
        num("agg_sds", "SELECT ROUND(STDDEV_SAMP(lat), 6) FROM pages"),
        num("fid_in", "SELECT FID FROM pages WHERE FID IN (14, 35, 77)"),
        txt("quoted_tbl", 'SELECT url FROM "pages" WHERE FID = 21'),
        num("like_cs",
            "SELECT COUNT(*) FROM pages WHERE url LIKE 'HTTPS%'"),
        num("ilike_ci", "SELECT COUNT(*) FROM pages "
                        "WHERE url ILIKE 'HTTPS://SITE7%'"),
        num("max_empty", "SELECT MAX(FID) FROM pages WHERE FID < 0"),
        txt("distinct_empty",
            "SELECT DISTINCT cls FROM pages WHERE FID < 0"),
    ] + [
        num(f"ar_{i + 1}",
            f"SELECT {expr} AS result FROM pages LIMIT 1")
        for i, expr in enumerate(arith)
    ] + [
        num("div_zero", "SELECT FID / 0 FROM pages WHERE FID = 77"),
        num("div_trunc_neg",
            "SELECT (0 - FID) / 3 FROM pages WHERE FID = 77"),
        num("str_promote", "SELECT FID FROM pages WHERE FID = '35'"),
        num("union_arms", "SELECT FID FROM pages WHERE FID = 7 "
                          "UNION ALL SELECT FID FROM pages WHERE FID = 14"),
        txt("cast_char", "SELECT CAST(FID AS CHARACTER(10)) "
                         "FROM pages WHERE FID = 42"),
        num("between",
            "SELECT FID FROM pages WHERE FID BETWEEN 30 AND 56"),
        num("cls_null",
            "SELECT FID FROM pages WHERE cls IS NULL AND FID < 350"),
        txt("substr_concat",
            "SELECT CONCAT(SUBSTR(url, 9, 5), '|', CONCAT(cls, '_x')) "
            "FROM pages WHERE FID = 56"),
        txt("join_first", "SELECT lut.label FROM pages "
                          "JOIN lut ON pages.cls = lut.cls "
                          "WHERE pages.FID = 63", col="label"),
        num("order_lim_off", "SELECT FID FROM pages WHERE FID < 350 "
                             "ORDER BY FID DESC LIMIT 3 OFFSET 2"),
    ]
    out = cases[0]
    for c in cases[1:]:
        out = out.unionByName(c)
    return out


@_reg("st_transform_projstr", f"""
{_pts_cte()}
SELECT doc_id,
       ROUND(6378137.0 * radians(lon - 25.0) + 100000.0, 4) AS mx_r,
       ROUND(6378137.0 * ln(tan(pi() / 4.0 + radians(lat) / 2.0)), 4)
         AS my_r
FROM pts WHERE doc_id % 11 = 0
""")
def q_st_transform_projstr(spark, sf_dir):
    """ST_Transform through a '+proj=' string the EPSG whitelist cannot
    name (+proj=merc +lon_0=25 +x_0=100000 — rotated central meridian and
    false easting; reference CRS composition ogr/ogrct.cpp:919-948,
    ST_Transform registration ogrsqlitesqlfunctions.cpp:1060). The oracle
    is the closed-form shifted spherical-mercator formula in SQL."""
    st.register_all(spark)
    p = datagen.points(spark, sf_dir).where(F.col("doc_id") % 11 == 0)
    p.createOrReplaceTempView("t_projstr_pts")
    return spark.sql(
        "SELECT doc_id, "
        " ROUND(ST_X(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',"
        "  '+proj=merc +lon_0=25 +x_0=100000')), 4) AS mx_r, "
        " ROUND(ST_Y(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',"
        "  '+proj=merc +lon_0=25 +x_0=100000')), 4) AS my_r "
        "FROM t_projstr_pts")


@_reg("st_transform_wkt", f"""
{_pts_cte()}
SELECT doc_id,
       ROUND(0.75 * 6378137.0 * radians(lon - 7.5) + 250000.0, 4) AS mx_r,
       ROUND(0.75 * 6378137.0 * ln(tan(pi() / 4.0 + radians(lat) / 2.0))
             + 50000.0, 4) AS my_r
FROM pts WHERE doc_id % 13 = 0
""")
def q_st_transform_wkt(spark, sf_dir):
    """ST_Transform through an OGC WKT1 PROJCS definition (the
    reference's OGRSpatialReference::importFromWkt path,
    ogr/ogrspatialreference.cpp; CT creation ogr/ogrct.cpp:919-948): a
    Mercator_1SP with rotated central meridian, scale factor and false
    origins — no EPSG authority node, so the kernel choice is driven
    purely by PROJECTION/PARAMETER parsing. The oracle is the closed-form
    scaled spherical-mercator formula in SQL."""
    st.register_all(spark)
    wkt = ('PROJCS["custom merc", GEOGCS["WGS 84", DATUM["WGS_1984",'
           ' SPHEROID["WGS 84",6378137,298.257223563]],'
           ' PRIMEM["Greenwich",0], UNIT["degree",0.0174532925199433]],'
           ' PROJECTION["Mercator_1SP"],'
           ' PARAMETER["central_meridian",7.5],'
           ' PARAMETER["scale_factor",0.75],'
           ' PARAMETER["false_easting",250000],'
           ' PARAMETER["false_northing",50000], UNIT["metre",1]]')
    p = datagen.points(spark, sf_dir).where(F.col("doc_id") % 13 == 0)
    p.createOrReplaceTempView("t_wkt_pts")
    wkt_sql = wkt.replace("'", "''")
    return spark.sql(
        "SELECT doc_id, "
        f" ROUND(ST_X(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',"
        f"  '{wkt_sql}')), 4) AS mx_r, "
        f" ROUND(ST_Y(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',"
        f"  '{wkt_sql}')), 4) AS my_r "
        "FROM t_wkt_pts")


# =============================================================================
# Round 4: conic + polar CRS families (LCC / Albers / polar stereographic)
# =============================================================================
# The oracle SQL replays the numpy kernels LITERALLY: the scalar projection
# constants (n, aF, rho0, C, qP, series coefficients) are computed once in
# Python by the same functions the engine uses and inlined as full-precision
# literals, so DuckDB evaluates the identical per-row arithmetic.

def _crs_lit(v: float) -> str:
    return repr(float(v))


def _conic_sql_parts():
    from .raster import transforms as _tr
    import numpy as _np
    d2r = _crs_lit(_np.pi / 180.0)
    pi = _crs_lit(_np.pi)
    two_pi = _crs_lit(2 * _np.pi)
    e = _crs_lit(_tr._E)
    e_half = _crs_lit(_tr._E / 2.0)
    # t(phi) with phi already in radians (Snyder 15-9)
    t_of = (f"tan({pi} / 4 - phi / 2) / power((1 - {e} * sin(phi))"
            f" / (1 + {e} * sin(phi)), {e_half})")
    # adjlon wrap of lam (radians)
    wrap = f"lam - {two_pi} * floor((lam + {pi}) / {two_pi})"
    return d2r, e, t_of, wrap


_CONIC_D2R, _CONIC_E, _CONIC_T, _CONIC_WRAP = _conic_sql_parts()


def _lcc2154_sql():
    from .raster import transforms as _tr
    n, a_f, rho0 = _tr.lcc_constants(46.5, 49.0, 44.0, 1.0)
    n, a_f, rho0 = _crs_lit(n), _crs_lit(a_f), _crs_lit(rho0)
    return f"""
t AS (SELECT doc_id, {_CONIC_WRAP} AS lamw, {_CONIC_T} AS tt
      FROM (SELECT doc_id, (lon - 3.0) * {_CONIC_D2R} AS lam,
                   lat * {_CONIC_D2R} AS phi
            FROM pts WHERE doc_id % 7 = 0))
SELECT doc_id,
       ROUND(700000.0 + {a_f} * power(tt, {n}) * sin({n} * lamw), 4)
         AS x_r,
       ROUND(6600000.0 + {rho0} - {a_f} * power(tt, {n})
             * cos({n} * lamw), 4) AS y_r
FROM t"""


@_reg("st_transform_lcc", f"""
{_pts_cte()},{_lcc2154_sql()}
""")
def q_st_transform_lcc(spark, sf_dir):
    """ST_Transform into EPSG:2154 (RGF93 / Lambert-93, the French
    national grid): ellipsoidal Lambert Conformal Conic 2SP (Snyder
    15-1..15-7; reference resolves it through the PROJ method table,
    ogr/ogrct.cpp:919-948). The oracle inlines the lcc_constants(n, aF,
    rho0) scalars and replays the identical per-row formula in SQL,
    including the +-180 longitude wrap."""
    st.register_all(spark)
    p = datagen.points(spark, sf_dir).where(F.col("doc_id") % 7 == 0)
    p.createOrReplaceTempView("t_lcc_pts")
    return spark.sql(
        "SELECT doc_id, "
        " ROUND(ST_X(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',"
        "  'EPSG:2154')), 4) AS x_r, "
        " ROUND(ST_Y(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',"
        "  'EPSG:2154')), 4) AS y_r "
        "FROM t_lcc_pts")


def _aea5070_sql():
    from .raster import transforms as _tr
    import numpy as _np
    n, c, rho0 = _tr.aea_constants(23.0, 29.5, 45.5)
    n, c, rho0 = _crs_lit(n), _crs_lit(c), _crs_lit(rho0)
    one_m_e2 = _crs_lit(1.0 - _tr._E2)
    e2 = _crs_lit(_tr._E2)
    two_e = _crs_lit(2.0 * _tr._E)
    e = _CONIC_E
    q_of = (f"{one_m_e2} * (sin(phi) / (1 - {e2} * sin(phi) * sin(phi))"
            f" - ln((1 - {e} * sin(phi)) / (1 + {e} * sin(phi)))"
            f" / {two_e})")
    return f"""
t AS (SELECT doc_id, {_CONIC_WRAP} AS lamw, {q_of} AS q
      FROM (SELECT doc_id, (lon - -96.0) * {_CONIC_D2R} AS lam,
                   lat * {_CONIC_D2R} AS phi
            FROM pts WHERE doc_id % 9 = 0))
SELECT doc_id,
       ROUND(6378137.0 * sqrt({c} - {n} * q) / {n} * sin({n} * lamw), 4)
         AS x_r,
       ROUND({rho0} - 6378137.0 * sqrt({c} - {n} * q) / {n}
             * cos({n} * lamw), 4) AS y_r
FROM t"""


@_reg("st_transform_albers", f"""
{_pts_cte()},{_aea5070_sql()}
""")
def q_st_transform_albers(spark, sf_dir):
    """ST_Transform into EPSG:5070 (NAD83 / Conus Albers): ellipsoidal
    Albers Equal-Area (Snyder 14-1..14-4) over the authalic-latitude q
    function. The oracle inlines aea_constants(n, C, rho0) and the q(phi)
    expression verbatim."""
    st.register_all(spark)
    p = datagen.points(spark, sf_dir).where(F.col("doc_id") % 9 == 0)
    p.createOrReplaceTempView("t_aea_pts")
    return spark.sql(
        "SELECT doc_id, "
        " ROUND(ST_X(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',"
        "  'EPSG:5070')), 4) AS x_r, "
        " ROUND(ST_Y(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',"
        "  'EPSG:5070')), 4) AS y_r "
        "FROM t_aea_pts")


def _stere3413_sql():
    from .raster import transforms as _tr
    s = _crs_lit(_tr.stere_scale(70.0, 1.0))
    return f"""
t AS (SELECT doc_id, lam, {_CONIC_T} AS tt
      FROM (SELECT doc_id, (lon - -45.0) * {_CONIC_D2R} AS lam,
                   lat * {_CONIC_D2R} AS phi
            FROM pts WHERE doc_id % 10 = 0))
SELECT doc_id,
       ROUND({s} * tt * sin(lam), 4) AS x_r,
       ROUND(-({s} * tt) * cos(lam), 4) AS y_r
FROM t"""


@_reg("st_transform_stere", f"""
{_pts_cte()},{_stere3413_sql()}
""")
def q_st_transform_stere(spark, sf_dir):
    """ST_Transform into EPSG:3413 (WGS84 / NSIDC Sea Ice Polar
    Stereographic North, variant B with standard parallel 70N): Snyder
    21-33/34. The oracle inlines the radial constant a*m(70)/t(70) and
    replays rho = s*t(phi), x = rho sin(lam), y = -rho cos(lam)."""
    st.register_all(spark)
    p = datagen.points(spark, sf_dir).where(F.col("doc_id") % 10 == 0)
    p.createOrReplaceTempView("t_stere_pts")
    return spark.sql(
        "SELECT doc_id, "
        " ROUND(ST_X(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',"
        "  'EPSG:3413')), 4) AS x_r, "
        " ROUND(ST_Y(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',"
        "  'EPSG:3413')), 4) AS y_r "
        "FROM t_stere_pts")


def _merid_sql(phi: str = "phi", a: str = "6378137.0") -> str:
    """DuckDB meridian-arc M(phi) (Snyder 3-21) with the coefficients
    inlined from the same merid_coeffs() the numpy kernels use."""
    from .raster import transforms as _tr
    c0, c2, c4, c6 = _tr.merid_coeffs(_tr._E2)
    return (f"{a} * ({_crs_lit(c0)} * {phi}"
            f" - {_crs_lit(c2)} * sin(2 * {phi})"
            f" + {_crs_lit(c4)} * sin(4 * {phi})"
            f" - {_crs_lit(c6)} * sin(6 * {phi}))")


def _worldgrid_sql():
    from .raster import transforms as _tr
    import numpy as _np
    d2r = _CONIC_D2R
    p30 = _np.radians(30.0)
    k0v = float(_np.cos(p30) / _np.sqrt(1 - _tr._E2 * _np.sin(p30) ** 2))
    ak0 = _crs_lit(6378137.0 * k0v)       # fold a*k0 (numpy is left-assoc)
    two_k0 = _crs_lit(2.0 * k0v)
    e = _CONIC_E
    e2 = _crs_lit(_tr._E2)
    one_m_e2 = _crs_lit(1.0 - _tr._E2)
    two_e = _crs_lit(2.0 * _tr._E)
    q_of = (f"{one_m_e2} * (sin(phi) / (1 - {e2} * sin(phi) * sin(phi))"
            f" - ln((1 - {e} * sin(phi)) / (1 + {e} * sin(phi)))"
            f" / {two_e})")
    return f"""
t AS (SELECT doc_id, CAST(lon AS DOUBLE) * {d2r} AS lam,
             CAST(lat AS DOUBLE) * {d2r} AS phi
      FROM pts WHERE doc_id % 11 = 0)
SELECT doc_id,
       ROUND(6378137.0 * lam, 4) AS eqc_x,
       ROUND({_merid_sql()}, 4) AS eqc_y,
       ROUND({ak0} * lam, 4) AS cea_x,
       ROUND(6378137.0 * ({q_of}) / {two_k0}, 4) AS cea_y,
       ROUND(6371007.181 * lam * cos(phi), 4) AS sinu_x,
       ROUND(6371007.181 * phi, 4) AS sinu_y
FROM t"""


_SINU_MODIS = "+proj=sinu +R=6371007.181 +nadgrids=@null +units=m +no_defs"


@_reg("st_transform_world_grids", f"""
{_pts_cte()},{_worldgrid_sql()}
""")
def q_st_transform_world_grids(spark, sf_dir):
    """ST_Transform into the three global analysis grids: EPSG:4087
    (WGS84 equidistant cylindrical, EPSG method 1028), EPSG:6933 (NSIDC
    EASE-Grid 2.0 Global, Lambert cylindrical equal-area EPSG 9835) and
    the MODIS sinusoidal sphere (+proj=sinu +R=6371007.181
    +nadgrids=@null). Reference resolves these through the PROJ method
    table (ogr/ogrct.cpp:919-948); the oracle replays the identical
    meridian-arc series / authalic-q / spherical-sinusoidal arithmetic
    with the kernel constants inlined."""
    st.register_all(spark)
    p = datagen.points(spark, sf_dir).where(F.col("doc_id") % 11 == 0)
    p.createOrReplaceTempView("t_wg_pts")
    return spark.sql(f"""
        SELECT doc_id,
          ROUND(ST_X(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            'EPSG:4087')), 4) AS eqc_x,
          ROUND(ST_Y(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            'EPSG:4087')), 4) AS eqc_y,
          ROUND(ST_X(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            'EPSG:6933')), 4) AS cea_x,
          ROUND(ST_Y(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            'EPSG:6933')), 4) AS cea_y,
          ROUND(ST_X(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            '{_SINU_MODIS}')), 4) AS sinu_x,
          ROUND(ST_Y(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            '{_SINU_MODIS}')), 4) AS sinu_y
        FROM t_wg_pts""")


_CASS_LAT0 = 10.0 + 26.5 / 60.0
_CASS_LON0 = -(61.0 + 20.0 / 60.0)


def _cass_sql():
    from .raster import transforms as _tr
    import numpy as _np
    d2r = _CONIC_D2R
    e2 = _crs_lit(_tr._E2)
    ep2 = _crs_lit(_tr._E2 / (1.0 - _tr._E2))
    m0 = _crs_lit(float(_tr.merid_arc(_np.radians(_CASS_LAT0),
                                      _tr.ELLIPSOIDS["WGS84"])))
    return f"""
t AS (SELECT doc_id,
             (CAST(lon AS DOUBLE) - {_crs_lit(_CASS_LON0)}) * {d2r} AS lam,
             CAST(lat AS DOUBLE) * {d2r} AS phi
      FROM pts WHERE lon >= -66.34 AND lon <= -56.33),
c AS (SELECT doc_id, lam * cos(phi) AS aa,
             tan(phi) * tan(phi) AS tt,
             {ep2} * cos(phi) * cos(phi) AS cc,
             6378137.0 / sqrt(1 - {e2} * sin(phi) * sin(phi)) AS nu,
             tan(phi) AS tphi, {_merid_sql()} AS m
      FROM t)
SELECT doc_id,
       ROUND(430000.0 + nu * (aa - tt * power(aa, 3) / 6
             - (8 - tt + 8 * cc) * tt * power(aa, 5) / 120), 4) AS x_r,
       ROUND(325000.0 + m - {m0} + nu * tphi * (power(aa, 2) / 2
             + (5 - tt + 6 * cc) * power(aa, 4) / 24), 4) AS y_r
FROM c"""


_CASS_CRS = (f"+proj=cass +lat_0={_CASS_LAT0!r} +lon_0={_CASS_LON0!r} "
             "+x_0=430000 +y_0=325000 +datum=WGS84")


@_reg("st_transform_cassini", f"""
{_pts_cte()},{_cass_sql()}
""")
def q_st_transform_cassini(spark, sf_dir):
    """ST_Transform through Cassini-Soldner (EPSG method 9806, Snyder
    13-7..13-10) with the Trinidad-grid natural origin on WGS84 —
    restricted to the projection's validity band (+-5 deg of the central
    meridian, like the reference grids that use it). The oracle replays
    the full series (A, T, C, nu, M) with kernel constants inlined; the
    kernel's EPSG GN 7-2 worked-example pin (Clarke 1858 links) lives in
    tests/test_transforms_crs.py."""
    st.register_all(spark)
    p = datagen.points(spark, sf_dir).where(
        (F.col("lon") >= -66.34) & (F.col("lon") <= -56.33))
    p.createOrReplaceTempView("t_cass_pts")
    return spark.sql(f"""
        SELECT doc_id,
          ROUND(ST_X(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            '{_CASS_CRS}')), 4) AS x_r,
          ROUND(ST_Y(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            '{_CASS_CRS}')), 4) AS y_r
        FROM t_cass_pts""")


def _poly_eqdc_sql():
    from .raster import transforms as _tr
    import numpy as _np
    d2r = _CONIC_D2R
    e2 = _crs_lit(_tr._E2)
    m0p = _crs_lit(float(_tr.merid_arc(_np.radians(30.0),
                                       _tr.ELLIPSOIDS["WGS84"])))
    n, g, rho0 = _tr.eqdc_constants(40.0, 34.0, 45.0)
    ag = _crs_lit(6378137.0 * g)
    n, rho0 = _crs_lit(n), _crs_lit(rho0)
    wrap_p = _CONIC_WRAP.replace("lam", "lamp")
    wrap_e = _CONIC_WRAP.replace("lam", "lame")
    return f"""
t AS (SELECT doc_id, (CAST(lon AS DOUBLE) - -96.0) * {d2r} AS lamp,
             (CAST(lon AS DOUBLE) - -100.0) * {d2r} AS lame,
             CAST(lat AS DOUBLE) * {d2r} AS phi
      FROM pts WHERE doc_id % 13 = 0),
w AS (SELECT doc_id, phi, {wrap_p} AS lp, {wrap_e} AS le,
             6378137.0 / sqrt(1 - {e2} * sin(phi) * sin(phi)) AS nu,
             {_merid_sql()} AS m
      FROM t)
SELECT doc_id,
       ROUND(CASE WHEN abs(phi) < 1e-12 THEN 6378137.0 * lp
             ELSE nu * (cos(phi) / sin(phi)) * sin(lp * sin(phi)) END,
             4) AS poly_x,
       ROUND(CASE WHEN abs(phi) < 1e-12 THEN -{m0p}
             ELSE m - {m0p} + nu * (cos(phi) / sin(phi))
                  * (1 - cos(lp * sin(phi))) END, 4) AS poly_y,
       ROUND(({ag} - m) * sin({n} * le), 4) AS eqdc_x,
       ROUND({rho0} - ({ag} - m) * cos({n} * le), 4) AS eqdc_y
FROM w"""


_POLY_CRS = "+proj=poly +lat_0=30 +lon_0=-96 +datum=WGS84"
_EQDC_CRS = ("+proj=eqdc +lat_0=40 +lat_1=34 +lat_2=45 +lon_0=-100 "
             "+datum=WGS84")


@_reg("st_transform_poly_eqdc", f"""
{_pts_cte()},{_poly_eqdc_sql()}
""")
def q_st_transform_poly_eqdc(spark, sf_dir):
    """ST_Transform through the American Polyconic (EPSG 9818, Snyder
    18-12..18-14; the kernel pins Snyder's own p.304 numeric example)
    and the Equidistant Conic (Snyder 16-1..16-6, whose meridian
    distances are exact). The oracle replays cot(phi)-form polyconic and
    the inlined eqdc (n, aG, rho0) constants, sharing one meridian-arc
    CTE."""
    st.register_all(spark)
    p = datagen.points(spark, sf_dir).where(F.col("doc_id") % 13 == 0)
    p.createOrReplaceTempView("t_pe_pts")
    return spark.sql(f"""
        SELECT doc_id,
          ROUND(ST_X(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            '{_POLY_CRS}')), 4) AS poly_x,
          ROUND(ST_Y(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            '{_POLY_CRS}')), 4) AS poly_y,
          ROUND(ST_X(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            '{_EQDC_CRS}')), 4) AS eqdc_x,
          ROUND(ST_Y(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            '{_EQDC_CRS}')), 4) AS eqdc_y
        FROM t_pe_pts""")


_AEQD_SPH = ("+proj=aeqd +R=6371000 +lat_0=20 +lon_0=10 "
             "+nadgrids=@null +units=m +no_defs")


def _aeqd_sql():
    """DuckDB replay of the spherical azimuthal-equidistant forward
    (Snyder 25-2, k' = c/sin c) with the kernel's sin/cos(lat_0)
    folded to literals; rows within 0.95 of the antipode are excluded
    in BOTH engines (k' grows unboundedly there and amplifies ULP
    noise past the 0.1 mm rounding quantum)."""
    import numpy as _np
    from .raster import transforms as _tr
    p0 = 20.0 * _tr._D2R
    sp0 = _crs_lit(float(_np.sin(p0)))
    cp0 = _crs_lit(float(_np.cos(p0)))
    return f"""
az1 AS (SELECT doc_id, {_CONIC_WRAP} AS lamw, phi
        FROM (SELECT doc_id, (lon - 10.0) * {_CONIC_D2R} AS lam,
                     lat * {_CONIC_D2R} AS phi
              FROM pts WHERE doc_id % 5 = 2)),
az2 AS (SELECT doc_id, lamw, phi,
               {sp0} * sin(phi) + {cp0} * cos(phi) * cos(lamw) AS cc
        FROM az1),
az3 AS (SELECT doc_id, lamw, phi, acos(cc) AS c
        FROM az2 WHERE cc > -0.95),
az4 AS (SELECT doc_id, lamw, phi, c / sin(c) AS k FROM az3)
SELECT doc_id,
       ROUND(6371000.0 * k * cos(phi) * sin(lamw), 4) AS x_r,
       ROUND(6371000.0 * k * ({cp0} * sin(phi)
             - {sp0} * cos(phi) * cos(lamw)), 4) AS y_r
FROM az4"""


@_reg("st_transform_aeqd", f"""
{_pts_cte()},{_aeqd_sql()}
""")
def q_st_transform_aeqd(spark, sf_dir):
    """ST_Transform into a spherical Azimuthal Equidistant grid
    (+proj=aeqd +R, Snyder 25-2; the reference resolves aeqd through
    the PROJ method table, ogr/ogrct.cpp:919-948 — the ellipsoidal
    kernel runs true Vincenty geodesics, pinned by the Geoscience
    Australia Flinders Peak worked example in tests). The oracle
    replays the spherical closed form with identical arithmetic; both
    engines drop rows within 0.95 of the antipode."""
    import numpy as _mod_np
    st.register_all(spark)
    p = datagen.points(spark, sf_dir).where(F.col("doc_id") % 5 == 2)
    p.createOrReplaceTempView("t_aeqd_pts")
    d2r = repr(float(_mod_np.pi / 180.0))
    sp0 = repr(float(_mod_np.sin(20.0 * _mod_np.pi / 180.0)))
    cp0 = repr(float(_mod_np.cos(20.0 * _mod_np.pi / 180.0)))
    pi = repr(float(_mod_np.pi))
    two_pi = repr(float(2 * _mod_np.pi))
    lam = f"(lon - 10.0) * {d2r}"
    lamw = f"({lam}) - {two_pi} * floor((({lam}) + {pi}) / {two_pi})"
    vis = (f"{sp0} * sin(lat * {d2r}) + {cp0} * cos(lat * {d2r})"
           f" * cos({lamw}) > -0.95")
    return spark.sql(f"""
        SELECT doc_id,
          ROUND(ST_X(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            '{_AEQD_SPH}')), 4) AS x_r,
          ROUND(ST_Y(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            '{_AEQD_SPH}')), 4) AS y_r
        FROM t_aeqd_pts WHERE {vis}""")


_ORTHO_WGS = "+proj=ortho +lat_0=40 +lon_0=5 +datum=WGS84 +units=m +no_defs"
_GNOM_SPH = "+proj=gnom +lat_0=45 +lon_0=15 +datum=WGS84 +units=m +no_defs"


def _ortho_gnom_sql():
    """DuckDB replay of the ellipsoidal orthographic forward (EPSG
    9840 closed form) and the spherical gnomonic (Snyder 22-4/22-5 on
    radius a). Hemisphere guards (cos c > 0.05 for ortho, > 0.35 for
    gnom) run in both engines on identical arithmetic."""
    import numpy as _np
    from .raster import transforms as _tr
    d2r = _CONIC_D2R
    e2 = _crs_lit(_tr._E2)
    po = 40.0 * _tr._D2R
    spo = _crs_lit(float(_np.sin(po)))
    cpo = _crs_lit(float(_np.cos(po)))
    nu0sp0 = _crs_lit(float(
        _tr._nu_e(_np.sin(po), 6378137.0, _tr._E2) * _np.sin(po)))
    pg = 45.0 * _tr._D2R
    spg = _crs_lit(float(_np.sin(pg)))
    cpg = _crs_lit(float(_np.cos(pg)))
    return f"""
og1 AS (SELECT doc_id,
               {_CONIC_WRAP.replace('lam', 'lamo')} AS lamow,
               {_CONIC_WRAP.replace('lam', 'lamg')} AS lamgw, phi
        FROM (SELECT doc_id, (lon - 5.0) * {d2r} AS lamo,
                     (lon - 15.0) * {d2r} AS lamg,
                     lat * {d2r} AS phi
              FROM pts WHERE doc_id % 3 = 1)),
og2 AS (SELECT doc_id, lamow, lamgw, phi,
               {spo} * sin(phi) + {cpo} * cos(phi) * cos(lamow) AS cco,
               {spg} * sin(phi) + {cpg} * cos(phi) * cos(lamgw) AS ccg,
               6378137.0 / sqrt(1 - {e2} * sin(phi) * sin(phi)) AS nu
        FROM og1),
og3 AS (SELECT * FROM og2 WHERE cco > 0.05 AND ccg > 0.35)
SELECT doc_id,
       ROUND(nu * cos(phi) * sin(lamow), 4) AS ox_r,
       ROUND(nu * (sin(phi) * {cpo} - cos(phi) * {spo} * cos(lamow))
             + {e2} * ({nu0sp0} - nu * sin(phi)) * {cpo}, 4) AS oy_r,
       ROUND(6378137.0 * cos(phi) * sin(lamgw) / ccg, 4) AS gx_r,
       ROUND(6378137.0 * ({cpg} * sin(phi)
             - {spg} * cos(phi) * cos(lamgw)) / ccg, 4) AS gy_r
FROM og3"""


@_reg("st_transform_ortho_gnom", f"""
{_pts_cte()},{_ortho_gnom_sql()}
""")
def q_st_transform_ortho_gnom(spark, sf_dir):
    """ST_Transform through the ellipsoidal Orthographic (EPSG method
    9840: E = nu cos(phi) sin(lam), N = nu [sin(phi) cos(phi0) -
    cos(phi) sin(phi0) cos(lam)] + e2 (nu0 sin(phi0) - nu sin(phi))
    cos(phi0)) and the spherical Gnomonic (Snyder 22-4/22-5 — great
    circles project to straight lines; collinearity pinned in tests).
    The oracle replays both closed forms; hemisphere guards match."""
    import numpy as _mod_np
    st.register_all(spark)
    p = datagen.points(spark, sf_dir).where(F.col("doc_id") % 3 == 1)
    p.createOrReplaceTempView("t_og_pts")
    d2r = repr(float(_mod_np.pi / 180.0))
    pi = repr(float(_mod_np.pi))
    two_pi = repr(float(2 * _mod_np.pi))
    spo = repr(float(_mod_np.sin(40.0 * _mod_np.pi / 180.0)))
    cpo = repr(float(_mod_np.cos(40.0 * _mod_np.pi / 180.0)))
    spg = repr(float(_mod_np.sin(45.0 * _mod_np.pi / 180.0)))
    cpg = repr(float(_mod_np.cos(45.0 * _mod_np.pi / 180.0)))

    def wrapped(lon0):
        lam = f"(lon - {lon0}) * {d2r}"
        return f"(({lam}) - {two_pi} * floor((({lam}) + {pi}) / {two_pi}))"

    viso = (f"{spo} * sin(lat * {d2r}) + {cpo} * cos(lat * {d2r})"
            f" * cos({wrapped('5.0')}) > 0.05")
    visg = (f"{spg} * sin(lat * {d2r}) + {cpg} * cos(lat * {d2r})"
            f" * cos({wrapped('15.0')}) > 0.35")
    return spark.sql(f"""
        SELECT doc_id,
          ROUND(ST_X(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            '{_ORTHO_WGS}')), 4) AS ox_r,
          ROUND(ST_Y(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            '{_ORTHO_WGS}')), 4) AS oy_r,
          ROUND(ST_X(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            '{_GNOM_SPH}')), 4) AS gx_r,
          ROUND(ST_Y(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            '{_GNOM_SPH}')), 4) AS gy_r
        FROM t_og_pts WHERE {viso} AND {visg}""")


_MOLL_CRS = "+proj=moll +lon_0=0 +datum=WGS84 +units=m +no_defs"
_ECK4_CRS = "+proj=eck4 +lon_0=0 +datum=WGS84 +units=m +no_defs"
_MILL_CRS = "+proj=mill +lon_0=0 +datum=WGS84 +units=m +no_defs"
_ROBIN_CRS = "+proj=robin +lon_0=0 +datum=WGS84 +units=m +no_defs"


def _worldmap_sql():
    """DuckDB replay of the four world-map kernels: Mollweide and
    Eckert IV via the identical 8-step unrolled Newton iteration the
    numpy kernel runs (quadratic convergence makes the fixed count
    bit-stable), Miller's closed form, and Robinson's natural-spline
    segment coefficients inlined as an 18-branch CASE (Horner order
    matches _robin_eval)."""
    import numpy as _np
    from .raster import transforms as _tr
    d2r = _CONIC_D2R
    pi = _crs_lit(_np.pi)
    a = 6378137.0
    cs_k = _crs_lit(2.0 + _np.pi / 2.0)
    moll_x = _crs_lit(2.0 * _np.sqrt(2.0) / _np.pi * a)
    moll_y = _crs_lit(float(_np.sqrt(2.0) * a))
    eck_x = _crs_lit(float(2.0 / _np.sqrt(4.0 * _np.pi
                                          + _np.pi * _np.pi) * a))
    eck_y = _crs_lit(float(2.0 * _np.sqrt(_np.pi / (4.0 + _np.pi)) * a))

    rob_x = _crs_lit(float(0.8487 * a))
    rob_y = _crs_lit(float(1.3523 * a))

    def robin_case(coeffs):
        br = []
        for i in range(18):
            c0, c1, c2, c3 = (float(v) for v in coeffs[i])
            br.append(f"WHEN seg = {float(i)!r} THEN (({c3!r} * t "
                      f"+ {c2!r}) * t + {c1!r}) * t + {c0!r}")
        return "CASE " + " ".join(br) + " END"

    moll_step = ("th - (2.0 * th + sin(2.0 * th) - ps)"
                 " / (2.0 + 2.0 * cos(2.0 * th))")
    eck_step = ("te - (te + sin(te) * cos(te) + 2.0 * sin(te) - cs)"
                " / (1.0 + cos(te) * cos(te) - sin(te) * sin(te)"
                " + 2.0 * cos(te))")
    newtons = "".join(
        f"wm{i + 1} AS (SELECT doc_id, lamw, phi, ps, cs, alat,\n"
        f"       {moll_step} AS th, {eck_step} AS te FROM wm{i}),\n"
        for i in range(8))
    return f"""
wm0 AS (SELECT doc_id, {_CONIC_WRAP} AS lamw, phi,
               {pi} * sin(phi) AS ps, phi AS th,
               {cs_k} * sin(phi) AS cs, phi / 2.0 AS te,
               abs(lat) AS alat
        FROM (SELECT doc_id, lat, lon * {d2r} AS lam,
                     lat * {d2r} AS phi
              FROM pts WHERE doc_id % 7 = 3)),
{newtons}wmr AS (SELECT doc_id, lamw, phi, th, te, alat,
              least(floor(alat / 5.0), 17.0) AS seg,
              alat - 5.0 * least(floor(alat / 5.0), 17.0) AS t
       FROM wm8)
SELECT doc_id,
       ROUND({moll_x} * lamw * cos(th), 4) AS moll_x,
       ROUND({moll_y} * sin(th), 4) AS moll_y,
       ROUND({eck_x} * lamw * (1.0 + cos(te)), 4) AS eck4_x,
       ROUND({eck_y} * sin(te), 4) AS eck4_y,
       ROUND(6378137.0 * lamw, 4) AS mill_x,
       ROUND(6378137.0 * ln(tan({_crs_lit(_np.pi / 4.0)} + 0.4 * phi))
             * 1.25, 4) AS mill_y,
       ROUND({rob_x} * ({robin_case(_tr._ROBIN_CX)}) * lamw, 4)
         AS rob_x,
       ROUND({rob_y} * ({robin_case(_tr._ROBIN_CY)}) * sign(phi), 4)
         AS rob_y
FROM wmr"""


@_reg("st_transform_worldmap", f"""
{_pts_cte()},{_worldmap_sql()}
""")
def q_st_transform_worldmap(spark, sf_dir):
    """ST_Transform through the world-map pseudo-cylindrical family:
    Mollweide (Snyder 31-1..31-3), Eckert IV (Snyder 32-1..32-4),
    Miller cylindrical (Snyder 33-1..33-2) and Robinson (the published
    1974 5-degree table through a natural cubic spline). The reference
    resolves these through the PROJ method table (ogr/ogrct.cpp:
    919-948). The oracle replays the exact fixed-count Newton
    iterations and the spline segment coefficients in SQL."""
    st.register_all(spark)
    p = datagen.points(spark, sf_dir).where(F.col("doc_id") % 7 == 3)
    p.createOrReplaceTempView("t_wm_pts")

    def cols(crs, px, py):
        return (f"ROUND(ST_X(ST_Transform(ST_MakePoint(lon, lat), "
                f"'EPSG:4326', '{crs}')), 4) AS {px}, "
                f"ROUND(ST_Y(ST_Transform(ST_MakePoint(lon, lat), "
                f"'EPSG:4326', '{crs}')), 4) AS {py}")
    return spark.sql(f"""
        SELECT doc_id,
          {cols(_MOLL_CRS, 'moll_x', 'moll_y')},
          {cols(_ECK4_CRS, 'eck4_x', 'eck4_y')},
          {cols(_MILL_CRS, 'mill_x', 'mill_y')},
          {cols(_ROBIN_CRS, 'rob_x', 'rob_y')}
        FROM t_wm_pts""")


_GEOS_X = ("+proj=geos +h=35785831 +lon_0=0 +sweep=x "
           "+datum=WGS84 +units=m +no_defs")
_GEOS_Y = ("+proj=geos +h=35785831 +lon_0=0 +sweep=y "
           "+datum=WGS84 +units=m +no_defs")


def _geos_sql():
    """DuckDB replay of the geostationary forward (CGMS normalized
    geostationary projection) for both sweep axes: geocentric polar
    form (phi_c, r), view vector from the satellite at height h, and
    h * atan scan angles. Rows are kept to the |lon| <= 60,
    |lat| <= 60 box — comfortably inside the visible disc in both
    engines (the limb is at ~81 deg great-circle angle)."""
    import numpy as _np
    from .raster import transforms as _tr
    d2r = _CONIC_D2R
    _a, _f = _tr.ELLIPSOIDS["WGS84"]
    b_a = _crs_lit(1.0 - _f)
    rp2 = _crs_lit((1.0 - _f) * (1.0 - _f))
    rg = _crs_lit(1.0 + 35785831.0 / _a)
    h = "35785831.0"
    return f"""
ge1 AS (SELECT doc_id, lam, atan({rp2} * tan(phi)) AS phic
        FROM (SELECT doc_id, lon * {d2r} AS lam, lat * {d2r} AS phi
              FROM pts
              WHERE doc_id % 2 = 1 AND abs(lon) <= 60.0
                AND abs(lat) <= 60.0)),
ge2 AS (SELECT doc_id, lam, phic,
               {b_a} / sqrt(({b_a} * cos(phic)) * ({b_a} * cos(phic))
                            + sin(phic) * sin(phic)) AS r
        FROM ge1),
ge3 AS (SELECT doc_id,
               r * cos(lam) * cos(phic) AS vx,
               r * sin(lam) * cos(phic) AS vy,
               r * sin(phic) AS vz
        FROM ge2),
ge4 AS (SELECT doc_id, vy, vz, {rg} - vx AS tmp FROM ge3)
SELECT doc_id,
       ROUND({h} * atan(vy / sqrt(vz * vz + tmp * tmp)), 4) AS gx,
       ROUND({h} * atan(vz / tmp), 4) AS gy,
       ROUND({h} * atan(vy / tmp), 4) AS my,
       ROUND({h} * atan(vz / sqrt(vy * vy + tmp * tmp)), 4) AS mz
FROM ge4"""


@_reg("st_transform_geos", f"""
{_pts_cte()},{_geos_sql()}
""")
def q_st_transform_geos(spark, sf_dir):
    """ST_Transform through the geostationary satellite view
    (+proj=geos) in BOTH sweep-axis conventions — sweep=x (GOES-R
    fixed grid) and sweep=y (Meteosat SEVIRI) — at the 0 deg
    sub-satellite point, h = 35 785 831 m. The oracle replays the
    geocentric polar form and the h*atan scan angles; both engines
    keep only the |lon|,|lat| <= 60 box (inside the visible disc)."""
    st.register_all(spark)
    p = (datagen.points(spark, sf_dir)
         .where((F.col("doc_id") % 2 == 1)
                & (F.abs(F.col("lon")) <= 60.0)
                & (F.abs(F.col("lat")) <= 60.0)))
    p.createOrReplaceTempView("t_geos_pts")
    return spark.sql(f"""
        SELECT doc_id,
          ROUND(ST_X(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            '{_GEOS_X}')), 4) AS gx,
          ROUND(ST_Y(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            '{_GEOS_X}')), 4) AS gy,
          ROUND(ST_X(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            '{_GEOS_Y}')), 4) AS my,
          ROUND(ST_Y(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            '{_GEOS_Y}')), 4) AS mz
        FROM t_geos_pts""")


def _aea_inverse_sql():
    """DuckDB replay of aea_inverse for EPSG:5070: expects columns
    (mx, my), yields (lon, lat). Inlines the same scalar constants the
    numpy kernel computes (aea_constants + the Snyder 3-18 series)."""
    from .raster import transforms as _tr
    n, c, rho0 = _tr.aea_constants(23.0, 29.5, 45.5)
    e2, e4, e6 = _tr._E2, _tr._E2 ** 2, _tr._E2 ** 3
    c1 = e2 / 3 + 31 * e4 / 180 + 517 * e6 / 5040
    c2 = 23 * e4 / 360 + 251 * e6 / 3780
    c3 = 761 * e6 / 45360
    import numpy as _np
    qp = _tr._QP
    d2r = _CONIC_D2R
    pi = _crs_lit(_np.pi)
    two_pi = _crs_lit(2 * _np.pi)
    n, c, rho0, qp = (_crs_lit(v) for v in (n, c, rho0, qp))
    c1, c2, c3 = _crs_lit(c1), _crs_lit(c2), _crs_lit(c3)
    return f"""
inv1 AS (SELECT i, j, mx AS xx, {rho0} - my AS yy FROM d),
inv2 AS (SELECT i, j, sqrt(xx * xx + yy * yy) AS rho,
                atan2(xx, yy) AS th FROM inv1),
inv3 AS (SELECT i, j, th,
                ({c} - (rho * {n} / 6378137.0) * (rho * {n} / 6378137.0))
                  / {n} AS q FROM inv2),
inv4 AS (SELECT i, j, th,
                asin(greatest(least(q / {qp}, 1.0), -1.0)) AS beta
         FROM inv3),
inv5 AS (SELECT i, j,
                -96.0 * {d2r} + th / {n} AS lam2,
                beta + {c1} * sin(2 * beta) + {c2} * sin(4 * beta)
                     + {c3} * sin(6 * beta) AS phi
         FROM inv4),
ll AS (SELECT i, j,
              (lam2 - {two_pi} * floor((lam2 + {pi}) / {two_pi}))
                / {d2r} AS lon,
              phi / {d2r} AS lat
       FROM inv5)"""


@_reg("warp_albers_conus", f"""
{_pts_cte()},
c AS (SELECT CAST(floor((lon + 180.0) / 5.625) AS BIGINT) AS x,
             CAST(floor((90.0 - lat) / 2.8125) AS BIGINT) AS y,
             count(*) AS v
      FROM pts GROUP BY 1, 2),
d AS (SELECT gi.range AS i, gj.range AS j,
             -6000000.0 + (gi.range + 0.5) * 187500.0 AS mx,
             5000000.0 - (gj.range + 0.5) * 156250.0 AS my
      FROM range(64) gi, range(64) gj),{_aea_inverse_sql()},
px AS (SELECT i, j, CAST(floor((lon + 180.0) / 5.625) AS BIGINT) AS sx,
              CAST(floor((90.0 - lat) / 2.8125) AS BIGINT) AS sy
       FROM ll)
SELECT px.i, px.j, CAST(c.v AS DOUBLE) AS val_r
FROM px JOIN c ON c.x = px.sx AND c.y = px.sy
""")
def q_warp_albers_conus(spark, sf_dir):
    """gdalwarp through a CONIC CRS change: the 64x64 lon/lat density
    raster warps onto an EPSG:5070 (NAD83 / Conus Albers) meters grid
    with the near kernel. The oracle replays the FULL ellipsoidal Albers
    inverse (Snyder 14-19 + the 3-18 authalic series) in SQL with the
    kernel's own inlined constants — pinning the distributed warp path
    through the round-4 conic family end to end."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from .raster.tiles import TILE_SCHEMA, decode_px, encode_px
    from .raster.warp import WarpSpec, warp as warp_run
    from .raster.rasterize import GridSpec

    p = datagen.points(spark, sf_dir)
    x = F.floor((F.col("lon") + 180.0) / 5.625).cast("long")
    y = F.floor((90.0 - F.col("lat")) / 2.8125).cast("long")
    cnt = (p.select(x.alias("x"), y.alias("y"))
           .groupBy("x", "y").agg(F.count("*").cast("double").alias("v"))
           .withColumn("tile_x", F.shiftright("x", 3))
           .withColumn("tile_y", F.shiftright("y", 3)))

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.zeros((8, 8), np.float64)
        arr[pdf["y"].values & 7, pdf["x"].values & 7] = pdf["v"].values
        return pd.DataFrame([(1, 0, int(key[0]), int(key[1]), "float64",
                              None, encode_px(arr))],
                            columns=[f.name for f in TILE_SCHEMA.fields])

    tiles8 = cnt.groupBy("tile_x", "tile_y").applyInPandas(build,
                                                           TILE_SCHEMA)
    src = GridSpec(x0=-180.0, y0=90.0, dx=5.625, dy=-2.8125,
                   width=64, height=64, tile=8)
    dst = GridSpec(x0=-6000000.0, y0=5000000.0, dx=187500.0,
                   dy=-156250.0, width=64, height=64, tile=8)
    out = warp_run(tiles8, WarpSpec(src, "EPSG:4326", dst, "EPSG:5070",
                                    "near", fill=0.0))

    px_schema = T.StructType([T.StructField("i", T.LongType()),
                              T.StructField("j", T.LongType()),
                              T.StructField("val_r", T.DoubleType())])

    def to_rows(batches):
        jj, ii = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
        for pdf in batches:
            frames = []
            for r in pdf.itertuples():
                arr = decode_px(r.px, "float64", 8)
                m = arr != 0
                frames.append(pd.DataFrame({
                    "i": int(r.tile_x) * 8 + ii[m],
                    "j": int(r.tile_y) * 8 + jj[m],
                    "val_r": arr[m]}))
            yield pd.concat(frames) if frames else \
                pd.DataFrame(columns=["i", "j", "val_r"])

    return out.mapInPandas(to_rows, px_schema)


def _cea_inverse_sql():
    """DuckDB replay of cea_inverse for EPSG:6933 (EASE-Grid 2.0
    Global): expects columns (mx, my), yields (lon, lat). Inlines the
    same k0 / qp scalars the numpy kernel computes plus the Snyder 3-18
    authalic series."""
    from .raster import transforms as _tr
    import numpy as _np
    e = float(_np.sqrt(_tr._E2))
    p30 = _np.radians(30.0)
    k0 = float(_np.cos(p30) / _np.sqrt(1 - _tr._E2 * _np.sin(p30) ** 2))
    qp = float(_tr._q_e(_np.float64(1.0), e))
    e2, e4, e6 = _tr._E2, _tr._E2 ** 2, _tr._E2 ** 3
    c1 = _crs_lit(e2 / 3 + 31 * e4 / 180 + 517 * e6 / 5040)
    c2 = _crs_lit(23 * e4 / 360 + 251 * e6 / 3780)
    c3 = _crs_lit(761 * e6 / 45360)
    d2r = _CONIC_D2R
    pi = _crs_lit(float(_np.pi))
    two_pi = _crs_lit(float(2 * _np.pi))
    ak0 = _crs_lit(6378137.0 * k0)
    two_k0 = _crs_lit(2.0 * k0)
    return f"""
inv1 AS (SELECT i, j, mx / {ak0} AS lam2,
                ({two_k0} * my) / 6378137.0 AS q FROM d),
inv2 AS (SELECT i, j, lam2,
                asin(greatest(least(q / {_crs_lit(qp)}, 1.0), -1.0))
                  AS beta FROM inv1),
inv3 AS (SELECT i, j, lam2,
                beta + {c1} * sin(2 * beta) + {c2} * sin(4 * beta)
                     + {c3} * sin(6 * beta) AS phi
         FROM inv2),
ll AS (SELECT i, j,
              (lam2 - {two_pi} * floor((lam2 + {pi}) / {two_pi}))
                / {d2r} AS lon,
              phi / {d2r} AS lat
       FROM inv3)"""


@_reg("warp_ease_grid", f"""
{_pts_cte()},
c AS (SELECT CAST(floor((lon + 180.0) / 5.625) AS BIGINT) AS x,
             CAST(floor((90.0 - lat) / 2.8125) AS BIGINT) AS y,
             count(*) AS v
      FROM pts GROUP BY 1, 2),
d AS (SELECT gi.range AS i, gj.range AS j,
             -17367530.0 + (gi.range + 0.5) * 542735.3125 AS mx,
             7300000.0 - (gj.range + 0.5) * 228125.0 AS my
      FROM range(64) gi, range(64) gj),{_cea_inverse_sql()},
px AS (SELECT i, j, CAST(floor((lon + 180.0) / 5.625) AS BIGINT) AS sx,
              CAST(floor((90.0 - lat) / 2.8125) AS BIGINT) AS sy
       FROM ll)
SELECT px.i, px.j, CAST(c.v AS DOUBLE) AS val_r
FROM px JOIN c ON c.x = px.sx AND c.y = px.sy
""")
def q_warp_ease_grid(spark, sf_dir):
    """gdalwarp onto the NSIDC EASE-Grid 2.0 Global (EPSG:6933,
    cylindrical equal-area): the 64x64 lon/lat density raster warps onto
    a full-extent EASE meters grid with the near kernel. The oracle
    replays the FULL ellipsoidal CEA inverse (lam = x/(a k0), the
    authalic q from y, Snyder 3-18 series) with the kernel's own inlined
    scalars — pinning the distributed warp path through the round-4
    cylindrical family end to end."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from .raster.tiles import TILE_SCHEMA, decode_px, encode_px
    from .raster.warp import WarpSpec, warp as warp_run
    from .raster.rasterize import GridSpec

    p = datagen.points(spark, sf_dir)
    x = F.floor((F.col("lon") + 180.0) / 5.625).cast("long")
    y = F.floor((90.0 - F.col("lat")) / 2.8125).cast("long")
    cnt = (p.select(x.alias("x"), y.alias("y"))
           .groupBy("x", "y").agg(F.count("*").cast("double").alias("v"))
           .withColumn("tile_x", F.shiftright("x", 3))
           .withColumn("tile_y", F.shiftright("y", 3)))

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.zeros((8, 8), np.float64)
        arr[pdf["y"].values & 7, pdf["x"].values & 7] = pdf["v"].values
        return pd.DataFrame([(1, 0, int(key[0]), int(key[1]), "float64",
                              None, encode_px(arr))],
                            columns=[f.name for f in TILE_SCHEMA.fields])

    tiles8 = cnt.groupBy("tile_x", "tile_y").applyInPandas(build,
                                                           TILE_SCHEMA)
    src = GridSpec(x0=-180.0, y0=90.0, dx=5.625, dy=-2.8125,
                   width=64, height=64, tile=8)
    dst = GridSpec(x0=-17367530.0, y0=7300000.0, dx=542735.3125,
                   dy=-228125.0, width=64, height=64, tile=8)
    out = warp_run(tiles8, WarpSpec(src, "EPSG:4326", dst, "EPSG:6933",
                                    "near", fill=0.0))

    px_schema = T.StructType([T.StructField("i", T.LongType()),
                              T.StructField("j", T.LongType()),
                              T.StructField("val_r", T.DoubleType())])

    def to_rows(batches):
        jj, ii = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
        for pdf in batches:
            frames = []
            for r in pdf.itertuples():
                arr = decode_px(r.px, "float64", 8)
                m = arr != 0
                frames.append(pd.DataFrame({
                    "i": int(r.tile_x) * 8 + ii[m],
                    "j": int(r.tile_y) * 8 + jj[m],
                    "val_r": arr[m]}))
            yield pd.concat(frames) if frames else \
                pd.DataFrame(columns=["i", "j", "val_r"])

    return out.mapInPandas(to_rows, px_schema)


@_reg("warp_gcp_affine", _DENSITY_XY_SQL + """
SELECT CAST((x - 1) / 2 AS BIGINT) AS x, CAST((y - 1) / 2 AS BIGINT) AS y,
       v AS val_r
FROM vals WHERE x % 2 = 1 AND y % 2 = 1
""")
def q_warp_gcp_affine(spark, sf_dir):
    """gdalwarp through a GCP polynomial transformer (GDALCreateGCP-
    Transformer, alg/gdal_crs.cpp; autotest/alg/warp.py GCP fixtures'
    strategy): an analytic affine GCP grid (world = 2*px + offset) fitted
    at order 1, warped onto a half-resolution grid offset to sample pixel
    (2i+1, 2j+1) — the oracle picks those source cells directly."""
    from .raster.rasterize import GridSpec
    from .raster.transforms import gcp_crs
    from .raster.warp import WarpSpec, warp as warp_run
    t = _density_tiles_full(spark, sf_dir)
    gcps = [(float(i), float(j), 10.0 + 2.0 * i, 20.0 + 2.0 * j)
            for i in range(0, 65, 16) for j in range(0, 65, 16)]
    src = GridSpec(x0=0.0, y0=0.0, dx=1.0, dy=1.0, width=64, height=64,
                   tile=8)
    dst = GridSpec(x0=11.0, y0=21.0, dx=4.0, dy=4.0, width=32, height=32,
                   tile=8)
    out = warp_run(t, WarpSpec(src, gcp_crs(gcps, order=1), dst,
                               "EPSG:4326", "near", fill=0.0))
    return _px_rows(out, tile=8)


@_reg("gtiff_ingest", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, v AS val_r
FROM vals
""")
def q_gtiff_ingest(spark, sf_dir):
    """GeoTIFF ingest (frmts/gtiff/ baseline strips + DEFLATE): the 64x64
    density raster writes to a .tif, the distributed IFD-planned reader
    (sources/geotiff.py) decodes it back into engine tiles, and every
    pixel must match the SQL-recomputed counts — replacing the
    driver-side raster_to_tiles fixture path with a real source."""
    import numpy as np
    from .raster.tiles import decode_px
    from .sources.geotiff import read_gtiff, write_gtiff

    t = _density_tiles_full(spark, sf_dir)
    arr = np.zeros((64, 64), np.float64)
    for r in t.collect():
        px = decode_px(r.px, r.dtype, 8)
        arr[r.tile_y * 8:(r.tile_y + 1) * 8,
            r.tile_x * 8:(r.tile_x + 1) * 8] = px
    path = vsi.scratch(".tif")
    write_gtiff(arr, path, tile=None, compression="deflate",
                geotransform=(-180.0, 5.625, 0.0, 90.0, 0.0, -2.8125))
    tiles = read_gtiff(spark, path, tile=8)
    return _px_rows(tiles, tile=8)


@_reg("st_pip_bulk", f"""
{_pts_cte()}
SELECT doc_id,
       CAST(lon BETWEEN -60.0 AND 60.0 AND lat BETWEEN -30.0 AND 30.0
            AS BOOLEAN) AS in_rect,
       CAST(abs(lon / 40.0) + abs(lat / 20.0) <= 1.0 AS BOOLEAN)
         AS in_diamond
FROM pts
""")
def q_st_pip_bulk(spark, sf_dir):
    """Bulk ST_Intersects point-vs-polygon through the SQL surface — the
    round-3 batch lane (functions/st.py _predicate_batch: frombuffer
    envelopes, short-circuit, grouped points_in_polygon per distinct
    polygon; no per-row decode). Every page tests against a rectangle and
    a concave-free diamond; the oracle is the closed-form containment
    test. Also serves as the predicate-lane microbench in BENCH."""
    import numpy as np
    st.register_all(spark)
    from .core import wkb as _wkb
    rect = _wkb.box(-60.0, -30.0, 60.0, 30.0)
    diamond = _wkb.encode(_wkb.Geom(_wkb.POLYGON, [np.array(
        [[40.0, 0.0], [0.0, 20.0], [-40.0, 0.0], [0.0, -20.0],
         [40.0, 0.0]])]))
    p = datagen.points(spark, sf_dir) \
        .withColumn("_rect", F.lit(rect)) \
        .withColumn("_dia", F.lit(diamond))
    p.createOrReplaceTempView("t_pip_bulk")
    return spark.sql(
        "SELECT doc_id, "
        " ST_Intersects(ST_MakePoint(lon, lat), _rect) AS in_rect, "
        " ST_Intersects(ST_MakePoint(lon, lat), _dia) AS in_diamond "
        "FROM t_pip_bulk")


@_reg("los_wall", f"""
{_pts_cte()},
prs AS (SELECT doc_id,
               CAST(8 + doc_id % 48 AS BIGINT) AS yb,
               5.0 + CAST(doc_id % 90 AS DOUBLE) AS zb
        FROM pts WHERE doc_id % 5 = 0),
w AS (SELECT doc_id, yb, zb, abs(yb - 32) AS dy FROM prs),
n AS (SELECT doc_id, yb, zb, dy,
             greatest(0, CAST(floor((2.0 * dy * 15 - 43) / 86.0)
                              AS BIGINT) + 1) AS nw
      FROM w)
SELECT doc_id,
       CAST(60.0 + sqrt((225.0 + nw * nw) / (1849.0 + dy * dy))
            * (zb - 60.0) > 70.0 AS BOOLEAN) AS visible
FROM n
""")
def q_los_wall(spark, sf_dir):
    """Point-to-point line of sight (GDALIsLineOfSightVisible,
    alg/los.cpp): sight lines from a fixed observer (5,32,z=60) to
    per-page targets at x=48 cross a height-70 wall column at x=20 over
    flat terrain; visibility reduces in closed form to the interpolated
    line height at the single Bresenham wall-crossing cell, which the
    oracle recomputes (same closed-form minor-axis step the engine
    uses)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from .raster.dem import los
    from .raster.tiles import TILE_SCHEMA, encode_px

    tile_ids = spark.range(8).select(F.col("id").alias("tile_x")) \
        .crossJoin(spark.range(8).select(F.col("id").alias("tile_y")))

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        jj, ii = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
        arr = np.where(tx * 8 + ii == 20, 70.0, 0.0)
        return pd.DataFrame([(1, 0, tx, ty, "float64", None,
                              encode_px(arr.astype(np.float64)))],
                            columns=[f.name for f in TILE_SCHEMA.fields])

    tiles = tile_ids.groupBy("tile_x", "tile_y").applyInPandas(
        build, TILE_SCHEMA)
    pairs = datagen.points(spark, sf_dir) \
        .where(F.col("doc_id") % 5 == 0) \
        .select(F.col("doc_id").alias("pid"),
                F.lit(5).cast("long").alias("xa"),
                F.lit(32).cast("long").alias("ya"),
                F.lit(60.0).alias("za"),
                F.lit(48).cast("long").alias("xb"),
                (8 + F.col("doc_id") % 48).cast("long").alias("yb"),
                (5.0 + (F.col("doc_id") % 90).cast("double")).alias("zb"))
    return los(tiles, pairs, tile=8) \
        .select(F.col("pid").alias("doc_id"), "visible")


@_reg("median_cut_pct", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(CAST(v AS BIGINT) % 256 AS INTEGER) // 8 AS rb,
       CAST((CAST(v AS BIGINT) * 7) % 256 AS INTEGER) // 8 AS gb,
       CAST((CAST(v AS BIGINT) * 13) % 256 AS INTEGER) // 8 AS bb
FROM vals
""")
def q_median_cut_pct(spark, sf_dir):
    """GDALComputeMedianCutPCT + diffusion-free RGB->PCT
    (alg/gdalmediancut.cpp; quantization is the map-only counterpart of
    alg/gdaldither.cpp): an RGB rendering of the density raster has fewer
    distinct colors than the palette budget, so the median cut terminates
    at exactly those colors and quantization is bucket-identity — each
    pixel's palette entry must sit in the same 5-bit bucket as its source
    color, which the oracle recomputes arithmetically."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from .raster.palette import compute_median_cut_pct, rgb_to_pct
    from .raster.tiles import TILE_SCHEMA, decode_px, encode_px

    t = _density_tiles_full(spark, sf_dir)

    def to_rgb(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                v = decode_px(r.px, r.dtype, 8).astype(np.int64)
                for band, mul in ((1, 1), (2, 7), (3, 13)):
                    out.append((band, r.zoom, r.tile_x, r.tile_y,
                                "uint8", None,
                                encode_px(((v * mul) % 256)
                                          .astype(np.uint8))))
            yield pd.DataFrame(out, columns=[f.name for f in
                                             TILE_SCHEMA.fields])

    rgb = t.mapInPandas(to_rgb, TILE_SCHEMA).localCheckpoint()
    pal = compute_median_cut_pct(rgb, n_colors=256, tile=8)
    idx_tiles = rgb_to_pct(rgb, pal, tile=8)
    rows = _px_rows(idx_tiles, tile=8, dtype="uint8", name="pidx")
    pal_df = spark.createDataFrame(
        pd.DataFrame({"pidx": np.arange(len(pal), dtype=np.float64),
                      "rb": (pal[:, 0] >> 3).astype(np.int32),
                      "gb": (pal[:, 1] >> 3).astype(np.int32),
                      "bb": (pal[:, 2] >> 3).astype(np.int32)}),
        schema=T.StructType([T.StructField("pidx", T.DoubleType()),
                             T.StructField("rb", T.IntegerType()),
                             T.StructField("gb", T.IntegerType()),
                             T.StructField("bb", T.IntegerType())]))
    return rows.join(F.broadcast(pal_df), "pidx") \
        .select("x", "y", "rb", "gb", "bb")


@_reg("dither_gray_fs", _DENSITY_XY_SQL + """
SELECT x, y, CAST((vc + pprev - p) / 2 AS DOUBLE) AS pidx
FROM (
  SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, vc,
         SUM(vc % 2) OVER (PARTITION BY x ORDER BY y
                           ROWS UNBOUNDED PRECEDING) % 2 AS p,
         COALESCE(SUM(vc % 2) OVER (PARTITION BY x ORDER BY y
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) % 2 AS pprev
  FROM (SELECT x, y, LEAST(CAST(v AS BIGINT), 254) AS vc FROM vals) q
) w
""")
def q_dither_gray_fs(spark, sf_dir):
    """GDALDitherRGB2PCT (alg/gdaldither.cpp Floyd-Steinberg, distributed
    as the loop-skewed wavefront of raster/dither.py) on a gray rendering
    of the density raster against an even-gray palette {0,2,..,254}: every
    quantization error is 0 or +1, nSixth truncates to 0, so the error
    flows straight down a column and the dithered palette index has the
    closed form (v + p_prev - p)/2 where p is the running parity of
    column-cumulative v — which the oracle recomputes with a window
    function.  Exercises the full distributed path: shear, wave jobs,
    top-error exchange across tile bands, un-shear."""
    import numpy as np
    import pandas as pd
    from .raster.dither import dither_rgb2pct
    from .raster.tiles import TILE_SCHEMA, decode_px, encode_px, retile

    t32 = retile(_density_tiles_full(spark, sf_dir), 8, 32)

    def to_gray(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                v = decode_px(r.px, r.dtype, 32)
                gray = np.minimum(v, 254).astype(np.uint8)
                for band in (1, 2, 3):
                    out.append((band, r.zoom, r.tile_x, r.tile_y,
                                "uint8", None, encode_px(gray)))
            yield pd.DataFrame(out, columns=[f.name for f in
                                             TILE_SCHEMA.fields])

    rgb = t32.mapInPandas(to_gray, TILE_SCHEMA).localCheckpoint()
    pal = np.stack([np.arange(0, 256, 2)] * 3, axis=1).astype(np.uint8)
    idx = dither_rgb2pct(rgb, pal, tile=32, n_bits=8, width=64, height=64)
    return _px_rows(idx, tile=32, dtype="uint8", name="pidx")


@_reg("gpkg_roundtrip", f"""
{_pts_cte()}
SELECT doc_id, ROUND(lon, 9) AS lon_r, ROUND(lat, 9) AS lat_r
FROM pts WHERE doc_id % 7 = 0
""")
def q_gpkg_roundtrip(spark, sf_dir):
    """GeoPackage driver round-trip (ogr/ogrsf_frmts/gpkg/
    ogrgeopackagetablelayer.cpp; GPB codec per OGC 12-128r15): every 7th
    page writes into a .gpkg feature table and reads back through the
    rowid-range distributed reader; the oracle recomputes the same
    (doc_id, lon, lat) set from the source table."""
    from .core import wkb as _wkb
    from .sources.gpkg import read_gpkg, write_gpkg

    pts = datagen.points(spark, sf_dir).where(F.col("doc_id") % 7 == 0) \
        .select("doc_id", "lon", "lat").orderBy("doc_id").collect()
    path = vsi.scratch(".gpkg")
    rows = [(_wkb.point(r.lon, r.lat), {"doc_id": int(r.doc_id)}) for r in pts]
    write_gpkg(rows, path, table="pages", geometry_type="POINT")
    out = read_gpkg(spark, path, rows_per_task=64)

    px, py = _pxy_udfs()

    return out.select(F.col("doc_id"),
                      F.round(px("geom"), 9).alias("lon_r"),
                      F.round(py("geom"), 9).alias("lat_r"))


@_reg("ogrinfo_summary", f"""
{_pts_cte()}
SELECT 'pages' AS layer, CAST(count(*) AS BIGINT) AS feature_count,
       CAST(0 AS BIGINT) AS n_null_geom, 'POINT' AS geom_type,
       ROUND(min(lon), 9) AS minx_r, ROUND(min(lat), 9) AS miny_r,
       ROUND(max(lon), 9) AS maxx_r, ROUND(max(lat), 9) AS maxy_r,
       'doc_id: bigint' AS fields
FROM pts WHERE doc_id % 3 = 0
""")
def q_ogrinfo_summary(spark, sf_dir):
    """ogrinfo -so twin (apps/ogrinfo_lib.cpp ReportOnLayer): feature
    count, promoted geometry type, extent and field list in one partial
    pass + combine; the oracle recomputes count/extent in SQL."""
    from .operators.info import layer_info

    pts = datagen.points(spark, sf_dir).where(F.col("doc_id") % 3 == 0)

    layer = pts.select("doc_id", st.st_makepoint("lon", "lat").alias("geom"))
    out = layer_info(layer, name="pages")
    return out.select("layer", "feature_count", "n_null_geom", "geom_type",
                      F.round("minx", 9).alias("minx_r"),
                      F.round("miny", 9).alias("miny_r"),
                      F.round("maxx", 9).alias("maxx_r"),
                      F.round("maxy", 9).alias("maxy_r"), "fields")


@_reg("gdalinfo_bands", _DENSITY_VALS_SQL + """
SELECT CAST(1 AS INTEGER) AS band, CAST(64 AS BIGINT) AS width,
       CAST(64 AS BIGINT) AS height, CAST(64 AS BIGINT) AS n_tiles,
       'float64' AS dtype, CAST(count(*) AS BIGINT) AS n_valid,
       min(v) AS min_v, max(v) AS max_v,
       ROUND(avg(v), 6) AS mean_r, ROUND(stddev_pop(v), 6) AS stddev_r
FROM vals
""")
def q_gdalinfo_bands(spark, sf_dir):
    """gdalinfo twin (apps/gdalinfo_lib.cpp): per-band size from the tile
    extent + dtype + exact ComputeStatistics block; the oracle recomputes
    the dimensions and statistics from the same density grid."""
    from .operators.info import raster_info
    t = _density_tiles_full(spark, sf_dir)
    out = raster_info(t, tile=8)
    return out.select("band", "width", "height", "n_tiles", "dtype",
                      "n_valid",
                      F.col("min").alias("min_v"),
                      F.col("max").alias("max_v"),
                      F.round("mean", 6).alias("mean_r"),
                      F.round("stddev", 6).alias("stddev_r"))


@_reg("arrow_ipc_roundtrip", f"""
{_pts_cte()}
SELECT doc_id, ROUND(lon, 9) AS lon_r, ROUND(lat, 9) AS lat_r
FROM pts WHERE doc_id % 7 = 0
""")
def q_arrow_ipc_roundtrip(spark, sf_dir):
    """Arrow IPC (Feather V2) driver round-trip (ogr/ogrsf_frmts/arrow/
    ogrfeatherwriterlayer.cpp `geo` schema metadata; ogrfeatherlayer.cpp):
    every 7th page becomes a point feature written as footer-complete IPC
    part files (distributed pyarrow sink), read back through
    record-batch-range tasks planned from footers alone; the oracle
    recomputes the same (doc_id, lon, lat) set from the source table."""
    from .sources.arrow_ipc import read_arrow_ipc, write_arrow_ipc

    pts = datagen.points(spark, sf_dir).where(F.col("doc_id") % 7 == 0) \
        .select("doc_id", "lon", "lat")

    layer = pts.select("doc_id", st.st_makepoint("lon", "lat").alias("geom"))
    path = vsi.scratch()
    write_arrow_ipc(layer, path)
    out, _meta = read_arrow_ipc(spark, path, batches_per_task=4)

    px, py = _pxy_udfs()

    return out.select(F.col("doc_id"),
                      F.round(px("geom"), 9).alias("lon_r"),
                      F.round(py("geom"), 9).alias("lat_r"))


@_reg("kml_roundtrip", f"""
{_pts_cte()}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       ROUND(lon, 9) AS lon_r, ROUND(lat, 9) AS lat_r
FROM pts WHERE doc_id % 17 = 0
""")
def q_kml_roundtrip(spark, sf_dir):
    """KML driver round-trip (ogr/ogrsf_frmts/kml, OGC KML 2.2): every
    17th page becomes a Placemark with its doc_id in ExtendedData,
    written as per-partition KML documents and read back through the
    namespace-agnostic distributed parser; the oracle recomputes the same
    (doc_id, lon, lat) set from the source table."""
    from .sources.kml import read_kml, write_kml

    pts = datagen.points(spark, sf_dir).where(F.col("doc_id") % 17 == 0)

    layer = pts.select("doc_id", st.st_makepoint("lon", "lat").alias("geom"))
    path = vsi.scratch()
    write_kml(layer, path, name_col=None, props_col=None)
    out = read_kml(spark, path)

    px, py = _pxy_udfs()

    return out.select(
        F.get_json_object("props", "$.doc_id").cast("long").alias("doc_id"),
        F.round(px("geom"), 9).alias("lon_r"),
        F.round(py("geom"), 9).alias("lat_r"))


@_reg("gml_roundtrip", f"""
{_pts_cte()}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       ROUND(lon, 9) AS lon_r, ROUND(lat, 9) AS lat_r
FROM pts WHERE doc_id % 19 = 0
""")
def q_gml_roundtrip(spark, sf_dir):
    """GML driver round-trip (ogr/ogrsf_frmts/gml, OGC GML 3.2): every
    19th page becomes a featureMember with its doc_id attribute, written
    as per-partition documents and read back through the
    namespace-agnostic distributed parser; the oracle recomputes the same
    (doc_id, lon, lat) set from the source table."""
    from .sources.gml import read_gml, write_gml

    pts = datagen.points(spark, sf_dir).where(F.col("doc_id") % 19 == 0)

    layer = pts.select("doc_id", st.st_makepoint("lon", "lat").alias("geom"))
    path = vsi.scratch()
    write_gml(layer, path, props_col=None)
    out = read_gml(spark, path)

    px, py = _pxy_udfs()

    return out.select(
        F.get_json_object("props", "$.doc_id").cast("long").alias("doc_id"),
        F.round(px("geom"), 9).alias("lon_r"),
        F.round(py("geom"), 9).alias("lat_r"))


@_reg("geoparquet_bbox", f"""
{_pts_cte()}
SELECT doc_id, ROUND(lon, 9) AS xmin_r, ROUND(lat, 9) AS ymin_r,
       ROUND(lon + 4.0, 9) AS xmax_r, ROUND(lat + 6.0, 9) AS ymax_r
FROM pts
WHERE doc_id % 7 = 0
  AND lon <= 60.0 AND lon + 4.0 >= -50.0
  AND lat <= 40.0 AND lat + 6.0 >= -40.0
""")
def q_geoparquet_bbox(spark, sf_dir):
    """GeoParquet round-trip with a covering-bbox filtered scan
    (ogr/ogrsf_frmts/parquet/ogrparquetwriterlayer.cpp:660-840 `geo`
    footer; GeoParquet 1.1 covering.bbox): every 7th page becomes a
    4x6-degree box written as footer-complete GeoParquet part files
    (distributed pyarrow sink, no driver geometry), then a bbox read
    applies plain comparisons on the stored struct column — row-group
    stats prune, Catalyst pushes down. The oracle recomputes the rectangle
    intersection in SQL from the source table."""
    from .core import wkb as _wkb
    from .sources.geoparquet import read_geoparquet, write_geoparquet

    pts = datagen.points(spark, sf_dir).where(F.col("doc_id") % 7 == 0) \
        .select("doc_id", "lon", "lat")

    @F.pandas_udf("binary")
    def boxgeom(lon, lat):
        import pandas as pd
        return pd.Series([_wkb.box(x, y, x + 4.0, y + 6.0)
                          for x, y in zip(lon, lat)])

    layer = pts.select("doc_id", boxgeom("lon", "lat").alias("geom"))
    path = vsi.scratch()
    write_geoparquet(layer, path)
    out, _meta = read_geoparquet(spark, path,
                                 bbox=(-50.0, -40.0, 60.0, 40.0))
    return out.select(
        "doc_id",
        F.round(F.col("geom_bbox.xmin"), 9).alias("xmin_r"),
        F.round(F.col("geom_bbox.ymin"), 9).alias("ymin_r"),
        F.round(F.col("geom_bbox.xmax"), 9).alias("xmax_r"),
        F.round(F.col("geom_bbox.ymax"), 9).alias("ymax_r"))


@_reg("zarr_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, v AS val_r
FROM vals
""")
def q_zarr_roundtrip(spark, sf_dir):
    """Zarr v2 driver round-trip (frmts/zarr/zarrv2array.cpp chunk
    naming, zarr_array.cpp decode): the density grid written as a
    zlib-compressed chunked store (one task per chunk, driver writes only
    .zarray JSON) and read back through chunk-planned tasks; the oracle
    regenerates the pixel values in SQL."""
    from .sources.zarr import read_zarr, write_zarr

    t = _density_tiles_full(spark, sf_dir)
    path = vsi.scratch(".zarr")
    write_zarr(t, path, width=64, height=64, tile=8)
    out, _meta = read_zarr(spark, path)
    return _px_rows(out, tile=8)


@_reg("gdal2xyz_vals", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, v AS val_r
FROM vals
""")
def q_gdal2xyz_vals(spark, sf_dir):
    """gdal2xyz twin (osgeo_utils/gdal2xyz.py): the tile table exploded
    to one (x, y, value) row per pixel — map-only, no shuffle; the oracle
    regenerates the same density values in SQL."""
    from .raster.tiles import gdal2xyz
    t = _density_tiles_full(spark, sf_dir)
    out = gdal2xyz(t, tile=8)
    return out.select(F.col("x").cast("long").alias("x"),
                      F.col("y").cast("long").alias("y"),
                      F.col("value").alias("val_r"))


@_reg("gdalcompare_report", _DENSITY_VALS_SQL + """
SELECT CAST(1 AS INTEGER) AS band,
       CAST(count(*) FILTER (WHERE v != 0) AS BIGINT) AS n_pixels_diff,
       CAST(max(v) AS DOUBLE) AS max_abs_diff
FROM vals
""")
def q_gdalcompare_report(spark, sf_dir):
    """gdalcompare twin (osgeo_utils/gdalcompare.py compare_band): diff
    report between the density grid and its doubled band-calc copy — the
    differing-pixel count is exactly the nonzero count and the max
    absolute difference is the max density, which the oracle recomputes."""
    from .raster.stats import band_calc
    from .raster.tiles import raster_compare
    t = _density_tiles_full(spark, sf_dir).localCheckpoint()
    doubled = band_calc(t, "A * 2.0", tile=8)
    out = raster_compare(t, doubled, tile=8)
    return out.select("band", "n_pixels_diff",
                      F.col("max_abs_diff").cast("double")
                      .alias("max_abs_diff"))


@_reg("vrt_mosaic", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CASE WHEN x >= 24 THEN 3.0 * v ELSE v END AS val_r
FROM vals
""")
def q_vrt_mosaic(spark, sf_dir):
    """VRT virtual mosaic (frmts/vrt vrtdataset.cpp, vrtsources.cpp,
    apps/gdalbuildvrt_lib.cpp): the left window of the density grid and a
    tripled right window (overlapping at x in [24,40)) written as two
    GeoTIFFs, composed by build_vrt placement from their geotransforms,
    read back through the warp-backed SimpleSource path — the later input
    wins the overlap (last-on-top), so the oracle is v left of x=24 and
    3v from there on."""
    import os
    import numpy as np
    from .raster.tiles import tiles_to_raster
    from .raster.vrt import build_vrt, read_vrt
    from .sources.geotiff import write_gtiff

    t = _density_tiles_full(spark, sf_dir)
    arr = tiles_to_raster(t, tile=8)[:64, :64]    # tiny fixture raster
    base = vsi.scratch()
    os.makedirs(base)
    pa, pb = os.path.join(base, "a.tif"), os.path.join(base, "b.tif")
    # A: x [0,40); B (wins the [24,40) overlap): x [24,64), tripled
    write_gtiff(np.ascontiguousarray(arr[:, :40]), pa,
                geotransform=(0.0, 1.0, 0.0, 64.0, 0.0, -1.0))
    write_gtiff(np.ascontiguousarray(arr[:, 24:] * 3.0), pb,
                geotransform=(24.0, 1.0, 0.0, 64.0, 0.0, -1.0))
    vp = os.path.join(base, "m.vrt")
    build_vrt([pa, pb], vp, nodata=-1.0)
    out = read_vrt(spark, vp, tile=8)
    return _px_rows(out, tile=8)


@_reg("retile_16", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, v AS val_r
FROM vals
""")
def q_retile_16(spark, sf_dir):
    """gdal_retile (osgeo_utils/gdal_retile.py): re-block the 8-px density
    tiles to 16-px tiles (sub-block emit + groupBy(dst tile) assemble) —
    the per-pixel content must be unchanged, which the oracle recomputes
    from the source counts."""
    from .raster.tiles import retile
    t = _density_tiles_full(spark, sf_dir)
    out = retile(t, src_tile=8, dst_tile=16)
    return _px_rows(out, tile=16)


@_reg("warp_rpc_affine", _DENSITY_XY_SQL + """
SELECT CAST((x - 1) / 2 AS BIGINT) AS x, CAST((y - 1) / 2 AS BIGINT) AS y,
       v AS val_r
FROM vals WHERE x % 2 = 1 AND y % 2 = 1
""")
def q_warp_rpc_affine(spark, sf_dir):
    """gdalwarp through an RPC transformer (GDALCreateRPCTransformer,
    alg/gdal_rpc.cpp): an affine RPC00B model encodes image px = (world -
    offset) / 2 so the half-resolution destination grid samples source
    pixels (2i+1, 2j+1) — same analytic construction as warp_gcp_affine,
    exercising the rational-polynomial forward evaluation and the Newton
    inverse inside the distributed warp chain."""
    from .raster.rasterize import GridSpec
    from .raster.transforms import rpc_crs
    from .raster.warp import WarpSpec, warp as warp_run
    t = _density_tiles_full(spark, sf_dir)
    # normalized affine: samp = L, line = P with SAMP/LINE_SCALE=32,
    # OFF=32 and LONG/LAT_SCALE=64, OFF=74/84  ->  px = (world - 10)/2
    meta = dict(LINE_OFF=32.0, SAMP_OFF=32.0, LAT_OFF=84.0, LONG_OFF=74.0,
                HEIGHT_OFF=0.0, LINE_SCALE=32.0, SAMP_SCALE=32.0,
                LAT_SCALE=64.0, LONG_SCALE=64.0, HEIGHT_SCALE=100.0)
    z = [0.0] * 20
    sn = z.copy(); sn[1] = 1.0
    ln = z.copy(); ln[2] = 1.0
    den = z.copy(); den[0] = 1.0
    src = GridSpec(x0=0.0, y0=0.0, dx=1.0, dy=1.0, width=64, height=64,
                   tile=8)
    dst = GridSpec(x0=11.0, y0=21.0, dx=4.0, dy=4.0, width=32, height=32,
                   tile=8)
    out = warp_run(t, WarpSpec(src, rpc_crs(meta, ln, den, sn, den), dst,
                               "EPSG:4326", "near", fill=0.0))
    return _px_rows(out, tile=8)


# ---------------------------------------------------------------------------
# nearblack — collar removal (apps/nearblack_lib.cpp)
# ---------------------------------------------------------------------------

_NB_H, _NB_W, _NB_TILE = 96, 80, 32
_NB_BLACK_SQL = ("(c < 2 + (r % 4) OR c >= 80 - (1 + (r % 3))"
                 " OR r < 2 + (c % 5) OR r >= 96 - (1 + (c % 2)))")


def _nearblack_fixture_tiles(spark):
    """Deterministic collar raster, built distributed: ragged near-black
    frames (widths varying per row/column by closed formulas) around a
    solid value-200 interior. One tile row per task."""
    import numpy as np
    import pandas as pd

    from .raster.tiles import TILE_SCHEMA

    ntx = -(-_NB_W // _NB_TILE)
    nty = -(-_NB_H // _NB_TILE)
    ids = spark.range(ntx * nty, numPartitions=min(8, ntx * nty))

    def build(batches):
        for pdf in batches:
            out = []
            for tid in pdf["id"]:
                ty, tx = divmod(int(tid), ntx)
                jj, ii = np.meshgrid(np.arange(_NB_TILE),
                                     np.arange(_NB_TILE), indexing="ij")
                r = ty * _NB_TILE + jj
                c = tx * _NB_TILE + ii
                black = ((c < 2 + (r % 4)) | (c >= _NB_W - (1 + (r % 3)))
                         | (r < 2 + (c % 5)) | (r >= _NB_H - (1 + (c % 2))))
                v = np.where(black, 0, 200).astype(np.uint8)
                v[(r >= _NB_H) | (c >= _NB_W)] = 0
                out.append((1, 0, tx, ty, "uint8", None, v.tobytes()))
            yield pd.DataFrame(out, columns=[f.name for f in
                                             TILE_SCHEMA.fields])

    from .raster.tiles import TILE_SCHEMA as _TS
    return ids.mapInPandas(build, _TS)


@_reg("nearblack_collar", f"""
WITH px AS (
  SELECT gr.range AS r, gc.range AS c,
         {_NB_BLACK_SQL} AS black
  FROM range({_NB_H}) gr, range({_NB_W}) gc),
tc AS (SELECT c, coalesce(min(CASE WHEN NOT black THEN r END), {_NB_H}) AS t,
              coalesce(max(CASE WHEN NOT black THEN r END), -1) AS b
       FROM px GROUP BY c),
lr AS (SELECT r, coalesce(min(CASE WHEN NOT black THEN c END), {_NB_W}) AS l,
              coalesce(max(CASE WHEN NOT black THEN c END), -1) AS rr
       FROM px GROUP BY r),
s AS (SELECT px.r, px.c FROM px
      JOIN tc ON tc.c = px.c JOIN lr ON lr.r = px.r
      WHERE px.r < tc.t OR px.r > tc.b
         OR (px.c < lr.l AND px.c <> {_NB_W - 1})
         OR (px.c > lr.rr AND px.c <> 0))
SELECT r, CAST(count(*) AS BIGINT) AS n_masked,
       CAST(sum(c) AS BIGINT) AS sum_c
FROM s GROUP BY r
""")
def q_nearblack_collar(spark, sf_dir):
    """nearblack collar removal (GDALNearblack, apps/nearblack_lib.cpp):
    distributed two-pass scan (row strips + per-column counter monoid fold)
    over a deterministic ragged-frame fixture; max_non_black=0. The oracle
    is the closed-form collar set — union of the four directional near-black
    boundary runs with the reference's excluded-end-pixel quirk (L->R never
    visits the last column, R->L never visits column 0); the closed form is
    itself pinned against a branch-exact transcription of ProcessLine in
    tests/test_nearblack.py. Returns per-row masked-pixel counts."""
    import numpy as np
    import pandas as pd

    from .raster.nearblack import nearblack

    tiles = _nearblack_fixture_tiles(spark)
    out = nearblack(tiles, width=_NB_W, height=_NB_H, tile=_NB_TILE,
                    near_dist=15, max_non_black=0)
    mask = out.where(F.col("band") == 0)

    def explode_mask(batches):
        for pdf in batches:
            rs, cs = [], []
            for row in pdf.itertuples():
                arr = np.frombuffer(row.px, dtype=np.uint8).reshape(
                    _NB_TILE, _NB_TILE)
                jj, ii = np.nonzero(arr == 0)
                r = int(row.tile_y) * _NB_TILE + jj
                c = int(row.tile_x) * _NB_TILE + ii
                keep = (r < _NB_H) & (c < _NB_W)
                rs.append(r[keep])
                cs.append(c[keep])
            yield pd.DataFrame({"r": np.concatenate(rs) if rs else [],
                                "c": np.concatenate(cs) if cs else []})

    import pyspark.sql.types as T
    sch = T.StructType([T.StructField("r", T.LongType()),
                        T.StructField("c", T.LongType())])
    pxdf = mask.mapInPandas(explode_mask, sch)
    return pxdf.groupBy("r").agg(
        F.count("*").alias("n_masked"),
        F.sum("c").alias("sum_c"))


@_reg("gtiff_tindex", """
SELECT i,
       CAST(10 * i - 100 AS DOUBLE) AS xmin_r,
       ROUND((40 - 5 * i) - (12 + 2 * i) * (0.5 + 0.125 * i), 6) AS ymin_r,
       ROUND((10 * i - 100) + (16 + 4 * i) * (0.5 + 0.25 * i), 6) AS xmax_r,
       CAST(40 - 5 * i AS DOUBLE) AS ymax_r,
       ROUND((16 + 4 * i) * (0.5 + 0.25 * i)
             * (12 + 2 * i) * (0.5 + 0.125 * i), 6) AS area_r
FROM (SELECT CAST(range AS BIGINT) AS i FROM range(6))
""")
def q_gtiff_tindex(spark, sf_dir):
    """gdaltindex (apps/gdaltindex_lib.cpp): raster tile index over six
    GeoTIFF fixtures — header-only metadata scan per file, footprint ring
    through the geotransform corners in the reference's order. Returns the
    envelope plus ST_Area of the footprint polygon; the oracle is the
    closed form of the fixtures' geotransforms."""
    import os

    import numpy as np

    from .sources.geotiff import tile_index, write_gtiff

    d = vsi.scratch()
    os.makedirs(d)
    paths = []
    for i in range(6):
        w, h = 16 + 4 * i, 12 + 2 * i
        gt = (10.0 * i - 100.0, 0.5 + 0.25 * i, 0.0,
              40.0 - 5.0 * i, 0.0, -(0.5 + 0.125 * i))
        p = os.path.join(d, f"r{i}.tif")
        write_gtiff(np.full((h, w), i, np.uint8), p, geotransform=gt)
        paths.append(p)
    idx = tile_index(spark, paths)
    i_col = F.regexp_extract(F.col("location"), r"r(\d+)\.tif$", 1) \
        .cast("long").alias("i")
    return idx.select(
        i_col, F.col("xmin").alias("xmin_r"),
        F.round("ymin", 6).alias("ymin_r"),
        F.round("xmax", 6).alias("xmax_r"),
        F.col("ymax").alias("ymax_r"),
        F.round(st.st_area("geom"), 6).alias("area_r"))


@_reg("ann_ivf_topk", """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
             list_dot_product(q.v, e.v)
              / (sqrt(list_dot_product(q.v, q.v))
                 * sqrt(list_dot_product(e.v, e.v))) AS cos
      FROM e q, e WHERE q.vec_id < 10 AND e.vec_id != q.vec_id)
SELECT q_id, rank, vec_id FROM (
  SELECT q_id, vec_id,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank
  FROM p) WHERE rank <= 3
""")
def q_ann_ivf_topk(spark, sf_dir):
    """IVF-bucketed ANN scale path: distributed Lloyd k-means builds the
    inverted lists, queries probe their nearest lists, exact cosine
    re-rank. Probing ALL lists (nprobe = n_clusters) is exact brute force
    — that anchor is what the oracle pins; nprobe < n_clusters recall is
    covered by tests/test_simsearch_ivf.py."""
    return simsearch.ivf_topk(_t(spark, sf_dir, "embeddings"),
                              n_clusters=8, nprobe=8)


_MESSY_URL_SQL = """
CASE doc_id % 6
  WHEN 0 THEN 'https://site' || (doc_id % 167) || '.example/p/' || (doc_id % 167)
  WHEN 1 THEN 'HTTPS://SITE' || (doc_id % 167) || '.EXAMPLE/p/' || (doc_id % 167)
  WHEN 2 THEN 'https://site' || (doc_id % 167) || '.example:443/p/' || (doc_id % 167)
  WHEN 3 THEN 'https://site' || (doc_id % 167) || '.example/p/' || (doc_id % 167) || '/'
  WHEN 4 THEN 'https://site' || (doc_id % 167) || '.example/p/' || (doc_id % 167) || '?b=2&a=1#frag'
  ELSE 'https://site' || (doc_id % 167) || '.example/p/' || (doc_id % 167) || '?a=1&b=2'
END
"""


@_reg("url_canon_dedup", f"""
WITH u AS (SELECT doc_id, {_MESSY_URL_SQL} AS url FROM documents),
p AS (SELECT doc_id,
        regexp_replace(regexp_replace(
            lower(regexp_extract(url, '^([a-zA-Z]+://[^/?#]+)', 1)),
            '^(https://[^/?#]*):443$', '\\1'),
            '^(http://[^/?#]*):80$', '\\1') AS head,
        regexp_replace(regexp_extract(url, '^[a-zA-Z]+://[^/?#]+(.*)$', 1),
                       '#.*$', '') AS rest
      FROM u),
q AS (SELECT doc_id, head,
        regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/$', '') AS path,
        regexp_extract(rest, '\\?(.*)$', 1) AS query
      FROM p),
c AS (SELECT doc_id,
        head || path || CASE WHEN query = '' THEN ''
          ELSE '?' || array_to_string(list_sort(string_split(query, '&')),
                                      '&') END AS canon_url
      FROM q)
SELECT canon_url, CAST(count(*) AS BIGINT) AS n_dupes,
       min(doc_id) AS keep_id
FROM c GROUP BY canon_url
""")
def q_url_canon_dedup(spark, sf_dir):
    """URL canonicalization + dedup (training-pipeline ingest normalizer,
    operators/urlops.py): six deterministic messy spellings per page
    (case, default port, trailing slash, fragment, query-param order)
    collapse onto their canonical URL; keep the lowest doc_id. The oracle
    canonicalizes the SAME messy strings independently in DuckDB SQL —
    two regexp implementations must agree byte-for-byte."""
    from .operators.urlops import url_dedup
    d = _t(spark, sf_dir, "documents")
    g = (F.col("doc_id") % 167).cast("string")
    base = F.concat(F.lit("https://site"), g, F.lit(".example/p/"), g)
    upper = F.concat(F.lit("HTTPS://SITE"), g, F.lit(".EXAMPLE/p/"), g)
    port = F.concat(F.lit("https://site"), g, F.lit(".example:443/p/"), g)
    v = F.col("doc_id") % 6
    url = (F.when(v == 0, base)
           .when(v == 1, upper)
           .when(v == 2, port)
           .when(v == 3, F.concat(base, F.lit("/")))
           .when(v == 4, F.concat(base, F.lit("?b=2&a=1#frag")))
           .otherwise(F.concat(base, F.lit("?a=1&b=2"))))
    return url_dedup(d.select("doc_id", url.alias("url")))


@_reg("ogr_sql_compress", """
SELECT doc_id, text AS text_rt FROM documents
""")
def q_ogr_sql_compress(spark, sf_dir):
    """ogr_deflate/ogr_inflate SQLite-dialect functions
    (ogrsqlitesqlfunctions.cpp:120-208): every document's text must
    round-trip through SQL-level zlib compress -> decompress byte-exactly
    (the reference deflates strlen+1, so the trailing NUL is stripped
    after decode)."""
    st.register_all(spark)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("docs_rt_v")
    return spark.sql("""
        SELECT doc_id,
               left(decode(ogr_inflate(ogr_deflate(text)), 'utf-8'),
                    length(decode(ogr_inflate(ogr_deflate(text)),
                                  'utf-8')) - 1) AS text_rt
        FROM docs_rt_v""")


# =============================================================================
# webtext pipeline — PII scrubbing + regex geoparsing (north-star pages table)
# =============================================================================

_PII_SYNTH_SQL = (
    "text || ' Contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example or '"
    " || '+1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || CASE WHEN doc_id % 3 = 0 THEN ' from 10.'"
    " || CAST(doc_id % 256 AS VARCHAR) || '.0.1' ELSE '' END"
)

@_reg("pii_scrub", f"""
WITH d AS (SELECT doc_id, {_PII_SYNTH_SQL} AS text FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{textops.PII_EMAIL_RE}'))
            AS INTEGER) AS n_email,
       CAST(len(regexp_extract_all(text, '{textops.PII_PHONE_RE}'))
            AS INTEGER) AS n_phone,
       CAST(len(regexp_extract_all(text, '{textops.PII_IPV4_RE}'))
            AS INTEGER) AS n_ip,
       regexp_replace(regexp_replace(regexp_replace(text,
           '{textops.PII_EMAIL_RE}', '<EMAIL>', 'g'),
           '{textops.PII_PHONE_RE}', '<PHONE>', 'g'),
           '{textops.PII_IPV4_RE}', '<IP>', 'g') AS scrubbed
FROM d
""")
def q_pii_scrub(spark, sf_dir):
    """Training-corpus PII redaction (C4/CCNet-style scrub): e-mail,
    phone and IPv4 mentions replaced by typed placeholders with per-doc
    match counts. Deterministic PII is synthesized into each document
    from doc_id (same concat on both engines) so every regex path is
    exercised; the patterns are RE2-compatible, so Spark (Java regex) and
    DuckDB (RE2) run literally the same expressions. Map-only, zero
    Python, fused into the scan at 100 TB."""
    d = _t(spark, sf_dir, "documents")
    synth = F.concat(
        F.col("text"), F.lit(" Contact user"),
        F.col("doc_id").cast("string"), F.lit("@mail"),
        (F.col("doc_id") % 7).cast("string"), F.lit(".example or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(" from 10."),
                        (F.col("doc_id") % 256).cast("string"),
                        F.lit(".0.1"))).otherwise(F.lit("")))
    return textops.pii_scrub(d.select("doc_id", synth.alias("text")))


@_reg("geoparse_tiles", f"""
WITH p AS (SELECT doc_id,
        '<html><head><meta name="geo" content="geo:'
        || CAST((doc_id * {datagen.LAT_MULT}) % {datagen.LAT_MOD} - 8500
                AS VARCHAR)
        || ';'
        || CAST((doc_id * {datagen.LON_MULT}) % {datagen.LON_MOD} - 18000
                AS VARCHAR)
        || '"></head><body>' || text || '</body></html>' AS html_txt
      FROM documents WHERE doc_id % 5 <> 4
      UNION ALL
      SELECT doc_id, '<html><body>' || text || '</body></html>'
      FROM documents WHERE doc_id % 5 = 4),
g AS (SELECT doc_id,
        CAST(nullif(regexp_extract(html_txt, '{textops.GEOPARSE_RE}', 1),
                    '') AS BIGINT) / 100.0 AS plat,
        CAST(nullif(regexp_extract(html_txt, '{textops.GEOPARSE_RE}', 2),
                    '') AS BIGINT) / 100.0 AS plon
      FROM p),
t AS (SELECT {tilemath.mercator_tile_sql('plon', 'plat', 6)[0]} AS tile_x,
             {tilemath.mercator_tile_sql('plon', 'plat', 6)[1]} AS tile_y
      FROM g WHERE plat IS NOT NULL AND abs(plat) < 85.05)
SELECT tile_x, tile_y, CAST(count(*) AS BIGINT) AS n_pages
FROM t GROUP BY tile_x, tile_y
""")
def q_geoparse_tiles(spark, sf_dir):
    """Geoparse -> tile pipeline over the north-star pages table: a
    ``geo:ILAT;ILON`` microformat token (centi-degree ints, 1-in-5 pages
    lack it) is regex-extracted from the page markup, parsed to lon/lat,
    and the mentions are binned to z6 web-mercator tiles
    (gdal2tiles.py:328-545 tile math). Scan -> regexp_extract -> tile
    column math -> one partial-agg groupBy; no UDF, no Python."""
    d = _t(spark, sf_dir, "documents")
    tok = F.concat(
        F.lit('<html><head><meta name="geo" content="geo:'),
        ((F.col("doc_id") * datagen.LAT_MULT) % datagen.LAT_MOD
         - 8500).cast("string"),
        F.lit(";"),
        ((F.col("doc_id") * datagen.LON_MULT) % datagen.LON_MOD
         - 18000).cast("string"),
        F.lit('"></head><body>'), F.col("text"), F.lit("</body></html>"))
    plain = F.concat(F.lit("<html><body>"), F.col("text"),
                     F.lit("</body></html>"))
    pages = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 != 4, tok).otherwise(plain)
         .alias("html_txt"))
    g = textops.geoparse(pages)
    g = g.where(F.col("plat").isNotNull() & (F.abs("plat") < 85.05))
    tx, ty = tilemath.mercator_tile_cols(F.col("plon"), F.col("plat"), 6)
    return (g.select(tx.alias("tile_x"), ty.alias("tile_y"))
            .groupBy("tile_x", "tile_y")
            .agg(F.count("*").alias("n_pages")))


@_reg("gopher_repetition", """
WITH d AS (SELECT doc_id, n_chars, string_split(text, ' ') AS ws
           FROM documents),
g AS (SELECT doc_id, n_chars, n, array_to_string(ws[i:i+n-1], ' ') AS g
      FROM d, unnest([2,3,4,5,10]) AS tn(n),
           unnest(generate_series(1, len(ws)-n+1)) AS ti(i)),
c AS (SELECT doc_id, n_chars, n, g, count(*) AS cnt FROM g GROUP BY ALL),
s AS (SELECT doc_id, n,
             max(cnt*length(g)) / CAST(any_value(n_chars) AS DOUBLE)
                 AS top_frac,
             COALESCE(sum(CASE WHEN cnt>=2 THEN cnt*length(g) END), 0)
                 / CAST(any_value(n_chars) AS DOUBLE) AS dup_frac
      FROM c GROUP BY doc_id, n),
w AS (SELECT doc_id,
        ROUND(COALESCE(max(CASE WHEN n=2  THEN top_frac END),0),6) AS top2_r,
        ROUND(COALESCE(max(CASE WHEN n=3  THEN top_frac END),0),6) AS top3_r,
        ROUND(COALESCE(max(CASE WHEN n=4  THEN top_frac END),0),6) AS top4_r,
        ROUND(COALESCE(max(CASE WHEN n=5  THEN top_frac END),0),6) AS top5_r,
        ROUND(COALESCE(max(CASE WHEN n=10 THEN top_frac END),0),6)
            AS top10_r,
        ROUND(COALESCE(max(CASE WHEN n=2  THEN dup_frac END),0),6) AS dup2_r,
        ROUND(COALESCE(max(CASE WHEN n=3  THEN dup_frac END),0),6) AS dup3_r,
        ROUND(COALESCE(max(CASE WHEN n=4  THEN dup_frac END),0),6) AS dup4_r,
        ROUND(COALESCE(max(CASE WHEN n=5  THEN dup_frac END),0),6) AS dup5_r,
        ROUND(COALESCE(max(CASE WHEN n=10 THEN dup_frac END),0),6)
            AS dup10_r
      FROM s GROUP BY doc_id)
SELECT d.doc_id, COALESCE(top2_r,0) AS top2_r, COALESCE(top3_r,0) AS top3_r,
       COALESCE(top4_r,0) AS top4_r, COALESCE(top5_r,0) AS top5_r,
       COALESCE(top10_r,0) AS top10_r, COALESCE(dup2_r,0) AS dup2_r,
       COALESCE(dup3_r,0) AS dup3_r, COALESCE(dup4_r,0) AS dup4_r,
       COALESCE(dup5_r,0) AS dup5_r, COALESCE(dup10_r,0) AS dup10_r,
       CAST(COALESCE(top2_r,0) <= 0.20 AND COALESCE(top3_r,0) <= 0.18
            AND COALESCE(top4_r,0) <= 0.16 AND COALESCE(dup5_r,0) <= 0.15
            AND COALESCE(dup10_r,0) <= 0.10 AS INTEGER) AS keep
FROM d LEFT JOIN w USING (doc_id)
""")
def q_gopher_repetition(spark, sf_dir):
    """Gopher repetition filters (Rae et al. 2021 Table A1, public paper):
    top-n-gram and duplicate-n-gram character fractions for n in
    {2,3,4,5,10} plus the paper's keep flag — word n-grams generated with
    JVM higher-order functions in one scan/one explode, one (doc_id, n,
    gram) partial-agg shuffle, pivoted back to one row per document."""
    return textops.repetition_signals(_t(spark, sf_dir, "documents"))


_MVT_Z = 6
_MVT_EXTENT = 256
_MVT_SPAN = 2.0 * tilemath.ORIGIN_SHIFT / (1 << _MVT_Z)


@_reg("mvt_tile_roundtrip", f"""
{_pts_cte()},
m AS (SELECT doc_id,
        ((lon) * {tilemath.ORIGIN_SHIFT!r} / 180.0) AS mx,
        (ln(tan((90.0 + (lat)) * pi() / 360.0)) / (pi() / 180.0)
         * {tilemath.ORIGIN_SHIFT!r} / 180.0) AS my
      FROM pts WHERE doc_id % 3 = 0),
uv AS (SELECT doc_id,
        (mx + {tilemath.ORIGIN_SHIFT!r}) / {_MVT_SPAN!r} AS u,
        ({tilemath.ORIGIN_SHIFT!r} - my) / {_MVT_SPAN!r} AS v
       FROM m)
SELECT doc_id AS fid,
       CAST(floor(u) AS BIGINT) AS x, CAST(floor(v) AS BIGINT) AS y,
       CAST(floor((u - floor(u)) * {_MVT_EXTENT}) AS BIGINT) AS ix,
       CAST(floor((v - floor(v)) * {_MVT_EXTENT}) AS BIGINT) AS iy
FROM uv
""")
def q_mvt_tile_roundtrip(spark, sf_dir):
    """Mapbox Vector Tiles round trip (ogr/ogrsf_frmts/mvt, vector-tile-spec
    2.1): every 3rd page's point is shuffled to its z6 web-mercator tile,
    encoded into a z/x/y.pbf tree (hand-rolled protobuf wire format), and
    read back through the binaryFile-planned decoder; the oracle recomputes
    the XYZ tile and the quantized tile-local integer pixel coords
    closed-form. extent=256 keeps a quantization pixel ~2.4 km at z6, far
    above any numpy-vs-DuckDB transcendental ULP wobble."""
    import numpy as np
    import pandas as pd

    from .core import wkb as _wkb
    from .core.tilemath import latlon_to_meters
    from .sources import mvt as _mvt

    @F.pandas_udf("binary")
    def mk_geom(lon, lat):
        mx, my = latlon_to_meters(lat.to_numpy(), lon.to_numpy())
        return pd.Series(
            _wkb.encode_points_batch(np.stack([mx, my], axis=1)))

    pts = datagen.points(spark, sf_dir).where(F.col("doc_id") % 3 == 0)
    df = pts.select(F.col("doc_id").alias("fid"),
                    mk_geom("lon", "lat").alias("geom"))
    out = vsi.scratch()
    _mvt.write_mvt(df, out, zoom=_MVT_Z, layer="pages",
                   extent=_MVT_EXTENT).collect()
    _mvt.write_metadata(out, "pages", _MVT_Z)
    v = _mvt.read_mvt_vertices(spark, out)
    return v.select("fid", "x", "y", "ix", "iy")


@_reg("gpx_roundtrip", f"""
{_pts_cte()}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       ROUND(lon, 9) AS lon_r, ROUND(lat, 9) AS lat_r,
       CAST(doc_id AS DOUBLE) / 10.0 AS ele
FROM pts WHERE doc_id % 13 = 0
""")
def q_gpx_roundtrip(spark, sf_dir):
    """GPX driver round-trip (ogr/ogrsf_frmts/gpx, Topografix GPX 1.1):
    every 13th page becomes a <wpt> with lat/lon attributes, <ele> and a
    doc_id <name>, written as per-partition GPX documents and read back
    through the waypoints layer of the distributed parser; the oracle
    recomputes the same (doc_id, lon, lat, ele) set from the table."""
    from .sources.gpx import read_gpx, write_gpx

    pts = datagen.points(spark, sf_dir).where(F.col("doc_id") % 13 == 0)

    layer = pts.select(st.st_makepoint("lon", "lat").alias("geom"),
                       F.col("doc_id").cast("string").alias("name"),
                       (F.col("doc_id").cast("double") / 10.0).alias("ele"))
    path = vsi.scratch()
    write_gpx(layer, path)
    out = read_gpx(spark, path).where(F.col("layer") == "waypoints")

    px, py = _pxy_udfs()

    return out.select(F.col("name").cast("long").alias("doc_id"),
                      F.round(px("geom"), 9).alias("lon_r"),
                      F.round(py("geom"), 9).alias("lat_r"),
                      F.col("ele"))


@_reg("aaigrid_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, v
FROM vals
""")
def q_aaigrid_roundtrip(spark, sf_dir):
    """Arc/Info ASCII Grid round trip (frmts/aaigrid/aaigriddataset.cpp):
    the 64x64 page-density raster writes to one .asc through the
    fixed-width parallel pwrite sink (%.17g — bit-exact float64) and reads
    back through the byte-range line-planned parser; the oracle recomputes
    every cell value from the pages table."""
    from .sources.aaigrid import read_aaigrid, write_aaigrid

    t = _density_tiles_full(spark, sf_dir)
    path = vsi.scratch(".asc")
    write_aaigrid(t, path, width_px=64, height_px=64, tile=8)
    back = read_aaigrid(spark, path, tile=8)
    return _xyv(back)


@_reg("xyz_raster_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(63 - y AS BIGINT) AS y, v
FROM vals
""")
def q_xyz_raster_roundtrip(spark, sf_dir):
    """XYZ raster round trip (frmts/xyz/xyzdataset.cpp): density raster ->
    distributed "x y z" text parts -> line-parallel re-read with grid
    inference (spacing from the head block, extent from one min/max agg).
    gdal2xyz's y is the row index, and read_xyz re-anchors the top at max
    y, so the raster comes back flipped — the oracle flips y in SQL."""
    from .sources.xyzraster import read_xyz, write_xyz

    t = _density_tiles_full(spark, sf_dir)
    path = vsi.scratch()
    write_xyz(t, path, tile=8)
    back, grid = read_xyz(spark, path, tile=8)
    return _xyv(back)


@_reg("png_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(least(v, 255) AS DOUBLE) AS v
FROM vals
""")
def q_png_roundtrip(spark, sf_dir):
    """PNG driver round trip (frmts/png, RFC 2083): the density raster
    writes to ONE .png Byte image through the distributed strip-deflate
    writer (Z_FULL_FLUSH blocks + adler32 combine, no recompression on the
    driver) and re-reads through the filter-reconstructing decoder; the
    oracle recomputes every cell, clamped on the Byte cast exactly like
    GDALCopyWords."""
    from .sources.png import read_png, write_png

    t = _density_tiles_full(spark, sf_dir)
    path = vsi.scratch(".png")
    write_png(t, path, width_px=64, height_px=64, tile=8)
    back = read_png(spark, path, tile=8)
    return _xyv(back)


@_reg("gdallocationinfo_vals", f"""
{_pts_cte()},
c AS (SELECT CAST(floor((lon + 180.0) / 5.625) AS BIGINT) AS x,
             CAST(floor((lat + 90.0) / 2.8125) AS BIGINT) AS y,
             count(*) AS v
      FROM pts GROUP BY 1, 2),
q AS (SELECT doc_id,
             CAST(floor((lon + 180.0) / 5.625) AS BIGINT) AS x,
             CAST(floor((lat + 90.0) / 2.8125) AS BIGINT) AS y
      FROM pts WHERE doc_id % 11 = 0)
SELECT q.doc_id, CAST(COALESCE(c.v, 0) AS DOUBLE) AS v
FROM q LEFT JOIN c USING (x, y)
""")
def q_gdallocationinfo_vals(spark, sf_dir):
    """gdallocationinfo -valonly twin (apps/gdallocationinfo.cpp): every
    11th page samples the 64x64 page-density raster at its own continuous
    pixel coordinate in NEAR mode (floor -> pixel, a relational equi-join,
    no per-point gather); the oracle recomputes each looked-up cell count
    in SQL."""
    from .raster.sample import interpolate_at_points, tile_pixels

    t = _density_tiles_full(spark, sf_dir)
    px = tile_pixels(t, tile=8)
    pts = datagen.points(spark, sf_dir).where(F.col("doc_id") % 11 == 0) \
        .select("doc_id",
                ((F.col("lon") + 180.0) / 5.625).alias("cx"),
                ((F.col("lat") + 90.0) / 2.8125).alias("cy"))
    out = interpolate_at_points(px, pts, "cx", "cy", mode="near")
    return out.select("doc_id", F.col("value").alias("v"))


def _funnel_sql():
    langs = sorted(textops.LANG_MARKERS)
    score = {
        lang: ("len(list_filter(ws, w -> w IN ('"
               + "', '".join(textops.LANG_MARKERS[lang]) + "')))")
        for lang in langs}
    cols = ", ".join(f"{score[lang]} AS s_{lang}" for lang in langs)
    m = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    pred = "CASE " + " ".join(
        f"WHEN s_{lang} = {m} THEN '{lang}'" for lang in langs) + " END"
    return f"""
WITH d AS (SELECT doc_id, lang, text, n_chars, string_split(text, ' ') AS ws
           FROM documents),
k2 AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
q AS (SELECT doc_id FROM (
        SELECT doc_id, CAST(len(ws) AS BIGINT) AS nw,
               CAST(len(list_filter(ws, w -> w IN {_STOP_SQL})) AS DOUBLE)
                 / len(ws) AS sr,
               CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS uq,
               CAST(list_max(list_transform(list_distinct(ws),
                    w -> len(list_filter(ws, x -> x = w)))) AS DOUBLE)
                 / len(ws) AS tf
        FROM d)
      WHERE nw BETWEEN 30 AND 95 AND uq >= 0.35 AND tf <= 0.15
        AND sr >= 0.02),
g AS (SELECT doc_id, n_chars, n, array_to_string(ws[i:i+n-1], ' ') AS g
      FROM d, unnest([2,3,4,5,10]) AS tn(n),
           unnest(generate_series(1, len(ws)-n+1)) AS ti(i)),
c AS (SELECT doc_id, n_chars, n, g, count(*) AS cnt FROM g GROUP BY ALL),
s2 AS (SELECT doc_id, n,
              max(cnt*length(g)) / CAST(any_value(n_chars) AS DOUBLE)
                  AS top_frac,
              COALESCE(sum(CASE WHEN cnt>=2 THEN cnt*length(g) END), 0)
                  / CAST(any_value(n_chars) AS DOUBLE) AS dup_frac
       FROM c GROUP BY doc_id, n),
w2 AS (SELECT doc_id,
         ROUND(COALESCE(max(CASE WHEN n=2 THEN top_frac END),0),6) AS t2,
         ROUND(COALESCE(max(CASE WHEN n=3 THEN top_frac END),0),6) AS t3,
         ROUND(COALESCE(max(CASE WHEN n=4 THEN top_frac END),0),6) AS t4,
         ROUND(COALESCE(max(CASE WHEN n=5 THEN dup_frac END),0),6) AS d5,
         ROUND(COALESCE(max(CASE WHEN n=10 THEN dup_frac END),0),6) AS d10
       FROM s2 GROUP BY doc_id),
r AS (SELECT d.doc_id FROM d LEFT JOIN w2 USING (doc_id)
      WHERE COALESCE(t2,0) <= 0.20 AND COALESCE(t3,0) <= 0.18
        AND COALESCE(t4,0) <= 0.16 AND COALESCE(d5,0) <= 0.15
        AND COALESCE(d10,0) <= 0.10),
l AS (SELECT doc_id FROM (SELECT doc_id, lang, {cols} FROM d) s
      WHERE ({pred}) = lang),
s3 AS (SELECT doc_id FROM k2 WHERE doc_id IN (SELECT doc_id FROM q)),
s4 AS (SELECT doc_id FROM s3 WHERE doc_id IN (SELECT doc_id FROM r)),
s5 AS (SELECT doc_id FROM s4 WHERE doc_id IN (SELECT doc_id FROM l))
SELECT 's1_total' AS stage, CAST(count(*) AS BIGINT) AS n_docs
FROM documents
UNION ALL SELECT 's2_exact_dedup', CAST(count(*) AS BIGINT) FROM k2
UNION ALL SELECT 's3_quality', CAST(count(*) AS BIGINT) FROM s3
UNION ALL SELECT 's4_repetition', CAST(count(*) AS BIGINT) FROM s4
UNION ALL SELECT 's5_langid', CAST(count(*) AS BIGINT) FROM s5
"""


@_reg("webtext_filter_funnel", _funnel_sql())
def q_webtext_filter_funnel(spark, sf_dir):
    """End-to-end RefinedWeb/Gopher-style corpus-curation funnel: exact
    dedup -> quality envelope -> repetition gate -> language match, with
    survivor counts per stage (the canonical curation report). Composes
    the individually-oracled operators; the oracle replays the whole
    funnel in one SQL."""
    return textops.filter_funnel(_t(spark, sf_dir, "documents"))


@_reg("lineref_positions", f"""
{_pts_cte()},
p AS (SELECT doc_id, lon, lat FROM pts WHERE doc_id % 7 = 0),
s AS (SELECT doc_id,
        greatest(0.0, least(1.0, (lon * 50.0) / 2500.0)) AS t1,
        greatest(0.0, least(1.0, (lat * 40.0) / 1600.0)) AS t2,
        lon, lat
      FROM p),
d AS (SELECT doc_id,
        sqrt((lon - 50.0*t1)*(lon - 50.0*t1) + lat*lat) AS d1,
        sqrt((lon - 50.0)*(lon - 50.0)
             + (lat - 40.0*t2)*(lat - 40.0*t2)) AS d2,
        t1, t2
      FROM s)
SELECT doc_id,
       ROUND(CASE WHEN d1 <= d2 THEN 50.0*t1 ELSE 50.0 + 40.0*t2 END, 6)
           AS mpos_r,
       ROUND(least(d1, d2), 6) AS offset_r
FROM d
""")
def q_lineref_positions(spark, sf_dir):
    """ogrlineref -get_pos twin (apps/ogrlineref.cpp): every 7th page
    projects onto the L-shaped reference polyline (0,0)-(50,0)-(50,40);
    milepost distance + offset come from the vectorized segment projection
    (map-only mapInPandas, no shuffle); the oracle replays the two-segment
    projection closed-form, first-segment tie-break like np.argmin."""
    import numpy as np
    from .operators.lineref import locate_points_df

    line = np.array([[0.0, 0.0], [50.0, 0.0], [50.0, 40.0]])
    pts = datagen.points(spark, sf_dir).where(F.col("doc_id") % 7 == 0) \
        .select("doc_id", F.col("lon").alias("x"), F.col("lat").alias("y"))
    out = locate_points_df(pts, line)
    return out.select("doc_id", F.round("mpos", 6).alias("mpos_r"),
                      F.round("offset", 6).alias("offset_r"))


@_reg("dxf_roundtrip", f"""
{_pts_cte()}
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       ROUND(lon, 9) AS lon_r, ROUND(lat, 9) AS lat_r
FROM pts WHERE doc_id % 19 = 0
""")
def q_dxf_roundtrip(spark, sf_dir):
    """DXF driver round trip (ogr/ogrsf_frmts/dxf, ASCII group codes):
    every 19th page becomes a POINT entity on a layer named by its doc_id,
    written as per-partition minimal DXF documents and read back through
    the group-code parser; the oracle recomputes the same point set."""
    from .sources.dxf import read_dxf, write_dxf

    pts = datagen.points(spark, sf_dir).where(F.col("doc_id") % 19 == 0)

    layer = pts.select(st.st_makepoint("lon", "lat").alias("geom"),
                       F.col("doc_id").cast("string").alias("layer"))
    path = vsi.scratch()
    write_dxf(layer, path)
    out = read_dxf(spark, path)

    px, py = _pxy_udfs()

    return out.select(F.col("layer").cast("long").alias("doc_id"),
                      F.round(px("geom"), 9).alias("lon_r"),
                      F.round(py("geom"), 9).alias("lat_r"))


@_reg("span_dedup", """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
t AS (SELECT doc_id, i - 1 AS pos, ws[i] AS w
      FROM d, unnest(generate_series(1, len(ws))) AS ti(i)),
g AS (SELECT doc_id, i - 1 AS start, array_to_string(ws[i:i+7], ' ') AS gram
      FROM d, unnest(generate_series(1, len(ws) - 7)) AS ti(i)),
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
cov AS (SELECT DISTINCT doc_id, start + o AS pos
        FROM g JOIN dup USING (gram),
             unnest(generate_series(0, 7)) AS t2(o)),
kept AS (SELECT t.doc_id, t.pos, t.w
         FROM t LEFT JOIN cov ON t.doc_id = cov.doc_id AND t.pos = cov.pos
         WHERE cov.pos IS NULL)
SELECT d.doc_id,
       COALESCE(string_agg(k.w, ' ' ORDER BY k.pos), '') AS text,
       CAST(len(d.ws) - count(k.w) AS BIGINT) AS n_removed
FROM d LEFT JOIN kept k USING (doc_id)
GROUP BY d.doc_id, len(d.ws)
""")
def q_span_dedup(spark, sf_dir):
    """ExactSubstr-style corpus-wide span dedup (Lee et al. 2022): every
    8-word window repeated anywhere in the corpus marks its positions;
    covered tokens drop and documents reassemble from the survivors. The
    oracle replays the window-hash formulation in SQL (string_agg ordered
    by position)."""
    return textops.span_dedup(_t(spark, sf_dir, "documents"), k=8)


@_reg("pq_codes", """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
cb AS (SELECT vec_id AS c, v AS cv FROM e WHERE vec_id < 16),
p AS (SELECT e.vec_id, cb.c, s,
             list_sum(list_transform(generate_series(1, 8),
                 i -> (e.v[s*8 + i] - cb.cv[s*8 + i])
                      * (e.v[s*8 + i] - cb.cv[s*8 + i]))) AS d
      FROM e, cb, unnest(generate_series(0, 7)) AS ts(s)),
r AS (SELECT vec_id, s, c,
             row_number() OVER (PARTITION BY vec_id, s
                                ORDER BY d ASC, c ASC) AS rn
      FROM p)
SELECT vec_id, CAST(s AS INTEGER) AS s, CAST(c AS INTEGER) AS code
FROM r WHERE rn = 1
""")
def q_pq_codes(spark, sf_dir):
    """Product-quantization encode (Jegou et al. 2011): 64-dim embeddings
    split into 8 subspaces of 8 dims; each subvector maps to its nearest
    codeword (init codebooks = the first 16 vectors' subvectors, the
    deterministic anchor SQL can replay; Lloyd-trained codebooks are
    exercised in tests with a full-rerank brute-force anchor). Assignment
    is pure JVM column folds over broadcast codeword literals."""
    from .operators.simsearch import pq_codebooks, pq_encode
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cbs = pq_codebooks(emb, m=8, ksub=16, iters=0)
    return pq_encode(emb, cbs)


@_reg("envi_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, v
FROM vals
""")
def q_envi_roundtrip(spark, sf_dir):
    """ENVI raw-binary round trip (frmts/raw/envidataset.cpp): the 64x64
    page-density raster writes to a flat BSQ blob + .hdr sidecar through
    the per-strip pwrite sink and reads back through closed-form
    byte-range tasks (no per-scanline loop, unlike RawRasterBand); the
    oracle recomputes every cell from the pages table. float64 binary is
    bit-exact by construction."""
    from .sources.rawraster import read_envi, write_envi

    t = _density_tiles_full(spark, sf_dir)
    path = vsi.scratch(".dat")
    write_envi(t, path, samples=64, lines=64, dtype="f8", tile=8)
    back, _ = read_envi(spark, path, tile=8)
    return _xyv(back)


@_reg("c4_filters", """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
ln AS (SELECT doc_id, i AS li,
              array_to_string(ws[i*8+1 : i*8+8], ' ') AS b0
       FROM d, unnest(generate_series(
                0, CAST(ceil(len(ws) / 8.0) AS BIGINT) - 1)) AS t(i)),
l6 AS (SELECT doc_id, li,
  (CASE WHEN doc_id % 43 = 0 AND li = 2 THEN
     (CASE WHEN doc_id % 37 = 0 AND li = 1 THEN
        (CASE WHEN doc_id % 41 = 0 AND li = 0 THEN
           (CASE WHEN (doc_id + 3*li) % 13 = 0
                 THEN 'javascript ' || b0 ELSE b0 END) || ' lorem ipsum'
         ELSE (CASE WHEN (doc_id + 3*li) % 13 = 0
                    THEN 'javascript ' || b0 ELSE b0 END) END) || ' {'
      ELSE (CASE WHEN doc_id % 41 = 0 AND li = 0 THEN
              (CASE WHEN (doc_id + 3*li) % 13 = 0
                    THEN 'javascript ' || b0 ELSE b0 END) || ' lorem ipsum'
            ELSE (CASE WHEN (doc_id + 3*li) % 13 = 0
                       THEN 'javascript ' || b0 ELSE b0 END) END) END)
   || ' see our privacy policy'
   ELSE
  (CASE WHEN doc_id % 37 = 0 AND li = 1 THEN
     (CASE WHEN doc_id % 41 = 0 AND li = 0 THEN
        (CASE WHEN (doc_id + 3*li) % 13 = 0
              THEN 'javascript ' || b0 ELSE b0 END) || ' lorem ipsum'
      ELSE (CASE WHEN (doc_id + 3*li) % 13 = 0
                 THEN 'javascript ' || b0 ELSE b0 END) END) || ' {'
   ELSE (CASE WHEN doc_id % 41 = 0 AND li = 0 THEN
           (CASE WHEN (doc_id + 3*li) % 13 = 0
                 THEN 'javascript ' || b0 ELSE b0 END) || ' lorem ipsum'
         ELSE (CASE WHEN (doc_id + 3*li) % 13 = 0
                    THEN 'javascript ' || b0 ELSE b0 END) END) END) END)
  || (CASE WHEN (doc_id + li) % 5 <= 2 THEN '.'
           WHEN (doc_id + li) % 5 = 3 THEN '!' ELSE '' END) AS line
  FROM ln),
f AS (SELECT doc_id, li, line,
        ((line LIKE '%.' OR line LIKE '%!' OR line LIKE '%?'
          OR line LIKE '%"')
         AND len(string_split(line, ' ')) >= 5
         AND NOT list_contains(string_split(lower(line), ' '), 'javascript')
         AND NOT (lower(line) LIKE '%terms of use%'
                  OR lower(line) LIKE '%privacy policy%'
                  OR lower(line) LIKE '%cookie policy%'
                  OR lower(line) LIKE '%uses cookies%')) AS kl
      FROM l6),
pg AS (SELECT doc_id,
         count(*) AS n_lines,
         sum(CASE WHEN kl THEN 1 ELSE 0 END) AS n_kept,
         (sum(CASE WHEN lower(line) LIKE '%lorem ipsum%' THEN 1 ELSE 0 END) = 0
          AND sum(CASE WHEN line LIKE '%{%' THEN 1 ELSE 0 END) = 0) AS clean,
         COALESCE(string_agg(CASE WHEN kl THEN line END,
                             chr(10) ORDER BY li), '') AS ktext
       FROM f GROUP BY doc_id)
SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
       CAST(n_kept AS BIGINT) AS n_kept,
       CAST(CASE WHEN clean AND n_kept >= 3 THEN 1 ELSE 0 END
            AS INTEGER) AS keep,
       CASE WHEN clean AND n_kept >= 3 THEN ktext ELSE '' END AS text
FROM pg
""")
def q_c4_filters(spark, sf_dir):
    """C4 cleaning heuristics (Raffel et al. 2020 §2.2): terminal
    punctuation, >=5-word lines, javascript-line drop, policy-phrase
    drop, lorem-ipsum / curly-brace / <3-sentence page drops. The
    synthetic documents are first "webified" deterministically — 8-word
    lines with (doc_id+line)-derived punctuation and injected javascript
    / lorem ipsum / '{' / privacy-policy markers — by the SAME closed
    form in Spark and the DuckDB oracle, then filtered by
    textops.c4_filters (pure JVM column math, map-only)."""
    docs = _t(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    nl = F.ceil(F.size(ws) / F.lit(8.0)).cast("int")
    did = F.col("doc_id")

    def mk(i):
        body = F.array_join(F.slice(ws, i * 8 + 1, 8), " ")
        body = F.when((did + 3 * i) % 13 == 0,
                      F.concat(F.lit("javascript "), body)).otherwise(body)
        body = F.when((did % 41 == 0) & (i == 0),
                      F.concat(body, F.lit(" lorem ipsum"))).otherwise(body)
        body = F.when((did % 37 == 0) & (i == 1),
                      F.concat(body, F.lit(" {"))).otherwise(body)
        body = F.when((did % 43 == 0) & (i == 2),
                      F.concat(body, F.lit(" see our privacy policy"))
                      ).otherwise(body)
        m = (did + i) % 5
        return F.concat(body, F.when(m <= 2, F.lit("."))
                              .when(m == 3, F.lit("!"))
                              .otherwise(F.lit("")))

    web = docs.select(
        "doc_id",
        F.array_join(F.transform(F.sequence(F.lit(0), nl - 1), mk),
                     "\n").alias("text"))
    return textops.c4_filters(web)


@_reg("bloom_decontam", """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
shc AS (SELECT DISTINCT doc_id,
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
               ws[i+3] || ' ' || ws[i+4] AS sh
        FROM d, unnest(generate_series(1, len(ws) - 4)) AS t(i)
        WHERE len(ws) >= 5),
cph AS (SELECT ('0x' || substr(md5(sh), 1, 7))::BIGINT AS h1,
               ('0x' || substr(md5(sh), 9, 7))::BIGINT AS h2
        FROM shc WHERE doc_id % 2 = 0),
cpp AS (SELECT ((h1 + j * h2) % 1048576) AS pos
        FROM cph, unnest([0, 1, 2]) AS tj(j)),
bw AS (SELECT pos // 32 AS word_idx,
              bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER)) AS w
       FROM cpp GROUP BY 1),
cah AS (SELECT doc_id, sh,
               ('0x' || substr(md5(sh), 1, 7))::BIGINT AS h1,
               ('0x' || substr(md5(sh), 9, 7))::BIGINT AS h2
        FROM shc WHERE doc_id % 2 = 1),
cap AS (SELECT doc_id, sh, ((h1 + j * h2) % 1048576) AS pos
        FROM cah, unnest([0, 1, 2]) AS tj(j)),
cj AS (SELECT doc_id, sh,
              (bw.w IS NOT NULL AND
               (bw.w & (1::BIGINT << CAST(pos % 32 AS INTEGER)))
                = (1::BIGINT << CAST(pos % 32 AS INTEGER))) AS hit
       FROM cap LEFT JOIN bw ON cap.pos // 32 = bw.word_idx),
g AS (SELECT doc_id, sh,
             CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) = 3 AS INTEGER)
               AS g_in
      FROM cj GROUP BY doc_id, sh)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(g_in) AS BIGINT) AS n_hit_grams,
       CAST(max(g_in) AS INTEGER) AS contaminated
FROM g GROUP BY doc_id
""")
def q_bloom_decontam(spark, sf_dir):
    """Bloom-filter benchmark decontamination: a distributed Bloom filter
    (bit_or-aggregated 32-bit words, never a driver bitmap) built over
    the even-doc half's 5-word shingles; every odd-doc candidate shingle
    probes it through one broadcast join. (h1+j*h2) universal hashing
    makes the whole thing bit-reproducible in DuckDB, false positives
    included."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    cands = docs.where(F.col("doc_id") % 2 == 1)
    bloom = textops.bloom_build(corpus)
    return textops.bloom_contaminated(cands, bloom)


@_reg("spatialite_roundtrip", f"""
{_pts_cte()}
SELECT doc_id, ROUND(lon, 9) AS lon_r, ROUND(lat, 9) AS lat_r
FROM pts WHERE doc_id % 11 = 0
""")
def q_spatialite_roundtrip(spark, sf_dir):
    """SpatiaLite driver round-trip (ogr/ogrsf_frmts/sqlite/
    ogrsqlitelayer.cpp Import/ExportSpatiaLiteGeometry): every 11th page
    writes into a SpatiaLite feature table (BLOB-Geometry codec: markers
    + SRID + exact MBR + class body) and reads back through the
    rowid-range distributed reader; the oracle recomputes the same
    (doc_id, lon, lat) set from the source table."""
    from .core import wkb as _wkb
    from .sources.spatialite import read_spatialite, write_spatialite

    pts = datagen.points(spark, sf_dir).where(F.col("doc_id") % 11 == 0) \
        .select("doc_id", "lon", "lat").orderBy("doc_id").collect()
    path = vsi.scratch(".sqlite")
    rows = [(_wkb.point(r.lon, r.lat), {"doc_id": int(r.doc_id)}) for r in pts]
    write_spatialite(rows, path, table="pages", geometry_type="POINT")
    out = read_spatialite(spark, path, rows_per_task=64)

    px, py = _pxy_udfs()

    return out.select(F.col("doc_id"),
                      F.round(px("geom"), 9).alias("lon_r"),
                      F.round(py("geom"), 9).alias("lat_r"))


@_reg("mif_roundtrip", f"""
{_pts_cte()}
SELECT doc_id, ROUND(lon, 9) AS lon_r, ROUND(lat, 9) AS lat_r
FROM pts WHERE doc_id % 17 = 0
""")
def q_mif_roundtrip(spark, sf_dir):
    """MapInfo MIF/MID round trip (ogr/ogrsf_frmts/mitab/
    mitab_miffile.cpp): every 17th page writes to a .mif/.mid pair and
    reads back through the keyword-scan byte-range distributed parser;
    the oracle recomputes the same (doc_id, lon, lat) set."""
    from .core import wkb as _wkb
    from .sources.mif import read_mif, write_mif

    pts = datagen.points(spark, sf_dir).where(F.col("doc_id") % 17 == 0) \
        .select("doc_id", "lon", "lat").orderBy("doc_id").collect()
    path = vsi.scratch(".mif")
    rows = [(_wkb.point(r.lon, r.lat), {"doc_id": int(r.doc_id)}) for r in pts]
    write_mif(rows, path)
    out = read_mif(spark, path, features_per_task=16)

    px, py = _pxy_udfs()

    return out.select(F.col("doc_id"),
                      F.round(px("geom"), 9).alias("lon_r"),
                      F.round(py("geom"), 9).alias("lat_r"))


@_reg("pmtiles_roundtrip", f"""
{_pts_cte()},
m AS (SELECT doc_id,
        ((lon) * {tilemath.ORIGIN_SHIFT!r} / 180.0) AS mx,
        (ln(tan((90.0 + (lat)) * pi() / 360.0)) / (pi() / 180.0)
         * {tilemath.ORIGIN_SHIFT!r} / 180.0) AS my
      FROM pts WHERE doc_id % 5 = 0),
uv AS (SELECT doc_id,
        (mx + {tilemath.ORIGIN_SHIFT!r}) / {_MVT_SPAN!r} AS u,
        ({tilemath.ORIGIN_SHIFT!r} - my) / {_MVT_SPAN!r} AS v
       FROM m),
q AS (SELECT doc_id AS fid,
       CAST(floor(u) AS BIGINT) AS x, CAST(floor(v) AS BIGINT) AS y,
       CAST(floor((u - floor(u)) * {_MVT_EXTENT}) AS BIGINT) AS ix,
       CAST(floor((v - floor(v)) * {_MVT_EXTENT}) AS BIGINT) AS iy
      FROM uv)
SELECT fid, x, y,
       ROUND(-{tilemath.ORIGIN_SHIFT!r}
             + (x + CAST(ix AS DOUBLE) / {_MVT_EXTENT}) * {_MVT_SPAN!r},
             6) AS mx_r,
       ROUND({tilemath.ORIGIN_SHIFT!r}
             - (y + CAST(iy AS DOUBLE) / {_MVT_EXTENT}) * {_MVT_SPAN!r},
             6) AS my_r
FROM q
""")
def q_pmtiles_roundtrip(spark, sf_dir):
    """PMTiles v3 archive round trip (ogr/ogrsf_frmts/pmtiles; protomaps
    spec v3): every 5th page's point encodes into a z6 MVT tree, packs
    into ONE .pmtiles archive (Hilbert tile ids, gzip'd varint
    directories, two-phase distributed pwrite), and reads back through
    the directory-planned byte-range decoder. The oracle recomputes the
    Hilbert tile assignment implicitly (x, y survive the id round trip)
    and the dequantized mercator coordinates closed-form."""
    import numpy as np
    import pandas as pd

    from .core import wkb as _wkb
    from .core.tilemath import latlon_to_meters
    from .sources import mvt as _mvt
    from .sources.pmtiles import mvt_dir_to_pmtiles, read_pmtiles

    @F.pandas_udf("binary")
    def mk_geom(lon, lat):
        mx, my = latlon_to_meters(lat.to_numpy(), lon.to_numpy())
        return pd.Series(
            _wkb.encode_points_batch(np.stack([mx, my], axis=1)))

    pts = datagen.points(spark, sf_dir).where(F.col("doc_id") % 5 == 0)
    df = pts.select(F.col("doc_id").alias("fid"),
                    mk_geom("lon", "lat").alias("geom"))
    out = vsi.scratch()
    _mvt.write_mvt(df, out, zoom=_MVT_Z, layer="pages",
                   extent=_MVT_EXTENT).collect()
    _mvt.write_metadata(out, "pages", _MVT_Z)
    arch = out + ".pmtiles"
    mvt_dir_to_pmtiles(spark, out, arch)
    back, _hdr = read_pmtiles(spark, arch)

    gx, gy = _pxy_udfs()

    return back.select("fid", "x", "y",
                       F.round(gx("geom"), 6).alias("mx_r"),
                       F.round(gy("geom"), 6).alias("my_r"))


@_reg("bmp_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(CAST(v AS BIGINT) % 256 AS DOUBLE) AS v
FROM vals
""")
def q_bmp_roundtrip(spark, sf_dir):
    """BMP round trip (frmts/bmp/bmpdataset.cpp): the page-density raster
    writes as an 8-bit paletted bottom-up DIB through the per-strip
    pwrite sink and reads back through closed-form row-offset tasks; the
    oracle recomputes every cell (mod 256 — the 8-bit container)."""
    from .sources.bmp import read_bmp, write_bmp

    t = _density_tiles_full(spark, sf_dir)
    path = vsi.scratch(".bmp")
    write_bmp(t, path, width=64, height=64, tile=8)
    back, _ = read_bmp(spark, path, tile=8)
    return _xyv(back)


@_reg("jsonfg_roundtrip", f"""
{_pts_cte()}
SELECT doc_id, ROUND(lon, 9) AS lon_r, ROUND(lat, 9) AS lat_r,
       strftime(DATE '2024-01-01' + INTERVAL (doc_id % 28) DAY,
                '%Y-%m-%d') AS t0,
       strftime(DATE '2024-01-01' + INTERVAL (doc_id % 28 + 3) DAY,
                '%Y-%m-%d') AS t1
FROM pts WHERE doc_id % 19 = 0
""")
def q_jsonfg_roundtrip(spark, sf_dir):
    """OGC JSON-FG round trip (ogr/ogrsf_frmts/jsonfg; OGC 21-045):
    every 19th page writes as newline-delimited JSON-FG with a
    non-WGS84 place (coordRefSys) and a time interval, reads back
    through the distributed per-line parser; the oracle recomputes
    coordinates and both interval endpoints."""
    import numpy as np
    import pandas as pd
    from .core import wkb as _wkb
    from .sources.jsonfg import read_jsonfg, write_jsonfg

    pts = datagen.points(spark, sf_dir).where(F.col("doc_id") % 19 == 0)

    @F.pandas_udf("binary")
    def mk(lon, lat):
        return pd.Series(_wkb.encode_points_batch(
            np.stack([lon.to_numpy(), lat.to_numpy()], axis=1)))

    df = pts.select(
        F.col("doc_id").alias("fid"), mk("lon", "lat").alias("geom"),
        F.date_format(F.date_add(F.lit("2024-01-01"),
                                 (F.col("doc_id") % 28).cast("int")),
                      "yyyy-MM-dd").alias("t0"),
        F.date_format(F.date_add(F.lit("2024-01-01"),
                                 (F.col("doc_id") % 28 + 3).cast("int")),
                      "yyyy-MM-dd").alias("t1"),
        F.to_json(F.struct(F.col("doc_id"))).alias("props"))
    out = vsi.scratch()
    write_jsonfg(df, out, crs="[EPSG:4326]", time_cols=("t0", "t1"))
    back = read_jsonfg(spark, out + "/part-*")

    gx, gy = _pxy_udfs()

    return back.select(
        F.get_json_object("props", "$.doc_id").cast("long").alias("doc_id"),
        F.round(gx("geom"), 9).alias("lon_r"),
        F.round(gy("geom"), 9).alias("lat_r"),
        F.col("time_start").alias("t0"), F.col("time_end").alias("t1"))


@_reg("ogrmerge_tindex", f"""
{_pts_cte()},
s AS (SELECT doc_id % 3 AS split, lon, lat FROM pts)
SELECT CAST(split AS BIGINT) AS split, CAST(count(*) AS BIGINT) AS n,
       ROUND(min(lon), 9) AS minx, ROUND(min(lat), 9) AS miny,
       ROUND(max(lon), 9) AS maxx, ROUND(max(lat), 9) AS maxy
FROM s GROUP BY 1
""")
def q_ogrmerge_tindex(spark, sf_dir):
    """ogrmerge + ogrtindex twins (apps/ogrmerge.py, apps/ogrtindex.cpp):
    the pages split into three GeoJSONSeq datasets; ogrmerge unions them
    back through Open() with a source tag (per-source feature counts)
    and ogrtindex computes each dataset's extent by distributed envelope
    aggregation. The oracle recomputes both per split."""
    import os
    import numpy as np
    import pandas as pd
    from .core import wkb as _wkb
    from .operators.ogrutils import ogrmerge, ogrtindex
    from .sources.geojson import write_geojson_seq

    pts = datagen.points(spark, sf_dir)

    @F.pandas_udf("binary")
    def mk(lon, lat):
        return pd.Series(_wkb.encode_points_batch(
            np.stack([lon.to_numpy(), lat.to_numpy()], axis=1)))

    base = vsi.scratch()
    os.makedirs(base)
    paths = []
    for s in range(3):
        p = os.path.join(base, f"split{s}.geojsonl")
        write_geojson_seq(
            pts.where(F.col("doc_id") % 3 == s)
               .select(F.col("doc_id").alias("fid"),
                       mk("lon", "lat").alias("geom")),
            p, props_col=None)
        paths.append(p)

    merged = ogrmerge(spark, paths)
    counts = merged.groupBy("source_ds").agg(
        F.count("*").cast("long").alias("n"))
    idx = ogrtindex(spark, paths)
    j = counts.join(idx, counts.source_ds == idx.LOCATION)
    split = F.regexp_extract("source_ds", r"split(\d)", 1).cast("long")
    return j.select(split.alias("split"), "n",
                    F.round("minx", 9).alias("minx"),
                    F.round("miny", 9).alias("miny"),
                    F.round("maxx", 9).alias("maxx"),
                    F.round("maxy", 9).alias("maxy"))


@_reg("fix_mojibake", """
SELECT doc_id,
       text || ' café – naïve №' AS text,
       CAST(1 AS INTEGER) AS changed
FROM documents WHERE doc_id % 9 = 0
""")
def q_fix_mojibake(spark, sf_dir):
    """Mojibake repair (ftfy's core trick: re-encode cp1252/latin-1,
    re-decode UTF-8): documents get a non-ASCII suffix, are deterministically
    CORRUPTED (UTF-8 bytes mis-decoded as latin-1 — the classic
    double-encoding accident), then repaired by textops.fix_mojibake.
    The oracle is exactness itself: repaired text must equal the
    pre-corruption original, which the SQL recomputes trivially."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 9 == 0)
    suffixed = docs.select(
        "doc_id", F.concat("text", F.lit(" café – naïve №")).alias("text"))

    @F.pandas_udf("string")
    def corrupt(s):
        return s.map(lambda t: t.encode("utf-8").decode("latin-1"))

    corrupted = suffixed.select(
        "doc_id", corrupt("text").alias("text"))
    return textops.fix_mojibake(corrupted)


@_reg("dted_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(CAST(v AS BIGINT) - 8 AS DOUBLE) AS v
FROM vals
""")
def q_dted_roundtrip(spark, sf_dir):
    """DTED round trip (frmts/dted/dted_api.c): the density raster,
    shifted by -8 so negative elevations exercise the SIGNED-MAGNITUDE
    sample encoding, writes as column records (per-column parallel
    pwrite) and reads back through column-range byte tasks; the oracle
    recomputes every cell."""
    from .sources.dted import read_dted, write_dted

    t8 = _map_px(_density_tiles_full(spark, sf_dir), lambda a: a - 8.0)
    path = vsi.scratch(".dt1")
    write_dted(t8, path, ncols=64, nrows=64, tile=8)
    back, _ = read_dted(spark, path, tile=8)
    return _xyv(back)


@_reg("hash_sample", """
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      % 1000000 < 370000
""")
def q_hash_sample(spark, sf_dir):
    """Deterministic hash sampling at rate 0.37 (reproducible subsetting
    for eval splits / ablations): md5(doc_id) mod 1e6 < 370000 — the
    identical arithmetic replays in DuckDB, row set matches exactly
    (rand()-based sampling never could)."""
    d = _t(spark, sf_dir, "documents")
    return textops.hash_sample(d, 0.37).select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"))


@_reg("vocab_topk", """
WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
c AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY w),
r AS (SELECT w, n, CAST(row_number() OVER (ORDER BY n DESC, w ASC)
                        AS BIGINT) AS rank
      FROM c)
SELECT w, n, rank FROM r WHERE rank <= 30
""")
def q_vocab_topk(spark, sf_dir):
    """Tokenizer-prep vocabulary: corpus-wide token frequencies, top 30
    with deterministic tie-break (count desc, word asc). Map-side
    combine + TakeOrdered — the full vocabulary never single-partitions."""
    return textops.vocab_topk(_t(spark, sf_dir, "documents"), k=30)


@_reg("domain_block", f"""
WITH u AS (SELECT doc_id, {_MESSY_URL_SQL} AS url FROM documents),
h AS (SELECT doc_id,
        regexp_replace(lower(regexp_extract(
            url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)),
            ':[0-9]+$', '') AS host
      FROM u),
c AS (SELECT host, count(*) AS n FROM h GROUP BY host),
keep AS (SELECT doc_id, host FROM h JOIN c USING (host) WHERE n <= 3)
SELECT doc_id, host FROM keep
""")
def q_domain_block(spark, sf_dir):
    """Over-represented-domain filter: hosts with more than 3 pages drop
    wholesale (spam-farm heuristic). Blocklist = broadcast aggregate of
    the corpus itself; the oracle replays host extraction and the
    threshold in SQL."""
    from .operators.urlops import domain_block
    d = _t(spark, sf_dir, "documents")
    g = (F.col("doc_id") % 167).cast("string")
    base = F.concat(F.lit("https://site"), g, F.lit(".example/p/"), g)
    upper = F.concat(F.lit("HTTPS://SITE"), g, F.lit(".EXAMPLE/p/"), g)
    port = F.concat(F.lit("https://site"), g, F.lit(".example:443/p/"), g)
    v = F.col("doc_id") % 6
    url = (F.when(v == 0, base)
           .when(v == 1, upper)
           .when(v == 2, port)
           .when(v == 3, F.concat(base, F.lit("/")))
           .when(v == 4, F.concat(base, F.lit("?b=2&a=1#frag")))
           .otherwise(F.concat(base, F.lit("?a=1&b=2"))))
    out = domain_block(d.select("doc_id", url.alias("url")), 3)
    return out.select("doc_id", "host")


@_reg("gmt_georss_roundtrip", f"""
{_pts_cte()}
SELECT doc_id, ROUND(lon, 9) AS lon_r, ROUND(lat, 9) AS lat_r,
       'd' || CAST(doc_id AS VARCHAR) AS title
FROM pts WHERE doc_id % 23 = 0
""")
def q_gmt_georss_roundtrip(spark, sf_dir):
    """GMT ASCII + GeoRSS round trips (ogr/ogrsf_frmts/gmt,
    ogr/ogrsf_frmts/georss): every 23rd page writes through BOTH
    single-file sinks and reads back through both wholetext-distributed
    parsers; the two readers' coordinates must agree with each other AND
    with the oracle (GeoRSS goes through the lat-first order swap)."""
    from .core import wkb as _wkb
    from .sources.georss import read_georss, write_georss
    from .sources.gmt import read_gmt, write_gmt

    pts = datagen.points(spark, sf_dir).where(F.col("doc_id") % 23 == 0) \
        .select("doc_id", "lon", "lat").orderBy("doc_id").collect()
    gmt_p = vsi.scratch(".gmt")
    rss_p = vsi.scratch(".rss")
    rows_g = [(_wkb.point(r.lon, r.lat),
               {"doc_id": int(r.doc_id)}) for r in pts]
    rows_r = [(g, {"title": f"d{a['doc_id']}"}) for g, a in rows_g]
    write_gmt(rows_g, gmt_p, gtype="POINT")
    write_georss(rows_r, rss_p)

    gx, gy = _pxy_udfs()

    gmt_df = read_gmt(spark, gmt_p).select(
        F.get_json_object("props", "$.doc_id").cast("long").alias("doc_id"),
        F.round(gx("geom"), 9).alias("lon_r"),
        F.round(gy("geom"), 9).alias("lat_r"))
    rss_df = read_georss(spark, rss_p).select(
        F.col("title"),
        F.round(gx("geom"), 9).alias("lon_r2"),
        F.round(gy("geom"), 9).alias("lat_r2"))
    j = gmt_df.join(rss_df,
                    F.concat(F.lit("d"), F.col("doc_id").cast("string"))
                    == rss_df.title)
    return j.where((F.col("lon_r") == F.col("lon_r2"))
                   & (F.col("lat_r") == F.col("lat_r2"))) \
        .select("doc_id", "lon_r", "lat_r", "title")


@_reg("osm_ways_assembly", f"""
{_pts_cte()},
s AS (SELECT doc_id % 8 AS g, doc_id, lon, lat FROM pts
      WHERE doc_id % 3 = 0),
d AS (SELECT g, lon, lat,
             lag(lon) OVER (PARTITION BY g ORDER BY doc_id) AS plon,
             lag(lat) OVER (PARTITION BY g ORDER BY doc_id) AS plat
      FROM s)
SELECT CAST(g AS BIGINT) AS way_id, CAST(count(*) AS BIGINT) AS n_pts,
       ROUND(COALESCE(sum(sqrt((lon - plon) * (lon - plon)
                               + (lat - plat) * (lat - plat))), 0), 9)
         AS len_r
FROM d GROUP BY g
""")
def q_osm_ways_assembly(spark, sf_dir):
    """OSM XML way assembly (ogr/ogrsf_frmts/osm): every 3rd page
    becomes an OSM node; 8 ways chain the nodes of each doc_id residue
    class in doc_id order. The reader reassembles way geometry via the
    DISTRIBUTED node join (posexplode -> join -> groupBy sort), the
    reference's on-disk node cache re-expressed relationally. The oracle
    recomputes each way's vertex count and planar length with window
    functions."""
    import numpy as np
    import pandas as pd
    from .core import wkb as _wkb
    from .sources.osm import osm_layers, write_osm

    pts = datagen.points(spark, sf_dir).where(F.col("doc_id") % 3 == 0) \
        .select("doc_id", "lon", "lat").orderBy("doc_id").collect()
    nodes = [(int(r.doc_id) + 1, float(r.lon), float(r.lat), {})
             for r in pts]
    ways = []
    for g in range(8):
        refs = [int(r.doc_id) + 1 for r in pts if r.doc_id % 8 == g]
        ways.append((g, refs, {"ref": str(g)}))
    path = vsi.scratch(".osm")
    write_osm(nodes, ways, (), path)
    lines = osm_layers(spark, path)["lines"]

    @F.pandas_udf("long")
    def npts(geom):
        # per-row: ragged LINESTRING decode (no fixed-stride batch lane;
        # bounded fixture-sized input, not a corpus path)
        return pd.Series([len(_wkb.decode(bytes(b)).rings[0])
                          for b in geom])

    @F.pandas_udf("double")
    def plen(geom):
        out = []
        # per-row: ragged LINESTRING decode (see npts)
        for b in geom:
            a = _wkb.decode(bytes(b)).rings[0]
            out.append(float(np.sqrt(((a[1:] - a[:-1]) ** 2)
                                     .sum(axis=1)).sum()))
        return pd.Series(out)

    return lines.select(F.col("fid").alias("way_id"),
                        npts("geom").alias("n_pts"),
                        F.round(plen("geom"), 9).alias("len_r"))


@_reg("snapshot_incremental", """
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END AS INTEGER)
         AS in_increment
FROM documents
""")
def q_snapshot_incremental(spark, sf_dir):
    """Snapshot-table maintenance (the Iceberg stand-in, plans/
    snapshot.py): even docs commit as snapshot A, odd docs append as
    snapshot B, the table COMPACTS (rewrite_data_files twin,
    metadata-atomic), and the incremental scan between A and B must
    return exactly the appended rows — flagged per doc against the full
    table. The oracle recomputes membership arithmetically."""
    from .plans.snapshot import SnapshotTable

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"))
    path = vsi.scratch()
    t = SnapshotTable(spark, path)
    va = t.commit_append(d.where(F.col("doc_id") % 2 == 0))
    vb = t.commit_append(d.where(F.col("doc_id") % 2 == 1))
    t.compact(target_rows_per_file=1 << 18, sort_cols=("doc_id",))
    inc = t.incremental_read(va, vb).select(
        F.col("doc_id").alias("inc_id"))
    full = t.read()
    return full.join(inc, full.doc_id == inc.inc_id, "left").select(
        "doc_id", "n_chars",
        F.col("inc_id").isNotNull().cast("int").alias("in_increment"))


@_reg("st_transform_wkt2", f"""
{_pts_cte()}
SELECT doc_id,
       ROUND(0.9 * 6378137.0 * radians(lon + 4.25) + 123000.0, 4) AS mx_r,
       ROUND(0.9 * 6378137.0 * ln(tan(pi() / 4.0 + radians(lat) / 2.0))
             - 7000.0, 4) AS my_r
FROM pts WHERE doc_id % 21 = 0
""")
def q_st_transform_wkt2(spark, sf_dir):
    """ST_Transform through an OGC WKT2:2019 PROJCRS definition
    (ISO 19162; the reference parses both grammars through the same
    importFromWkt, ogr/ogrspatialreference.cpp): CONVERSION/METHOD
    nesting, unit-annotated PARAMETER nodes, CS/AXIS bare enum keywords,
    and NO ID shortcut — the kernel choice is driven purely by the WKT2
    structure. The oracle is the closed-form scaled mercator in SQL."""
    st.register_all(spark)
    wkt2 = ('PROJCRS["custom merc wkt2",'
            ' BASEGEOGCRS["WGS 84",'
            '  DATUM["World Geodetic System 1984",'
            '   ELLIPSOID["WGS 84",6378137,298.257223563,'
            '    LENGTHUNIT["metre",1]]],'
            '  PRIMEM["Greenwich",0,'
            '   ANGLEUNIT["degree",0.0174532925199433]]],'
            ' CONVERSION["my merc",'
            '  METHOD["Mercator (variant A)",ID["EPSG",9804]],'
            '  PARAMETER["Longitude of natural origin",-4.25,'
            '   ANGLEUNIT["degree",0.0174532925199433]],'
            '  PARAMETER["Scale factor at natural origin",0.9,'
            '   SCALEUNIT["unity",1]],'
            '  PARAMETER["False easting",123000,LENGTHUNIT["metre",1]],'
            '  PARAMETER["False northing",-7000,LENGTHUNIT["metre",1]]],'
            ' CS[Cartesian,2],'
            ' AXIS["(E)",east,ORDER[1],LENGTHUNIT["metre",1]],'
            ' AXIS["(N)",north,ORDER[2],LENGTHUNIT["metre",1]]]')
    p = datagen.points(spark, sf_dir).where(F.col("doc_id") % 21 == 0)
    p.createOrReplaceTempView("t_wkt2_pts")
    w = wkt2.replace("'", "''")
    return spark.sql(
        "SELECT doc_id, "
        f" ROUND(ST_X(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',"
        f"  '{w}')), 4) AS mx_r, "
        f" ROUND(ST_Y(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',"
        f"  '{w}')), 4) AS my_r "
        "FROM t_wkt2_pts")


@_reg("embed_covariance", """
WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
d AS (SELECT i.range AS i, j.range AS j FROM range(64) i, range(64) j)
SELECT CAST(d.i AS INTEGER) AS i, CAST(d.j AS INTEGER) AS j,
       ROUND(covar_pop(e.v[d.i + 1], e.v[d.j + 1]), 6) AS cov_r
FROM e, d GROUP BY d.i, d.j
""")
def q_embed_covariance(spark, sf_dir):
    """Embedding covariance — the PCA/whitening prep pass: ONE
    distributed traversal accumulates per-partition (sum, Gram, count)
    in numpy (O(d²) shuffle payload, row-count independent), the driver
    finishes cov = G/n − mean·meanᵀ. All 64×64 entries value-hash
    against DuckDB's covar_pop."""
    import numpy as np
    from .operators.simsearch import embed_moments
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _mean, cov, _n = embed_moments(emb)
    rows = [(int(i), int(j), float(round(cov[i, j], 6)))
            for i in range(64) for j in range(64)]
    return spark.createDataFrame(rows, "i int, j int, cov_r double")


@_reg("lm_perplexity", """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tok AS (SELECT doc_id, unnest(ws) AS a FROM d),
uni AS (SELECT a, CAST(count(*) AS DOUBLE) AS n_a FROM tok GROUP BY a),
v AS (SELECT CAST(count(*) AS DOUBLE) AS vocab FROM uni),
pr AS (SELECT doc_id, ws[i] AS a, ws[i + 1] AS b
       FROM d, unnest(generate_series(1, len(ws) - 1)) t(i)),
bi AS (SELECT a, b, CAST(count(*) AS DOUBLE) AS n_ab
       FROM pr GROUP BY a, b),
sc AS (SELECT doc_id, ln((n_ab + 0.5) / (n_a + 0.5 * vocab)) AS logp
       FROM pr JOIN bi USING (a, b) JOIN uni USING (a), v)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       ROUND(-avg(logp), 6) AS xent_r,
       ROUND(exp(-avg(logp)), 4) AS ppl_r
FROM sc GROUP BY doc_id
""")
def q_lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality scoring (Wenzek et al. 2020, bigram order
    so every probability is an exact corpus statistic): add-0.5-smoothed
    bigram model trained ON the corpus, per-doc cross-entropy +
    perplexity. Counts are map-side-combined groupBys; scoring joins
    broadcast count tables; value-hashed against the identical
    arithmetic in DuckDB."""
    return textops.bigram_lm_scores(_t(spark, sf_dir, "documents"))


@_reg("kneser_ney_ppl", """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
pr AS (SELECT doc_id, ws[i] AS a, ws[i + 1] AS b
       FROM d, unnest(generate_series(1, len(ws) - 1)) t(i)),
bi AS (SELECT a, b, CAST(count(*) AS DOUBLE) AS n_ab FROM pr GROUP BY a, b),
ctx AS (SELECT a, sum(n_ab) AS c_a, CAST(count(*) AS DOUBLE) AS fwd
        FROM bi GROUP BY a),
cont AS (SELECT b, CAST(count(*) AS DOUBLE) AS rev FROM bi GROUP BY b),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM bi),
sc AS (SELECT doc_id,
              ln(greatest(n_ab - 0.75, 0.0) / c_a
                 + 0.75 * fwd / c_a * (rev / t)) AS logp
       FROM pr JOIN bi USING (a, b) JOIN ctx USING (a)
            JOIN cont USING (b), tot)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       ROUND(-avg(logp), 6) AS kn_xent_r,
       ROUND(exp(-avg(logp)), 4) AS kn_ppl_r
FROM sc GROUP BY doc_id
""")
def q_kneser_ney_ppl(spark, sf_dir):
    """Interpolated Kneser-Ney bigram perplexity (Kneser & Ney 1995 —
    the smoothing KenLM uses, at bigram order so every probability is an
    exact corpus statistic): absolute discount 0.75, stolen mass backed
    off to the CONTINUATION unigram (distinct left-contexts, not token
    frequency). Count tables are map-side-combined groupBys; scoring
    shuffles once on the bigram key; the oracle replays the identical
    discount/backoff arithmetic."""
    return textops.kneser_ney_scores(_t(spark, sf_dir, "documents"))


def _pagerank_sql(iters: int = 8) -> str:
    """DuckDB replay of graphops.pagerank: the same edge derivation and
    one CTE pair (dangling mass, contributions) per unrolled power
    iteration, with the teleport literal inlined at the exact double the
    Spark side computes ((1-0.85) in IEEE binary64)."""
    tele = _crs_lit(1.0 - 0.85)
    head = """
nn AS (SELECT CAST(count(*) AS DOUBLE) AS nd, count(*) AS nb
       FROM documents),
e0 AS (SELECT doc_id AS src,
              (doc_id * 31 + j * 97) % (SELECT nb FROM nn) AS dst
       FROM documents, unnest([1, 2, 3]) t(j)
       WHERE doc_id % 17 <> 0),
e2 AS MATERIALIZED (SELECT src, dst FROM e0 WHERE dst <> src),
deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg
        FROM e2 GROUP BY src),
r0 AS MATERIALIZED (SELECT doc_id AS v, 1.0e0 / (SELECT nd FROM nn) AS r
       FROM documents)"""
    parts = [head]
    for i in range(iters):
        parts.append(f"""
dm{i} AS MATERIALIZED (SELECT coalesce(sum(r), 0.0e0) AS dm FROM r{i}
          WHERE v NOT IN (SELECT src FROM deg)),
c{i} AS MATERIALIZED (SELECT e2.dst AS v, sum(r{i}.r / deg.deg) AS c
         FROM e2 JOIN deg USING (src) JOIN r{i} ON r{i}.v = e2.src
         GROUP BY e2.dst),
r{i + 1} AS MATERIALIZED (SELECT d.doc_id AS v,
             CAST({tele} AS DOUBLE) / (SELECT nd FROM nn)
             + CAST(0.85 AS DOUBLE)
               * (coalesce(c{i}.c, 0.0e0)
                  + dm{i}.dm / (SELECT nd FROM nn)) AS r
             FROM documents d LEFT JOIN c{i} ON c{i}.v = d.doc_id,
                  dm{i})""")
    return ("WITH " + ",".join(parts)
            + f"\nSELECT v AS doc_id, ROUND(r, 8) AS rank_r FROM r{iters}")


@_reg("pagerank_power", _pagerank_sql())
def q_pagerank_power(spark, sf_dir):
    """Damped PageRank (Page et al. 1999) after 8 synchronous power
    iterations over the deterministic document hyperlink graph (every
    17th page is a dangling sink; its mass redistributes uniformly).
    Each iteration is one shuffle join of the rank vector against the
    edge list plus a scalar dangling aggregate — the canonical
    cluster-scale PageRank plan. The oracle unrolls the identical 8
    iterations as CTE pairs."""
    return graphops.pagerank(_t(spark, sf_dir, "documents"), iters=8)


def _hits_sql(iters: int = 8) -> str:
    """DuckDB replay of graphops.hits: per iteration one (raw-sum,
    re-keyed full vector, L2 norm, normalized vector) CTE quad per
    half-step, MATERIALIZED so DuckDB doesn't inline the doubly-consumed
    vectors into an exponential tree."""
    head = """
nn AS (SELECT count(*) AS nb FROM documents),
e0 AS (SELECT doc_id AS src,
              (doc_id * 31 + j * 97) % (SELECT nb FROM nn) AS dst
       FROM documents, unnest([1, 2, 3]) t(j)
       WHERE doc_id % 17 <> 0),
e2 AS MATERIALIZED (SELECT src, dst FROM e0 WHERE dst <> src),
nodes AS MATERIALIZED (SELECT doc_id AS v FROM documents),
h0 AS MATERIALIZED (SELECT v, 1.0e0 AS h FROM nodes)"""
    parts = [head]
    for i in range(iters):
        parts.append(f"""
ra{i} AS (SELECT e2.dst AS g, sum(h{i}.h) AS s
          FROM e2 JOIN h{i} ON h{i}.v = e2.src GROUP BY e2.dst),
fa{i} AS MATERIALIZED (SELECT nodes.v, coalesce(ra{i}.s, 0.0e0) AS s
          FROM nodes LEFT JOIN ra{i} ON ra{i}.g = nodes.v),
na{i} AS MATERIALIZED (SELECT sqrt(sum(s * s)) AS nz FROM fa{i}),
a{i} AS MATERIALIZED (SELECT v, s / nz AS a FROM fa{i}, na{i}),
rh{i} AS (SELECT e2.src AS g, sum(a{i}.a) AS s
          FROM e2 JOIN a{i} ON a{i}.v = e2.dst GROUP BY e2.src),
fh{i} AS MATERIALIZED (SELECT nodes.v, coalesce(rh{i}.s, 0.0e0) AS s
          FROM nodes LEFT JOIN rh{i} ON rh{i}.g = nodes.v),
nh{i} AS MATERIALIZED (SELECT sqrt(sum(s * s)) AS nz FROM fh{i}),
h{i + 1} AS MATERIALIZED (SELECT v, s / nz AS h FROM fh{i}, nh{i})""")
    last = iters - 1
    return ("WITH " + ",".join(parts)
            + f"""
SELECT a{last}.v AS doc_id, ROUND(a{last}.a, 8) AS auth_r,
       ROUND(h{iters}.h, 8) AS hub_r
FROM a{last} JOIN h{iters} ON h{iters}.v = a{last}.v""")


@_reg("hits_scores", _hits_sql())
def q_hits_scores(spark, sf_dir):
    """Kleinberg's HITS hub/authority scores (1999) after 8 mutual-update
    rounds over the same link graph as pagerank_power: authorities from
    old hubs, hubs from NEW authorities, L2-normalized each half-step.
    Each half-step is a shuffle join + scalar norm broadcast; the oracle
    unrolls the identical half-steps as MATERIALIZED CTE quads."""
    return graphops.hits(_t(spark, sf_dir, "documents"), iters=8)


@_reg("link_degree_stats", """
WITH nn AS (SELECT count(*) AS nb FROM documents),
e0 AS (SELECT doc_id AS src,
              (doc_id * 31 + j * 97) % (SELECT nb FROM nn) AS dst
       FROM documents, unnest([1, 2, 3]) t(j)
       WHERE doc_id % 17 <> 0),
e2 AS (SELECT src, dst FROM e0 WHERE dst <> src),
outd AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM e2 GROUP BY src),
ind AS (SELECT dst, CAST(count(*) AS BIGINT) AS idg FROM e2 GROUP BY dst)
SELECT d.doc_id,
       CAST(coalesce(outd.od, 0) AS BIGINT) AS out_deg,
       CAST(coalesce(ind.idg, 0) AS BIGINT) AS in_deg,
       d.doc_id % 17 = 0 AS is_sink
FROM documents d
LEFT JOIN outd ON outd.src = d.doc_id
LEFT JOIN ind ON ind.dst = d.doc_id
""")
def q_link_degree_stats(spark, sf_dir):
    """Per-page in/out degree + sink flag of the link graph — two
    map-side-combined groupBys joined back to the page table (the
    crawl-frontier bookkeeping view)."""
    return graphops.degree_stats(_t(spark, sf_dir, "documents"))


def _rpc_dem_sql():
    """DuckDB replay of the RPC_DEM ground->image evaluation over the
    plane DEM the query writes: bilinear interpolation of a plane IS
    the plane, so H reduces to a closed form in (lon, lat); the affine
    RPC (samp = L + 0.5 H, line = P, unit denominators) then evaluates
    directly. Rows clamp-free inside the DEM interior only."""
    return """
rd AS (SELECT doc_id, lon, lat,
              (80.0 + 2.0 * ((lon - -182.5) / 5.0 - 0.5)
               + -1.5 * ((lat - 87.5) / -5.0 - 0.5)) / 100.0 AS hh
       FROM pts
       WHERE doc_id % 4 = 1 AND abs(lon) <= 170.0 AND abs(lat) <= 80.0)
SELECT doc_id,
       ROUND(((lon - 74.0) / 64.0 + 0.5 * hh) * 32.0 + 32.0, 6) AS samp_r,
       ROUND((lat - 84.0) / 64.0 * 32.0 + 32.0, 6) AS line_r
FROM rd"""


@_reg("rpc_dem_points", f"""
{_pts_cte()},{_rpc_dem_sql()}
""")
def q_rpc_dem_points(spark, sf_dir):
    """RPC transformer with per-point DEM heights (alg/gdal_rpc.cpp
    RPC_DEM, bilinear RPCDEMINTERPOLATION): the query writes a plane
    AAIGrid DEM, builds an affine RPC00B model whose sample coordinate
    carries a 0.5*H height term, and evaluates ground->image through
    ST_Transform with the RPCDEM@ fitted-CRS string (the DEM path ships
    in the CRS like GCP control points; workers lru_cache the load).
    Bilinear interpolation of a plane is the plane, so the oracle
    replays the whole evaluation in closed form."""
    from .raster.transforms import rpc_dem_crs

    dem = vsi.scratch(".asc")
    w, h = 73, 35
    lines = [f"ncols {w}", f"nrows {h}", "xllcorner -182.5",
             "yllcorner -87.5", "cellsize 5", "NODATA_value -9999"]
    for j in range(h):
        lines.append(" ".join(
            repr(80.0 + 2.0 * i + -1.5 * j) for i in range(w)))
    with open(dem, "w") as f:
        f.write("\n".join(lines) + "\n")
    meta = dict(LINE_OFF=32.0, SAMP_OFF=32.0, LAT_OFF=84.0, LONG_OFF=74.0,
                HEIGHT_OFF=0.0, LINE_SCALE=32.0, SAMP_SCALE=32.0,
                LAT_SCALE=64.0, LONG_SCALE=64.0, HEIGHT_SCALE=100.0)
    z = [0.0] * 20
    sn = z.copy(); sn[1] = 1.0; sn[3] = 0.5
    ln = z.copy(); ln[2] = 1.0
    den = z.copy(); den[0] = 1.0
    crs = rpc_dem_crs(meta, ln, den, sn, den, dem)
    st.register_all(spark)
    p = (datagen.points(spark, sf_dir)
         .where((F.col("doc_id") % 4 == 1)
                & (F.abs(F.col("lon")) <= 170.0)
                & (F.abs(F.col("lat")) <= 80.0)))
    p.createOrReplaceTempView("t_rpcdem_pts")
    return spark.sql(f"""
        SELECT doc_id,
          ROUND(ST_X(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            '{crs}')), 6) AS samp_r,
          ROUND(ST_Y(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            '{crs}')), 6) AS line_r
        FROM t_rpcdem_pts""")


def _vincenty_sql(iters: int = 32) -> str:
    """DuckDB replay of transforms.geodesic_inverse (Vincenty 1975) with
    the kernel's fixed 32-pass iteration unrolled as MATERIALIZED CTEs —
    the same arithmetic sequence, so non-converged (near-antipodal)
    inputs would also match bit-for-bit; those rows are filtered out in
    both engines anyway. Expects CTE ``gp`` with (doc_id, lon1, lat1,
    lon2, lat2)."""
    import numpy as _np
    from .raster import transforms as _tr
    a_, f_ = _tr.ELLIPSOIDS["WGS84"]
    b_ = a_ * (1.0 - f_)
    d2r = _CONIC_D2R
    pi = _crs_lit(_np.pi)
    two_pi = _crs_lit(2 * _np.pi)
    one_m_f = _crs_lit(1.0 - f_)
    f = _crs_lit(f_)
    f16 = _crs_lit(f_ / 16.0)
    k_ab = _crs_lit(a_ * a_ - b_ * b_)
    k_b2 = _crs_lit(b_ * b_)
    b_lit = _crs_lit(b_)
    inv_d2r = _crs_lit(1.0 / (_np.pi / 180.0))
    sin_sig = ("sqrt((cu2 * sl) * (cu2 * sl) + (cu1 * su2 - su1 * cu2 * cl)"
               " * (cu1 * su2 - su1 * cu2 * cl))")
    head = f"""
g0 AS MATERIALIZED (
  SELECT doc_id, lon1,
         sin(atan({one_m_f} * tan(lat1 * {d2r}))) AS su1,
         cos(atan({one_m_f} * tan(lat1 * {d2r}))) AS cu1,
         sin(atan({one_m_f} * tan(lat2 * {d2r}))) AS su2,
         cos(atan({one_m_f} * tan(lat2 * {d2r}))) AS cu2,
         lam - {two_pi} * floor((lam + {pi}) / {two_pi}) AS ll
  FROM (SELECT doc_id, lon1, lat1, lat2,
               (lon2 - lon1) * {d2r} AS lam FROM gp)),
g1 AS MATERIALIZED (SELECT *, ll AS lam FROM g0)"""
    parts = [head]
    for i in range(1, iters + 1):
        parts.append(f"""
h{i} AS MATERIALIZED (
  SELECT doc_id, lon1, su1, cu1, su2, cu2, ll, lam,
         sin(lam) AS sl, cos(lam) AS cl FROM g{i}),
t{i} AS MATERIALIZED (
  SELECT *, {sin_sig} AS sin_sig,
         su1 * su2 + cu1 * cu2 * cl AS cos_sig FROM h{i}),
u{i} AS MATERIALIZED (
  SELECT *, atan2(sin_sig, cos_sig) AS sig,
         CASE WHEN sin_sig = 0.0 THEN 0.0
              ELSE cu1 * cu2 * sl / sin_sig END AS sin_al FROM t{i}),
v{i} AS MATERIALIZED (
  SELECT *, 1.0 - sin_al * sin_al AS cos2_al FROM u{i}),
w{i} AS MATERIALIZED (
  SELECT *, CASE WHEN cos2_al = 0.0 THEN 0.0
                 ELSE cos_sig - 2.0 * su1 * su2 / cos2_al END AS c2sm,
         {f16} * cos2_al * (4.0 + {f} * (4.0 - 3.0 * cos2_al)) AS cc
  FROM v{i}),
g{i + 1} AS MATERIALIZED (
  SELECT doc_id, lon1, su1, cu1, su2, cu2, ll,
         sin_sig, cos_sig, sig, sin_al, cos2_al, c2sm,
         ll + (1.0 - cc) * {f} * sin_al * (sig + cc * sin_sig
             * (c2sm + cc * cos_sig * (-1.0 + 2.0 * c2sm * c2sm)))
           AS lam
  FROM w{i})""")
    parts.append(f"""
fin1 AS MATERIALIZED (
  SELECT *, cos2_al * {k_ab} / {k_b2} AS usq,
         sin(lam) AS sl, cos(lam) AS cl FROM g{iters + 1}),
fin2 AS MATERIALIZED (
  SELECT *,
         1.0 + usq / 16384.0 * (4096.0 + usq * (-768.0 + usq
             * (320.0 - 175.0 * usq))) AS aa,
         usq / 1024.0 * (256.0 + usq * (-128.0 + usq
             * (74.0 - 47.0 * usq))) AS bb
  FROM fin1),
fin3 AS MATERIALIZED (
  SELECT *, bb * sin_sig * (c2sm + bb / 4.0 * (
             cos_sig * (-1.0 + 2.0 * c2sm * c2sm)
             - bb / 6.0 * c2sm * (-3.0 + 4.0 * sin_sig * sin_sig)
             * (-3.0 + 4.0 * c2sm * c2sm))) AS dsig
  FROM fin2),
vinc AS (
  SELECT doc_id, {b_lit} * aa * (sig - dsig) AS s,
         atan2(cu2 * sl, cu1 * su2 - su1 * cu2 * cl) AS az_rad
  FROM fin3)""")
    return ",".join(parts), inv_d2r


def _geodesic_sql():
    """Pairs (doc_id, doc_id+3) of page points; columns: great-circle
    sphere distance (closed form), WGS84 Vincenty distance (unrolled),
    azimuth in [0, 2 pi), and the ST_Project closure error (constant
    0.0). Near-antipodal pairs (cos gc < -0.99) are excluded in both
    engines — Vincenty's documented non-convergence zone."""
    import numpy as _np
    d2r = _CONIC_D2R
    two_pi = _crs_lit(2 * _np.pi)
    vinc, _inv = _vincenty_sql()
    gc = ("sin(a.lat * {d}) * sin(b.lat * {d}) + cos(a.lat * {d})"
          " * cos(b.lat * {d}) * cos((b.lon - a.lon) * {d})"
          ).format(d=d2r)
    return f"""
gp AS (SELECT a.doc_id, a.lon AS lon1, a.lat AS lat1,
              b.lon AS lon2, b.lat AS lat2
       FROM pts a JOIN pts b ON b.doc_id = a.doc_id + 3
       WHERE a.doc_id % 9 = 1 AND ({gc}) > -0.99),{vinc}
SELECT gp.doc_id,
       ROUND(6371000.0 * acos(greatest(least(
           sin(lat1 * {d2r}) * sin(lat2 * {d2r}) + cos(lat1 * {d2r})
           * cos(lat2 * {d2r}) * cos((lon2 - lon1) * {d2r}), 1.0), -1.0)),
           4) AS d_sphere,
       ROUND(vinc.s, 4) AS d_spheroid,
       ROUND(CASE WHEN vinc.az_rad < 0.0
                  THEN vinc.az_rad + {two_pi}
                  ELSE vinc.az_rad END, 9) AS az_r,
       0.0 AS proj_err
FROM gp JOIN vinc USING (doc_id)"""


@_reg("st_geodesic_surface", f"""
{_pts_cte()},{_geodesic_sql()}
""")
def q_st_geodesic_surface(spark, sf_dir):
    """The geodesic SQL surface: ST_DistanceSphere (great-circle,
    R=6371000), ST_DistanceSpheroid + ST_Azimuth (WGS84 Vincenty
    inverse, pinned to the Geoscience Australia Flinders Peak worked
    example in tests), and ST_Project (Vincenty direct) closing the
    loop — projecting point A by (distance, azimuth) must land on B,
    reported as a 0.000-meter closure error. The oracle replays the
    full fixed-32-pass Vincenty iteration as unrolled MATERIALIZED
    CTEs — the same arithmetic sequence the numpy kernel runs."""
    st.register_all(spark)
    p = datagen.points(spark, sf_dir)
    p.createOrReplaceTempView("t_geo_pts")
    import numpy as _mod_np
    d2r = repr(float(_mod_np.pi / 180.0))
    two_pi = repr(float(2 * _mod_np.pi))
    gc = (f"sin(a.lat * {d2r}) * sin(b.lat * {d2r}) + cos(a.lat * {d2r})"
          f" * cos(b.lat * {d2r}) * cos((b.lon - a.lon) * {d2r})")
    return spark.sql(f"""
        SELECT a.doc_id,
          ROUND(ST_DistanceSphere(ST_MakePoint(a.lon, a.lat),
                                  ST_MakePoint(b.lon, b.lat)), 4)
            AS d_sphere,
          ROUND(ST_DistanceSpheroid(ST_MakePoint(a.lon, a.lat),
                                    ST_MakePoint(b.lon, b.lat)), 4)
            AS d_spheroid,
          ROUND(ST_Azimuth(ST_MakePoint(a.lon, a.lat),
                           ST_MakePoint(b.lon, b.lat)), 9) AS az_r,
          ROUND(ST_DistanceSpheroid(
              ST_Project(ST_MakePoint(a.lon, a.lat),
                  ST_DistanceSpheroid(ST_MakePoint(a.lon, a.lat),
                                      ST_MakePoint(b.lon, b.lat)),
                  ST_Azimuth(ST_MakePoint(a.lon, a.lat),
                             ST_MakePoint(b.lon, b.lat))),
              ST_MakePoint(b.lon, b.lat)), 3) AS proj_err
        FROM t_geo_pts a JOIN t_geo_pts b ON b.doc_id = a.doc_id + 3
        WHERE a.doc_id % 9 = 1 AND ({gc}) > -0.99""")


def _bfs_sql(rounds: int = 6) -> str:
    """DuckDB replay of graphops.bfs_levels: one (frontier-join,
    anti-join visited, union) CTE pair per unrolled synchronous round."""
    head = """
nn AS (SELECT count(*) AS nb FROM documents),
e0 AS (SELECT doc_id AS src,
              (doc_id * 31 + j * 97) % (SELECT nb FROM nn) AS dst
       FROM documents, unnest([1, 2, 3]) t(j)
       WHERE doc_id % 17 <> 0),
e2 AS MATERIALIZED (SELECT src, dst FROM e0 WHERE dst <> src),
f0 AS MATERIALIZED (SELECT doc_id FROM documents WHERE doc_id % 101 = 0),
v0 AS MATERIALIZED (SELECT doc_id, 0 AS hop FROM f0)"""
    parts = [head]
    for k in range(1, rounds + 1):
        parts.append(f"""
f{k} AS MATERIALIZED (
    SELECT DISTINCT e2.dst AS doc_id
    FROM f{k - 1} JOIN e2 ON e2.src = f{k - 1}.doc_id
    WHERE e2.dst NOT IN (SELECT doc_id FROM v{k - 1})),
v{k} AS MATERIALIZED (
    SELECT doc_id, hop FROM v{k - 1}
    UNION ALL SELECT doc_id, {k} AS hop FROM f{k})""")
    return ("WITH " + ",".join(parts)
            + f"\nSELECT doc_id, CAST(hop AS INTEGER) AS hop"
              f" FROM v{rounds}")


@_reg("link_bfs_levels", _bfs_sql())
def q_link_bfs_levels(spark, sf_dir):
    """Crawl-depth BFS: shortest link distance from the seed pages
    (doc_id % 101 == 0) after 6 synchronous frontier rounds — the
    Pregel-superstep frontier join (current frontier only, anti-join
    against the visited set, which stays hash-partitioned by doc_id so
    the anti-join co-locates round over round). Answers "what does a
    depth-6 crawl from these seeds reach". The oracle unrolls the six
    identical rounds as CTE pairs."""
    return graphops.bfs_levels(_t(spark, sf_dir, "documents"), rounds=6)


@_reg("link_triangles", """
WITH nn AS (SELECT count(*) AS nb FROM documents),
e0 AS (SELECT doc_id AS src,
              (doc_id * 31 + j * 97) % (SELECT nb FROM nn) AS dst
       FROM documents, unnest([1, 2, 3]) t(j)
       WHERE doc_id % 17 <> 0),
und AS MATERIALIZED (
    SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
    FROM e0 WHERE src <> dst),
deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
        GROUP BY n),
tri_abc AS (SELECT w.a, w.b, w.c
            FROM (SELECT e1.u AS a, e1.v AS b, e2.v AS c
                  FROM und e1 JOIN und e2 ON e2.u = e1.v) w
            JOIN und e3 ON e3.u = w.a AND e3.v = w.c),
tcnt AS (SELECT n, CAST(count(*) AS BIGINT) AS tri FROM (
             SELECT a AS n FROM tri_abc UNION ALL
             SELECT b AS n FROM tri_abc UNION ALL
             SELECT c AS n FROM tri_abc)
         GROUP BY n)
SELECT deg.n AS doc_id, deg.deg,
       CAST(coalesce(tcnt.tri, 0) AS BIGINT) AS tri,
       ROUND(CASE WHEN deg.deg >= 2
                  THEN 2.0 * coalesce(tcnt.tri, 0)
                       / (deg.deg * (deg.deg - 1))
                  ELSE 0.0 END, 8) AS lcc_r
FROM deg LEFT JOIN tcnt ON tcnt.n = deg.n
""")
def q_link_triangles(spark, sf_dir):
    """Per-page triangle count + local clustering coefficient of the
    undirected link graph — the ordered node-iterator plan (Suri &
    Vassilvitskii 2011): orient low->high, dedupe, one self-join on
    the wedge middle, one closing equi-join. Each triangle counts
    once; both joins are single-key shuffle joins that need no
    broadcast at any scale. The oracle replays the identical ordered
    3-way join in SQL."""
    return graphops.triangles(_t(spark, sf_dir, "documents"))


@_reg("gpkg_tiles_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(CAST(v AS BIGINT) % 256 AS DOUBLE) AS v
FROM vals
""")
def q_gpkg_tiles_roundtrip(spark, sf_dir):
    """GeoPackage raster tile pyramid round trip (OGC 12-128r15 §2.2;
    gdalgeopackagerasterband.cpp): the density raster PNG-encodes in
    executors into a gpkg tile table and reads back through rowid-range
    parallel scan + in-task PNG decode; the oracle recomputes every
    cell mod 256 (the u1 PNG container)."""
    from .sources.gpkg import read_gpkg_tiles, write_gpkg_tiles

    t = _density_tiles_full(spark, sf_dir)
    path = vsi.scratch(".gpkg")
    write_gpkg_tiles(t, path, tile=8, zoom=3)
    back, _ = read_gpkg_tiles(spark, path, tile=8, rows_per_task=16)
    return _xyv(back)


@_reg("mbtiles_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(CAST(v AS BIGINT) % 256 AS DOUBLE) AS v
FROM vals
""")
def q_mbtiles_roundtrip(spark, sf_dir):
    """MBTiles round trip (frmts/mbtiles/mbtilesdataset.cpp): density
    raster -> PNG tiles with the TMS row flip -> parallel read back with
    the un-flip; the oracle recomputes every cell mod 256."""
    from .sources.gpkg import read_mbtiles, write_mbtiles

    t = _density_tiles_full(spark, sf_dir)
    path = vsi.scratch(".mbtiles")
    write_mbtiles(t, path, tile=8, zoom=3)
    back, _ = read_mbtiles(spark, path, tile=8, rows_per_task=16)
    return _xyv(back)


@_reg("robots_optout", f"""
WITH u AS (SELECT doc_id, {_MESSY_URL_SQL} AS url FROM documents),
h AS (SELECT doc_id, url,
        regexp_replace(lower(regexp_extract(
            url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)),
            ':[0-9]+$', '') AS host,
        regexp_replace(regexp_extract(
            url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(.*)$', 1),
            '[?#].*$', '') AS path
      FROM u),
r AS (SELECT 'site' || CAST(s.range AS VARCHAR) || '.example' AS host,
             '/p/' AS prefix
      FROM range(167) s WHERE s.range % 5 = 0)
SELECT doc_id, url
FROM h LEFT JOIN r ON h.host = r.host
                   AND substr(h.path, 1, len(r.prefix)) = r.prefix
WHERE r.host IS NULL
""")
def q_robots_optout(spark, sf_dir):
    """robots.txt / opt-out filtering: every 5th synthetic host
    disallows '/p/' — pages under a disallowed prefix drop via a
    broadcast rule join (one map-side pass over the page table). The
    oracle replays host/path extraction and the prefix test in SQL."""
    from .operators.urlops import robots_filter
    d = _t(spark, sf_dir, "documents")
    g = (F.col("doc_id") % 167).cast("string")
    base = F.concat(F.lit("https://site"), g, F.lit(".example/p/"), g)
    upper = F.concat(F.lit("HTTPS://SITE"), g, F.lit(".EXAMPLE/p/"), g)
    port = F.concat(F.lit("https://site"), g, F.lit(".example:443/p/"), g)
    v = F.col("doc_id") % 6
    url = (F.when(v == 0, base)
           .when(v == 1, upper)
           .when(v == 2, port)
           .when(v == 3, F.concat(base, F.lit("/")))
           .when(v == 4, F.concat(base, F.lit("?b=2&a=1#frag")))
           .otherwise(F.concat(base, F.lit("?a=1&b=2"))))
    pages = d.select("doc_id", url.alias("url"))
    rules = spark.range(0, 167, 5).select(
        F.concat(F.lit("site"), F.col("id").cast("string"),
                 F.lit(".example")).alias("host"),
        F.lit("/p/").alias("prefix"))
    return robots_filter(pages, rules).select("doc_id", "url")


@_reg("neardup_first_wins", f"""
WITH corp AS (SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents
              WHERE doc_id % 10 = 0),
{_minhash128_sql_parts().strip().lstrip().replace(
    "d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)",
    "d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corp)")},
fw AS (SELECT doc_id, band, key,
              row_number() OVER (PARTITION BY band, key
                                 ORDER BY doc_id) AS rn
       FROM bk)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_won
FROM fw WHERE rn = 1 GROUP BY doc_id
""")
def q_neardup_first_wins(spark, sf_dir):
    """First-wins near-dup (the ONLINE MinHash policy, batch anchor of
    streaming/dedup.minhash_band_claims): every 10th doc re-enters the
    corpus later as an exact copy; each of the 16 LSH band keys belongs
    to its first claimant (doc_id order == arrival order here), so the
    copies win ZERO bands and vanish from the survivor set. Band keys
    come from the STATELESS per-row array-math path (byte-identical to
    the grouped one, pinned in tests); the oracle replays banding +
    first-wins in SQL."""
    from .streaming.dedup import near_dup_survivors
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text")
    corp = d.unionByName(dups).withColumn("tsv", F.col("doc_id"))
    return near_dup_survivors(corp, ts_col="tsv")


@_reg("stratified_sample", """
WITH h AS (SELECT doc_id, source,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 1000000 AS hv
           FROM documents)
SELECT doc_id, source FROM h
WHERE hv < CASE source WHEN 'src1' THEN 800000
                       WHEN 'src2' THEN 250000
                       ELSE 50000 END
""")
def q_stratified_sample(spark, sf_dir):
    """Domain-mixture sampling: per-source keep rates (src1 0.8,
    src2 0.25, everything else 0.05) applied with the deterministic
    md5 threshold — the reproducible reweighting step of training-set
    assembly. The oracle replays the identical arithmetic."""
    d = _t(spark, sf_dir, "documents")
    out = textops.stratified_sample(
        d, {"src1": 0.8, "src2": 0.25}, default_rate=0.05)
    return out.select("doc_id", "source")


@_reg("pnm_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, v
FROM vals
""")
def q_pnm_roundtrip(spark, sf_dir):
    """PNM round trip (frmts/raw/pnmdataset.cpp) through the 16-bit
    path: maxval 65535 stores BIG-endian u2 samples per the Netpbm
    rule; density counts fit u16 exactly, so the oracle recomputes
    every cell with no container truncation."""
    from .sources.pnm import read_pnm, write_pnm

    t = _density_tiles_full(spark, sf_dir)
    path = vsi.scratch(".pgm")
    write_pnm(t, path, width=64, height=64, maxval=65535, tile=8)
    back, _ = read_pnm(spark, path, tile=8)
    return _xyv(back)


@_reg("netcdf_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, v
FROM vals
""")
def q_netcdf_roundtrip(spark, sf_dir):
    """NetCDF classic (CDF-1) round trip (frmts/netcdf over the public
    Unidata classic format; sources/netcdf.py): the 64x64 density
    raster writes as one fixed float64 variable — header driver-side,
    row slabs pwritten by executors — and reads back through the
    byte-range distributed parser; the oracle recomputes every cell.
    Dimension names and attributes are pinned by tests/test_netcdf.py
    against the autotest bug636.nc checksum (31621)."""
    from .sources.netcdf import read_netcdf, write_netcdf

    t = _density_tiles_full(spark, sf_dir)
    path = vsi.scratch(".nc")
    write_netcdf(t, path, width=64, height=64, var="density", tile=8,
                 atts={"units": "pages"})
    back, _meta = read_netcdf(spark, path, var="density", tile=8)
    return _xyv(back)


@_reg("dem_formats_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       v AS v_hgt, v AS v_bt, v AS v_ers, v AS v_rst, v AS v_saga
FROM vals
""")
def q_dem_formats_roundtrip(spark, sf_dir):
    """Five raw-DEM container roundtrips in one query: SRTMHGT
    (frmts/srtmhgt, big-endian i2), BT 1.3 (frmts/raw/btdataset.cpp,
    column-major south->north), ERMapper ERS (frmts/ers, BIL + nested
    ASCII header), IDRISI RST (frmts/idrisi) and SAGA (frmts/saga,
    bottom-up rows). The 64x64 density raster goes out through each
    sink (per-strip pwrite, no driver pixel collect) and back through
    each byte-range reader; counts are small integers so every
    container holds them exactly and the oracle recomputes the same
    value five times."""
    import os

    from .sources import demraw

    t = _density_tiles_full(spark, sf_dir)
    base = vsi.scratch()
    os.makedirs(base)
    hgt = os.path.join(base, "N00E000.hgt")
    demraw.write_srtmhgt(t, hgt, n=64, tile=8)
    bt = os.path.join(base, "d.bt")
    demraw.write_bt(t, bt, width=64, height=64, dtype="f4", tile=8)
    ers = os.path.join(base, "d.ers")
    demraw.write_ers(t, ers, samples=64, lines=64, dtype="f4", tile=8)
    rst = os.path.join(base, "d.rst")
    demraw.write_idrisi(t, rst, samples=64, lines=64, dtype="i2", tile=8)
    sgrd = os.path.join(base, "d.sgrd")
    demraw.write_saga(t, sgrd, samples=64, lines=64, dtype="f4", tile=8)
    out = _xyv(demraw.read_srtmhgt(spark, hgt, tile=8)[0], "v_hgt")
    for df, name in [(demraw.read_bt(spark, bt, tile=8)[0], "v_bt"),
                     (demraw.read_ers(spark, ers, tile=8)[0], "v_ers"),
                     (demraw.read_idrisi(spark, rst, tile=8)[0], "v_rst"),
                     (demraw.read_saga(spark, sgrd, tile=8)[0],
                      "v_saga")]:
        out = out.join(_xyv(df, name), ["x", "y"])
    return out


@_reg("jpeg_roundtrip", f"""
{_pts_cte()},
c AS (SELECT CAST(floor((lon + 180.0) / 45.0) AS BIGINT) AS bx,
             CAST(floor((90.0 - lat) / 22.5) AS BIGINT) AS by,
             count(*) AS n
      FROM pts GROUP BY 1, 2),
g AS (SELECT gx.range AS bx, gy.range AS by
      FROM range(8) gx, range(8) gy)
SELECT g.bx, g.by,
       CAST(20 + COALESCE(c.n, 0) % 200 AS DOUBLE) AS v
FROM g LEFT JOIN c ON c.bx = g.bx AND c.by = g.by
""")
def q_jpeg_roundtrip(spark, sf_dir):
    """JPEG codec round trip through the engine surfaces (the
    reference's frmts/jpeg over libjpeg; sources/jpeg.py here): an 8x8
    grid of page-density counts becomes a 64x64 grayscale image whose
    8x8 JPEG blocks are each CONSTANT — at quality=100 the scaled
    Annex-K table is all ones, a constant block is DC-only, and the
    integer DC path (float DCT -> round -> islow IDCT DESCALE) is
    EXACT — so the lossy codec round-trips these values bit-perfectly
    and the DuckDB oracle can recompute them relationally. The decode
    side is the same code path pinned bit-exact to libjpeg by the
    albania.jpg / JPEG-in-TIFF checksum tests."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from .raster.tiles import TILE_SCHEMA, decode_px, encode_px
    from .sources import save_raster
    from .sources.jpeg import read_jpeg

    p = datagen.points(spark, sf_dir)
    cnt = (p.select(
        F.floor((F.col("lon") + 180.0) / 45.0).cast("long").alias("bx"),
        F.floor((90.0 - F.col("lat")) / 22.5).cast("long").alias("by"))
        .groupBy("bx", "by").agg(F.count("*").alias("n")))

    def build(key, pdf):
        v = float(20 + int(pdf["n"].iloc[0]) % 200)
        arr = np.full((8, 8), v, np.float64)
        return pd.DataFrame(
            [(1, 0, int(key[0]), int(key[1]), "float64", None,
              encode_px(arr))],
            columns=[f.name for f in TILE_SCHEMA.fields])

    tiles = cnt.groupBy("bx", "by").applyInPandas(build, TILE_SCHEMA)
    # cells with no pages: fill the missing tiles with the 20.0 base
    grid = spark.range(8).selectExpr("id AS bx").crossJoin(
        spark.range(8).selectExpr("id AS by"))
    missing = grid.join(cnt, ["bx", "by"], "left_anti")

    def build_empty(key, pdf):
        arr = np.full((8, 8), 20.0, np.float64)
        return pd.DataFrame(
            [(1, 0, int(key[0]), int(key[1]), "float64", None,
              encode_px(arr))],
            columns=[f.name for f in TILE_SCHEMA.fields])

    tiles = tiles.unionByName(
        missing.groupBy("bx", "by").applyInPandas(build_empty,
                                                  TILE_SCHEMA))
    path = vsi.scratch(".jpg")
    save_raster(tiles, path, tile=8, quality=100)
    back, _meta = read_jpeg(spark, path, tile=8)

    out_schema = T.StructType([T.StructField("bx", T.LongType()),
                               T.StructField("by", T.LongType()),
                               T.StructField("v", T.DoubleType())])

    def to_rows(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a = decode_px(r.px, r.dtype, 8)
                if a.max() != a.min():
                    raise ValueError("JPEG block not constant after "
                                     "roundtrip")
                rows.append((int(r.tile_x), int(r.tile_y),
                             float(a[0, 0])))
            yield pd.DataFrame(rows, columns=["bx", "by", "v"])

    return back.mapInPandas(to_rows, out_schema)


# =============================================================================
# multimodal image operators — REAL decode via the in-repo PNG/JPEG codecs
# (operators/multimodal.py; reference models the same payloads as /vsimem/
#  in-memory datasets through frmts/png, frmts/jpeg, frmts/bmp)
# =============================================================================

_IMG_PX = ("((d.doc_id*7 + 13*x.x + 31*y.y) % 256)")


@_reg("image_decode_png", f"""
WITH px AS (
  SELECT d.doc_id, {_IMG_PX} AS v
  FROM documents d, range(16) x(x), range(16) y(y)
)
SELECT doc_id, 'png' AS fmt, 16 AS width, 16 AS height, 1 AS channels,
       CAST(SUM(v) AS BIGINT) AS px_sum
FROM px GROUP BY doc_id
""")
def q_image_decode_png(spark, sf_dir):
    """Real image decode over a binary column: synthesize one deterministic
    16x16 gray PNG per doc executor-side, decode it back with the pure-numpy
    PNG codec (sources/png.py), emit dims + whole-image pixel checksum. The
    oracle recomputes the pixel sum from the closed-form formula — PNG is
    lossless so they agree bit-exactly. Map-only Arrow passes throughout."""
    from .operators import multimodal
    imgs = datagen.doc_images(spark, sf_dir, kind="gray", fmt="png")
    return multimodal.decode_image(imgs, payload_col="payload",
                                   key_col="doc_id")


@_reg("image_ahash", f"""
WITH px AS (
  SELECT d.doc_id, x.x, y.y, {_IMG_PX} AS v
  FROM documents d, range(16) x(x), range(16) y(y)
),
blk AS (
  SELECT doc_id, (x // 2) AS bx, (y // 2) AS by, SUM(v) AS bs
  FROM px GROUP BY doc_id, (x // 2), (y // 2)
),
tot AS (SELECT doc_id, SUM(bs) AS total FROM blk GROUP BY doc_id)
SELECT b.doc_id,
  CAST(SUM(CASE WHEN bs*64 > total AND (by*8+bx) >= 32
       THEN (CAST(1 AS BIGINT) << CAST(by*8+bx-32 AS INT)) ELSE 0 END)
       AS BIGINT) AS ahash_hi,
  CAST(SUM(CASE WHEN bs*64 > total AND (by*8+bx) < 32
       THEN (CAST(1 AS BIGINT) << CAST(by*8+bx AS INT)) ELSE 0 END)
       AS BIGINT) AS ahash_lo
FROM blk b JOIN tot t USING (doc_id)
GROUP BY b.doc_id
""")
def q_image_ahash(spark, sf_dir):
    """Average-hash image fingerprint (integer-exact aHash, two uint32
    words): decode the PNG, 8x8 block sums, bit = block_sum*64 > total —
    the image twin of SimHash text fingerprints. Oracle recomputes the hash
    from the pixel formula entirely in SQL."""
    from .operators import multimodal
    imgs = datagen.doc_images(spark, sf_dir, kind="gray", fmt="png")
    feats = multimodal.image_features(imgs, payload_col="payload",
                                      key_col="doc_id")
    return feats.select("doc_id", "ahash_hi", "ahash_lo")


@_reg("image_neardup_pairs", """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 8 = 0),
px AS (
  SELECT d.doc_id, x.x, y.y,
    (((13 + 6*((d.doc_id // 8) % 4))*x.x
      + (31 + 5*((d.doc_id // 8) % 4))*y.y
      + ((d.doc_id // 32) % 3)
        * (CASE WHEN x.x < 4 AND y.y < 4 THEN 40 ELSE 0 END)) % 256) AS v
  FROM d, range(16) x(x), range(16) y(y)
),
blk AS (
  SELECT doc_id, (x // 2) AS bx, (y // 2) AS by, SUM(v) AS bs
  FROM px GROUP BY doc_id, (x // 2), (y // 2)
),
tot AS (SELECT doc_id, SUM(bs) AS total FROM blk GROUP BY doc_id),
h AS (
  SELECT b.doc_id,
    CAST(SUM(CASE WHEN bs*64 > total AND (by*8+bx) >= 32
         THEN (CAST(1 AS BIGINT) << CAST(by*8+bx-32 AS INT)) ELSE 0 END)
         AS BIGINT) AS hi,
    CAST(SUM(CASE WHEN bs*64 > total AND (by*8+bx) < 32
         THEN (CAST(1 AS BIGINT) << CAST(by*8+bx AS INT)) ELSE 0 END)
         AS BIGINT) AS lo
  FROM blk b JOIN tot t USING (doc_id) GROUP BY b.doc_id
)
SELECT a.doc_id AS k1, b.doc_id AS k2,
       CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INT)
         AS hamming
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 6
""")
def q_image_neardup_pairs(spark, sf_dir):
    """Near-duplicate image pairs at Hamming<=6 over aHash WITHOUT the
    all-pairs join: 8x 8-bit band split -> equi-join on (band, value) ->
    exact popcount on candidates only (lossless for distance<=7 by
    pigeonhole). The oracle brute-forces all pairs — same result set, which
    is exactly the losslessness claim under test."""
    from .operators import multimodal
    imgs = datagen.doc_images(spark, sf_dir, kind="neardup", fmt="png",
                              mod=8)
    feats = multimodal.image_features(imgs, payload_col="payload",
                                      key_col="doc_id")
    return multimodal.ahash_neardup_pairs(feats, key_col="doc_id",
                                          max_hamming=6)


@_reg("image_resize_box", f"""
WITH px AS (
  SELECT d.doc_id, x.x, y.y, {_IMG_PX} AS v
  FROM documents d, range(16) x(x), range(16) y(y)
),
blk AS (
  SELECT doc_id, (x // 2) AS bx, (y // 2) AS by, SUM(v) AS bs
  FROM px GROUP BY doc_id, (x // 2), (y // 2)
)
SELECT doc_id, 8 AS width, 8 AS height,
       CAST(SUM(bs // 4) AS BIGINT) AS px_sum
FROM blk GROUP BY doc_id
""")
def q_image_resize_box(spark, sf_dir):
    """Image resize as a binary->binary Arrow map: decode PNG, exact-area
    2x box downsample (integer sum // 4 per output pixel), re-encode PNG,
    decode again and checksum — pins the decode->resample->encode loop.
    Oracle computes the same block means in SQL."""
    from .operators import multimodal
    imgs = datagen.doc_images(spark, sf_dir, kind="gray", fmt="png")
    rs = multimodal.resize_image(imgs, payload_col="payload",
                                 key_col="doc_id", target=(8, 8),
                                 mode="box")
    dec = multimodal.decode_image(rs, payload_col="resized",
                                  key_col="doc_id")
    return dec.select("doc_id", "width", "height", "px_sum")


@_reg("jpeg_image_dims", """
SELECT doc_id, 'jpeg' AS fmt, 16 AS width, 16 AS height, 3 AS channels
FROM documents
""")
def q_jpeg_image_dims(spark, sf_dir):
    """JPEG in the multimodal path: encode each doc's RGB test image with
    the baseline JFIF encoder (4:2:0, quality 85) and decode it back via the
    magic-sniff dispatch — pins the full executor-side JPEG encode+decode
    loop and the JFIF geometry (MCU padding cropped to stated dims).
    Pixel fidelity is pinned separately in tests/test_jpeg.py (lossy codec,
    so the gate checks exact dims/shape only)."""
    from .operators import multimodal
    imgs = datagen.doc_images(spark, sf_dir, kind="rgb", fmt="jpeg",
                              quality=85)
    dec = multimodal.decode_image(imgs, payload_col="payload",
                                  key_col="doc_id")
    return dec.select("doc_id", "fmt", "width", "height", "channels")


@_reg("video_frame_sample", """
WITH fr AS (SELECT * FROM (VALUES (0), (2)) f(f)),
px AS (
  SELECT d.doc_id, fr.f,
         ((d.doc_id*7 + 11*fr.f + 13*x.x + 31*y.y) % 256) AS v
  FROM documents d, fr, range(8) x(x), range(8) y(y)
)
SELECT doc_id, CAST(f AS INT) AS frame_idx, 8 AS width, 8 AS height,
       CAST(SUM(v) AS BIGINT) AS px_sum
FROM px GROUP BY doc_id, f
""")
def q_video_frame_sample(spark, sf_dir):
    """Every-k frame sampling over a length-prefixed frame container
    (pack_video: PNG frames — no ffmpeg in this container, the 1->N explode
    + per-frame decode shape is the real thing): sample frames 0 and 2 of 4,
    decode each, emit dims + pixel checksum."""
    from .operators import multimodal
    vids = datagen.doc_videos(spark, sf_dir)
    fr = multimodal.frame_sample(vids, payload_col="payload",
                                 key_col="doc_id", every=2, max_frames=8)
    return fr.select("doc_id", "frame_idx", "width", "height", "px_sum")


# =============================================================================
# datum shifts (towgs84 Helmert): OSGB36 / British National Grid + ED50
# (transforms.py DATUM_DEFS / helmert_*; reference assembles the same chain
#  through PROJ: ogr/ogrct.cpp:919-948, classic +towgs84 position-vector
#  semantics pj_geocentric_to_wgs84 / pj_geocentric_from_wgs84)
# =============================================================================

def _osgb_sql():
    """4326 -> EPSG:27700 chain replayed in SQL: WGS84 geocentric ->
    inverse Helmert -> Airy geodetic (4 fixed-point rounds, matching
    geocentric_to_geodetic) -> Airy Krueger tmerc with lat_0=49."""
    import numpy as _np

    from .raster import transforms as _tr
    aw, fw = _tr.ELLIPSOIDS["WGS84"]
    aa, fa = _tr.ELLIPSOIDS["airy"]
    e2w = fw * (2 - fw)
    e2a = fa * (2 - fa)
    a_bar, alpha, _beta, e, _ = _tr.tm_coeffs(aa, fa)
    p = _tr.DATUM_DEFS["OSGB36"][1]
    dx, dy, dz = p[0], p[1], p[2]
    rx, ry, rz = (v * _tr._AS2R for v in p[3:6])
    m = 1.0 + p[6] * 1e-6
    k0 = 0.9996012717
    k0a = k0 * a_bar
    fn_eff = -100000.0 - k0a * _tr._tm_xi0(49.0, alpha, e)
    lon0_rad = float(_np.radians(-2.0))
    xi_terms = " + ".join(
        f"({aj!r})*sin({2*j}*xi_p)*((exp({2*j}*eta_p)+exp(-{2*j}*eta_p))/2)"
        for j, aj in enumerate(alpha, start=1))
    eta_terms = " + ".join(
        f"({aj!r})*cos({2*j}*xi_p)*((exp({2*j}*eta_p)-exp(-{2*j}*eta_p))/2)"
        for j, aj in enumerate(alpha, start=1))
    it = ("atan2(hz + {e2a}*({aa}/sqrt(1-{e2a}*sin(PHI)*sin(PHI)))"
          "*sin(PHI), pp)").replace("{e2a}", repr(e2a)).replace(
              "{aa}", repr(aa))
    return f"""
b AS (SELECT doc_id, -8.0 + (lon + 180.0)/30.0 AS lonb,
             50.0 + (lat + 90.0)/18.0 AS latb
      FROM pts WHERE doc_id % 9 = 0),
gc AS (SELECT doc_id,
        nw*cos(phi)*cos(lam) AS gx, nw*cos(phi)*sin(lam) AS gy,
        nw*(1-{e2w!r})*sin(phi) AS gz
       FROM (SELECT doc_id, radians(lonb) AS lam, radians(latb) AS phi,
             {aw!r}/sqrt(1-{e2w!r}*sin(radians(latb))*sin(radians(latb)))
               AS nw FROM b)),
hm AS (SELECT doc_id,
        xt + {rz!r}*yt - {ry!r}*zt AS hx,
        -{rz!r}*xt + yt + {rx!r}*zt AS hy,
        {ry!r}*xt - {rx!r}*yt + zt AS hz
       FROM (SELECT doc_id, (gx-({dx!r}))/{m!r} AS xt,
             (gy-({dy!r}))/{m!r} AS yt, (gz-({dz!r}))/{m!r} AS zt
             FROM gc)),
gd0 AS (SELECT doc_id, hz, sqrt(hx*hx+hy*hy) AS pp, atan2(hy,hx) AS lam2,
        atan2(hz, sqrt(hx*hx+hy*hy)*(1-{e2a!r})) AS phi FROM hm),
gd1 AS (SELECT doc_id, hz, pp, lam2, {it.replace("PHI", "phi")} AS phi
        FROM gd0),
gd2 AS (SELECT doc_id, hz, pp, lam2, {it.replace("PHI", "phi")} AS phi
        FROM gd1),
gd3 AS (SELECT doc_id, hz, pp, lam2, {it.replace("PHI", "phi")} AS phi
        FROM gd2),
gd4 AS (SELECT doc_id, hz, pp, lam2, {it.replace("PHI", "phi")} AS phi
        FROM gd3),
tm0 AS (SELECT doc_id, lam2 - {lon0_rad!r} AS lamw, sin(phi) AS sphi
        FROM gd4),
tm1 AS (SELECT doc_id, lamw,
        (exp(u)-exp(-u))/2 AS t
        FROM (SELECT doc_id, lamw,
              0.5*ln((1+sphi)/(1-sphi))
              - {e!r}*0.5*ln((1+{e!r}*sphi)/(1-{e!r}*sphi)) AS u FROM tm0)),
tm2 AS (SELECT doc_id, atan2(t, cos(lamw)) AS xi_p,
        ln(q + sqrt(q*q+1)) AS eta_p
        FROM (SELECT doc_id, lamw, t,
              sin(lamw)/sqrt(t*t + cos(lamw)*cos(lamw)) AS q FROM tm1)),
tm3 AS (SELECT doc_id, xi_p + {xi_terms} AS xi, eta_p + {eta_terms} AS eta
        FROM tm2)
SELECT doc_id,
       ROUND(400000.0 + {k0a!r}*eta, 4) AS x_r,
       ROUND({fn_eff!r} + {k0a!r}*xi, 4) AS y_r
FROM tm3"""


@_reg("st_transform_osgb", f"""
{_pts_cte()},{_osgb_sql()}
""")
def q_st_transform_osgb(spark, sf_dir):
    """ST_Transform into EPSG:27700 (OSGB36 / British National Grid): the
    full datum-shift chain — WGS84 geocentric, inverse 7-parameter Helmert
    (position-vector +towgs84), Airy 1830 geodetic recovery, Krueger
    transverse Mercator with latitude-of-origin 49N. Pinned against the
    OS 'worked example' to 1mm in tests; the oracle replays every stage
    (including the fixed 4-round latitude iteration) in SQL."""
    st.register_all(spark)
    p = datagen.points(spark, sf_dir).where(F.col("doc_id") % 9 == 0)
    p = p.select("doc_id",
                 (F.lit(-8.0) + (F.col("lon") + 180.0) / 30.0).alias("lonb"),
                 (F.lit(50.0) + (F.col("lat") + 90.0) / 18.0).alias("latb"))
    p.createOrReplaceTempView("t_osgb_pts")
    return spark.sql(
        "SELECT doc_id, "
        " ROUND(ST_X(ST_Transform(ST_MakePoint(lonb, latb), 'EPSG:4326',"
        "  'EPSG:27700')), 4) AS x_r, "
        " ROUND(ST_Y(ST_Transform(ST_MakePoint(lonb, latb), 'EPSG:4326',"
        "  'EPSG:27700')), 4) AS y_r "
        "FROM t_osgb_pts")


def _ed50_sql():
    """EPSG:4230 (ED50 geographic, 3-param mean-European shift) -> WGS84:
    intl-ellipsoid geocentric, +dx translation, WGS84 geodetic recovery."""
    from .raster import transforms as _tr
    aw, fw = _tr.ELLIPSOIDS["WGS84"]
    ai, fi = _tr.ELLIPSOIDS["intl"]
    e2w = fw * (2 - fw)
    e2i = fi * (2 - fi)
    it = ("atan2(gz2 + {e2w}*({aw}/sqrt(1-{e2w}*sin(PHI)*sin(PHI)))"
          "*sin(PHI), pp)").replace("{e2w}", repr(e2w)).replace(
              "{aw}", repr(aw))
    return f"""
b AS (SELECT doc_id, lon/9.0 AS lone, 36.0 + (lat + 90.0)/6.0 AS late
      FROM pts WHERE doc_id % 10 = 0),
gc AS (SELECT doc_id,
        ni*cos(phi)*cos(lam) AS gx, ni*cos(phi)*sin(lam) AS gy,
        ni*(1-{e2i!r})*sin(phi) AS gz
       FROM (SELECT doc_id, radians(lone) AS lam, radians(late) AS phi,
             {ai!r}/sqrt(1-{e2i!r}*sin(radians(late))*sin(radians(late)))
               AS ni FROM b)),
hm AS (SELECT doc_id, gx + (-87.0) AS gx2, gy + (-98.0) AS gy2,
        gz + (-121.0) AS gz2 FROM gc),
gd0 AS (SELECT doc_id, gz2, sqrt(gx2*gx2+gy2*gy2) AS pp,
        atan2(gy2,gx2) AS lam2,
        atan2(gz2, sqrt(gx2*gx2+gy2*gy2)*(1-{e2w!r})) AS phi FROM hm),
gd1 AS (SELECT doc_id, gz2, pp, lam2, {it.replace("PHI", "phi")} AS phi
        FROM gd0),
gd2 AS (SELECT doc_id, gz2, pp, lam2, {it.replace("PHI", "phi")} AS phi
        FROM gd1),
gd3 AS (SELECT doc_id, gz2, pp, lam2, {it.replace("PHI", "phi")} AS phi
        FROM gd2),
gd4 AS (SELECT doc_id, gz2, pp, lam2, {it.replace("PHI", "phi")} AS phi
        FROM gd3)
SELECT doc_id, ROUND(degrees(lam2), 9) AS lon_r,
       ROUND(degrees(phi), 9) AS lat_r
FROM gd4"""


@_reg("st_transform_ed50", f"""
{_pts_cte()},{_ed50_sql()}
""")
def q_st_transform_ed50(spark, sf_dir):
    """ST_Transform from EPSG:4230 (ED50, International 1924 ellipsoid,
    classic -87,-98,-121 mean-European shift) to WGS84 — the forward
    Helmert direction (helmert_to_wgs84) plus the cross-ellipsoid
    geodetic<->geocentric hop with no projection, oracled stage-for-stage
    in SQL at nanodegree rounding."""
    st.register_all(spark)
    p = datagen.points(spark, sf_dir).where(F.col("doc_id") % 10 == 0)
    p = p.select("doc_id",
                 (F.col("lon") / 9.0).alias("lone"),
                 (F.lit(36.0) + (F.col("lat") + 90.0) / 6.0).alias("late"))
    p.createOrReplaceTempView("t_ed50_pts")
    return spark.sql(
        "SELECT doc_id, "
        " ROUND(ST_X(ST_Transform(ST_MakePoint(lone, late), 'EPSG:4230',"
        "  'EPSG:4326')), 9) AS lon_r, "
        " ROUND(ST_Y(ST_Transform(ST_MakePoint(lone, late), 'EPSG:4230',"
        "  'EPSG:4326')), 9) AS lat_r "
        "FROM t_ed50_pts")


@_reg("osm_pbf_ways", f"""
{_pts_cte()},
s AS (SELECT (doc_id // 3) % 6 AS g, doc_id,
             1e-9 * (100 * FLOOR(lon * 1e7 + 0.5)) AS lonq,
             1e-9 * (100 * FLOOR(lat * 1e7 + 0.5)) AS latq
      FROM pts WHERE doc_id % 3 = 1),
d AS (SELECT g, lonq, latq,
             lag(lonq) OVER (PARTITION BY g ORDER BY doc_id) AS plon,
             lag(latq) OVER (PARTITION BY g ORDER BY doc_id) AS plat
      FROM s)
SELECT CAST(g AS BIGINT) AS way_id, CAST(g AS VARCHAR) AS ref_tag,
       CAST(count(*) AS BIGINT) AS n_pts,
       ROUND(COALESCE(sum(sqrt((lonq - plon) * (lonq - plon)
                               + (latq - plat) * (latq - plat))), 0), 9)
         AS len_r
FROM d GROUP BY g
""")
def q_osm_pbf_ways(spark, sf_dir):
    """OSM PBF way assembly (osm_parser.cpp's protobuf flavor,
    sources/osm_pbf.py): nodes land in delta-coded DenseNodes blocks of
    100 (multi-blob scatter), ways in the tail block; the reader preads
    and inflates blobs executor-side, decodes packed varints through the
    vectorized reduceat lane and reassembles ways via the distributed
    node join. Coordinates quantize to the 1e-7-degree granularity —
    the oracle applies the identical floor(x*1e7+0.5) quantization."""
    import numpy as np
    import pandas as pd

    from .core import wkb as _wkb
    from .sources.osm_pbf import osm_pbf_layers, write_osm_pbf

    pts = datagen.points(spark, sf_dir).where(F.col("doc_id") % 3 == 1) \
        .select("doc_id", "lon", "lat").orderBy("doc_id").collect()
    nodes = [(int(r.doc_id) + 1, float(r.lon), float(r.lat), {})
             for r in pts]
    ways = []
    for g in range(6):
        refs = [int(r.doc_id) + 1 for r in pts
                if (r.doc_id // 3) % 6 == g]
        ways.append((g, refs, {"ref": str(g)}))
    path = vsi.scratch(".osm.pbf")
    write_osm_pbf(nodes, ways, (), path, nodes_per_block=100)
    lines = osm_pbf_layers(spark, path)["lines"]

    @F.pandas_udf("long")
    def npts(geom):
        # per-row: ragged LINESTRING decode (no fixed-stride batch lane;
        # bounded fixture-sized input, not a corpus path)
        return pd.Series([len(_wkb.decode(bytes(b)).rings[0])
                          for b in geom])

    @F.pandas_udf("double")
    def plen(geom):
        out = []
        # per-row: ragged LINESTRING decode (see npts)
        for b in geom:
            a = _wkb.decode(bytes(b)).rings[0]
            out.append(float(np.sqrt(((a[1:] - a[:-1]) ** 2)
                                     .sum(axis=1)).sum()))
        return pd.Series(out)

    return lines.select(
        F.col("fid").alias("way_id"),
        F.get_json_object("tags", "$.ref").alias("ref_tag"),
        npts("geom").alias("n_pts"),
        F.round(plen("geom"), 9).alias("len_r"))


@_reg("curve_wkb_roundtrip", """
WITH d AS (SELECT doc_id, 1.0 + (doc_id % 7) AS r,
                  (doc_id % 13) * 2.0 AS x0
           FROM documents WHERE doc_id % 4 = 0),
k AS (SELECT * FROM (VALUES ('cs'), ('cc'), ('cp')) t(kind)),
rows_ AS (SELECT doc_id, kind, r, x0 FROM d CROSS JOIN k)
SELECT doc_id, kind, TRUE AS rt_ok,
       CAST(CASE kind WHEN 'cs' THEN 91 ELSE 47 END AS BIGINT) AS n_lin,
       CASE WHEN kind = 'cs' THEN ROUND(sqrt(
           (x0 - ((x0*x0)*(r - 0.0)
                  + ((x0+r)*(x0+r) + r*r)*(0.0 - 0.0)
                  + ((x0+2*r)*(x0+2*r))*(0.0 - r))
                 / (2.0*(x0*(r - 0.0) + (x0+r)*(0.0 - 0.0)
                         + (x0+2*r)*(0.0 - r))))
         * (x0 - ((x0*x0)*(r - 0.0)
                  + ((x0+r)*(x0+r) + r*r)*(0.0 - 0.0)
                  + ((x0+2*r)*(x0+2*r))*(0.0 - r))
                 / (2.0*(x0*(r - 0.0) + (x0+r)*(0.0 - 0.0)
                         + (x0+2*r)*(0.0 - r))))
         + (0.0 - ((x0*x0)*((x0+2*r) - (x0+r))
                   + ((x0+r)*(x0+r) + r*r)*(x0 - (x0+2*r))
                   + ((x0+2*r)*(x0+2*r))*((x0+r) - x0))
                  / (2.0*(x0*(r - 0.0) + (x0+r)*(0.0 - 0.0)
                          + (x0+2*r)*(0.0 - r))))
         * (0.0 - ((x0*x0)*((x0+2*r) - (x0+r))
                   + ((x0+r)*(x0+r) + r*r)*(x0 - (x0+2*r))
                   + ((x0+2*r)*(x0+2*r))*((x0+r) - x0))
                  / (2.0*(x0*(r - 0.0) + (x0+r)*(0.0 - 0.0)
                          + (x0+2*r)*(0.0 - r))))), 6)
       ELSE 0.0 END AS radius_r
FROM rows_
""")
def q_curve_wkb_roundtrip(spark, sf_dir):
    """ISO curve geometry round-trip fidelity (OGRCircularString /
    OGRCompoundCurve / OGRCurvePolygon, ogr/ogr_geometry.h): build curve
    WKB per doc, decode with curves=True, re-encode and compare
    byte-for-byte (rt_ok), then linearize (ST_CurveToLine semantics) and
    report vertex count + the circumradius of the first arc triple (same
    circumcenter algebra in Spark and SQL). Closes the round-3 'curves
    linearized on decode' scope cut: linearization is now opt-in, not
    forced."""
    import pandas as pd

    from .core import wkb as W

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 0) \
        .select("doc_id")

    def gen(batches):
        import numpy as np
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                r = 1.0 + (did % 7)
                x0 = (did % 13) * 2.0
                cs = W.circularstring([(x0, 0), (x0 + r, r),
                                       (x0 + 2 * r, 0), (x0 + 3 * r, -r),
                                       (x0 + 4 * r, 0)])
                cc = W.compoundcurve([
                    ("line", [(x0, 0), (x0 + 2 * r, 0)]),
                    ("arc", [(x0 + 2 * r, 0), (x0 + 3 * r, r),
                             (x0 + 4 * r, 0)])])
                ring = W.Geom(W.COMPOUNDCURVE, parts=[
                    W.Geom(W.LINESTRING,
                           [np.array([(x0 + 4 * r, 0.0), (x0, 0.0)])]),
                    W.Geom(W.CIRCULARSTRING,
                           [np.array([(x0, 0.0), (x0 + 2 * r, 2 * r),
                                      (x0 + 4 * r, 0.0)])])])
                cp = W.curvepolygon([ring])
                for kind, buf in (("cs", cs), ("cc", cc), ("cp", cp)):
                    g = W.decode(buf, curves=True)
                    rt_ok = W.encode(g) == buf
                    lin = W.linearize_geom(g)
                    n_lin = len(lin.rings[0])
                    if kind == "cs":
                        # circumcenter of the first arc triple — the
                        # identical algebra the oracle runs in SQL
                        ax, ay = x0, 0.0
                        bx, by = x0 + r, r
                        cx, cy = x0 + 2 * r, 0.0
                        dd = 2.0 * (ax * (by - cy) + bx * (cy - ay)
                                    + cx * (ay - by))
                        ux = ((ax * ax + ay * ay) * (by - cy)
                              + (bx * bx + by * by) * (cy - ay)
                              + (cx * cx + cy * cy) * (ay - by)) / dd
                        uy = ((ax * ax + ay * ay) * (cx - bx)
                              + (bx * bx + by * by) * (ax - cx)
                              + (cx * cx + cy * cy) * (bx - ax)) / dd
                        rad = round(float(np.sqrt(
                            (ax - ux) * (ax - ux)
                            + (ay - uy) * (ay - uy))), 6)
                    else:
                        rad = 0.0
                    rows.append((did, kind, bool(rt_ok), n_lin, rad))
            yield pd.DataFrame(rows, columns=["doc_id", "kind", "rt_ok",
                                              "n_lin", "radius_r"])

    return d.mapInPandas(gen, schema="doc_id long, kind string, "
                         "rt_ok boolean, n_lin long, radius_r double")


@_reg("audio_decode_wav", """
WITH n AS (SELECT doc_id, 512 + (doc_id % 3) * 256 AS n FROM documents),
s AS (SELECT doc_id, n, ((doc_id*13 + i.i*7) % 199) - 99 AS v
      FROM n, range(1024) i(i) WHERE i.i < n)
SELECT doc_id, 8000 AS rate, 1 AS channels,
       CAST(max(n) AS BIGINT) AS n_samples,
       CAST(max(n) * 1000 // 8000 AS BIGINT) AS duration_ms,
       CAST(SUM(abs(v)) AS BIGINT) AS sum_abs
FROM s GROUP BY doc_id
""")
def q_audio_decode_wav(spark, sf_dir):
    """Audio multimodal decode: per-doc PCM16 WAV (RIFF parse is pure
    struct/numpy — the audio twin of the image decoders), emitting rate,
    channel count, sample count, duration and an integer sum-of-abs
    checksum the oracle recomputes from the sample formula."""
    from .operators import multimodal
    wavs = datagen.doc_audio(spark, sf_dir)
    return multimodal.decode_audio(wavs, payload_col="payload",
                                   key_col="doc_id")


@_reg("audio_window_energy", """
WITH n AS (SELECT doc_id, 512 + (doc_id % 3) * 256 AS n FROM documents),
s AS (SELECT doc_id, i.i // 256 AS win_idx,
             ((doc_id*13 + i.i*7) % 199) - 99 AS v
      FROM n, range(1024) i(i) WHERE i.i < n)
SELECT doc_id, CAST(win_idx AS INT) AS win_idx,
       CAST(SUM(v*v) AS BIGINT) AS energy
FROM s GROUP BY doc_id, win_idx
""")
def q_audio_window_energy(spark, sf_dir):
    """Windowed audio energy (the framing shape of any acoustic
    featurizer): decode WAV, frame into 256-sample windows, integer
    sum-of-squares per window as a 1->N explode. Oracle frames the same
    formula with i // 256 in SQL."""
    from .operators import multimodal
    wavs = datagen.doc_audio(spark, sf_dir)
    return multimodal.audio_window_energy(wavs, payload_col="payload",
                                          key_col="doc_id", window=256)


@_reg("gridshift_ntv2", f"""
{_pts_cte()},
b AS (SELECT doc_id, -9.0 + (lon + 180.0)/20.0 AS lonb,
             41.0 + (lat + 90.0)/10.0 AS latb
      FROM pts WHERE doc_id % 11 = 3),
ix AS (SELECT doc_id, lonb, latb,
       (lonb - (-10.0))/0.5 AS fx, (latb - 40.0)/0.5 AS fy FROM b),
cell AS (SELECT doc_id, lonb, latb, fx, fy,
         CAST(FLOOR(fx) AS BIGINT) AS j0, CAST(FLOOR(fy) AS BIGINT) AS i0
         FROM ix),
w AS (SELECT *, fx - j0 AS ax, fy - i0 AS ay FROM cell),
v AS (SELECT doc_id, lonb, latb, ax, ay,
      ((i0*3 + j0*5) % 64) * 0.25 AS la00,
      ((i0*3 + (j0+1)*5) % 64) * 0.25 AS la10,
      (((i0+1)*3 + j0*5) % 64) * 0.25 AS la01,
      (((i0+1)*3 + (j0+1)*5) % 64) * 0.25 AS la11,
      -(((i0*7 + j0*11) % 64) * 0.25 - 4.0) AS lo00,
      -(((i0*7 + (j0+1)*11) % 64) * 0.25 - 4.0) AS lo10,
      -((((i0+1)*7 + j0*11) % 64) * 0.25 - 4.0) AS lo01,
      -((((i0+1)*7 + (j0+1)*11) % 64) * 0.25 - 4.0) AS lo11
      FROM w)
SELECT doc_id,
  ROUND(lonb + (lo00*(1-ax)*(1-ay) + lo10*ax*(1-ay)
              + lo01*(1-ax)*ay + lo11*ax*ay) / 3600.0, 9) AS lon_r,
  ROUND(latb + (la00*(1-ax)*(1-ay) + la10*ax*(1-ay)
              + la01*(1-ax)*ay + la11*ax*ay) / 3600.0, 9) AS lat_r
FROM v
""")
def q_gridshift_ntv2(spark, sf_dir):
    """NTv2 grid-shift datum transformation (raster/ntv2.py behind
    '+nadgrids=' — the grid-file counterpart of +towgs84; PROJ
    hgridshift semantics, reference chain ogr/ogrct.cpp): build a
    deterministic synthetic .gsb (shift nodes a closed-form function of
    the grid index, exactly float32-representable), transform points
    from the gridded datum to WGS84 through ST_Transform, and have the
    oracle replay the bilinear interpolation node-for-node in SQL. At
    cluster scale the .gsb ships with --files; here executors share the
    local path."""
    import numpy as np

    from .raster import ntv2 as _ntv2

    path = vsi.scratch(".gsb")
    i, j = np.mgrid[0:41, 0:41]
    _ntv2.write_ntv2(path, lat0=40.0, lat1=60.0, lon0=-10.0,
                     lon1=10.0, inc=0.5,
                     lat_shift_sec=((i * 3 + j * 5) % 64) * 0.25,
                     lon_shift_west_sec=((i * 7 + j * 11) % 64)
                     * 0.25 - 4.0)
    st.register_all(spark)
    p = datagen.points(spark, sf_dir).where(F.col("doc_id") % 11 == 3)
    p = p.select("doc_id",
                 (F.lit(-9.0) + (F.col("lon") + 180.0) / 20.0)
                 .alias("lonb"),
                 (F.lit(41.0) + (F.col("lat") + 90.0) / 10.0)
                 .alias("latb"))
    p.createOrReplaceTempView("t_grid_pts")
    src = f"+proj=longlat +ellps=clrk66 +nadgrids={path}"
    return spark.sql(
        "SELECT doc_id, "
        f" ROUND(ST_X(ST_Transform(ST_MakePoint(lonb, latb), '{src}',"
        "  'EPSG:4326')), 9) AS lon_r, "
        f" ROUND(ST_Y(ST_Transform(ST_MakePoint(lonb, latb), '{src}',"
        "  'EPSG:4326')), 9) AS lat_r "
        "FROM t_grid_pts")


@_reg("grib_ingest", """
WITH m AS (SELECT * FROM (VALUES (1), (2), (3)) t(band)),
px AS (
  SELECT band, ((band*17 + x.x*3 + y.y*7) % 400) + 20000 AS cs
  FROM m, range(41) x(x), range(37) y(y)
)
SELECT band, 41 AS ni, 37 AS nj, CAST(count(*) AS BIGINT) AS n_cells,
       CAST(SUM(cs) AS BIGINT) AS sum_cs
FROM px GROUP BY band
""")
def q_grib_ingest(spark, sf_dir):
    """GRIB1 ingest (frmts/grib, edition-1 simple packing): three
    synthetic isobaric fields with centi-Kelvin-exact values (so the
    12-bit simple packing round-trips bit-exactly: d_scale=2, binary
    scale 0, IBM-float reference an exact integer), written with the
    fixture encoder, decoded executor-side through the vectorized
    unpackbits lane, re-aggregated per band. The oracle recomputes the
    integer field sums from the closed-form formula."""
    import numpy as np
    import pandas as pd

    from .raster.tiles import decode_px
    from .sources.grib import read_grib, write_grib

    path = vsi.scratch(".grib")
    y, x = np.mgrid[0:37, 0:41]
    arrays = [(((b * 17 + x * 3 + y * 7) % 400) + 20000) / 100.0
              for b in (1, 2, 3)]
    write_grib(arrays, path, nbits=12, d_scale=2)
    tiles, _metas = read_grib(spark, path, tile=64)

    def agg(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a = decode_px(r.px, r.dtype, 64)
                ty, tx = int(r.tile_y), int(r.tile_x)
                sub = a[: max(0, min(37 - ty * 64, 64)),
                        : max(0, min(41 - tx * 64, 64))]
                cs = np.rint(sub * 100.0).astype(np.int64)
                rows.append((int(r.band), int(cs.size), int(cs.sum())))
            yield pd.DataFrame(rows, columns=["band", "n", "s"])

    part = tiles.mapInPandas(agg, schema="band int, n long, s long")
    return (part.groupBy("band")
            .agg(F.lit(41).alias("ni"), F.lit(37).alias("nj"),
                 F.sum("n").cast("long").alias("n_cells"),
                 F.sum("s").cast("long").alias("sum_cs")))


# =============================================================================
# exact n-gram decontamination + BPE merge statistics (webtext tokenizer prep)
# =============================================================================

@_reg("ngram_contamination", """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (SELECT doc_id,
             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' '
             || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7]
               AS sh
      FROM d, unnest(generate_series(1, len(ws) - 7)) AS t(i)
      WHERE len(ws) >= 8),
tr AS (SELECT DISTINCT sh FROM g WHERE doc_id % 2 = 0),
ev AS (SELECT DISTINCT doc_id, sh FROM g WHERE doc_id % 7 = 0),
hit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
        FROM ev WHERE sh IN (SELECT sh FROM tr) GROUP BY doc_id),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        FROM ev GROUP BY doc_id)
SELECT tot.doc_id, n_grams,
       CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
       ROUND(COALESCE(n_hit, 0) / n_grams, 6) AS frac_r
FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
""")
def q_ngram_contamination(spark, sf_dir):
    """Exact 8-gram decontamination diagnostic (the sharp counterpart of
    bloom_decontam's probabilistic probe; cf. GPT-3 appx C / openwebtext
    dedup): eval set = every 7th doc, training corpus = the even-doc
    half, so even eval docs are fully contained (frac 1.0) and odd ones
    measure genuine overlap. Scale shape: the tiny eval side broadcasts
    against the training-gram scan — one map-only probe plus a
    doc-sized groupBy; the train grams never shuffle."""
    docs = _t(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 2 == 0)
    test = docs.where(F.col("doc_id") % 7 == 0)
    return textops.ngram_contamination(train, test, k=8)


@_reg("bpe_pair_counts", """
WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
wc AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt
       FROM w0 WHERE len(w) > 0 GROUP BY w),
p AS (SELECT substr(w, i, 2) AS pair, cnt
      FROM wc, unnest(generate_series(1, len(w) - 1)) AS t(i)
      WHERE len(w) >= 2)
SELECT pair, CAST(sum(cnt) AS BIGINT) AS cnt
FROM p GROUP BY pair
ORDER BY cnt DESC, pair ASC LIMIT 20
""")
def q_bpe_pair_counts(spark, sf_dir):
    """Round-1 BPE merge-candidate table (Sennrich et al. 2016):
    adjacent character-pair counts weighted by word frequency, top 20 in
    deterministic (cnt DESC, pair ASC) order. The corpus-wide word count
    is the only big shuffle; the pair explode runs over the
    vocabulary-sized distinct-word table."""
    docs = _t(spark, sf_dir, "documents")
    return textops.bpe_pair_counts(docs, top=20)


@_reg("bpe_merge_round", """
WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
wc AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt
       FROM w0 WHERE len(w) >= 2 GROUP BY w),
pc AS (SELECT substr(w, i, 2) AS pair, sum(cnt) AS cnt
       FROM wc, unnest(generate_series(1, len(w) - 1)) AS t(i)
       GROUP BY pair),
best AS (SELECT pair FROM pc ORDER BY cnt DESC, pair ASC LIMIT 1),
sp AS (SELECT cnt,
              string_split(
                replace(trim(regexp_replace(w, '(.)', '\\1 ', 'g')),
                        substr((SELECT pair FROM best), 1, 1) || ' ' ||
                        substr((SELECT pair FROM best), 2, 1),
                        (SELECT pair FROM best)),
                ' ') AS s
       FROM wc),
e AS (SELECT s[j] || '+' || s[j+1] AS pair, cnt
      FROM sp, unnest(generate_series(1, len(s) - 1)) AS t(j)
      WHERE len(s) >= 2)
SELECT pair, CAST(sum(cnt) AS BIGINT) AS cnt
FROM e GROUP BY pair
ORDER BY cnt DESC, pair ASC LIMIT 10
""")
def q_bpe_merge_round(spark, sf_dir):
    """One full BPE training round end-to-end: pick the top character
    pair (ties lexicographic), merge it left-to-right non-overlapping in
    every word's symbol sequence, recount adjacent SYMBOL pairs, return
    the post-merge top 10 spelled 'sym+sym'. The chosen pair is one
    scalar, so the merge stage stays a map-only string rewrite over the
    distinct-word table."""
    docs = _t(spark, sf_dir, "documents")
    return textops.bpe_top_merge_recount(docs, top=10)


# =============================================================================
# oblique stereographic (RD New) + Swiss oblique Mercator (LV95) — full
# WGS84 -> national-grid datum chains (transforms.py sterea/omerc kernels)
# =============================================================================

def _datum_chain_sql(box_sql: str, towgs84, ellps):
    """Shared oracle prefix: remap pts into a lon/lat box, WGS84
    geocentric, inverse 7-param Helmert, target-ellipsoid geodetic
    (4 fixed-point rounds, matching geocentric_to_geodetic). Ends with a
    gd4(doc_id, lam2, phi) CTE in target-datum radians."""
    from .raster import transforms as _tr
    aw, fw = _tr.ELLIPSOIDS["WGS84"]
    aa, fa = ellps
    e2w = fw * (2 - fw)
    e2a = fa * (2 - fa)
    p = tuple(towgs84) + (0.0,) * (7 - len(towgs84))
    dx, dy, dz = p[0], p[1], p[2]
    rx, ry, rz = (v * _tr._AS2R for v in p[3:6])
    m = 1.0 + p[6] * 1e-6
    it = ("atan2(hz + {e2a}*({aa}/sqrt(1-{e2a}*sin(PHI)*sin(PHI)))"
          "*sin(PHI), pp)").replace("{e2a}", repr(e2a)).replace(
              "{aa}", repr(aa))
    return f"""
b AS ({box_sql}),
gc AS (SELECT doc_id,
        nw*cos(phi)*cos(lam) AS gx, nw*cos(phi)*sin(lam) AS gy,
        nw*(1-{e2w!r})*sin(phi) AS gz
       FROM (SELECT doc_id, radians(lonb) AS lam, radians(latb) AS phi,
             {aw!r}/sqrt(1-{e2w!r}*sin(radians(latb))*sin(radians(latb)))
               AS nw FROM b)),
hm AS (SELECT doc_id,
        xt + ({rz!r})*yt - ({ry!r})*zt AS hx,
        -(({rz!r}))*xt + yt + ({rx!r})*zt AS hy,
        ({ry!r})*xt - ({rx!r})*yt + zt AS hz
       FROM (SELECT doc_id, (gx-({dx!r}))/{m!r} AS xt,
             (gy-({dy!r}))/{m!r} AS yt, (gz-({dz!r}))/{m!r} AS zt
             FROM gc)),
gd0 AS (SELECT doc_id, hz, sqrt(hx*hx+hy*hy) AS pp, atan2(hy,hx) AS lam2,
        atan2(hz, sqrt(hx*hx+hy*hy)*(1-{e2a!r})) AS phi FROM hm),
gd1 AS (SELECT doc_id, hz, pp, lam2, {it.replace("PHI", "phi")} AS phi
        FROM gd0),
gd2 AS (SELECT doc_id, hz, pp, lam2, {it.replace("PHI", "phi")} AS phi
        FROM gd1),
gd3 AS (SELECT doc_id, hz, pp, lam2, {it.replace("PHI", "phi")} AS phi
        FROM gd2),
gd4 AS (SELECT doc_id, lam2, {it.replace("PHI", "phi")} AS phi
        FROM gd3)"""


def _rd_sql():
    """EPSG:28992 oracle tail: the GN 7-2 double-stereographic forward
    (conformal-sphere w/chi plus spherical stereographic about chi0),
    constants inlined from sterea_constants on Bessel."""
    import numpy as _np

    from .raster import transforms as _tr
    lat0 = 52.0 + 9.0 / 60 + 22.178 / 3600
    lon0 = 5.0 + 23.0 / 60 + 15.5 / 3600
    bes = _tr.ELLIPSOIDS["bessel"]
    big_r, n, c, chi0, e, _ = _tr.sterea_constants(lat0, bes)
    two_rk = 2.0 * float(big_r) * 0.9999079
    sc0, cc0 = float(_np.sin(chi0)), float(_np.cos(chi0))
    lam0 = float(_np.radians(lon0))
    pi = repr(float(_np.pi))
    two_pi = repr(float(2 * _np.pi))
    box = ("SELECT doc_id, 3.2 + (lon + 180.0)/90.0 AS lonb, "
           "50.8 + (lat + 90.0)/72.0 AS latb "
           "FROM pts WHERE doc_id % 9 = 1")
    chain = _datum_chain_sql(
        box, (565.417, 50.3319, 465.552,
              -0.398957, 0.343988, -1.8774, 4.0725), bes)
    return f"""{chain},
s0 AS (SELECT doc_id, sin(phi) AS sphi, lam2 - {lam0!r} AS lam FROM gd4),
s1 AS (SELECT doc_id,
        {float(n)!r} * (lam - {two_pi} * floor((lam + {pi}) / {two_pi}))
          AS dlam,
        {float(c)!r} * power((1+sphi)/(1-sphi)
            * power((1-{float(e)!r}*sphi)/(1+{float(e)!r}*sphi),
                    {float(e)!r}), {float(n)!r}) AS w
       FROM s0),
s2 AS (SELECT doc_id, dlam, asin((w-1)/(w+1)) AS chi FROM s1),
s3 AS (SELECT doc_id, dlam, chi,
        1 + sin(chi)*{sc0!r} + cos(chi)*{cc0!r}*cos(dlam) AS bb FROM s2)
SELECT doc_id,
       ROUND(155000.0 + {two_rk!r}*cos(chi)*sin(dlam)/bb, 4) AS x_r,
       ROUND(463000.0 + {two_rk!r}*(sin(chi)*{cc0!r}
             - cos(chi)*{sc0!r}*cos(dlam))/bb, 4) AS y_r
FROM s3"""


def _lv95_sql():
    """EPSG:2056 oracle tail: Hotine variant B with alpha=gamma=90 (the
    EPSG 9815 parameterization of the Swiss grid), constants inlined from
    omerc_constants on Bessel."""
    import numpy as _np

    from .raster import transforms as _tr
    latc = 46.0 + 57.0 / 60 + 8.66 / 3600
    lonc = 7.0 + 26.0 / 60 + 22.5 / 3600
    bes = _tr.ELLIPSOIDS["bessel"]
    big_a, big_b, big_h, g0, lam0, uc, e, sgn = _tr.omerc_constants(
        lonc, latc, 90.0, 1.0, bes)
    sg0, cg0 = float(_np.sin(g0)), float(_np.cos(g0))
    gr = float(_np.radians(90.0))
    sgr, cgr = float(_np.sin(gr)), float(_np.cos(gr))
    uc_off = abs(float(uc)) * sgn
    a_, b_, h_, e_ = (float(big_a), float(big_b), float(big_h), float(e))
    pi = repr(float(_np.pi))
    two_pi = repr(float(2 * _np.pi))
    box = ("SELECT doc_id, 6.0 + (lon + 180.0)/90.0 AS lonb, "
           "45.9 + (lat + 90.0)/100.0 AS latb "
           "FROM pts WHERE doc_id % 9 = 2")
    chain = _datum_chain_sql(box, (674.374, 15.056, 405.346), bes)
    return f"""{chain},
o0 AS (SELECT doc_id, sin(phi) AS sphi, phi, lam2 - {float(lam0)!r} AS lam
       FROM gd4),
o1 AS (SELECT doc_id,
        tan({pi}/4 - phi/2)
          / power((1-{e_!r}*sphi)/(1+{e_!r}*sphi), {e_ / 2!r}) AS t,
        {b_!r} * (lam - {two_pi} * floor((lam + {pi}) / {two_pi})) AS dl
       FROM o0),
o2 AS (SELECT doc_id, dl, {h_!r} / power(t, {b_!r}) AS q FROM o1),
o3 AS (SELECT doc_id, dl, (q - 1/q)/2 AS s, (q + 1/q)/2 AS tt,
        sin(dl) AS v FROM o2),
o4 AS (SELECT doc_id,
        {a_!r} * ln((1-un)/(1+un)) / {2 * b_!r} AS vc,
        {a_!r} * atan2(s*{cg0!r} + v*{sg0!r}, cos(dl)) / {b_!r}
          - {uc_off!r} AS uu
       FROM (SELECT doc_id, dl, s, v,
             (-v*{cg0!r} + s*{sg0!r})/tt AS un FROM o3))
SELECT doc_id,
       ROUND(2600000.0 + vc*{cgr!r} + uu*{sgr!r}, 4) AS x_r,
       ROUND(1200000.0 + uu*{cgr!r} - vc*{sgr!r}, 4) AS y_r
FROM o4"""


@_reg("st_transform_rd_new", f"""
{_pts_cte()},{_rd_sql()}
""")
def q_st_transform_rd_new(spark, sf_dir):
    """ST_Transform into EPSG:28992 (Amersfoort / RD New): the Dutch
    national grid's double stereographic (EPSG method 9809, GN 7-2
    §3.2.5; PROJ sterea; ogr/ogrct.cpp:919-948 resolves it via PROJ) on
    Bessel 1841 behind the Amersfoort 7-parameter Helmert. Kernel pinned
    to the GN worked example (196105.283, 557057.739) in tests; the
    oracle replays the full chain — geocentric, inverse Helmert, Bessel
    geodetic recovery, conformal-sphere stereographic — in SQL."""
    st.register_all(spark)
    p = datagen.points(spark, sf_dir).where(F.col("doc_id") % 9 == 1)
    p = p.select("doc_id",
                 (F.lit(3.2) + (F.col("lon") + 180.0) / 90.0).alias("lonb"),
                 (F.lit(50.8) + (F.col("lat") + 90.0) / 72.0).alias("latb"))
    p.createOrReplaceTempView("t_rd_pts")
    return spark.sql(
        "SELECT doc_id, "
        " ROUND(ST_X(ST_Transform(ST_MakePoint(lonb, latb), 'EPSG:4326',"
        "  'EPSG:28992')), 4) AS x_r, "
        " ROUND(ST_Y(ST_Transform(ST_MakePoint(lonb, latb), 'EPSG:4326',"
        "  'EPSG:28992')), 4) AS y_r "
        "FROM t_rd_pts")


@_reg("st_transform_lv95", f"""
{_pts_cte()},{_lv95_sql()}
""")
def q_st_transform_lv95(spark, sf_dir):
    """ST_Transform into EPSG:2056 (CH1903+ / LV95): the Swiss Oblique
    Mercator as Hotine variant B with alpha = gamma = 90 (EPSG method
    9815; PROJ somerc) on Bessel 1841 behind the CH1903 3-parameter
    shift. Kernel pinned to swisstopo's Rigi reference point in tests;
    the oracle replays the full chain in SQL."""
    st.register_all(spark)
    p = datagen.points(spark, sf_dir).where(F.col("doc_id") % 9 == 2)
    p = p.select("doc_id",
                 (F.lit(6.0) + (F.col("lon") + 180.0) / 90.0).alias("lonb"),
                 (F.lit(45.9) + (F.col("lat") + 90.0) / 100.0).alias("latb"))
    p.createOrReplaceTempView("t_lv_pts")
    return spark.sql(
        "SELECT doc_id, "
        " ROUND(ST_X(ST_Transform(ST_MakePoint(lonb, latb), 'EPSG:4326',"
        "  'EPSG:2056')), 4) AS x_r, "
        " ROUND(ST_Y(ST_Transform(ST_MakePoint(lonb, latb), 'EPSG:4326',"
        "  'EPSG:2056')), 4) AS y_r "
        "FROM t_lv_pts")


# =============================================================================
# training-set assembly: sequence packing + tf-idf
# =============================================================================

@_reg("seq_pack", """
WITH d AS (SELECT doc_id,
                  CAST(len(string_split(text, ' ')) + 1 AS BIGINT) AS w
           FROM documents),
c AS (SELECT doc_id, w,
             CAST(COALESCE(sum(w) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS tok_start
      FROM d)
SELECT doc_id, CAST(w - 1 AS BIGINT) AS n_tokens, tok_start,
       CAST(tok_start // 512 AS BIGINT) AS seq_first,
       CAST((tok_start + w - 1) // 512 AS BIGINT) AS seq_last
FROM c
""")
def q_seq_pack(spark, sf_dir):
    """GPT-style concat-and-chunk sequence packing placement (docs laid
    end-to-end in doc_id order, one EOS each, cut into 512-token training
    sequences): per-doc token offset and first/last sequence ids. The
    global running sum runs as the two-phase scan (per-block partials ->
    tiny prefix window -> broadcast join -> block-local window), never a
    corpus-wide single-task sort; the oracle replays it as one window."""
    docs = _t(spark, sf_dir, "documents")
    return textops.pack_sequences(docs, ctx=512, block=1024)


@_reg("seq_pack_stats", """
WITH d AS (SELECT doc_id,
                  CAST(len(string_split(text, ' ')) + 1 AS BIGINT) AS w
           FROM documents),
c AS (SELECT doc_id, w,
             CAST(COALESCE(sum(w) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS tok_start
      FROM d),
p AS (SELECT doc_id, w - 1 AS n_tokens, tok_start,
             tok_start // 512 AS seq_first,
             (tok_start + w - 1) // 512 AS seq_last
      FROM c),
e AS (SELECT doc_id, n_tokens, tok_start, seq_id
      FROM p, unnest(generate_series(seq_first, seq_last)) AS t(seq_id))
SELECT CAST(seq_id AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(greatest(tok_start, seq_id * 512)) AS BIGINT) AS tok_lo,
       CAST(max(least(tok_start + n_tokens + 1, (seq_id + 1) * 512))
         AS BIGINT) AS tok_hi
FROM e GROUP BY seq_id
""")
def q_seq_pack_stats(spark, sf_dir):
    """Per training sequence: contributing-document count and covered
    token range. The doc->sequence explode is bounded (a doc spans
    ~n_tokens/ctx + 1 sequences), so fan-out tracks stream length / ctx."""
    docs = _t(spark, sf_dir, "documents")
    return textops.pack_sequence_stats(docs, ctx=512, block=1024)


@_reg("tfidf_topk", """
WITH w0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM w0 WHERE len(term) > 0 GROUP BY doc_id, term),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df_cnt
        FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
s AS (SELECT tf.doc_id, tf.term, tf.tf, dft.df_cnt,
             tf.tf * (ln(CAST((SELECT n_docs FROM n) + 1 AS DOUBLE)
                         / (dft.df_cnt + 1)) + 1.0) AS tfidf
      FROM tf JOIN dft ON tf.term = dft.term),
r AS (SELECT doc_id, term, tf, df_cnt, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term ASC) AS rk
      FROM s)
SELECT doc_id, term, tf, df_cnt, ROUND(tfidf, 6) AS tfidf_r
FROM r WHERE rk <= 3
""")
def q_tfidf_topk(spark, sf_dir):
    """Per-document top-3 TF-IDF terms (smooth idf, deterministic term
    tiebreak) — the keyword-extraction step of a curation pipeline. tf is
    the only corpus-wide shuffle (map-side combined); df aggregates the
    tf table, so the corpus is scanned once."""
    docs = _t(spark, sf_dir, "documents")
    return textops.tfidf_topk(docs, k=3)


def _krovak_sql():
    """EPSG:5514 oracle tail: the GN 7-2 §3.2.2 Krovak oblique conformal
    conic (conformal-sphere U/V, rotation to the cone axis, conic radius),
    constants inlined from krovak_constants on Bessel."""
    import numpy as _np

    from .raster import transforms as _tr
    bes = _tr.ELLIPSOIDS["bessel"]
    alpha = 30.0 + 17.0 / 60 + 17.3031 / 3600
    _a, big_b, t0, n, r0, e = _tr.krovak_constants(49.5, alpha, 78.5,
                                                   0.9999, bes)
    b_, t0_, n_, e_ = float(big_b), float(t0), float(n), float(e)
    r0k = float(r0) * float(_np.tan(_np.pi / 4
                                    + 78.5 * _np.pi / 180 / 2)) ** n_
    ca, sa = (float(_np.cos(_np.radians(alpha))),
              float(_np.sin(_np.radians(alpha))))
    lam0 = float(_np.radians(24.0 + 50.0 / 60))
    pi = repr(float(_np.pi))
    two_pi = repr(float(2 * _np.pi))
    box = ("SELECT doc_id, 12.2 + (lon + 180.0)/60.0 AS lonb, "
           "48.6 + (lat + 90.0)/90.0 AS latb "
           "FROM pts WHERE doc_id % 9 = 4")
    chain = _datum_chain_sql(box, (589.0, 76.0, 480.0), bes)
    return f"""{chain},
k0 AS (SELECT doc_id, sin(phi) AS sphi, phi,
        {lam0!r} - lam2 AS lam FROM gd4),
k1 AS (SELECT doc_id,
        2*(atan({t0_!r} * power(tan(phi/2 + {pi}/4), {b_!r})
           / power((1+{e_!r}*sphi)/(1-{e_!r}*sphi), {e_ * b_ / 2!r}))
           - {pi}/4) AS u,
        {b_!r} * (lam - {two_pi} * floor((lam + {pi}) / {two_pi})) AS v
       FROM k0),
k2 AS (SELECT doc_id, u, v,
        asin({ca!r}*sin(u) + {sa!r}*cos(u)*cos(v)) AS t FROM k1),
k3 AS (SELECT doc_id, t, asin(cos(u)*sin(v)/cos(t)) AS d FROM k2),
k4 AS (SELECT doc_id, {n_!r}*d AS theta,
        {r0k!r} / power(tan(t/2 + {pi}/4), {n_!r}) AS r FROM k3)
SELECT doc_id,
       ROUND(0.0 - r*sin(theta), 4) AS x_r,
       ROUND(0.0 - r*cos(theta), 4) AS y_r
FROM k4"""


@_reg("st_transform_krovak", f"""
{_pts_cte()},{_krovak_sql()}
""")
def q_st_transform_krovak(spark, sf_dir):
    """ST_Transform into EPSG:5514 (S-JTSK / Krovak East North, the
    Czech/Slovak national grid): the Krovak oblique conformal conic
    (EPSG method 9819, GN 7-2 §3.2.2) on Bessel 1841 behind the S-JTSK
    3-parameter shift. Kernel pinned in tests to the GN worked example
    and the defining invariant (scale exactly 0.9999 on the 78°30'
    pseudo standard parallel); the oracle replays the full chain."""
    st.register_all(spark)
    p = datagen.points(spark, sf_dir).where(F.col("doc_id") % 9 == 4)
    p = p.select("doc_id",
                 (F.lit(12.2) + (F.col("lon") + 180.0) / 60.0).alias("lonb"),
                 (F.lit(48.6) + (F.col("lat") + 90.0) / 90.0).alias("latb"))
    p.createOrReplaceTempView("t_kr_pts")
    return spark.sql(
        "SELECT doc_id, "
        " ROUND(ST_X(ST_Transform(ST_MakePoint(lonb, latb), 'EPSG:4326',"
        "  'EPSG:5514')), 4) AS x_r, "
        " ROUND(ST_Y(ST_Transform(ST_MakePoint(lonb, latb), 'EPSG:4326',"
        "  'EPSG:5514')), 4) AS y_r "
        "FROM t_kr_pts")


@_reg("s57_roundtrip", f"""
{_pts_cte()}
SELECT doc_id,
       ROUND(floor(lon * 10000000.0 + 0.5) / 10000000.0, 9) AS x_r,
       ROUND(floor(lat * 10000000.0 + 0.5) / 10000000.0, 9) AS y_r
FROM pts WHERE doc_id % 13 = 0
""")
def q_s57_roundtrip(spark, sf_dir):
    """S-57 ENC driver round-trip (frmts/iso8211/ddfmodule.cpp +
    ogr/ogrsf_frmts/s57/s57reader.cpp): every 13th page writes a VI node
    + point feature into an ISO 8211 cell (24-byte leaders, directory
    entries, binary S-57 subfields, COMF=1e7 int32 quantization) and
    reads back through the byte-range distributed record parser; the
    oracle recomputes the same 1e-7-quantized coordinates from the
    source table."""
    from .sources.s57 import RCNM_VI, read_s57, write_s57

    rows = (datagen.points(spark, sf_dir).where(F.col("doc_id") % 13 == 0)
            .select("doc_id", "lon", "lat").orderBy("doc_id").collect())
    path = vsi.scratch(".000")
    q = 10000000.0

    def qz(v):
        import math
        return math.floor(v * q + 0.5) / q

    nodes = [(int(r.doc_id) + 1, "VI", [(qz(r.lon), qz(r.lat))])
             for r in rows]
    feats = [(int(r.doc_id) + 1, 1, 75, (540, int(r.doc_id), 1), {},
              [(RCNM_VI, int(r.doc_id) + 1, 255, 255)]) for r in rows]
    write_s57(path, nodes, [], feats)
    df = read_s57(spark, path)
    px, py = _pxy_udfs()
    return df.select((F.col("fidn")).alias("doc_id"),
                     F.round(px("geom"), 9).alias("x_r"),
                     F.round(py("geom"), 9).alias("y_r"))


@_reg("dgn_roundtrip", f"""
{_pts_cte()}
SELECT doc_id,
       ROUND(floor(lon * 1000000.0 + 0.5) / 1000000.0, 9) AS x_r,
       ROUND(floor(lat * 1000000.0 + 0.5) / 1000000.0, 9) AS y_r
FROM pts WHERE doc_id % 17 = 0
""")
def q_dgn_roundtrip(spark, sf_dir):
    """DGN v7 driver round-trip (ogr/ogrsf_frmts/dgn/dgnread.cpp +
    cpl_vax.cpp): every 17th page writes a TEXT element (word-swapped
    DGN_INT32 UORs at 1e-6 master-unit resolution, VAX D-float TCB
    origin) into a design file and reads back through the byte-range
    distributed element parser; the oracle recomputes the quantized
    coordinates, and the text payload carries the doc_id for the join."""
    import math

    from .sources.dgn import read_dgn, write_dgn

    rows = (datagen.points(spark, sf_dir).where(F.col("doc_id") % 17 == 0)
            .select("doc_id", "lon", "lat").orderBy("doc_id").collect())
    path = vsi.scratch(".dgn")
    q = 1000000.0

    def qz(v):
        return math.floor(v * q + 0.5) / q

    write_dgn(path, [("text", (qz(r.lon), qz(r.lat)), str(r.doc_id), 0.0)
                     for r in rows],
              uor_per_sub=1000, sub_per_master=1000)
    df = read_dgn(spark, path)
    px, py = _pxy_udfs()
    return df.select(F.col("text").cast("long").alias("doc_id"),
                     F.round(px("geom"), 9).alias("x_r"),
                     F.round(py("geom"), 9).alias("y_r"))


@_reg("ccnet_buckets", """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tok AS (SELECT doc_id, unnest(ws) AS a FROM d),
uni AS (SELECT a, CAST(count(*) AS DOUBLE) AS n_a FROM tok GROUP BY a),
v AS (SELECT CAST(count(*) AS DOUBLE) AS vocab FROM uni),
pr AS (SELECT doc_id, ws[i] AS a, ws[i + 1] AS b
       FROM d, unnest(generate_series(1, len(ws) - 1)) t(i)),
bi AS (SELECT a, b, CAST(count(*) AS DOUBLE) AS n_ab
       FROM pr GROUP BY a, b),
sc AS (SELECT doc_id, ln((n_ab + 0.5) / (n_a + 0.5 * vocab)) AS logp
       FROM pr JOIN bi USING (a, b) JOIN uni USING (a), v),
pp AS (SELECT doc_id, ROUND(exp(-avg(logp)), 4) AS ppl_r
       FROM sc GROUP BY doc_id),
dl AS (SELECT documents.doc_id, lang, ppl_r
       FROM documents JOIN pp ON documents.doc_id = pp.doc_id),
rk AS (SELECT doc_id, lang, ppl_r,
              row_number() OVER (PARTITION BY lang
                                 ORDER BY ppl_r, doc_id) AS rk,
              count(*) OVER (PARTITION BY lang) AS n
       FROM dl),
th AS (SELECT lang, min(ppl_r) AS t1, max(ppl_r) AS t2
       FROM rk
       WHERE rk = CAST(ceil(n / 3.0) AS BIGINT)
          OR rk = CAST(ceil(2 * n / 3.0) AS BIGINT)
       GROUP BY lang)
SELECT doc_id, dl.lang, ppl_r,
       CASE WHEN ppl_r <= t1 THEN 'head'
            WHEN ppl_r <= t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM dl JOIN th ON dl.lang = th.lang
""")
def q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity split (Wenzek et al. 2020
    §4.3): per-language tercile thresholds of the bigram-LM perplexity
    (rank-defined, tie-broken by doc_id — exactly reproducible), then a
    broadcast-threshold map-only bucket assignment. The threshold table
    is 3 rows per language; only it crosses the driver-side of the
    plan."""
    docs = _t(spark, sf_dir, "documents")
    return textops.ccnet_buckets(docs)


@_reg("mp4_video_meta", """
SELECT doc_id,
       ROUND((3 + doc_id % 4) / 10.0, 6) AS duration_s,
       1 AS n_tracks, 8 AS width, 8 AS height,
       CAST(3 + doc_id % 4 AS INT) AS n_frames
FROM documents
""")
def q_mp4_video_meta(spark, sf_dir):
    """ISO-BMFF video metadata pass (ISO/IEC 14496-12 box walk: mvhd
    movie timescale/duration, tkhd 16.16 dimensions, hdlr handler, stsz
    sample table): each doc carries a real MP4 of 3+doc_id%4 PNG frames;
    the parse is a map-only Arrow stage and the oracle recomputes the
    closed-form metadata."""
    from .operators import multimodal
    vids = datagen.doc_mp4s(spark, sf_dir)
    m = multimodal.mp4_metadata(vids, payload_col="payload",
                                key_col="doc_id")
    return m.select("doc_id", F.round("duration_s", 6).alias("duration_s"),
                    "n_tracks", "width", "height", "n_frames")


@_reg("mp4_frame_sample", """
WITH n AS (SELECT doc_id, 3 + doc_id % 4 AS nf FROM documents),
fr AS (SELECT doc_id, f
       FROM n, range(8) t(f) WHERE f < nf AND f % 2 = 0),
px AS (SELECT d.doc_id, fr.f,
              ((d.doc_id*7 + 11*fr.f + 13*x.x + 31*y.y) % 256) AS v
       FROM documents d JOIN fr ON d.doc_id = fr.doc_id,
            range(8) x(x), range(8) y(y))
SELECT doc_id, CAST(f AS INT) AS frame_idx, 8 AS width, 8 AS height,
       CAST(SUM(v) AS BIGINT) AS px_sum
FROM px GROUP BY doc_id, f
""")
def q_mp4_frame_sample(spark, sf_dir):
    """Every-2nd-frame sampling straight off the MP4 sample table:
    frames resolve to stsz/stco byte ranges (no transcode), the sampled
    payloads decode executor-side; oracle recomputes each sampled
    frame's pixel checksum."""
    from .operators import multimodal
    vids = datagen.doc_mp4s(spark, sf_dir)
    fr = multimodal.mp4_frame_sample(vids, payload_col="payload",
                                     key_col="doc_id", every=2,
                                     max_frames=8)
    return fr.select("doc_id", "frame_idx", "width", "height", "px_sum")


def _bpe_sql(n_merges: int) -> str:
    """N BPE training rounds replayed in SQL: per round a scalar
    best-pair subquery and the same gaps-and-islands window formulation
    of the greedy left-to-right merge the Spark side uses."""
    parts = ["""
WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
wc AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt
       FROM w0 WHERE len(w) > 0 GROUP BY w),
v0 AS (SELECT w, cnt,
              list_transform(generate_series(1, len(w)),
                             i -> substr(w, i, 1)) AS s
       FROM wc)"""]
    for k in range(n_merges):
        parts.append(f""",
p{k} AS (SELECT s[i] AS x, s[i+1] AS y, sum(cnt) AS n
         FROM v{k}, unnest(generate_series(1, len(s) - 1)) t(i)
         GROUP BY 1, 2),
b{k} AS (SELECT x, y FROM p{k} ORDER BY n DESC, x ASC, y ASC LIMIT 1),
e{k} AS (SELECT w, cnt, i, s[i] AS sym,
                CASE WHEN i < len(s) THEN s[i+1] END AS nxt
         FROM v{k}, unnest(generate_series(1, len(s))) t(i)),
m{k} AS (SELECT w, cnt, i, sym, nxt,
                (sym = (SELECT x FROM b{k})
                 AND nxt = (SELECT y FROM b{k})) AS m
         FROM e{k}),
g{k} AS (SELECT *, i - sum(CASE WHEN m THEN 1 ELSE 0 END)
                     OVER (PARTITION BY w ORDER BY i) AS isl
         FROM m{k}),
a{k} AS (SELECT *,
                (m AND (i - min(i) OVER (PARTITION BY w, isl, m)) % 2 = 0)
                  AS applied
         FROM g{k}),
c{k} AS (SELECT *, coalesce(lag(applied)
                            OVER (PARTITION BY w ORDER BY i), false)
                     AS consumed
         FROM a{k}),
v{k + 1} AS (SELECT w, cnt,
                    list(CASE WHEN applied THEN sym || nxt ELSE sym END
                         ORDER BY i) AS s
             FROM c{k} WHERE NOT consumed GROUP BY w, cnt)""")
    parts.append(f""",
sz AS (SELECT w, CAST(len(s) AS BIGINT) AS n_sym FROM v{n_merges}),
dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       FROM documents),
nb AS (SELECT doc_id, CAST(sum(n_sym) AS BIGINT) AS n_bpe
       FROM dw JOIN sz USING (w) WHERE len(w) > 0 GROUP BY doc_id),
nw AS (SELECT doc_id,
              CAST(len(list_filter(string_split(text, ' '),
                                   t -> len(t) > 0)) AS BIGINT) AS n_ws
       FROM documents)
SELECT nw.doc_id, n_ws, CAST(coalesce(n_bpe, 0) AS BIGINT) AS n_bpe
FROM nw LEFT JOIN nb ON nw.doc_id = nb.doc_id""")
    return "".join(parts)


@_reg("bpe_tokenize", _bpe_sql(3))
def q_bpe_tokenize(spark, sf_dir):
    """FULL multi-round BPE training + corpus tokenization (Sennrich et
    al. 2016 with real multi-character merges, not just the round-1
    statistics): 3 greedy rounds trained on the corpus, then per-doc
    whitespace vs BPE token counts. The sequential left-to-right merge
    rule collapses to a gaps-and-islands window over each word's symbol
    positions (applied[i] = match[i] AND run-offset even), so every
    round is vocabulary-sized relational work — one scalar (the winning
    pair) crosses the driver per round, and the corpus scans once."""
    docs = _t(spark, sf_dir, "documents")
    return textops.bpe_token_counts(docs, n_merges=3)


@_reg("snapshot_merge_delete", """
WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
              FROM documents WHERE doc_id % 3 <> 0),
up AS (SELECT doc_id, CAST(-1 AS BIGINT) AS n_chars
       FROM documents WHERE doc_id % 5 = 0),
merged AS (
  SELECT COALESCE(up.doc_id, base.doc_id) AS doc_id,
         COALESCE(up.n_chars, base.n_chars) AS n_chars
  FROM base FULL OUTER JOIN up ON base.doc_id = up.doc_id)
SELECT doc_id, n_chars FROM merged WHERE doc_id % 7 <> 0
""")
def q_snapshot_merge_delete(spark, sf_dir):
    """MERGE INTO + DELETE WHERE on the snapshot table (file-granular
    copy-on-write, plans/snapshot.py): base = docs not divisible by 3,
    merge upserts every 5th doc with n_chars = -1 (updates the matched,
    inserts the rest), then DELETE WHERE removes every 7th doc. The
    oracle recomputes the surviving set relationally (FULL OUTER JOIN +
    filter); correctness covers update, insert, delete, and the carry of
    untouched files in one pass."""
    from .plans.snapshot import SnapshotTable

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"))
    path = vsi.scratch()
    t = SnapshotTable(spark, path)
    t.commit_append(d.where(F.col("doc_id") % 3 != 0).repartition(8))
    t.merge(d.where(F.col("doc_id") % 5 == 0)
            .select("doc_id", F.lit(-1).cast("long").alias("n_chars")),
            key="doc_id")
    t.delete_where("doc_id % 7 = 0")
    return t.read().select("doc_id", "n_chars")


@_reg("topojson_roundtrip", f"""
{_pts_cte()}
SELECT doc_id,
       ROUND(floor(lon * 10000000.0 + 0.5) / 10000000.0, 9) AS x_r,
       ROUND(floor(lat * 10000000.0 + 0.5) / 10000000.0, 9) AS y_r
FROM pts WHERE doc_id % 19 = 0
""")
def q_topojson_roundtrip(spark, sf_dir):
    """TopoJSON driver round-trip (ogrtopojsonreader.cpp: quantized
    positions decode as v*scale + translate; arcs delta-decode with a
    running sum): every 19th page writes as a quantized Point into a
    Topology and reads back through the broadcast-arc executor decode;
    the oracle recomputes the 1e-7 grid snap."""
    from .core import wkb as _wkb
    from .sources.topojson import read_topojson, write_topojson

    rows = (datagen.points(spark, sf_dir).where(F.col("doc_id") % 19 == 0)
            .select("doc_id", "lon", "lat").orderBy("doc_id").collect())
    path = vsi.scratch(".topojson")
    import numpy as np
    feats = [(int(r.doc_id), {},
              _wkb.Geom(_wkb.POINT, [np.array([[r.lon, r.lat]])]))
             for r in rows]
    write_topojson(path, {"pages": feats}, quantum=1e-7)
    df = read_topojson(spark, path)
    px, py = _pxy_udfs()
    return df.select(F.col("fid").alias("doc_id"),
                     F.round(px("geom"), 9).alias("x_r"),
                     F.round(py("geom"), 9).alias("y_r"))


@_reg("bm25_topk", """
WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
w2 AS (SELECT doc_id, term FROM w WHERE len(term) > 0),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
       FROM w2 GROUP BY doc_id),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
ad AS (SELECT CAST(SUM(dl) AS DOUBLE) / (SELECT n_docs FROM n) AS avgdl
       FROM dl),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM w2
       WHERE term IN ('spark', 'hash', 'merge') GROUP BY doc_id, term),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df_cnt
        FROM tf GROUP BY term),
s AS (SELECT tf.doc_id,
             ln(1.0 + (CAST((SELECT n_docs FROM n) AS DOUBLE)
                       - dft.df_cnt + 0.5) / (dft.df_cnt + 0.5))
             * (tf.tf * (1.2 + 1.0))
             / (tf.tf + 1.2 * (1.0 - 0.75
                + 0.75 * dl.dl / (SELECT avgdl FROM ad))) AS part
      FROM tf JOIN dft USING (term) JOIN dl USING (doc_id)),
sc AS (SELECT doc_id, SUM(part) AS score FROM s GROUP BY doc_id)
SELECT doc_id, rank, score_r FROM (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
           AS INTEGER) AS rank,
         ROUND(score, 6) AS score_r
  FROM sc) WHERE rank <= 20
""")
def q_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-20 for a fixed 3-term query (k1=1.2, b=0.75) —
    the ranking primitive of retrieval-based curation (e.g. selecting
    pages matching a seed query set)."""
    docs = _t(spark, sf_dir, "documents")
    return textops.bm25_topk(docs)


@_reg("dsir_weights", """
WITH w AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
           FROM documents),
tf AS (SELECT doc_id, lang, term, CAST(count(*) AS BIGINT) AS c
       FROM w WHERE len(term) > 0 GROUP BY doc_id, lang, term),
raw AS (SELECT term, SUM(c) AS cr FROM tf GROUP BY term),
tgt AS (SELECT term, SUM(c) AS ct FROM tf WHERE lang = 'de'
        GROUP BY term),
tot AS (SELECT (SELECT CAST(SUM(cr) AS DOUBLE) FROM raw) AS r_tot,
               (SELECT CAST(count(*) AS BIGINT) FROM raw) AS v_size,
               (SELECT CAST(COALESCE(SUM(ct), 0) AS DOUBLE) FROM tgt)
                 AS t_tot),
lr AS (SELECT raw.term,
              ln((COALESCE(tgt.ct, 0) + 0.5)
                 / (tot.t_tot + 0.5 * tot.v_size))
            - ln((raw.cr + 0.5) / (tot.r_tot + 0.5 * tot.v_size)) AS lr
       FROM raw LEFT JOIN tgt USING (term), tot)
SELECT tf.doc_id, ROUND(SUM(tf.c * lr.lr), 6) AS logw_r
FROM tf JOIN lr USING (term) GROUP BY tf.doc_id
""")
def q_dsir_weights(spark, sf_dir):
    """DSIR unigram importance log-weights against the 'de' slice as
    the target distribution (Xie et al. 2023): the data-selection
    reweighting step of a pretraining pipeline."""
    docs = _t(spark, sf_dir, "documents")
    return textops.dsir_weights(docs, target_lang="de")


_SEMDEDUP_COS = ("list_dot_product(x.v, y.v)"
                 " / (sqrt(list_dot_product(x.v, x.v))"
                 " * sqrt(list_dot_product(y.v, y.v)))")

@_reg("semdedup", f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (SELECT vec_id AS seed_id, v AS sv FROM e ORDER BY vec_id LIMIT 8),
si AS (SELECT CAST(row_number() OVER (ORDER BY seed_id) - 1 AS INTEGER)
         AS seed, sv FROM s),
cs AS (SELECT e.vec_id, si.seed,
              list_dot_product(e.v, si.sv)
               / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(si.sv, si.sv))) AS cos
       FROM e, si),
a AS (SELECT vec_id, seed AS cluster FROM (
        SELECT vec_id, seed,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, seed ASC) AS rk
        FROM cs) WHERE rk = 1),
av AS (SELECT a.vec_id, a.cluster, e.v FROM a JOIN e USING (vec_id)),
dups AS (SELECT DISTINCT y.vec_id
         FROM av x JOIN av y
           ON x.cluster = y.cluster AND x.vec_id < y.vec_id
         WHERE {_SEMDEDUP_COS} >= 0.35)
SELECT av.vec_id, av.cluster,
       CAST(CASE WHEN dups.vec_id IS NULL THEN 0 ELSE 1 END AS INTEGER)
         AS is_dup
FROM av LEFT JOIN dups USING (vec_id)
""")
def q_semdedup(spark, sf_dir):
    """SemDeDup over the embeddings table: deterministic-seed cluster
    assignment bounds the pairwise cosine search, keep-lowest-id rule
    flags duplicates."""
    return simsearch.semdedup(_t(spark, sf_dir, "embeddings"),
                              n_clusters=8, threshold=0.35)


@_reg("cog_overviews", _DENSITY_XY_SQL + """
SELECT CAST(x // 2 AS BIGINT) AS x, CAST(y // 2 AS BIGINT) AS y,
       SUM(v) / 4.0 AS val_r
FROM vals GROUP BY 1, 2
""")
def q_cog_overviews(spark, sf_dir):
    """Cloud Optimized GeoTIFF sink (frmts/gtiff/cogdriver.cpp): the
    64x64 density raster writes as a COG (IFD chain up front, overview
    pyramid built as bounded parent-tile groupBys, data
    smallest-overview-first), then the level-1 overview reads back
    through the next-IFD chain and every pixel must equal the
    SQL-recomputed 2x2 average of the full-res grid."""
    from .sources.geotiff import read_gtiff, write_cog

    t = _density_tiles_full(spark, sf_dir)
    path = vsi.scratch(".tif")
    write_cog(t, path, 64, 64, tile=8, dtype="float64",
              geotransform=(-180.0, 5.625, 0.0, 90.0, 0.0, -2.8125))
    return _px_rows(read_gtiff(spark, path, tile=8, ifd=1), tile=8)


@_reg("hashed_ngram_classifier", """
WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
           FROM documents),
u AS (SELECT doc_id, lang, unnest(ws) AS g FROM d),
b2 AS (SELECT doc_id, lang, ws[i] || ' ' || ws[i + 1] AS g
       FROM d, unnest(generate_series(1, len(ws) - 1)) t(i)),
f AS (SELECT doc_id, lang,
             ('0x' || substr(md5(g), 1, 8))::BIGINT % 65536 AS f
      FROM (SELECT * FROM u UNION ALL SELECT * FROM b2)),
cnt AS (SELECT doc_id, lang, f, CAST(count(*) AS BIGINT) AS c
        FROM f GROUP BY 1, 2, 3),
agg AS (SELECT f, SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS cp,
               SUM(CASE WHEN lang != 'en' THEN c ELSE 0 END) AS cn
        FROM cnt GROUP BY f),
tot AS (SELECT CAST(SUM(cp) AS DOUBLE) AS tp,
               CAST(SUM(cn) AS DOUBLE) AS tn FROM agg),
pri AS (SELECT ln((CAST((SELECT count(*) FROM documents
                         WHERE lang = 'en') AS DOUBLE) + 0.5)
                 / ((SELECT count(*) FROM documents
                     WHERE lang != 'en') + 0.5)) AS bias),
w AS (SELECT f, ln((cp + 0.5) / (tot.tp + 0.5 * 65536))
              - ln((cn + 0.5) / (tot.tn + 0.5 * 65536)) AS w
      FROM agg, tot)
SELECT cnt.doc_id, ROUND(pri.bias + SUM(cnt.c * w.w), 6) AS score_r,
       CAST((pri.bias + SUM(cnt.c * w.w)) > 0 AS INTEGER) AS pred
FROM cnt JOIN w USING (f), pri GROUP BY cnt.doc_id, pri.bias
""")
def q_hashed_ngram_classifier(spark, sf_dir):
    """fastText-style hashed unigram+bigram classifier with NB
    log-count-ratio weights: the fixed-2^16-bucket weight table is the
    point — it broadcasts at any corpus size."""
    docs = _t(spark, sf_dir, "documents")
    return textops.hashed_ngram_scores(docs, pos_lang="en", bits=16)


@_reg("warc_roundtrip", f"""
WITH pg AS ({datagen.PAGES_SQL})
SELECT url,
       strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id),
                '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
       md5(html) AS payload_md5
FROM pg
""")
def q_warc_roundtrip(spark, sf_dir):
    """WARC (ISO 28500) round trip — the Common Crawl container: pages
    write as WARC response records via the two-pass prefix-sum executor
    sink, the driver re-indexes headers only, and executors read the
    payload ranges back; url, date and payload bytes must survive."""
    from .sources.warc import read_warc, write_warc

    pg = datagen.pages(spark, sf_dir)
    path = vsi.scratch(".warc")
    write_warc(pg, path)
    w = read_warc(spark, path)
    return w.select("url", "warc_date",
                    F.md5("payload").alias("payload_md5"))


@_reg("substring_dedup", """
WITH d AS (SELECT doc_id, text, len(text) AS n FROM documents),
pos AS (SELECT doc_id, text, i
        FROM d, unnest(generate_series(1, n - 39)) t(i)),
grams AS (SELECT doc_id, i, substr(text, i, 40) AS g FROM pos),
dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
hits AS (SELECT doc_id, i FROM grams JOIN dup USING (g)),
m AS (SELECT doc_id, i,
             CASE WHEN i > COALESCE(max(i + 39) OVER (
                    PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -40) + 1 THEN 1 ELSE 0 END AS brk
      FROM hits),
isl AS (SELECT doc_id, i,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS island
        FROM m)
SELECT doc_id, CAST(min(i) AS BIGINT) AS span_lo,
       CAST(max(i) + 39 AS BIGINT) AS span_hi,
       CAST(max(i) + 39 - min(i) + 1 AS BIGINT) AS span_len
FROM isl GROUP BY doc_id, island
""")
def q_substring_dedup(spark, sf_dir):
    """Char-level exact duplicated-substring spans (k=40): the
    suffix-array dedup of Lee et al. 2021 in relational form —
    duplicated k-gram starts merge into maximal byte spans."""
    docs = _t(spark, sf_dir, "documents")
    return textops.substring_dedup(docs, k=40, min_count=2)


@_reg("warc_gz_roundtrip", f"""
WITH pg AS ({datagen.PAGES_SQL})
SELECT url,
       strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id),
                '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
       md5(html) AS payload_md5
FROM pg
""")
def q_warc_gz_roundtrip(spark, sf_dir):
    """Common Crawl's .warc.gz layout — one gzip member per record +
    columnar CDX index: pages compress-and-pwrite from executors (with
    the zlib-skew layout guard), then read back by byte range through
    the returned index DataFrame; url/date/payload must survive."""
    from .sources.warc import read_warc_gz, write_warc_gz

    pg = datagen.pages(spark, sf_dir)
    path = vsi.scratch(".warc.gz")
    idx = write_warc_gz(pg, path)
    w = read_warc_gz(spark, path, idx)
    return w.select("url", "warc_date",
                    F.md5("payload").alias("payload_md5"))


@_reg("training_shuffle", """
WITH d AS (SELECT doc_id,
             ('0x' || substr(md5('s0:' || CAST(doc_id AS VARCHAR)),
                             1, 12))::BIGINT AS h
           FROM documents),
s AS (SELECT doc_id, h, CAST(h % 4 AS INTEGER) AS shard FROM d)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
         AS BIGINT) AS pos
FROM s
""")
def q_training_shuffle(spark, sf_dir):
    """Deterministic global training-order shuffle: md5-derived
    (shard, pos) placement, reproducible at any cluster size — per-
    shard rank windows, never a global sort."""
    docs = _t(spark, sf_dir, "documents")
    return textops.training_shuffle(docs, n_shards=4, seed="s0")


@_reg("temperature_sample", """
WITH n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
sh AS (SELECT source, count(*) / (SELECT n FROM n) AS s
       FROM documents GROUP BY source),
z AS (SELECT SUM(s ^ (1.0 / 2.0)) AS z FROM sh),
rt AS (SELECT source,
              LEAST(1.0, 0.5 * ((s ^ (1.0 / 2.0)) / (SELECT z FROM z))
                         / s) AS rate
       FROM sh)
SELECT d.doc_id, d.source
FROM documents d JOIN rt USING (source)
WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
       % 1000000) / 1000000.0 < rt.rate
""")
def q_temperature_sample(spark, sf_dir):
    """mT5/XLM-R temperature rebalancing over sources (tau=2): rates
    from the tiny share table, deterministic md5-threshold keep."""
    docs = _t(spark, sf_dir, "documents")
    return textops.temperature_sample(docs, tau=2.0, base_rate=0.5)


_ROBOTS_BODY_SQL = """CASE CAST(doc_id % 3 AS INTEGER)
 WHEN 0 THEN 'User-agent: *' || chr(10) || 'Disallow: /a'
             || chr(10) || 'Disallow:'
 WHEN 1 THEN 'User-agent: bot' || chr(10) || 'User-agent: *'
             || chr(10) || 'Disallow: /b' || chr(10) || chr(10)
             || 'User-agent: x' || chr(10) || 'Disallow: /c'
 ELSE 'User-agent: x' || chr(10) || 'Disallow: /d' END"""


@_reg("robots_parse", f"""
WITH b AS (SELECT 'h' || CAST(doc_id AS VARCHAR) AS host,
                  string_split({_ROBOTS_BODY_SQL}, chr(10)) AS parts
           FROM documents),
l AS (SELECT host, i AS pos,
             trim(regexp_replace(parts[i], '#.*$', '')) AS ln
      FROM b, unnest(generate_series(1, len(parts))) t(i)),
t AS (SELECT host, pos,
             CASE WHEN lower(ln) LIKE 'user-agent:%'
                  THEN trim(substr(ln, 12)) END AS ua,
             CASE WHEN lower(ln) LIKE 'disallow:%'
                  THEN trim(substr(ln, 10)) END AS dis
      FROM l),
p AS (SELECT *, COALESCE(lag(ua IS NOT NULL) OVER (
          PARTITION BY host ORDER BY pos), FALSE) AS prev_ua
      FROM t),
g AS (SELECT *, SUM(CASE WHEN ua IS NOT NULL AND NOT prev_ua
                         THEN 1 ELSE 0 END) OVER (
          PARTITION BY host ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      FROM p),
s AS (SELECT host, grp, max(CASE WHEN ua = '*' THEN 1 ELSE 0 END)
        AS has_star
      FROM g WHERE ua IS NOT NULL GROUP BY host, grp)
SELECT DISTINCT g.host, g.dis AS prefix
FROM g JOIN s ON g.host = s.host AND g.grp = s.grp
WHERE g.dis IS NOT NULL AND g.dis != '' AND s.has_star = 1
""")
def q_robots_parse(spark, sf_dir):
    """robots.txt parsing (RFC 9309 group semantics for the `*` agent)
    as pure relational windows: synthesized per-host bodies with
    multi-UA groups, empty Disallows and star-less groups; the rule
    table must match the SQL replay exactly."""
    docs = _t(spark, sf_dir, "documents")
    body = (F.when(F.col("doc_id") % 3 == 0,
                   F.lit("User-agent: *\nDisallow: /a\nDisallow:"))
            .when(F.col("doc_id") % 3 == 1,
                  F.lit("User-agent: bot\nUser-agent: *\nDisallow: /b"
                        "\n\nUser-agent: x\nDisallow: /c"))
            .otherwise(F.lit("User-agent: x\nDisallow: /d")))
    b = docs.select(
        F.concat(F.lit("h"), F.col("doc_id").cast("string"))
        .alias("host"), body.alias("body"))
    from .operators import urlops
    return urlops.parse_robots(b)


@_reg("geohash_cells", f"""
{_pts_cte()},
{tilemath.geohash_sql_ctes("SELECT doc_id, lon, lat FROM pts", 9)}
SELECT substr(gh, 1, 4) AS gh4,
       COUNT(*) AS n_pages,
       MIN(gh) AS min_gh,
       MIN(doc_id) AS min_doc
FROM gh GROUP BY 1
""")
def q_geohash_cells(spark, sf_dir):
    """Geohash cell assignment (Niemeyer base-32; the third cell scheme
    next to XYZ quadkeys and Morton ids) — pure JVM bit math via the same
    magic-number Morton spread as cell_id_col, rolled up by 4-char prefix.
    min(gh) pins the full 9-char hash per group against the CTE-chain SQL
    twin; agreement validates the whole interleave + base-32 path."""
    p = datagen.points(spark, sf_dir)
    g = p.select(
        tilemath.geohash_col(F.col("lon"), F.col("lat"), 9).alias("gh"),
        "doc_id")
    return g.groupBy(F.substring("gh", 1, 4).alias("gh4")).agg(
        F.count("*").alias("n_pages"),
        F.min("gh").alias("min_gh"),
        F.min("doc_id").alias("min_doc"))


_SURT_URL_SQL = """(CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
 || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
 || 'h' || CAST(doc_id % 7 AS VARCHAR) || '.site'
 || CAST(doc_id % 97 AS VARCHAR) || '.org'
 || '/P' || CAST(doc_id % 11 AS VARCHAR)
 || (CASE WHEN doc_id % 5 = 0 THEN '?b=2&a=1' ELSE '' END)"""


@_reg("surt_rollup", f"""
WITH u AS (SELECT doc_id, {_SURT_URL_SQL} AS url FROM documents),
h AS (SELECT url,
  regexp_replace(lower(regexp_extract(url,
     '^[a-zA-Z][a-zA-Z0-9+.\\-]*://([^/?#]+)', 1)), ':[0-9]+$', '') AS host,
  lower(regexp_extract(url,
     '^[a-zA-Z][a-zA-Z0-9+.\\-]*://[^/?#]+([^#]*)', 1)) AS rest
  FROM u),
s AS (SELECT host,
  array_to_string(list_reverse(string_split(
      regexp_replace(host, '^www[0-9]*\\.', ''), '.')), ',')
    || ')' || rest AS surt
  FROM h)
SELECT array_to_string(list_slice(list_reverse(string_split(host, '.')),
                                  1, 2), ',') AS domain,
       COUNT(*) AS n_pages,
       COUNT(DISTINCT host) AS n_hosts,
       MIN(surt) AS min_surt
FROM s GROUP BY 1
""")
def q_surt_rollup(spark, sf_dir):
    """SURT canonical keys (the CDX sort order Common Crawl indexes by)
    + per-registered-domain rollup: reversed-label host keys, www strip,
    lowercasing — all JVM regexp/array math; the oracle rebuilds the
    same keys from scratch in DuckDB string functions."""
    from .operators import urlops
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https://"))
        .otherwise(F.lit("http://")),
        F.when(F.col("doc_id") % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("h"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".site"), (F.col("doc_id") % 97).cast("string"),
        F.lit(".org"), F.lit("/P"), (F.col("doc_id") % 11).cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("?b=2&a=1"))
        .otherwise(F.lit("")))
    return urlops.surt_host_rollup(d.select(url.alias("url")))


_SITEMAP_BODY_SQL = """CASE CAST(doc_id % 4 AS INTEGER)
 WHEN 0 THEN '<urlset><url><loc>https://s' || CAST(doc_id AS VARCHAR)
   || '/a</loc><lastmod>2024-01-0' || CAST(doc_id % 9 + 1 AS VARCHAR)
   || '</lastmod><priority>0.' || CAST(doc_id % 10 AS VARCHAR)
   || '</priority></url><url><loc>https://s' || CAST(doc_id AS VARCHAR)
   || '/b</loc></url></urlset>'
 WHEN 1 THEN '<urlset><url><loc>https://s' || CAST(doc_id AS VARCHAR)
   || '/c</loc></url></urlset>'
 WHEN 2 THEN '<sitemapindex><sitemap><loc>https://s' || CAST(doc_id AS VARCHAR)
   || '/m1.xml</loc><lastmod>2024-02-0' || CAST(doc_id % 9 + 1 AS VARCHAR)
   || '</lastmod></sitemap><sitemap><loc>https://s' || CAST(doc_id AS VARCHAR)
   || '/m2.xml</loc></sitemap></sitemapindex>'
 ELSE '<urlset></urlset>' END"""


@_reg("sitemap_parse", f"""
WITH b AS (SELECT 'h' || CAST(doc_id AS VARCHAR) AS host,
                  {_SITEMAP_BODY_SQL} AS body FROM documents),
eu AS (SELECT host, 'url' AS kind,
              unnest(regexp_extract_all(body, '(?s)<url>(.*?)</url>', 1)) AS blk
       FROM b),
es AS (SELECT host, 'sitemap' AS kind,
              unnest(regexp_extract_all(body, '(?s)<sitemap>(.*?)</sitemap>', 1)) AS blk
       FROM b),
e AS (SELECT * FROM eu UNION ALL SELECT * FROM es)
SELECT host, kind,
       nullif(regexp_extract(blk, '<loc>([^<]*)</loc>', 1), '') AS loc,
       nullif(regexp_extract(blk, '<lastmod>([^<]*)</lastmod>', 1), '')
         AS lastmod,
       CAST(nullif(regexp_extract(blk, '<priority>([^<]*)</priority>', 1),
                   '') AS DOUBLE) AS priority
FROM e
""")
def q_sitemap_parse(spark, sf_dir):
    """sitemaps.org urlset + sitemapindex parsing (the crawl-frontier
    feed): per-host XML bodies with optional lastmod/priority fields and
    empty sets; block explode + in-block field extraction, all JVM
    regexp. The oracle parses the same XML independently in DuckDB."""
    from .operators import urlops
    d = _t(spark, sf_dir, "documents")
    n = lambda m: (F.col("doc_id") % m).cast("string")  # noqa: E731
    sid = F.col("doc_id").cast("string")
    day1 = (F.col("doc_id") % 9 + 1).cast("string")
    body = (F.when(F.col("doc_id") % 4 == 0, F.concat(
                F.lit("<urlset><url><loc>https://s"), sid, F.lit("/a</loc>"),
                F.lit("<lastmod>2024-01-0"), day1, F.lit("</lastmod>"),
                F.lit("<priority>0."), n(10), F.lit("</priority></url>"),
                F.lit("<url><loc>https://s"), sid,
                F.lit("/b</loc></url></urlset>")))
            .when(F.col("doc_id") % 4 == 1, F.concat(
                F.lit("<urlset><url><loc>https://s"), sid,
                F.lit("/c</loc></url></urlset>")))
            .when(F.col("doc_id") % 4 == 2, F.concat(
                F.lit("<sitemapindex><sitemap><loc>https://s"), sid,
                F.lit("/m1.xml</loc><lastmod>2024-02-0"), day1,
                F.lit("</lastmod></sitemap><sitemap><loc>https://s"), sid,
                F.lit("/m2.xml</loc></sitemap></sitemapindex>")))
            .otherwise(F.lit("<urlset></urlset>")))
    bodies = d.select(
        F.concat(F.lit("h"), sid).alias("host"), body.alias("body"))
    return urlops.parse_sitemaps(bodies)


_ANCHOR_WORDS = ("alpha", "beta", "gamma", "delta", "epsilon")
_ANCHOR_HTML_SQL = (
    "'<a href=\"d' || CAST((doc_id * 31 + 97) % 1000 AS VARCHAR) || '\" x>' ||"
    " (['alpha','beta','gamma','delta','epsilon'])"
    "[CAST((doc_id + 1) % 5 AS INTEGER) + 1] || '</a> <a href=\"d' ||"
    " CAST((doc_id * 31 + 194) % 1000 AS VARCHAR) || '\" x>' ||"
    " (['alpha','beta','gamma','delta','epsilon'])"
    "[CAST((doc_id + 2) % 5 AS INTEGER) + 1] || '</a> <a href=\"d' ||"
    " CAST((doc_id * 31 + 291) % 1000 AS VARCHAR) || '\" x>' ||"
    " (['alpha','beta','gamma','delta','epsilon'])"
    "[CAST((doc_id + 3) % 5 AS INTEGER) + 1] || '</a>'")


@_reg("anchor_texts", f"""
WITH p AS (SELECT 'u' || CAST(doc_id AS VARCHAR) AS src,
                  {_ANCHOR_HTML_SQL} AS h FROM documents),
z AS (SELECT src, unnest(list_zip(
        regexp_extract_all(h, '<a href="([^"]*)"[^>]*>([^<]*)</a>', 1),
        regexp_extract_all(h, '<a href="([^"]*)"[^>]*>([^<]*)</a>', 2)))
        AS zz FROM p),
l AS (SELECT src, zz[1] AS target, trim(lower(zz[2])) AS anchor FROM z),
pa AS (SELECT target, anchor, COUNT(*) AS n FROM l GROUP BY 1, 2),
top AS (SELECT target, anchor AS top_anchor FROM (
          SELECT target, anchor,
                 row_number() OVER (PARTITION BY target
                                    ORDER BY n DESC, anchor ASC) AS rk
          FROM pa) WHERE rk = 1),
tot AS (SELECT target, COUNT(*) AS n_links,
               COUNT(DISTINCT src) AS n_sources FROM l GROUP BY 1)
SELECT tot.target, n_links, n_sources, top_anchor
FROM tot JOIN top ON tot.target = top.target
""")
def q_anchor_texts(spark, sf_dir):
    """Incoming anchor-text aggregation per link target (Brin & Page
    1998 §2.2: anchor text describes the TARGET page) — aligned regexp
    group extraction, positional explode, two map-side-combined groupBys
    and one bounded per-target window for the argmax anchor."""
    from .operators import urlops
    d = _t(spark, sf_dir, "documents")
    word = F.array(*[F.lit(w) for w in _ANCHOR_WORDS])
    parts = []
    for j in (1, 2, 3):
        parts += [
            F.lit('<a href="d'),
            ((F.col("doc_id") * 31 + 97 * j) % 1000).cast("string"),
            F.lit('" x>'),
            F.element_at(word, ((F.col("doc_id") + j) % 5).cast("int") + 1),
            F.lit("</a>")]
        if j < 3:
            parts.append(F.lit(" "))
    pages = d.select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
        F.concat(*parts).alias("html_txt"))
    return urlops.anchor_text_rollup(pages)


@_reg("spreadsheet_roundtrip", """
SELECT doc_id, lang, n_chars, lang AS lang_ods, n_chars AS n_chars_ods
FROM documents WHERE doc_id % 37 = 0
""")
def q_spreadsheet_roundtrip(spark, sf_dir):
    """XLSX + ODS spreadsheet layers (ogr/ogrsf_frmts/xlsx
    ogrxlsxdatasource.cpp, ogr/ogrsf_frmts/ods): every 37th document's
    attributes write through both zip sinks (sharedStrings/inline typed
    cells; content.xml value-types) and read back through both
    binaryFile-distributed parsers; values from BOTH formats must match
    the parquet-derived oracle — typed cells survive the trip exactly."""
    from .sources.xlsx import read_ods, read_xlsx, write_ods, write_xlsx

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 37 == 0) \
        .select("doc_id", "lang", "n_chars").orderBy("doc_id")
    rows = [{"doc_id": int(r.doc_id), "lang": r.lang,
             "n_chars": int(r.n_chars)} for r in d.collect()]
    xp = vsi.scratch(".xlsx")
    op = vsi.scratch(".ods")
    write_xlsx(rows, xp)
    write_ods(rows, op)
    gx = read_xlsx(spark, xp).select(
        F.get_json_object("props", "$.doc_id").cast("long").alias("doc_id"),
        F.get_json_object("props", "$.lang").alias("lang"),
        F.get_json_object("props", "$.n_chars").cast("long")
        .alias("n_chars"))
    go = read_ods(spark, op).select(
        F.get_json_object("props", "$.doc_id").cast("long").alias("doc_id"),
        F.get_json_object("props", "$.lang").alias("lang_ods"),
        F.get_json_object("props", "$.n_chars").cast("long")
        .alias("n_chars_ods"))
    return gx.join(go, "doc_id")


@_reg("gif_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(least(v, 255) AS DOUBLE) AS v
FROM vals
""")
def q_gif_roundtrip(spark, sf_dir):
    """GIF driver round trip (frmts/gif, GIF89a): the density raster
    writes to ONE .gif through the distributed strip-LZW writer (CLEAR
    codes pad each strip to a byte boundary so independently-encoded
    strips concatenate bit-exactly; sub-block framing at closed-form
    offsets) and re-reads through the giflib-semantics variable-width
    decoder (pinned to the reference autotest checksums 57921/4672 in
    tests); the oracle recomputes every cell with the Byte clamp."""
    from .sources.gif import read_gif, write_gif

    t = _density_tiles_full(spark, sf_dir)
    path = vsi.scratch(".gif")
    write_gif(t, path, width=64, height=64, tile=8)
    back, _ = read_gif(spark, path, tile=8)
    return _xyv(back)


@_reg("tileservice_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(least(v, 255) AS DOUBLE) AS v_tms,
       CAST(least(v, 255) AS DOUBLE) AS v_wmts
FROM vals
""")
def q_tileservice_roundtrip(spark, sf_dir):
    """Web-map tile services (frmts/wms minidriver_tms.cpp + the WMTS
    capabilities driver, frmts/wmts/wmtsdataset.cpp): the density
    raster publishes as a z/x/y.png pyramid through the distributed
    per-task writer, then reads back through BOTH client paths — a
    <GDAL_WMS> TMS service description and a WMTS GetCapabilities
    document whose ResourceURL template points at the same pyramid.
    Tile URLs are pure JVM column expressions over a range scan (no
    driver enumeration); fetch+decode fan out through the core.vsi
    seam.  Both reads must agree with the clamped oracle cell-for-cell
    (PNG is lossless; the Byte clamp matches the GIF sink's)."""
    from .sources.tileservice import read_tileservice, read_wmts

    t = _density_tiles_full(spark, sf_dir)
    d = vsi.scratch()
    from .sources.tileservice import write_xyz_pyramid
    write_xyz_pyramid(t, d, tile=8)
    tms_xml = f"""<GDAL_WMS>
  <Service name="TMS">
    <ServerUrl>file://{d}/${{z}}/${{x}}/${{y}}.png</ServerUrl>
  </Service>
  <DataWindow>
    <UpperLeftX>0</UpperLeftX><UpperLeftY>64</UpperLeftY>
    <LowerRightX>64</LowerRightX><LowerRightY>0</LowerRightY>
    <TileLevel>0</TileLevel>
    <TileCountX>8</TileCountX><TileCountY>8</TileCountY>
    <YOrigin>top</YOrigin>
  </DataWindow>
  <BlockSizeX>8</BlockSizeX><BlockSizeY>8</BlockSizeY>
  <BandsCount>1</BandsCount>
</GDAL_WMS>"""
    sd = 1.0 / 0.28e-3                    # 1 unit/px resolution
    caps_xml = f"""<Capabilities xmlns="http://www.opengis.net/wmts/1.0"
      xmlns:ows="http://www.opengis.net/ows/1.1">
  <Contents>
    <Layer>
      <ows:Identifier>density</ows:Identifier>
      <Style><ows:Identifier>default</ows:Identifier></Style>
      <Format>image/png</Format>
      <TileMatrixSetLink><TileMatrixSet>grid</TileMatrixSet>
      </TileMatrixSetLink>
      <ResourceURL resourceType="tile" format="image/png"
        template="file://{d}/{{TileMatrix}}/{{TileCol}}/{{TileRow}}.png"/>
    </Layer>
    <TileMatrixSet>
      <ows:Identifier>grid</ows:Identifier>
      <TileMatrix>
        <ows:Identifier>0</ows:Identifier>
        <ScaleDenominator>{sd}</ScaleDenominator>
        <TopLeftCorner>0 64</TopLeftCorner>
        <TileWidth>8</TileWidth><TileHeight>8</TileHeight>
        <MatrixWidth>8</MatrixWidth><MatrixHeight>8</MatrixHeight>
      </TileMatrix>
    </TileMatrixSet>
  </Contents>
</Capabilities>"""
    tms_df, _ = read_tileservice(spark, tms_xml, level=0)
    wmts_df, _ = read_wmts(spark, caps_xml, bands=1)
    return _xyv(tms_df, "v_tms").join(_xyv(wmts_df, "v_wmts"), ["x", "y"])


@_reg("pgdump_sink", f"""
{_pts_cte()}
SELECT doc_id, round(lon, 9) AS lon_r, round(lat, 9) AS lat_r,
       lang FROM pts JOIN documents USING (doc_id)
WHERE doc_id % 41 = 0
""")
def q_pgdump_sink(spark, sf_dir):
    """PGDump SQL sink (ogr/ogrsf_frmts/pgdump ogrpgdumplayer.cpp):
    every 41st page writes through the two-phase distributed COPY
    renderer (hex EWKB geometry like OGRGeometryToHexEWKB, COPY-escaped
    attrs) into ONE replayable .sql file; the verification re-reads the
    file as text, strips the SRID flag/bytes back off the EWKB in pure
    column ops, and decodes coordinates through the vectorized WKB lane
    — values must match the parquet-derived oracle."""
    import numpy as np
    from .core import wkb as _wkb
    from .sources.pgdump import write_pgdump

    p = datagen.points(spark, sf_dir).where(F.col("doc_id") % 41 == 0)
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    lay = p.join(d, "doc_id")

    @F.pandas_udf("binary")
    def enc(lon, lat):
        import pandas as pd
        pts = np.stack([lon.to_numpy(), lat.to_numpy()], axis=1)
        return pd.Series(_wkb.encode_points_batch(pts))

    path = vsi.scratch(".sql")
    write_pgdump(
        lay.select(enc("lon", "lat").alias("geom"), "doc_id", "lang"),
        path, table="pages", srid=4326, geom_type="POINT")

    txt = spark.read.text(path)
    rows = txt.where(F.col("value").contains("\t")) \
        .select(F.split("value", "\t").alias("c"))
    # EWKB hex -> plain WKB: zero the 0x20 flag byte (LE type, chars
    # 9-10) and drop the 4 SRID bytes (chars 11-18)
    plain = F.unhex(F.concat(F.substring(F.col("c")[0], 1, 8),
                             F.lit("00"),
                             F.expr("substring(c[0], 19)")))
    gx, gy = _pxy_udfs()
    return rows.select(
        F.col("c")[1].cast("long").alias("doc_id"),
        F.round(gx(plain), 9).alias("lon_r"),
        F.round(gy(plain), 9).alias("lat_r"),
        F.col("c")[2].alias("lang"))


def _labelprop_sql(rounds: int = 4) -> str:
    """DuckDB replay of graphops.label_propagation: same edge derivation,
    symmetrized + distinct, one votes/argmax CTE pair per round."""
    head = """
WITH nn AS (SELECT count(*) AS nb FROM documents),
e0 AS (SELECT doc_id AS src,
              (doc_id * 31 + j * 97) % (SELECT nb FROM nn) AS dst
       FROM documents, unnest([1, 2, 3]) t(j)
       WHERE doc_id % 17 <> 0),
e1 AS (SELECT src, dst FROM e0 WHERE dst <> src),
e2 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM e1
        UNION ALL SELECT dst AS src, src AS dst FROM e1)),
l0 AS (SELECT doc_id, doc_id AS label FROM documents)"""
    parts = [head]
    for i in range(rounds):
        parts.append(f"""
v{i} AS (SELECT e2.dst AS doc_id, l{i}.label, count(*) AS votes
         FROM e2 JOIN l{i} ON l{i}.doc_id = e2.src
         GROUP BY e2.dst, l{i}.label),
a{i} AS (SELECT doc_id, label FROM (
           SELECT doc_id, label,
                  row_number() OVER (PARTITION BY doc_id
                      ORDER BY votes DESC, label ASC) AS rk
           FROM v{i}) WHERE rk = 1),
l{i + 1} AS MATERIALIZED (SELECT d.doc_id,
           coalesce(a{i}.label, d.doc_id) AS label
         FROM documents d LEFT JOIN a{i} USING (doc_id))""")
    parts.append(f"""
SELECT doc_id, label FROM l{rounds}""")
    return ",".join(parts[:1] + [p for p in parts[1:-1]]) + parts[-1]


@_reg("label_propagation", _labelprop_sql())
def q_label_propagation(spark, sf_dir):
    """Deterministic synchronous label propagation (Raghavan et al.
    2007, smallest-label tie-break) over the symmetrized link graph —
    4 supersteps, per-node labels pinned against the unrolled SQL."""
    d = _t(spark, sf_dir, "documents")
    return graphops.label_propagation(d, rounds=4)


def _doremi_sql(eta: float = 0.5, rounds: int = 3) -> str:
    parts = ["""
WITH d0 AS (SELECT source,
              ROUND(ln(1.0 + CAST(n_chars AS DOUBLE)
                       / len(string_split(text, ' '))), 9) AS l
            FROM documents),
dm AS (SELECT source,
              CAST(SUM(CAST(l AS DECIMAL(28,9))) AS DOUBLE) / count(*)
                AS loss
       FROM d0 GROUP BY source),
w0 AS (SELECT source, loss,
              ROUND(1.0 / (SELECT count(*) FROM dm), 12) AS weight
       FROM dm)"""]
    for i in range(rounds):
        parts.append(f"""
m{i} AS (SELECT CAST(SUM(CAST(ROUND(weight * loss, 12)
                   AS DECIMAL(28,12))) AS DOUBLE) AS ml FROM w{i}),
u{i} AS (SELECT source, loss,
                ROUND(weight * exp({eta!r} * (loss - (SELECT ml FROM m{i}))),
                      12) AS u
         FROM w{i}),
s{i} AS (SELECT CAST(SUM(CAST(u AS DECIMAL(28,12))) AS DOUBLE) AS s
         FROM u{i}),
w{i + 1} AS (SELECT source, loss,
                ROUND(u / (SELECT s FROM s{i}), 12) AS weight
             FROM u{i})""")
    parts.append(f"""
SELECT source, ROUND(loss, 9) AS loss, weight FROM w{rounds}""")
    return ",".join(parts[:-1]) + parts[-1]


@_reg("doremi_weights", _doremi_sql())
def q_doremi_weights(spark, sf_dir):
    """DoReMi-style domain mixture reweighting (Xie et al. 2023):
    multiplicative-weights update on per-domain excess loss, 3 rounds,
    decimal-exact intermediate sums so the unrolled SQL replays
    bit-for-bit."""
    return textops.doremi_weights(_t(spark, sf_dir, "documents"))


@_reg("ogrvrt_view", f"""
{_pts_cte()}
SELECT doc_id AS fid, round(lon, 9) AS px, round(lat, 9) AS py
FROM pts WHERE doc_id % 29 = 0
""")
def q_ogrvrt_view(spark, sf_dir):
    """OGR VRT virtual layer (ogr/ogrsf_frmts/vrt ogrvrtlayer.cpp):
    an XML view over documents.parquet — SrcSQL filter, PointFromColumns
    geometry built from attribute columns in the vectorized batch lane,
    Field rename+retype — stays one lazy Catalyst plan (no
    materialization; pruning reaches the parquet scan). Coordinates
    decode back through the WKB lane against the analytic oracle."""
    from .sources.ogrvrt import read_ogrvrt

    xml = f"""<OGRVRTDataSource>
  <OGRVRTLayer name="pages">
    <SrcDataSource>{sf_dir}/documents.parquet</SrcDataSource>
    <SrcSQL>SELECT doc_id, (doc_id * {datagen.LON_MULT}) % {datagen.LON_MOD} AS mx, (doc_id * {datagen.LAT_MULT}) % {datagen.LAT_MOD} AS my FROM pages WHERE doc_id % 29 = 0</SrcSQL>
    <GeometryField encoding="PointFromColumns" x="mx" y="my"/>
    <Field name="fid" src="doc_id" type="Integer64"/>
  </OGRVRTLayer>
</OGRVRTDataSource>"""
    df = read_ogrvrt(spark, xml)
    gx, gy = _pxy_udfs()
    return df.select(
        "fid",
        F.round(gx("geom") / 100.0 - 180.0 + 0.005, 9).alias("px"),
        F.round(gy("geom") / 100.0 - 85.0 + 0.005, 9).alias("py"))


@_reg("weighted_sample", """
WITH s AS (SELECT lang AS grp, doc_id,
    pow(((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)
          + 1.0) / 4294967297.0,
        1.0 / CAST(n_chars AS DOUBLE)) AS key
  FROM documents),
r AS (SELECT grp, doc_id, key,
             row_number() OVER (PARTITION BY grp
                 ORDER BY key DESC, doc_id ASC) AS rk
      FROM s)
SELECT grp, doc_id, ROUND(key, 12) AS key_r, rk FROM r WHERE rk <= 5
""")
def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted reservoir sampling without replacement
    (Efraimidis & Spirakis 2006 A-Res, md5-derived uniforms): top-5
    per language by key u^(1/n_chars) — one bounded window, engine-
    replayable bit-for-bit."""
    return textops.weighted_sample_topk(_t(spark, sf_dir, "documents"))


@_reg("pmi_pairs", """
WITH t AS (SELECT doc_id, i, ws[i] AS w
           FROM (SELECT doc_id, string_split(text, ' ') AS ws
                 FROM documents),
                unnest(generate_series(1, len(ws))) g(i)),
n AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM t),
uni AS (SELECT w, count(*) AS nw FROM t GROUP BY w),
p AS (SELECT a.w AS w1, b.w AS w2, count(*) AS n_pair
      FROM t a JOIN t b ON a.doc_id = b.doc_id
      WHERE b.i - a.i >= 1 AND b.i - a.i <= 2
      GROUP BY a.w, b.w HAVING count(*) >= 5),
s AS (SELECT w1, w2, n_pair,
             ROUND(ln(CAST(n_pair AS DOUBLE) * (SELECT total FROM n)
                      / (CAST(u1.nw AS DOUBLE) * u2.nw)), 9) AS pmi_r
      FROM p JOIN uni u1 ON u1.w = p.w1 JOIN uni u2 ON u2.w = p.w2),
r AS (SELECT *, row_number() OVER (ORDER BY n_pair DESC, w1 ASC, w2 ASC)
        AS rnk FROM s)
SELECT w1, w2, n_pair, pmi_r FROM r WHERE rnk <= 200
""")
def q_pmi_pairs(spark, sf_dir):
    """PMI co-occurrence collocations (Church & Hanks 1990) within a
    2-token window: bounded self-join fan-out, map-side-combined
    counts, vocab-sized association join; top-200 by support."""
    return textops.pmi_cooccurrence(_t(spark, sf_dir, "documents"))


@_reg("pds_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(v AS DOUBLE) AS v
FROM vals
""")
def q_pds_roundtrip(spark, sf_dir):
    """PDS3 planetary label round trip (frmts/pds pdsdataset.cpp): the
    density raster writes as a detached .LBL + raw LSB_INTEGER .IMG
    (parallel strip sink) and re-reads through the ODL-label reader
    (pointer resolution + SAMPLE_TYPE dtype mapping, reader pinned to
    the reference autotest LDEM_4 checksum in tests); the oracle
    recomputes every cell."""
    from .sources.pds import read_pds, write_pds

    t = _density_tiles_full(spark, sf_dir)
    stem = vsi.scratch()
    write_pds(t, stem + ".LBL", samples=64, lines=64, dtype="i2", tile=8)
    back, meta = read_pds(spark, stem + ".LBL", tile=8)
    return _xyv(back)


@_reg("vicar_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(v AS DOUBLE) AS v
FROM vals
""")
def q_vicar_roundtrip(spark, sf_dir):
    """VICAR round trip (frmts/vicar vicardataset.cpp): the density
    raster writes as a HALF BSQ .vic (label padded to the RECSIZE
    multiple invariant, parallel strip payload) and re-reads through the
    label-driven reader (pinned to the full reference autotest checksum
    table incl. VAX floats + BIP sample-records in tests); oracle
    recomputes every cell."""
    from .sources.vicar import read_vicar, write_vicar

    t = _density_tiles_full(spark, sf_dir)
    path = vsi.scratch(".vic")
    write_vicar(t, path, samples=64, lines=64, dtype="i2", tile=8)
    back, _ = read_vicar(spark, path, tile=8)
    return _xyv(back)


@_reg("isis3_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(v AS DOUBLE) AS v
FROM vals
""")
def q_isis3_roundtrip(spark, sf_dir):
    """ISIS3 cube round trip (frmts/pds isis3dataset.cpp): the density
    raster writes as a Format=Tile .cub — the engine tile table IS the
    ISIS3 tile layout, so each task pwrites its tile verbatim at a
    closed-form offset (zero re-striping) — and re-reads through the
    PVL reader (pinned to autotest checksums 42403/9978 in tests);
    oracle recomputes every cell."""
    from .sources.isis3 import read_isis3, write_isis3

    t = _density_tiles_full(spark, sf_dir)
    path = vsi.scratch(".cub")
    write_isis3(t, path, samples=64, lines=64, dtype="i2", tile=8)
    back, _ = read_isis3(spark, path)
    return _xyv(back)


@_reg("nitf_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(least(v, 255) AS DOUBLE) AS v
FROM vals
""")
def q_nitf_roundtrip(spark, sf_dir):
    """NITF 2.1 round trip (frmts/nitf, MIL-STD-2500C): the density
    raster writes as an IC=NC IMODE=B blocked .ntf (per-block parallel
    pwrite at closed-form offsets, exact FL/HL/LISH lengths) and
    re-reads through the fixed-width header walk (reader pinned to the
    autotest rgb.ntf checksum 21349 in tests); Byte clamp like
    GDALCopyWords; oracle recomputes every cell."""
    import numpy as np
    from .sources.nitf import read_nitf, write_nitf

    # clamp f8 -> u1 before the sink (GDALCopyWords semantics)
    t = _map_px(_density_tiles_full(spark, sf_dir),
                lambda a: np.clip(a, 0, 255).astype("u1"))
    path = vsi.scratch(".ntf")
    write_nitf(t, path, width=64, height=64, tile=8, dtype="u1")
    back, _ = read_nitf(spark, path)
    return _xyv(back)


@_reg("corpus_report", """
WITH d AS (SELECT source, lang, n_chars,
                  len(string_split(text, ' ')) AS n_tokens,
                  md5(text) AS fp
           FROM documents)
SELECT source,
       COUNT(*) AS n_docs,
       SUM(CAST(n_tokens AS BIGINT)) AS n_tokens,
       SUM(CAST(n_chars AS BIGINT)) AS n_chars,
       COUNT(DISTINCT lang) AS n_langs,
       ROUND(1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 9)
         AS dup_rate,
       ROUND(CAST(SUM(CAST(n_chars AS BIGINT)) AS DOUBLE) / COUNT(*), 6)
         AS mean_chars
FROM d GROUP BY source
""")
def q_corpus_report(spark, sf_dir):
    """Dataset-card corpus report (the summary table every released
    training corpus ships — per-source doc/token/char counts, language
    spread, exact-dup rate, mean length): ONE map-side-combined
    groupBy over a single corpus scan; every statistic is
    integer-exact or explicitly rounded so any engine replays it."""
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "source", "lang", "n_chars",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.md5("text").alias("fp"))
    return base.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_tokens").cast("long")).alias("n_tokens"),
        F.sum(F.col("n_chars").cast("long")).alias("n_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(1.0 - F.countDistinct("fp").cast("double")
                / F.count("*"), 9).alias("dup_rate"),
        F.round(F.sum(F.col("n_chars").cast("long")).cast("double")
                / F.count("*"), 6).alias("mean_chars"))


# =============================================================================
# Voronoi diagram (Delaunay dual) — nearest-site assignment oracle
# =============================================================================

@_reg("voronoi_assign", f"""
{_pts_cte()},
d AS (SELECT doc_id,
             CAST(c.region_id AS BIGINT) AS region_id,
             (lon - cx) * (lon - cx) + (lat - cy) * (lat - cy) AS d2
      FROM pts, {datagen.convex_centroids_values_sql()}),
r AS (SELECT doc_id, region_id,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY d2 ASC, region_id ASC) AS rk
      FROM d)
SELECT doc_id, region_id FROM r WHERE rk = 1
""")
def q_voronoi_assign(spark, sf_dir):
    """Voronoi partition of the convex-region centroids (Delaunay dual,
    core/delaunay.voronoi_cells — the reference exposes the same surface
    as Spatialite's ST_VoronojDiagram via ogrsqlitesqlfunctions.cpp),
    then assignment of every page to its containing cell through the
    ENGINE PIP path (cell-cover broadcast join + bitmask accept/reject +
    exact ray-cast). The oracle is the defining property of the diagram
    — nearest site by Euclidean distance — computed as a cross-join
    argmin, so agreement validates the geometric construction, the
    clipping, the cover and the join end-to-end. Scale shape: sites are
    a broadcast-sized dim (cells built once on the driver, like the
    gazetteer); pages stream map-only through the broadcast PIP join."""
    import pandas as pd
    from .core import wkb as _wkb
    from .core.delaunay import voronoi_cells

    cpdf = datagen.convex_centroids_pdf()
    sites = cpdf[["cx", "cy"]].to_numpy()
    rings = voronoi_cells(sites, (-180.0, -90.0, 180.0, 90.0))
    zoom = 4                     # coarse cover: cells are continent-sized
    rows = []
    for rid, ring in zip(cpdf["region_id"], rings):
        g = _wkb.encode(_wkb.Geom(_wkb.POLYGON, [ring]))
        cells, im, om = datagen._cover_with_masks(g, zoom)
        rows.append((int(rid), bytearray(g), cells, im, om))
    rdf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["region_id", "geom", "cells",
                                    "in_masks", "out_masks"]),
        "region_id long, geom binary, cells array<long>, "
        "in_masks array<long>, out_masks array<long>")
    p = datagen.points(spark, sf_dir)
    hits = spatial_join.pip_join(p, rdf, zoom=zoom)
    return hits.select("doc_id", "region_id")


# =============================================================================
# edge assembly: ST_Polygonize / OGRBuildPolygonFromEdges + ST_LineMerge
# =============================================================================

def _convex_vertices_values_sql():
    """DuckDB VALUES of (region_id, k, x, y) — the convex rings' vertices
    (closing vertex excluded), float64 repr round-trips exactly."""
    rows = []
    for rid, ring in datagen._convex_rings():
        for k, (x, y) in enumerate(ring[:-1]):
            rows.append(f"({rid}, {k}, {float(x)!r}, {float(y)!r})")
    return "(VALUES " + ", ".join(rows) + ") AS v(region_id, k, x, y)"


@_reg("polygonize_edges", f"""
WITH v2 AS (SELECT region_id, k, x, y,
                   count(*) OVER (PARTITION BY region_id) AS n
            FROM {_convex_vertices_values_sql()}),
e AS (SELECT a.region_id, a.x * b.y - b.x * a.y AS cr, a.n
      FROM v2 a JOIN v2 b
        ON a.region_id = b.region_id AND b.k = (a.k + 1) % a.n)
SELECT CAST(region_id AS BIGINT) AS region_id,
       CAST(ROUND(0.5 * abs(sum(cr)), 6) AS DOUBLE) AS area_r,
       CAST(max(n) + 1 AS INTEGER) AS npts
FROM e GROUP BY region_id
""")
def q_polygonize_edges(spark, sf_dir):
    """OGRBuildPolygonFromEdges (ogr/ogrgeometryfactory.cpp:446 — the
    S-57/AVC ring assembler, exposed here as ST_Polygonize): each convex
    region's boundary arrives as individual edges in scrambled order and
    alternating direction; the engine links them back into a closed ring
    per region and measures it. The oracle computes the same area by the
    shoelace formula straight off the vertex list — it never runs the
    assembly — so agreement pins ordering, autoreversal and closure."""
    import pandas as pd
    from .core import wkb as _wkb
    st.register_all(spark)

    rows = []
    for rid, ring in datagen._convex_rings():
        n = len(ring) - 1
        for k in range(n):
            a, b = ring[k], ring[k + 1]
            if (rid + k) % 3 == 1:          # scramble direction
                a, b = b, a
            rows.append((int(rid), int((k * 7919 + rid) % 104729),
                         float(a[0]), float(a[1]),
                         float(b[0]), float(b[1])))
    edges = spark.createDataFrame(
        pd.DataFrame(rows, columns=["region_id", "shuf",
                                    "x0", "y0", "x1", "y1"]),
        "region_id long, shuf long, x0 double, y0 double, "
        "x1 double, y1 double").orderBy("shuf")      # destroy edge order

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        parts = [_wkb.Geom(_wkb.LINESTRING,
                           [np.array([[r.x0, r.y0], [r.x1, r.y1]])])
                 for r in pdf.itertuples()]
        ml = _wkb.encode(_wkb.Geom(_wkb.MULTILINESTRING, parts=parts))
        return pd.DataFrame({"region_id": [pdf["region_id"].iloc[0]],
                             "geom": [ml]})

    import numpy as np
    ml = edges.groupBy("region_id").applyInPandas(
        pack, "region_id long, geom binary")
    ml.createOrReplaceTempView("t_polyz_edges")
    return spark.sql("""
        SELECT region_id,
               ROUND(ST_Area(ST_Polygonize(geom)), 6) AS area_r,
               ST_NPoints(ST_Polygonize(geom)) AS npts
        FROM t_polyz_edges""")


# =============================================================================
# HyperBall harmonic centrality (HLL registers, max-merge rounds)
# =============================================================================

def _hb_oracle_sql(rounds: int = 4) -> str:
    """DuckDB replay of HyperBall: register init (md5-prefix hash, exact
    bit_count rho), ``rounds`` unrolled max-merge CTEs over the link
    edges, the integer-exact register sum, and the same estimate +
    harmonic arithmetic (one shared double division per estimate)."""
    from .operators.graphops import _HB_ALPHA16, _HB_POW57
    knum = repr(_HB_ALPHA16 * 256.0 * _HB_POW57)
    parts = [f"""
h0 AS (SELECT doc_id AS v,
              ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                AS h
       FROM documents),
r0 AS (SELECT v, CAST(h & 15 AS INTEGER) AS j,
              CASE WHEN (h >> 4) = 0 THEN 57
                   ELSE CAST(bit_count(((h >> 4) & (-(h >> 4))) - 1)
                             AS INTEGER) + 1 END AS r
       FROM h0),
nn AS (SELECT count(*) AS n FROM documents),
e AS (SELECT src, (src * 31 + j * 97) % n AS dst
      FROM (SELECT doc_id AS src FROM documents WHERE doc_id % 17 <> 0),
           (VALUES (1), (2), (3)) AS jj(j), nn
      WHERE (src * 31 + j * 97) % n <> src)"""]
    for t in range(1, rounds + 1):
        parts.append(f"""
r{t} AS (SELECT v, j, MAX(r) AS r FROM (
          SELECT * FROM r{t - 1}
          UNION ALL
          SELECT e.src AS v, p.j, p.r FROM e JOIN r{t - 1} p ON e.dst = p.v)
        GROUP BY v, j)""")
    for t in range(rounds + 1):
        parts.append(f"""
est{t} AS (SELECT v, CASE WHEN zeros > 0 AND raw <= 40.0
                          THEN 16.0 * ln(16.0 / zeros)
                          ELSE raw END AS e{t}
           FROM (SELECT v, 16 - count(*) AS zeros,
                        {knum} / CAST(sum((1::BIGINT) << (57 - r))
                                      + (16 - count(*))
                                        * ((1::BIGINT) << 57) AS DOUBLE)
                          AS raw
                 FROM r{t} GROUP BY v))""")
    deltas = " + ".join(f"(e{t} - e{t - 1}) / {float(t)!r}"
                        for t in range(1, rounds + 1))
    joins = " ".join(f"JOIN est{t} USING (v)" for t in range(1, rounds + 1))
    sel = ", ".join(f"ROUND(e{t}, 6) AS b{t}_r" for t in range(1, rounds + 1))
    return ("WITH " + ",".join(parts)
            + f" SELECT v AS doc_id, {sel}, ROUND({deltas}, 6) AS harm_r "
            f"FROM est0 {joins}")


@_reg("hyperball_harmonic", _hb_oracle_sql(4))
def q_hyperball_harmonic(spark, sf_dir):
    """HyperBall (Boldi & Vigna 2013) harmonic centrality over the link
    graph: per-node 16-register HLL counters of the out-ball, grown by 4
    synchronous max-merge rounds (one shuffle join + groupBy(v, j) max
    per radius — the PageRank plan with a 16x key fan-out), harmonic
    centrality from the estimated ball growth. The oracle replays
    register init, every merge round and the integer-exact estimate
    arithmetic CTE-for-CTE. This is the centrality family the reference
    has no analog for — it's the standard way to rank 10^12-page crawl
    graphs where exact all-pairs BFS is impossible."""
    d = datagen.documents(spark, sf_dir)
    return graphops.hyperball_harmonic(d, rounds=4)


# =============================================================================
# ST_Transform — Equal Earth / Van der Grinten / Bonne / Goode homolosine
# =============================================================================

_VANDG_CRS = "+proj=vandg +lon_0=0 +datum=WGS84 +units=m +no_defs"
_BONNE_CRS = "+proj=bonne +lat_1=45 +lon_0=2 +datum=WGS84 +units=m +no_defs"
_IGH_CRS = "+proj=igh +lon_0=0 +datum=WGS84 +units=m +no_defs"


def _worldmap2_sql():
    """DuckDB replay of the round-4 world-map additions: Equal Earth via
    the authalic-latitude closed form (Savric et al. 2018 A1..A4
    polynomial), Van der Grinten's Snyder 29-6..29-17 general branch,
    ellipsoidal Bonne with the kernel's folded scalar constants, and
    Goode homolosine as the piecewise sinu/moll composite with the
    8-step unrolled Mollweide Newton and the published lobe layout."""
    import numpy as _np
    from .raster import transforms as _tr
    d2r = _CONIC_D2R
    pi = _crs_lit(_np.pi)
    a = 6378137.0
    e = _crs_lit(_tr._E)
    e2 = _crs_lit(_tr._E2)
    one_m_e2 = _crs_lit(1.0 - _tr._E2)
    two_e = _crs_lit(2.0 * _tr._E)
    qp = _crs_lit(_tr._QP)
    rq = _crs_lit(_tr._RQ)
    m_c = _crs_lit(_tr._EE_M)
    a1, a2, a3, a4 = (_crs_lit(v) for v in
                      (_tr._EE_A1, _tr._EE_A2, _tr._EE_A3, _tr._EE_A4))
    c3a2 = _crs_lit(3.0 * _tr._EE_A2)
    c7a3 = _crs_lit(7.0 * _tr._EE_A3)
    c9a4 = _crs_lit(9.0 * _tr._EE_A4)
    # bonne folded scalars (lat_1 = 45, lon_0 = 2)
    p1 = 45.0 * _np.pi / 180.0
    m1 = float(_np.cos(p1) / _np.sqrt(1 - _tr._E2 * _np.sin(p1) ** 2))
    am1 = float(a * m1 / _np.sin(p1))
    bigm1 = float(_tr.merid_arc(_np.float64(p1),
                            _tr.ELLIPSOIDS['WGS84']))
    am1_l = _crs_lit(am1)
    am1m1 = _crs_lit(am1 + bigm1)
    # igh constants
    phib = _crs_lit(_tr._IGH_PHI_B)
    dy0 = _crs_lit(_tr._IGH_DY0)
    moll_cx = _crs_lit(2.0 * _np.sqrt(2.0) / _np.pi)
    sq2 = _crs_lit(float(_np.sqrt(2.0)))
    cm_case = f"""CASE WHEN lat < 0.0 THEN
          (CASE WHEN lon <= -100.0 THEN -160.0 WHEN lon <= -20.0 THEN -60.0
                WHEN lon <= 80.0 THEN 20.0 ELSE 140.0 END)
        ELSE (CASE WHEN lon <= -40.0 THEN -100.0 ELSE 30.0 END)
        END * {d2r}"""
    moll_step = ("th - (2.0 * th + sin(2.0 * th) - ps)"
                 " / (2.0 + 2.0 * cos(2.0 * th))")
    newtons = "".join(
        f"g{i + 1} AS (SELECT doc_id, lamw, phi, sphi, lamz, ps,\n"
        f"       {moll_step} AS th FROM g{i}),\n"
        for i in range(8))
    return f"""
w0 AS (SELECT doc_id, lon, lat, lam, phi, sin(phi) AS sphi,
              lam - {_crs_lit(2 * _np.pi)}
                * floor((lam + {pi}) / {_crs_lit(2 * _np.pi)}) AS lamw
       FROM (SELECT doc_id, lon, lat, lon * {d2r} AS lam,
                    lat * {d2r} AS phi
             FROM pts WHERE doc_id % 5 = 2)),
-- Equal Earth: authalic beta -> theta -> polynomial
ee1 AS (SELECT doc_id, lamw,
               asin(greatest(least(
                 {one_m_e2} * (sphi / (1 - {e2} * sphi * sphi)
                   - ln((1 - {e} * sphi) / (1 + {e} * sphi)) / {two_e})
                 / {qp}, 1.0), -1.0)) AS beta
        FROM w0),
ee2 AS (SELECT doc_id, lamw,
               asin(greatest(least({m_c} * sin(beta), 1.0), -1.0)) AS th
        FROM ee1),
ee3 AS (SELECT doc_id,
               {rq} * lamw * cos(th)
                 / ({m_c} * ({a1} + {c3a2} * (th * th)
                    + (th * th) * (th * th) * (th * th)
                      * ({c7a3} + {c9a4} * (th * th)))) AS ee_x,
               {rq} * (th * ({a1} + {a2} * (th * th)
                    + (th * th) * (th * th) * (th * th)
                      * ({a3} + {a4} * (th * th)))) AS ee_y
        FROM ee2),
-- Van der Grinten: Snyder 29 general branch
v1 AS (SELECT doc_id, lamw, phi,
              asin(greatest(least(abs(2.0 * phi / {pi}), 1.0), 0.0)) AS th
       FROM w0),
v2 AS (SELECT doc_id, lamw, phi, th,
              0.5 * abs({pi} / lamw - lamw / {pi}) AS ba,
              cos(th) / (sin(th) + cos(th) - 1.0) AS g
       FROM v1),
v3 AS (SELECT doc_id, lamw, phi, ba, g,
              g * (2.0 / sin(th) - 1.0) AS p
       FROM v2),
v4 AS (SELECT doc_id, lamw, phi, ba, g, p,
              ba * ba + g AS q, p * p AS p2, ba * ba AS ba2,
              p * p + ba * ba AS den
       FROM v3),
v5 AS (SELECT doc_id,
              sign(lamw) * {_crs_lit(float(_np.pi) * a)}
                * (ba * (g - p2)
                   + sqrt(greatest(ba2 * (g - p2) * (g - p2)
                                   - den * (g * g - p2), 0.0))) / den
                AS vdg_x,
              sign(phi) * {_crs_lit(float(_np.pi) * a)}
                * (p * q - ba
                   * sqrt(greatest((ba2 + 1.0) * den - q * q, 0.0)))
                / den AS vdg_y
       FROM v4),
-- Bonne lat_1=45 lon_0=2 (lamw re-derived about lon_0)
b1 AS (SELECT doc_id, phi, sphi,
              (lon - 2.0) * {d2r} - {_crs_lit(2 * _np.pi)}
                * floor(((lon - 2.0) * {d2r} + {pi})
                        / {_crs_lit(2 * _np.pi)}) AS lamb
       FROM w0),
b2 AS (SELECT doc_id, lamb,
              cos(phi) / sqrt(1 - {e2} * sphi * sphi) AS m,
              {am1m1} - {_merid_sql()} AS rho
       FROM b1),
b3 AS (SELECT doc_id, rho,
              {_crs_lit(a)} * m * lamb / rho AS ea
       FROM b2),
bon AS (SELECT doc_id, rho * sin(ea) AS bon_x,
               {am1_l} - rho * cos(ea) AS bon_y
        FROM b3),
-- Goode homolosine: lobe cm, sinu band, 8-step moll Newton outside
g0 AS (SELECT doc_id, lamw, phi, sphi,
              lamw - {cm_case} AS lamz, {cm_case} AS cm,
              {pi} * sin(phi) AS ps, phi AS th
       FROM w0),
{newtons}gh AS (SELECT g8.doc_id,
              {_crs_lit(a)} * ((CASE WHEN abs(g8.phi) > {phib}
                 THEN {moll_cx} * g8.lamz * cos(g8.th)
                 ELSE g8.lamz * cos(g8.phi) END) + g0.cm) AS igh_x,
              {_crs_lit(a)} * (CASE WHEN abs(g8.phi) > {phib}
                 THEN {sq2} * sin(g8.th) - sign(g8.phi) * {dy0}
                 ELSE g8.phi END) AS igh_y
       FROM g8 JOIN g0 USING (doc_id))
SELECT doc_id,
       ROUND(ee_x, 4) AS ee_x, ROUND(ee_y, 4) AS ee_y,
       ROUND(vdg_x, 4) AS vdg_x, ROUND(vdg_y, 4) AS vdg_y,
       ROUND(bon_x, 4) AS bon_x, ROUND(bon_y, 4) AS bon_y,
       ROUND(igh_x, 4) AS igh_x, ROUND(igh_y, 4) AS igh_y
FROM ee3 JOIN v5 USING (doc_id) JOIN bon USING (doc_id)
         JOIN gh USING (doc_id)"""


@_reg("st_transform_worldmap2", f"""
{_pts_cte()},{_worldmap2_sql()}
""")
def q_st_transform_worldmap2(spark, sf_dir):
    """ST_Transform through the round-4 world-map additions: Equal Earth
    (EPSG:8857 — the modern equal-area web map default), Van der
    Grinten I (the classic NatGeo circular world map), ellipsoidal
    Bonne (EPSG 9827), and the interrupted Goode homolosine (the USGS /
    NASA land-cover projection). The reference resolves all four
    through the PROJ method table (ogr/ogrct.cpp:919-948); the oracle
    replays each kernel closed-form in SQL (authalic series, Snyder 29
    closed form, folded Bonne scalars, piecewise lobes + unrolled
    Mollweide Newton)."""
    st.register_all(spark)
    p = datagen.points(spark, sf_dir).where(F.col("doc_id") % 5 == 2)
    p.createOrReplaceTempView("t_wm2_pts")

    def cols(crs, px, py):
        return (f"ROUND(ST_X(ST_Transform(ST_MakePoint(lon, lat), "
                f"'EPSG:4326', '{crs}')), 4) AS {px}, "
                f"ROUND(ST_Y(ST_Transform(ST_MakePoint(lon, lat), "
                f"'EPSG:4326', '{crs}')), 4) AS {py}")
    return spark.sql(f"""
        SELECT doc_id,
          {cols('EPSG:8857', 'ee_x', 'ee_y')},
          {cols(_VANDG_CRS, 'vdg_x', 'vdg_y')},
          {cols(_BONNE_CRS, 'bon_x', 'bon_y')},
          {cols(_IGH_CRS, 'igh_x', 'igh_y')}
        FROM t_wm2_pts""")


@_reg("usgsdem_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(CAST(v AS BIGINT) - 8 AS DOUBLE) AS v
FROM vals
""")
def q_usgsdem_roundtrip(spark, sf_dir):
    """USGS ASCII DEM round trip (frmts/usgsdem/usgsdemdataset.cpp):
    the density raster, shifted by -8 to exercise negative I6
    elevations, writes as new-format 1024-byte-record profiles (one
    pwrite per tile column, 146/170 value packing) and reads back
    through per-profile byte-range tasks with the reference's token
    semantics; the oracle recomputes every cell. The same reader passes
    the reference autotest golden checksums (tests/test_usgsdem.py:
    1583 / 53864 / 61424)."""
    from .sources.usgsdem import read_usgsdem, write_usgsdem

    t8 = _map_px(_density_tiles_full(spark, sf_dir), lambda a: a - 8.0)
    path = vsi.scratch(".dem")
    write_usgsdem(t8, path, width_px=64, height_px=64, tile=8,
                  x0=-180.0, y_top=90.0, dx=5.625, dy=2.8125,
                  geographic=True)
    back = read_usgsdem(spark, path, tile=8)
    return _xyv(back)


@_reg("grib2_ingest", """
WITH m AS (SELECT * FROM (VALUES (1), (2), (3)) t(band)),
px AS (
  SELECT band, x.x, y.y,
         ((band * 17 + x.x * 3 + y.y * 7) % 400) + 20000 AS cs
  FROM m, range(41) x(x), range(37) y(y)
)
SELECT band, 41 AS ni, 37 AS nj,
       CAST(count(*) AS BIGINT) AS n_valid,
       CAST(SUM(cs) AS BIGINT) AS sum_cs
FROM px
WHERE band < 3 OR (x + y) % 5 <> 0
GROUP BY band
""")
def q_grib2_ingest(spark, sf_dir):
    """GRIB2 ingest (frmts/grib via degrib/g2clib): three edition-2
    simple-packing fields — the third under a section-6 bitmap — with
    centi-exact values so 12-bit packing round-trips bit-exactly;
    decoded executor-side (the same parser that matches all six
    reference autotest golden checksums incl. complex packing +
    spatial differencing, tests/test_grib2.py), masked cells read as
    the reference's 9999 nodata and are excluded from the aggregate.
    The oracle recomputes the masked integer sums closed-form."""
    import numpy as np

    from .raster.tiles import decode_px
    from .sources.grib2 import read_grib2, write_grib2

    path = vsi.scratch(".grb2")
    y, x = np.mgrid[0:37, 0:41]
    arrays = [(((b * 17 + x * 3 + y * 7) % 400) + 20000) / 100.0
              for b in (1, 2, 3)]
    bm = (x + y) % 5 != 0
    write_grib2(arrays, path, bitmaps=[None, None, bm])
    tiles, metas = read_grib2(spark, path, tile=64)

    import pandas as pd

    def agg(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = decode_px(r.px, r.dtype, 64)[:37, :41]
                valid = arr != 9999.0
                rows.append((int(r.band), int(valid.sum()),
                             int(np.rint(arr[valid] * 100.0).sum())))
            yield pd.DataFrame(rows, columns=["band", "n_valid",
                                              "sum_cs"])

    per_tile = tiles.mapInPandas(
        agg, "band int, n_valid long, sum_cs long")
    return (per_tile.groupBy("band")
            .agg(F.lit(41).alias("ni"), F.lit(37).alias("nj"),
                 F.sum("n_valid").alias("n_valid"),
                 F.sum("sum_cs").alias("sum_cs"))
            .select(F.col("band").cast("int").alias("band"),
                    "ni", "nj", "n_valid", "sum_cs"))


@_reg("hfa_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(CAST(v AS BIGINT) - 8 AS DOUBLE) AS v
FROM vals
""")
def q_hfa_roundtrip(spark, sf_dir):
    """Erdas Imagine HFA round trip (frmts/hfa/): the density raster
    (shifted -8 for negative s32 samples) writes as a single-layer
    uncompressed .img — node tree, embedded data dictionary,
    Edms_State virtual-block table, per-block parallel pwrite — and
    reads back through the dictionary-driven reader whose decode path
    (incl. ESRI GRID RLE and spill .ige files) matches the reference
    autotest golden checksums 6691 / 23529 / 1631
    (tests/test_hfa.py). The oracle recomputes every cell."""
    from .sources.hfa import read_hfa, write_hfa

    t8 = _map_px(_density_tiles_full(spark, sf_dir), lambda a: a - 8.0)
    path = vsi.scratch(".img")
    write_hfa(t8, path, width_px=64, height_px=64, tile=8,
              pixel_type=8,
              gt=(-180.0, 5.625, 0.0, 90.0, 0.0, -2.8125))
    back, _ = read_hfa(spark, path)
    return _xyv(back)


def _nzmg_sql():
    """DuckDB replay of the NZMG forward: the psi Horner chain and the
    complex-Horner B series as six real mult-add CTE steps (numpy's
    complex multiply formula term-for-term)."""
    from .raster import transforms as _tr
    d2r = _CONIC_D2R
    a_horner = "0.0"
    for k in range(9, -1, -1):
        a_horner = f"(({a_horner}) + {_crs_lit(_tr._NZMG_A[k])}) * dphi"
    steps = []
    cur_r, cur_i = "0.0", "0.0"
    for i, k in enumerate(range(5, -1, -1)):
        br = _crs_lit(float(_tr._NZMG_B[k].real))
        bi = _crs_lit(float(_tr._NZMG_B[k].imag))
        steps.append(
            f"h{i} AS (SELECT doc_id, zr, zi,\n"
            f"  (({cur_r}) + {br}) * zr - (({cur_i}) + {bi}) * zi AS wr,\n"
            f"  (({cur_r}) + {br}) * zi + (({cur_i}) + {bi}) * zr AS wi\n"
            f"  FROM {'h' + str(i - 1) if i else 'nz1'})")
        cur_r, cur_i = "wr", "wi"
    a0 = _crs_lit(_tr._NZMG_A0)
    return f"""
nz0 AS (SELECT doc_id,
               165.0 + ((doc_id * 7919) % 1500) / 100.0 AS lon,
               -47.9 + ((doc_id * 104729) % 1400) / 100.0 AS lat
        FROM documents WHERE doc_id % 3 = 1),
nz1 AS (SELECT doc_id, {a_horner.replace('dphi',
                         '((lat + 41.0) * 0.036)')} AS zr,
               (lon - 173.0) * {d2r} AS zi
        FROM nz0),
{','.join(steps)}
SELECT doc_id,
       ROUND(2510000.0 + {a0} * wi, 4) AS e_r,
       ROUND(6023150.0 + {a0} * wr, 4) AS n_r
FROM h5"""


@_reg("st_transform_nzmg", f"WITH {_nzmg_sql()}")
def q_st_transform_nzmg(spark, sf_dir):
    """ST_Transform through the New Zealand Map Grid (EPSG 9811 /
    +proj=nzmg) — the Reeves 1978 sixth-order complex-polynomial
    conformal projection, the one national grid no standard projection
    family expresses. Synthetic NZ-box points (derived from doc_id)
    project through the numpy complex-Horner kernel; the oracle replays
    the psi series and all six complex multiply-add steps in SQL.
    Constants pinned by the projection's defining property in
    tests/test_nzmg.py (land scale within 2.6e-4, exact conformality,
    known city coordinates)."""
    st.register_all(spark)
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 1)
    p = d.select(
        "doc_id",
        (165.0 + (F.col("doc_id") * 7919 % 1500) / 100.0).alias("lon"),
        (-47.9 + (F.col("doc_id") * 104729 % 1400) / 100.0).alias("lat"))
    p.createOrReplaceTempView("t_nzmg_pts")
    crs = "+proj=nzmg +x_0=2510000 +y_0=6023150 +units=m +no_defs"
    return spark.sql(f"""
        SELECT doc_id,
          ROUND(ST_X(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            '{crs}')), 4) AS e_r,
          ROUND(ST_Y(ST_Transform(ST_MakePoint(lon, lat), 'EPSG:4326',
            '{crs}')), 4) AS n_r
        FROM t_nzmg_pts""")


@_reg("unigram_viterbi", """
WITH wd AS (
  SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM (SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
        FROM documents)
  WHERE strlen(word) BETWEEN 1 AND 10
  GROUP BY word),
segs AS (
  WITH RECURSIVE s AS (
    SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS score,
           CAST('' AS VARCHAR) AS path
    FROM wd
    UNION ALL
    SELECT s.word, s.pos + k.kk,
           s.score + 10 * k.kk * k.kk
             + ('0x' || substr(md5(substr(s.word, s.pos + 1, k.kk)),
                               1, 2))::BIGINT % 7,
           CASE WHEN s.path = '' THEN substr(s.word, s.pos + 1, k.kk)
                ELSE s.path || '|' || substr(s.word, s.pos + 1, k.kk)
           END
    FROM s JOIN (VALUES (1), (2), (3), (4)) k(kk)
      ON s.pos + k.kk <= strlen(s.word))
  SELECT * FROM s),
best AS (
  SELECT word, score, path,
         row_number() OVER (PARTITION BY word
                            ORDER BY score DESC, path ASC) AS rn
  FROM segs WHERE pos = strlen(word))
SELECT b.word, wd.n_docs, b.score AS best_score, b.path AS pieces
FROM best b JOIN wd USING (word) WHERE b.rn = 1
""")
def q_unigram_viterbi(spark, sf_dir):
    """Unigram-LM subword segmentation (SentencePiece / Kudo 2018
    inference) of the distinct corpus vocabulary: Viterbi DP per word
    with closed-form piece scores and a prefix-monotone lexicographic
    tie-break. The oracle takes the OPPOSITE formulation — a recursive
    CTE enumerating every segmentation of every word (tetranacci-many
    paths) and argmaxing — so agreement proves the DP exactly."""
    d = _t(spark, sf_dir, "documents")
    return textops.unigram_viterbi(d, max_word_len=10, max_piece=4)


@_reg("cdc_dedup", """
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
chars AS (
  SELECT doc_id, i.range AS i,
         substr(text, CAST(i.range AS INTEGER) + 1, 1) AS ch
  FROM d, range(8192) i
  WHERE i.range < strlen(text)),
g AS (SELECT doc_id, i,
             ('0x' || substr(md5(ch), 1, 8))::BIGINT % 4294967296 AS g
      FROM chars),
pre AS (SELECT doc_id, i,
               CASE WHEN i % 32 = 0 THEN g ELSE
                 ((g >> CAST(i % 32 AS INTEGER))
                  | (g << (32 - CAST(i % 32 AS INTEGER)))) & 4294967295
               END AS pre
        FROM g),
xw AS (SELECT doc_id, i,
              bit_xor(pre) OVER (PARTITION BY doc_id ORDER BY i
                ROWS BETWEEN 31 PRECEDING AND CURRENT ROW) AS x
       FROM pre),
hb AS (SELECT doc_id, i,
              CASE WHEN i % 32 = 0 THEN x ELSE
                ((x << CAST(i % 32 AS INTEGER))
                 | (x >> (32 - CAST(i % 32 AS INTEGER)))) & 4294967295
              END AS h
       FROM xw),
fl AS (SELECT doc_id, i,
              CASE WHEN h % 64 = 0 THEN 1 ELSE 0 END AS b
       FROM hb),
cid AS (SELECT doc_id, i,
               COALESCE(sum(b) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cid
        FROM fl),
chunks AS (SELECT doc_id, cid, min(i) AS start,
                  max(i) - min(i) + 1 AS length
           FROM cid GROUP BY doc_id, cid),
hashes AS (SELECT c.doc_id, c.cid, c.length,
                  md5(substr(d.text, CAST(c.start AS INTEGER) + 1,
                             CAST(c.length AS INTEGER))) AS chunk_hash
           FROM chunks c JOIN d USING (doc_id))
SELECT chunk_hash, CAST(count(*) AS BIGINT) AS n_copies,
       CAST(max(length) AS BIGINT) AS length,
       CAST((count(*) - 1) * max(length) AS BIGINT) AS saved_bytes
FROM hashes GROUP BY chunk_hash HAVING count(*) > 1
""")
def q_cdc_dedup(spark, sf_dir):
    """Content-defined-chunking dedup (LBFS/FastCDC family, Muthitacharoen
    et al. 2001) over the crawl corpus: a 32-char cyclic-polynomial
    (buzhash) rolling hash picks boundaries wherever its low 6 bits
    vanish, chunks re-sync across insertions, and duplicated chunks
    aggregate corpus-wide. Every stage — char explode, per-row rotation,
    windowed bit_xor, running chunk id, substring hash, dedup groupBy —
    is JVM column math, and the oracle replays the identical pipeline in
    DuckDB window functions."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    return textops.cdc_dedup_stats(d, mask_bits=6)


@_reg("st_snap_closest", f"""
{_pts_cte()},
p AS (SELECT doc_id, lon, lat,
             floor((lon + 180.0) / 10.0) * 10.0 - 180.0 AS gx0,
             floor((lat + 90.0) / 5.0) * 5.0 - 90.0 AS gy0
      FROM pts WHERE doc_id % 4 = 1 AND lon < 150.0),
-- target rect: two grid cells east of the containing cell
t AS (SELECT doc_id, lon, lat, gx0, gy0,
             gx0 + 20.0 AS rx0, gy0 AS ry0,
             gx0 + 30.0 AS rx1, gy0 + 5.0 AS ry1
      FROM p),
cp AS (SELECT doc_id, lon, lat, gx0, gy0,
              greatest(rx0, least(lon, rx1)) AS cx,
              greatest(ry0, least(lat, ry1)) AS cy
       FROM t),
sn AS (SELECT doc_id, lon, lat, cx, cy,
              gx0 + CASE WHEN lon - gx0 < 5.0 THEN 0.0 ELSE 10.0 END AS nx,
              gy0 + CASE WHEN lat - gy0 < 2.5 THEN 0.0 ELSE 5.0 END AS ny
       FROM cp)
SELECT doc_id,
       ROUND(cx, 9) AS cp_x, ROUND(cy, 9) AS cp_y,
       ROUND(sqrt((lon - cx) * (lon - cx)
                  + (lat - cy) * (lat - cy)), 9) AS short_len,
       ROUND(CASE WHEN sqrt((lon - nx) * (lon - nx)
                            + (lat - ny) * (lat - ny)) <= 1.5
                  THEN nx ELSE lon END, 9) AS snap_x,
       ROUND(CASE WHEN sqrt((lon - nx) * (lon - nx)
                            + (lat - ny) * (lat - ny)) <= 1.5
                  THEN ny ELSE lat END, 9) AS snap_y
FROM sn
""")
def q_st_snap_closest(spark, sf_dir):
    """ST_ClosestPoint / ST_ShortestLine / ST_Snap (the GEOS nearest-
    point and GeometrySnapper surface the reference exposes through its
    SQLite dialect): each page point measures against the grid cell two
    tiles east (closest point = per-axis clamp, closed form in the
    oracle) and snaps to its own cell's corner lattice at tolerance
    1.5. The Spark side runs the real geometry kernels over WKB; the
    oracle is pure arithmetic."""
    st.register_all(spark)
    p = (datagen.points(spark, sf_dir)
         .where((F.col("doc_id") % 4 == 1) & (F.col("lon") < 150.0)))
    gx0 = F.floor((F.col("lon") + 180.0) / 10.0) * 10.0 - 180.0
    gy0 = F.floor((F.col("lat") + 90.0) / 5.0) * 5.0 - 90.0
    p = (p.withColumn("gx0", gx0).withColumn("gy0", gy0)
         .withColumn("rx0", F.col("gx0") + 20.0)
         .withColumn("ry0", F.col("gy0")))
    p.createOrReplaceTempView("t_snap_pts")
    rect = ("ST_GeomFromText(concat('POLYGON((', rx0, ' ', ry0, ',', "
            "rx0 + 10.0, ' ', ry0, ',', rx0 + 10.0, ' ', ry0 + 5.0, ',', "
            "rx0, ' ', ry0 + 5.0, ',', rx0, ' ', ry0, '))'))")
    own = ("ST_GeomFromText(concat('POLYGON((', gx0, ' ', gy0, ',', "
           "gx0 + 10.0, ' ', gy0, ',', gx0 + 10.0, ' ', gy0 + 5.0, ',', "
           "gx0, ' ', gy0 + 5.0, ',', gx0, ' ', gy0, '))'))")
    return spark.sql(f"""
        SELECT doc_id,
          ROUND(ST_X(ST_ClosestPoint({rect},
                ST_MakePoint(lon, lat))), 9) AS cp_x,
          ROUND(ST_Y(ST_ClosestPoint({rect},
                ST_MakePoint(lon, lat))), 9) AS cp_y,
          ROUND(ST_Length(ST_ShortestLine(ST_MakePoint(lon, lat),
                {rect})), 9) AS short_len,
          ROUND(ST_X(ST_Snap(ST_MakePoint(lon, lat), {own}, 1.5D)), 9)
            AS snap_x,
          ROUND(ST_Y(ST_Snap(ST_MakePoint(lon, lat), {own}, 1.5D)), 9)
            AS snap_y
        FROM t_snap_pts""")


@_reg("rrf_fusion", """
WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
w2 AS (SELECT doc_id, term FROM w WHERE len(term) > 0),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
       FROM w2 GROUP BY doc_id),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
ad AS (SELECT CAST(SUM(dl) AS DOUBLE) / (SELECT n_docs FROM n) AS avgdl
       FROM dl),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM w2
       WHERE term IN ('spark', 'hash', 'merge') GROUP BY doc_id, term),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df_cnt
        FROM tf GROUP BY term),
s AS (SELECT tf.doc_id,
             ln(1.0 + (CAST((SELECT n_docs FROM n) AS DOUBLE)
                       - dft.df_cnt + 0.5) / (dft.df_cnt + 0.5))
             * (tf.tf * (1.2 + 1.0))
             / (tf.tf + 1.2 * (1.0 - 0.75
                + 0.75 * dl.dl / (SELECT avgdl FROM ad))) AS part
      FROM tf JOIN dft USING (term) JOIN dl USING (doc_id)),
bm AS (SELECT doc_id,
              CAST(row_number() OVER (ORDER BY SUM(part) DESC,
                   doc_id ASC) AS INTEGER) AS rank
       FROM s GROUP BY doc_id
       ORDER BY 2 LIMIT 50),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
co AS (SELECT e.vec_id AS doc_id,
              CAST(row_number() OVER (ORDER BY
                   list_dot_product(q.v, e.v)
                   / (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(q.v, q.v))) DESC,
                   e.vec_id ASC) AS INTEGER) AS rank
      FROM e, (SELECT v FROM e WHERE vec_id = 0) q
      WHERE e.vec_id != 0
      ORDER BY 2 LIMIT 50),
u AS (SELECT doc_id, 1.0 / (60 + rank) AS c FROM bm
      UNION ALL SELECT doc_id, 1.0 / (60 + rank) AS c FROM co),
f AS (SELECT doc_id, SUM(c) AS s, CAST(count(*) AS INTEGER) AS n_lists
      FROM u GROUP BY doc_id)
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY s DESC, doc_id ASC)
         AS INTEGER) AS fused_rank,
       n_lists, ROUND(s, 9) AS rrf_r
FROM f ORDER BY fused_rank LIMIT 15
""")
def q_rrf_fusion(spark, sf_dir):
    """Reciprocal Rank Fusion (Cormack et al. 2009) of lexical and
    dense retrieval: Okapi BM25 top-50 for a fixed term query fuses
    with the exact-cosine top-50 against one query embedding via
    sum 1/(60 + rank) — the zero-tuning hybrid-retrieval combiner a
    curation pipeline uses to select pages for a topic. Both component
    rankings reuse already-oracled machinery; the oracle replays the
    whole fusion."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    bm = textops.bm25_topk(docs, k=50).select("doc_id", "rank")
    co = simsearch.cosine_rank_to_query(emb, q_id=0, topn=50)
    return simsearch.rrf_fusion([bm, co], k=60, topk=15)


@_reg("lan_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(CAST(v AS BIGINT) - 8 AS DOUBLE) AS v
FROM vals
""")
def q_lan_roundtrip(spark, sf_dir):
    """Erdas 7.x LAN round trip (frmts/raw/landataset.cpp): the density
    raster (shifted -8 for signed 16-bit samples) writes as HEAD74
    band-interleaved-by-line records (per tile-row parallel pwrite) and
    reads back through line-strip byte tasks; the same reader passes
    both reference autotest fixtures at their golden checksum
    (tests/test_lan.py). The oracle recomputes every cell."""
    from .sources.lan import read_lan, write_lan

    t8 = _map_px(_density_tiles_full(spark, sf_dir), lambda a: a - 8.0)
    path = vsi.scratch(".lan")
    write_lan(t8, path, width_px=64, height_px=64, tile=8, pix=2)
    back, _ = read_lan(spark, path, tile=8)
    return _xyv(back)


@_reg("pcraster_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, v
FROM vals
""")
def q_pcraster_roundtrip(spark, sf_dir):
    """PCRaster CSF 2.0 round trip (frmts/pcraster over libcsf): the
    density raster writes as a VS_SCALAR REAL4 .map (256-byte header
    from one distributed min/max pass, per-tile-row parallel pwrite at
    closed-form offsets) and reads back through strip pread tasks; the
    same reader passes the reference autotest ldd.map golden checksum
    4528 + geotransform + nodata pins (tests/test_pcraster.py). Counts
    are exact in REAL4, so the oracle recomputes every cell verbatim."""
    from .sources.pcraster import read_pcraster, write_pcraster

    t = _density_tiles_full(spark, sf_dir)
    path = vsi.scratch(".map")
    write_pcraster(t, path, width_px=64, height_px=64, tile=8,
                   cell_repr="f4")
    back, _ = read_pcraster(spark, path, tile=8)
    return _xyv(back)


def _zonal_oracle_sql():
    """Per-convex-region aggregation of the density raster's pixel
    centers via independent half-plane containment tests."""
    parts = []
    for rid, ring in datagen._convex_rings():
        conds = []
        for k in range(len(ring) - 1):
            x0, y0 = ring[k]
            x1, y1 = ring[k + 1]
            conds.append(
                f"(({x1!r} - {x0!r}) * (cy - {y0!r})"
                f" - ({y1!r} - {y0!r}) * (cx - {x0!r})) >= 0.0")
        parts.append(
            f"SELECT {rid} AS region_id,"
            " CAST(count(*) AS BIGINT) AS n_cells,"
            " CAST(ROUND(SUM(CAST(v AS DECIMAL(28,6))), 6) AS DOUBLE)"
            "   AS sum_v,"
            " ROUND(CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE)"
            "       / count(*), 9) AS mean_v,"
            " min(v) AS min_v, max(v) AS max_v"
            f" FROM centers WHERE {' AND '.join(conds)}")
    return " UNION ALL ".join(parts)


@_reg("zonal_stats", _DENSITY_XY_SQL + f""",
centers AS (SELECT v,
                   -180.0 + (x + 0.5) * 5.625 AS cx,
                   -90.0 + (y + 0.5) * 2.8125 AS cy
            FROM vals)
SELECT * FROM ({_zonal_oracle_sql()}) u WHERE n_cells > 0
""")
def q_zonal_stats(spark, sf_dir):
    """Zonal statistics of the page-density raster over the convex
    admin regions: pixel centers stream through the engine PIP join
    (cover + bitmask + exact ray-cast) and fold per-zone
    count/sum/mean/min/max. The oracle recomputes the density grid
    closed-form and tests containment with half-plane conjunctions —
    the raster, the join and the aggregation all cross-checked by
    independent formulations."""
    t = _density_tiles_full(spark, sf_dir)
    r = datagen.regions(spark).where(F.col("kind") == "convex") \
        .select("region_id", "geom", "cells", "in_masks", "out_masks")
    from .raster.stats import zonal_statistics
    return zonal_statistics(t, r, x0=-180.0, y0=-90.0,
                            dx=5.625, dy=2.8125, tile=8,
                            zoom=datagen.PIP_ZOOM)


@_reg("st_hausdorff", f"""
{_pts_cte()},
p AS (SELECT doc_id, lon, lat,
             floor((lon + 180.0) / 10.0) * 10.0 - 180.0 AS gx0,
             floor((lat + 90.0) / 5.0) * 5.0 - 90.0 AS gy0
      FROM pts WHERE doc_id % 6 = 2),
-- discrete Hausdorff point vs its grid-cell rect: max over the rect's
-- 4 corners of the distance to the point (the point side contributes
-- its distance to the rect boundary, always smaller for an interior
-- point; for exterior points the corner max still dominates)
d AS (SELECT doc_id,
             greatest(
               sqrt((lon - gx0) * (lon - gx0) + (lat - gy0) * (lat - gy0)),
               sqrt((lon - gx0 - 10.0) * (lon - gx0 - 10.0)
                    + (lat - gy0) * (lat - gy0)),
               sqrt((lon - gx0) * (lon - gx0)
                    + (lat - gy0 - 5.0) * (lat - gy0 - 5.0)),
               sqrt((lon - gx0 - 10.0) * (lon - gx0 - 10.0)
                    + (lat - gy0 - 5.0) * (lat - gy0 - 5.0))) AS hd
      FROM p)
SELECT doc_id, ROUND(hd, 9) AS hd_r FROM d
""")
def q_st_hausdorff(spark, sf_dir):
    """ST_HausdorffDistance (GEOS discrete Hausdorff, exposed by the
    reference's SQLite dialect) between each page point and its
    containing admin grid cell. For a point inside a rectangle the
    discrete Hausdorff is the farthest rect VERTEX — closed form in the
    oracle; the Spark side runs the real vertex-vs-linework kernel."""
    st.register_all(spark)
    p = datagen.points(spark, sf_dir).where(F.col("doc_id") % 6 == 2)
    gx0 = F.floor((F.col("lon") + 180.0) / 10.0) * 10.0 - 180.0
    gy0 = F.floor((F.col("lat") + 90.0) / 5.0) * 5.0 - 90.0
    p = p.withColumn("gx0", gx0).withColumn("gy0", gy0)
    p.createOrReplaceTempView("t_hd_pts")
    own = ("ST_GeomFromText(concat('POLYGON((', gx0, ' ', gy0, ',', "
           "gx0 + 10.0, ' ', gy0, ',', gx0 + 10.0, ' ', gy0 + 5.0, ',', "
           "gx0, ' ', gy0 + 5.0, ',', gx0, ' ', gy0, '))'))")
    return spark.sql(f"""
        SELECT doc_id,
          ROUND(ST_HausdorffDistance(ST_MakePoint(lon, lat), {own}), 9)
            AS hd_r
        FROM t_hd_pts""")


@_reg("bsb_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(CAST(v AS BIGINT) % 120 AS DOUBLE) AS v
FROM vals
""")
def q_bsb_roundtrip(spark, sf_dir):
    """BSB/KAP nautical chart round trip (frmts/bsb): the density
    raster (mod 120 to fit the 7-bit palette range) writes as RLE
    scanlines with a two-phase distributed encoder (sizes -> prefix-sum
    -> parallel pwrite + big-endian index table) and reads back through
    index-table byte-range tasks with the reference's decode quirks
    (1-based palette indices, row continuation records, one-short
    repair) — the same reader passes the autotest golden checksum
    30321 on all three rgbsmall variants (tests/test_bsb.py). The
    oracle recomputes every cell."""
    from .sources.bsb import read_bsb, write_bsb

    t8 = _map_px(_density_tiles_full(spark, sf_dir), lambda a: a % 120.0)
    path = vsi.scratch(".kap")
    write_bsb(t8, path, width_px=64, height_px=64, tile=8, depth=7)
    back, _ = read_bsb(spark, path, tile=8)
    return _xyv(back)


def _platt_oracle_sql(iters: int = 6) -> str:
    """DuckDB replay of platt_scaling: per-iteration exact DECIMAL(38,20)
    gradient/Hessian sums (order-independent fixed point, so both
    engines iterate on bit-identical scalars) chained through 1-row
    iterate CTEs and the closed-form 2x2 Newton solve."""
    parts = ["""
base AS (SELECT CAST(strlen(text) - strlen(replace(text, 'e', ''))
                     AS DOUBLE) / strlen(text) AS x,
                CASE WHEN text LIKE '%spark%' THEN 1.0 ELSE 0.0 END AS y
         FROM documents),
it0 AS (SELECT 0.0::DOUBLE AS a, 0.0::DOUBLE AS b)"""]
    for t in range(iters):
        parts.append(f"""
ag{t} AS (SELECT
    SUM(CAST((1.0 / (1.0 + exp(-(it{t}.a * x + it{t}.b))) - y) * x
             AS DECIMAL(38,20))) AS g1,
    SUM(CAST((1.0 / (1.0 + exp(-(it{t}.a * x + it{t}.b))) - y)
             AS DECIMAL(38,20))) AS g2,
    SUM(CAST((1.0 / (1.0 + exp(-(it{t}.a * x + it{t}.b))))
             * (1.0 - 1.0 / (1.0 + exp(-(it{t}.a * x + it{t}.b))))
             * x * x AS DECIMAL(38,20))) AS h11,
    SUM(CAST((1.0 / (1.0 + exp(-(it{t}.a * x + it{t}.b))))
             * (1.0 - 1.0 / (1.0 + exp(-(it{t}.a * x + it{t}.b))))
             * x AS DECIMAL(38,20))) AS h12,
    SUM(CAST((1.0 / (1.0 + exp(-(it{t}.a * x + it{t}.b))))
             * (1.0 - 1.0 / (1.0 + exp(-(it{t}.a * x + it{t}.b))))
             AS DECIMAL(38,20))) AS h22,
    SUM(CAST(-(y * ln(1.0 / (1.0 + exp(-(it{t}.a * x + it{t}.b))))
               + (1.0 - y)
                 * ln(1.0 - 1.0 / (1.0 + exp(-(it{t}.a * x
                                               + it{t}.b)))))
             AS DECIMAL(38,20))) AS ll
  FROM base, it{t}),
it{t + 1} AS (SELECT
    it{t}.a - (CAST(h22 AS DOUBLE) * CAST(g1 AS DOUBLE)
               - CAST(h12 AS DOUBLE) * CAST(g2 AS DOUBLE))
              / (CAST(h11 AS DOUBLE) * CAST(h22 AS DOUBLE)
                 - CAST(h12 AS DOUBLE) * CAST(h12 AS DOUBLE)) AS a,
    it{t}.b - (CAST(h11 AS DOUBLE) * CAST(g2 AS DOUBLE)
               - CAST(h12 AS DOUBLE) * CAST(g1 AS DOUBLE))
              / (CAST(h11 AS DOUBLE) * CAST(h22 AS DOUBLE)
                 - CAST(h12 AS DOUBLE) * CAST(h12 AS DOUBLE)) AS b,
    CAST(ag{t}.ll AS DOUBLE) AS ll
  FROM ag{t}, it{t})""")
    last = iters
    return ("WITH " + ",".join(parts) + f"""
SELECT ROUND(a, 9) AS a_r, ROUND(b, 9) AS b_r,
       ROUND(ll / (SELECT count(*) FROM documents), 9) AS loss_r,
       (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n
FROM it{last}""")


@_reg("platt_calibration", _platt_oracle_sql(6))
def q_platt_calibration(spark, sf_dir):
    """Platt scaling (Platt 1999): Newton/IRLS fit of a two-parameter
    sigmoid calibrator over the corpus — the post-hoc calibration step
    of a quality classifier. Each iteration moves six exact-decimal
    sums through one map-side-combined aggregate; the oracle replays
    all six iterations CTE-for-CTE on bit-identical fixed-point
    iterates."""
    d = _t(spark, sf_dir, "documents")
    return textops.platt_scaling(d, iters=6)


@_reg("length_percentiles", """
WITH ln AS (SELECT len(string_split(text, ' ')) AS l FROM documents),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ln)
SELECT CAST(quantile_disc(l, 0.5) AS INTEGER) AS p50,
       CAST(quantile_disc(l, 0.9) AS INTEGER) AS p90,
       CAST(quantile_disc(l, 0.99) AS INTEGER) AS p99,
       (SELECT n FROM n) AS n
FROM ln
""")
def q_length_percentiles(spark, sf_dir):
    """Exact nearest-rank token-length percentiles (the dataset-card
    length profile) — computed WITHOUT sorting the corpus: one
    histogram groupBy(length) + a cumulative window over the tiny
    distinct-length table. The oracle uses DuckDB's quantile_disc,
    an entirely different formulation of the same definition."""
    d = _t(spark, sf_dir, "documents")
    return textops.length_percentiles(d)


@_reg("readability", """
WITH t AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\\s+')) AS w,
         greatest(len(string_split_regex(text, '[.!?]+')) - 1, 1) AS s,
         greatest(
             strlen(regexp_replace(regexp_replace(lower(text),
                    '[^a-z]+', ' ', 'g'), '[aeiouy]+', '1', 'g'))
             - strlen(replace(regexp_replace(regexp_replace(lower(text),
                    '[^a-z]+', ' ', 'g'), '[aeiouy]+', '1', 'g'),
                    '1', '')), 1) AS y
  FROM documents)
SELECT doc_id, CAST(w AS BIGINT) AS n_words, CAST(s AS BIGINT) AS n_sents,
       CAST(y AS BIGINT) AS n_syll,
       ROUND(0.39 * w / s + 11.8 * y / w - 15.59, 6) AS fk_grade_r,
       ROUND(206.835 - 1.015 * w / s - 84.6 * y / w, 6) AS fre_r
FROM t
""")
def q_readability(spark, sf_dir):
    """Flesch-Kincaid grade + Flesch reading ease per page (Kincaid et
    al. 1975) — the classic readability gate in web-corpus quality
    filters; vowel-group syllable heuristic, terminal-punctuation
    sentence counting, all JVM column math replayed in SQL."""
    d = _t(spark, sf_dir, "documents")
    return textops.readability(d)


@_reg("hdf5_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(CAST(v AS BIGINT) - 8 AS DOUBLE) AS v
FROM vals
""")
def q_hdf5_roundtrip(spark, sf_dir):
    """HDF5 round trip (frmts/hdf5, classic file format): the density
    raster (shifted -8 for signed samples) writes as a single
    contiguous dataset — superblock v0, symbol-table root group, v1
    object headers, per-strip parallel pwrite — and reads back through
    the from-scratch HDF5 reader whose decode path (group B-trees,
    chunk B-trees, deflate/shuffle/fletcher32 filters, big-endian and
    compound/complex datatypes, netCDF-4 containers) matches five
    reference autotest golden checksums (tests/test_hdf5.py: 135, 18,
    231, 523, 511 — and byte.tif's 4672 through a flipped netCDF-4
    Band1). The oracle recomputes every cell."""
    from .raster.tiles import decode_px
    from .sources.hdf5 import read_hdf5, write_hdf5
    import pandas as pd

    t8 = _map_px(_density_tiles_full(spark, sf_dir), lambda a: a - 8.0)
    path = vsi.scratch(".h5")
    write_hdf5(t8, path, width_px=64, height_px=64, tile=8)
    back, _ = read_hdf5(spark, path, "/Band1", tile=256)

    def retile(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = decode_px(r.px, r.dtype, 256)[:64, :64]
                for ty in range(8):
                    for tx in range(8):
                        blk = arr[ty * 8:(ty + 1) * 8,
                                  tx * 8:(tx + 1) * 8]
                        out.append((1, 0, tx, ty, "f8", None,
                                    blk.astype("f8").tobytes()))
            yield pd.DataFrame(out, columns=list(pdf.columns))

    small = back.mapInPandas(retile, back.schema)
    return _xyv(small)


@_reg("sdts_roundtrip", _DENSITY_XY_SQL + """
SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(CAST(v AS BIGINT) - 8 AS DOUBLE) AS v
FROM vals
""")
def q_sdts_roundtrip(spark, sf_dir):
    """SDTS DEM round trip (frmts/sdts over ISO 8211): the density
    raster (shifted -8 for signed B(16) samples) writes as a
    five-module transfer — CATD catalog, IDEN/IREF/LDEF/RSDF metadata,
    fixed-size CEL0 row records pwritten in parallel — and reads back
    through the generic DDF engine (core/iso8211: DDR format controls,
    reused-'R' leaders) whose decode matches the reference autotest
    golden checksum 61672 + exact geotransform + TITLE on the
    truncated ALANSON quad (tests/test_sdts.py). The oracle recomputes
    every cell."""
    from .sources.sdts import read_sdts, write_sdts

    t8 = _map_px(_density_tiles_full(spark, sf_dir), lambda a: a - 8.0)
    d = vsi.scratch()
    catd = write_sdts(t8, d, width_px=64, height_px=64, tile=8)
    back, _ = read_sdts(spark, catd, tile=8)
    return _xyv(back)


def _ari_sql():
    planes = simsearch.hyperplanes()
    terms = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(repr(float(x)) for x in p) + "]"
        terms.append(f"(CASE WHEN list_dot_product(v, {lit}) > 0"
                     f" THEN {1 << i} ELSE 0 END)")
    bucket = " + ".join(terms)
    return f"""
WITH e AS (SELECT embedding::DOUBLE[] AS v, label AS l FROM embeddings),
b AS (SELECT CAST({bucket} AS INTEGER) AS c, l FROM e),
cont AS (SELECT c, l, CAST(count(*) AS BIGINT) AS n
         FROM b GROUP BY c, l),
s AS (SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS sij FROM cont),
r AS (SELECT CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS a
      FROM (SELECT SUM(n) AS m FROM cont GROUP BY c)),
cc AS (SELECT CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS bb
       FROM (SELECT SUM(n) AS m FROM cont GROUP BY l)),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS tp
        FROM b),
k AS (SELECT (SELECT CAST(count(DISTINCT c) AS BIGINT) FROM cont)
        AS n_clusters,
             (SELECT CAST(count(DISTINCT l) AS BIGINT) FROM cont)
        AS n_labels)
SELECT tot.n, k.n_clusters, k.n_labels,
       ROUND((s.sij - r.a * cc.bb / CAST(tot.tp AS DOUBLE))
             / ((r.a + cc.bb) / 2.0
                - r.a * cc.bb / CAST(tot.tp AS DOUBLE)), 9) AS ari_r
FROM s, r, cc, tot, k"""


@_reg("clustering_ari", _ari_sql())
def q_clustering_ari(spark, sf_dir):
    """Adjusted Rand Index (Hubert & Arabie 1985) between the LSH-bucket
    partition of the corpus embeddings and the ground-truth labels —
    the external validation metric a clustering/dedup pipeline reports.
    Exact integer pair counts from one contingency groupBy; the oracle
    replays bucket assignment and the ARI closed form."""
    emb = _t(spark, sf_dir, "embeddings")
    return simsearch.clustering_ari(emb)


@_reg("link_components", """
WITH RECURSIVE
nn AS (SELECT count(*) AS n FROM documents),
e0 AS (SELECT src, (src * 31 + j * 97) % n AS dst
       FROM (SELECT doc_id AS src FROM documents WHERE doc_id % 17 <> 0),
            (VALUES (1), (2), (3)) AS jj(j), nn
       WHERE (src * 31 + j * 97) % n <> src),
e AS (SELECT src, dst FROM e0
      UNION SELECT dst AS src, src AS dst FROM e0),
reach AS (SELECT doc_id AS s, doc_id AS d FROM documents
          UNION
          SELECT r.s, e.dst AS d FROM reach r JOIN e ON r.d = e.src),
comp AS (SELECT s, min(d) AS component FROM reach GROUP BY s)
SELECT component, CAST(count(*) AS BIGINT) AS n_pages
FROM comp GROUP BY component
""")
def q_link_components(spark, sf_dir):
    """Weakly connected components of the page link graph — the crawl
    analytics primitive behind 'how fragmented is this snapshot'.
    Spark side: distributed min-label propagation (one shuffle join per
    round, O(log diameter) rounds); oracle: an independent
    recursive-CTE transitive closure."""
    return graphops.link_components(_t(spark, sf_dir, "documents"))


@_reg("openfilegdb_roundtrip", f"""
{_pts_cte()}
SELECT doc_id,
       ROUND(floor(lon * 10000000.0 + 0.5) / 10000000.0, 8) AS x_r,
       ROUND(floor(lat * 10000000.0 + 0.5) / 10000000.0, 8) AS y_r
FROM pts WHERE doc_id % 19 = 0
""")
def q_openfilegdb_roundtrip(spark, sf_dir):
    """ESRI File Geodatabase driver round-trip
    (ogr/ogrsf_frmts/openfilegdb/filegdbtable.cpp): every 19th page
    writes a point feature into a .gdb directory — system catalog +
    .gdbtable/.gdbtablx pair, varuint-quantized extended shape buffers
    at the standard GCS grid (origin -400, scale ~1e9) — and reads back
    through the block-parallel distributed reader.  Coordinates are
    pre-quantized to 1e-7 so the ~5e-10 shape-grid quantization noise
    cannot move an 8-decimal rounding; the oracle replays the same
    1e-7 quantization from the source table."""
    import math

    import numpy as np

    from .core import wkb as W
    from .sources.openfilegdb import (
        FGFT_GEOMETRY, FGFT_INT32, read_openfilegdb, write_openfilegdb)

    rows = (datagen.points(spark, sf_dir).where(F.col("doc_id") % 19 == 0)
            .select("doc_id", "lon", "lat").orderBy("doc_id").collect())
    path = vsi.scratch(".gdb")
    q = 10000000.0

    def qz(v):
        return math.floor(v * q + 0.5) / q

    feats = [(int(r.doc_id),
              W.Geom(W.POINT, [np.array([[qz(r.lon), qz(r.lat)]])]))
             for r in rows]
    write_openfilegdb(path, "pages",
                      [("doc_id", FGFT_INT32, True),
                       ("SHAPE", FGFT_GEOMETRY, True)],
                      feats, geom_code=1)
    df = read_openfilegdb(spark, path)
    px, py = _pxy_udfs()
    return df.select(F.col("doc_id").cast("long").alias("doc_id"),
                     F.round(px("geom"), 8).alias("x_r"),
                     F.round(py("geom"), 8).alias("y_r"))


@_reg("grib2_jpeg2000", """
WITH m AS (SELECT * FROM (VALUES (1), (2)) t(band)),
px AS (
  SELECT band, x.x, y.y,
         ((band * 17 + x.x * 3 + y.y * 7) % 400) + 20000 AS cs
  FROM m, range(41) x(x), range(37) y(y)
)
SELECT band, 41 AS ni, 37 AS nj,
       CAST(count(*) AS BIGINT) AS n_valid,
       CAST(SUM(cs) AS BIGINT) AS sum_cs
FROM px GROUP BY band
""")
def q_grib2_jpeg2000(spark, sf_dir):
    """GRIB2 data-representation template 5.40 (JPEG 2000, lossless):
    two simple fields pack through the from-scratch reversible T.800
    encoder (raster/j2k.py — MQ coder + EBCOT tier-1 + 5/3 lifting,
    decoder pinned against nine reference autotest golden checksums in
    tests/test_j2k.py) and read back through the grib2 driver's
    template-40 path; the oracle recomputes the centi-exact integer
    sums closed-form.  Closes the reference's frmts/openjpeg
    dependency for GRIB2 (grib2.py template-40, was 'unsupported' in
    rounds 1-4)."""
    import numpy as np
    import pandas as pd

    from .raster.tiles import decode_px
    from .sources.grib2 import read_grib2, write_grib2

    path = vsi.scratch(".grb2")
    y, x = np.mgrid[0:37, 0:41]
    arrays = [(((b * 17 + x * 3 + y * 7) % 400) + 20000) / 100.0
              for b in (1, 2)]
    write_grib2(arrays, path, drt=40)
    tiles, metas = read_grib2(spark, path, tile=64)

    def agg(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = decode_px(r.px, r.dtype, 64)[:37, :41]
                rows.append((int(r.band), int(arr.size),
                             int(np.rint(arr * 100.0).sum())))
            yield pd.DataFrame(rows, columns=["band", "n_valid",
                                              "sum_cs"])

    per_tile = tiles.mapInPandas(
        agg, "band int, n_valid long, sum_cs long")
    return (per_tile.groupBy("band")
            .agg(F.lit(41).alias("ni"), F.lit(37).alias("nj"),
                 F.sum("n_valid").alias("n_valid"),
                 F.sum("sum_cs").alias("sum_cs"))
            .select(F.col("band").cast("int").alias("band"),
                    "ni", "nj", "n_valid", "sum_cs"))


@_reg("st_curve_measures", f"""
{_pts_cte()},
k AS (SELECT doc_id,
             CAST(1.0 + (doc_id % 7) * 0.25 AS DOUBLE) AS r,
             CAST(0.3 AS DOUBLE) * ((doc_id % 5) + 1) AS half_sweep
      FROM pts WHERE doc_id % 23 = 0)
SELECT doc_id,
       ROUND(2 * half_sweep * r, 6) AS arc_len_r,
       ROUND(PI() * r * r, 6)       AS circ_area_r,
       ROUND(2 * PI() * r, 6)       AS circ_perim_r
FROM k
""")
def q_st_curve_measures(spark, sf_dir):
    """Curve-geometry measures on native ISO curve WKB (OGR curve model,
    ogr/ogr_geometry.h OGRCircularString/OGRCurvePolygon): every 23rd
    page builds a CIRCULARSTRING arc (3 points on an exact circle,
    total sweep 2*half_sweep) and a CURVEPOLYGON full circle (two
    semicircular arcs); ST_CurveLength/ST_CurveArea recover R and the
    sweep from the control points in closed form (no stroking) — the
    oracle replays R*sweep / pi*R^2 / 2*pi*R arithmetic directly."""
    import math
    import struct

    import pandas as pd

    from pyspark.sql import types as T

    st.register_all(spark)
    src = (datagen.points(spark, sf_dir).where(F.col("doc_id") % 23 == 0)
           .select("doc_id", "lon", "lat"))

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("arc", T.BinaryType()),
        T.StructField("circle", T.BinaryType()),
    ])

    def build(batches):
        def cs(pts):
            out = struct.pack("<BII", 1, 8, len(pts))
            for x, y in pts:
                out += struct.pack("<2d", x, y)
            return out

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                did = int(r.doc_id)
                cx, cy = float(r.lon), float(r.lat)
                rad = 1.0 + (did % 7) * 0.25
                half = 0.3 * ((did % 5) + 1)
                a0 = 0.1 * (did % 9)
                p = lambda a: (cx + rad * math.cos(a),
                               cy + rad * math.sin(a))
                arc = cs([p(a0), p(a0 + half), p(a0 + 2 * half)])
                ring = cs([p(0), p(math.pi / 2), p(math.pi),
                           p(3 * math.pi / 2), p(2 * math.pi)])
                circle = struct.pack("<BII", 1, 10, 1) + ring
                rows.append((did, arc, circle))
            yield pd.DataFrame(rows, columns=["doc_id", "arc", "circle"])

    curves = src.mapInPandas(build, schema)
    curves.createOrReplaceTempView("t_curves")
    return spark.sql(
        "SELECT doc_id, "
        " ROUND(ST_CurveLength(arc), 6) AS arc_len_r, "
        " ROUND(ST_CurveArea(circle), 6) AS circ_area_r, "
        " ROUND(ST_CurveLength(circle), 6) AS circ_perim_r "
        "FROM t_curves")


@_reg("st_curve_predicates", f"""
{_pts_cte()},
k AS (SELECT doc_id,
             0.4 * (doc_id % 7)        AS dx,
             1.05 + 0.5 * (doc_id % 5) AS r
      FROM pts WHERE doc_id % 19 = 0)
SELECT doc_id,
       CAST(dx < r AS INTEGER) AS inside,
       ROUND(184.0 * r * sin(PI() / 92.0), 6) AS perim_lin_r
FROM k
""")
def q_st_curve_predicates(spark, sf_dir):
    """Spatial predicates on native ISO curve WKB: CURVEPOLYGON circles
    stroke on decode at the reference's 4-degree OGR_ARC_STEPSIZE
    (OGRGeometryFactory::curveToLineString — GDAL itself linearizes
    before every GEOS predicate, so this IS the reference semantics),
    then ST_Contains runs the standard kernel.  Every 19th page tests a
    point at closed-form distance dx from a radius-r circle center
    (geometry margins keep |dx - r| >= 0.05, far above the 90-gon's
    r*(1-cos 2deg) <= 0.002 under-coverage, so stroked and exact
    containment agree row-for-row); ST_Length(ST_CurveToLine(circle))
    pins the stroking itself: four quarter arcs of 23 equal chords
    -> 184*r*sin(pi/92)."""
    import math
    import struct

    import pandas as pd

    from pyspark.sql import types as T

    st.register_all(spark)
    src = (datagen.points(spark, sf_dir).where(F.col("doc_id") % 19 == 0)
           .select("doc_id", "lon", "lat"))

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("pt", T.BinaryType()),
        T.StructField("circle", T.BinaryType()),
    ])

    def build(batches):
        def cs(pts):
            out = struct.pack("<BII", 1, 8, len(pts))
            for x, y in pts:
                out += struct.pack("<2d", x, y)
            return out

        for pdf in batches:
            rows = []
            for rr in pdf.itertuples(index=False):
                did = int(rr.doc_id)
                px, py = float(rr.lon), float(rr.lat)
                dx = 0.4 * (did % 7)
                rad = 1.05 + 0.5 * (did % 5)
                ux, uy = px + dx, py       # circle center dx east
                p = lambda a: (ux + rad * math.cos(a),
                               uy + rad * math.sin(a))
                # four QUARTER arcs: ceil(22.5 deg-steps) = 23 chords
                # each, immune to the fp noise a half-circle sweep puts
                # on the ceil(45.000..) boundary
                ring = cs([p(i * math.pi / 4) for i in range(9)])
                circle = struct.pack("<BII", 1, 10, 1) + ring
                pt = struct.pack("<BI2d", 1, 1, px, py)
                rows.append((did, pt, circle))
            yield pd.DataFrame(rows, columns=["doc_id", "pt", "circle"])

    src.mapInPandas(build, schema).createOrReplaceTempView("t_curvepred")
    return spark.sql(
        "SELECT doc_id, "
        " CAST(ST_Contains(circle, pt) AS INT) AS inside, "
        " ROUND(ST_Length(ST_CurveToLine(circle)), 6) AS perim_lin_r "
        "FROM t_curvepred")


@_reg("ogr_sql_battery2", f"""
{_pts_cte()},{_SQL_BATTERY_PAGES}
SELECT 'where_arith' AS cid, CAST(count(*) AS DOUBLE) AS vnum,
       NULL::VARCHAR AS vstr FROM pages WHERE 160+7 > pfid
UNION ALL SELECT 'where_concat', CAST(pfid AS DOUBLE), NULL
  FROM pages WHERE 'x' || url = (SELECT 'x' || url FROM pages
                                 WHERE pfid = 35)
UNION ALL SELECT 'plus_strings', CAST(pfid AS DOUBLE), NULL
  FROM pages WHERE url || 'z' = (SELECT url || 'z' FROM pages
                                 WHERE pfid = 42)
UNION ALL SELECT 'mod_op', CAST(count(*) AS DOUBLE), NULL
  FROM pages WHERE pfid % 5 = 1 AND pfid < 350
UNION ALL SELECT 'distinguished', CAST(pfid AS DOUBLE), NULL
  FROM pages WHERE pfid = 91
UNION ALL SELECT 'const_fields', NULL, 'constant string' || '|' ||
  'other' FROM pages WHERE pfid = 28
UNION ALL SELECT 'substr_where', CAST(count(*) AS DOUBLE), NULL
  FROM pages WHERE substr(url, 13, 2) = (SELECT substr(url, 13, 2)
                                         FROM pages WHERE pfid = 7)
UNION ALL SELECT 'neg_numbers', -1 + (3- -1) + (3*-1) + 0.2
  + (3-1), NULL
UNION ALL SELECT 'div_family', CAST(5//2 AS DOUBLE) + 5.0/2.0
  + 5/2.0 + 5.0/2, NULL
UNION ALL SELECT 'count_distinct', CAST(count(DISTINCT cls) AS DOUBLE),
  NULL FROM pages WHERE pfid < 350
UNION ALL SELECT 'not_in', CAST(count(*) AS DOUBLE), NULL
  FROM pages WHERE pfid NOT IN (14, 35) AND pfid < 350
UNION ALL SELECT 'precedence', CAST(-(7) + 1 + 2*3 + 5 - 3*2
  AS DOUBLE), NULL
UNION ALL SELECT 'not_between', CAST(count(*) AS DOUBLE), NULL
  FROM pages WHERE pfid NOT BETWEEN 100 AND 200 AND pfid < 350
UNION ALL SELECT 'not_like', CAST(count(*) AS DOUBLE), NULL
  FROM pages WHERE url NOT LIKE '%site3%' AND pfid < 350
UNION ALL SELECT 'null_fields', CAST(count(*) AS DOUBLE), NULL
  FROM pages WHERE NULL IS NULL AND pfid < 350
UNION ALL SELECT 'like_escape', CAST(count(*) AS DOUBLE), NULL
  FROM pages WHERE url LIKE '%x_x%' ESCAPE 'x' AND pfid < 3500
UNION ALL SELECT 'substr_neg', NULL, substr(url, length(url) - 1, 2)
  FROM pages WHERE pfid = 56
UNION ALL SELECT 'float_literal', CAST(count(*) AS DOUBLE), NULL
  FROM pages WHERE 4000000000.0 > 2000000000.0 AND pfid < 350
UNION ALL SELECT 'arith64', CAST(3000000000000 + 3 AS DOUBLE)
  + 3.0 * 3000000000000 + CAST(3000000000000 / 3 AS DOUBLE), NULL
UNION ALL SELECT 'literal_preds', CAST(count(*) AS DOUBLE), NULL
  FROM pages WHERE 'b' BETWEEN 'b' AND 'd' AND 3 IN (3, 5)
  AND NULL IS NULL AND 'a' < 'b' AND 6 >= 3.0 AND pfid < 350
UNION ALL SELECT 'null_binop', CAST(count(*) AS DOUBLE), NULL
  FROM pages WHERE (pfid + NULL) IS NOT NULL OR pfid = 170 + NULL
UNION ALL SELECT 'union3_and', CAST(count(*) AS DOUBLE), NULL FROM (
  SELECT pfid FROM pages WHERE pfid < 100 AND pfid % 5 = 0
    AND cls IS NOT NULL
  UNION ALL SELECT pfid FROM pages WHERE pfid >= 100 AND pfid < 350
    AND pfid % 5 = 0 AND cls IS NOT NULL)
UNION ALL SELECT 'star_prefix', CAST(count(*) AS DOUBLE), NULL
  FROM pages WHERE pfid = 63
UNION ALL SELECT 'int64_lits', CAST(1000000000000 AS DOUBLE)
  + CAST(100000000000 AS DOUBLE), NULL
UNION ALL SELECT 'dt_minmax', NULL,
  (SELECT min(url) FROM pages WHERE pfid < 350) || '|' ||
  (SELECT max(url) FROM pages WHERE pfid < 350)
""")
def q_ogr_sql_battery2(spark, sf_dir):
    """RFC 28 battery #2 — 25 cases ported from autotest/ogr/
    ogr_sql_rfc28.py through engine.sql: WHERE-clause arithmetic (t1),
    CONCAT and '+'-on-strings (t2/t3), '%' (t4), distinguished
    \"table.field\" quoting (t7), constant select-list fields (t12),
    SUBSTR in WHERE and with negative offsets (t13/26), double
    negatives and 2e-1 literals (t16), the 5/2 division family (t17),
    COUNT(DISTINCT) aliasing (t18), NOT IN/BETWEEN/LIKE (t19/22/23),
    operator precedence with unary minus (t20), NULL select fields and
    NULL-operand binops (t24/29), LIKE-ESCAPE folding (t25), float
    literals > int32 (t27), int64 arithmetic promotion (t28/43),
    literal predicate battery (t28), three-branch UNION ALL AND (t32+),
    l.* prefixed stars (t41), MIN/MAX over strings (t40 shape)."""
    from .sql import OgrSqlEngine

    eng = OgrSqlEngine(spark)
    pages = datagen.points(spark, sf_dir).where(F.col("doc_id") % 7 == 0) \
        .select(F.col("doc_id").alias("pfid"), "url", "lon", "lat",
                F.when(F.col("doc_id") % 70 == 0, F.lit(None))
                 .otherwise((F.col("doc_id") % 5).cast("string"))
                 .alias("cls"))
    eng.register("pages", pages, fid_col="pfid")

    def num(cid, sql, col=None):
        d = eng.sql(sql)
        c = col or d.columns[0]
        return d.select(F.lit(cid).alias("cid"),
                        d[c].cast("double").alias("vnum"),
                        F.lit(None).cast("string").alias("vstr"))

    def txt(cid, sql, col=None):
        d = eng.sql(sql)
        c = col or d.columns[0]
        return d.select(F.lit(cid).alias("cid"),
                        F.lit(None).cast("double").alias("vnum"),
                        d[c].cast("string").alias("vstr"))

    cases = [
        num("where_arith",
            "SELECT COUNT(*) FROM pages WHERE 160+7 > FID"),
        num("where_concat", "SELECT FID FROM pages WHERE "
            "CONCAT('x', url) = CONCAT('x', (SELECT url FROM pages "
            "WHERE FID = 35))"),
        num("plus_strings", "SELECT FID FROM pages WHERE "
            "url + 'z' = (SELECT url FROM pages WHERE FID = 42) + 'z'"),
        num("mod_op", "SELECT COUNT(*) FROM pages "
                      "WHERE FID % 5 = 1 AND FID < 350"),
        num("distinguished",
            'SELECT FID FROM pages WHERE "pages.FID" = 91'),
        txt("const_fields", "SELECT CONCAT('constant string', '|', abc) "
            "FROM (SELECT 'other' AS abc, FID FROM pages WHERE FID = 28)"),
        num("substr_where", "SELECT COUNT(*) FROM pages WHERE "
            "SUBSTR(url, 13, 2) = SUBSTR((SELECT url FROM pages "
            "WHERE FID = 7), 13, 2)"),
        num("neg_numbers",
            "SELECT -1 + (3--1) + (3*-1) + 2e-1 + (3-1) AS r FROM pages "
            "LIMIT 1", col="r"),
        num("div_family", "SELECT CAST(5/2 AS FLOAT) + 5.0/2.0 + 5/2.0 "
                          "+ 5.0/2 AS r FROM pages LIMIT 1", col="r"),
        num("count_distinct", "SELECT COUNT(DISTINCT cls) AS xx "
                              "FROM pages WHERE FID < 350", col="xx"),
        num("not_in", "SELECT COUNT(*) FROM pages "
                      "WHERE FID NOT IN (14, 35) AND FID < 350"),
        num("precedence",
            "SELECT -(7) + 1 + 2 * 3 + 5 - 3 * 2 AS r FROM pages LIMIT 1", col="r"),
        num("not_between", "SELECT COUNT(*) FROM pages WHERE FID NOT "
                           "BETWEEN 100 AND 200 AND FID < 350"),
        num("not_like", "SELECT COUNT(*) FROM pages WHERE url NOT LIKE "
                        "'%site3%' AND FID < 350"),
        num("null_fields", "SELECT COUNT(*) FROM pages "
                           "WHERE NULL IS NULL AND FID < 350"),
        num("like_escape", "SELECT COUNT(*) FROM pages WHERE url LIKE "
                           "'%x_x%' ESCAPE 'x' AND FID < 3500"),
        txt("substr_neg",
            "SELECT SUBSTR(url, -2) AS r FROM pages WHERE FID = 56", col="r"),
        num("float_literal", "SELECT COUNT(*) FROM pages WHERE "
                             "4000000000. > 2000000000. AND FID < 350"),
        num("arith64", "SELECT (3000000000000 + 3) + 3. * 3000000000000 "
                       "+ (3000000000000 / 3) AS r FROM pages LIMIT 1", col="r"),
        num("literal_preds", "SELECT COUNT(*) FROM pages WHERE "
            "'b' BETWEEN 'b' AND 'd' AND 3 IN (3, 5) AND NULL IS NULL "
            "AND 'a' < 'b' AND 6 >= 3.0 AND FID < 350"),
        num("null_binop", "SELECT COUNT(*) FROM pages WHERE "
            "(FID + CAST(NULL AS integer)) IS NOT NULL "
            "OR FID = 170 + CAST(NULL AS integer)"),
        num("union3_and", "SELECT COUNT(*) FROM ("
            "SELECT FID FROM pages WHERE FID < 100 AND FID % 5 = 0 "
            "AND cls IS NOT NULL "
            "UNION ALL SELECT FID FROM pages WHERE FID >= 100 AND "
            "FID < 350 AND FID % 5 = 0 AND cls IS NOT NULL)"),
        num("star_prefix",
            "SELECT COUNT(*) FROM (SELECT l.* FROM pages l "
            "WHERE l.pfid = 63)"),
        num("int64_lits",
            "SELECT 1000000000000 + CAST(100000000000 AS bigint) AS r "
            "FROM pages LIMIT 1", col="r"),
        txt("dt_minmax", "SELECT CONCAT(MIN(url), '|', MAX(url)) "
                         "FROM pages WHERE FID < 350"),
    ]
    out = cases[0]
    for c in cases[1:]:
        out = out.unionAll(c)
    return out


@_reg("multidim_slice", """
WITH cells AS (
  SELECT t.t, z.z, y.y, x.x,
         (t.t * 1000 + z.z * 500 + y.y * 41 + x.x) % 997 AS v
  FROM range(3) t(t), range(2) z(z), range(37) y(y), range(41) x(x)
)
SELECT t AS d0, z AS d1,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(SUM(v) AS BIGINT) AS sum_v,
       CAST(MAX(v) AS BIGINT) AS max_v
FROM cells GROUP BY t, z
""")
def q_multidim_slice(spark, sf_dir):
    """Multidim (GDALMDArray, gcore/gdalmultidim.cpp) long-format API:
    a 4-D (time, level, y, x) HDF5 variable reads as one engine tile
    grid PER (d0, d1) slice — (array, d0, d1, tile_x, tile_y, px) —
    instead of the 2-D flattening; per-slice aggregates verify every
    cell against the closed-form oracle.  Chunked layouts pinned
    separately against the HDFEOS autotest fixture in
    tests/test_hdf5.py."""
    import numpy as np
    import pandas as pd

    from .raster.tiles import decode_px
    from .sources.hdf5 import read_hdf5_multidim, write_hdf5_nd

    path = vsi.scratch(".h5")
    t, z, h, w = 3, 2, 37, 41
    tt, zz, yy, xx = np.meshgrid(
        np.arange(t), np.arange(z), np.arange(h), np.arange(w),
        indexing="ij")
    arr = ((tt * 1000 + zz * 500 + yy * 41 + xx) % 997) \
        .astype("<i4")
    write_hdf5_nd(arr, path, "temp")
    tiles, hdf = read_hdf5_multidim(spark, path, tile=64)

    def agg(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a = decode_px(r.px, r.dtype, 64)[:37, :41]
                rows.append((int(r.d0), int(r.d1), int(a.size),
                             int(a.sum()), int(a.max())))
            yield pd.DataFrame(rows, columns=["d0", "d1", "n_px",
                                              "sum_v", "max_v"])

    per = tiles.mapInPandas(
        agg, "d0 long, d1 long, n_px long, sum_v long, max_v long")
    return (per.groupBy("d0", "d1")
            .agg(F.sum("n_px").alias("n_px"),
                 F.sum("sum_v").alias("sum_v"),
                 F.max("max_v").alias("max_v")))
