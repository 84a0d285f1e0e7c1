"""Driver-facing query registry.

Each entry pairs a Spark DataFrame implementation (the engine operator under
test, from SURVEY.md §2) with an equivalent DuckDB-SQL oracle over the same
parquet tables.  Conventions that keep the driver's order-insensitive
value-hash comparison exact:

  * every computed column is aliased identically on both sides
  * floating-point AGGREGATES are computed in exact DECIMAL arithmetic and
    cast to DOUBLE at the end — sum order then cannot perturb the result,
    so Spark's partial/parallel aggregation and DuckDB's sequential scan
    produce bit-identical doubles
  * queries with LIMIT impose a deterministic total order first

The graph-model queries run on the fixture derived in graph.py (vertices /
edges / indexes from the TPC-H-ish tables); their oracles re-derive the same
facts relationally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .graph import GraphFixture
from .operators import scans, search, traversal

_FIXTURES: dict[tuple[str, str], GraphFixture] = {}


def fixture(spark: SparkSession, sf_dir: str) -> GraphFixture:
    from .session import session_memo

    return session_memo(_FIXTURES, spark, sf_dir, lambda: _build_fixture(spark, sf_dir))


def _build_fixture(spark: SparkSession, sf_dir: str) -> GraphFixture:
    g = GraphFixture(spark, sf_dir)
    # Repartition the derived tables to the session's parallelism
    # before caching (guide §2.5): the raw builds inherit partition
    # counts from file splits / AQE-coalesced join outputs — sized for
    # I/O, not for the CPU-heavy consumers (every graph gate starts by
    # JSON-parsing the full cached edge table; every search gate scans
    # the cached index).  One exchange each at fixture-build time buys
    # every downstream scan full-width map stages.  At 100 TB these
    # derived tables are written bucketed (see build_vertices /
    # build_indexes docstrings); the session cache mirrors that layout
    # decision at the session's own width.
    par = spark.sparkContext.defaultParallelism
    g.vertices = g.vertices.repartition(par).cache()
    g.edges = g.edges.repartition(par).cache()
    g.indexes = g.indexes.repartition(par).cache()
    return g


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from .graph import load_tables

    return load_tables(spark, sf_dir)[name]


# --------------------------------------------------------------------------
# Reference surface — scans (SURVEY.md §2.1)
# --------------------------------------------------------------------------


def q_s1_point_lookup(spark, sf_dir):
    g = fixture(spark, sf_dir)
    return scans.point_lookup(g.vertices, "customer:7").select(
        F.col("key"),
        F.get_json_object("details", "$.c_name").alias("name"),
        F.get_json_object("details", "$.c_acctbal").try_cast("double").alias("acctbal"),
        F.get_json_object("details", "$.c_mktsegment").alias("mktsegment"),
    )


O_S1 = """
SELECT 'customer:' || c_custkey AS key, c_name AS name,
       c_acctbal AS acctbal, c_mktsegment AS mktsegment
FROM customer WHERE c_custkey = 7
"""


def q_s2_multi_get(spark, sf_dir):
    g = fixture(spark, sf_dir)
    keys = ["customer:1", "customer:2", "customer:3", "supplier:1", "part:10", "nope:99"]
    return scans.multi_get(g.vertices, keys).select("key", "kind")


O_S2 = """
SELECT 'customer:' || c_custkey AS key, 'customer' AS kind FROM customer WHERE c_custkey IN (1,2,3)
UNION ALL
SELECT 'supplier:' || s_suppkey, 'supplier' FROM supplier WHERE s_suppkey = 1
UNION ALL
SELECT 'part:' || p_partkey, 'part' FROM part WHERE p_partkey = 10
"""


def q_s3_full_scan_page(spark, sf_dir):
    g = fixture(spark, sf_dir)
    return scans.full_scan_page(g.vertices, limit=50, offset=10, kind="part").select("key")


O_S3 = """
SELECT key FROM (SELECT 'part:' || p_partkey AS key FROM part)
ORDER BY key LIMIT 50 OFFSET 10
"""


def q_s4_time_range_scan(spark, sf_dir):
    g = fixture(spark, sf_dir)
    return scans.time_range_scan(
        g.vertices.where(F.col("kind") == "customer"),
        "2024-02-01 00:00:00",
        "2024-03-31 00:00:00",
        ascending=True,
        limit=40,
    ).select("key", "updated_at")


O_S4 = """
SELECT key, updated_at FROM (
  SELECT 'customer:' || c_custkey AS key,
         TIMESTAMP '2024-01-01' + (c_custkey % 365) * INTERVAL 1 DAY AS updated_at
  FROM customer
) WHERE updated_at BETWEEN TIMESTAMP '2024-02-01' AND TIMESTAMP '2024-03-31'
ORDER BY updated_at, key LIMIT 40
"""


def q_s5_edge_scan(spark, sf_dir):
    g = fixture(spark, sf_dir)
    return scans.out_edges(g.edges, "customer:7").select(
        F.col("dst_key"), F.get_json_object("details", "$.rel").alias("rel")
    )


O_S5 = """
SELECT 'nation:' || c_nationkey AS dst_key, 'in_nation' AS rel FROM customer WHERE c_custkey = 7
UNION ALL
SELECT DISTINCT 'part:' || l_partkey, 'ordered'
FROM orders JOIN lineitem ON o_orderkey = l_orderkey WHERE o_custkey = 7
"""


def q_s6_edge_lookup(spark, sf_dir):
    g = fixture(spark, sf_dir)
    return scans.edge_lookup(g.edges, "nation:5", "region:0").select(
        "src_key", "dst_key", F.get_json_object("details", "$.rel").alias("rel")
    )


O_S6 = """
SELECT 'nation:' || n_nationkey AS src_key, 'region:' || n_regionkey AS dst_key,
       'in_region' AS rel
FROM nation WHERE n_nationkey = 5 AND n_regionkey = 0
"""


def q_s7_index_exact(spark, sf_dir):
    g = fixture(spark, sf_dir)
    ids = search.index_condition_ids(
        g.indexes, {"key": "BUILDING", "key_type": "text", "index_name": "c_mktsegment"}
    )
    return g.vertices.join(ids, "id", "left_semi").select("key")


O_S7 = "SELECT 'customer:' || c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'"


def q_s7_index_exact_lowercase(spark, sf_dir):
    g = fixture(spark, sf_dir)
    ids = search.index_condition_ids(
        g.indexes,
        {"key": "building", "key_type": "text", "index_name": "c_mktsegment_lc__"},
    )
    return g.vertices.join(ids, "id", "left_semi").select("key")


O_S7_LC = (
    "SELECT 'customer:' || c_custkey AS key FROM customer "
    "WHERE lower(c_mktsegment) = 'building'"
)


def q_s8_index_range(spark, sf_dir):
    g = fixture(spark, sf_dir)
    rng = g.indexes.where(
        (F.col("index_name") == "c_acctbal") & F.col("v_double").between(1000.0, 3000.0)
    ).select("id", F.col("v_double").alias("acctbal"))
    return g.vertices.join(rng, "id").select("key", "acctbal")


O_S8 = """
SELECT 'customer:' || c_custkey AS key, c_acctbal AS acctbal
FROM customer WHERE c_acctbal BETWEEN 1000.0 AND 3000.0
"""


def q_s10_geo_distance(spark, sf_dir):
    g = fixture(spark, sf_dir)
    ids = search.index_condition_ids(
        g.indexes,
        {
            "key": {"type": "Point", "coordinates": [-100.0, -50.0]},
            "key_type": "geo",
            "index_name": "capital_geolocation",
            "distance_sphere": 3_000_000.0,
        },
    )
    return g.vertices.join(ids, "id", "left_semi").select("key")


# Haversine on the synthetic capitals (lon=-180+nk*13.7, lat=-80+nk*6.3),
# sphere radius 6,370,986 m — same formula as functions/geo.py.
O_S10 = """
SELECT 'nation:' || n_nationkey AS key FROM (
  SELECT n_nationkey,
         -180.0 + n_nationkey * 13.7 AS lon,
         -80.0 + n_nationkey * 6.3 AS lat
  FROM nation
) WHERE 2.0 * 6370986.0 * asin(sqrt(
      pow(sin(radians(lat - (-50.0)) / 2), 2)
      + cos(radians(-50.0)) * cos(radians(lat))
        * pow(sin(radians(lon - (-100.0)) / 2), 2))) <= 3000000.0
"""


def q_s10_geo_knearest(spark, sf_dir):
    """Five nearest capitals to (-100, -50) by great-circle distance —
    the k-nearest completion of the reference's ST_Distance_Sphere scan
    (models/egraph_index_model.erl:361-367): TakeOrderedAndProject top-k,
    never a global sort."""
    g = fixture(spark, sf_dir)
    # pre-join the portable key so the top-k tie/rounding-boundary order
    # (round-3 dist, key) is IDENTICAL to the oracle's — raw-distance
    # ordering with a hash-id tie-break can pick a different k-th row
    # whenever two candidates collide at the rounding quantum
    idx = g.indexes.join(g.vertices.select("id", "key"), "id")
    nn = search.geo_knearest(
        idx, "capital_geolocation", -100.0, -50.0, 5,
        id_col="key", order_round=3,
    )
    return nn.select(
        F.col("id").alias("key"), F.round("dist_m", 3).alias("dist_m")
    )


O_S10_KNN = """
SELECT 'nation:' || n_nationkey AS key,
       round(2.0 * 6370986.0 * asin(sqrt(
           pow(sin(radians(lat - (-50.0)) / 2), 2)
           + cos(radians(-50.0)) * cos(radians(lat))
             * pow(sin(radians(lon - (-100.0)) / 2), 2))), 3) AS dist_m
FROM (
  SELECT n_nationkey,
         -180.0 + n_nationkey * 13.7 AS lon,
         -80.0 + n_nationkey * 6.3 AS lat
  FROM nation
) ORDER BY dist_m, key LIMIT 5
"""


def q_s11_index_dump(spark, sf_dir):
    g = fixture(spark, sf_dir)
    dump = scans.index_dump(g.indexes, "p_size").select(
        "id", F.col("v_int").alias("size")
    )
    return g.vertices.join(dump, "id").select("key", "size")


O_S11 = "SELECT 'part:' || p_partkey AS key, CAST(p_size AS BIGINT) AS size FROM part"


# --------------------------------------------------------------------------
# Reference surface — search IR: projections / filters / union (§2.2, §2.6)
# --------------------------------------------------------------------------


def q_p1_selected_paths(spark, sf_dir):
    g = fixture(spark, sf_dir)
    query = {
        "type": "index",
        "conditions": {
            "any": [{"key": ["NATION_0", "NATION_3"], "key_type": "text", "index_name": "n_name"}]
        },
        "selected_paths": {"name": ["n_name"], "regionkey": ["n_regionkey"]},
    }
    return search.search(g.vertices, g.indexes, query)


# selected_paths emits raw JSON scalars as strings (missing → null).
O_P1 = """
SELECT n_name AS name, CAST(n_regionkey AS VARCHAR) AS regionkey
FROM nation WHERE n_name >= 'NATION_0' AND n_name <= 'NATION_3'
"""


def q_p2_search_filters(spark, sf_dir):
    """Flagship reference query: OR-union conditions + AND filters + projection."""
    g = fixture(spark, sf_dir)
    query = {
        "type": "index",
        "conditions": {
            "any": [
                {"key": "BUILDING", "key_type": "text", "index_name": "c_mktsegment"},
                {"key": [9000.0, 10000.0], "key_type": "double", "index_name": "c_acctbal"},
            ]
        },
        "filters": [
            {"key": [1000.0, 9500.0], "key_type": "double", "index_json_path": ["c_acctbal"]}
        ],
    }
    ids = search.search_ids(g.indexes, query["conditions"]["any"])
    matched = g.vertices.join(ids, "id", "left_semi")
    filtered = search.apply_filters(matched, query["filters"])
    return filtered.select(
        F.get_json_object("details", "$.c_name").alias("name"),
        search.details_value("double", ["c_acctbal"]).alias("acctbal"),
        F.get_json_object("details", "$.c_mktsegment").alias("mktsegment"),
    )


O_P2 = """
SELECT c_name AS name, c_acctbal AS acctbal, c_mktsegment AS mktsegment
FROM customer
WHERE (c_mktsegment = 'BUILDING' OR c_acctbal BETWEEN 9000.0 AND 10000.0)
  AND c_acctbal BETWEEN 1000.0 AND 9500.0
"""


def q_u1_union_distinct(spark, sf_dir):
    g = fixture(spark, sf_dir)
    ids = search.search_ids(
        g.indexes,
        [
            {"key": "Brand#13", "key_type": "text", "index_name": "p_brand"},
            {"key": [40, 50], "key_type": "int", "index_name": "p_size"},
        ],
    )
    return g.vertices.join(ids, "id", "left_semi").select("key")


O_U1 = """
SELECT 'part:' || p_partkey AS key FROM part
WHERE p_brand = 'Brand#13' OR p_size BETWEEN 40 AND 50
"""


# --------------------------------------------------------------------------
# Reference surface — traversal (§2.7)
# --------------------------------------------------------------------------


def q_g1_khop(spark, sf_dir):
    g = fixture(spark, sf_dir)
    return traversal.k_hop(g.edges, ["customer:7"], depth=2)


O_G1 = """
WITH parts7 AS (
  SELECT DISTINCT l_partkey FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey = 7
)
SELECT 1 AS level, 'nation:' || c_nationkey AS key FROM customer WHERE c_custkey = 7
UNION
SELECT 1, 'part:' || l_partkey FROM parts7
UNION
SELECT 2, 'region:' || n_regionkey FROM nation
WHERE n_nationkey IN (SELECT c_nationkey FROM customer WHERE c_custkey = 7)
UNION
SELECT 2, 'supplier:' || l_suppkey
FROM (SELECT DISTINCT l.l_suppkey FROM lineitem l JOIN parts7 p ON l.l_partkey = p.l_partkey)
"""


# --------------------------------------------------------------------------
# Reference surface — sorts / limits (§2.5)
# --------------------------------------------------------------------------


def q_w4_topk(spark, sf_dir):
    g = fixture(spark, sf_dir)
    acct = g.indexes.where(F.col("index_name") == "c_acctbal").select(
        "id", F.col("v_double").alias("acctbal")
    )
    return (
        g.vertices.join(acct, "id")
        .orderBy(F.col("acctbal").desc(), F.col("key"))
        .limit(10)
        .select("key", "acctbal")
    )


O_W4 = """
SELECT 'customer:' || c_custkey AS key, c_acctbal AS acctbal
FROM customer ORDER BY c_acctbal DESC, key LIMIT 10
"""


# --------------------------------------------------------------------------
# Spark-native analytics (§2.4 — free from Spark, graded as extensions)
# --------------------------------------------------------------------------

# Decimal-exact money arithmetic (see module docstring).
_DISC = "cast(l_extendedprice as decimal(18,2)) * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))"
_CHARGE = f"({_DISC}) * (cast(1 as decimal(18,2)) + cast(l_tax as decimal(18,2)))"


def q_agg_q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.expr("l_shipdate <= timestamp'1998-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr("cast(sum(cast(l_quantity as decimal(18,2))) as double)").alias("sum_qty"),
            F.expr("cast(sum(cast(l_extendedprice as decimal(18,2))) as double)").alias(
                "sum_base_price"
            ),
            F.expr(f"cast(sum({_DISC}) as double)").alias("sum_disc_price"),
            F.expr(f"cast(sum({_CHARGE}) as double)").alias("sum_charge"),
            F.expr(
                "cast(sum(cast(l_quantity as decimal(18,2))) as double) / count(*)"
            ).alias("avg_qty"),
            F.expr(
                "cast(sum(cast(l_extendedprice as decimal(18,2))) as double) / count(*)"
            ).alias("avg_price"),
            F.expr(
                "cast(sum(cast(l_discount as decimal(18,2))) as double) / count(*)"
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


O_AGG_Q1 = f"""
SELECT l_returnflag, l_linestatus,
       cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
       cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sum_base_price,
       cast(sum({_DISC}) as double) AS sum_disc_price,
       cast(sum({_CHARGE}) as double) AS sum_charge,
       cast(sum(cast(l_quantity as decimal(18,2))) as double) / count(*) AS avg_qty,
       cast(sum(cast(l_extendedprice as decimal(18,2))) as double) / count(*) AS avg_price,
       cast(sum(cast(l_discount as decimal(18,2))) as double) / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_agg_q3_shipping_priority(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .where(
            (F.col("c_mktsegment") == "BUILDING")
            & F.expr("o_orderdate < timestamp'1998-03-15 00:00:00'")
            & F.expr("l_shipdate > timestamp'1995-03-15 00:00:00'")
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.expr(f"cast(sum({_DISC}) as double)").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


O_AGG_Q3 = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       cast(sum({_DISC}) as double) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def q_agg_q5_region_revenue(spark, sf_dir):
    t = {n: _t(spark, sf_dir, n) for n in ("region", "nation", "customer", "orders", "lineitem", "supplier")}
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.expr(f"cast(sum({_DISC}) as double)").alias("revenue"))
    )


O_AGG_Q5 = f"""
SELECT r_name, cast(sum({_DISC}) as double) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_agg_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.expr("cast(sum(cast(l_quantity as decimal(18,2))) as double)").alias("sum_qty"),
    )


O_AGG_ROLLUP = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_win_rank(spark, sf_dir):
    from pyspark.sql import Window as W

    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


O_WIN_RANK = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""


def q_win_lag(spark, sf_dir):
    from pyspark.sql import Window as W

    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_totalprice"),
    )


O_WIN_LAG = """
SELECT o_custkey, o_orderkey, o_totalprice,
       lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         AS prev_totalprice
FROM orders
"""


def q_set_intersect(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    a = orders.where(F.expr("o_orderdate < timestamp'1996-01-01 00:00:00'")).select("o_custkey")
    b = orders.where(F.expr("o_orderdate >= timestamp'1999-01-01 00:00:00'")).select("o_custkey")
    return a.intersect(b)


O_SET_INTERSECT = """
SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
"""


def q_set_except(spark, sf_dir):
    """Customers who placed no order in 1995 (usort-complement shape —
    the reference's union is the only set op it has; EXCEPT is the
    natural Spark extension).  The 1995 restriction keeps the result
    non-trivial at every scale factor."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01")
    )
    return cust.select(F.col("c_custkey").alias("custkey")).exceptAll(
        orders.select(F.col("o_custkey").alias("custkey")).distinct()
    )


O_SET_EXCEPT = """
SELECT c_custkey AS custkey FROM customer
EXCEPT ALL
SELECT DISTINCT o_custkey FROM orders
WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
"""


def q_evt_window_hourly(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.expr("cast(sum(cast(value as decimal(18,6))) as double)").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


O_EVT_WINDOW = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
       count(*) AS n,
       cast(sum(cast(value as decimal(18,6))) as double) AS sum_value
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

# name -> (spark_fn, oracle_sql | None)
REGISTRY: dict[str, tuple] = {
    "s1_point_lookup": (q_s1_point_lookup, O_S1),
    "s2_multi_get": (q_s2_multi_get, O_S2),
    "s3_full_scan_page": (q_s3_full_scan_page, O_S3),
    "s4_time_range_scan": (q_s4_time_range_scan, O_S4),
    "s5_edge_scan": (q_s5_edge_scan, O_S5),
    "s6_edge_lookup": (q_s6_edge_lookup, O_S6),
    "s7_index_exact": (q_s7_index_exact, O_S7),
    "s7_index_exact_lowercase": (q_s7_index_exact_lowercase, O_S7_LC),
    "s8_index_range": (q_s8_index_range, O_S8),
    "s10_geo_distance": (q_s10_geo_distance, O_S10),
    "s10_geo_knearest": (q_s10_geo_knearest, O_S10_KNN),
    "s11_index_dump": (q_s11_index_dump, O_S11),
    "p1_selected_paths": (q_p1_selected_paths, O_P1),
    "p2_search_filters": (q_p2_search_filters, O_P2),
    "u1_union_distinct": (q_u1_union_distinct, O_U1),
    "g1_khop": (q_g1_khop, O_G1),
    "w4_topk": (q_w4_topk, O_W4),
    "agg_q1_pricing_summary": (q_agg_q1_pricing_summary, O_AGG_Q1),
    "agg_q3_shipping_priority": (q_agg_q3_shipping_priority, O_AGG_Q3),
    "agg_q5_region_revenue": (q_agg_q5_region_revenue, O_AGG_Q5),
    "agg_rollup": (q_agg_rollup, O_AGG_ROLLUP),
    "win_rank": (q_win_rank, O_WIN_RANK),
    "win_lag": (q_win_lag, O_WIN_LAG),
    "set_intersect": (q_set_intersect, O_SET_INTERSECT),
    "set_except": (q_set_except, O_SET_EXCEPT),
    "evt_window_hourly": (q_evt_window_hourly, O_EVT_WINDOW),
}

from .queries_ext import EXT_REGISTRY  # noqa: E402
from .queries_pipeline import PIPELINE_REGISTRY  # noqa: E402
from .queries_tpch import TPCH_REGISTRY  # noqa: E402

REGISTRY.update(PIPELINE_REGISTRY)
REGISTRY.update(EXT_REGISTRY)
REGISTRY.update(TPCH_REGISTRY)

# Round-8 merge: the nine gates staged (with full oracle + probe contracts)
# during the round-7 registry freeze go live.  queries_staged.py remains the
# module of record for their implementations.
from .queries_staged import STAGED_REGISTRY  # noqa: E402

REGISTRY.update(STAGED_REGISTRY)

# Round-8 additions (no freeze this round, so they register live and front
# the round-9 driver window as the only never-checked gates).
from .queries_r8 import R8_REGISTRY  # noqa: E402

REGISTRY.update(R8_REGISTRY)

# Round-10 merge (round-9 verdict item 1): the six gates staged during
# round 9 under the full contract (oracle + pytest + fuzz + 10x probes,
# swept green at sf0.001 and sf0.01 pre-merge) go live: registry 293 -> 299.
from .queries_staged import STAGED_R9_REGISTRY  # noqa: E402

REGISTRY.update(STAGED_R9_REGISTRY)

# ---------------------------------------------------------------------------
# Registry ordering: the driver hard-checks the FIRST 50 queries in dict
# order.  The window ROTATES per round so every gate earns a green row in
# some CORRECTNESS_r{N}.json: rounds 2-6 converted 233 of 269 gates green
# with zero gates ever left failing (see CORRECTNESS_r02..r06).
# Round 8: emitted mechanically by tools/next_window.py (staleness budget:
# never-checked first, then oldest most-recent driver check) so no gate's
# evidence ages beyond ~4 rounds.  Cumulative after r8: 278/278 driver-green
# (union of CORRECTNESS_r01..r08), 15 queries_r8.py gates never checked.
# Round 9 (emitted by tools/next_window.py): fronted the 15 r8 gates, then
# the 28 stalest r3-era re-checks, then the 7 oldest r4 re-checks.
# Round 10 (emitted by tools/next_window.py): fronted the 6 newly merged
# round-9 staged gates, then the 43 stalest r4 re-checks + 1 r5 re-check —
# closing the rotation: after the r10 window, no gate's driver evidence
# was older than r5.
# Round 11 (emitted by tools/next_window.py): pure staleness rotation —
# the 49 stalest re-checks (last driver-green r5) + the next-oldest r6
# gate.  No new gates this round (optimization round; staging frozen).
# Gates not named here keep their insertion order after the priority block.
# ---------------------------------------------------------------------------
_PRIORITY = [
    # -- 49 stalest re-checks, last driver-green r5 --
    "mm_simhash_pairs", "emb_pca_power", "emb_abtt_topk",
    "txt_char_entropy", "pipe_temperature_mix", "pipe_interleave",
    "txt_hash_embedding", "txt_bigram_nll", "txt_source_jsd",
    "dedup_fuzzy_pairs", "sketch_hll_overlap", "pipe_length_buckets",
    "sample_weighted", "dedup_canonical_corpus", "txt_tfidf_sim_pairs",
    "sim_ivfpq_topk", "sim_knn_graph", "txt_top_bigrams",
    "txt_bpe_pair_counts", "txt_unigram_nll", "pipe_shard_manifest",
    "dedup_minhash_sig", "dedup_simhash", "dedup_containment_pairs",
    "dedup_semantic_pairs", "sim_cosine_topk", "clean_winsorize",
    "sample_hash_docs", "sample_group_split", "mm_resize_features",
    "evt_anomaly_mad", "graph_hits", "graph_lpa",
    "graph_neighbor_jaccard", "join_asof_nearest", "graph_degree_stats",
    "stream_session_window", "evt_retention", "s15_logtable_diff",
    "evt_active_users_7d", "evt_wau_hll", "stream_wau_hll",
    "stream_cm_heavy", "agg_pivot", "win_ntile", "s15_logtable_asof",
    "s15_logtable_compact", "reindex_status", "io_csv_quarantine",
    # -- 1 next-stalest re-check, last driver-green r6 --
    "s10_geo_knearest",
]

assert set(_PRIORITY) <= set(REGISTRY), sorted(set(_PRIORITY) - set(REGISTRY))
REGISTRY = {
    **{k: REGISTRY[k] for k in _PRIORITY},
    **{k: v for k, v in REGISTRY.items() if k not in set(_PRIORITY)},
}
