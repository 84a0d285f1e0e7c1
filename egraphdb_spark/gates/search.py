"""Search and scan gates: point and multi-key lookups, typed index
search, selected paths, top-k, geo and layout pruning (SURVEY.md §2.1-2.3).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..graph import _t, fixture
from ..operators import scans, search


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


def q_reindex_status(spark, sf_dir):
    """Per-shard reindex watermarks over the graph fixture (16 shards) —
    Engine.reindex_status(), the reference's egraph_reindex_status table
    surface (sql/egraph_table_creation.sql:214-222).  The gate checks the
    deterministic columns (shard assignment, node counts, version
    watermark); index-row counts and timestamps are pytest-covered."""
    from ..engine import Engine

    g = fixture(spark, sf_dir)
    eng = Engine(spark, g.vertices, g.edges, g.indexes)
    return eng.reindex_status(n_shards=16).select(
        "shard_id", "n_nodes", "max_version", "is_reindexing"
    )


O_REINDEX_STATUS = """
WITH keys AS (
  SELECT 'region:' || r_regionkey AS key FROM region
  UNION ALL SELECT 'nation:' || n_nationkey FROM nation
  UNION ALL SELECT 'customer:' || c_custkey FROM customer
  UNION ALL SELECT 'supplier:' || s_suppkey FROM supplier
  UNION ALL SELECT 'part:' || p_partkey FROM part
)
SELECT CAST(CAST(('0x' || substr(md5(key), 1, 15)) AS BIGINT) % 16 AS BIGINT)
         AS shard_id,
       count(*) AS n_nodes,
       CAST(0 AS BIGINT) AS max_version,
       CAST(0 AS INT) AS is_reindexing
FROM keys GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# Remaining reference-surface rows: S9, J2, W5, P5
# --------------------------------------------------------------------------


def q_s9_geo_exact(spark, sf_dir):
    """Geo-exact index match (egraph_index_model.erl:319-321): nation whose
    capital is exactly (-180.0, -80.0) — nation 0's fixture point (exact in
    binary, so equality is engine-portable)."""
    from ..operators import search

    g = fixture(spark, sf_dir)
    ids = search.index_condition_ids(
        g.indexes,
        {
            "key": {"type": "Point", "coordinates": [-180.0, -80.0]},
            "key_type": "geo",
            "index_name": "capital_geolocation",
        },
    )
    return g.vertices.join(ids, "id", "left_semi").select("key")


O_S9 = "SELECT 'nation:' || n_nationkey AS key FROM nation WHERE n_nationkey = 0"


def q_w5_time_probe(spark, sf_dir):
    """W5: bounded time-window probe — top-k earliest rows, then min/max
    bounds (models/egraph_detail_model.erl:693-718's LIMIT pre-query)."""
    g = fixture(spark, sf_dir)
    first_k = (
        g.vertices.where(F.col("kind") == "customer")
        .orderBy("updated_at", "key")
        .limit(100)
    )
    return first_k.agg(
        F.min("updated_at").alias("lo"),
        F.max("updated_at").alias("hi"),
        F.count("*").alias("n"),
    )


O_W5 = """
SELECT min(updated_at) AS lo, max(updated_at) AS hi, count(*) AS n FROM (
  SELECT TIMESTAMP '2024-01-01' + (c_custkey % 365) * INTERVAL 1 DAY AS updated_at,
         'customer:' || c_custkey AS key
  FROM customer ORDER BY updated_at, key LIMIT 100
)
"""


def q_p5_keytype_rawhex(spark, sf_dir):
    """P5: keytype normalization — client passes the node id as raw hex;
    the engine parses it back to the signed 64-bit id and point-reads
    (models/egraph_detail_model.erl:108-118 rawhex branch)."""
    g = fixture(spark, sf_dir)

    # The rawhex round-trip stays entirely inside the plan (no driver-side
    # head() during query construction): format the id to 16-digit hex — the
    # client's wire form — then parse it back and point-read via a broadcast
    # semi-join on the recovered id.
    hexed = (
        g.vertices.where(F.col("key") == "customer:7")
        .select(F.format_string("%016x", "id").alias("h"))
    )
    # hex → unsigned conv → wrap to signed long (two's complement)
    parsed = F.conv(F.col("h"), 16, 10).cast("decimal(20,0)")
    signed = F.when(
        parsed > F.lit(str(2**63 - 1)).cast("decimal(20,0)"),
        (parsed - F.lit(str(2**64)).cast("decimal(21,0)")).cast("long"),
    ).otherwise(parsed.cast("long"))
    wanted = hexed.select(signed.alias("id"))
    return g.vertices.join(F.broadcast(wanted), "id", "left_semi").select("key")


O_P5 = "SELECT 'customer:7' AS key"


def q_layout_zorder(spark, sf_dir):
    """Z-order clustering evidence on part over (p_size, p_partkey%1024):
    per-range-bucket row counts for a 2-D box predicate.  The box's rows
    concentrate in few buckets — the fraction of files a z-laid-out table
    would actually read (ntile here is the oracle-exact stand-in for the
    production repartitionByRange writer in operators/layout.py)."""
    from ..operators import layout

    part = _t(spark, sf_dir, "part").withColumn("pk_lo", F.expr("p_partkey % 1024"))
    return layout.zorder_prune_stats(
        part, "p_size", "pk_lo", (10, 20), (100, 300), n_buckets=32,
        tiebreak="p_partkey",
    )


def _zorder_oracle():
    from ..operators.layout import zvalue_sql

    z = zvalue_sql("p_size", "pk_lo")
    return f"""
WITH d AS (SELECT p_size, p_partkey % 1024 AS pk_lo, p_partkey, {z} AS z FROM part),
t AS (
  SELECT p_size, pk_lo, z,
         ntile(32) OVER (ORDER BY z, p_partkey) AS bucket
  FROM d
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN p_size BETWEEN 10 AND 20 AND pk_lo BETWEEN 100 AND 300
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_box_rows,
       min(z) AS z_min, max(z) AS z_max
FROM t GROUP BY bucket ORDER BY bucket
"""


O_LAYOUT_ZORDER = _zorder_oracle()


def q_layout_bucket_join(spark, sf_dir):
    """Bucket-layout evidence for the fact⨝fact join neither side of
    which broadcasts at 100 TB: orders and lineitem are persisted as
    8-bucket tables hashed on the order key, then joined — the join runs
    with ZERO exchange on either side (both scans report
    ``Bucketed: true``; pinned by tests/test_plans.py).  The shuffle was
    paid once at layout time; every subsequent co-keyed join is free.
    Returns revenue per order priority off the bucketed join, so the
    oracle value-checks the whole write→catalog→bucketed-read→join
    path."""
    import os as _os

    from ..sources.io import write_bucketed_table

    tag = _os.path.basename(sf_dir.rstrip("/"))
    root = _os.path.join(
        _os.environ.get("SPARK_GRAFT_IO_DIR", "/tmp/egraphdb_spark_io"),
        f"bucket-{tag}",
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("lo_key"), "l_extendedprice", "l_discount"
    )
    write_bucketed_table(
        o, f"b_orders_{tag.replace('.', '_')}", "o_orderkey", 8,
        sort_col="o_orderkey", path=f"{root}/orders",
        one_file_per_bucket=True,
    )
    write_bucketed_table(
        li, f"b_lineitem_{tag.replace('.', '_')}", "lo_key", 8,
        sort_col="lo_key", path=f"{root}/lineitem",
        one_file_per_bucket=True,
    )
    disc = (
        "cast(l_extendedprice as decimal(18,2)) * "
        "(cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))"
    )
    return (
        spark.table(f"b_orders_{tag.replace('.', '_')}")
        .join(
            spark.table(f"b_lineitem_{tag.replace('.', '_')}"),
            F.col("o_orderkey") == F.col("lo_key"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.expr(f"cast(sum({disc}) as double)").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


O_LAYOUT_BUCKET_JOIN = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


GATES: dict[str, tuple] = {
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
    "w4_topk": (q_w4_topk, O_W4),
    "s9_geo_exact": (q_s9_geo_exact, O_S9),
    "w5_time_probe": (q_w5_time_probe, O_W5),
    "p5_keytype_rawhex": (q_p5_keytype_rawhex, O_P5),
    "reindex_status": (q_reindex_status, O_REINDEX_STATUS),
    "layout_zorder_prune": (q_layout_zorder, O_LAYOUT_ZORDER),
    "layout_bucket_join": (q_layout_bucket_join, O_LAYOUT_BUCKET_JOIN),
}
