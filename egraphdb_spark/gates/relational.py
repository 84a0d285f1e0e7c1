"""Relational gates: TPC-H aggregates, windows, set operations, joins
(as-of, bloom, skew-salted) and SQL-surface checks.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..graph import _t, fixture


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


def q_j2_adjacency_details(spark, sf_dir):
    """J2: one-hop adjacency annotated with destination node details
    (src/egraph_api.erl:187-213 embeds `__node_details` per link)."""
    g = fixture(spark, sf_dir)
    from ..ingest import node_id

    out_edges = g.edges.where(F.col("src") == node_id(F.lit("customer:7"))).alias("e")
    v = g.vertices.alias("v")
    return (
        out_edges.join(v, F.col("e.dst") == F.col("v.id"))
        .select(
            F.col("e.dst_key").alias("dst_key"),
            F.coalesce(
                F.get_json_object(F.col("v.details"), "$.n_name"),
                F.get_json_object(F.col("v.details"), "$.p_name"),
            ).alias("dst_name"),
        )
    )


O_J2 = """
SELECT 'nation:' || c_nationkey AS dst_key, n_name AS dst_name
FROM customer JOIN nation ON c_nationkey = n_nationkey WHERE c_custkey = 7
UNION ALL
SELECT 'part:' || p_partkey, p_name FROM part
WHERE p_partkey IN (
  SELECT l_partkey FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey = 7)
"""


# --------------------------------------------------------------------------
# Additional Spark-native analytics (aggregates / windows / SQL API)
# --------------------------------------------------------------------------

_Q6_REV = (
    "cast(l_extendedprice as decimal(18,2)) * cast(l_discount as decimal(18,2))"
)


def q_agg_q6_forecast_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            F.expr("l_shipdate >= timestamp'1995-01-01 00:00:00'")
            & F.expr("l_shipdate < timestamp'1996-01-01 00:00:00'")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.expr(f"cast(sum({_Q6_REV}) as double)").alias("revenue"))
    )


O_AGG_Q6 = f"""
SELECT cast(sum({_Q6_REV}) as double) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q_agg_cube(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(F.count("*").alias("n"))


O_AGG_CUBE = """
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


_PIVOT_PRI = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def q_agg_pivot(spark, sf_dir):
    """Order counts per month PIVOTED by priority (wide columns).  The
    pivot values are EXPLICIT — no extra distinct-collect job, a stable
    output schema, and the plan stays one partial-aggregated groupBy
    (each priority becomes a conditional count — the same physical shape
    as the oracle's FILTER aggregates)."""
    o = _t(spark, sf_dir, "orders")
    wide = (
        o.groupBy(
            F.date_trunc("month", F.col("o_orderdate")).alias("month")
        )
        .pivot("o_orderpriority", _PIVOT_PRI)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "month",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("long").alias(f"n_{p[0]}")
            for p in _PIVOT_PRI
        ],
    ).orderBy("month")


O_AGG_PIVOT = """
SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
       count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_1,
       count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_2,
       count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_3,
       count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_4,
       count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_5
FROM orders GROUP BY 1 ORDER BY month
"""


def q_win_ntile(spark, sf_dir):
    """Quartile assignment of customers by account balance within each
    market segment (ntile(4), custkey tie-break) — the bucketing step of
    quantile-stratified analyses."""
    from pyspark.sql import Window as W

    c = _t(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal"), F.col("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


O_WIN_NTILE = """
SELECT c_custkey, c_mktsegment,
       CAST(ntile(4) OVER (PARTITION BY c_mktsegment
                           ORDER BY c_acctbal, c_custkey) AS BIGINT) AS quartile
FROM customer
"""


def q_agg_count_distinct(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.count_distinct("c_nationkey").alias("n_nations"),
        F.count("*").alias("n"),
    )


O_AGG_CNTD = """
SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations, count(*) AS n
FROM customer GROUP BY c_mktsegment
"""


def q_win_running_sum(spark, sf_dir):
    from pyspark.sql import Window as W

    orders = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


O_WIN_RUNNING = """
SELECT o_custkey, o_orderkey,
       cast(sum(cast(o_totalprice as decimal(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS UNBOUNDED PRECEDING) as double) AS running_total
FROM orders
"""


def q_sql_grouping_sets(spark, sf_dir):
    """Exercises the spark.sql() API surface over a registered temp view."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("events_v")
    return spark.sql(
        """
        SELECT event_type, cast(user_id % 10 as bigint) AS user_bucket,
               count(*) AS n
        FROM events_v
        GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
        """
    )


O_SQL_GSETS = """
SELECT event_type, user_id % 10 AS user_bucket, count(*) AS n
FROM events GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
"""


# --------------------------------------------------------------------------
# As-of / range joins (custom operators Spark lacks natively)
# --------------------------------------------------------------------------


def q_join_asof(spark, sf_dir):
    """Each event joined to the customer's most recent order at event time.

    Right side deduped to one row per (custkey, orderdate) for exact
    cross-engine tie semantics (see operators/asof.py docstring)."""
    from pyspark.sql import Window as W

    from ..operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders")
    rn = F.row_number().over(
        W.partitionBy("o_custkey", "o_orderdate").orderBy(F.col("o_orderkey").desc())
    )
    r1 = (
        orders.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    )
    return asof_join(
        ev.withColumnRenamed("user_id", "o_custkey"),
        r1,
        on="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        right_cols=["o_orderkey", "o_totalprice"],
    ).select(
        "event_id",
        F.col("o_custkey").alias("user_id"),
        "o_orderkey",
        "o_totalprice",
    )


O_JOIN_ASOF = """
WITH r AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey, o_orderdate
                            ORDER BY o_orderkey DESC) AS rn
  FROM orders
), r1 AS (SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM r WHERE rn = 1)
SELECT e.event_id, e.user_id, r1.o_orderkey, r1.o_totalprice
FROM events e ASOF LEFT JOIN r1
  ON e.user_id = r1.o_custkey AND e.ts >= r1.o_orderdate
"""


def q_join_asof_tolerance(spark, sf_dir):
    """As-of join with a freshness tolerance (pandas merge_asof-style):
    each event joined to the SAME USER's most recent purchase event, but
    only if it happened within the preceding 2 hours — attribution with a
    staleness cutoff.  The purchase side is deduped to one row per
    (user, ts) for exact cross-engine tie semantics."""
    from pyspark.sql import Window as W

    from ..operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    purchases = _t(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    rn = F.row_number().over(
        W.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    )
    r1 = (
        purchases.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
    )
    return asof_join(
        ev,
        r1,
        on="user_id",
        left_ts="ts",
        right_ts="p_ts",
        right_cols=["purchase_id", "purchase_value"],
        tolerance_seconds=2 * 3600,
    ).select("event_id", "user_id", "purchase_id", "purchase_value")


O_JOIN_ASOF_TOL = """
WITH p AS (
  SELECT user_id, ts AS p_ts, event_id AS purchase_id, value AS purchase_value,
         row_number() OVER (PARTITION BY user_id, ts
                            ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'purchase'
), r1 AS (SELECT user_id, p_ts, purchase_id, purchase_value FROM p WHERE rn = 1)
SELECT e.event_id, e.user_id,
       CASE WHEN e.ts - r1.p_ts <= INTERVAL 2 HOUR
            THEN r1.purchase_id END AS purchase_id,
       CASE WHEN e.ts - r1.p_ts <= INTERVAL 2 HOUR
            THEN r1.purchase_value END AS purchase_value
FROM events e ASOF LEFT JOIN r1
  ON e.user_id = r1.user_id AND e.ts >= r1.p_ts
"""


def q_join_interval_overlap(spark, sf_dir):
    """Interval × interval overlap join via the bucketed equi-join (no
    theta/nested-loop anywhere): per-(user, day) activity spans × ±15-min
    windows around error events, hourly buckets, each qualifying pair
    emitted exactly once by the greatest-start-bucket rule.  Output: users
    with ≥1 overlapping error window and their pair counts."""
    from ..operators.asof import interval_overlap_join

    ev = _t(spark, sf_dir, "events")
    act = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.min("ts").alias("a_start"), F.max("ts").alias("a_end"))
    ew = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.expr("ts - INTERVAL 15 MINUTE").alias("w_start"),
        F.expr("ts + INTERVAL 15 MINUTE").alias("w_end"),
    )
    pairs = interval_overlap_join(
        act, "a_start", "a_end", ew, "w_start", "w_end", bucket_seconds=3600
    )
    return (
        pairs.groupBy("user_id")
        .agg(F.count("*").alias("n_overlaps"))
        .orderBy("user_id")
    )


O_JOIN_INTERVAL_OVERLAP = """
WITH act AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         min(ts) AS a_start, max(ts) AS a_end
  FROM events GROUP BY 1, 2
),
ew AS (
  SELECT event_id, ts - INTERVAL 15 MINUTE AS w_start,
         ts + INTERVAL 15 MINUTE AS w_end
  FROM events WHERE event_type = 'error'
)
SELECT a.user_id, count(*) AS n_overlaps
FROM act a JOIN ew w ON a.a_start <= w.w_end AND w.w_start <= a.a_end
GROUP BY 1 ORDER BY 1
"""


def q_join_asof_nearest(spark, sf_dir):
    """Nearest-direction as-of join (pandas merge_asof direction='nearest'):
    each event attributed to the same user's CLOSEST purchase within ±2 h,
    past or future, exact ties preferring the past one — both carries run
    over one partition exchange."""
    from pyspark.sql import Window as W

    from ..operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    purchases = _t(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    rn = F.row_number().over(
        W.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    )
    r1 = (
        purchases.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
    )
    return asof_join(
        ev,
        r1,
        on="user_id",
        left_ts="ts",
        right_ts="p_ts",
        right_cols=["purchase_id", "purchase_value"],
        tolerance_seconds=2 * 3600,
        direction="nearest",
    ).select("event_id", "user_id", "purchase_id", "purchase_value")


O_JOIN_ASOF_NEAREST = """
WITH p AS (
  SELECT user_id, ts AS p_ts, event_id AS purchase_id, value AS purchase_value,
         row_number() OVER (PARTITION BY user_id, ts
                            ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'purchase'
), r1 AS (SELECT user_id, p_ts, purchase_id, purchase_value FROM p WHERE rn = 1),
cand AS (
  SELECT e.event_id, e.user_id, r1.purchase_id, r1.purchase_value,
         row_number() OVER (
           PARTITION BY e.event_id
           ORDER BY abs(CAST(epoch(e.ts) AS BIGINT) - CAST(epoch(r1.p_ts) AS BIGINT)),
                    CASE WHEN r1.p_ts <= e.ts THEN 0 ELSE 1 END
         ) AS rn
  FROM events e LEFT JOIN r1
    ON r1.user_id = e.user_id
   AND abs(CAST(epoch(e.ts) AS BIGINT) - CAST(epoch(r1.p_ts) AS BIGINT)) <= 7200
)
SELECT event_id, user_id, purchase_id, purchase_value FROM cand WHERE rn = 1
"""


_PRICE_BANDS = [(0, "cheap", 900.0, 950.0), (1, "mid", 950.0, 980.0), (2, "high", 980.0, 1000.0)]


def q_join_range_bands(spark, sf_dir):
    """Parts binned into price-interval bands via the bucketed range join."""
    from ..operators.asof import range_join

    part = _t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    bands = spark.createDataFrame(
        _PRICE_BANDS, "band_id long, band string, lo double, hi double"
    )
    joined = range_join(part, "p_retailprice", bands, "lo", "hi", bucket_width=250.0)
    return joined.groupBy("band_id", "band").agg(
        F.count("*").alias("n"),
        F.expr("cast(sum(cast(p_retailprice as decimal(18,2))) as double)").alias(
            "sum_price"
        ),
    )


O_JOIN_RANGE = """
WITH bands(band_id, band, lo, hi) AS (
  VALUES (CAST(0 AS BIGINT), 'cheap', 900.0, 950.0),
         (CAST(1 AS BIGINT), 'mid', 950.0, 980.0),
         (CAST(2 AS BIGINT), 'high', 980.0, 1000.0)
)
SELECT band_id, band, count(*) AS n,
       cast(sum(cast(p_retailprice as decimal(18,2))) as double) AS sum_price
FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band_id, band
"""


def q_agg_above_segment_avg(spark, sf_dir):
    """Correlated-subquery shape: orders whose total exceeds their
    customer segment's average (decorrelates to a join against the
    segment aggregate; Catalyst plans exactly that)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    seg_avg = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            (
                F.expr("cast(sum(cast(o_totalprice as decimal(18,2))) as double)")
                / F.count("*")
            ).alias("seg_avg")
        )
    )
    return (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(seg_avg), "c_mktsegment")
        .where(F.col("o_totalprice") > F.col("seg_avg"))
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_above"))
    )


O_ABOVE_SEG_AVG = """
WITH j AS (
  SELECT o_totalprice, c_mktsegment
  FROM orders JOIN customer ON o_custkey = c_custkey
), s AS (
  SELECT c_mktsegment,
         cast(sum(cast(o_totalprice as decimal(18,2))) as double) / count(*) AS seg_avg
  FROM j GROUP BY c_mktsegment
)
SELECT j.c_mktsegment, count(*) AS n_above
FROM j JOIN s ON j.c_mktsegment = s.c_mktsegment
WHERE j.o_totalprice > s.seg_avg
GROUP BY j.c_mktsegment
"""


def q_agg_q10_returned_revenue(spark, sf_dir):
    """TPC-H Q10 shape: revenue lost to returned items per customer, top 20."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.expr(f"cast(sum({_DISC}) as double)").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


O_AGG_Q10 = f"""
SELECT c_custkey, c_name, n_name, cast(sum({_DISC}) as double) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


def q_agg_q12_priority_flags(spark, sf_dir):
    """TPC-H Q12 shape: urgent/non-urgent order counts per return flag —
    conditional aggregation (CASE inside SUM) over a fact⋈fact join."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(
                F.when(
                    F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
                ).otherwise(0)
            ).alias("high_line_count"),
            F.sum(
                F.when(
                    ~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
                ).otherwise(0)
            ).alias("low_line_count"),
        )
    )


O_AGG_Q12 = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_returnflag
"""


def q_agg_distinct_2phase(spark, sf_dir):
    """Skew-safe exact count-distinct: phase 1 dedupes (key, value) pairs
    (the shuffle spreads a hot key's values across partitions), phase 2
    counts per key.  Identical result to count(DISTINCT) with no single
    reducer holding a hot key's whole value set — the pattern that keeps
    working when one segment has 100× the traffic."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    pairs = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_mktsegment", "o_custkey")
        .distinct()
    )
    return pairs.groupBy("c_mktsegment").agg(F.count("*").alias("n_active_customers"))


O_DISTINCT_2PHASE = """
SELECT c_mktsegment, count(DISTINCT o_custkey) AS n_active_customers
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# Skew utilities — salted results must equal the plain-operator oracle
# --------------------------------------------------------------------------


def q_skew_salted_topn(spark, sf_dir):
    """Top-5 events per event_type (hot keys: ~20% of the table each) via
    two-phase salted ranking — the window never sees a whole hot key."""
    from ..operators.skew import salted_topn

    ev = _t(spark, sf_dir, "events")
    return salted_topn(
        ev.select("event_id", "event_type", "value"),
        ["event_type"],
        [F.col("value").desc(), F.col("event_id")],
        n=5,
        n_salt=8,
    )


O_SKEW_TOPN = """
SELECT event_id, event_type, value, rn FROM (
  SELECT event_id, event_type, value,
         CAST(row_number() OVER (
           PARTITION BY event_type ORDER BY value DESC, event_id
         ) AS INT) AS rn
  FROM events
) WHERE rn <= 5
"""


def q_skew_salted_join(spark, sf_dir):
    """Events (hot event_type keys) joined to a per-type dim with the
    small side replicated 8x and the fact side salted; aggregate in
    floor-cents so the sum is order-independent and engine-exact."""
    from ..operators.skew import salted_join

    ev = _t(spark, sf_dir, "events")
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn("type_class", F.substring("event_type", 1, 1))
    )
    joined = salted_join(
        ev.select("event_type", "value"), dim, ["event_type"], n_salt=8
    )
    return (
        joined.groupBy("type_class")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .orderBy("type_class")
    )


O_SKEW_JOIN = """
WITH dim AS (
  SELECT DISTINCT event_type, substr(event_type, 1, 1) AS type_class FROM events
)
SELECT d.type_class, count(*) AS n,
       CAST(sum(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events e JOIN dim d USING (event_type)
GROUP BY d.type_class ORDER BY d.type_class
"""


def q_win_frames(spark, sf_dir):
    """Window-frame breadth in one pass: sliding ROWS frame (centered 3-row
    decimal avg), RANGE frame (peers-inclusive running count by date),
    ntile(4) and exact percent_rank — the analytic-window family the
    reference lacks entirely (SURVEY §2.5)."""
    from pyspark.sql import Window as W

    orders = _t(spark, sf_dir, "orders")
    wo = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    rows3 = wo.rowsBetween(-1, 1)
    # RANGE frame needs a numeric/date order key alone; count peers ≤ date
    wrange = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    price_dec = F.col("o_totalprice").cast("decimal(18,2)")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (F.sum(price_dec).over(rows3) / F.count("*").over(rows3))
        .cast("decimal(22,6)")
        .cast("double")
        .alias("avg3"),
        F.count("*").over(wrange).alias("n_upto_date"),
        F.ntile(4).over(wo).alias("quartile"),
        # percent_rank as exact integer millionths: (rank-1)*1e6 div (n-1)
        F.expr(
            "cast(CASE WHEN count(*) OVER (PARTITION BY o_custkey) = 1 THEN 0 "
            "ELSE ((rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) - 1) * 1000000) "
            "div (count(*) OVER (PARTITION BY o_custkey) - 1) END as bigint)"
        ).alias("pr_millionths"),
    )


O_WIN_FRAMES = """
SELECT o_custkey, o_orderkey,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER rows3
                 / count(*) OVER rows3 AS DECIMAL(22,6)) AS DOUBLE) AS avg3,
       count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS n_upto_date,
       CAST(ntile(4) OVER wo AS INTEGER) AS quartile,
       CAST(CASE WHEN count(*) OVER (PARTITION BY o_custkey) = 1 THEN 0
            ELSE ((rank() OVER wo - 1) * 1000000)
                 // (count(*) OVER (PARTITION BY o_custkey) - 1) END AS BIGINT)
         AS pr_millionths
FROM orders
WINDOW wo AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       rows3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
"""


def q_agg_q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: orders with ≥1 slow lineitem (shipped ≥75 days after
    order date), counted by priority — the EXISTS semi-join aggregate with a
    non-equi component."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    slow = (
        orders.o_orderkey == li.l_orderkey
    ) & (li.l_shipdate >= F.date_add(orders.o_orderdate, 75))
    return (
        orders.join(li, slow, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


O_AGG_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate >= o_orderdate + INTERVAL 75 DAY
)
GROUP BY o_orderpriority
"""


def q_agg_q14_promo_share(spark, sf_dir):
    """TPC-H Q14 shape: promo revenue share — conditional aggregation over a
    join, in exact DECIMAL then millionths."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    # fully integer revenue unit (cent × percent): both factors go through
    # the identical double→round path on both engines, so sums are exact and
    # no final decimal rounding (with its engine-specific tie rule) occurs
    rev = F.expr(
        "cast(round(l_extendedprice * 100) as decimal(18,0))"
        " * cast(round((1 - l_discount) * 100) as decimal(18,0))"
    )
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    return j.agg(
        F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0)))
        .cast("decimal(38,0)")
        .alias("promo_dec"),
        F.sum(rev).cast("decimal(38,0)").alias("total_dec"),
    ).select(
        F.col("promo_dec").cast("bigint").alias("promo_cents100"),
        F.col("total_dec").cast("bigint").alias("total_cents100"),
        F.expr("cast((promo_dec * 1000000) div total_dec as bigint)").alias(
            "promo_millionths"
        ),
    )


O_AGG_Q14 = """
WITH j AS (
  SELECT CAST(round(l_extendedprice * 100) AS DECIMAL(18,0))
           * CAST(round((1 - l_discount) * 100) AS DECIMAL(18,0)) AS rev,
         p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN rev ELSE 0 END) AS BIGINT)
         AS promo_cents100,
       CAST(sum(rev) AS BIGINT) AS total_cents100,
       CAST((CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN rev ELSE 0 END) AS HUGEINT)
             * 1000000) // CAST(sum(rev) AS HUGEINT) AS BIGINT) AS promo_millionths
FROM j
"""


def q_win_time_range(spark, sf_dir):
    """Event-time RANGE window frame: trailing-24-hour spend per user —
    the time-interval frame (RANGE BETWEEN INTERVAL ... PRECEDING)
    distinct from every ROWS frame elsewhere in the suite.  RANGE
    includes ts-peers identically on both engines, so tied timestamps
    (common in real streams, generated by the events fuzzer) are
    deterministic by construction, no tiebreak column needed."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") % 11 == 0)
    return (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.expr("cast(round(value * 100) as bigint)").alias("cents"),
        )
        .select(
            "*",
            F.expr(
                "sum(cents) OVER (PARTITION BY user_id ORDER BY ts"
                " RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)"
            ).alias("trail_cents"),
        )
        .orderBy("user_id", "ts", "event_id")
    )


O_WIN_TIME_RANGE = """
SELECT user_id, ts, event_id,
       CAST(round(value * 100) AS BIGINT) AS cents,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
         PARTITION BY user_id ORDER BY ts
         RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)
       AS BIGINT) AS trail_cents
FROM events WHERE user_id % 11 = 0
ORDER BY user_id, ts, event_id
"""


def q_agg_listagg(spark, sf_dir):
    """Ordered string aggregation (LISTAGG / string_agg): nation roster
    per region, comma-joined in lexicographic order — deterministic
    because the order is total; Spark spells it
    array_join(sort_array(collect_list(...)))."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("n_name")), ","
            ).alias("nations"),
            F.count("*").alias("n_nations"),
        )
        .orderBy("r_name")
    )


O_AGG_LISTAGG = """
SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
       count(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


# --------------------------------------------------------------------------
# Further TPC-H plan shapes: two-sided dimension join (Q7), outer-join
# histogram (Q13), having-semi-join (Q18), disjunctive pushdown (Q19),
# anti-join + scalar subquery (Q22 shape).  All money/quantity arithmetic
# uses the integer cents recipe so cross-engine sums are order-free exact.
# --------------------------------------------------------------------------

_REV_CENTS100 = (
    "cast(round(l_extendedprice * 100) as decimal(18,0))"
    " * cast(round((1 - l_discount) * 100) as decimal(18,0))"
)


_REV_CENTS100_SQL = (
    "CAST(round(l_extendedprice * 100) AS DECIMAL(18,0))"
    " * CAST(round((1 - l_discount) * 100) AS DECIMAL(18,0))"
)


def q_agg_q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: shipping volume between two nations, by direction and
    ship year.  Two independent dimension chains hang off the fact table —
    supplier→nation on l_suppkey and orders→customer→nation on the order key
    — with a disjunctive filter over the (supp, cust) nation pair.

    Scale: both nation chains are broadcast (25-row dim); the only wide
    shuffle is lineitem⋈orders on orderkey, which bucketing co-locates at
    100 TB.  customer is broadcast here (15 k rows at sf0.1); on a real
    cluster it exceeds the broadcast threshold and AQE picks a shuffle join
    on o_custkey instead — the plan is declared, not hand-scheduled.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    supp_n = s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    cust_n = c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")).select(
        "c_custkey", F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp_n), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust_n, F.col("o_custkey") == F.col("c_custkey"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(F.expr(_REV_CENTS100)).cast("bigint").alias("volume_cents100"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


O_AGG_Q7 = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(sum({_REV_CENTS100_SQL}) AS BIGINT) AS volume_cents100
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def q_agg_q13_order_histogram(spark, sf_dir):
    """TPC-H Q13 shape: distribution of orders-per-customer — a LEFT OUTER
    join (customers with zero qualifying orders must survive with count 0)
    feeding a second aggregation over the first's result.

    Scale: two shuffles (custkey, then c_count); the second input is one row
    per customer and the histogram domain is tiny, so the second exchange is
    negligible.  The filter on the orders side is applied pre-join, inside
    the scan stage.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


O_AGG_Q13 = """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


def q_agg_q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: large-quantity orders — a HAVING-filtered aggregate
    used as a semi-join filter back onto the fact/dim chain.

    Quantities ride as exact integer cents so the HAVING threshold is an
    integer comparison on both engines.  Scale: the groupBy(l_orderkey)
    pre-aggregates map-side; the surviving key set is tiny (p99 of order
    quantity is ~262 at this distribution, threshold 300), so the back-join
    is a broadcast of the filtered keys — the classic "aggregate once,
    semi-join the survivors" shape.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    qty = "cast(round(l_quantity * 100) as decimal(18,0))"
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.expr(qty)).cast("bigint").alias("qty_cents"))
        .where(F.col("qty_cents") > 300 * 100)
    )
    return (
        o.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.expr("cast(round(o_totalprice * 100) as bigint)").alias("total_cents"),
            "qty_cents",
        )
        .orderBy(F.desc("total_cents"), "o_orderkey")
        .limit(20)
    )


O_AGG_Q18 = """
WITH big AS (
  SELECT l_orderkey,
         CAST(sum(CAST(round(l_quantity * 100) AS DECIMAL(18,0))) AS BIGINT)
           AS qty_cents
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(round(l_quantity * 100) AS DECIMAL(18,0))) > 30000
)
SELECT c_name, c_custkey, o_orderkey,
       CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents, qty_cents
FROM orders JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_cents DESC, o_orderkey LIMIT 20
"""


def q_agg_q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: revenue under a disjunction of (brand, size,
    quantity-band) predicate groups spanning both join sides.

    The common conjuncts (p_size >= 1, quantity bounds) still push into the
    scans; the brand-specific OR evaluates post-join.  One broadcast join,
    one scalar aggregate — no wide shuffle at any scale.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")

    def band(brand: str, max_size: int, qlo: int, qhi: int):
        return (
            (F.col("p_brand") == brand)
            & (F.col("p_size").between(1, max_size))
            & (F.col("l_quantity").between(qlo, qhi))
        )

    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .where(
            band("Brand#12", 15, 1, 15)
            | band("Brand#23", 20, 10, 25)
            | band("Brand#34", 25, 20, 35)
        )
        .agg(F.sum(F.expr(_REV_CENTS100)).cast("bigint").alias("revenue_cents100"))
    )


O_AGG_Q19 = f"""
SELECT CAST(sum({_REV_CENTS100_SQL}) AS BIGINT) AS revenue_cents100
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 20 AND 35)
"""


def q_agg_q22_idle_rich(spark, sf_dir):
    """TPC-H Q22 shape: per-nation count/balance of above-average-balance
    customers who never placed an URGENT order — scalar-subquery threshold +
    anti-join.

    The average-balance comparison is cross-multiplied into pure integers
    (bal_cents · n_pos > sum_pos_cents) so no engine ever divides: exact on
    both sides with zero rounding policy.  Scale: the threshold aggregate is
    one row (broadcast); the anti-join shuffles on custkey — or broadcasts
    the distinct urgent-custkey set when it is small, which AQE decides.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    bal = F.expr("cast(round(c_acctbal * 100) as bigint)")
    pos = c.where(F.col("c_acctbal") > 0).agg(
        F.sum(bal).alias("sum_pos_cents"), F.count("*").alias("n_pos")
    )
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return (
        c.withColumn("bal_cents", bal)
        .crossJoin(F.broadcast(pos))
        .where(F.col("bal_cents") * F.col("n_pos") > F.col("sum_pos_cents"))
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("numcust"), F.sum("bal_cents").alias("totbal_cents"))
        .orderBy("c_nationkey")
    )


O_AGG_Q22 = """
WITH pos AS (
  SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_pos_cents,
         count(*) AS n_pos
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey, count(*) AS numcust,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS totbal_cents
FROM customer, pos
WHERE CAST(round(c_acctbal * 100) AS BIGINT) * n_pos > sum_pos_cents
  AND c_custkey NOT IN (
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
GROUP BY c_nationkey ORDER BY c_nationkey
"""


def q_agg_corr_regr(spark, sf_dir):
    """Pearson correlation + OLS slope/intercept of (quantity, whole-dollar
    price) per return flag — the statistical-aggregate surface (corr/covar/
    regr_*) computed from EXACT integer component sums (n, Σx, Σy, Σxy,
    Σx², Σy²), so the one final double formula is identical on any engine.
    Whole-dollar y (cents div 100) keeps Σy² far from BIGINT overflow at
    any SF.  Zero-variance groups yield NULL, not a divide crash."""
    from ..operators.profiling import corr_regr_stats

    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        F.expr("cast(round(l_extendedprice * 100) as bigint) div 100").alias("y"),
    )
    return corr_regr_stats(base, "l_returnflag")


O_AGG_CORR = """
WITH base AS (
  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) // 100 AS y
  FROM lineitem
),
comps AS (
  SELECT l_returnflag, count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM base GROUP BY l_returnflag
),
staged AS (
  SELECT *,
         CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS vx,
         CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS vy,
         CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS cnum
  FROM comps
)
SELECT l_returnflag, n AS n_rows,
       CASE WHEN vx > 0 AND vy > 0 THEN
         CAST(floor(cnum / sqrt(vx * vy) * 1000000) AS BIGINT) ELSE NULL END
         AS corr_micro,
       CASE WHEN vx > 0 THEN
         CAST(floor(cnum / vx * 1000000) AS BIGINT) ELSE NULL END AS slope_micro,
       CASE WHEN vx > 0 THEN
         CAST(floor((sy - cnum / vx * sx) / n * 1000000) AS BIGINT) ELSE NULL END
         AS icept_micro
FROM staged
"""


def q_agg_skew_kurtosis(spark, sf_dir):
    """Skewness and excess kurtosis of order quantity per return flag from
    EXACT integer moment sums (Σx..Σx⁴ — quantity ≤ 50, so x⁴ is far from
    the BIGINT ceiling at any SF); the closing formulas are one fixed
    double-expression tree, micro-quantized."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.select("l_returnflag", F.col("l_quantity").cast("long").alias("x"))
    m = base.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.expr("x * x")).alias("s2"),
        F.sum(F.expr("x * x * x")).alias("s3"),
        F.sum(F.expr("x * x * x * x")).alias("s4"),
    )
    staged = (
        m.withColumn("mu", F.expr("cast(s1 as double) / n"))
        .withColumn("m2", F.expr("cast(s2 as double) / n - mu * mu"))
        .withColumn(
            "m3",
            F.expr("cast(s3 as double) / n - 3 * mu * (cast(s2 as double) / n)"
                   " + 2 * mu * mu * mu"),
        )
        .withColumn(
            "m4",
            F.expr(
                "cast(s4 as double) / n - 4 * mu * (cast(s3 as double) / n)"
                " + 6 * mu * mu * (cast(s2 as double) / n) - 3 * mu * mu * mu * mu"
            ),
        )
    )
    return staged.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        F.expr(
            "CASE WHEN m2 > 0 THEN cast(floor(m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2))"
            " * 1000000) as bigint) ELSE NULL END"
        ).alias("skew_micro"),
        F.expr(
            "CASE WHEN m2 > 0 THEN cast(floor((m4 / (m2 * m2) - 3) * 1000000)"
            " as bigint) ELSE NULL END"
        ).alias("kurt_micro"),
    )


O_AGG_SKEWKURT = """
WITH base AS (
  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x FROM lineitem
),
m AS (
  SELECT l_returnflag, count(*) AS n,
         CAST(sum(x) AS BIGINT) AS s1, CAST(sum(x * x) AS BIGINT) AS s2,
         CAST(sum(x * x * x) AS BIGINT) AS s3,
         CAST(sum(x * x * x * x) AS BIGINT) AS s4
  FROM base GROUP BY l_returnflag
),
staged AS (
  SELECT *, CAST(s1 AS DOUBLE) / n AS mu FROM m
),
staged2 AS (
  SELECT *,
         CAST(s2 AS DOUBLE) / n - mu * mu AS m2,
         CAST(s3 AS DOUBLE) / n - 3 * mu * (CAST(s2 AS DOUBLE) / n)
           + 2 * mu * mu * mu AS m3,
         CAST(s4 AS DOUBLE) / n - 4 * mu * (CAST(s3 AS DOUBLE) / n)
           + 6 * mu * mu * (CAST(s2 AS DOUBLE) / n) - 3 * mu * mu * mu * mu AS m4
  FROM staged
)
SELECT l_returnflag, n AS n_rows,
       CASE WHEN m2 > 0 THEN CAST(floor(m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2))
            * 1000000) AS BIGINT) ELSE NULL END AS skew_micro,
       CASE WHEN m2 > 0 THEN CAST(floor((m4 / (m2 * m2) - 3) * 1000000)
            AS BIGINT) ELSE NULL END AS kurt_micro
FROM staged2
"""


def q_win_first_last(spark, sf_dir):
    """first_value / last_value / nth_value over each customer's order
    history (full-partition frame) — the remaining ranking-window surface:
    first order date, latest order cents, second order key per customer,
    one row per customer (1-in-31 sample)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") % 31 == 0)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    enriched = o.select(
        "o_custkey",
        "o_orderkey",
        F.first_value(F.col("o_orderdate")).over(w).alias("first_date"),
        F.last_value(F.expr("cast(round(o_totalprice * 100) as bigint)"))
        .over(w)
        .alias("last_cents"),
        F.nth_value(F.col("o_orderkey"), 2).over(w).alias("second_order"),
        F.row_number()
        .over(Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
        .alias("rn"),
    )
    return enriched.where(F.col("rn") == 1).drop("rn")


O_WIN_FIRST_LAST = """
WITH base AS (SELECT * FROM orders WHERE o_custkey % 31 = 0),
enriched AS (
  SELECT o_custkey, o_orderkey,
         first_value(o_orderdate) OVER w AS first_date,
         last_value(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS last_cents,
         nth_value(o_orderkey, 2) OVER w AS second_order,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM base
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT o_custkey, o_orderkey, first_date, last_cents, second_order
FROM enriched WHERE rn = 1
"""


def q_join_bloom_prefilter(spark, sf_dir):
    """Explicit Bloom runtime-filter join: lineitem rows are dropped by an
    8 KB broadcast sketch of the urgent-order keys BEFORE the join
    shuffle; the oracle is the PLAIN join — the equivalence (no false
    negatives, exact join removes false positives) is the contract."""
    from ..operators.skew import bloom_prefilter_join

    li = _t(spark, sf_dir, "lineitem")
    urgent = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    joined = bloom_prefilter_join(li, "l_orderkey", urgent, "o_orderkey")
    return joined.groupBy("l_returnflag").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )


O_JOIN_BLOOM = """
SELECT l_returnflag, count(*) AS n_lines,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY l_returnflag
"""


def q_win_percent_rank(spark, sf_dir):
    """percent_rank + cume_dist per order priority over a deterministic
    1-in-97 order sample (micro-quantized: both are exact small rationals
    from one division, identical on any engine).  Completes the ranking-
    window surface next to rank/ntile."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 97 == 0)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.expr("cast(round(o_totalprice * 100) as bigint)"), "o_orderkey"
    )
    return o.select(
        "o_orderpriority",
        "o_orderkey",
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("cents"),
        F.floor(F.percent_rank().over(w) * F.lit(1_000_000.0))
        .cast("long")
        .alias("pr_micro"),
        F.floor(F.cume_dist().over(w) * F.lit(1_000_000.0))
        .cast("long")
        .alias("cd_micro"),
    )


O_WIN_PERCENT_RANK = """
SELECT o_orderpriority, o_orderkey,
       CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
       CAST(floor(percent_rank() OVER w * 1000000.0) AS BIGINT) AS pr_micro,
       CAST(floor(cume_dist() OVER w * 1000000.0) AS BIGINT) AS cd_micro
FROM orders WHERE o_orderkey % 97 = 0
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey)
"""


def q_agg_percentile(spark, sf_dir):
    """Exact interpolated percentiles per segment (Spark `percentile` ==
    DuckDB `quantile_cont`, verified bit-exact)."""
    cust = _t(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.expr("percentile(c_acctbal, 0.5)").alias("median_acctbal"),
        F.expr("percentile(c_acctbal, 0.9)").alias("p90_acctbal"),
    )


O_AGG_PCTL = """
SELECT c_mktsegment,
       quantile_cont(c_acctbal, 0.5) AS median_acctbal,
       quantile_cont(c_acctbal, 0.9) AS p90_acctbal
FROM customer GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# Q8 — national market share: two dimension chains, ratio as (num, den)
# --------------------------------------------------------------------------


def q_agg_q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: NATION_1's share of STANDARD-part volume sold into
    EUROPE customers, by order year.  Two independent dim chains (supplier
    →nation for the "which nation supplied it" axis; customer→nation→
    region restricting the market) hang off lineitem⋈orders.

    The share is returned as (nation_volume, total_volume) integer pair —
    no division anywhere, so both engines agree bit-for-bit.  Scale: all
    dims broadcast; the one wide shuffle is lineitem⋈orders on orderkey.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    mkt_cust = (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "EUROPE")
        .select("c_custkey")
    )
    supp_n = s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    vol = F.expr(_REV_CENTS100)
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(mkt_cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(supp_n), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("nation_volume_cents100"),
            F.sum(vol).cast("bigint").alias("total_volume_cents100"),
        )
        .orderBy("o_year")
    )


O_AGG_Q8 = f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CASE WHEN sn.n_name = 'NATION_1' THEN {_REV_CENTS100_SQL}
                     ELSE 0 END) AS BIGINT) AS nation_volume_cents100,
       CAST(sum({_REV_CENTS100_SQL}) AS BIGINT) AS total_volume_cents100
FROM lineitem
JOIN part     ON l_partkey = p_partkey AND p_type = 'STANDARD'
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE o_custkey IN (
  SELECT c_custkey FROM customer
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'EUROPE')
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# Q15 — top supplier: aggregate ⋈ scalar-max of itself
# --------------------------------------------------------------------------


def q_agg_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: revenue per supplier over a quarter, then keep the
    supplier(s) achieving the maximum — the "aggregate joined to a scalar
    aggregate of itself" pattern.

    Integer-cents revenue makes the equality-with-max exact.  Scale: the
    per-supplier aggregate is one shuffle; the scalar max is one row,
    broadcast back.
    """
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(F.expr(_REV_CENTS100)).cast("bigint").alias("total_revenue_cents100"))
    )
    mx = rev.agg(F.max("total_revenue_cents100").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue_cents100") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue_cents100")
        .orderBy("s_suppkey")
    )


O_AGG_Q15 = f"""
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum({_REV_CENTS100_SQL}) AS BIGINT) AS total_revenue_cents100
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue_cents100
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue_cents100 = (SELECT max(total_revenue_cents100) FROM rev)
ORDER BY s_suppkey
"""


# --------------------------------------------------------------------------
# Q17 — small-quantity-order revenue: avg-correlated subquery
# --------------------------------------------------------------------------


def q_agg_q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: revenue from lines whose quantity is below 20% of
    the part's average quantity — the correlated-average subquery, expressed
    as a per-part aggregate joined back to the fact.

    The `qty < 0.2 * avg(qty)` comparison is cross-multiplied into pure
    integers (5·qty_cents·cnt < sum_qty_cents) so neither engine divides.
    Brand filter stands in for the missing container column.  Scale: the
    per-part aggregate and the back-join both key on partkey — one
    repartition serves both sides (and the filtered part dim broadcasts).
    """
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#13") & (F.col("p_size") < 20)
    )
    li = _t(spark, sf_dir, "lineitem")
    qty = "cast(round(l_quantity * 100) as bigint)"
    li_p = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    per_part = li_p.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.expr(qty)).alias("sum_qty_cents"), F.count("*").alias("cnt")
    )
    return (
        li_p.join(per_part, F.col("l_partkey") == F.col("pk"))
        .where(F.expr(qty) * 5 * F.col("cnt") < F.col("sum_qty_cents"))
        .agg(
            F.sum(F.expr("cast(round(l_extendedprice * 100) as decimal(18,0))"))
            .cast("bigint")
            .alias("small_qty_price_cents")
        )
    )


O_AGG_Q17 = """
WITH li_p AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#13' AND p_size < 20
), per_part AS (
  SELECT l_partkey AS pk,
         sum(CAST(round(l_quantity * 100) AS BIGINT)) AS sum_qty_cents,
         count(*) AS cnt
  FROM li_p GROUP BY 1
)
SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS DECIMAL(18,0)))
            AS BIGINT) AS small_qty_price_cents
FROM li_p JOIN per_part ON l_partkey = pk
WHERE CAST(round(l_quantity * 100) AS BIGINT) * 5 * cnt < sum_qty_cents
"""


# --------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting: double-correlated EXISTS
# --------------------------------------------------------------------------


def q_agg_q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape: for finished multi-supplier orders, the supplier
    whose line shipped strictly last (adapted: shipdate ranks replace the
    missing commit/receipt dates).  The reference query's
    EXISTS(other supplier) AND NOT EXISTS(other supplier shipped later)
    pair collapses to: this supplier's latest line is the order's unique
    maximum, and another supplier exists.

    Implemented window-free of self-joins: one per-(order, supplier)
    aggregate, then order-level window ranks.  Scale: both the aggregate
    and the window partition on orderkey — a single exchange serves both.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    per = (
        li.join(o.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("supp_last"))
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per.select(
        "*",
        F.max("supp_last").over(w).alias("order_last"),
        F.count("*").over(w).alias("n_supp"),
    ).withColumn(
        "n_at_max",
        F.sum(F.when(F.col("supp_last") == F.col("order_last"), 1).otherwise(0)).over(w),
    )
    return (
        flagged.where(
            (F.col("n_supp") > 1)
            & (F.col("n_at_max") == 1)
            & (F.col("supp_last") == F.col("order_last"))
        )
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_suppkey")
        .limit(20)
    )


O_AGG_Q21 = """
WITH per AS (
  SELECT l_orderkey, l_suppkey, max(l_shipdate) AS supp_last
  FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
  GROUP BY 1, 2
), w1 AS (
  SELECT *,
         max(supp_last) OVER (PARTITION BY l_orderkey) AS order_last,
         count(*) OVER (PARTITION BY l_orderkey) AS n_supp
  FROM per
), flagged AS (
  SELECT *,
         sum(CASE WHEN supp_last = order_last THEN 1 ELSE 0 END)
           OVER (PARTITION BY l_orderkey) AS n_at_max
  FROM w1
)
SELECT s_suppkey, s_name, count(*) AS numwait
FROM flagged JOIN supplier ON l_suppkey = s_suppkey
WHERE n_supp > 1 AND n_at_max = 1 AND supp_last = order_last
GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey LIMIT 20
"""


# --------------------------------------------------------------------------
# Derived partsupp — shared by the Q2/Q9/Q11/Q16/Q20 shapes
# --------------------------------------------------------------------------


def _partsupp(spark, sf_dir):
    """Deterministic partsupp stand-in derived from lineitem.

    One row per (l_partkey, l_suppkey):
      ps_supplycost_cents = min(round(l_extendedprice*100))  — integer min
      ps_availqty_cents   = sum(round(l_quantity*100))       — integer sum
    min/sum over integers are order-independent, so Spark's partial
    aggregation and DuckDB's serial scan agree bit-for-bit.  Scale: one
    shuffle on the composite key; at 100 TB this view would be a bucketed
    materialization shared by all five queries.
    """
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(F.expr("cast(round(l_extendedprice * 100) as bigint)")).alias(
            "ps_supplycost_cents"
        ),
        F.sum(F.expr("cast(round(l_quantity * 100) as bigint)")).alias(
            "ps_availqty_cents"
        ),
    )


_PARTSUPP_SQL = """
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS ps_supplycost_cents,
         sum(CAST(round(l_quantity * 100) AS BIGINT)) AS ps_availqty_cents
  FROM lineitem GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Q2 — minimum-cost supplier: correlated-min subquery over partsupp
# --------------------------------------------------------------------------


def q_agg_q2_min_cost_supp(spark, sf_dir):
    """TPC-H Q2 shape: for each qualifying part, the EUROPE supplier(s)
    offering the minimum supply cost — the correlated-min subquery, here a
    window min over the region-restricted partsupp.

    Scale: partsupp shuffles once on ps_partkey (serving both the window
    and the part join); supplier/nation/region broadcast.
    """
    ps = _partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    p = _t(spark, sf_dir, "part").where(
        F.col("p_size").isin(5, 15, 25, 35, 45) & (F.col("p_type") == "LARGE")
    )
    eu_supp = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    w = Window.partitionBy("ps_partkey")
    eu_ps = ps.join(
        F.broadcast(eu_supp), F.col("ps_suppkey") == F.col("s_suppkey")
    ).withColumn("min_cost", F.min("ps_supplycost_cents").over(w))
    return (
        eu_ps.where(F.col("ps_supplycost_cents") == F.col("min_cost"))
        .join(F.broadcast(p), F.col("ps_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            "ps_supplycost_cents",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


O_AGG_Q2 = f"""
WITH ps AS ({_PARTSUPP_SQL}),
eu_ps AS (
  SELECT ps.*, s_suppkey, s_name, s_acctbal, n_name,
         min(ps_supplycost_cents) OVER (PARTITION BY ps_partkey) AS min_cost
  FROM ps
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, ps_supplycost_cents
FROM eu_ps
JOIN part ON ps_partkey = p_partkey AND p_size IN (5, 15, 25, 35, 45) AND p_type = 'LARGE'
WHERE ps_supplycost_cents = min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
"""


# --------------------------------------------------------------------------
# Q9 — product-type profit: 5-way join incl. composite-key partsupp
# --------------------------------------------------------------------------


def q_agg_q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit by (supplier nation, order year) over parts
    matching a name predicate — lineitem ⋈ partsupp on the COMPOSITE
    (partkey, suppkey) key, plus part/orders/supplier/nation dims.

    profit is the all-integer form
      10000·rev_cents100 − qty_cents·ps_supplycost_cents
    (revenue scaled up instead of cost divided down — no division, so the
    DECIMAL sum is bit-identical across engines).  Scale: the composite-key
    join is the one wide shuffle; dims broadcast.
    """
    li = _t(spark, sf_dir, "lineitem")
    ps = _partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%gear%"))
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    profit = (
        F.expr(_REV_CENTS100).cast("decimal(38,0)") * 10000
        - F.expr("cast(round(l_quantity * 100) as decimal(38,0))")
        * F.col("ps_supplycost_cents")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            ps,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(o.select("o_orderkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(profit).cast("bigint").alias("profit_scaled"))
        .orderBy("nation", F.desc("o_year"))
    )


O_AGG_Q9 = f"""
WITH ps AS ({_PARTSUPP_SQL})
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CAST({_REV_CENTS100_SQL} AS DECIMAL(38,0)) * 10000
                - CAST(round(l_quantity * 100) AS DECIMAL(38,0))
                  * ps_supplycost_cents) AS BIGINT) AS profit_scaled
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%gear%'
JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1, 2 ORDER BY nation, o_year DESC
"""


# --------------------------------------------------------------------------
# Q11 — important stock: group-aggregate vs global scalar threshold
# --------------------------------------------------------------------------


def q_agg_q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape: per-part inventory value within one nation, kept
    only when it exceeds a fixed fraction of the nation's total — the
    scalar-subquery-threshold pattern.

    value = ps_supplycost_cents · ps_availqty_cents (integer product); the
    `part_value > 0.0001 × total` comparison is cross-multiplied to
    `part_value · 10000 > total` so no engine divides.  Scale: the
    per-part aggregate is one shuffle; the grand total is one row
    broadcast back (crossJoin of a 1-row DataFrame).
    """
    ps = _partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    nat_ps = ps.join(
        F.broadcast(
            s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")).select(
                "s_suppkey"
            )
        ),
        F.col("ps_suppkey") == F.col("s_suppkey"),
        "left_semi",
    ).withColumn(
        "value",
        (
            F.col("ps_supplycost_cents").cast("decimal(38,0)")
            * F.col("ps_availqty_cents")
        ),
    )
    per_part = nat_ps.groupBy("ps_partkey").agg(
        F.sum("value").cast("decimal(38,0)").alias("part_value_dec")
    )
    total = nat_ps.agg(F.sum("value").cast("decimal(38,0)").alias("total_value"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("part_value_dec") * 10000 > F.col("total_value"))
        .select(
            "ps_partkey", F.col("part_value_dec").cast("bigint").alias("part_value")
        )
        .orderBy(F.desc("part_value"), "ps_partkey")
    )


O_AGG_Q11 = f"""
WITH ps AS ({_PARTSUPP_SQL}),
nat_ps AS (
  SELECT ps.*,
         CAST(ps_supplycost_cents AS DECIMAL(38,0)) * ps_availqty_cents AS value
  FROM ps
  WHERE ps_suppkey IN (
    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3')
)
SELECT ps_partkey, CAST(sum(value) AS BIGINT) AS part_value
FROM nat_ps
GROUP BY 1
HAVING CAST(sum(value) AS DECIMAL(38,0)) * 10000 >
       (SELECT CAST(sum(value) AS DECIMAL(38,0)) FROM nat_ps)
ORDER BY part_value DESC, ps_partkey
"""


# --------------------------------------------------------------------------
# Q16 — supplier counts by part description: NOT-IN + count distinct
# --------------------------------------------------------------------------


def q_agg_q16_supplier_cnt(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type, size)
    for parts outside one brand/type, excluding "complaint" suppliers —
    the NOT-IN anti-join + COUNT(DISTINCT) pattern.  Negative account
    balance stands in for the missing comment-LIKE complaint filter.

    Scale: part broadcast into partsupp; the anti-join side (bad
    suppliers) broadcasts; count distinct shuffles on the group key with
    partial aggregation.
    """
    ps = _partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#13")
        & (~F.col("p_type").startswith("PROMO"))
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    )
    bad_supp = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        ps.join(F.broadcast(p), F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad_supp),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


O_AGG_Q16 = f"""
WITH ps AS ({_PARTSUPP_SQL})
SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
FROM ps
JOIN part ON ps_partkey = p_partkey
WHERE p_brand <> 'Brand#13' AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# --------------------------------------------------------------------------
# Q20 — heavy-1995 suppliers: nested semi-join chain
# --------------------------------------------------------------------------


def q_agg_q20_promo_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers in one nation holding stock of name-
    matched parts whose 1995 shipments exceeded half their total quantity
    — the nested semi-join chain (supplier ⋉ partsupp ⋉ (part, dated
    lineitem aggregate)).

    The reference's `availqty > 0.5·qty` flips to `2·qty_1995 >
    ps_availqty_cents` (1995 shipments dominate) because derived availqty
    is total shipped quantity, which can never be under half of itself.
    Integer cross-multiply — no division.  Scale: the dated lineitem
    aggregate and partsupp both key on (partkey, suppkey); part and
    supplier broadcast.
    """
    ps = _partsupp(spark, sf_dir)
    li95 = (
        _t(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1996-01-01")
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.expr("cast(round(l_quantity * 100) as bigint)")).alias(
                "qty95_cents"
            )
        )
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("small%")).select(
        "p_partkey"
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_7")
    heavy = (
        ps.join(F.broadcast(p), F.col("ps_partkey") == F.col("p_partkey"), "left_semi")
        .join(
            li95,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .where(F.col("qty95_cents") * 2 > F.col("ps_availqty_cents"))
        .select("ps_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(heavy, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


O_AGG_Q20 = f"""
WITH ps AS ({_PARTSUPP_SQL}),
li95 AS (
  SELECT l_partkey, l_suppkey,
         sum(CAST(round(l_quantity * 100) AS BIGINT)) AS qty95_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
  GROUP BY 1, 2
)
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_7'
WHERE s_suppkey IN (
  SELECT ps_suppkey FROM ps
  JOIN li95 ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
  WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
    AND qty95_cents * 2 > ps_availqty_cents)
ORDER BY s_name
"""


GATES: dict[str, tuple] = {
    "agg_q1_pricing_summary": (q_agg_q1_pricing_summary, O_AGG_Q1),
    "agg_q3_shipping_priority": (q_agg_q3_shipping_priority, O_AGG_Q3),
    "agg_q5_region_revenue": (q_agg_q5_region_revenue, O_AGG_Q5),
    "agg_rollup": (q_agg_rollup, O_AGG_ROLLUP),
    "win_rank": (q_win_rank, O_WIN_RANK),
    "win_lag": (q_win_lag, O_WIN_LAG),
    "set_intersect": (q_set_intersect, O_SET_INTERSECT),
    "set_except": (q_set_except, O_SET_EXCEPT),
    "agg_corr_regr": (q_agg_corr_regr, O_AGG_CORR),
    "win_percent_rank": (q_win_percent_rank, O_WIN_PERCENT_RANK),
    "join_bloom_prefilter": (q_join_bloom_prefilter, O_JOIN_BLOOM),
    "agg_skew_kurtosis": (q_agg_skew_kurtosis, O_AGG_SKEWKURT),
    "win_first_last": (q_win_first_last, O_WIN_FIRST_LAST),
    "agg_q7_nation_volume": (q_agg_q7_nation_volume, O_AGG_Q7),
    "agg_q13_order_histogram": (q_agg_q13_order_histogram, O_AGG_Q13),
    "agg_q18_large_orders": (q_agg_q18_large_orders, O_AGG_Q18),
    "agg_q19_disjunctive_revenue": (q_agg_q19_disjunctive_revenue, O_AGG_Q19),
    "agg_q22_idle_rich": (q_agg_q22_idle_rich, O_AGG_Q22),
    "skew_salted_topn": (q_skew_salted_topn, O_SKEW_TOPN),
    "skew_salted_join": (q_skew_salted_join, O_SKEW_JOIN),
    "agg_distinct_2phase": (q_agg_distinct_2phase, O_DISTINCT_2PHASE),
    "agg_q10_returned_revenue": (q_agg_q10_returned_revenue, O_AGG_Q10),
    "agg_q12_priority_flags": (q_agg_q12_priority_flags, O_AGG_Q12),
    "agg_above_segment_avg": (q_agg_above_segment_avg, O_ABOVE_SEG_AVG),
    "join_asof": (q_join_asof, O_JOIN_ASOF),
    "join_asof_tolerance": (q_join_asof_tolerance, O_JOIN_ASOF_TOL),
    "join_asof_nearest": (q_join_asof_nearest, O_JOIN_ASOF_NEAREST),
    "join_interval_overlap": (q_join_interval_overlap, O_JOIN_INTERVAL_OVERLAP),
    "join_range_bands": (q_join_range_bands, O_JOIN_RANGE),
    "j2_adjacency_details": (q_j2_adjacency_details, O_J2),
    "agg_q6_forecast_revenue": (q_agg_q6_forecast_revenue, O_AGG_Q6),
    "agg_cube": (q_agg_cube, O_AGG_CUBE),
    "agg_pivot": (q_agg_pivot, O_AGG_PIVOT),
    "win_ntile": (q_win_ntile, O_WIN_NTILE),
    "agg_count_distinct": (q_agg_count_distinct, O_AGG_CNTD),
    "win_running_sum": (q_win_running_sum, O_WIN_RUNNING),
    "win_frames": (q_win_frames, O_WIN_FRAMES),
    "agg_q4_order_priority": (q_agg_q4_order_priority, O_AGG_Q4),
    "agg_q14_promo_share": (q_agg_q14_promo_share, O_AGG_Q14),
    "sql_grouping_sets": (q_sql_grouping_sets, O_SQL_GSETS),
    "win_time_range": (q_win_time_range, O_WIN_TIME_RANGE),
    "agg_listagg": (q_agg_listagg, O_AGG_LISTAGG),
    "agg_percentile": (q_agg_percentile, O_AGG_PCTL),
    "agg_q2_min_cost_supp": (q_agg_q2_min_cost_supp, O_AGG_Q2),
    "agg_q8_market_share": (q_agg_q8_market_share, O_AGG_Q8),
    "agg_q9_product_profit": (q_agg_q9_product_profit, O_AGG_Q9),
    "agg_q11_important_stock": (q_agg_q11_important_stock, O_AGG_Q11),
    "agg_q15_top_supplier": (q_agg_q15_top_supplier, O_AGG_Q15),
    "agg_q16_supplier_cnt": (q_agg_q16_supplier_cnt, O_AGG_Q16),
    "agg_q17_small_qty_revenue": (q_agg_q17_small_qty_revenue, O_AGG_Q17),
    "agg_q20_promo_suppliers": (q_agg_q20_promo_suppliers, O_AGG_Q20),
    "agg_q21_waiting_supplier": (q_agg_q21_waiting_supplier, O_AGG_Q21),
}
