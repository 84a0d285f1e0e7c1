"""Derive the engine's graph fixture from the driver's TPC-H-ish tables.

Per FIXTURES.md §3: one node per region/nation/customer/supplier/part row
(key = "<table>:<pk>", details = the row as JSON, typed index paths
declared per entity), plus foreign-key edges and order-derived edges that
give multi-hop paths customer→part→supplier→nation→region.

Everything here is a deterministic column-expression derivation so the
DuckDB oracle can reproduce any projected value with plain SQL.

Geo fixture: nations get a synthetic GeoJSON capital point
  lon = -180 + n_nationkey * 13.7,  lat = -80 + n_nationkey * 6.3
(deterministic, reproducible in SQL on both engines).

Deterministic update timestamps: '2024-01-01' + (pk % 365) days, giving the
time-range scan (SURVEY.md §2 S4) something to range over.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .ingest import make_edges, make_vertices
from .operators import dedup

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Memoized per (session, sf_dir): spark.read.parquet runs a footer/schema
# job per table, which would otherwise be re-paid by every query call.
_TABLE_CACHE: dict[tuple[str, str], dict[str, DataFrame]] = {}

def spread_low_parallelism(df: DataFrame) -> DataFrame:
    """Repartition a low-parallelism scan up to the session's parallelism.

    Guide §2.5 (input skew — unsplittable files): the driver's testdata
    ships every table as ONE parquet file with ONE row group, so each scan
    plans exactly one input split and ALL pre-shuffle compute — JSON
    assembly, tokenization, md5-per-gram fingerprinting, explode blowups —
    serializes on one core while 31 idle.  Spreading the scan is the
    guide's prescribed fix ("repartition immediately after the read").

    Scale-adaptive by construction, not a local[32] constant: the target is
    the session's ``defaultParallelism`` and the repartition only fires
    when the scan planned FEWER splits than that — at 100 TB any real table
    yields thousands of file splits, so this is a no-op there.  Filters and
    column pruning push through Repartition, so PushedFilters/ReadSchema at
    the parquet scan are unchanged; the exchange carries only the pruned
    projection.  Only call this on narrow scan-derived frames: ``df.rdd``
    on a frame with exchanges upstream would materialize AQE stages.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    from .session import session_memo

    return session_memo(_TABLE_CACHE, spark, sf_dir, lambda: _read_tables(spark, sf_dir))


def _read_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    # The driver (or any embedding application) supplies its own
    # SparkSession; events.parquet carries TIMESTAMP(NANOS) which vanilla
    # Spark rejects with PARQUET_TYPE_ILLEGAL. The conf is runtime-settable,
    # so set it here — on the passed-in session — rather than relying on the
    # builder in session.py having configured it.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    # Each spark.read.parquet pays a driver-side footer/schema job; ten
    # serial reads cost ~2 s even locally.  The reads are independent, so
    # issue them concurrently (py4j is thread-safe; Spark analyzes each
    # relation under its own lock).
    def _read(t: str) -> DataFrame:
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        # events.ts is TIMESTAMP(NANOS) parquet, surfaced as long nanos under
        # spark.sql.legacy.parquet.nanosAsLong (see above); restore it.
        if t == "events" and dict(df.dtypes).get("ts") == "bigint":
            # integer div, NOT /1000.0: epoch-nanos exceed double's 53-bit
            # mantissa, float division silently corrupts the microsecond
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        # No table is spread at load time: a blanket spread measured a net
        # loss (26-gate documents basket, 63.8 s vs 45.7 s natural); gates
        # with heavy per-row work call spread_low_parallelism locally.
        return df

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(len(TABLES)) as ex:
        dfs = list(ex.map(_read, TABLES))
    return dict(zip(TABLES, dfs))


def _ts(pk_col: str):
    return F.expr(
        f"timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, cast({pk_col} % 365 as int))"
    )


def _paths(*paths: list[str]):
    if not paths:
        return F.array().cast("array<array<string>>")
    return F.array(*[F.array(*[F.lit(k) for k in p]) for p in paths])


def nation_geo_struct():
    """GeoJSON Point struct for a nation row (deterministic fixture)."""
    return F.struct(
        F.lit("Point").alias("type"),
        F.array(
            F.lit(-180.0) + F.col("n_nationkey") * F.lit(13.7),
            F.lit(-80.0) + F.col("n_nationkey") * F.lit(6.3),
        ).alias("coordinates"),
    )


def build_vertices(t: dict[str, DataFrame]) -> DataFrame:
    """One vertices DataFrame across the five entity tables.

    At scale this would be written hash-bucketed by ``id`` (the Spark
    equivalent of the reference's 2048 id-sharded tables,
    sql/egraph_table_creation.sql:156-160) so point reads prune to a bucket.
    """
    region = t["region"].select(
        F.concat(F.lit("region:"), F.col("r_regionkey")).alias("key"),
        F.to_json(F.struct("r_regionkey", "r_name")).alias("details"),
        _paths(["r_name"]).alias("index_paths"),
        _paths().alias("lowercase_index_paths"),
        F.lit("region").alias("_kind"),
        _ts("r_regionkey").alias("_updated_at"),
    )
    nation = t["nation"].select(
        F.concat(F.lit("nation:"), F.col("n_nationkey")).alias("key"),
        F.to_json(
            F.struct(
                "n_nationkey",
                "n_name",
                "n_regionkey",
                nation_geo_struct().alias("capital_geolocation"),
            )
        ).alias("details"),
        _paths(["n_name"], ["capital_geolocation"]).alias("index_paths"),
        _paths(["n_name"]).alias("lowercase_index_paths"),
        F.lit("nation").alias("_kind"),
        _ts("n_nationkey").alias("_updated_at"),
    )
    customer = t["customer"].select(
        F.concat(F.lit("customer:"), F.col("c_custkey")).alias("key"),
        F.to_json(
            F.struct("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        ).alias("details"),
        _paths(["c_mktsegment"], ["c_acctbal"], ["c_name"]).alias("index_paths"),
        _paths(["c_mktsegment"]).alias("lowercase_index_paths"),
        F.lit("customer").alias("_kind"),
        _ts("c_custkey").alias("_updated_at"),
    )
    supplier = t["supplier"].select(
        F.concat(F.lit("supplier:"), F.col("s_suppkey")).alias("key"),
        F.to_json(F.struct("s_suppkey", "s_name", "s_nationkey", "s_acctbal")).alias(
            "details"
        ),
        _paths(["s_name"], ["s_acctbal"]).alias("index_paths"),
        _paths().alias("lowercase_index_paths"),
        F.lit("supplier").alias("_kind"),
        _ts("s_suppkey").alias("_updated_at"),
    )
    part = t["part"].select(
        F.concat(F.lit("part:"), F.col("p_partkey")).alias("key"),
        F.to_json(
            F.struct("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
        ).alias("details"),
        _paths(["p_brand"], ["p_type"], ["p_size"], ["p_retailprice"]).alias(
            "index_paths"
        ),
        _paths(["p_type"]).alias("lowercase_index_paths"),
        F.lit("part").alias("_kind"),
        _ts("p_partkey").alias("_updated_at"),
    )
    stacked = (
        region.unionByName(nation)
        .unionByName(customer)
        .unionByName(supplier)
        .unionByName(part)
    )
    return make_vertices(
        stacked, kind=F.col("_kind"), updated_at=F.col("_updated_at")
    ).drop("_kind", "_updated_at")


def build_edges(t: dict[str, DataFrame]) -> DataFrame:
    """FK edges + order-derived edges (see module docstring).

    The orders⋈lineitem derivation shuffles on l_orderkey once; at 100 TB
    both sides would be bucketed on orderkey so this is a co-located join.
    """
    def rel(r: str):
        return F.to_json(F.struct(F.lit(r).alias("rel"))).alias("details")

    cust_nation = t["customer"].select(
        F.concat(F.lit("customer:"), F.col("c_custkey")).alias("src_key"),
        F.concat(F.lit("nation:"), F.col("c_nationkey")).alias("dst_key"),
        rel("in_nation"),
    )
    supp_nation = t["supplier"].select(
        F.concat(F.lit("supplier:"), F.col("s_suppkey")).alias("src_key"),
        F.concat(F.lit("nation:"), F.col("s_nationkey")).alias("dst_key"),
        rel("in_nation"),
    )
    nation_region = t["nation"].select(
        F.concat(F.lit("nation:"), F.col("n_nationkey")).alias("src_key"),
        F.concat(F.lit("region:"), F.col("n_regionkey")).alias("dst_key"),
        rel("in_region"),
    )
    # distinct on the integer key pair BEFORE stringifying: the dedup
    # shuffle then carries 16 bytes/row instead of two concat'd strings
    cust_part = (
        t["orders"]
        .select("o_orderkey", "o_custkey")
        .join(t["lineitem"].select("l_orderkey", "l_partkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_custkey", "l_partkey")
        .distinct()
        .select(
            F.concat(F.lit("customer:"), F.col("o_custkey")).alias("src_key"),
            F.concat(F.lit("part:"), F.col("l_partkey")).alias("dst_key"),
            rel("ordered"),
        )
    )
    part_supp = (
        t["lineitem"]
        .select("l_partkey", "l_suppkey")
        .distinct()
        .select(
            F.concat(F.lit("part:"), F.col("l_partkey")).alias("src_key"),
            F.concat(F.lit("supplier:"), F.col("l_suppkey")).alias("dst_key"),
            rel("supplied_by"),
        )
    )
    stacked = (
        cust_nation.unionByName(supp_nation)
        .unionByName(nation_region)
        .unionByName(cust_part)
        .unionByName(part_supp)
    )
    return make_edges(stacked)


class GraphFixture:
    """Lazily derived (vertices, edges, indexes) over one sf directory."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        from .ingest import build_indexes

        self.spark = spark
        self.sf_dir = sf_dir
        self.tables = load_tables(spark, sf_dir)
        self.vertices = build_vertices(self.tables)
        self.edges = build_edges(self.tables)
        self.indexes = build_indexes(self.vertices)


# --------------------------------------------------------------------------
# Per-session gate inputs: the tables, the fixture and the shingle table
# every gate family reads, each memoised per (session, sf_dir).
# --------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_tables(spark, sf_dir)[name]


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


# Materialized shingle table, memoized per (session, sf_dir) by
# session.session_memo — the dedup family's shared derived input (see
# dedup.shingle_table).  Cached like the fixture's vertices/edges/indexes:
# the corpus-scan + explode + md5 cost is paid once, not once per
# signature family.
_DOC_SHINGLES: dict[tuple[str, str], object] = {}


def _docs_spread(spark, sf_dir: str):
    """documents scan spread to session width (graph.spread_low_parallelism)
    — used ONLY by the gates measured to win from it (heavy per-row
    compute, low-cardinality output aggregation; 26-gate basket A/B in
    OPTIMIZATION_r11.md).  Everything else reads the natural scan: the
    spread costs high-cardinality aggregates their map-side reduction."""
    return spread_low_parallelism(_t(spark, sf_dir, "documents"))


def doc_shingles(spark, sf_dir: str):
    from .session import session_memo

    # The shingle cache keeps the documents scan's NATURAL partitioning
    # (file splits).  Measured (r11, gate-level A/B swapping the cache in
    # one session): natural layout beat both a 32-wide round-robin cache
    # and id-/h-hash-partitioned caches on every shingle consumer
    # (dedup_lsh_recall 3.9 vs 6.6-10.9 s, dedup_source_overlap 1.7 vs
    # 2.7-3.8 s, dedup_hamming64_pairs ~3.0-3.7 both) — the family's
    # heavy keys (shingle/h/band) are high-cardinality, and
    # pre-scattering the cache multiplies every map-side partial
    # aggregate by the partition count, which costs more than the map
    # width buys.  At 100 TB the scan has thousands of splits and this is
    # simply the bucketed-derived-table layout the shingle_table
    # docstring already prescribes.
    return session_memo(
        _DOC_SHINGLES,
        spark,
        sf_dir,
        lambda: dedup.shingle_table(
            _t(spark, sf_dir, "documents"), "doc_id", "text"
        ).cache(),
    )
