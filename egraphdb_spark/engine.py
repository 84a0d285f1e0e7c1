"""Engine — the user-facing facade, one method per reference endpoint.

A user of the reference interacts with HTTP routes (src/egraph_app.erl:
166-183); a user of this engine calls the matching method on one object:

| reference route                          | Engine method            |
|------------------------------------------|--------------------------|
| GET  /detail/:id?keytype=…               | get_detail               |
| POST /detail (create_or_update)          | upsert_nodes             |
| DELETE /detail/:id                       | delete_nodes             |
| GET  /link/:id                           | out_edges                |
| GET  /link/:src/:dst                     | edge                     |
| POST /link                               | upsert_edges             |
| POST /v1/search (index search IR)        | search                   |
| GET  /v1/search/:key?maxdepth=N          | traverse                 |
| GET  /v1/search/:key?traverse=dfs&…      | find_path                |
| GET/POST /index (lookup dump / search)   | index_search, index_dump |
| POST /f (register function)              | register_function        |
| POST /fquery (invoke)                    | invoke_function          |
| (background reindexer)                   | reindex                  |

State is three DataFrames (vertices / edges / indexes).  Mutation methods
return a NEW Engine over the rewritten DataFrames (immutable-table
semantics — on Delta/Iceberg these become MERGE/DELETE on one table).

Each mutation commits its rewritten table as ONE materialised version:
the new DataFrame goes through :func:`operators.checkpoint.cut_lineage`
eagerly, so the write pays for its join/union once and every later read
scans a leaf — as a read after a reference write hits the stored MySQL row.
Without the cut every read would re-run the write, chained writes would
nest the previous plan twice per upsert (2**k plan growth), and
``F.current_timestamp()`` in an incoming batch would read a new
``updated_at`` on every read.  ``reindex()`` commits its derived index
table the same way.  By default the cut is ``localCheckpoint`` (executor
block storage, no lineage fallback); a session with a checkpoint dir
(``sparkContext.setCheckpointDir``) gets reliable ``checkpoint()``, so
each committed version is persisted there.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.registry import EngineApi, FunctionRegistry
from .ingest import build_indexes, delete_nodes, make_edges, node_id, upsert_nodes
from .operators import scans, search as search_ops, traversal
from .operators.checkpoint import cut_lineage
from .plans.ir import validate


@dataclass
class Engine:
    spark: SparkSession
    vertices: DataFrame
    edges: DataFrame
    indexes: DataFrame = None  # derived if not given
    registry: FunctionRegistry = field(default=None)

    def __post_init__(self):
        if self.indexes is None:
            self.indexes = build_indexes(self.vertices)
        if self.registry is None:
            self.registry = FunctionRegistry(self.spark)

    # ---------------------------------------------------------------- reads

    def get_detail(self, key: str) -> DataFrame:
        return scans.point_lookup(self.vertices, key)

    def multi_get(self, keys: list[str]) -> DataFrame:
        return scans.multi_get(self.vertices, keys)

    def out_edges(self, key: str) -> DataFrame:
        return scans.out_edges(self.edges, key)

    def edge(self, src_key: str, dst_key: str) -> DataFrame:
        return scans.edge_lookup(self.edges, src_key, dst_key)

    # --------------------------------------------------------------- search

    def search(self, query: dict) -> DataFrame:
        """POST /v1/search — validates the IR, compiles to a DataFrame."""
        validate(query)
        return search_ops.search(self.vertices, self.indexes, query)

    def index_search(self, condition: dict) -> DataFrame:
        return search_ops.index_condition_ids(self.indexes, condition)

    def index_dump(self, index_name: str) -> DataFrame:
        return scans.index_dump(self.indexes, index_name)

    # ------------------------------------------------------------ traversal

    def traverse(self, key: str, maxdepth: int) -> DataFrame:
        """Reference off-by-one honored: maxdepth=N reaches N+1 levels
        (README.md:184)."""
        return traversal.k_hop(self.edges, [key], depth=maxdepth + 1)

    def find_path(self, src_key: str, dst_key: str, max_depth: int = 10):
        return traversal.bfs_path(self.edges, src_key, dst_key, max_depth)

    # ------------------------------------------------------------- mutation

    def upsert_nodes(self, incoming: DataFrame) -> "Engine":
        """Version-bumping upsert; commits one materialised vertices
        version (indexes are re-derived lazily until ``reindex()``)."""
        merged = upsert_nodes(self.vertices, incoming).transform(cut_lineage)
        return Engine(self.spark, merged, self.edges, None, self.registry)

    def delete_nodes(self, keys: list[str]) -> "Engine":
        """Anti-join delete; commits one materialised vertices version."""
        remaining = delete_nodes(self.vertices, keys).transform(cut_lineage)
        return Engine(self.spark, remaining, self.edges, None, self.registry)

    def upsert_edges(self, links: DataFrame) -> "Engine":
        """Replace-or-insert per (src, dst); commits one materialised edges
        version."""
        merged = (
            self.edges.join(
                links.select(node_id("src_key").alias("src"), node_id("dst_key").alias("dst")),
                ["src", "dst"],
                "left_anti",
            )
            .unionByName(make_edges(links))
            .transform(cut_lineage)
        )
        return Engine(self.spark, self.vertices, merged, self.indexes, self.registry)

    def reindex(self) -> "Engine":
        """The whole background-reindexer machinery (2048 gen_servers,
        egraph_reindexing_server.erl) as one idempotent derivation,
        committed as one materialised index version."""
        indexes = build_indexes(self.vertices).transform(cut_lineage)
        return Engine(self.spark, self.vertices, self.edges, indexes, self.registry)

    def reindex_status(self, n_shards: int = 2048) -> DataFrame:
        """Per-shard rebuild watermarks — the reference's reindex-status
        surface (models/egraph_reindex_model.erl:135-155; table
        sql/egraph_table_creation.sql:214-222: shard_id / is_reindexing /
        version / updated_datetime) re-expressed over immutable tables.

        In this engine index derivation is a synchronous idempotent batch
        (``reindex()``), so ``is_reindexing`` is identically 0; the
        operationally useful signal the reference's table carries —
        which shard moved and when — survives as per-shard counts and
        watermarks: a shard whose ``last_updated_at`` exceeds the index
        build time needs re-derivation.  Sharding uses the engine's
        portable 60-bit md5 key hash (uniform, engine-exact across SQL
        dialects) rather than the reference's MySQL-routing hash — same
        role, verifiable by the DuckDB oracle.  Scale: one aggregate over
        vertices + one over indexes (join on id co-partitions with the
        vertices bucketing); output is ≤ n_shards rows.
        """
        shard = F.pmod(
            F.conv(F.substring(F.md5(F.col("key")), 1, 15), 16, 10).cast("long"),
            F.lit(n_shards),
        ).alias("shard_id")
        v_sharded = self.vertices.select(shard, "id", "version", "updated_at")
        per_v = v_sharded.groupBy("shard_id").agg(
            F.count("*").alias("n_nodes"),
            F.max("version").cast("long").alias("max_version"),
            F.max("updated_at").alias("last_updated_at"),
        )
        per_ix = (
            self.indexes.join(v_sharded.select("shard_id", "id"), "id")
            .groupBy("shard_id")
            .agg(F.count("*").alias("n_index_rows"))
        )
        return (
            per_v.join(per_ix, "shard_id", "left")
            .select(
                "shard_id",
                "n_nodes",
                F.coalesce("n_index_rows", F.lit(0)).alias("n_index_rows"),
                "max_version",
                "last_updated_at",
                F.lit(0).alias("is_reindexing"),
            )
            .orderBy("shard_id")
        )

    # ------------------------------------------------------------ functions

    def register_function(self, *args, **kwargs):
        return self.registry.register(*args, **kwargs)

    def invoke_function(self, name: str, *fn_args) -> dict:
        return self.registry.invoke(name, *fn_args)

    def udf_api(self) -> EngineApi:
        """The curated engine surface available inside UDF bodies (the
        reference's intercepted builtins, egraph_compiler.erl:66-107)."""
        return EngineApi(self.vertices, self.edges, self.indexes)
