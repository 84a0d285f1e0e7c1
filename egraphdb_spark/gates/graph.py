"""Graph gates: k-hop and DFS paths over the fixture, and the iterative
algorithms of operators/graph_algos.py (SURVEY.md §2.7).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..graph import _t, fixture
from ..operators import traversal
from ..operators.checkpoint import cut_lineage


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
# G2 — path search (reference DFS; contract = a valid src→dst path)
# --------------------------------------------------------------------------


def q_g2_dfs_path(spark, sf_dir):
    """Path customer:7 → the region of its nation.

    The reference DFS returns *some* valid path (dfs_algo.erl:63-66); our
    level-synchronous BFS returns the 2-hop one, which is unique here
    (customer→nation is the only level-1 edge into nations, nation→region
    the only region edge), so the oracle can assert it exactly.
    """
    from ..operators.traversal import bfs_path

    g = fixture(spark, sf_dir)
    hop = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") == 7)
        .join(_t(spark, sf_dir, "nation"), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_regionkey")
        .head()
    )
    dst = f"region:{hop['n_regionkey']}"
    path = bfs_path(g.edges, "customer:7", dst, max_depth=4)
    return spark.createDataFrame(
        [(i, k) for i, k in enumerate(path or [])], "step int, key string"
    )


O_G2 = """
SELECT CAST(0 AS INT) AS step, 'customer:7' AS key
UNION ALL
SELECT CAST(1 AS INT), 'nation:' || c_nationkey FROM customer WHERE c_custkey = 7
UNION ALL
SELECT CAST(2 AS INT), 'region:' || n_regionkey FROM nation
WHERE n_nationkey = (SELECT c_nationkey FROM customer WHERE c_custkey = 7)
"""


# --------------------------------------------------------------------------
# Pregel-style graph algorithms (north-star GraphX/Pregel approach)
# --------------------------------------------------------------------------


def q_graph_cc(spark, sf_dir):
    """Connected components of the nation↔region membership subgraph:
    one component per region (region node + its member nations), labeled by
    the lexicographically smallest member key."""
    from ..operators.graph_algos import connected_components

    g = fixture(spark, sf_dir)
    membership = g.edges.where(
        F.get_json_object("details", "$.rel") == "in_region"
    )
    return connected_components(membership)


O_GRAPH_CC = """
WITH comp AS (
  SELECT n_regionkey, min('nation:' || n_nationkey) AS component
  FROM nation GROUP BY n_regionkey
)
SELECT 'nation:' || n_nationkey AS key, c.component
FROM nation n JOIN comp c ON n.n_regionkey = c.n_regionkey
UNION ALL
SELECT 'region:' || r_regionkey, c.component
FROM region r JOIN comp c ON r.r_regionkey = c.n_regionkey
"""


def q_graph_bfs_levels(spark, sf_dir):
    """Min-hop distance from customer:7 to every node within 3 hops."""
    from ..operators.graph_algos import bfs_levels

    g = fixture(spark, sf_dir)
    return bfs_levels(g.edges, "customer:7", max_depth=3)


# The fixture graph is a DAG (customer→{nation,part}→{region,supplier}→
# nation→region), so the recursive walk terminates without a cycle guard.
O_GRAPH_BFS = """
WITH RECURSIVE e AS (
  SELECT 'customer:' || c_custkey AS src_key, 'nation:' || c_nationkey AS dst_key FROM customer
  UNION ALL SELECT 'supplier:' || s_suppkey, 'nation:' || s_nationkey FROM supplier
  UNION ALL SELECT 'nation:' || n_nationkey, 'region:' || n_regionkey FROM nation
  UNION ALL SELECT DISTINCT 'customer:' || o_custkey, 'part:' || l_partkey
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  UNION ALL SELECT DISTINCT 'part:' || l_partkey, 'supplier:' || l_suppkey FROM lineitem
),
walk(key, lvl) AS (
  SELECT 'customer:7', 0
  UNION ALL
  SELECT e.dst_key, w.lvl + 1 FROM walk w JOIN e ON e.src_key = w.key
  WHERE w.lvl < 3
)
SELECT key, CAST(min(lvl) AS INT) AS level FROM walk GROUP BY key
"""


def q_graph_harmonic(spark, sf_dir):
    """Landmark harmonic centrality over the UNDIRECTED fixture graph:
    nation nodes as the (bounded, 25-row) seed set, depth 3 — multi-source
    BFS carrying (seed, key) pairs, exact integer 10⁶/d contributions.
    The oracle replays the walk with a set-semantics recursive CTE.

    Cost knobs (the scale controls — cost is linear in BOTH):
      * |seeds|: shuffle volume per BFS round is |frontier| x |seeds|
        (seed,key) pairs; halving the landmark set halves every round.
      * max_depth: rounds of join-against-edges; each round's frontier is
        bounded by |V| x |seeds|.
    At 100 TB you tune accuracy vs cost HERE (fewer landmarks / shallower
    walk), never by changing the operator.  Measured: 10x data -> 3.4x,
    32x -> see SCALE_PROBE.md (round-6 block)."""
    from ..operators.graph_algos import harmonic_centrality

    g = fixture(spark, sf_dir)
    seeds = _t(spark, sf_dir, "nation").select(
        F.concat(F.lit("nation:"), F.col("n_nationkey")).alias("seed")
    )
    # the operator symmetrizes and dedups INTERNALLY on the 8-byte id
    # pairs — the old gate-side string-pair distinct materialized the
    # largest table in the query only to be re-hashed immediately
    # pre_deduped: the fixture's five edge families are each distinct and
    # their ordered (src-prefix, dst-prefix) pairs are disjoint with no
    # family's reverse being a family (graph.py edge derivation), so the
    # symmetrized union cannot repeat a pair — the operator's defensive
    # edge-sized dedup shuffle is a no-op and is skipped
    # keymap = the cached vertices table: key is its primary key and
    # every edge endpoint references it (checked: endpoints ≡ vertex
    # keys at every SF), so the operator skips the edge-sized string
    # distinct it would otherwise run just to recover key strings
    return harmonic_centrality(
        g.edges.select("src_key", "dst_key"), seeds, max_depth=3,
        symmetrize=True, pre_deduped=True, keymap=g.vertices.select("key"),
    )


O_GRAPH_HARMONIC = """
WITH RECURSIVE e0 AS (
  SELECT 'customer:' || c_custkey AS src_key, 'nation:' || c_nationkey AS dst_key FROM customer
  UNION ALL SELECT 'supplier:' || s_suppkey, 'nation:' || s_nationkey FROM supplier
  UNION ALL SELECT 'nation:' || n_nationkey, 'region:' || n_regionkey FROM nation
  UNION ALL SELECT DISTINCT 'customer:' || o_custkey, 'part:' || l_partkey
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  UNION ALL SELECT DISTINCT 'part:' || l_partkey, 'supplier:' || l_suppkey FROM lineitem
),
und AS (SELECT src_key AS a, dst_key AS b FROM e0 UNION SELECT dst_key, src_key FROM e0),
seeds AS (SELECT 'nation:' || n_nationkey AS seed FROM nation),
walk(seed, key, lvl) AS (
  SELECT seed, seed, 0 FROM seeds
  UNION
  SELECT w.seed, und.b, w.lvl + 1
  FROM walk w JOIN und ON und.a = w.key WHERE w.lvl < 3
),
md AS (SELECT seed, key, CAST(min(lvl) AS BIGINT) AS d FROM walk GROUP BY 1, 2)
SELECT key, count(*) AS n_sources,
       CAST(sum(1000000 // d) AS BIGINT) AS harmonic_micro
FROM md WHERE d > 0 GROUP BY key ORDER BY key
"""


def q_graph_kcore(spark, sf_dir):
    """4-round 2-core peel of the part↔supplier bipartite subgraph —
    iterative degeneracy pruning (the graph-cleaning step before dense-
    subgraph mining).  The oracle unrolls the identical 4 rounds, so
    parity holds round-for-round whether or not the peel has converged."""
    from ..operators.graph_algos import kcore_peel

    g = fixture(spark, sf_dir)
    # one JSON-parse pass, materialized: kcore_peel scans its input four
    # times (keymap union ×2 + symmetrizing union ×2) — uncut, every
    # scan re-parses `details` over the full cached edge table
    supplied = cut_lineage(
        g.edges.where(
            F.get_json_object("details", "$.rel") == "supplied_by"
        ).select("src", "dst", "src_key", "dst_key")
    )
    # keymap = vertices (node_id ≡ xxhash64(key); survivors anchor the
    # inner mapback, so the superset is harmless) — spares the operator's
    # two-sided (id, key) union + distinct over the edge table
    return kcore_peel(supplied, k=2, rounds=4, keymap=g.vertices.select("key"))


def _kcore_oracle(k: int = 2, rounds: int = 4) -> str:
    sql = """
WITH e0 AS (
  SELECT a, b FROM (
    SELECT DISTINCT 'part:' || l_partkey AS a, 'supplier:' || l_suppkey AS b
    FROM lineitem)
  UNION
  SELECT b, a FROM (
    SELECT DISTINCT 'part:' || l_partkey AS a, 'supplier:' || l_suppkey AS b
    FROM lineitem)
)"""
    prev = "e0"
    for r in range(1, rounds + 1):
        sql += f""",
n{r} AS (SELECT a FROM {prev} GROUP BY a HAVING count(*) >= {k}),
e{r} AS (
  SELECT {prev}.a, {prev}.b FROM {prev}
  SEMI JOIN n{r} ON {prev}.a = n{r}.a
  SEMI JOIN n{r} AS m{r} ON {prev}.b = m{r}.a
)"""
        prev = f"e{r}"
    sql += f"\nSELECT a AS key, count(*) AS degree FROM {prev} GROUP BY a"
    return sql


O_GRAPH_KCORE = _kcore_oracle()


def q_graph_degree_stats(spark, sf_dir):
    """Log2-bucketed degree distribution of the whole fixture graph — the
    skew-profiling scan run before choosing a partitioning strategy."""
    from ..operators.graph_algos import degree_stats

    g = fixture(spark, sf_dir)
    return degree_stats(g.edges)


O_GRAPH_DEGREE = """
WITH e0 AS (
  SELECT 'customer:' || c_custkey AS a, 'nation:' || c_nationkey AS b FROM customer
  UNION ALL SELECT 'supplier:' || s_suppkey, 'nation:' || s_nationkey FROM supplier
  UNION ALL SELECT 'nation:' || n_nationkey, 'region:' || n_regionkey FROM nation
  UNION ALL SELECT DISTINCT 'customer:' || o_custkey, 'part:' || l_partkey
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  UNION ALL SELECT DISTINCT 'part:' || l_partkey, 'supplier:' || l_suppkey FROM lineitem
),
und AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
deg AS (SELECT a, count(*) AS deg FROM und GROUP BY a)
SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket,
       count(*) AS n_vertices, min(deg) AS min_deg, max(deg) AS max_deg
FROM deg GROUP BY 1 ORDER BY 1
"""


def q_graph_betweenness(spark, sf_dir):
    """Seed-sampled depth-3 betweenness (Brandes landmark form) over the
    undirected fixture graph, nation seeds — σ path counts forward,
    integer-micro dependency accumulation backward; the oracle unrolls
    both passes level by level.

    Cost knobs (the scale controls — cost is linear in BOTH):
      * |seeds|: both passes carry (seed, node) state; work and shuffle
        are proportional to the number of sampled sources (Brandes is
        exact at |seeds| = |V|; sampling is the standard approximation,
        Riondato-Kornaropoulos bounds apply).
      * max_depth: forward rounds + the same number of backward rounds;
        bounds reached pairs per seed.
    At 100 TB you tune accuracy vs cost HERE (sample fewer seeds /
    shallower DAG), never by changing the operator.  Measured: 10x data
    -> 4.9x, 32x -> see SCALE_PROBE.md (round-6 block)."""
    from ..operators.graph_algos import betweenness_k

    g = fixture(spark, sf_dir)
    seeds = _t(spark, sf_dir, "nation").select(
        F.concat(F.lit("nation:"), F.col("n_nationkey")).alias("seed")
    )
    # the operator symmetrizes and dedups INTERNALLY on the 8-byte id
    # pairs — the old gate-side string-pair distinct materialized the
    # largest table in the query only to be re-hashed immediately
    # pre_deduped: same structural proof as q_graph_harmonic — per-family
    # distinct + disjoint ordered prefix pairs + no family's reverse is a
    # family ⇒ the symmetrized union is duplicate-free, so σ is safe and
    # the operator's defensive dedup shuffle is skipped
    # keymap = vertices, same contract as q_graph_harmonic (seeds are
    # nation vertices, so the output key set is covered)
    return betweenness_k(
        g.edges.select("src_key", "dst_key"), seeds, max_depth=3,
        symmetrize=True, pre_deduped=True, keymap=g.vertices.select("key"),
    )


_BC_EDGES = """
e0 AS (
  SELECT 'customer:' || c_custkey AS a, 'nation:' || c_nationkey AS b FROM customer
  UNION ALL SELECT 'supplier:' || s_suppkey, 'nation:' || s_nationkey FROM supplier
  UNION ALL SELECT 'nation:' || n_nationkey, 'region:' || n_regionkey FROM nation
  UNION ALL SELECT DISTINCT 'customer:' || o_custkey, 'part:' || l_partkey
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  UNION ALL SELECT DISTINCT 'part:' || l_partkey, 'supplier:' || l_suppkey FROM lineitem
),
e AS MATERIALIZED (SELECT a AS src_key, b AS dst_key FROM e0
                   UNION SELECT b, a FROM e0)
"""


def _bc_forward(k: int) -> str:
    prev = f"l{k - 1}" if k > 1 else "s0"
    anti = "\n    AND ".join(
        f"NOT EXISTS (SELECT 1 FROM {t} x{i} WHERE x{i}.seed = {prev}.seed"
        f" AND x{i}.key = e.dst_key)"
        for i, t in enumerate(["s0"] + [f"l{j}" for j in range(1, k)])
    )
    return f"""l{k} AS MATERIALIZED (
  SELECT {prev}.seed, e.dst_key AS key, CAST(sum({prev}.sigma) AS BIGINT) AS sigma
  FROM e JOIN {prev} ON e.src_key = {prev}.key
  WHERE {anti}
  GROUP BY 1, 2
)"""


def _bc_backward(lv: int) -> str:
    # contributions from d{lv+1} into l{lv}
    return f"""c{lv} AS (
  SELECT d{lv + 1}.seed, e.src_key AS key,
         CAST(sum(l{lv}.sigma * (1000000 + d{lv + 1}.delta) // d{lv + 1}.sigma)
              AS BIGINT) AS delta
  FROM e JOIN d{lv + 1} ON e.dst_key = d{lv + 1}.key
       JOIN l{lv} ON l{lv}.seed = d{lv + 1}.seed AND l{lv}.key = e.src_key
  GROUP BY 1, 2
),
d{lv} AS MATERIALIZED (
  SELECT l{lv}.seed, l{lv}.key, l{lv}.sigma,
         CAST(COALESCE(c{lv}.delta, 0) AS BIGINT) AS delta
  FROM l{lv} LEFT JOIN c{lv}
    ON c{lv}.seed = l{lv}.seed AND c{lv}.key = l{lv}.key
)"""


def _bc_oracle(depth: int = 3) -> str:
    parts = [_BC_EDGES.strip()]
    parts.append(
        "s0 AS MATERIALIZED (SELECT 'nation:' || n_nationkey AS seed,"
        " 'nation:' || n_nationkey AS key, CAST(1 AS BIGINT) AS sigma"
        " FROM nation)"
    )
    for k in range(1, depth + 1):
        parts.append(_bc_forward(k))
    parts.append(
        f"d{depth} AS MATERIALIZED (SELECT seed, key, sigma,"
        f" CAST(0 AS BIGINT) AS delta FROM l{depth})"
    )
    for lv in range(depth - 1, 0, -1):
        parts.append(_bc_backward(lv))
    union = "\n  UNION ALL ".join(
        f"SELECT key, delta FROM d{lv}" for lv in range(1, depth + 1)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT key, CAST(sum(delta) AS BIGINT) AS bc_micro FROM (\n  {union}\n) GROUP BY key ORDER BY key"
    )


O_GRAPH_BETWEENNESS = _bc_oracle(3)


def q_graph_sssp_weighted(spark, sf_dir):
    """Single-source shortest paths with edge weights = length(dst_key)
    (engine-portable weight function), from customer:7, ≤4 relaxation
    rounds.  Bellman-Ford via join + groupBy-min per round."""
    from ..operators.graph_algos import shortest_paths_weighted

    g = fixture(spark, sf_dir)
    return shortest_paths_weighted(
        g.edges, "customer:7", F.length("dst_key").cast("double"), max_iter=4
    )


# Path enumeration on the DAG (≤4 hops), then min path weight per node.
O_GRAPH_SSSP = """
WITH RECURSIVE e AS (
  SELECT 'customer:' || c_custkey AS src_key, 'nation:' || c_nationkey AS dst_key FROM customer
  UNION ALL SELECT 'supplier:' || s_suppkey, 'nation:' || s_nationkey FROM supplier
  UNION ALL SELECT 'nation:' || n_nationkey, 'region:' || n_regionkey FROM nation
  UNION ALL SELECT DISTINCT 'customer:' || o_custkey, 'part:' || l_partkey
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  UNION ALL SELECT DISTINCT 'part:' || l_partkey, 'supplier:' || l_suppkey FROM lineitem
),
walk(key, d, hops) AS (
  SELECT 'customer:7', CAST(0 AS DOUBLE), 0
  UNION ALL
  SELECT e.dst_key, w.d + len(e.dst_key), w.hops + 1
  FROM walk w JOIN e ON e.src_key = w.key
  WHERE w.hops < 4
)
SELECT key, min(d) AS dist FROM walk GROUP BY key
"""


def q_graph_pagerank(spark, sf_dir):
    """Integer-scaled PageRank (3 iterations) on the nation→region
    membership subgraph."""
    from ..operators.graph_algos import pagerank_scaled

    g = fixture(spark, sf_dir)
    membership = g.edges.where(F.get_json_object("details", "$.rel") == "in_region")
    return pagerank_scaled(membership, iters=3)


def _pagerank_oracle(iters: int = 3, scale: int = 10**12) -> str:
    """Unrolled fixed-point PageRank over the same membership subgraph."""
    prev = "pr0"
    cte = [
        "e AS (SELECT 'nation:' || n_nationkey AS src_key,"
        " 'region:' || n_regionkey AS dst_key FROM nation)",
        "nodes AS (SELECT src_key AS key FROM e UNION SELECT dst_key FROM e)",
        "nn AS (SELECT count(*) AS c FROM nodes)",
        "deg AS (SELECT src_key, count(*) AS d FROM e GROUP BY src_key)",
        f"pr0 AS (SELECT key, {scale} // c AS pr FROM nodes CROSS JOIN nn)",
    ]
    for i in range(1, iters + 1):
        cte.append(
            f"g{i} AS (SELECT e.dst_key AS key, sum({prev}.pr // deg.d) AS s"
            f" FROM e JOIN {prev} ON e.src_key = {prev}.key"
            f" JOIN deg ON deg.src_key = e.src_key GROUP BY e.dst_key)"
        )
        cte.append(
            f"pr{i} AS (SELECT nodes.key,"
            f" (15 * {scale}) // (100 * nn.c) + (85 * COALESCE(g{i}.s, 0)) // 100 AS pr"
            f" FROM nodes CROSS JOIN nn LEFT JOIN g{i} ON g{i}.key = nodes.key)"
        )
        prev = f"pr{i}"
    return (
        "WITH " + ",\n".join(cte)
        + f"\nSELECT key, CAST(pr AS BIGINT) AS pr FROM {prev}"
    )


O_GRAPH_PAGERANK = _pagerank_oracle()


def q_graph_lpa(spark, sf_dir):
    """3-round deterministic mode-label propagation (community detection)
    on the part↔supplier bipartite subgraph; the oracle unrolls the
    identical synchronized rounds."""
    from ..operators.graph_algos import label_propagation

    g = fixture(spark, sf_dir)
    # one JSON-parse pass, materialized: label_propagation scans its
    # input twice (the symmetrizing union) — uncut, each scan re-parses
    # `details` over the full cached edge table
    supplied = cut_lineage(
        g.edges.where(
            F.get_json_object("details", "$.rel") == "supplied_by"
        ).select("src_key", "dst_key")
    )
    # keymap = vertices (labels anchor the inner mapback; superset
    # harmless) — spares the pair-table (id, key) distinct
    return label_propagation(
        supplied, rounds=3, keymap=g.vertices.select("key")
    )


def _lpa_oracle(rounds: int = 3) -> str:
    """Unrolled synchronous LPA over the same subgraph: per round, every
    node adopts its neighbors' modal label (ties → lexicographically
    smallest label string — labels are keys end-to-end)."""
    cte = [
        "e0 AS (SELECT DISTINCT 'part:' || l_partkey AS src_key,"
        " 'supplier:' || l_suppkey AS dst_key FROM lineitem)",
        "e AS (SELECT src_key, dst_key FROM e0"
        " UNION SELECT dst_key, src_key FROM e0)",
        "l0 AS (SELECT DISTINCT src_key AS key, src_key AS lbl FROM e)",
    ]
    prev = "l0"
    for i in range(1, rounds + 1):
        cte.append(
            f"c{i} AS (SELECT e.dst_key AS key, l.lbl, count(*) AS c"
            f" FROM e JOIN {prev} l ON e.src_key = l.key GROUP BY e.dst_key, l.lbl)"
        )
        cte.append(
            f"b{i} AS (SELECT key, lbl AS new_lbl FROM ("
            f"SELECT key, lbl, row_number() OVER"
            f" (PARTITION BY key ORDER BY c DESC, lbl) AS rn FROM c{i}) WHERE rn = 1)"
        )
        cte.append(
            f"l{i} AS (SELECT p.key, COALESCE(b{i}.new_lbl, p.lbl) AS lbl"
            f" FROM {prev} p LEFT JOIN b{i} ON b{i}.key = p.key)"
        )
        prev = f"l{i}"
    return (
        "WITH "
        + ",\n".join(cte)
        + f"\nSELECT key, lbl AS community FROM {prev}"
    )


O_GRAPH_LPA = _lpa_oracle()


def q_graph_modularity(spark, sf_dir):
    """Newman modularity of the nation↔region membership components —
    the quality score that makes community output judgeable — in exact
    integer micro-units (graph_algos.modularity_micro).  This fixture
    is the one whose community structure is real AND non-degenerate:
    LPA on the bipartite supply graphs oscillates 2-colorings (zero
    within-community edges, Q = −½) and their components collapse to
    one giant (Q = 0); the membership graph has 5 clean star
    communities (Q = 0.8 exactly, every arithmetic path exercised)."""
    from ..operators.graph_algos import connected_components, modularity_micro

    g = fixture(spark, sf_dir)
    # one JSON-parse pass, materialized: connected_components and the
    # symmetrized edge set below otherwise each re-parse `details`
    # over the full cached edge table
    membership = cut_lineage(
        g.edges.where(
            F.get_json_object("details", "$.rel") == "in_region"
        ).select("src_key", "dst_key")
    )
    comm = connected_components(membership).select(
        "key", F.col("component").alias("community")
    )
    e = membership.select("src_key", "dst_key")
    sym = e.unionByName(
        e.select(
            F.col("dst_key").alias("src_key"), F.col("src_key").alias("dst_key")
        )
    ).distinct()
    return modularity_micro(sym, comm)


O_GRAPH_MODULARITY = """
WITH comp AS (
  SELECT n_regionkey, min('nation:' || n_nationkey) AS community
  FROM nation GROUP BY n_regionkey
),
comm AS (
  SELECT 'nation:' || n_nationkey AS key, c.community
  FROM nation n JOIN comp c ON n.n_regionkey = c.n_regionkey
  UNION ALL
  SELECT 'region:' || r_regionkey, c.community
  FROM region r JOIN comp c ON r.r_regionkey = c.n_regionkey
),
e0 AS (
  SELECT DISTINCT 'nation:' || n_nationkey AS src_key,
         'region:' || n_regionkey AS dst_key
  FROM nation
),
e AS (SELECT src_key, dst_key FROM e0 UNION SELECT dst_key, src_key FROM e0),
deg AS (SELECT src_key AS key, count(*) AS d FROM e GROUP BY 1),
dstat AS (SELECT community, CAST(sum(d) AS BIGINT) AS D
          FROM deg JOIN comm USING (key) GROUP BY 1),
within AS (
  SELECT ca.community, count(*) AS S
  FROM e JOIN comm ca ON ca.key = e.src_key
         JOIN comm cb ON cb.key = e.dst_key AND cb.community = ca.community
  GROUP BY 1),
per_c AS (SELECT dstat.community, COALESCE(within.S, 0) AS S, dstat.D
          FROM dstat LEFT JOIN within ON within.community = dstat.community),
tot AS (SELECT count(*) AS n_communities, CAST(sum(S) AS BIGINT) AS SS,
               CAST(sum(D * D) AS BIGINT) AS DD FROM per_c),
mm AS (SELECT count(*) // 2 AS m FROM e)
SELECT m, n_communities, SS AS sym_within,
       (1000000 * (2 * m * SS - DD)) // (4 * m * m) AS q_micro
FROM tot, mm
"""


def q_graph_neighbor_jaccard(spark, sf_dir):
    """Node-similarity pairs: Jaccard of neighbor sets ≥ 0.75 (structural
    equivalence / link prediction) over the SIGNIFICANT-supply subgraph
    (bulk line items, quantity ≥ 48 — the tiny dimension tables make the
    full bipartite graph degenerate-dense); hub neighbors (degree > 100)
    excluded from the pair generator and the counts identically on both
    engines."""
    from ..operators.graph_algos import neighbor_jaccard_pairs

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 48)
    bulk = li.select(
        F.concat(F.lit("part:"), F.col("l_partkey")).alias("src_key"),
        F.concat(F.lit("supplier:"), F.col("l_suppkey")).alias("dst_key"),
    ).distinct()
    return neighbor_jaccard_pairs(bulk, threshold=0.75, max_degree=100)


O_GRAPH_NBR_JACCARD = """
WITH e0 AS (
  SELECT DISTINCT 'part:' || l_partkey AS src_key,
         'supplier:' || l_suppkey AS dst_key
  FROM lineitem WHERE l_quantity >= 48
),
e AS (SELECT src_key, dst_key FROM e0 UNION SELECT dst_key, src_key FROM e0),
adj AS (SELECT DISTINCT src_key AS node, dst_key AS nbr FROM e),
small AS (SELECT nbr FROM adj GROUP BY nbr HAVING count(*) <= 100),
adj2 AS (SELECT node, nbr FROM adj SEMI JOIN small USING (nbr)),
deg AS (SELECT node, count(*) AS deg FROM adj2 GROUP BY node),
common AS (
  SELECT a.node AS na, b.node AS nb, count(*) AS common
  FROM adj2 a JOIN adj2 b ON a.nbr = b.nbr AND a.node < b.node
  GROUP BY a.node, b.node
)
SELECT na AS node_a, nb AS node_b,
       round(CAST(common AS DOUBLE) / (da.deg + db.deg - common), 6) AS jaccard
FROM common
JOIN deg da ON da.node = na
JOIN deg db ON db.node = nb
WHERE CAST(common AS DOUBLE) / (da.deg + db.deg - common) >= 0.75
"""


def q_graph_triangles(spark, sf_dir):
    """Exact triangle census (degree-oriented wedge join — Suri &
    Vassilvitskii WWW'11) over the fixture graph augmented with
    customer/supplier→region shortcut edges (the base graph is a layered
    DAG with zero triangles; the shortcuts close exactly one triangle per
    customer and per supplier through its nation and region)."""
    from ..operators.graph_algos import triangle_stats

    g = fixture(spark, sf_dir)
    rel = F.get_json_object("details", "$.rel")
    e = g.edges.select("src_key", "dst_key")
    to_nation = g.edges.where(rel == "in_nation").select(
        F.col("src_key").alias("x"), F.col("dst_key").alias("n")
    )
    to_region = g.edges.where(rel == "in_region").select(
        F.col("src_key").alias("n"), F.col("dst_key").alias("r")
    )
    shortcuts = to_nation.join(F.broadcast(to_region), "n").select(
        F.col("x").alias("src_key"), F.col("r").alias("dst_key")
    )
    return triangle_stats(e.unionByName(shortcuts))


O_GRAPH_TRIANGLES = """
WITH e AS (
  SELECT 'customer:' || c_custkey AS s, 'nation:' || c_nationkey AS d FROM customer
  UNION ALL SELECT 'supplier:' || s_suppkey, 'nation:' || s_nationkey FROM supplier
  UNION ALL SELECT 'nation:' || n_nationkey, 'region:' || n_regionkey FROM nation
  UNION ALL SELECT DISTINCT 'customer:' || o_custkey, 'part:' || l_partkey
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  UNION ALL SELECT DISTINCT 'part:' || l_partkey, 'supplier:' || l_suppkey FROM lineitem
  UNION ALL SELECT 'customer:' || c_custkey, 'region:' || n_regionkey
            FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL SELECT 'supplier:' || s_suppkey, 'region:' || n_regionkey
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
), und AS (
  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM e WHERE s <> d
), deg AS (
  SELECT key, count(*) AS deg
  FROM (SELECT a AS key FROM und UNION ALL SELECT b FROM und) GROUP BY key
), dagg AS (
  SELECT count(*) AS n_vertices, CAST(sum(deg * (deg - 1)) AS BIGINT) AS w2 FROM deg
), ecnt AS (
  SELECT count(*) AS n_edges FROM und
), tri AS (
  SELECT count(*) AS n_triangles
  FROM und e1 JOIN und e2 ON e1.b = e2.a
       JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT n_vertices, n_edges, w2 // 2 AS n_wedges, n_triangles,
       CAST(CASE WHEN w2 > 0 THEN (n_triangles * 6000000) // w2 ELSE 0 END AS BIGINT)
         AS clustering_millionths
FROM dagg, ecnt, tri
"""


def _walk_hash_sql(t: int) -> str:
    return (
        "CAST(('0x' || substr(md5(walk_id || ':" + str(t) + ":' || cur), 1, 15)) "
        "AS BIGINT)"
    )


def q_graph_walks(spark, sf_dir):
    """Deterministic uniform random walks (4 steps) from every node of the
    significant-supply bipartite graph — reproducible node2vec/DeepWalk
    sampling; next hop = sorted-neighbor[h60(start:step:node) mod deg]."""
    from ..operators.graph_algos import deterministic_walks

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 48)
    bulk = li.select(
        F.concat(F.lit("part:"), F.col("l_partkey")).alias("src_key"),
        F.concat(F.lit("supplier:"), F.col("l_suppkey")).alias("dst_key"),
    ).distinct()
    return deterministic_walks(bulk, steps=4).orderBy("walk_id", "step")


def _graph_walks_oracle() -> str:
    steps = []
    for t in range(1, 5):
        prev = f"s{t - 1}"
        steps.append(
            f"s{t} AS (SELECT walk_id, ai.nbr AS cur, CAST({t} AS BIGINT) AS step\n"
            f"  FROM {prev} JOIN ai ON ai.node = {prev}.cur\n"
            f"   AND ai.idx = {_walk_hash_sql(t)} % ai.deg)"
        )
    joined = ",\n".join(steps)
    return f"""
WITH e0 AS (
  SELECT DISTINCT 'part:' || l_partkey AS src_key,
         'supplier:' || l_suppkey AS dst_key
  FROM lineitem WHERE l_quantity >= 48
),
e AS (SELECT src_key, dst_key FROM e0 UNION SELECT dst_key, src_key FROM e0),
adj AS (SELECT DISTINCT src_key AS node, dst_key AS nbr FROM e),
ai AS (
  SELECT node, nbr,
         row_number() OVER (PARTITION BY node ORDER BY nbr) - 1 AS idx,
         count(*) OVER (PARTITION BY node) AS deg
  FROM adj
),
s0 AS (SELECT DISTINCT node AS walk_id, node AS cur, CAST(0 AS BIGINT) AS step
       FROM adj),
{joined}
SELECT walk_id, step, cur AS node
FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1 UNION ALL SELECT * FROM s2
      UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4)
ORDER BY walk_id, step
"""


O_GRAPH_WALKS = _graph_walks_oracle()


def q_graph_adamic_adar(spark, sf_dir):
    """Adamic–Adar link prediction over the same significant-supply
    bipartite graph as the neighbor-Jaccard gate: common neighbors
    weighted by 1/ln(degree), integer nano-unit contributions summed
    exactly; hub witnesses (degree > 100) excluded identically on both
    engines."""
    from ..operators.graph_algos import adamic_adar_pairs

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 48)
    bulk = li.select(
        F.concat(F.lit("part:"), F.col("l_partkey")).alias("src_key"),
        F.concat(F.lit("supplier:"), F.col("l_suppkey")).alias("dst_key"),
    ).distinct()
    return adamic_adar_pairs(bulk, min_common=2, max_degree=100).orderBy(
        "node_a", "node_b"
    )


O_GRAPH_ADAMIC_ADAR = """
WITH e0 AS (
  SELECT DISTINCT 'part:' || l_partkey AS src_key,
         'supplier:' || l_suppkey AS dst_key
  FROM lineitem WHERE l_quantity >= 48
),
e AS (SELECT src_key, dst_key FROM e0 UNION SELECT dst_key, src_key FROM e0),
adj AS (SELECT DISTINCT src_key AS node, dst_key AS nbr FROM e),
deg AS (SELECT node, count(*) AS d FROM adj GROUP BY node),
contrib AS (
  SELECT a.node, a.nbr,
         CAST(floor(1000000000.0 / ln(d.d)) AS BIGINT) AS contrib
  FROM adj a JOIN deg d ON d.node = a.nbr
  WHERE d.d BETWEEN 2 AND 100
)
SELECT a.node AS node_a, b.node AS node_b,
       count(*) AS common,
       CAST(sum(a.contrib) AS BIGINT) AS aa_nano
FROM contrib a JOIN contrib b ON a.nbr = b.nbr AND a.node < b.node
GROUP BY a.node, b.node
HAVING count(*) >= 2
ORDER BY node_a, node_b
"""


def q_graph_hits(spark, sf_dir):
    """Integer fixed-point HITS (3 rounds, L∞ normalization) on the
    part→supplier bipartite subgraph: parts are hubs, suppliers
    authorities.  The iteration runs on the fixture's 8-byte integer
    node ids (same discipline as kcore: every per-round shuffle carries
    16 B/edge instead of two key strings); the id→key map joins back
    once on the final node-sized frame.  Score values are identical —
    HITS arithmetic never looks at the key."""
    from ..operators.graph_algos import hits_scaled

    g = fixture(spark, sf_dir)
    # one JSON-parse pass, materialized: the operator input and the
    # keymap below otherwise each re-parse `details` over the full
    # cached edge table (three scans total)
    supplied = cut_lineage(
        g.edges.where(
            F.get_json_object("details", "$.rel") == "supplied_by"
        ).select("src", "dst", "src_key", "dst_key")
    )
    scores = hits_scaled(
        supplied.select(
            F.col("src").alias("src_key"), F.col("dst").alias("dst_key")
        ),
        iters=3,
    ).withColumnRenamed("key", "nid")
    keymap = (
        supplied.select(F.col("src").alias("nid"), F.col("src_key").alias("key"))
        .unionByName(
            supplied.select(F.col("dst").alias("nid"), F.col("dst_key").alias("key"))
        )
        .distinct()
    )
    return scores.join(keymap, "nid").select("key", "hub", "auth")


def _hits_oracle(iters: int = 3, scale: int = 10**6) -> str:
    """Unrolled fixed-point HITS over the same subgraph (same truncating
    division, same L∞ normalization, same a-then-h update order)."""
    cte = [
        "e AS (SELECT DISTINCT 'part:' || l_partkey AS src_key,"
        " 'supplier:' || l_suppkey AS dst_key FROM lineitem)",
        "nodes AS (SELECT src_key AS key FROM e UNION SELECT dst_key FROM e)",
        f"h0 AS (SELECT key, CAST({scale} AS BIGINT) AS h FROM nodes)",
    ]
    ph = "h0"
    for i in range(1, iters + 1):
        cte.append(
            f"ar{i} AS (SELECT e.dst_key AS key, CAST(sum({ph}.h) AS BIGINT) AS s"
            f" FROM e JOIN {ph} ON e.src_key = {ph}.key GROUP BY e.dst_key)"
        )
        cte.append(f"am{i} AS (SELECT max(s) AS mx FROM ar{i})")
        cte.append(
            f"a{i} AS (SELECT nodes.key,"
            f" COALESCE((COALESCE(ar{i}.s, 0) * {scale}) // nullif(am{i}.mx, 0), 0) AS a"
            f" FROM nodes CROSS JOIN am{i}"
            f" LEFT JOIN ar{i} ON ar{i}.key = nodes.key)"
        )
        cte.append(
            f"hr{i} AS (SELECT e.src_key AS key, CAST(sum(a{i}.a) AS BIGINT) AS s"
            f" FROM e JOIN a{i} ON e.dst_key = a{i}.key GROUP BY e.src_key)"
        )
        cte.append(f"hm{i} AS (SELECT max(s) AS mx FROM hr{i})")
        cte.append(
            f"h{i} AS (SELECT nodes.key,"
            f" COALESCE((COALESCE(hr{i}.s, 0) * {scale}) // nullif(hm{i}.mx, 0), 0) AS h"
            f" FROM nodes CROSS JOIN hm{i}"
            f" LEFT JOIN hr{i} ON hr{i}.key = nodes.key)"
        )
        ph = f"h{i}"
    return (
        "WITH " + ",\n".join(cte)
        + f"\nSELECT nodes.key, h{iters}.h AS hub, a{iters}.a AS auth"
        f"\nFROM nodes JOIN h{iters} ON h{iters}.key = nodes.key"
        f" JOIN a{iters} ON a{iters}.key = nodes.key"
    )


O_GRAPH_HITS = _hits_oracle()


def q_graph_bipartite_proj(spark, sf_dir):
    """Weighted supplier co-supply graph: one-mode projection of the
    part→supplier bipartite subgraph (w = shared parts), hub parts with
    fanout > 8 dropped before the pair self-join (LSH-bucket discipline)."""
    from ..operators.graph_algos import bipartite_projection

    g = fixture(spark, sf_dir)
    supplied = g.edges.where(
        F.get_json_object("details", "$.rel") == "supplied_by"
    )
    return bipartite_projection(supplied, max_fanout=8)


O_GRAPH_BIPROJ = """
WITH e AS (
  SELECT DISTINCT 'part:' || l_partkey AS src_key,
         'supplier:' || l_suppkey AS dst_key
  FROM lineitem
),
small AS (
  SELECT src_key FROM e GROUP BY src_key HAVING count(*) <= 8
),
ee AS (SELECT e.* FROM e SEMI JOIN small USING (src_key))
SELECT a.dst_key AS a, b.dst_key AS b, count(*) AS w
FROM ee a JOIN ee b ON a.src_key = b.src_key AND a.dst_key < b.dst_key
GROUP BY a.dst_key, b.dst_key
"""


def q_graph_ppr(spark, sf_dir):
    """Personalized PageRank (3 iterations) from a 3-customer seed set
    over the full directed fixture graph — graph-proximity scoring for
    related-entity queries; restart mass to the seeds only, inner
    propagation keeps state proportional to the reached neighborhood."""
    from ..operators.graph_algos import personalized_pagerank

    g = fixture(spark, sf_dir)
    seeds = spark.createDataFrame(
        [("customer:1",), ("customer:7",), ("customer:13",)], "key string"
    )
    # keymap = vertices (covers every endpoint AND the customer seeds),
    # sparing the operator's two-sided union + string distinct
    return personalized_pagerank(
        g.edges.select("src_key", "dst_key"), seeds, iters=3,
        keymap=g.vertices.select("key"),
    ).orderBy("key")


def _ppr_oracle(iters: int = 3, scale: int = 10**12) -> str:
    """Unrolled fixed-point personalized PageRank over the full fixture
    edge set; computed over all nodes with a seed indicator, final
    projection keeps nonzero mass (≡ the engine's inner propagation —
    zero-mass nodes contribute nothing to any sum)."""
    base = f"(15 * {scale}) // (100 * 3)"
    cte = [
        "e AS (SELECT 'customer:' || c_custkey AS src_key,"
        " 'nation:' || c_nationkey AS dst_key FROM customer"
        " UNION ALL SELECT 'supplier:' || s_suppkey, 'nation:' || s_nationkey FROM supplier"
        " UNION ALL SELECT 'nation:' || n_nationkey, 'region:' || n_regionkey FROM nation"
        " UNION ALL SELECT DISTINCT 'customer:' || o_custkey, 'part:' || l_partkey"
        "   FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
        " UNION ALL SELECT DISTINCT 'part:' || l_partkey, 'supplier:' || l_suppkey FROM lineitem)",
        "nodes AS (SELECT src_key AS key FROM e UNION SELECT dst_key FROM e)",
        "deg AS (SELECT src_key, count(*) AS d FROM e GROUP BY src_key)",
        "seeds AS (SELECT 'customer:' || k AS key FROM (VALUES (1), (7), (13)) v(k))",
        f"pr0 AS (SELECT key, {scale} // 3 AS pr FROM seeds)",
    ]
    prev = "pr0"
    for i in range(1, iters + 1):
        cte.append(
            f"g{i} AS (SELECT e.dst_key AS key, sum({prev}.pr // deg.d) AS s"
            f" FROM e JOIN {prev} ON e.src_key = {prev}.key"
            f" JOIN deg ON deg.src_key = e.src_key GROUP BY e.dst_key)"
        )
        cte.append(
            f"pr{i} AS (SELECT nodes.key,"
            f" CASE WHEN seeds.key IS NOT NULL THEN {base} ELSE 0 END"
            f" + (85 * COALESCE(g{i}.s, 0)) // 100 AS pr"
            f" FROM nodes LEFT JOIN seeds ON seeds.key = nodes.key"
            f" LEFT JOIN g{i} ON g{i}.key = nodes.key)"
        )
        prev = f"pr{i}"
    return (
        "WITH " + ",\n".join(cte)
        + f"\nSELECT key, CAST(pr AS BIGINT) AS ppr FROM {prev}"
        + " WHERE pr > 0 ORDER BY key"
    )


O_GRAPH_PPR = _ppr_oracle()


def q_graph_scc(spark, sf_dir):
    """Strongly connected components of the directed fixture graph with
    the in_region edges ALSO reversed (region→nation), which fuses each
    region with its nations into one directed cycle — so the gate
    exercises real multi-node SCCs plus thousands of singleton
    customers/parts/suppliers hanging off them.  The oracle computes
    exact mutual reachability by transitive closure (set semantics)."""
    from ..operators.graph_algos import strongly_connected_components

    g = fixture(spark, sf_dir)
    base = g.edges.select(
        "src_key",
        "dst_key",
        F.get_json_object("details", "$.rel").alias("rel"),
    )
    keep = base.where(F.col("rel") != "ordered").select("src_key", "dst_key")
    rev = base.where(F.col("rel") == "in_region").select(
        F.col("dst_key").alias("src_key"), F.col("src_key").alias("dst_key")
    )
    # one JSON-parse pass, materialized: the operator derives its node
    # set (two scans) and filtered edge set (one more) from this input —
    # uncut, each scan re-parses `details` over the full cached edge
    # table (six parse passes measured; this was ~80 % of the query)
    return strongly_connected_components(
        cut_lineage(keep.unionByName(rev)), max_outer=4
    ).orderBy("key")


O_GRAPH_SCC = """
WITH RECURSIVE e AS (
  SELECT 'customer:' || c_custkey AS a, 'nation:' || c_nationkey AS b FROM customer
  UNION ALL SELECT 'supplier:' || s_suppkey, 'nation:' || s_nationkey FROM supplier
  UNION ALL SELECT 'nation:' || n_nationkey, 'region:' || n_regionkey FROM nation
  UNION ALL SELECT DISTINCT 'part:' || l_partkey, 'supplier:' || l_suppkey FROM lineitem
  UNION ALL SELECT 'region:' || n_regionkey, 'nation:' || n_nationkey FROM nation
),
r(a, b) AS (
  SELECT a, b FROM e WHERE a <> b
  UNION
  SELECT r.a, e.b FROM r JOIN e ON e.a = r.b WHERE r.a <> e.b
),
nodes AS (SELECT a AS k FROM e UNION SELECT b FROM e),
mutual AS (
  SELECT r1.a AS k, r1.b AS m FROM r r1 JOIN r r2 ON r1.a = r2.b AND r1.b = r2.a
)
SELECT n.k AS key,
       least(n.k, coalesce(min(mutual.m), n.k)) AS scc
FROM nodes n LEFT JOIN mutual ON mutual.k = n.k
GROUP BY n.k ORDER BY key
"""


# --------------------------------------------------------------------------
# graph_ktruss — triangle-support peeling
# --------------------------------------------------------------------------


def q_graph_ktruss(spark, sf_dir):
    """3-truss of the fixture graph augmented with customer/supplier →
    region shortcuts (the same graph as graph_triangles: the base layered
    DAG has zero triangles; each shortcut closes one through its nation
    and region).  Every surviving edge must sit in ≥ 1 triangle, so the
    peel removes the whole part↔supplier / customer→part supply
    machinery in round 1 and keeps exactly the membership triangles,
    with the (nation, region) edges' support = nation population —
    varied, data-derived values, not a constant (operators/
    graph_algos.py ktruss_peel; oracle unrolls identical rounds).
    Completes the cohesion ladder: degree (k-core) → triangle support
    (k-truss); the multi-round CASCADE path is pinned by the pytest
    triangle-chain case (tests/test_graph_algos.py).  rounds=1 because
    k=3 reaches its fixpoint in ONE peel by construction — every edge of
    a triangle is kept alive by that same triangle, so survivors'
    supports cannot drop; deeper k (pytest) is where extra rounds do
    work."""
    from ..operators.graph_algos import ktruss_peel


    g = fixture(spark, sf_dir)
    rel = F.get_json_object("details", "$.rel")
    e = g.edges.select("src_key", "dst_key")
    to_nation = g.edges.where(rel == "in_nation").select(
        F.col("src_key").alias("x"), F.col("dst_key").alias("n")
    )
    to_region = g.edges.where(rel == "in_region").select(
        F.col("src_key").alias("n"), F.col("dst_key").alias("r")
    )
    shortcuts = to_nation.join(F.broadcast(to_region), "n").select(
        F.col("x").alias("src_key"), F.col("r").alias("dst_key")
    )
    aug = e.unionByName(shortcuts).select(
        F.col("src_key").alias("a"), F.col("dst_key").alias("b")
    )
    # ktruss_peel deduplicates its input.  Skipping that distinct was
    # TRIED and measured SLOWER in order-alternating same-session A/B at
    # sf0.1 (with 7.1/8.0/8.2 s vs without 9.7/12.5 s, quiet host): the
    # aug pair set is provably duplicate-free (the harmonic/betweenness
    # structural proof), but the distinct's shuffle also re-partitions
    # the 67-small-partition cached-edge projection into 16 compact
    # AQE-coalesced partitions, and the wedge self-join downstream is
    # worth more than the dedup costs.
    return ktruss_peel(aug, k=3, rounds=1)


def _ktruss_oracle(k: int = 3, rounds: int = 1) -> str:
    # every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and the
    # round-over-round references here would expand u0 exponentially
    # (~4^rounds parquet rescans — it exhausted the fd limit in testing)
    sql = """
WITH e AS MATERIALIZED (
  SELECT 'customer:' || c_custkey AS s, 'nation:' || c_nationkey AS d FROM customer
  UNION ALL SELECT 'supplier:' || s_suppkey, 'nation:' || s_nationkey FROM supplier
  UNION ALL SELECT 'nation:' || n_nationkey, 'region:' || n_regionkey FROM nation
  UNION ALL SELECT DISTINCT 'customer:' || o_custkey, 'part:' || l_partkey
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  UNION ALL SELECT DISTINCT 'part:' || l_partkey, 'supplier:' || l_suppkey FROM lineitem
  UNION ALL SELECT 'customer:' || c_custkey, 'region:' || n_regionkey
            FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL SELECT 'supplier:' || s_suppkey, 'region:' || n_regionkey
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
),
u0 AS MATERIALIZED (
  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM e WHERE s <> d
)"""
    prev = "u0"
    for r in list(range(1, rounds + 1)) + ["f"]:
        cur = f"u{r}" if r != "f" else None
        sql += f""",
t{r} AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         FROM {prev} e1 JOIN {prev} e2 ON e2.a = e1.b
              JOIN {prev} e3 ON e3.a = e1.a AND e3.b = e2.b),
s{r} AS MATERIALIZED (SELECT a, b, count(*) AS sup FROM (
           SELECT x AS a, y AS b FROM t{r}
           UNION ALL SELECT y, z FROM t{r}
           UNION ALL SELECT x, z FROM t{r}) GROUP BY a, b)"""
        if cur:
            sql += f""",
{cur} AS MATERIALIZED (SELECT {prev}.a, {prev}.b FROM {prev}
          LEFT JOIN s{r} ON s{r}.a = {prev}.a AND s{r}.b = {prev}.b
          WHERE COALESCE(sup, 0) >= {k - 2})"""
            prev = cur
    sql += f"""
SELECT {prev}.a, {prev}.b, CAST(COALESCE(sup, 0) AS BIGINT) AS support
FROM {prev} LEFT JOIN sf ON sf.a = {prev}.a AND sf.b = {prev}.b
ORDER BY {prev}.a, {prev}.b"""
    return sql


O_GRAPH_KTRUSS = _ktruss_oracle()


GATES: dict[str, tuple] = {
    "g1_khop": (q_g1_khop, O_G1),
    "graph_adamic_adar": (q_graph_adamic_adar, O_GRAPH_ADAMIC_ADAR),
    "graph_hits": (q_graph_hits, O_GRAPH_HITS),
    "graph_bipartite_proj": (q_graph_bipartite_proj, O_GRAPH_BIPROJ),
    "graph_sssp_weighted": (q_graph_sssp_weighted, O_GRAPH_SSSP),
    "graph_pagerank": (q_graph_pagerank, O_GRAPH_PAGERANK),
    "graph_lpa": (q_graph_lpa, O_GRAPH_LPA),
    "graph_neighbor_jaccard": (q_graph_neighbor_jaccard, O_GRAPH_NBR_JACCARD),
    "graph_betweenness": (q_graph_betweenness, O_GRAPH_BETWEENNESS),
    "graph_cc": (q_graph_cc, O_GRAPH_CC),
    "graph_triangles": (q_graph_triangles, O_GRAPH_TRIANGLES),
    "graph_kcore": (q_graph_kcore, O_GRAPH_KCORE),
    "graph_degree_stats": (q_graph_degree_stats, O_GRAPH_DEGREE),
    "graph_bfs_levels": (q_graph_bfs_levels, O_GRAPH_BFS),
    "g2_dfs_path": (q_g2_dfs_path, O_G2),
    "graph_walks": (q_graph_walks, O_GRAPH_WALKS),
    "graph_modularity": (q_graph_modularity, O_GRAPH_MODULARITY),
    "graph_harmonic": (q_graph_harmonic, O_GRAPH_HARMONIC),
    "graph_ppr": (q_graph_ppr, O_GRAPH_PPR),
    "graph_scc": (q_graph_scc, O_GRAPH_SCC),
    "graph_ktruss": (q_graph_ktruss, O_GRAPH_KTRUSS),
}
