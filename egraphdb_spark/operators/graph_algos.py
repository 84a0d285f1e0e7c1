"""Distributed graph algorithms — Pregel-style iterative DataFrame loops.

The reference has no graph analytics beyond traversal (SURVEY.md §2.7); the
north star (BASELINE.json `spark_approach`) calls for GraphX/Pregel-shaped
algorithms.  Implemented as level-synchronous DataFrame iterations — the
aggregateMessages pattern (GraphX, OSDI'14; see PAPERS.md) expressed with
joins + groupBy min, which Catalyst compiles to shuffle-efficient plans:

  * messages = labels ⋈ edges on src  (co-located when edges are bucketed
    by src; the join is the "sendMsg" phase)
  * aggregate = groupBy(dst).min      (the "mergeMsg" phase; partial min is
    map-side combined so the shuffle carries one label per (dst, partition))
  * iterate until fixpoint, localCheckpoint per round to cut lineage

Each job that several operators do is written once:

  * the loops — delta label propagation to a fixpoint (CC, SSSP, SCC
    coloring) and the level-synchronous frontier walk with a visited set
    (BFS levels, SCC's backward walk) — run on :mod:`.supersteps`, which
    alone decides when such a loop cuts lineage and how it tests for the
    end;
  * :func:`_triangles` enumerates triangles for the census
    (``triangle_stats``) and for every k-truss support round;
  * :func:`_adjacency` is the undirected neighbour table of neighbour
    Jaccard, Adamic–Adar and the walks;
  * :func:`_node_keymap` maps xxhash64 ids back to keys for every
    operator that iterates on ids and hashes the key itself;
  * one local ``gather`` runs both half-rounds of HITS.

Kept separate: the fixed-round loops (PageRank, PPR, HITS, LPA, k-core,
k-truss) are one step plus one cut each and stay inline, as do the MS-BFS
level bodies of the centralities.  PageRank keeps its own loop rather
than running as PPR with every node seeded, which was measured slower
(ROADMAP item 2).  k-core's fallback mapback reads the caller's own
``src``/``dst`` ids, which need not be hashes of the key.

CC, LPA, neighbour Jaccard, Adamic–Adar and the walks work on the
undirected closure of their edges; SCC is the directed operator.

Labels are *keys* (strings), not engine-specific hashes, so results are
engine-portable (xxhash64 ids differ per seed across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .checkpoint import cut_lineage, cut_lineage_lazy
from .supersteps import delta_fixpoint, frontier_walk


def _symmetrize(e: DataFrame, a: str = "src_key", b: str = "dst_key") -> DataFrame:
    """``e`` ∪ ``e`` reversed: the undirected closure of a two-column edge
    frame ``(a, b)``, duplicates kept."""
    return e.unionByName(e.select(F.col(b).alias(a), F.col(a).alias(b)))


def _endpoints(e: DataFrame) -> DataFrame:
    """Distinct ``key`` column of every src_key or dst_key of ``e``."""
    return (
        e.select(F.col("src_key").alias("key"))
        .unionByName(e.select(F.col("dst_key").alias("key")))
        .distinct()
    )


def _adjacency(edges: DataFrame) -> DataFrame:
    """Distinct ``(node, nbr)`` pairs of the undirected closure of the
    ``(src_key, dst_key)`` edges: every neighbour of every node, once."""
    return (
        _symmetrize(edges.select("src_key", "dst_key"))
        .select(F.col("src_key").alias("node"), F.col("dst_key").alias("nbr"))
        .distinct()
    )


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """(key, component) — component = lexicographically-min key reachable
    over the undirected closure of the edges.

    Hash-min label propagation over (src_key, dst_key), run by
    :func:`~.supersteps.delta_fixpoint`: only nodes whose label dropped
    last round send.  Converges in O(diameter) rounds; each round is one
    join + one min-aggregate.
    """
    e = (
        _symmetrize(edges.select("src_key", "dst_key"))
        .distinct()
        .transform(cut_lineage_lazy)
    )
    labels = _endpoints(e).select("key", F.col("key").alias("component"))

    def send(senders: DataFrame) -> DataFrame:
        return e.join(senders, e.src_key == senders.key).select(
            F.col("dst_key").alias("key"), "component"
        )

    return delta_fixpoint(labels, send, F.min, max_iter)[0]


def shortest_paths_weighted(
    edges: DataFrame,
    src_key: str,
    weight,
    max_iter: int,
) -> DataFrame:
    """(key, dist) — minimum path weight from src within max_iter hops.

    Frontier Bellman-Ford (delta-less SSSP): only vertices whose distance
    IMPROVED last round emit messages this round — a vertex with an
    unchanged dist cannot produce a new relaxation, so relaxing its edges
    again is pure waste.  At 100× scale this is the difference between
    O(frontier-adjacent edges) and O(|E|) work per round.  Each round
    (:func:`~.supersteps.delta_fixpoint` with ``min``):

      messages = edges ⋈ broadcast(frontier) on src  (map-side, no e shuffle)
                 → groupBy(dst).min  (map-side combined pre-shuffle)
      merged   = dist ∪ messages → groupBy(key) min + carried old value
      frontier = rows where dist strictly improved (or key is new)

    min is order-independent, so results are deterministic under any
    partitioning — no decimal tricks needed.  ``weight`` is a Column over
    the edge row (so weights can derive from edge details).  When the
    frontier outgrows the broadcast ceiling (dense expansion phase), the
    right cluster-scale layout is edges bucketed by src_key so the join
    co-partitions; the hint degrades gracefully under AQE either way.
    """
    e = (
        edges.withColumn("w", weight)
        .select("src_key", "dst_key", "w")
        .transform(cut_lineage)  # scanned every round — materialize once
    )
    dist = edges.sparkSession.createDataFrame(
        [(src_key, 0.0)], "key string, dist double"
    )

    def send(frontier: DataFrame) -> DataFrame:
        # pre-aggregate candidates per dst BEFORE the merge union: the
        # shuffle then carries one row per touched dst, not one per edge
        return (
            e.join(frontier.hint("broadcast"), e.src_key == frontier.key)
            .select(
                F.col("dst_key").alias("key"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            .groupBy("key")
            .agg(F.min("dist").alias("dist"))
        )

    return delta_fixpoint(dist, send, F.min, max_iter)[0]


def _intdiv(a: "F.Column", d: "F.Column | int"):
    """Exact integer div for non-negative longs.

    (a - a%d)/d makes the numerator an exact multiple of d, but the
    double-division path still rounds once the multiple exceeds 2⁵³
    (numerator rounds to the nearest double BEFORE the divide), drifting
    the quotient by ±1 for quotients past ~10¹³.  The two integer-exact
    comparison corrections below restore the true quotient for every
    |error| ≤ 1 case, i.e. quotients up to ~10¹⁶ — beyond every caller's
    range (scales ≤ 10¹²).  Callers needing full-range exactness use the
    SQL `div` operator via F.expr (JVM long division, no double path)."""
    dd = F.lit(d) if isinstance(d, int) else d
    q = ((a - (a % dd)) / dd).cast("long")
    q = F.when((q + 1) * dd <= a, q + 1).otherwise(q)
    return F.when(q * dd > a, q - 1).otherwise(q)


def pagerank_scaled(
    edges: DataFrame, iters: int = 3, scale: int = 10**12
) -> DataFrame:
    """(key, pr) — PageRank in fixed-point millionths-of-millionths.

    All arithmetic is integer (scaled by 10^12, damping 0.85 as 85/100
    integer ops), so every engine reproduces identical values — float
    PageRank is summation-order-dependent and can never hash-match across
    engines.  Dangling-node mass is dropped (documented deviation from
    the renormalizing formulation).  Each iteration: one join (scatter
    contributions) + one groupBy-sum (gather) — aggregateMessages again.
    """
    # edges may be an expensive derivation (e.g. a JSON-predicate filter);
    # it is referenced twice per iteration plus nodes/deg — materialize once
    e = edges.select("src_key", "dst_key").transform(cut_lineage)
    nodes = _endpoints(e).transform(cut_lineage)
    n = nodes.count()
    # out-degree is static — fold it into the edge table ONCE instead of a
    # third join inside every iteration
    ed = (
        e.join(e.groupBy("src_key").agg(F.count("*").alias("d")), "src_key")
        .transform(cut_lineage)
    )
    base = (15 * scale) // (100 * n)
    pr = nodes.select("key", F.lit(scale // n).cast("long").alias("pr"))
    for _ in range(iters):
        # no broadcast hints: a hinted broadcast of the node-sized pr/gather
        # frames forces a driver-side collect per iteration and serializes
        # the loop (measured 2-4x slower on local[32]); the shuffle join
        # lets AQE pick, and at cluster scale the right move is bucketing
        # e and pr on key, not broadcasting.
        contrib = (
            ed.join(pr, ed.src_key == pr.key)
            .select(F.col("dst_key").alias("key"), _intdiv(F.col("pr"), F.col("d")).alias("c"))
        )
        gathered = contrib.groupBy("key").agg(F.sum("c").alias("s"))
        pr = (
            nodes.join(gathered, "key", "left")
            .select(
                "key",
                (F.lit(base) + _intdiv(F.lit(85) * F.coalesce(F.col("s"), F.lit(0)), 100))
                .cast("long")
                .alias("pr"),
            )
            .transform(cut_lineage)
        )
    return pr


def bfs_levels(edges: DataFrame, src_key: str, max_depth: int) -> DataFrame:
    """(key, level) — minimum hop count from src to every reachable node
    within max_depth.  Level-synchronous BFS with a visited set
    (:func:`~.supersteps.frontier_walk`); each level is one broadcast join
    against the (small) frontier."""
    start = edges.sparkSession.createDataFrame(
        [(src_key, 0)], "key string, level int"
    )

    def expand(frontier: DataFrame, level: int) -> DataFrame:
        return (
            edges.join(frontier.hint("broadcast"), edges.src_key == frontier.key)
            .select(F.col("dst_key").alias("key"))
            .distinct()
            .select("key", F.lit(level).alias("level"))
        )

    visited = start
    for _, _, visited in frontier_walk(start, expand, max_depth):
        pass
    return visited


def _seed_bits(seeds: DataFrame):
    """(ranked seeds frame, count) for the MS-BFS batching: distinct seed
    values, each assigned a dense index ``i`` (bit ``i % 64`` of batch
    ``i div 64``).  The window is unpartitioned BY DESIGN: seeds are a
    bounded landmark set (the documented scale knob of every caller), so
    the single-partition sort is a dimension-table sort, never data-sized.
    The count is a bounded driver action for the batch loop range only.
    """
    from pyspark.sql import Window

    ranked = (
        seeds.select("seed")
        .distinct()
        .withColumn("i", F.row_number().over(Window.orderBy("seed")) - 1)
        .transform(cut_lineage)
    )
    return ranked, ranked.count()


def _node_keymap(
    keymap: DataFrame | None,
    kedges: DataFrame | None = None,
    symmetric: bool = False,
    extra: DataFrame | None = None,
) -> DataFrame:
    """(nid, key) mapback table for operators that iterate on xxhash64 ids.

    A caller-supplied ``keymap`` carries one ``key`` row per node, UNIQUE
    by key (a duplicate would duplicate output rows), covering at least
    every node key the operator's output can contain — extra keys are
    harmless because the final mapback is an inner join on the reached
    ids.  The canonical caller argument is the engine's vertices table
    (key is its primary key and every edge endpoint references it), which
    spares the operator an edge-sized string distinct just to recover key
    strings.

    Without one, the map is the distinct endpoints of the key-edge frame
    ``kedges`` (plus the ``key`` column of ``extra``, if given).  A
    ``symmetric`` frame already lists every node on the src side — one
    projection + node-sized distinct instead of a two-sided union.
    """
    if keymap is not None:
        return keymap.select(F.xxhash64("key").alias("nid"), "key")
    keys = kedges.select(F.col("src_key").alias("key"))
    if not symmetric:
        keys = keys.unionByName(kedges.select(F.col("dst_key").alias("key")))
    if extra is not None:
        keys = keys.unionByName(extra.select("key"))
    return keys.distinct().select(F.xxhash64("key").alias("nid"), "key")


def _id_edges(
    edges: DataFrame, symmetrize: bool, dedup: bool, keymap: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """Edge prep of the MS-BFS centralities: ``(e, keymap)`` with ``e`` the
    (src, dst) xxhash64-id edge table, cut once, and the (nid, key)
    mapback of :func:`_node_keymap`.

    With ``symmetrize=True`` the caller passes the raw DIRECTED edge set
    and the undirected closure is built here; ``dedup`` then runs on the
    16 B id pairs, NOT the string pairs.
    """
    kedges = edges.select("src_key", "dst_key")
    if symmetrize:
        kedges = _symmetrize(kedges)
    e = kedges.select(
        F.xxhash64("src_key").alias("src"), F.xxhash64("dst_key").alias("dst")
    )
    if dedup:
        e = e.distinct()
    return e.transform(cut_lineage), _node_keymap(keymap, kedges, symmetrize)


def harmonic_centrality(
    edges: DataFrame, seeds: DataFrame, max_depth: int,
    symmetrize: bool = False, pre_deduped: bool = False,
    keymap: DataFrame | None = None,
) -> DataFrame:
    """Seed-set harmonic centrality: for every node reachable from the
    seed set, ``(key, n_sources, harmonic_micro)`` where harmonic_micro =
    Σ_{seeds s, 0 < d(s,key) ≤ max_depth} floor(10⁶ / d(s,key)) — the
    landmark form of closeness centrality (harmonic handles
    disconnection; exact all-pairs closeness is quadratic and landmark
    sampling is the standard scale-out, Boldi & Vigna "Axioms for
    Centrality" 2014).

    Batched multi-source BFS (MS-BFS, Then et al. VLDB'15 "The More the
    Merrier"): seeds are processed in batches of ≤ 64, and within a batch
    each node's BFS state is ONE LONG — bit i set ⟺ seed i has reached
    the node.  A round is then

      * messages: one row PER EDGE out of the frontier (not per
        (seed, edge) pair — the pre-r10 shape), carrying the sender's
        newly-set bits: 16 B rows, |E|-bounded;
      * merge: ``bit_or`` per destination — map-side combinable, so the
        shuffle carries one long per (dst, map partition);
      * update: newly = merged & ~mask; per-seed FIRST-reach levels drop
        out exactly as in the pair form because a bit, once set, is never
        re-delivered (min-level semantics ⟺ monotone bit-OR).

    Every per-(seed,node) distance is identical to the pair-at-a-time
    BFS, so the integer 10⁶ div d arithmetic — and the declared result —
    is bit-identical; only the row representation changed.  Seeds must be
    distinct values (duplicates are collapsed, as before).

    Scale: state is |V| rows × (two longs); messages are |E|-bounded per
    round per 64-seed batch (vs |E|·|seeds| pair rows) — the |seeds|
    factor moves from the shuffle into bit-parallel CPU work.  Each
    round's state frame is ``localCheckpoint``-ed (kcore/pagerank
    discipline); seeds are a bounded landmark set (the documented scale
    knob), batches beyond 64 seeds run as independent passes whose
    per-level bit counts add.
    """
    # The BFS iterates on 8-byte xxhash64 node ids (the kcore/hits
    # discipline): level arithmetic never looks at the key, so message
    # rows carry 16 B of ids+bits instead of strings.  The id→key map
    # joins back once, on the final node-sized aggregate.
    #
    # BFS min-level semantics are duplicate-immune (bit_or is idempotent),
    # so the dedup exists only to shrink the per-round message joins of a
    # symmetrized union.  ``pre_deduped=True`` callers vouch the union is
    # duplicate-free and skip the edge-sized shuffle outright; the cut
    # then materializes a shuffle-free projection.
    e, keymap = _id_edges(edges, symmetrize, symmetrize and not pre_deduped, keymap)
    ranked, n_seeds = _seed_bits(seeds)
    # per-level newly-reached frames: (key, ns = seeds first reaching the
    # node at this level, hm = ns * (10^6 div level)); level is a Python
    # constant per frame so the div folds at plan time
    hops: list[DataFrame] = []
    for b in range(0, n_seeds, 64):
        init = (
            ranked.where((F.col("i") >= b) & (F.col("i") < b + 64))
            .select(
                F.xxhash64("seed").alias("key"),
                F.expr("shiftleft(1L, int(i % 64))").alias("bit"),
            )
            .groupBy("key")
            .agg(F.expr("bit_or(bit)").alias("mask"))
        )
        state = init.select(
            "key", "mask", F.col("mask").alias("new")
        ).transform(cut_lineage)
        for level in range(1, max_depth + 1):
            frontier = state.where(F.col("new") != 0).select("key", "new")
            msgs = (
                e.join(frontier, e.src == frontier.key)
                .groupBy(F.col("dst").alias("key"))
                .agg(F.expr("bit_or(new)").alias("m"))
            )
            state = (
                msgs.join(state.select("key", "mask"), "key", "full")
                .select(
                    "key",
                    F.expr("coalesce(m, 0L) | coalesce(mask, 0L)").alias("mask"),
                    F.expr("coalesce(m, 0L) & ~coalesce(mask, 0L)").alias("new"),
                )
                .transform(cut_lineage)
            )
            hop = state.where(F.col("new") != 0)
            if hop.limit(1).isEmpty():
                break
            hops.append(
                hop.select(
                    "key",
                    F.bit_count("new").cast("long").alias("ns"),
                    (F.bit_count("new").cast("long") * F.lit(10**6 // level))
                    .alias("hm"),
                )
            )
    if not hops:
        reached = e.select(
            F.col("src").alias("key"),
            F.lit(0).cast("long").alias("ns"),
            F.lit(0).cast("long").alias("hm"),
        ).where(F.lit(False))
    else:
        reached = hops[0]
        for h in hops[1:]:
            reached = reached.unionByName(h)
    agg = reached.groupBy("key").agg(
        F.sum("ns").cast("long").alias("n_sources"),
        F.sum("hm").cast("long").alias("harmonic_micro"),
    )
    return (
        agg.join(keymap, agg.key == keymap.nid)
        .select(keymap.key, "n_sources", "harmonic_micro")
        .orderBy("key")
    )


def _degrees(und: DataFrame) -> DataFrame:
    """(key, deg) of the canonical edge set ``und`` (distinct a < b)."""
    return (
        und.select(F.col("a").alias("key"))
        .unionByName(und.select(F.col("b").alias("key")))
        .groupBy("key")
        .agg(F.count("*").alias("deg"))
    )


def _triangles(und: DataFrame) -> DataFrame:
    """Every triangle of the canonical edge set ``und`` (distinct
    ``(a, b)`` pairs, a < b, no self-loops), exactly once, as
    ``(w_mid, w_src, w_dst, a, b)``: the wedge w_src → w_mid → w_dst and
    its closing edge ``(a, b)`` in canonical order.

    Suri & Vassilvitskii (WWW'11, MapReduce triangle counting): orient
    each edge low-degree → high-degree, ties by key — a total order, so
    the oriented graph is acyclic and every triangle has exactly one
    "source" vertex with two out-edges.  Join the oriented edges on the
    middle vertex to enumerate wedges, then semi-join the closing edge.
    The degree order bounds a vertex's wedge fanout by its *oriented*
    out-degree, O(√m) on any graph: a hub of degree d contributes C(d,2)
    wedges under the key order (a < b < c) but only ~m/d here, which is
    what keeps the wedge join tractable on skewed graphs.

    Shuffles: one degree aggregate, two degree joins, the wedge join and
    the closing semi-join.
    """
    deg = _degrees(und)
    da = deg.select(F.col("key").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("key").alias("b"), F.col("deg").alias("deg_b"))
    fwd = F.struct("deg_a", "a") < F.struct("deg_b", "b")
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
        .transform(cut_lineage_lazy)
    )
    e1 = oriented.select(F.col("u").alias("w_src"), F.col("v").alias("w_mid"))
    e2 = oriented.select(F.col("u").alias("w_mid"), F.col("v").alias("w_dst"))
    wedges = e1.join(e2, "w_mid").withColumns(
        {"a": F.least("w_src", "w_dst"), "b": F.greatest("w_src", "w_dst")}
    )
    return wedges.join(und, ["a", "b"], "left_semi")


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Exact global triangle census of the undirected simple graph.

    One row: ``n_vertices, n_edges, n_wedges, n_triangles,
    clustering_millionths`` (global clustering coefficient = 3T/wedges in
    exact integer millionths; wedges = Σ_v C(deg(v), 2)).  Triangles come
    from the degree-oriented enumeration of :func:`_triangles`.

    Shuffle budget: canonical dedup (1), degree agg (1), the joins of
    :func:`_triangles`.  All counting is integer; the triangle count does
    not depend on the orientation, so oracles may use the simple
    key-ordered form.
    """
    und = (
        edges.select(
            F.least("src_key", "dst_key").alias("a"),
            F.greatest("src_key", "dst_key").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .transform(cut_lineage_lazy)
    )
    deg = _degrees(und)
    tri = _triangles(und).agg(F.count("*").alias("n_triangles"))

    base = (
        und.agg(F.count("*").alias("n_edges"))
        .crossJoin(
            deg.agg(
                F.count("*").alias("n_vertices"),
                F.sum(F.expr("deg * (deg - 1)")).cast("long").alias("w2"),
            )
        )
        .crossJoin(tri)  # all three are 1-row aggregates — lazy, no action
    )
    return base.select(
        "n_vertices",
        "n_edges",
        (F.col("w2") / 2).cast("long").alias("n_wedges"),
        "n_triangles",
        F.when(
            F.col("w2") > 0,
            F.expr("(n_triangles * 6000000) div w2"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("clustering_millionths"),
    )


def kcore_peel(
    edges: DataFrame, k: int, rounds: int, keymap: DataFrame | None = None
) -> DataFrame:
    """R-round k-core peel: (key, degree) of nodes surviving ``rounds``
    iterations of "drop every node with degree < k in the current induced
    subgraph".

    Fixed round budget so an external SQL oracle can unroll the identical
    computation: every true k-core member survives any number of rounds,
    and once node-sets stabilize the result IS the k-core (the convergence
    pytest asserts that on the fixture).  The loop stops early only at
    that fixpoint, where every further round is the identity.  Each round
    is one degree aggregate + two semi-joins on the surviving node set —
    aggregateMessages shape.

    ``edges`` carries integer node ids ``src``/``dst`` beside the keys.
    A ``keymap`` (see :func:`_node_keymap`) requires them to be
    ``node_id(key)``, i.e. xxhash64 of the key; without one the mapback
    reads the ids from ``edges``, so any injective id assignment works.

    Scale: node-set frames shrink monotonically; localCheckpoint per round
    keeps the plan linear in rounds, not exponential.  At 100 TB the edge
    list would be bucketed on both endpoints so every round's semi-joins
    co-partition.  The loop runs on the 8-byte integer ids (string keys
    join back once at the end) — every round's shuffle carries 16 B/edge,
    not two key strings.
    """
    if keymap is not None:
        # the final join is inner on surviving ids, extra keys harmless
        keymap = _node_keymap(keymap)
    else:
        keymap = (
            edges.select(F.col("src").alias("nid"), F.col("src_key").alias("key"))
            .unionByName(
                edges.select(F.col("dst").alias("nid"), F.col("dst_key").alias("key"))
            )
            .distinct()
        )
    e = (
        _symmetrize(
            edges.select(F.col("src").alias("a"), F.col("dst").alias("b")), "a", "b"
        )
        .distinct()
        .transform(cut_lineage)
    )
    prev_cnt = None
    for _ in range(rounds):
        # the round's degree aggregate is materialized ONCE — both
        # endpoint semi-joins read it; left lazy it is recomputed per
        # join (two full degree aggregates per round)
        alive = (
            e.groupBy("a")
            .agg(F.count("*").alias("deg"))
            .where(F.col("deg") >= k)
            .select("a")
            .transform(cut_lineage)
        )
        e = (
            e.join(alive, "a", "left_semi")
            .join(alive.select(F.col("a").alias("b")), "b", "left_semi")
            .transform(cut_lineage)
        )
        # fixpoint early-exit: an unchanged edge count means no node
        # fell below k this round, so every further round is the
        # identity — the remaining iterations of the oracle's unroll
        # are no-ops on the same set, result-identical by definition
        cnt = e.count()
        if cnt == prev_cnt:
            break
        prev_cnt = cnt
    deg = e.groupBy("a").agg(F.count("*").alias("degree"))
    return deg.join(keymap, deg.a == keymap.nid).select(
        F.col("key"), F.col("degree")
    )


def degree_stats(edges: DataFrame) -> DataFrame:
    """(bucket, n_vertices, min_deg, max_deg) — log2-bucketed out+in degree
    distribution of the undirected graph.

    The one-scan graph profiling step (skew detection before choosing a
    partitioning / salting strategy).  bucket = floor(log2(deg)) computed
    as length-of-binary-representation - 1 (pure integer, engine-exact).
    Scale: one degree aggregate + one tiny bucket aggregate.
    """
    # degrees and buckets never look at the key, so the symmetrize +
    # distinct + degree aggregate run on 8-byte xxhash64 ids (the
    # kcore/hits discipline) — both shuffles carry 16 B rows instead of
    # two key strings, and no mapback is needed (output is buckets only)
    ids = edges.select(
        F.xxhash64("src_key").alias("a"), F.xxhash64("dst_key").alias("b")
    )
    und = _symmetrize(ids, "a", "b").distinct()
    deg = und.groupBy("a").agg(F.count("*").alias("deg"))
    bucket = (F.length(F.expr("bin(deg)")) - 1).cast("long")
    return (
        deg.select(bucket.alias("bucket"), "deg")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_vertices"),
            F.min("deg").alias("min_deg"),
            F.max("deg").alias("max_deg"),
        )
        .orderBy("bucket")
    )


def label_propagation(
    edges: DataFrame, rounds: int, keymap: DataFrame | None = None
) -> DataFrame:
    """Synchronous mode-label propagation (LPA community detection) over
    the undirected closure of the edges.

    Raghavan et al. 2007, made deterministic: each round EVERY node adopts
    the most frequent label among its neighbors (ties → lexicographically
    smallest label), all updates applied simultaneously.  Labels are node
    KEYS (strings) end-to-end — the module's engine-portable convention —
    and the mode argmax is `min_by(lbl, struct(-count, lbl))`, a
    MAP-SIDE-COMBINABLE aggregate: one row per (dst, partition) on the
    shuffle, never a window sort over the full message stream.

    Scale per round: one edge-sized message join (co-located when edges
    are bucketed by src) + two partial aggregates; labels localCheckpoint
    per round so lineage stays linear in rounds.  A fixed round count
    (unrolled identically by the SQL oracle) keeps parity exact whether or
    not the labels have converged — same discipline as kcore/pagerank.

    Optimizations (result-identical, oracle-verified):
      * Round 1 collapses algebraically: the initial labels are the
        identity (lbl(v) = key(v)), so the message stream IS the distinct
        edge set — every (dst, lbl) pair has count 1 and the mode argmax
        ``min_by(lbl, (-1, lbl))`` reduces to ``min(neighbor key)``.  One
        aggregate replaces the join + two aggregates of a naive round 1
        (which is also the most expensive round: |E| distinct labels).
      * Rounds 2+ iterate on 8-byte xxhash64 node ids (the kcore/hits
        discipline) with the label STRING as payload — ties still break
        on the lexicographically smallest label, so results are unchanged
        while the join keys and grouping keys shuffle as integers.  The
        id→key map (:func:`_node_keymap`) joins back once on the final
        node-sized frame.
    """
    sym = _symmetrize(edges.select("src_key", "dst_key"))
    # distinct directed pairs in id space; the src KEY string rides
    # along as the round-1 label payload (functionally determined by
    # src, so whichever duplicate row survives carries the same value)
    pairs = (
        sym.select(
            F.xxhash64("src_key").alias("src"),
            F.xxhash64("dst_key").alias("dst"),
            F.col("src_key").alias("lbl"),
        )
        .dropDuplicates(["src", "dst"])
        .transform(cut_lineage)
    )
    if rounds < 1:
        return (
            pairs.select(F.col("lbl").alias("key"))
            .distinct()
            .select("key", F.col("key").alias("community"))
        )
    labels = (
        pairs.groupBy("dst")
        .agg(F.min("lbl").alias("lbl"))
        .withColumnRenamed("dst", "nid")
        .transform(cut_lineage)
    )
    e_ids = pairs.select("src", "dst")
    for _ in range(rounds - 1):
        msgs = e_ids.join(
            labels.select(F.col("nid").alias("src"), "lbl"), "src"
        ).select(F.col("dst").alias("nid"), "lbl")
        counts = msgs.groupBy("nid", "lbl").agg(F.count("*").alias("c"))
        labels = (
            counts.groupBy("nid")
            .agg(
                F.min_by(
                    "lbl", F.struct((-F.col("c")).alias("nc"), F.col("lbl"))
                ).alias("lbl")
            )
            .transform(cut_lineage)
        )
    km = _node_keymap(keymap, sym, symmetric=True)
    return labels.join(km, "nid").select("key", F.col("lbl").alias("community"))


def modularity_micro(edges: DataFrame, communities: DataFrame) -> DataFrame:
    """Newman modularity Q of a community assignment, EXACT in integer
    micro-units: Q = Σ_c [in_c/m − (deg_c/2m)²] = (2m·ΣS_c − ΣD_c²)/(4m²)
    with S_c the symmetric within-community edge count (= 2·in_c), D_c
    the community degree sum, m the undirected edge count — so
    q_micro = (10⁶·(2m·ΣS_c − ΣD_c²)) div (4m²) is pure BIGINT
    arithmetic (valid to m ≈ 1.5M edges at this scale before 2⁶³; the
    inputs here are far below).  The quality score that makes LPA/CC
    output judgeable.

    ``edges`` must be the SYMMETRIZED DISTINCT edge set (both directions,
    no self-loops) — the same table LPA iterates on; ``communities`` is
    (key, community).  Shuffles: two id-keyed joins + two tiny aggregates.

    Output: one row (m, n_communities, sym_within, q_micro).
    """
    sym = edges.select("src_key", "dst_key")
    comm = communities.select("key", "community")
    deg = sym.groupBy(F.col("src_key").alias("key")).agg(
        F.count("*").alias("d")
    )
    dstat = (
        deg.join(comm, "key")
        .groupBy("community")
        .agg(F.sum("d").alias("D"))
    )
    ca = comm.select(F.col("key").alias("src_key"), F.col("community").alias("c_a"))
    cb = comm.select(F.col("key").alias("dst_key"), F.col("community").alias("c_b"))
    within = (
        sym.join(ca, "src_key")
        .join(cb, "dst_key")
        .where(F.col("c_a") == F.col("c_b"))
        .groupBy(F.col("c_a").alias("community"))
        .agg(F.count("*").alias("S"))
    )
    per_c = dstat.join(within, "community", "left").select(
        "community",
        F.coalesce("S", F.lit(0)).alias("S"),
        "D",
    )
    tot = per_c.agg(
        F.count("*").alias("n_communities"),
        F.sum("S").cast("long").alias("SS"),
        F.sum(F.col("D") * F.col("D")).cast("long").alias("DD"),
    )
    m = sym.agg(F.expr("count(*) div 2").alias("m"))
    return tot.crossJoin(F.broadcast(m)).select(
        "m",
        "n_communities",
        F.col("SS").alias("sym_within"),
        F.expr("(1000000 * (2 * m * SS - DD)) div (4 * m * m)").alias(
            "q_micro"
        ),
    )


def neighbor_jaccard_pairs(
    edges: DataFrame,
    threshold: float,
    max_degree: int = 100,
) -> DataFrame:
    """Node-similarity / link-prediction pairs: Jaccard over NEIGHBOR sets
    of the undirected closure of the edges.

    (a, b, jaccard) for node pairs sharing ≥ 1 neighbor, J = |N(a)∩N(b)|
    / |N(a)∪N(b)| ≥ threshold — the structural-equivalence score behind
    "users who interact with the same things", co-purchase similarity,
    and graph-side dedup.  The pair generator joins THROUGH the shared
    neighbor (the graph twin of the shingle inverted index), so hub
    nodes explode candidate pairs quadratically; neighbors with degree >
    ``max_degree`` are excluded from BOTH the pair generation and the
    degree/intersection counts (identically on both engines — results
    stay exact over the reduced neighbor universe, the same stop-shingle
    discipline as dedup.jaccard_pairs).

    Shuffles: degree aggregate, pair-count aggregate on (a, b), two
    id-keyed degree joins — all linear in the guarded candidate set.
    """
    adj = _adjacency(edges)
    # the guard drops HUB NEIGHBORS
    small = (
        adj.groupBy("nbr")
        .agg(F.count("*").alias("nbr_deg"))
        .where(F.col("nbr_deg") <= max_degree)
        .select("nbr")
    )
    adj = adj.join(small, "nbr", "left_semi").transform(cut_lineage)
    deg = adj.groupBy("node").agg(F.count("*").alias("deg"))
    a, b = adj.alias("a"), adj.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.nbr") == F.col("b.nbr"))
            & (F.col("a.node") < F.col("b.node")),
        )
        .groupBy(F.col("a.node").alias("na"), F.col("b.node").alias("nb"))
        .agg(F.count("*").alias("common"))
    )
    da = deg.select(F.col("node").alias("na"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("nb"), F.col("deg").alias("deg_b"))
    jac = F.col("common") / (F.col("deg_a") + F.col("deg_b") - F.col("common"))
    return (
        common.join(da, "na")
        .join(db, "nb")
        .where(jac >= threshold)
        .select(
            F.col("na").alias("node_a"),
            F.col("nb").alias("node_b"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


def deterministic_walks(edges: DataFrame, steps: int = 4) -> DataFrame:
    """Hash-driven uniform random walks from every node — the node2vec /
    DeepWalk sampling primitive (p = q = 1) made REPRODUCIBLE: at node v
    on step t of the walk started at s, the next neighbor is
    ``sorted_neighbors(v)[ h60(s:t:v) mod deg(v) ]`` with h60 the
    engine's portable 60-bit md5 hash — so any engine (and any re-run)
    derives the identical corpus of walks, which is what makes
    walk-generated training data auditable.  Walks run on the undirected
    closure of the edges, so no walk meets a dead end.

    Output: (walk_id, step, node) — walk_id is the start key, step 0 is
    the start itself.

    Scale: per step one equi-join keyed on the current node against the
    indexed adjacency (row_number-per-node neighbor ranks, one window
    shuffle, materialized once) — T keyed joins total, each linear in
    the walk count; no per-walk driver logic, no RNG state.

    The pick is resolved BEFORE touching the adjacency: a walk first
    joins the node-sized degree table to compute ``pick = h60 % deg``
    (one md5 per walk), then equi-joins the adjacency on
    ``(node, idx) = (cur, pick)`` — one output row per walk.  The naive
    formulation (join all neighbors, filter ``idx = pick``) emits
    Σ deg(cur) rows per step and evaluates the md5 once per NEIGHBOR;
    on hub-heavy graphs that is orders of magnitude more join output
    for identical results (the equi-join on idx selects exactly the row
    the filter kept).
    """
    from pyspark.sql import Window

    if steps < 1:
        raise ValueError("steps must be >= 1")
    adj = _adjacency(edges)
    w = Window.partitionBy("node").orderBy("nbr")
    ai = adj.select(
        "node",
        "nbr",
        (F.row_number().over(w) - 1).alias("idx"),
        F.count("*").over(Window.partitionBy("node")).alias("deg"),
    ).transform(cut_lineage)
    # node-sized (node, deg) table — deg is constant within a node group
    degs = ai.select("node", "deg").distinct().transform(cut_lineage)

    def h60(c):
        return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")

    frontier = degs.select(
        F.col("node").alias("walk_id"),
        F.col("node").alias("cur"),
        F.lit(0).cast("long").alias("step"),
    )
    levels = [frontier]
    for t in range(1, steps + 1):
        pick = h60(
            F.concat_ws(":", F.col("walk_id"), F.lit(str(t)), F.col("cur"))
        ) % F.col("deg")
        stepped = frontier.join(degs, frontier.cur == degs.node).select(
            "walk_id", "cur", pick.alias("pick")
        )
        frontier = (
            stepped.join(
                ai,
                (stepped.cur == ai.node) & (stepped.pick == ai.idx),
            )
            .select(
                "walk_id",
                F.col("nbr").alias("cur"),
                F.lit(t).cast("long").alias("step"),
            )
        )
        levels.append(frontier)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.select("walk_id", "step", F.col("cur").alias("node"))


def adamic_adar_pairs(
    edges: DataFrame,
    min_common: int = 2,
    max_degree: int = 100,
) -> DataFrame:
    """Link-prediction pairs scored by Adamic–Adar over the undirected
    closure of the edges: AA(a,b) =
    Σ_{z ∈ N(a)∩N(b)} 1/ln(deg(z)) (Adamic & Adar '03) — common neighbors
    weighted inversely by how promiscuous they are, so a shared rare
    neighbor says more than a shared hub.  The complement of
    ``neighbor_jaccard_pairs``: Jaccard normalizes by set size, AA by
    per-witness informativeness.

    Determinism: each witness contributes floor(10⁹/ln(deg)) integer
    nano-units, computed BEFORE the pair aggregation, so the per-pair
    score is an order-exact BIGINT sum (ln and IEEE double division are
    in the cross-engine trust base; floor freezes the value).

    Scale: the same guarded wedge-enumeration shape as neighbor Jaccard —
    shared neighbors with degree > ``max_degree`` are excluded from the
    pair generator (hub wedges are quadratic; identical exclusion in the
    oracle keeps results exact over the reduced universe), degree-1
    neighbors are excluded before the division (they cannot witness a
    pair; ln(1) = 0 would throw under ANSI).  Shuffles: one degree
    aggregate, one id-keyed contribution join, one pair aggregate — all
    linear in the guarded wedge count.

    Output: (node_a, node_b, common, aa_nano) with node_a < node_b.
    """
    adj = _adjacency(edges)
    deg = adj.groupBy("node").agg(F.count("*").alias("d"))
    contrib = (
        adj.join(
            deg.where((F.col("d") >= 2) & (F.col("d") <= max_degree)).select(
                F.col("node").alias("nbr"), "d"
            ),
            "nbr",
        )
        .select(
            "node",
            "nbr",
            F.floor(F.lit(1_000_000_000.0) / F.log(F.col("d")))
            .cast("long")
            .alias("contrib"),
        )
        .transform(cut_lineage)
    )
    a, b = contrib.alias("a"), contrib.alias("b")
    return (
        a.join(
            b,
            (F.col("a.nbr") == F.col("b.nbr"))
            & (F.col("a.node") < F.col("b.node")),
        )
        .groupBy(
            F.col("a.node").alias("node_a"), F.col("b.node").alias("node_b")
        )
        .agg(
            F.count("*").alias("common"),
            F.sum(F.col("a.contrib")).alias("aa_nano"),
        )
        .where(F.col("common") >= min_common)
    )


def hits_scaled(edges: DataFrame, iters: int = 3, scale: int = 10**6) -> DataFrame:
    """(key, hub, auth) — HITS hub/authority scores in integer fixed point
    (Kleinberg '99), the directed-graph complement of PageRank: a node is a
    good AUTHORITY if good hubs point at it, a good HUB if it points at
    good authorities (reference semantics target: the same adjacency
    tables g1/g2 traverse, models/egraph_*_model.erl edge storage).

    Per round (classic update order): a(v) ← Σ_{u→v} h(u), L∞-normalized
    to the 10⁶ scale, THEN h(u) ← Σ_{u→v} a(v) with the fresh a.  The
    normalizing multiply bounds at max_degree·scale², so 10⁶ holds
    overflow-free to ~9·10⁶ in-degree (BIGINT errors loudly past it, in
    both engines, rather than wrapping).  L∞ (max)
    normalization replaces the float L2 norm so every engine lands on
    identical integers — a 1-row max broadcast instead of a sqrt; the
    dominant hub/authority pins to exactly `scale`.

    Scale behavior = pagerank_scaled's: per round one scatter join + one
    gather aggregate each direction (aggregateMessages shape), node-sized
    frames localCheckpointed so the plan stays linear in rounds.
    """
    # The rounds iterate on 8-byte xxhash64 node ids (the kcore/ppr
    # discipline): the fixed-point arithmetic never inspects the key, the
    # round COUNT is fixed (iters), and Σ h(u) / Σ a(v) are order-free
    # integer sums — an injective relabeling changes nothing — so every
    # scatter join and gather aggregate shuffles 8 B ids instead of key
    # strings.  The id→key map joins back once, on the final output.
    ks = edges.select("src_key", "dst_key").distinct().transform(cut_lineage)
    e = ks.select(
        F.xxhash64("src_key").alias("src_key"),
        F.xxhash64("dst_key").alias("dst_key"),
    )
    nodes = (
        _endpoints(ks)
        .select(F.xxhash64("key").alias("nid"), "key")
        .transform(cut_lineage)
    )
    # Inner-only propagation: a node whose score is 0 contributes nothing
    # to the next gather, so the per-round frames carry ONLY scored nodes
    # (sources for hubs, sinks for authorities) — the nodes-outer-join +
    # coalesce(0) happens exactly once, on the final output.  Same values
    # as the all-nodes formulation (the SQL oracle), half the joins.
    if iters < 1:
        raise ValueError(f"hits_scaled needs iters >= 1, got {iters}")
    hub = e.select(F.col("src_key").alias("key")).distinct().select(
        "key", F.lit(scale).cast("long").alias("h")
    )
    # SQL `div` (JVM long division) — exact at ANY magnitude below the
    # overflow bound, unlike the double-path _intdiv which drifts past 2^53
    norm_expr = F.expr(
        f"cast(coalesce((s * {int(scale)}) div nullif(mx, 0), 0) as bigint)"
    )

    def gather(scores: DataFrame, frm: str, to: str, out: str) -> DataFrame:
        # one half-round: scatter each (key, score) along e from its `frm`
        # end, sum per `to` end, L∞-normalize into column `out`
        raw = (
            e.join(scores, e[frm] == scores["key"])
            .groupBy(to)
            .agg(F.sum(scores.columns[1]).alias("s"))
        )
        mx = raw.agg(F.max("s").alias("mx"))
        return raw.crossJoin(F.broadcast(mx)).select(
            F.col(to).alias("key"), norm_expr.alias(out)
        )

    for _ in range(iters):
        # auth is not cut: consumed once by the hub half (the final
        # select re-derives only the last round)
        auth = gather(hub, "src_key", "dst_key", "a")
        hub = gather(auth, "dst_key", "src_key", "h").transform(cut_lineage)
    return (
        nodes.join(hub, nodes["nid"] == hub["key"], "left")
        .join(auth.withColumnRenamed("key", "akey"), nodes["nid"] == F.col("akey"), "left")
        .select(
            nodes["key"],
            F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("hub"),
            F.coalesce(F.col("a"), F.lit(0)).cast("long").alias("auth"),
        )
    )


def bipartite_projection(
    edges: DataFrame, max_fanout: int = 64
) -> DataFrame:
    """Weighted one-mode projection of a bipartite graph: for every pair of
    DST nodes sharing a SRC neighbor, an edge (a, b, w) with w = number of
    shared neighbors — the "co-purchase" / "co-supply" primitive behind
    recommendation graphs and co-occurrence analytics.

    Pair generation is the LSH-bucket discipline: a src node with more
    than ``max_fanout`` dst neighbors is a hub whose |N|² pair explosion
    would dominate the job, so it is dropped BEFORE the self-join (same
    guard, same rationale, same oracle-replicated semantics as
    dedup.lsh_candidate_pairs and neighbor-Jaccard).  Output pairs are
    canonical (a < b).

    Scale: one fanout aggregate + a semi-join to drop hubs + a self-join
    on src (co-partitioned by the join key) + a map-side-combined count.
    Work is Σ|N(src)|² over kept nodes — bounded by max_fanout·|E|.
    """
    e = edges.select("src_key", "dst_key").distinct()
    small = (
        e.groupBy("src_key")
        .agg(F.count("*").alias("d"))
        .where(F.col("d") <= max_fanout)
        .select("src_key")
    )
    ee = e.join(small, "src_key", "left_semi")
    a = ee.select("src_key", F.col("dst_key").alias("a"))
    b = ee.select(F.col("src_key").alias("sk2"), F.col("dst_key").alias("b"))
    return (
        a.join(b, (a["src_key"] == b["sk2"]) & (a["a"] < b["b"]))
        .groupBy("a", "b")
        .agg(F.count("*").alias("w"))
    )


def personalized_pagerank(
    edges: DataFrame, seeds: DataFrame, iters: int = 3, scale: int = 10**12,
    keymap: DataFrame | None = None,
) -> DataFrame:
    """(key, ppr) — personalized PageRank: the random walk restarts to
    the SEED set instead of uniformly (topic-sensitive PageRank,
    Haveliwala '02; the standard graph-proximity score for
    recommendation / related-entity queries).

    Same fixed-point integer discipline as ``pagerank_scaled``: all
    arithmetic scaled by 10^12 with 85/100 integer damping, dangling
    mass dropped, so both engines reproduce identical values.  The
    restart mass (15 %) goes to seeds only; nodes never reached keep
    exactly 0 and are never materialized — the frames carry ONLY nodes
    with nonzero mass (inner propagation, the HITS discipline), which at
    100 TB keeps iteration state proportional to the reachable
    neighborhood of the seed set, not the graph.

    seeds: one ``key`` column; a bounded personalization set (its count
    is the only driver-side action).
    """
    # Iterates on 8-byte xxhash64 node ids (the kcore/hits discipline):
    # the fixed-point arithmetic never looks at the key, so every
    # scatter join / gather aggregate shuffles 8 B ids instead of key
    # strings; the id→key map joins back once on the final
    # neighborhood-sized frame.  The map includes the seed keys — a
    # seed absent from the edge set still carries restart mass.
    kedges = edges.select("src_key", "dst_key")
    e = kedges.select(
        F.xxhash64("src_key").alias("src"), F.xxhash64("dst_key").alias("dst")
    ).transform(cut_lineage)
    ed = e.join(
        e.groupBy("src").agg(F.count("*").alias("d")), "src"
    ).transform(cut_lineage)
    kseeds = seeds.select("key").distinct().transform(cut_lineage)
    s = kseeds.select(F.xxhash64("key").alias("key"))
    ns = s.count()
    if ns == 0:
        raise ValueError("personalized_pagerank: seeds must be non-empty")
    base = (15 * scale) // (100 * ns)
    pr = s.select("key", F.lit(scale // ns).cast("long").alias("pr"))
    for _ in range(iters):
        gathered = (
            ed.join(pr, ed.src == pr.key)
            .select(
                F.col("dst").alias("key"),
                _intdiv(F.col("pr"), F.col("d")).alias("c"),
            )
            .groupBy("key")
            .agg(F.sum("c").alias("g"))
        )
        pr = (
            s.select("key", F.lit(base).cast("long").alias("b"))
            .join(gathered, "key", "full_outer")
            .select(
                "key",
                (
                    F.coalesce(F.col("b"), F.lit(0))
                    + _intdiv(
                        F.lit(85) * F.coalesce(F.col("g"), F.lit(0)), 100
                    )
                )
                .cast("long")
                .alias("pr"),
            )
            .where(F.col("pr") > 0)
            .transform(cut_lineage)
        )
    # a caller-supplied node-key frame must also cover the seed keys (a
    # seed absent from the edges still carries restart mass)
    km = _node_keymap(keymap, kedges, extra=kseeds).withColumnRenamed("key", "k")
    return pr.join(km, pr.key == km.nid).select(
        F.col("k").alias("key"), F.col("pr").alias("ppr")
    )


def strongly_connected_components(
    edges: DataFrame, max_outer: int = 4, max_inner: int = 20
) -> DataFrame:
    """(key, scc) — strongly connected components of the DIRECTED graph;
    scc = lexicographically-min key of the component (the undirected
    `connected_components` convention, but under mutual reachability).

    Algorithm: iterative coloring (Orzan '04 / the FW-BW-Trim family —
    the standard distributed SCC shape; Tarjan is inherently
    sequential):

      outer round:
        1. color fixpoint: c(v) = max(v, max over in-neighbors' colors)
           — forward max-label propagation; c(v) = max key that reaches
           v.  One join + map-side-combinable max per inner step.
        2. roots r (c(r) = r) walk BACKWARD over reversed edges
           restricted to their own color class; every node reached
           belongs to SCC(r) (it reaches r by the color invariant, r
           reaches it along the reversed walk).
        3. settled nodes leave the active set; edges are re-filtered.

    Each outer round settles at least every root's SCC, so rounds
    needed = length of the longest chain of SCCs dominated by
    successively-smaller roots — small in practice (2 on the fixture
    graph).  If ``max_outer`` is exhausted with active nodes left, the
    remainder is returned with scc = NULL (honest partial answer —
    callers on adversarial graphs raise their own caps), and the
    convergence tests pin full convergence for every test graph.  The
    INNER fixpoints honor the same contract: if either the color
    propagation or the backward walk is still changing when
    ``max_inner`` is exhausted (e.g. a single cycle longer than
    ``max_inner``), the labels of that round are untrustworthy, so the
    round settles nothing and the still-active nodes take the NULL
    leftover path instead of fragmenting into wrong component ids.

    Scale: state is (key, label) rows; every step is the
    aggregateMessages join+agg discipline.  The color fixpoint and the
    backward walk run on :mod:`.supersteps` (``delta_fixpoint`` with
    ``max``, ``frontier_walk``), which cut each round and probe it with a
    limit(1) existence test, not a count over the full frame.
    """
    raw = edges.select("src_key", "dst_key")
    # The loops iterate on the CALLER'S keys, not xxhash64 ids — the
    # kcore/betweenness id-space discipline was tried here and measured
    # SLOWER (interleaved same-session A/B at sf0.1: 10.5-24.0 s vs
    # 8.5-17.2 s): the coloring's outer/inner round counts depend on the
    # label ORDER, and an arbitrary relabeling bought narrower shuffles
    # at the price of an extra outer round and more color rounds on
    # every graph tested.  Round counts dominate row width for this
    # operator.
    #
    # node set from the UNFILTERED edges: a node appearing only in a
    # self-loop is still a (singleton) SCC
    nodes = _endpoints(raw).transform(cut_lineage)
    e_all = (
        raw.where(F.col("src_key") != F.col("dst_key"))
        .distinct()
        .transform(cut_lineage)
    )
    active = nodes
    settled = None
    for outer in range(max_outer):
        if active.limit(1).isEmpty():
            break
        if outer == 0:
            # round 1: active IS the full node set, so the two
            # edge-filtering semi-joins are identities — skip both
            # edge-sized shuffles and reuse the already-cut e_all
            e = e_all
        else:
            e = (
                e_all.join(
                    active.select(F.col("key").alias("src_key")),
                    "src_key",
                    "left_semi",
                )
                .join(
                    active.select(F.col("key").alias("dst_key")),
                    "dst_key",
                    "left_semi",
                )
                .transform(cut_lineage)
            )
        # color fixpoint by delta propagation (supersteps.delta_fixpoint
        # with max): only nodes whose color ROSE last round send
        c, stable = delta_fixpoint(
            active.select("key", F.col("key").alias("color")),
            lambda changed: e.join(changed, e.src_key == changed.key).select(
                F.col("dst_key").alias("key"), "color"
            ),
            F.max,
            max_inner,
        )
        if not stable:
            # colors still changing ⇒ every active label is suspect;
            # settle nothing and fall through to the NULL leftover path
            break
        roots = c.where(F.col("key") == F.col("color")).select(
            "key", F.col("color").alias("root")
        ).transform(cut_lineage)

        def walk_back(frontier: DataFrame, _step: int) -> DataFrame:
            # one step backward: u -> v with v settled-for-root and
            # c(u) = root  ⇒  u is in SCC(root).  Joining the FRONTIER
            # (last hop) instead of the whole growing reach set yields
            # the identical per-hop candidates — any u adjacent to an
            # older reach member was a candidate on the hop after that
            # member joined, so it is already visited and the walk's
            # anti-join removes it either way — while the edge join stays
            # O(frontier-adjacent edges) instead of O(reach-adjacent).
            # Keying the walk on the node alone is exact: a node belongs
            # to at most one color class, so (key, root) is determined by
            # key.
            return (
                e.join(frontier, e.dst_key == frontier.key)
                .select(F.col("src_key").alias("key"), "root")
                .join(c, "key")
                .where(F.col("color") == F.col("root"))
                .select("key", "root")
                .distinct()
            )

        levels = list(frontier_walk(roots, walk_back, max_inner))
        if len(levels) == max_inner:
            # the walk never ran dry: incomplete SCC membership would
            # make even the found members' min-key component id wrong —
            # settle nothing
            break
        reach = levels[-1][2] if levels else roots
        settled = (
            reach if settled is None else settled.unionByName(reach)
        )
        active = active.join(reach, "key", "left_anti").transform(
            cut_lineage
        )
    # NULL placeholder typed from the key column, not hardcoded string —
    # integer node ids must not coerce the scc column on unionByName
    null_scc = F.lit(None).cast(nodes.schema["key"].dataType).alias("scc")
    if settled is None:  # empty graph or nothing converged
        return nodes.select("key", null_scc)
    scc_min = settled.groupBy("root").agg(F.min("key").alias("scc"))
    out = settled.join(scc_min, "root").select("key", "scc")
    leftover = active.select("key", null_scc)
    return out.unionByName(leftover)


def betweenness_k(
    edges: DataFrame, seeds: DataFrame, max_depth: int,
    pre_deduped: bool = False, symmetrize: bool = False,
    keymap: DataFrame | None = None,
) -> DataFrame:
    """Seed-sampled, depth-bounded betweenness centrality — Brandes'
    algorithm (J. Math. Sociol. '01) in its landmark form: dependency
    δ_s(v) accumulated only over shortest paths from the seed set, cut
    at ``max_depth`` hops (the standard scale-out for an O(nm) exact
    computation; Riondato & Kornaropoulos '14 justify the sampling).

    Forward: the multi-source BFS of :func:`harmonic_centrality`, but
    each (seed, node) frontier row carries σ — the NUMBER of shortest
    paths — summed edge-parallel per level (a node's predecessors all
    sit in the previous frontier, so one aggregate per level completes
    σ).  Backward: levels unwind deepest-first; an edge (v at L−1, w at
    L) is a shortest-path-DAG edge by the BFS property, contributing
    ``σ_v · (10⁶ + δ_w) div σ_w`` in integer micro-units — each edge
    term is an independent exact integer, so the per-node sums are
    order-free and the SQL oracle replays them bit-for-bit.

    Output: ``(key, bc_micro)`` for every node reached at level ≥ 1 —
    Σ_seeds δ_s(v), endpoints excluded per Brandes.

    Scale: forward = one edge join + one aggregate + one anti-join per
    level (the harmonic shape); backward = one join per level between
    two adjacent level-frames.  Frontiers are (seed, node) pairs; every
    per-level frame is lineage-cut.  σ grows combinatorially on dense
    graphs — BIGINT holds ~9·10¹⁸ paths, far past any depth-3 fanout;
    deeper cuts should quantize σ.
    """
    # σ counts SHORTEST PATHS on the simple graph: a duplicate edge row
    # would multiply sigma and every backward contribution (unlike
    # harmonic/BFS, whose min-level semantics are duplicate-immune), so
    # the operator dedupes its input unless the caller vouches for
    # distinctness (``pre_deduped=True``).
    #
    # Batched multi-source Brandes (MS-BFS batching, Then et al. VLDB'15,
    # applied to the landmark-Brandes passes): seeds run in batches of
    # ≤ 64; within a batch a node's per-seed state is ONE ROW — a 64-bit
    # "newly reached" mask plus a σ (forward) / δ (backward) array
    # indexed by seed bit.  Every join therefore emits one row PER EDGE
    # instead of one per (seed, edge) pair (the pre-r10 shape): at 25
    # seeds the dominant forward-L3/backward shuffles carry ~25× fewer
    # rows.  σ/δ stay exact BIGINT per (seed, node) — element i of an
    # array is summed/divided with exactly the integers the pair form
    # used, and Σ over array elements is order-free — so the declared
    # result is bit-identical.  The loops also stay on 8-byte xxhash64
    # node ids (the kcore/hits discipline) with one id→key mapback join
    # on the final aggregate.
    #
    # ``pre_deduped=True`` is the caller's proof obligation that the edge
    # set — INCLUDING the symmetrized union when ``symmetrize=True`` — is
    # duplicate-free (σ would double on a duplicate row).  The gates
    # prove it structurally: every fixture edge family is per-family
    # distinct and the ordered (src-prefix, dst-prefix) pairs are
    # disjoint with no family's reverse being a family, so neither the
    # base set nor its reversal union can repeat a pair.  Skipping the
    # no-op distinct removes the largest prep shuffle in the query.
    e, keymap = _id_edges(edges, symmetrize, not pre_deduped, keymap)
    ranked, n_seeds = _seed_bits(seeds)
    out = None
    for b in range(0, n_seeds, 64):
        nb = min(64, n_seeds - b)  # seeds in this batch = array width
        sig0 = F.array(
            *[
                F.when(F.col("i") % 64 == i, F.lit(1).cast("long"))
                .otherwise(F.lit(0).cast("long"))
                for i in range(nb)
            ]
        )
        l0 = (
            ranked.where((F.col("i") >= b) & (F.col("i") < b + 64))
            .select(
                F.xxhash64("seed").alias("key"),
                F.expr("shiftleft(1L, int(i % 64))").alias("new"),
                sig0.alias("sig"),
            )
            .transform(cut_lineage)
        )
        # levels[lv]: (key, new = seeds whose BFS first reaches key at
        # lv, sig = per-seed σ, zero outside `new`); state tracks the
        # cumulative reached mask for the anti-visited semantics.
        levels = [l0]
        state = l0.select("key", F.col("new").alias("mask"))
        for _ in range(1, max_depth + 1):
            frontier = levels[-1]
            sums = (
                e.join(frontier, e.src == frontier.key)
                .groupBy(F.col("dst").alias("key"))
                .agg(
                    *[
                        F.sum(F.element_at("sig", i + 1)).alias(f"s{i}")
                        for i in range(nb)
                    ]
                )
            )
            # newly = seeds with ≥1 shortest path arriving AND not yet
            # reached; σ keeps only newly elements (zero elsewhere), so a
            # level frame's sig column doubles as its membership test
            # static (plan-time-unrolled) bit expressions, no lambda
            # higher-order functions: HOFs are interpreted row-at-a-time
            # outside whole-stage codegen and their wide lambda plans cost
            # driver analysis time per round (profiled: +3 s residue)
            got = " | ".join(
                f"if(s{i} > 0L, shiftleft(1L, {i}), 0L)" for i in range(nb)
            )
            cand = (
                sums.join(state, "key", "full")
                .select(
                    "key",
                    F.coalesce("mask", F.lit(0).cast("long")).alias("mask"),
                    F.expr(f"({got}) & ~coalesce(mask, 0L)").alias("new"),
                    F.array(
                        *[F.coalesce(f"s{i}", F.lit(0).cast("long")) for i in range(nb)]
                    ).alias("raw"),
                )
                .transform(cut_lineage)
            )
            hop = cand.where(F.col("new") != 0)
            if hop.limit(1).isEmpty():
                break
            levels.append(
                hop.select(
                    "key",
                    "new",
                    F.array(
                        *[
                            F.expr(
                                f"if((new & shiftleft(1L, {i})) != 0L, raw[{i}], 0L)"
                            )
                            for i in range(nb)
                        ]
                    ).alias("sig"),
                )
            )
            state = cand.select(
                "key", F.expr("mask | new").alias("mask")
            )
        # backward dependency accumulation, deepest level first.
        # deltas[lv]: (key, sig, delta) aligned arrays, zero outside the
        # level's seed membership (sig[i] > 0 ⟺ key is at lv for seed i).
        deltas = [None] * len(levels)
        zeros = F.array(*[F.lit(0).cast("long") for _ in range(nb)])
        deltas[-1] = levels[-1].select("key", "sig", zeros.alias("delta"))
        for lv in range(len(levels) - 2, 0, -1):
            succ = deltas[lv + 1].select(
                F.col("key").alias("w"),
                F.col("sig").alias("sig_w"),
                F.col("delta").alias("delta_w"),
            )
            # join the SHALLOWER level frame to the edges first, then
            # attach the successor frame (same commuting-inner-joins
            # argument as the pair form): the intermediate is "out-edges
            # of L_lv", never "in-edges of the huge deepest level".
            # Element i contributes σ_v·(10⁶+δ_w) div σ_w exactly when v
            # is at lv AND w at lv+1 for seed i — both encoded by the
            # zero-filled σ arrays.
            lvf = levels[lv]
            contrib = (
                lvf.join(e, lvf.key == e.src)
                .select("key", "sig", F.col("dst").alias("w"))
                .join(succ, "w")
                .groupBy("key")
                .agg(
                    *[
                        F.sum(
                            F.expr(
                                f"if(sig[{i}] > 0L and sig_w[{i}] > 0L, "
                                f"sig[{i}] * (1000000L + delta_w[{i}]) div sig_w[{i}], "
                                "0L)"
                            )
                        ).alias(f"d{i}")
                        for i in range(nb)
                    ]
                )
            )
            deltas[lv] = (
                lvf.join(contrib, "key", "left")
                .select(
                    "key",
                    "sig",
                    F.array(
                        *[
                            F.coalesce(f"d{i}", F.lit(0).cast("long"))
                            for i in range(nb)
                        ]
                    ).alias("delta"),
                )
                .transform(cut_lineage)
            )
        dsum = " + ".join(f"delta[{i}]" for i in range(nb))
        for lv in range(1, len(levels)):
            part = deltas[lv].select("key", F.expr(dsum).alias("delta"))
            out = part if out is None else out.unionByName(part)
    if out is None:
        # no node left the seed level: empty result typed off the seeds
        return (
            seeds.select(F.col("seed").alias("key"))
            .where(F.lit(False))
            .withColumn("bc_micro", F.lit(0).cast("long"))
        )
    agg = out.groupBy("key").agg(F.sum("delta").cast("long").alias("bc_micro"))
    return (
        agg.join(keymap, agg.key == keymap.nid)
        .select(keymap.key, "bc_micro")
        .orderBy("key")
    )


def ktruss_peel(edges: DataFrame, k: int = 4, rounds: int = 3) -> DataFrame:
    """k-truss of an undirected simple graph (Cohen '08): the maximal
    subgraph where every edge sits in ≥ k−2 triangles — the standard
    cohesion refinement of k-core (every k-truss is a (k−1)-core, but
    truss demands the support come from TRIANGLES, so it isolates
    genuinely dense communities that degree alone can't).

    Peeling with a FIXED round budget, like :func:`kcore_peel`: each
    round enumerates the triangles of the canonical (a < b) edge set with
    :func:`_triangles` (each found exactly once), explodes each
    triangle's three edges, counts per-edge support with one hash
    aggregate, and drops edges below k−2.  A fixpoint inside the budget
    is reported honestly by the support column of the FINAL survivor set
    (recomputed once after the last peel, so callers can check every
    reported support ≥ k−2 ⇔ converged).  Output: ``(a, b, support)``,
    canonical, ascending.

    Scale: per round, the degree-oriented wedge join of
    :func:`_triangles` on the hub-capped edge table + one
    map-side-combined aggregate; every survivor frame is lineage-cut.
    Triangle enumeration cost is Σ_e min-degree — callers bound it
    upstream with the same max-fanout hub discipline as
    bipartite_projection / neighbor-Jaccard (a truss never contains a
    hubless triangle that the cap would have cut: dropped hubs can only
    LOWER supports, so the cap is a documented approximation exactly as
    in those operators).
    """
    # Duplicate pairs and self-loops would miscount triangle support, so
    # the canonical pair set is always deduplicated (gates/graph.py's
    # q_graph_ktruss records why skipping it does not pay even where the
    # input is provably duplicate-free).
    und_keys = (
        edges.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .transform(cut_lineage)
    )
    # The peel iterates on 8-byte xxhash64 node ids (the kcore/hits
    # discipline), pairs re-canonicalized by ID order: support counts
    # are orientation- and representation-invariant (any injective node
    # relabeling maps triangles 1:1), so every wedge join, side explode
    # and support aggregate shuffles 16 B pairs instead of two key
    # strings.  The id-pair → key-pair map joins back once, on the
    # final survivor set.
    und = und_keys.select(
        F.least(F.xxhash64("a"), F.xxhash64("b")).alias("a"),
        F.greatest(F.xxhash64("a"), F.xxhash64("b")).alias("b"),
    ).transform(cut_lineage)

    def support(e: DataFrame) -> DataFrame:
        # each triangle's three sides, re-canonicalized; the degree
        # orientation keeps the wedge join tractable at hub vertices (on
        # 10× data the key-ordered join took 30.9× longer, this 7.9×)
        sides = _triangles(e).select(
            F.explode(
                F.array(
                    F.struct(
                        F.least("w_src", "w_mid").alias("a"),
                        F.greatest("w_src", "w_mid").alias("b"),
                    ),
                    F.struct(
                        F.least("w_mid", "w_dst").alias("a"),
                        F.greatest("w_mid", "w_dst").alias("b"),
                    ),
                    F.struct("a", "b"),
                )
            ).alias("s")
        ).select("s.a", "s.b")
        return sides.groupBy("a", "b").agg(
            F.count("*").cast("long").alias("support")
        )

    for _ in range(rounds):
        sup = support(und)
        und = (
            und.join(sup, ["a", "b"], "left")
            .where(F.coalesce("support", F.lit(0)) >= k - 2)
            .select("a", "b")
            .transform(cut_lineage)
        )
    final = support(und)
    survivors = und.join(final, ["a", "b"], "left").select(
        F.col("a").alias("ia"),
        F.col("b").alias("ib"),
        F.coalesce("support", F.lit(0)).cast("long").alias("support"),
    )
    back = und_keys.select(
        "a",
        "b",
        F.least(F.xxhash64("a"), F.xxhash64("b")).alias("ia"),
        F.greatest(F.xxhash64("a"), F.xxhash64("b")).alias("ib"),
    )
    return (
        survivors.join(back, ["ia", "ib"])
        .select("a", "b", "support")
        .orderBy("a", "b")
    )
