"""Hostile-graph parity: Spark graph operators vs pure-Python references.

The driver fixture derives its graph from TPC-H foreign keys, which is
structurally tame: no self-loops, no duplicate edge rows, no isolated
self-loop-only nodes, bounded skew.  Real graphs have all of these, and
iterative Spark loops (checkpointed frontiers, semi-join peels, integer
fixed-point updates) are exactly the code most likely to diverge on them.
Each operator here is replayed on a battery of adversarial graphs against
an independent pure-Python reference implementing the documented
semantics (duplicate-row handling included — pagerank deliberately counts
duplicate edges, triangle/CC/projection deliberately collapse them).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from egraphdb_spark.operators.graph_algos import (
    bfs_levels,
    bipartite_projection,
    connected_components,
    kcore_peel,
    pagerank_scaled,
    triangle_stats,
)


# ---------------------------------------------------------------- graphs
def _rand_graph(seed: int, n: int, m: int) -> list[tuple[str, str]]:
    rng = random.Random(seed)
    pairs = []
    for _ in range(m):
        a, b = rng.randrange(n), rng.randrange(n)
        pairs.append((f"n{a:02d}", f"n{b:02d}"))
        if rng.random() < 0.2:  # duplicate edge rows are common in logs
            pairs.append((f"n{a:02d}", f"n{b:02d}"))
    pairs.append((f"n{rng.randrange(n):02d}",) * 2)  # self-loop
    return pairs


GRAPHS: dict[str, list[tuple[str, str]]] = {
    # hub star with a duplicate row, a reverse edge, and a self-loop
    "hub": [("hub", f"s{i}") for i in range(9)]
    + [("hub", "s0"), ("s3", "hub"), ("hub", "hub")],
    # directed chain into a 3-cycle plus a detached self-loop-only node
    "chain_cycle": [
        ("c0", "c1"), ("c1", "c2"), ("c2", "c3"), ("c3", "c4"),
        ("c4", "c5"), ("c5", "c3"), ("iso", "iso"),
    ],
    # two triangles bridged by one edge; one triangle doubled
    "bridged": [
        ("a0", "a1"), ("a1", "a2"), ("a2", "a0"), ("a0", "a1"),
        ("b0", "b1"), ("b1", "b2"), ("b2", "b0"), ("a2", "b0"),
    ],
    "random": _rand_graph(42, 16, 40),
}


def _edges(spark, pairs):
    keys = sorted({k for p in pairs for k in p})
    nid = {k: i for i, k in enumerate(keys)}
    rows = [(s, d, nid[s], nid[d]) for s, d in pairs]
    return spark.createDataFrame(
        rows, "src_key string, dst_key string, src long, dst long"
    ).select("src_key", "dst_key", "src", "dst", F.lit("{}").alias("details"))


# ------------------------------------------------------------ references
def _und_adj(pairs):
    adj: dict[str, set[str]] = {}
    for s, d in pairs:
        adj.setdefault(s, set())
        adj.setdefault(d, set())
        adj[s].add(d)
        adj[d].add(s)
    return adj


def cc_ref(pairs):
    adj = _und_adj(pairs)
    out, seen = {}, set()
    for start in adj:
        if start in seen:
            continue
        comp, stack = [], [start]
        seen.add(start)
        while stack:
            v = stack.pop()
            comp.append(v)
            for w in adj[v]:
                if w not in seen:
                    seen.add(w)
                    stack.append(w)
        label = min(comp)
        for v in comp:
            out[v] = label
    return out


def pagerank_ref(pairs, iters=3, scale=10**12):
    # duplicates COUNT: the operator folds out-degree over edge rows
    nodes = sorted({k for p in pairs for k in p})
    n = len(nodes)
    outdeg: dict[str, int] = {}
    for s, _ in pairs:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = (15 * scale) // (100 * n)
    pr = {k: scale // n for k in nodes}
    for _ in range(iters):
        s: dict[str, int] = {k: 0 for k in nodes}
        for a, b in pairs:
            s[b] += pr[a] // outdeg[a]
        pr = {k: base + (85 * s[k]) // 100 for k in nodes}
    return pr


def bfs_ref(pairs, src, max_depth):
    fwd: dict[str, set[str]] = {}
    for s, d in pairs:
        fwd.setdefault(s, set()).add(d)
    level = {src: 0}
    frontier = [src]
    for depth in range(1, max_depth + 1):
        nxt = []
        for v in frontier:
            for w in fwd.get(v, ()):
                if w not in level:
                    level[w] = depth
                    nxt.append(w)
        if not nxt:
            break
        frontier = nxt
    return level


def tri_ref(pairs):
    und = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    deg: dict[str, int] = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    adj: dict[str, set[str]] = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = sum(len(adj[a] & adj[b]) for a, b in und) // 3
    w2 = sum(d * (d - 1) for d in deg.values())
    return {
        "n_vertices": len(deg),
        "n_edges": len(und),
        "n_wedges": w2 // 2,
        "n_triangles": tri,
        "clustering_millionths": (tri * 6_000_000) // w2 if w2 > 0 else 0,
    }


def kcore_ref(pairs, k, rounds):
    # mirror the operator: undirected distinct pairs INCLUDING self-loops
    # (a self-loop contributes one neighbor entry a→a)
    und = set()
    for a, b in pairs:
        und.add((a, b))
        und.add((b, a))
    e = und
    prev = None
    for _ in range(rounds):
        deg: dict[str, int] = {}
        for a, _b in e:
            deg[a] = deg.get(a, 0) + 1
        alive = {a for a, d in deg.items() if d >= k}
        e = {(a, b) for a, b in e if a in alive and b in alive}
        if len(e) == prev:
            break
        prev = len(e)
    deg = {}
    for a, _b in e:
        deg[a] = deg.get(a, 0) + 1
    return deg


def biproj_ref(pairs, max_fanout):
    nbrs: dict[str, set[str]] = {}
    for s, d in pairs:
        nbrs.setdefault(s, set()).add(d)
    w: dict[tuple[str, str], int] = {}
    for _, ds in nbrs.items():
        if len(ds) > max_fanout:
            continue
        ds = sorted(ds)
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                w[(ds[i], ds[j])] = w.get((ds[i], ds[j]), 0) + 1
    return w


# ----------------------------------------------------------------- tests
def test_cc_matches_union_find_on_hostile_graphs(spark):
    for name, pairs in GRAPHS.items():
        got = {
            r["key"]: r["component"]
            for r in connected_components(_edges(spark, pairs), max_iter=30).collect()
        }
        assert got == cc_ref(pairs), name


def test_pagerank_matches_integer_reference(spark):
    for name, pairs in GRAPHS.items():
        got = {
            r["key"]: r["pr"]
            for r in pagerank_scaled(_edges(spark, pairs), iters=3).collect()
        }
        assert got == pagerank_ref(pairs), name


def test_bfs_levels_match_reference(spark):
    for name, pairs in GRAPHS.items():
        src = sorted({k for p in pairs for k in p})[0]
        got = {
            r["key"]: r["level"]
            for r in bfs_levels(_edges(spark, pairs), src, max_depth=4).collect()
        }
        assert got == bfs_ref(pairs, src, 4), name


def test_bfs_path_is_a_shortest_path_or_none(spark):
    """traversal.bfs_path on every hostile graph: a valid edge path whose
    hop count is the BFS distance, or None when dst is out of reach
    within max_depth.  Queries start from the first key, the last key and
    a self-loop node where the graph has one; chain_cycle adds an
    unreachable pair (from the self-loop-only node) and a pair one hop
    beyond max_depth."""
    from egraphdb_spark.ingest import node_id
    from egraphdb_spark.operators.traversal import bfs_path

    max_depth = 4
    outcomes = set()
    for name, pairs in GRAPHS.items():
        # bfs_path joins on node_id(key), not on _edges' dense ids
        e = spark.createDataFrame(pairs, "src_key string, dst_key string").select(
            "src_key", "dst_key",
            node_id("src_key").alias("src"), node_id("dst_key").alias("dst"),
        )
        keys = sorted({k for p in pairs for k in p})
        queries = [(keys[0], keys[-1]), (keys[-1], keys[0])]
        for loop in sorted({s for s, d in pairs if s == d})[:1]:
            queries += [(loop, keys[0]), (loop, keys[len(keys) // 2])]
        if name == "chain_cycle":
            queries += [("iso", "c0"), ("c0", "c5"), ("c0", "c4")]
        edge_set = set(pairs)
        for src, dst in queries:
            if src == dst:
                continue
            got = bfs_path(e, src, dst, max_depth=max_depth)
            want = bfs_ref(pairs, src, max_depth).get(dst)
            if want is None:
                assert got is None, (name, src, dst, got)
            else:
                assert got is not None, (name, src, dst)
                assert got[0] == src and got[-1] == dst, (name, got)
                assert len(got) - 1 == want, (name, src, dst, got, want)
                assert all(hop in edge_set for hop in zip(got, got[1:])), (name, got)
            outcomes.add(want is None)
    assert outcomes == {True, False}


def test_triangle_census_matches_reference_both_orientations(spark):
    for name, pairs in GRAPHS.items():
        want = tri_ref(pairs)
        for orient in ("degree", "id"):
            row = triangle_stats(_edges(spark, pairs), orientation=orient).collect()[0]
            assert row.asDict() == want, (name, orient)


def test_kcore_peel_matches_reference(spark):
    for name, pairs in GRAPHS.items():
        for k in (2, 3):
            got = {
                r["key"]: r["degree"]
                for r in kcore_peel(_edges(spark, pairs), k=k, rounds=3).collect()
            }
            assert got == kcore_ref(pairs, k, 3), (name, k)


def test_bipartite_projection_matches_reference(spark):
    for name, pairs in GRAPHS.items():
        got = {
            (r["a"], r["b"]): r["w"]
            for r in bipartite_projection(_edges(spark, pairs), max_fanout=4).collect()
        }
        assert got == biproj_ref(pairs, 4), name


def _weighted(pairs):
    # deterministic per-endpoint weights; duplicate rows share the weight
    def w(s, d):
        return ((len(s) * 7 + len(d) * 3 + ord(s[-1]) + ord(d[-1])) % 5 + 1) * 0.25

    return [(s, d, w(s, d)) for s, d in pairs]


def sssp_ref(wpairs, src, max_iter):
    dist = {src: 0.0}
    frontier = {src}
    for _ in range(max_iter):
        relaxed: dict[str, float] = {}
        for s, d, w in wpairs:
            if s in frontier:
                cand = dist[s] + w
                if d not in relaxed or cand < relaxed[d]:
                    relaxed[d] = cand
        frontier = {
            k for k, v in relaxed.items() if k not in dist or v < dist[k]
        }
        for k in frontier:
            dist[k] = relaxed[k]
        if not frontier:
            break
    return dist


def hits_ref(pairs, iters=3, scale=10**6):
    e = sorted(set(pairs))
    nodes = sorted({k for p in pairs for k in p})
    hub = {s: scale for s in {a for a, _ in e}}
    auth: dict[str, int] = {}
    for _ in range(iters):
        a_raw: dict[str, int] = {}
        for u, v in e:
            if u in hub:
                a_raw[v] = a_raw.get(v, 0) + hub[u]
        mx = max(a_raw.values())
        auth = {v: (s * scale) // mx for v, s in a_raw.items()}
        h_raw: dict[str, int] = {}
        for u, v in e:
            if v in auth:
                h_raw[u] = h_raw.get(u, 0) + auth[v]
        mx = max(h_raw.values())
        hub = {u: (s * scale) // mx for u, s in h_raw.items()}
    return {k: (hub.get(k, 0), auth.get(k, 0)) for k in nodes}


def test_sssp_matches_bellman_ford_reference(spark):
    from egraphdb_spark.operators.graph_algos import shortest_paths_weighted

    for name, pairs in GRAPHS.items():
        wpairs = _weighted(pairs)
        src = sorted({k for p in pairs for k in p})[0]
        e = spark.createDataFrame(
            wpairs, "src_key string, dst_key string, w double"
        )
        got = {
            r["key"]: r["dist"]
            for r in shortest_paths_weighted(e, src, F.col("w"), max_iter=6).collect()
        }
        assert got == sssp_ref(wpairs, src, 6), name


def test_hits_matches_integer_reference(spark):
    from egraphdb_spark.operators.graph_algos import hits_scaled

    for name, pairs in GRAPHS.items():
        got = {
            r["key"]: (r["hub"], r["auth"])
            for r in hits_scaled(_edges(spark, pairs), iters=3).collect()
        }
        assert got == hits_ref(pairs), name


def lpa_ref(pairs, rounds):
    e = set()
    for s, d in pairs:
        e.add((s, d))
        e.add((d, s))
    nodes = sorted({k for p in pairs for k in p})
    inc: dict[str, list[str]] = {}
    for u, v in e:
        inc.setdefault(v, []).append(u)
    lbl = {k: k for k in nodes}
    for _ in range(rounds):
        nxt = {}
        for v in nodes:
            if v not in inc:
                nxt[v] = lbl[v]
                continue
            counts: dict[str, int] = {}
            for u in inc[v]:
                counts[lbl[u]] = counts.get(lbl[u], 0) + 1
            nxt[v] = min(counts, key=lambda l: (-counts[l], l))
        lbl = nxt
    return lbl


def njac_ref(pairs, threshold, max_degree):
    from decimal import ROUND_HALF_UP, Decimal

    adj = set()
    for s, d in pairs:
        adj.add((s, d))
        adj.add((d, s))
    nbr_deg: dict[str, int] = {}
    for _n, b in adj:
        nbr_deg[b] = nbr_deg.get(b, 0) + 1
    adj = {(n, b) for n, b in adj if nbr_deg[b] <= max_degree}
    nbrs: dict[str, set[str]] = {}
    for n, b in adj:
        nbrs.setdefault(n, set()).add(b)
    out = {}
    ns = sorted(nbrs)
    for i, a in enumerate(ns):
        for b in ns[i + 1 :]:
            common = len(nbrs[a] & nbrs[b])
            if not common:
                continue
            j = common / (len(nbrs[a]) + len(nbrs[b]) - common)
            if j >= threshold:
                out[(a, b)] = float(
                    Decimal(repr(j)).quantize(Decimal("1e-6"), ROUND_HALF_UP)
                )
    return out


def degstats_ref(pairs):
    und = set()
    for s, d in pairs:
        und.add((s, d))
        und.add((d, s))
    deg: dict[str, int] = {}
    for a, _b in und:
        deg[a] = deg.get(a, 0) + 1
    buckets: dict[int, list[int]] = {}
    for d in deg.values():
        buckets.setdefault(d.bit_length() - 1, []).append(d)
    return {
        bk: (len(v), min(v), max(v)) for bk, v in buckets.items()
    }


def test_lpa_matches_reference(spark):
    from egraphdb_spark.operators.graph_algos import label_propagation

    for name, pairs in GRAPHS.items():
        got = {
            r["key"]: r["community"]
            for r in label_propagation(_edges(spark, pairs), rounds=3).collect()
        }
        assert got == lpa_ref(pairs, 3), name


def test_neighbor_jaccard_matches_reference(spark):
    from egraphdb_spark.operators.graph_algos import neighbor_jaccard_pairs

    for name, pairs in GRAPHS.items():
        got = {
            (r["node_a"], r["node_b"]): r["jaccard"]
            for r in neighbor_jaccard_pairs(
                _edges(spark, pairs), threshold=0.2, max_degree=6
            ).collect()
        }
        assert got == njac_ref(pairs, 0.2, 6), name


def test_degree_stats_matches_reference(spark):
    from egraphdb_spark.operators.graph_algos import degree_stats

    for name, pairs in GRAPHS.items():
        got = {
            r["bucket"]: (r["n_vertices"], r["min_deg"], r["max_deg"])
            for r in degree_stats(_edges(spark, pairs)).collect()
        }
        assert got == degstats_ref(pairs), name


def cc_directed_ref(pairs):
    # fixpoint of min-label propagation along DIRECTED edges:
    # label(v) = min key over {v} ∪ ancestors(v)
    fwd: dict[str, set[str]] = {}
    nodes = sorted({k for p in pairs for k in p})
    for s, d in pairs:
        fwd.setdefault(s, set()).add(d)
    lbl = {k: k for k in nodes}
    changed = True
    while changed:
        changed = False
        for u, vs in fwd.items():
            for v in vs:
                if lbl[u] < lbl[v]:
                    lbl[v] = lbl[u]
                    changed = True
    return lbl


def test_cc_directed_mode_matches_reference(spark):
    for name, pairs in GRAPHS.items():
        got = {
            r["key"]: r["component"]
            for r in connected_components(
                _edges(spark, pairs), max_iter=30, undirected=False
            ).collect()
        }
        assert got == cc_directed_ref(pairs), name


def aa_ref(pairs, min_common=2, max_degree=100):
    import math

    adj = _und_adj(pairs)
    deg = {n: len(s) for n, s in adj.items()}
    nodes = sorted(adj)
    out = {}
    for i, a in enumerate(nodes):
        for b in nodes[i + 1 :]:
            wit = [z for z in adj[a] & adj[b] if 2 <= deg[z] <= max_degree]
            if len(wit) >= min_common:
                out[(a, b)] = (
                    len(wit),
                    sum(math.floor(1e9 / math.log(deg[z])) for z in wit),
                )
    return out


def test_adamic_adar_matches_reference(spark):
    from egraphdb_spark.operators.graph_algos import adamic_adar_pairs

    for name, pairs in GRAPHS.items():
        for max_degree in (3, 100):
            got = {
                (r["node_a"], r["node_b"]): (r["common"], r["aa_nano"])
                for r in adamic_adar_pairs(
                    _edges(spark, pairs), min_common=2, max_degree=max_degree
                ).collect()
            }
            assert got == aa_ref(pairs, 2, max_degree), (name, max_degree)


def walks_ref(pairs, steps=4):
    import hashlib

    adj = _und_adj(pairs)
    nbrs = {n: sorted(s) for n, s in adj.items()}
    rows = set()
    for s in nbrs:
        cur = s
        rows.add((s, 0, s))
        for t in range(1, steps + 1):
            h = int(hashlib.md5(f"{s}:{t}:{cur}".encode()).hexdigest()[:15], 16)
            cur = nbrs[cur][h % len(nbrs[cur])]
            rows.add((s, t, cur))
    return rows


def test_deterministic_walks_match_reference(spark):
    from egraphdb_spark.operators.graph_algos import deterministic_walks

    for name, pairs in GRAPHS.items():
        got = {
            (r["walk_id"], r["step"], r["node"])
            for r in deterministic_walks(_edges(spark, pairs), steps=4).collect()
        }
        assert got == walks_ref(pairs), name


def test_walks_are_reproducible_and_follow_edges(spark):
    from egraphdb_spark.operators.graph_algos import deterministic_walks

    pairs = GRAPHS["random"]
    a = sorted(
        (r["walk_id"], r["step"], r["node"])
        for r in deterministic_walks(_edges(spark, pairs), steps=3).collect()
    )
    b = sorted(
        (r["walk_id"], r["step"], r["node"])
        for r in deterministic_walks(_edges(spark, pairs), steps=3).collect()
    )
    assert a == b
    adj = _und_adj(pairs)
    pos = {(w, s): n for w, s, n in a}
    for (w, s), n in pos.items():
        if s > 0:
            assert n in adj[pos[(w, s - 1)]]


def test_modularity_hand_computed(spark):
    from pyspark.sql import functions as F
    from egraphdb_spark.operators.graph_algos import modularity_micro

    # two triangles joined by one bridge; communities = the triangles.
    pairs = [
        ("a0", "a1"), ("a1", "a2"), ("a2", "a0"),
        ("b0", "b1"), ("b1", "b2"), ("b2", "b0"), ("a0", "b0"),
    ]
    e = spark.createDataFrame(pairs, ["src_key", "dst_key"])
    sym = e.unionByName(
        e.select(F.col("dst_key").alias("src_key"), F.col("src_key").alias("dst_key"))
    ).distinct()
    comm = spark.createDataFrame(
        [(n, n[0]) for n in "a0 a1 a2 b0 b1 b2".split()], ["key", "community"]
    )
    [r] = modularity_micro(sym, comm).collect()
    # m=7; within sym count = 6 per triangle; D_a = D_b = 7
    # q = (2*7*12 - 2*49) / (4*49) = 70/196 = 0.357142...
    assert (r["m"], r["n_communities"], r["sym_within"]) == (7, 2, 12)
    assert r["q_micro"] == (1_000_000 * (2 * 7 * 12 - 2 * 49)) // (4 * 49)


def test_modularity_perfect_split_and_single_community(spark):
    from pyspark.sql import functions as F
    from egraphdb_spark.operators.graph_algos import modularity_micro

    pairs = [("x0", "x1"), ("y0", "y1")]
    e = spark.createDataFrame(pairs, ["src_key", "dst_key"])
    sym = e.unionByName(
        e.select(F.col("dst_key").alias("src_key"), F.col("src_key").alias("dst_key"))
    ).distinct()
    two = spark.createDataFrame(
        [("x0", "x"), ("x1", "x"), ("y0", "y"), ("y1", "y")], ["key", "community"]
    )
    [r] = modularity_micro(sym, two).collect()
    # two disjoint dyads, perfect communities: q = 1 - 2*(2/4)^2 = 0.5
    assert r["q_micro"] == 500_000
    one = spark.createDataFrame(
        [(k, "all") for k in "x0 x1 y0 y1".split()], ["key", "community"]
    )
    [r1] = modularity_micro(sym, one).collect()
    assert r1["q_micro"] == 0  # everything in one community


def _harmonic_ref(pairs, seeds, max_depth):
    """Python BFS from each seed over the UNDIRECTED collapsed graph."""
    adj = _und_adj(pairs)
    out: dict[str, list[int]] = {}
    for s in seeds:
        if s not in adj:
            continue
        dist = {s: 0}
        frontier = [s]
        for lvl in range(1, max_depth + 1):
            nxt = []
            for u in frontier:
                for v in adj[u]:
                    if v not in dist:
                        dist[v] = lvl
                        nxt.append(v)
            frontier = nxt
        for k, d in dist.items():
            if d > 0:
                out.setdefault(k, []).append(d)
    return {
        k: (len(ds), sum(10**6 // d for d in ds)) for k, ds in out.items()
    }


def test_harmonic_centrality_matches_reference(spark):
    from egraphdb_spark.operators.graph_algos import harmonic_centrality

    for name, pairs in GRAPHS.items():
        keys = sorted({k for p in pairs for k in p})
        seeds = keys[:3]  # bounded landmark set, includes hostile nodes
        e = _edges(spark, pairs).select("src_key", "dst_key")
        und = e.unionByName(
            e.select(
                F.col("dst_key").alias("src_key"),
                F.col("src_key").alias("dst_key"),
            )
        ).distinct()
        sdf = spark.createDataFrame([(s,) for s in seeds], "seed string")
        got = {
            r["key"]: (r["n_sources"], r["harmonic_micro"])
            for r in harmonic_centrality(und, sdf, max_depth=4).collect()
        }
        assert got == _harmonic_ref(pairs, seeds, 4), name


def test_harmonic_centrality_multi_batch_seeds(spark):
    """> 64 seeds forces the MS-BFS batch loop (bit i of batch i div 64):
    a 70-node path with every node as a seed — per-batch bit counts must
    add across the two batches to the per-seed reference."""
    from egraphdb_spark.operators.graph_algos import harmonic_centrality

    pairs = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(69)]
    und = pairs + [(b, a) for a, b in pairs]
    e = spark.createDataFrame(und, "src_key string, dst_key string")
    seeds = sorted({k for p in pairs for k in p})
    sdf = spark.createDataFrame([(s,) for s in seeds], "seed string")
    got = {
        r["key"]: (r["n_sources"], r["harmonic_micro"])
        for r in harmonic_centrality(e, sdf, max_depth=3).collect()
    }
    assert got == _harmonic_ref(pairs, seeds, 3)


def ppr_ref(pairs, seed_keys, iters=3, scale=10**12):
    """Pure-Python personalized PageRank with the identical integer
    recurrence: restart mass to seeds only, dangling mass dropped,
    duplicate edge rows counted."""
    nodes = sorted({k for p in pairs for k in p})
    outdeg: dict[str, int] = {}
    for s, _ in pairs:
        outdeg[s] = outdeg.get(s, 0) + 1
    ns = len(seed_keys)
    base = (15 * scale) // (100 * ns)
    pr = {k: scale // ns for k in seed_keys}
    for _ in range(iters):
        g: dict[str, int] = {}
        for a, b in pairs:
            if a in pr:
                g[b] = g.get(b, 0) + pr[a] // outdeg[a]
        pr = {}
        for k in set(seed_keys) | set(g) | set(nodes):
            v = (base if k in seed_keys else 0) + (85 * g.get(k, 0)) // 100
            if v > 0:
                pr[k] = v
    return pr


def test_personalized_pagerank_matches_integer_reference(spark):
    from egraphdb_spark.operators.graph_algos import personalized_pagerank

    for name, pairs in GRAPHS.items():
        keys = sorted({k for p in pairs for k in p})
        seed_keys = keys[: max(1, len(keys) // 3)]
        seeds = spark.createDataFrame(
            [(k,) for k in seed_keys], "key string"
        )
        got = {
            r["key"]: r["ppr"]
            for r in personalized_pagerank(
                _edges(spark, pairs), seeds, iters=3
            ).collect()
        }
        assert got == ppr_ref(pairs, seed_keys), name


def scc_ref(pairs):
    """Pure-Python SCC via mutual reachability (closure — fine at test
    scale); scc id = lexicographic min member, self-loop-insensitive."""
    nodes = sorted({k for p in pairs for k in p})
    fwd: dict[str, set[str]] = {k: set() for k in nodes}
    for a, b in pairs:
        if a != b:
            fwd[a].add(b)

    def reach(s):
        seen, stack = {s}, [s]
        while stack:
            for w in fwd[stack.pop()]:
                if w not in seen:
                    seen.add(w)
                    stack.append(w)
        return seen

    r = {v: reach(v) for v in nodes}
    return {
        v: min(u for u in nodes if u in r[v] and v in r[u]) for v in nodes
    }


def test_scc_matches_mutual_reachability_reference(spark):
    from egraphdb_spark.operators.graph_algos import (
        strongly_connected_components,
    )

    for name, pairs in GRAPHS.items():
        got = {
            r["key"]: r["scc"]
            for r in strongly_connected_components(
                _edges(spark, pairs), max_outer=8
            ).collect()
        }
        assert None not in got.values(), (name, "unconverged")
        assert got == scc_ref(pairs), name


def _betweenness_ref(pairs, seeds, depth):
    """Pure-Python depth-bounded Brandes with the identical integer-micro
    contribution semantics (undirected simple graph; duplicate rows and
    self-loops collapse/drop the way the operator's input does)."""
    adj: dict[str, set[str]] = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    bc: dict[str, int] = {}
    for s in seeds:
        lvl = {s: 0}
        sigma = {s: 1}
        levels = [[s]]
        for d in range(1, depth + 1):
            frontier = []
            sig_new: dict[str, int] = {}
            for u in levels[d - 1]:
                for v in adj.get(u, ()):  # noqa: B007
                    if v in lvl and lvl[v] < d:
                        continue
                    sig_new[v] = sig_new.get(v, 0) + sigma[u]
            for v, sg in sig_new.items():
                if v not in lvl:
                    lvl[v] = d
                    sigma[v] = sg
                    frontier.append(v)
            if not frontier:
                break
            levels.append(frontier)
        delta = {v: 0 for v in lvl}
        for d in range(len(levels) - 1, 0, -1):
            for w in levels[d]:
                for v in adj.get(w, ()):
                    if lvl.get(v) == d - 1:
                        delta[v] += sigma[v] * (10**6 + delta[w]) // sigma[w]
        for v, l_ in lvl.items():
            if l_ >= 1:
                bc[v] = bc.get(v, 0) + delta[v]
    return bc


def test_betweenness_multi_batch_seeds(spark):
    """> 64 seeds forces the batched-Brandes loop (σ/δ arrays per ≤64-seed
    batch): a 70-node cycle, every node a seed — per-batch δ sums must add
    across the two batches to the per-seed reference."""
    from egraphdb_spark.operators.graph_algos import betweenness_k

    pairs = [(f"n{i:02d}", f"n{(i + 1) % 70:02d}") for i in range(70)]
    und = pairs + [(b, a) for a, b in pairs]
    e = spark.createDataFrame(und, "src_key string, dst_key string").distinct()
    seeds = sorted({k for p in pairs for k in p})
    sdf = spark.createDataFrame([(s,) for s in seeds], "seed string")
    got = {
        r["key"]: r["bc_micro"]
        for r in betweenness_k(e, sdf, max_depth=3).collect()
    }
    assert got == _betweenness_ref(pairs, seeds, 3)


def test_betweenness_matches_reference(spark):
    from egraphdb_spark.operators.graph_algos import betweenness_k

    for name, pairs in GRAPHS.items():
        keys = sorted({k for p in pairs for k in p})
        seeds = keys[:3]
        e = _edges(spark, pairs).select("src_key", "dst_key")
        und = (
            e.unionByName(
                e.select(
                    F.col("dst_key").alias("src_key"),
                    F.col("src_key").alias("dst_key"),
                )
            )
            .where(F.col("src_key") != F.col("dst_key"))
            .distinct()
        )
        sdf = spark.createDataFrame([(s,) for s in seeds], "seed string")
        got = {
            r["key"]: r["bc_micro"]
            for r in betweenness_k(und, sdf, max_depth=3).collect()
        }
        assert got == _betweenness_ref(pairs, seeds, 3), name
