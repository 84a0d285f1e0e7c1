"""Graph operator behaviour on constructed graphs and on the fixture."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_SMOKE
from egraphdb_spark.operators.graph_algos import (
    adamic_adar_pairs,
    bfs_levels,
    connected_components,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src_key string, dst_key string").select(
        "src_key", "dst_key", F.lit("{}").alias("details")
    )


def test_cc_two_components(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    got = {r["key"]: r["component"] for r in connected_components(e).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_cc_long_chain_delta_rounds(spark):
    # 12-node path: min-label propagation needs ~11 rounds, so the delta
    # sender set (only nodes whose label dropped last round) shrinks and
    # re-expands across many iterations — exercises the frontier variant
    # well past the 1-2-round graphs above
    pairs = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(11)]
    e = _edges(spark, pairs)
    got = {r["key"]: r["component"] for r in connected_components(e).collect()}
    assert got == {f"n{i:02d}": "n00" for i in range(12)}


def test_cut_profile_names_the_algorithm_not_the_superstep_loop(spark, monkeypatch):
    """Every profiled cut of a loop run by operators.supersteps is
    attributed to the algorithm's own line (what tools/profile_query.py
    prints as "cut … where"), not to the shared loop primitive."""
    from egraphdb_spark.operators import checkpoint

    records: list = []
    monkeypatch.setattr(checkpoint, "_PROFILE", True)
    monkeypatch.setattr(checkpoint, "PROFILE_RECORDS", records)
    e = _edges(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    connected_components(e).collect()
    assert records
    assert all(where.startswith("operators/graph_algos.py:") for where, _ in records), records


def test_cut_profile_names_the_gate_module(spark, monkeypatch):
    """A cut made in a graph gate's own body names gates/graph.py, which
    a bare file name would confuse with egraphdb_spark/graph.py."""
    from egraphdb_spark.operators import checkpoint
    from egraphdb_spark.queries import REGISTRY

    records: list = []
    monkeypatch.setattr(checkpoint, "_PROFILE", True)
    monkeypatch.setattr(checkpoint, "PROFILE_RECORDS", records)
    REGISTRY["graph_kcore"][0](spark, SF_SMOKE)
    assert any(where.startswith("gates/graph.py:") for where, _ in records), records


def test_cc_directed_chain_undirected_semantics(spark):
    # CC works on the undirected closure: a long chain is one component
    # even though its edges all point one way
    e = _edges(spark, [("n3", "n2"), ("n2", "n1"), ("n1", "n0")])
    got = {r["key"]: r["component"] for r in connected_components(e).collect()}
    assert set(got.values()) == {"n0"}


def test_sssp_lighter_long_path_beats_heavy_short_path(spark):
    from pyspark.sql import functions as F

    from egraphdb_spark.operators.graph_algos import shortest_paths_weighted

    # s→t direct weight 10; s→a→b→t total weight 3 — Bellman-Ford must
    # prefer the longer-but-lighter path once enough rounds have run
    e = spark.createDataFrame(
        [("s", "t", 10.0), ("s", "a", 1.0), ("a", "b", 1.0), ("b", "t", 1.0)],
        "src_key string, dst_key string, w double",
    )
    got = {
        r["key"]: r["dist"]
        for r in shortest_paths_weighted(e, "s", F.col("w"), max_iter=5).collect()
    }
    assert got == {"s": 0.0, "a": 1.0, "b": 2.0, "t": 3.0}


def test_pagerank_in_degree_dominates(spark):
    from egraphdb_spark.operators.graph_algos import pagerank_scaled

    # hub gets 3 in-edges, spoke gets 1 — hub must rank higher; sources tie
    e = _edges(spark, [("a", "hub"), ("b", "hub"), ("c", "hub"), ("a", "spoke")])
    pr = {r["key"]: r["pr"] for r in pagerank_scaled(e, iters=3).collect()}
    assert pr["hub"] > pr["spoke"] > 0
    assert pr["b"] == pr["c"]  # identical structure → identical fixed-point value


def test_bfs_levels_min_hop(spark):
    # diamond: s→a→t and s→t directly — t's level must be the MIN (1)
    e = _edges(spark, [("s", "a"), ("a", "t"), ("s", "t")])
    got = {r["key"]: r["level"] for r in bfs_levels(e, "s", 5).collect()}
    assert got == {"s": 0, "a": 1, "t": 1}


def test_bfs_levels_depth_bound(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    got = {r["key"]: r["level"] for r in bfs_levels(e, "a", 2).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}  # d is beyond max_depth


def test_kcore_peel_converges_on_fixture(graph):
    """4 peel rounds reach the fixpoint on the fixture — so the gate's
    fixed-round result IS the true 2-core there, not a truncation."""
    from pyspark.sql import functions as F

    from egraphdb_spark.operators.graph_algos import kcore_peel

    supplied = graph.edges.where(
        F.get_json_object("details", "$.rel") == "supplied_by"
    )
    r4 = kcore_peel(supplied, 2, 4)
    r5 = kcore_peel(supplied, 2, 5)
    assert r4.exceptAll(r5).count() == 0 and r5.exceptAll(r4).count() == 0
    # every survivor has degree >= k by definition of the fixpoint
    assert r4.where(F.col("degree") < 2).count() == 0


def _lpa_python(pairs, rounds):
    """Pure-Python synchronous LPA mirror: mode of neighbor labels, ties →
    lexicographically smallest label, all updates simultaneous."""
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    nodes = sorted(adj)
    lbl = {n: n for n in nodes}
    for _ in range(rounds):
        nxt = {}
        for n in nodes:
            cnt = Counter(lbl[m] for m in adj[n])
            if cnt:
                nxt[n] = min(cnt, key=lambda k: (-cnt[k], k))
            else:
                nxt[n] = lbl[n]
        lbl = nxt
    return lbl


def test_lpa_matches_python_reference_on_barbell(spark):
    from egraphdb_spark.operators.graph_algos import label_propagation

    # two triangles joined by one bridge edge — classic two-community shape
    pairs = [
        ("a1", "a2"), ("a2", "a3"), ("a3", "a1"),
        ("b1", "b2"), ("b2", "b3"), ("b3", "b1"),
        ("a1", "b1"),
    ]
    for rounds in (1, 2, 3):
        got = {
            r["key"]: r["community"]
            for r in label_propagation(_edges(spark, pairs), rounds=rounds).collect()
        }
        assert got == _lpa_python(pairs, rounds), f"rounds={rounds}"


def test_lpa_isolated_node_keeps_own_label(spark):
    from egraphdb_spark.operators.graph_algos import label_propagation

    # self-loop-only node: its single neighbor is itself, label stable
    pairs = [("solo", "solo"), ("x", "y")]
    got = {
        r["key"]: r["community"]
        for r in label_propagation(_edges(spark, pairs), rounds=2).collect()
    }
    assert got["solo"] == "solo"


def test_neighbor_jaccard_hub_guard_and_exact_scores(spark):
    from egraphdb_spark.operators.graph_algos import neighbor_jaccard_pairs

    # a,b share both neighbors (J=1); a,c share one of two (J=1/3);
    # hub connects to everyone — degree 5 > max_degree=4 → excluded
    pairs = [
        ("a", "n1"), ("a", "n2"),
        ("b", "n1"), ("b", "n2"),
        ("c", "n1"), ("c", "n3"),
        ("a", "hub"), ("b", "hub"), ("c", "hub"), ("n1", "hub"), ("n3", "hub"),
    ]
    got = {
        (r["node_a"], r["node_b"]): r["jaccard"]
        for r in neighbor_jaccard_pairs(
            _edges(spark, pairs), threshold=0.0, max_degree=4
        ).collect()
    }
    assert got[("a", "b")] == 1.0
    assert abs(got[("a", "c")] - round(1 / 3, 6)) < 1e-9
    # without the hub every pair among {a,b,c,n1,n3} via hub would appear;
    # guard removes hub as a NEIGHBOR, so e.g. (n2, n3) never pairs
    assert ("n2", "n3") not in got


def test_hits_ranks_hubs_and_authorities(spark):
    from egraphdb_spark.operators.graph_algos import hits_scaled

    # h1 -> {A, B}, h2 -> {A}: A out-ranks B as authority (two hubs vs
    # one), h1 out-ranks h2 as hub (points at more authority mass)
    edges = spark.createDataFrame(
        [("h1", "A"), ("h1", "B"), ("h2", "A")], "src_key string, dst_key string"
    )
    out = {r["key"]: r for r in hits_scaled(edges, iters=3).collect()}
    assert out["A"]["auth"] == 10**6          # dominant authority pins to scale
    assert out["B"]["auth"] < out["A"]["auth"]
    assert out["h1"]["hub"] == 10**6          # dominant hub pins to scale
    assert out["h2"]["hub"] < out["h1"]["hub"]
    # pure hubs have zero authority, pure authorities zero hub
    assert out["h1"]["auth"] == 0 and out["A"]["hub"] == 0
    # deterministic across runs
    again = {r["key"]: r for r in hits_scaled(edges, iters=3).collect()}
    assert {k: (v["hub"], v["auth"]) for k, v in out.items()} == {
        k: (v["hub"], v["auth"]) for k, v in again.items()
    }


def test_bipartite_projection_weights_and_hub_guard(spark):
    from egraphdb_spark.operators.graph_algos import bipartite_projection

    edges = spark.createDataFrame(
        [("p1", "s1"), ("p1", "s2"), ("p2", "s1"), ("p2", "s2"), ("p3", "s2"), ("p3", "s3")],
        "src_key string, dst_key string",
    )
    got = {(r["a"], r["b"]): r["w"] for r in bipartite_projection(edges).collect()}
    # s1,s2 share p1 and p2 (w=2); s2,s3 share p3 (w=1); s1,s3 share nothing
    assert got == {("s1", "s2"): 2, ("s2", "s3"): 1}
    # hub guard: a src with fanout > max_fanout contributes no pairs
    hub = spark.createDataFrame(
        [("h", f"s{i}") for i in range(10)], "src_key string, dst_key string"
    )
    assert bipartite_projection(hub, max_fanout=4).count() == 0
    assert bipartite_projection(hub, max_fanout=16).count() == 45


def test_personalized_pagerank_hand_computed(spark):
    """Triangle a->b->c->a, seed {a}, 2 iterations, scale 1e12 —
    every value checked against the integer recurrence by hand."""
    from egraphdb_spark.operators.graph_algos import personalized_pagerank

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src_key string, dst_key string"
    )
    seeds = spark.createDataFrame([("a",)], "key string")
    out = {
        r.key: r.ppr
        for r in personalized_pagerank(e, seeds, iters=2).collect()
    }
    base = (15 * 10**12) // 100
    assert out == {
        "a": base,
        "b": (85 * base) // 100,
        "c": (85 * ((85 * 10**12) // 100)) // 100,
    }


def test_personalized_pagerank_unreached_nodes_absent(spark):
    """Nodes not reachable from the seed set carry exactly zero mass and
    are never materialized (inner propagation)."""
    from egraphdb_spark.operators.graph_algos import personalized_pagerank

    e = spark.createDataFrame(
        [("a", "b"), ("x", "y"), ("y", "x")],
        "src_key string, dst_key string",
    )
    seeds = spark.createDataFrame([("a",)], "key string")
    keys = {
        r.key for r in personalized_pagerank(e, seeds, iters=3).collect()
    }
    assert keys == {"a", "b"}


def test_personalized_pagerank_uniform_seed_split(spark):
    """Symmetric seeds on a symmetric graph get identical scores."""
    from egraphdb_spark.operators.graph_algos import personalized_pagerank

    e = spark.createDataFrame(
        [("a", "m"), ("b", "m"), ("m", "a"), ("m", "b")],
        "src_key string, dst_key string",
    )
    seeds = spark.createDataFrame([("a",), ("b",)], "key string")
    out = {
        r.key: r.ppr
        for r in personalized_pagerank(e, seeds, iters=4).collect()
    }
    assert out["a"] == out["b"]
    # seeds keep the restart mass every round, so they out-score the
    # non-seed hub; the hub still accumulates strictly positive mass
    assert 0 < out["m"] < out["a"]


def test_scc_two_cycles_and_bridge(spark):
    """Two 3-cycles joined by a one-way bridge stay separate SCCs; the
    bridge does not merge them."""
    from egraphdb_spark.operators.graph_algos import (
        strongly_connected_components,
    )

    e = spark.createDataFrame(
        [
            ("a1", "a2"), ("a2", "a3"), ("a3", "a1"),
            ("a1", "b1"),  # bridge, one-way
            ("b1", "b2"), ("b2", "b3"), ("b3", "b1"),
        ],
        "src_key string, dst_key string",
    )
    got = {
        r.key: r.scc
        for r in strongly_connected_components(e).collect()
    }
    assert got == {
        "a1": "a1", "a2": "a1", "a3": "a1",
        "b1": "b1", "b2": "b1", "b3": "b1",
    }


def test_scc_dag_is_all_singletons(spark):
    from egraphdb_spark.operators.graph_algos import (
        strongly_connected_components,
    )

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
        "src_key string, dst_key string",
    )
    got = {
        r.key: r.scc
        for r in strongly_connected_components(e).collect()
    }
    assert got == {k: k for k in "abcd"}


def test_scc_outer_cap_returns_null_not_wrong(spark):
    """A chain of SCCs each dominated by a successively smaller root
    needs one outer round per link; with the cap too low the remainder
    comes back as NULL (honest partial), never a wrong id."""
    from egraphdb_spark.operators.graph_algos import (
        strongly_connected_components,
    )

    # z-cycle colors the y-cycle (z > y), y-cycle colors the x-cycle
    e = spark.createDataFrame(
        [
            ("z1", "z2"), ("z2", "z1"),
            ("z1", "y1"),
            ("y1", "y2"), ("y2", "y1"),
            ("y1", "x1"),
            ("x1", "x2"), ("x2", "x1"),
        ],
        "src_key string, dst_key string",
    )
    full = {
        r.key: r.scc
        for r in strongly_connected_components(e, max_outer=8).collect()
    }
    assert full == {
        "z1": "z1", "z2": "z1", "y1": "y1", "y2": "y1",
        "x1": "x1", "x2": "x1",
    }
    capped = {
        r.key: r.scc
        for r in strongly_connected_components(e, max_outer=1).collect()
    }
    wrong = {k: v for k, v in capped.items() if v is not None and v != full[k]}
    assert wrong == {}
    assert any(v is None for v in capped.values())


def test_scc_long_cycle_inner_cap_null_not_wrong(spark):
    """A 25-node directed cycle (diameter > max_inner=20): the inner
    fixpoints cannot converge within the cap, so EVERY node must come
    back NULL (honest) — never fragmented into wrong non-NULL ids.
    With a big enough inner budget the same graph is one component."""
    from egraphdb_spark.operators.graph_algos import (
        strongly_connected_components,
    )

    n = 25
    e = spark.createDataFrame(
        [(f"n{i:02d}", f"n{(i + 1) % n:02d}") for i in range(n)],
        "src_key string, dst_key string",
    )
    capped = {
        r.key: r.scc for r in strongly_connected_components(e).collect()
    }
    assert len(capped) == n
    assert set(capped.values()) == {None}
    full = {
        r.key: r.scc
        for r in strongly_connected_components(e, max_inner=30).collect()
    }
    assert set(full.values()) == {"n00"}


def test_scc_integer_keys_null_type(spark):
    """Integer node ids: the NULL leftover placeholder must carry the
    key's type, not coerce the scc column to string."""
    from egraphdb_spark.operators.graph_algos import (
        strongly_connected_components,
    )

    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3)], "src_key long, dst_key long"
    )
    out = strongly_connected_components(e)
    assert dict(out.dtypes) == {"key": "bigint", "scc": "bigint"}
    got = {r.key: r.scc for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 3}


def test_personalized_pagerank_empty_seeds_raises(spark):
    import pytest as _pytest

    from egraphdb_spark.operators.graph_algos import personalized_pagerank

    e = spark.createDataFrame([("a", "b")], "src_key string, dst_key string")
    seeds = spark.createDataFrame([], "key string")
    with _pytest.raises(ValueError, match="seeds"):
        personalized_pagerank(e, seeds)


def test_betweenness_path_deep_backward_chain(spark):
    """Path a-b-c-d-e, seed a, depth 4 — four backward passes chained
    (δ accumulates level by level), pinning the level-side-first join
    order of the backward pass against hand-run Brandes."""
    from egraphdb_spark.operators.graph_algos import betweenness_k

    und = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    edges = spark.createDataFrame(
        und + [(y, x) for x, y in und], "src_key string, dst_key string"
    )
    seeds = spark.createDataFrame([("a",)], "seed string")
    got = {r.key: r.bc_micro for r in betweenness_k(edges, seeds, 4).collect()}
    # sigma = 1 everywhere; delta(e)=0, d=1e6, c=2e6, b=3e6
    assert got == {
        "b": 3_000_000, "c": 2_000_000, "d": 1_000_000, "e": 0,
    }, got


def test_betweenness_k_hand_computed_diamond(spark):
    """Diamond a-b-{c,d}-e plus pendant e-f, seeds {a, f}, depth 3 —
    hand-run Brandes with the integer-micro contribution semantics."""
    from egraphdb_spark.operators.graph_algos import betweenness_k

    und = [("a", "b"), ("b", "c"), ("b", "d"), ("c", "e"), ("d", "e"),
           ("e", "f")]
    edges = spark.createDataFrame(
        und + [(y, x) for x, y in und], "src_key string, dst_key string"
    )
    seeds = spark.createDataFrame([("a",), ("f",)], "seed string")
    got = {r.key: r.bc_micro for r in betweenness_k(edges, seeds, 3).collect()}
    # seed a: sigma b=1 c=1 d=1 e=2; delta: e=0, c=d=1e6//2, b=2*(1.5e6)
    # seed f: sigma e=1 c=1 d=1 b=2; delta: b=0, c=d=1e6//2, e=2*(1.5e6)
    # f absent: 4 hops from seed a, and level-0 seeds carry no delta
    assert got == {
        "b": 3_000_000, "c": 1_000_000, "d": 1_000_000, "e": 3_000_000,
    }, got


# ------------------------------------------------------------------ k-truss


def test_ktruss_k4_keeps_clique_peels_pendant(spark):
    from egraphdb_spark.operators.graph_algos import ktruss_peel

    # K4 on {1..4} (every edge in 2 triangles) + pendant triangle {4,5,6}
    # (support 1): k=4 keeps exactly the K4, peels the pendant
    k4 = [(a, b) for a in "1234" for b in "1234" if a < b]
    pend = [("4", "5"), ("4", "6"), ("5", "6")]
    df = spark.createDataFrame(k4 + pend, "a string, b string")
    out = ktruss_peel(df, k=4, rounds=2).collect()
    assert sorted((r.a, r.b) for r in out) == sorted(k4)
    assert all(r.support == 2 for r in out)


def test_ktruss_cascade_multi_round(spark):
    from egraphdb_spark.operators.graph_algos import ktruss_peel

    # triangle chain (1,2,3),(2,3,4),(3,4,5): k=4 peel cascades —
    # round 1 drops the support-1 flanks, round 2 finds the shared
    # edges (2,3),(3,4) now triangle-less and empties the graph
    tri = [("1","2"),("1","3"),("2","3"),("2","4"),("3","4"),("3","5"),("4","5")]
    df = spark.createDataFrame(tri, "a string, b string")
    assert ktruss_peel(df, k=4, rounds=2).count() == 0
    # k=3 keeps the whole chain (every edge has >= 1 triangle)
    out = ktruss_peel(df, k=3, rounds=2).collect()
    assert len(out) == 7
    assert {r.support for r in out} == {1, 2}


def test_ktruss_canonicalizes_and_dedupes(spark):
    from egraphdb_spark.operators.graph_algos import ktruss_peel

    # duplicate rows, reversed orientation, self-loop: one clean triangle
    rows = [("b", "a"), ("a", "b"), ("b", "c"), ("a", "c"), ("c", "c")]
    df = spark.createDataFrame(rows, "a string, b string")
    out = ktruss_peel(df, k=3, rounds=1).collect()
    assert sorted((r.a, r.b) for r in out) == [("a","b"),("a","c"),("b","c")]
    assert all(r.support == 1 for r in out)


# ------------------------------------------------------------ Adamic–Adar


def test_adamic_adar_hand_computed(spark):
    import math

    # a and b share witnesses z1 (deg 2) and z2 (deg 3).
    e = _edges(
        spark,
        [("a", "z1"), ("b", "z1"), ("a", "z2"), ("b", "z2"), ("c", "z2")],
    )
    out = adamic_adar_pairs(e, min_common=2).collect()
    [r] = [r for r in out if {r["node_a"], r["node_b"]} == {"a", "b"}]
    expected = math.floor(1e9 / math.log(2)) + math.floor(1e9 / math.log(3))
    assert r["common"] == 2 and r["aa_nano"] == expected
    # The only other >=2-witness pair is (z1, z2), witnessed by a and b
    # (the graph is undirected); (a,c)/(b,c) share only z2.
    [rz] = [r for r in out if {r["node_a"], r["node_b"]} == {"z1", "z2"}]
    assert rz["aa_nano"] == 2 * math.floor(1e9 / math.log(2))
    assert len(out) == 2


def test_adamic_adar_hub_guard_drops_witness(spark):
    # z is a 5-degree hub; with max_degree=4 it cannot witness any pair.
    e = _edges(spark, [(n, "z") for n in "abcde"])
    assert adamic_adar_pairs(e, min_common=1, max_degree=4).count() == 0
    # Raising the cap restores the C(5,2) pairs.
    assert adamic_adar_pairs(e, min_common=1, max_degree=5).count() == 10


# ------------------------------------------------------------ degree stats


def test_degree_stats_buckets(graph):
    from pyspark.sql import functions as F

    from egraphdb_spark.operators.graph_algos import degree_stats

    out = degree_stats(graph.edges).collect()
    assert out
    for r in out:
        lo, hi = 1 << r["bucket"], (1 << (r["bucket"] + 1)) - 1
        assert lo <= r["min_deg"] <= r["max_deg"] <= hi
