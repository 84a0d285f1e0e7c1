"""Round-4 additions: length buckets, weighted sampling, WAU, apply-dedup.

Edge-case laws the sf fixtures cannot exercise (clamping, zero weights,
inclusion-probability ordering) plus invariants tying the apply-dedup
corpus to the cluster report it must agree with.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE

from egraphdb_spark.operators import packing, sampling
from egraphdb_spark.queries import REGISTRY


def test_length_buckets_clamps_and_empty_docs(spark):
    df = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 16), (3, 17), (4, 5000), (5, 4096)],
        "id long, n_tok long",
    )
    rows = {
        r["bucket_len"]: r
        for r in packing.length_buckets(df, "n_tok").collect()
    }
    # 0 and 1 and 16 tokens all land in the smallest bucket (16)
    assert rows[16]["n_docs"] == 3
    assert rows[16]["kept_tokens"] == 0 + 1 + 16
    assert rows[16]["pad_tokens"] == 16 + 15 + 0
    assert rows[32]["n_docs"] == 1  # 17 → 32
    # 5000 > largest bucket: clamped (truncated), zero padding
    assert rows[4096]["n_docs"] == 2
    assert rows[4096]["kept_tokens"] == 4096 + 4096
    assert rows[4096]["pad_tokens"] == 0
    assert rows[4096]["waste_permille"] == 0
    # permille is floor((pad*1000)/(bucket*docs))
    assert rows[16]["waste_permille"] == (31 * 1000) // (16 * 3)


def test_weighted_sample_excludes_nonpositive_and_is_deterministic(spark):
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate([0, -3, 5, 5, 100, 1, 7])],
        "id long, w long",
    )
    got = sampling.weighted_priority_sample(df, "id", "w", k=10)
    ids = sorted(r["id"] for r in got.collect())
    assert ids == [2, 3, 4, 5, 6]  # zero/negative weights never sampled
    again = sorted(r["id"] for r in got.collect())
    assert again == ids


def test_weighted_sample_prefers_heavy_rows(spark):
    # one row carries ~99% of the mass; across many disjoint salts (fresh
    # randomness each) it must be selected into a k=1 sample most of the
    # time — a distribution-level check that priorities follow the weights
    df = spark.createDataFrame(
        [(0, 990)] + [(i, 1) for i in range(1, 11)], "id long, w long"
    )
    wins = 0
    trials = 30
    for t in range(trials):
        top = sampling.weighted_priority_sample(
            df, "id", "w", k=1, salt=f"trial{t}"
        ).collect()
        wins += top[0]["id"] == 0
    assert wins >= trials * 2 // 3, f"heavy row won only {wins}/{trials}"


def test_canonical_corpus_agrees_with_cluster_report(spark):
    fn_corpus, _ = REGISTRY["dedup_canonical_corpus"]
    fn_clusters, _ = REGISTRY["dedup_near_clusters"]
    fn_docs_total = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    total = fn_docs_total.count()
    kept = (
        fn_corpus(spark, SF_SMOKE).agg(F.sum("n_docs").alias("n")).collect()[0]["n"]
    )
    clusters = fn_clusters(spark, SF_SMOKE).collect()
    # every multi-member group keeps exactly its representative
    dropped = sum(r["n_members"] - 1 for r in clusters)
    assert kept == total - dropped


def test_wau_matches_bruteforce(spark):
    fn, _ = REGISTRY["evt_active_users_7d"]
    got = {
        r["report_day"]: r["active_users"]
        for r in fn(spark, SF_SMOKE).collect()
    }
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    pairs = [
        (r["user_id"], r["day"])
        for r in ev.select(
            "user_id", F.date_trunc("day", F.col("ts")).alias("day")
        )
        .distinct()
        .collect()
    ]
    days = sorted({d for _, d in pairs})
    assert set(got) == set(days)
    for d in days:
        expect = len(
            {u for u, pd_ in pairs if 0 <= (d - pd_).days <= 6}
        )
        assert got[d] == expect, f"day {d}"


def test_wau_hll_tracks_exact_wau(spark):
    """The sketch twin must track the exact rolling distinct within HLL
    error (~6.5% at p=8; assert 4 sigma + small-n slack)."""
    exact_fn, _ = REGISTRY["evt_active_users_7d"]
    hll_fn, _ = REGISTRY["evt_wau_hll"]
    exact = {r["report_day"]: r["active_users"] for r in exact_fn(spark, SF_SMOKE).collect()}
    est = {r["report_day"]: r["estimate"] for r in hll_fn(spark, SF_SMOKE).collect()}
    assert set(est) == set(exact)
    for d, n in exact.items():
        assert abs(est[d] - n) <= max(0.3 * n, 10), (d, n, est[d])


def test_stream_wau_hll_matches_batch_sketch(spark):
    """The streaming sliding-register path must agree with the batch
    sketch wherever their windows coincide: the stream window ENDING at
    day d+1 covers days [d-6, d] — exactly the batch gate's trailing
    window for report day d."""
    import datetime

    batch_fn, _ = REGISTRY["evt_wau_hll"]
    stream_fn, _ = REGISTRY["stream_wau_hll"]
    batch = {
        r["report_day"]: (r["estimate"], r["buckets_used"])
        for r in batch_fn(spark, SF_SMOKE).collect()
    }
    stream = {
        r["window_end"]: (r["estimate"], r["buckets_used"])
        for r in stream_fn(spark, SF_SMOKE).collect()
    }
    one_day = datetime.timedelta(days=1)
    for d, v in batch.items():
        assert stream[d + one_day] == v, d


def _lev(a: str, b: str) -> int:
    # plain reference DP, small strings only
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_pairs_blocking_and_guards(spark):
    """fuzzy_pairs: exact dup -> dist 0; small edit past the prefix ->
    true distance; differing prefix -> blocked out; length gap > max_dist
    -> prefiltered; oversized block -> dropped by the guard."""
    from egraphdb_spark.operators.dedup import fuzzy_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base),                              # exact dup of 1
        (3, base[:-5] + "dgo xx"),              # few edits at the tail
        (4, "zzz " + base),                     # different prefix: blocked away
        (5, base + " " + "pad " * 20),          # same block, huge length gap
    ]
    df = spark.createDataFrame(rows, ["id", "t"])
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in fuzzy_pairs(df, "id", "t", max_dist=8).collect()
    }
    assert got[(1, 2)] == 0
    assert got[(1, 3)] == got[(2, 3)] == _lev(base, base[:-5] + "dgo xx")
    assert not any(4 in p for p in got)          # prefix block differs
    assert not any(5 in p for p in got)          # length prefilter
    # guard: a block larger than max_block_size yields nothing
    many = spark.createDataFrame([(i, base) for i in range(10)], ["id", "t"])
    assert fuzzy_pairs(many, "id", "t", max_block_size=4).count() == 0
    # ...but the same corpus pairs fully when the guard allows it
    assert fuzzy_pairs(many, "id", "t", max_block_size=16).count() == 45


def test_hll_overlap_tracks_exact_intersection(spark):
    """Inclusion-exclusion sketch overlap must track the exact distinct
    intersection within compounded HLL error; identical sets must give
    intersect == each side's estimate exactly (same registers)."""
    from egraphdb_spark.operators.sketches import hll_overlap

    from egraphdb_spark.graph import load_tables

    ev = load_tables(spark, SF_SMOKE)["events"]
    keyed = ev.withColumn(
        "user_day",
        (
            F.col("user_id") * 65536
            + F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        ).cast("long"),
    )
    row = hll_overlap(keyed, "user_day", "event_type", "click", "view").collect()[0]
    kd = keyed.select("event_type", "user_day")
    a = {
        r["user_day"]
        for r in kd.where(F.col("event_type") == "click").distinct().collect()
    }
    b = {
        r["user_day"]
        for r in kd.where(F.col("event_type") == "view").distinct().collect()
    }
    inter = len(a & b)
    assert abs(row["est_a"] - len(a)) <= max(0.25 * len(a), 10)
    assert abs(row["est_intersect"] - inter) <= max(0.5 * inter, 25)
    # identical sets: A == B == A∪B, so intersect == est_a == est_b
    same = hll_overlap(
        keyed.withColumn("event_type", F.lit("x")).unionByName(
            keyed.withColumn("event_type", F.lit("y"))
        ),
        "user_day",
        "event_type",
        "x",
        "y",
    ).collect()[0]
    assert same["est_a"] == same["est_b"] == same["est_union"] == same["est_intersect"]


def test_group_split_never_straddles_and_is_growth_stable(spark):
    df = spark.createDataFrame(
        [(i, f"src{i % 7}") for i in range(200)], "id long, source string"
    )
    out = sampling.group_split(df, "source", 0.5)
    sides = (
        out.groupBy("source")
        .agg(F.countDistinct("split").alias("k"))
        .collect()
    )
    assert all(r["k"] == 1 for r in sides)  # a group never straddles
    before = {
        (r["source"], r["split"])
        for r in out.select("source", "split").distinct().collect()
    }
    # corpus growth: new rows of existing groups inherit the group's side
    grown = spark.createDataFrame(
        [(i, f"src{i % 7}") for i in range(400)], "id long, source string"
    )
    after = {
        (r["source"], r["split"])
        for r in sampling.group_split(grown, "source", 0.5)
        .select("source", "split")
        .distinct()
        .collect()
    }
    assert before == after
    # both sides are actually populated at this fraction/salt
    assert len({s for _, s in before}) == 2


def test_knn_graph_full_probe_matches_bruteforce(spark):
    import itertools
    import math

    from egraphdb_spark.operators import similarity

    vecs = {
        i: [((i * 7 + j * 3) % 11 - 5) / 4.0 for j in range(8)] for i in range(24)
    }
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    anchors = similarity.prefix_anchors(emb, "vec_id", "embedding", 4)
    # probing EVERY cluster makes the blocked graph exact
    got = similarity.knn_graph(emb, "vec_id", "embedding", anchors, k=3, n_probe=4)
    rows = got.collect()

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return 0.0 if na * nb == 0 else dot / (na * nb)

    want = {}
    for i in vecs:
        nbrs = sorted(
            ((round(cos(vecs[i], vecs[j]), 6), -j) for j in vecs if j != i),
            reverse=True,
        )[:3]
        want[i] = [(-nj, c) for c, nj in nbrs]
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append((r["rank"], r["nbr"], r["cosine"]))
    assert set(by_id) == set(want)
    for i, lst in by_id.items():
        lst.sort()
        assert [r for r, _, _ in lst] == [1, 2, 3]
        assert [(n, c) for _, n, c in lst] == [
            (n, pytest.approx(c, abs=1e-6)) for n, c in want[i]
        ]


def test_knn_graph_partial_probe_invariants(spark):
    from egraphdb_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    anchors = similarity.prefix_anchors(emb, "vec_id", "embedding", 8)
    got = similarity.knn_graph(emb, "vec_id", "embedding", anchors, k=3, n_probe=2)
    df = got.toPandas()
    assert (df["id"] != df["nbr"]).all()
    for _, g in df.groupby("id"):
        g = g.sort_values("rank")
        assert list(g["rank"]) == list(range(1, len(g) + 1))
        assert (g["cosine"].diff().dropna() <= 1e-9).all()  # non-increasing


def test_tfidf_sim_pairs_finds_dup_and_prunes_stop_terms(spark):
    from egraphdb_spark.operators import ranking

    rows = [
        (0, "the quick brown fox jumps over lazy dog"),
        (1, "the quick brown fox jumps over lazy dog"),  # exact dup of 0
        (2, "the slow green turtle walks under busy cat"),
        (3, "completely different vocabulary entirely here now"),
        # 'the' appears in 3/5 docs -> pruned at max_df=2
        (4, "the assorted words share nothing else common"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in ranking.tfidf_sim_pairs(
            df, "doc_id", "text", threshold=0.9, max_df=2
        ).collect()
    }
    assert got == {(0, 1): 1.0}
    # with no threshold, docs sharing ONLY the pruned stop term never pair
    allp = {
        (r["id_a"], r["id_b"])
        for r in ranking.tfidf_sim_pairs(
            df, "doc_id", "text", threshold=0.0, max_df=2
        ).collect()
    }
    assert (2, 4) not in allp and (0, 4) not in allp


def test_ivfpq_full_probe_equals_pq_and_restriction_binds(spark):
    from egraphdb_spark.operators import similarity
    from egraphdb_spark.gates.similarity import QUERY_VEC

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    anchors = similarity.prefix_anchors(emb, "vec_id", "embedding", 8)
    # probing every bucket makes IVF+PQ identical to plain PQ search
    full = similarity.ivfpq_topk(
        emb, "vec_id", "embedding", anchors, QUERY_VEC, k=10, n_probe=8
    ).collect()
    plain = similarity.pq_topk(
        emb, "vec_id", "embedding", QUERY_VEC, k=10, n_candidates=32
    ).collect()
    assert [(r["id"], r["cosine"]) for r in full] == [
        (r["id"], r["cosine"]) for r in plain
    ]
    # a 1-probe search only ever returns ids assigned to the probed bucket
    one = similarity.ivfpq_topk(
        emb, "vec_id", "embedding", anchors, QUERY_VEC, k=10, n_probe=1
    ).collect()
    assigned = similarity.ivf_assign(emb, "vec_id", "embedding", anchors)
    bucket_of = {r["id"]: r["anchor_id"] for r in assigned.collect()}
    probed = {bucket_of[r["id"]] for r in one}
    assert len(probed) == 1


def test_containment_catches_subset_that_jaccard_misses(spark):
    from egraphdb_spark.operators import dedup

    quote = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"w{i:03d} x{i:03d}" for i in range(60))
    rows = [
        (0, quote),                      # the short original
        (1, quote + " " + filler),       # quotes doc 0 inside a long doc
        (2, "totally unrelated words here with nothing shared at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cont = {
        (r["id_a"], r["id_b"]): (r["contain_a_in_b"], r["contain_b_in_a"])
        for r in dedup.containment_pairs(
            df, "doc_id", "text", threshold=0.9
        ).collect()
    }
    jac = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_pairs(df, "doc_id", "text", threshold=0.5).collect()
    }
    assert (0, 1) in cont and cont[(0, 1)][0] == 1.0  # doc0 fully contained
    assert cont[(0, 1)][1] < 0.5                       # but not vice versa
    assert (0, 1) not in jac                           # jaccard misses it
    assert not any(2 in p for p in cont)


def test_stream_cm_heavy_overestimates_only_and_is_exact_when_collision_free(spark):
    got = REGISTRY["stream_cm_heavy"][0](spark, SF_SMOKE).collect()
    exact = {
        (r["window_end"], r["event_type"]): r["n"]
        for r in spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy(
            (F.date_trunc("day", F.col("ts").cast("timestamp")) + F.expr("interval 1 day")).alias("window_end"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got, "stream produced no windows"
    for r in got:
        true_n = exact.get((r["window_end"], r["key"]), 0)
        assert r["est"] >= true_n  # count-min never undercounts
    # 4 keys in a 3x64 grid: collision-free on this fixture → exact
    assert all(r["est"] == exact.get((r["window_end"], r["key"]), 0) for r in got)


def test_temperature_mixture_interpolates_and_is_integer_exact(spark):
    # sources with 100 / 10,000 token mass: proportional share would be
    # ~1%/99%; sqrt-temperature pulls the small source up to ~9%.
    rows = [(i, "small", 1) for i in range(100)] + [
        (i + 100, "big", 100) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "id long, source string, n_tok long")
    out = {
        r["source"]: r
        for r in packing.temperature_mixture(
            df, "source", F.col("n_tok"), budget_tokens=1_000_000
        ).collect()
    }
    assert out["small"]["n_tokens"] == 100 and out["big"]["n_tokens"] == 10_000
    # sqrt weights: 10 vs 100 → 1/11 vs 10/11 of the budget
    assert abs(out["small"]["weight_ppm"] - 1_000_000 // 11) <= 1
    assert out["small"]["weight_ppm"] + out["big"]["weight_ppm"] >= 999_998
    # allocation follows weights; epochs: small source repeats ~909x
    assert out["small"]["alloc_tokens"] == pytest.approx(1_000_000 / 11, rel=1e-3)
    assert out["small"]["epochs_permille"] > out["big"]["epochs_permille"]
    assert out["small"]["epochs_permille"] == out["small"]["alloc_tokens"] * 1000 // 100


def test_temperature_mixture_zero_token_source_yields_null_epochs(spark):
    df = spark.createDataFrame(
        [(0, "a", 50), (1, "empty", 0)], "id long, source string, n_tok long"
    )
    out = {
        r["source"]: r
        for r in packing.temperature_mixture(
            df, "source", F.col("n_tok"), budget_tokens=1000
        ).collect()
    }
    # no DIVIDE_BY_ZERO throw under ANSI; zero-mass source gets 0 weight,
    # NULL epochs (0/0 is undefined, not 0)
    assert out["empty"]["weight_ppm"] == 0
    assert out["empty"]["alloc_tokens"] == 0
    assert out["empty"]["epochs_permille"] is None
    assert out["a"]["weight_ppm"] == 1_000_000


def test_curriculum_interleave_round_robins_until_exhaustion(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (10, "b"), (20, "c")],
        "id long, src string",
    )
    rows = packing.curriculum_interleave(df, "id", "src", k=10).collect()
    order = [(r["id"], r["src"]) for r in sorted(rows, key=lambda r: r["position"])]
    # round 1 takes one doc per source (source-alphabetical), then 'a' alone
    assert order == [(1, "a"), (10, "b"), (20, "c"), (2, "a"), (3, "a")]
    assert [r["position"] for r in sorted(rows, key=lambda r: r["position"])] == [
        1, 2, 3, 4, 5,
    ]


def test_hashed_tf_embedding_is_content_determined(spark):
    from egraphdb_spark.operators import text as T

    df = spark.createDataFrame(
        [(0, "alpha beta beta"), (1, "alpha beta beta"), (2, "   "), (3, "ALPHA")],
        "doc_id long, text string",
    )
    out = T.hashed_tf_embedding(df, "doc_id", "text", dim=32)
    rows = out.collect()
    by_doc: dict[int, dict[int, int]] = {}
    for r in rows:
        by_doc.setdefault(r["id"], {})[r["slot"]] = r["val"]
    # identical content -> identical sparse vector; whitespace-only -> empty
    assert by_doc[0] == by_doc[1]
    assert 2 not in by_doc
    # case-folded: 'ALPHA' hashes like 'alpha', one signed unit
    assert sum(abs(v) for v in by_doc[3].values()) == 1
    # L1 mass bounded by token count (cancellation can only shrink it)
    assert sum(abs(v) for v in by_doc[0].values()) <= 3
    assert all(0 <= s < 32 for d in by_doc.values() for s in d)


def test_bigram_nll_scores_common_sequences_lower(spark):
    from egraphdb_spark.operators import text as T
    import math

    rows = [(i, "a b") for i in range(9)] + [(9, "a c"), (10, "z"), (11, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in T.bigram_nll(df, "doc_id", "text").collect()}
    # <2-token docs score no bigrams and emit no row
    assert 10 not in out and 11 not in out
    assert out[0]["n_bigrams"] == 1
    # 'a b' (9/10 of a-starts) must be far cheaper than 'a c' (1/10)
    assert out[0]["nll2_micro"] < out[9]["nll2_micro"]
    # exact value check against the closed form: T=21, V=4 (a,b,c,z)
    # p(b|a) = .5*(9/10) + .5*((9+1)/(21+4))
    exp = -math.log(0.5 * (9 / 10) + 0.5 * ((9 + 1) / (21 + 4)))
    assert out[0]["nll2_micro"] == math.floor(exp * 1e6)
    assert out[0]["avg_nll2_micro"] == out[0]["nll2_micro"]


def test_mad_outliers_flags_only_true_spikes(spark):
    from egraphdb_spark.operators.profiling import mad_outliers

    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 1000.0]
    df = spark.createDataFrame(
        [(i, "t", v) for i, v in enumerate(vals)] + [(99, "u", 5.0)],
        "event_id long, event_type string, value double",
    )
    out = {r["event_type"]: r for r in mad_outliers(df, "event_type", "value").collect()}
    t = out["t"]
    # median of sorted [10..14,1000] = 12.5; MAD of devs [2.5,1.5,.5,.5,1.5,987.5] = 1.5
    assert t["med_micro"] == 12_500_000
    assert t["mad_micro"] == 1_500_000
    # only the 1000.0 spike exceeds 3*MAD=4.5; the mean-based z-score would
    # have been dragged to ~176 and flagged nothing
    assert t["n_outliers"] == 1
    # single-value group: MAD 0, no outliers (dev 0 is not > 0)
    assert out["u"]["n_outliers"] == 0 and out["u"]["mad_micro"] == 0


def test_source_jsd_orders_drift_and_bounds(spark):
    from egraphdb_spark.operators import text as T
    import math

    rows = (
        [(i, "alpha beta gamma", "base") for i in range(10)]
        + [(100 + i, "alpha beta gamma", "same") for i in range(5)]
        + [(200 + i, "zebra quux xylo", "drift") for i in range(5)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in T.source_jsd(df, "source", "text", top_v=500).collect()}
    # identical distributions diverge identically; the disjoint source most
    assert out["same"]["jsd_nano"] == out["base"]["jsd_nano"]
    assert out["base"]["jsd_nano"] < out["drift"]["jsd_nano"]
    # JSD is bounded by ln 2 (quantization only subtracts < n_terms nanonats)
    for r in out.values():
        assert -10 <= r["jsd_nano"] <= math.log(2) * 1e9
    assert out["base"]["n_tokens"] == 30 and out["drift"]["n_terms"] == 3


def test_pack_pairs_pairs_extremes_and_handles_odd_n(spark):
    df = spark.createDataFrame(
        [(1, 100), (2, 90), (3, 50), (4, 10), (5, 5)],
        "id long, nt long",
    )
    rows = {r["pair_id"]: r for r in packing.pack_pairs(df, "id", "nt", 128).collect()}
    # ranks: 1->100, 2->90, 3->50, 4->10, 5->5; pairs (1,5),(2,4), middle 3 alone
    assert len(rows) == 3
    assert (rows[1]["long_id"], rows[1]["short_id"]) == (1, 5)
    assert rows[1]["pair_tokens"] == 105 and bool(rows[1]["fits"])
    assert (rows[2]["long_id"], rows[2]["short_id"]) == (2, 4)
    assert rows[3]["short_id"] is None and rows[3]["pair_tokens"] == 50
    # equal lengths tie-break by id: determinism law
    df2 = spark.createDataFrame([(7, 10), (3, 10), (5, 10)], "id long, nt long")
    r2 = {r["pair_id"]: r for r in packing.pack_pairs(df2, "id", "nt", 128).collect()}
    assert (r2[1]["long_id"], r2[1]["short_id"]) == (3, 7)
    assert r2[2]["short_id"] is None and r2[2]["long_id"] == 5


def test_char_entropy_laws(spark):
    import math

    from egraphdb_spark.operators import text as T

    df = spark.createDataFrame(
        [(0, "aaaa"), (1, "abab"), (2, "abcd"), (3, "")],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in T.char_entropy(df, "doc_id", "text").collect()}
    # single-symbol doc: zero entropy; uniform doc: ln(k) exactly
    assert out[0]["ent_nano"] == 0 and out[0]["n_distinct"] == 1
    assert out[1]["ent_nano"] == pytest.approx(math.log(2) * 1e9, abs=5)
    assert out[2]["ent_nano"] == pytest.approx(math.log(4) * 1e9, abs=5)
    assert out[2]["n_chars"] == 4 and out[2]["n_distinct"] == 4
    # empty doc emits no row
    assert 3 not in out
    # monotone: more uniform spread -> higher entropy
    assert out[0]["ent_nano"] < out[1]["ent_nano"] < out[2]["ent_nano"]


def test_payload_simhash_finds_exact_and_near_dups(spark):
    from egraphdb_spark.operators import multimodal as MM

    base = "x" * 40 + "the quick brown fox jumps over the lazy dog " * 3
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, base[:-4] + "DIFF"), (4, "zzz completely other payload " * 5)],
        "doc_id long, text string",
    )
    media = MM.synth_media(docs)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in MM.payload_simhash_pairs(media).collect()
    }
    # byte-identical payloads -> hamming 0
    assert pairs[(1, 2)] == 0
    # tail-edited near-dup is found (most 4-byte grams shared)
    assert (1, 3) in pairs and pairs[(1, 3)] <= 3
    # unrelated payload pairs with nobody
    assert not any(4 in p for p in pairs)


def test_pca_power_matches_numpy_direction(spark):
    import numpy as np

    from egraphdb_spark.operators.similarity import pca_power

    rng = np.random.RandomState(7)
    # anisotropic cloud: dominant direction u with 10x the variance
    u = rng.randn(64); u /= np.linalg.norm(u)
    noise = rng.randn(400, 64)
    data = np.outer(rng.randn(400) * 10.0, u) + noise
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(data)],
        "vec_id long, embedding array<float>",
    )
    rows = pca_power(df, "embedding", dim=64, iters=6).collect()
    v = np.zeros(64)
    for r in rows:
        v[r["i"]] = r["v_q"]
    v /= np.linalg.norm(v)
    # numpy reference on the float64 covariance of the same (float32) data
    d32 = data.astype(np.float32).astype(np.float64)
    cov = np.cov(d32, rowvar=False, bias=True)
    w, vecs = np.linalg.eigh(cov)
    top = vecs[:, -1]
    assert abs(float(np.dot(v, top))) > 0.999, "direction off numpy's top eigvec"
    # eigenvalue estimate: last_norm approximates lambda in 2^20 scale
    lam = rows[0]["last_norm"] / (1 << 20)
    assert lam == pytest.approx(w[-1], rel=0.05)
    # malformed (short) vectors are excluded, not fatal
    bad = spark.createDataFrame(
        [(1000, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    rows2 = pca_power(df.unionByName(bad), "embedding", dim=64, iters=2).collect()
    assert len(rows2) == 64


def test_abtt_projection_identifies_dominant_direction_rows(spark):
    import numpy as np

    from egraphdb_spark.operators.similarity import abtt_project

    rng = np.random.RandomState(3)
    u = np.zeros(64); u[5] = 1.0
    rows = []
    # 200 isotropic rows, 5 rows pushed hard along u
    for i in range(200):
        rows.append((i, [float(x) for x in rng.randn(64) * 0.1]))
    for i in range(5):
        rows.append((1000 + i, [float(x) for x in (u * (20 + i) + rng.randn(64) * 0.1)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = abtt_project(df, "vec_id", "embedding", dim=64, iters=6, k=5).collect()
    assert sorted(r["id"] for r in got) == [1000, 1001, 1002, 1003, 1004]
    # ordered by |projection| descending: the hardest-pushed row leads
    assert got[0]["id"] == 1004
    assert all(r["proj_abs"] == abs(r["c_q"]) for r in got)


def test_class_balance_equalizes_and_is_deterministic(spark):
    rows = [(i, 0) for i in range(20)] + [(100 + i, 1) for i in range(5)] + [
        (200 + i, 2) for i in range(11)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int")
    out = {r["label"]: r for r in sampling.class_balance(df, "vec_id", "label").collect()}
    assert all(out[l]["n_kept"] == 5 for l in (0, 1, 2))
    assert out[0]["n_orig"] == 20 and out[2]["n_orig"] == 11
    # the min class keeps everything -> its sum is the full-class sum
    assert out[1]["sum_kept_ids"] == sum(range(100, 105))
    again = {r["label"]: r["sum_kept_ids"] for r in sampling.class_balance(df, "vec_id", "label").collect()}
    assert again == {l: out[l]["sum_kept_ids"] for l in out}


def test_corr_regr_recovers_known_line(spark):
    # exact line y = 3x + 7 -> corr 1, slope 3, intercept 7; constant
    # group -> NULLs (zero variance), no divide crash
    rows = [("L", float(x), float(3 * x + 7)) for x in range(1, 30)] + [
        ("C", 5.0, 11.0) for _ in range(4)
    ]
    df = spark.createDataFrame(rows, "l_returnflag string, l_quantity double, l_extendedprice double")
    from egraphdb_spark.operators.profiling import corr_regr_stats
    from pyspark.sql import functions as FF

    # the same production helper the agg_corr_regr gate runs
    base = df.select(
        "l_returnflag",
        FF.col("l_quantity").cast("long").alias("x"),
        FF.expr("cast(round(l_extendedprice * 100) as bigint) div 100").alias("y"),
    )
    out = {r["l_returnflag"]: r for r in corr_regr_stats(base, "l_returnflag").collect()}
    assert out["L"]["corr_micro"] in (999999, 1000000)   # floor of 1.0 - eps
    assert out["L"]["slope_micro"] in (2999999, 3000000)
    assert out["L"]["icept_micro"] in (6999999, 7000000)
    assert out["C"]["corr_micro"] is None and out["C"]["slope_micro"] is None


def test_label_outliers_finds_planted_mislabel(spark):
    import numpy as np

    from egraphdb_spark.operators.similarity import label_outliers

    rng = np.random.RandomState(11)
    rows = []
    # two tight clusters at +e0 and -e0; 3 planted rows carry the WRONG label
    for i in range(60):
        v = rng.randn(64) * 0.05; v[0] += 1.0
        rows.append((i, [float(x) for x in v], 0))
    for i in range(60, 120):
        v = rng.randn(64) * 0.05; v[0] -= 1.0
        rows.append((i, [float(x) for x in v], 1))
    for j, i in enumerate([500, 501, 502]):
        v = rng.randn(64) * 0.05; v[0] -= 1.0     # lives in cluster 1...
        rows.append((i, [float(x) for x in v], 0))  # ...labeled 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    top = label_outliers(df, "vec_id", "embedding", "label", k=3).collect()
    assert sorted(r["id"] for r in top) == [500, 501, 502]
    assert all(r["label"] == 0 and r["dist_q"] > 0 for r in top)


def test_stickiness_matches_bruteforce(spark):
    fn, _ = REGISTRY["evt_stickiness"]
    got = {
        r["report_day"]: (r["dau"], r["mau"], r["stickiness_permille"])
        for r in fn(spark, SF_SMOKE).collect()
    }
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    pairs = [
        (r["user_id"], r["day"])
        for r in ev.select(
            "user_id", F.date_trunc("day", F.col("ts")).alias("day")
        )
        .distinct()
        .collect()
    ]
    days = sorted({d for _, d in pairs})
    assert set(got) == set(days)
    for d in days:
        dau = len({u for u, pd_ in pairs if pd_ == d})
        mau = len({u for u, pd_ in pairs if 0 <= (d - pd_).days <= 27})
        assert got[d] == (dau, mau, 1000 * dau // mau), f"day {d}"
