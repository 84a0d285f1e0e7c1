"""Training-data pipeline operators: dedup / similarity / text / multimodal.

Two layers: behavioural unit tests on constructed corpora (near-dups are
actually detected, features actually computed), and oracle parity over the
driver's documents/embeddings tables at sf0.001 (test_parity.py covers the
whole registry at the same SF; the unit tests here are what parity can't
express — detection power on known-duplicate inputs).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE

from egraphdb_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def corpus(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away to the hills "
        "where a little stream flows quietly between old mossy stones"
    )
    near = base.replace("quick", "swift")  # one-word edit → near-duplicate
    rows = [
        (0, base),
        (1, base),  # exact duplicate of 0
        (2, near),  # near-duplicate of 0
        (3, "completely different text about spark dataframes and shuffle plans"),
        (4, "ein ganz anderer deutscher satz der die und das enthaelt und ist"),
        (5, ""),  # empty doc must not crash anything
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups_duplicates(corpus):
    out = dedup.exact_dedup(corpus, "doc_id", "text").collect()
    by_canon = {r["canonical_id"]: r["n_dups"] for r in out}
    assert by_canon[0] == 2  # docs 0 and 1 collapse
    assert by_canon[2] == 1
    assert len(by_canon) == 5  # 6 docs, one pair merged


def test_minhash_lsh_finds_near_duplicate(corpus):
    sig = dedup.minhash_signature(corpus, "doc_id", "text")
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.lsh_candidate_pairs(sig).collect()}
    assert (0, 1) in pairs  # exact dup: identical signature
    assert (0, 2) in pairs or (1, 2) in pairs  # near-dup lands in a shared band
    assert (0, 3) not in pairs  # unrelated docs don't collide


def test_minhash_signature_identical_for_identical_text(corpus):
    sig = dedup.minhash_signature(corpus, "doc_id", "text")
    rows = {r["id"]: [r[f"m{j}"] for j in range(dedup.NUM_PERM)] for r in sig.collect()}
    assert rows[0] == rows[1]
    assert rows[0] != rows[3]
    # near-dup shares most minhash coordinates (Jaccard estimate high)
    agree = sum(a == b for a, b in zip(rows[0], rows[2]))
    assert agree >= dedup.NUM_PERM // 2


def test_simhash_hamming_reflects_similarity(corpus):
    sh = {r["id"]: r["simhash"] for r in dedup.simhash(corpus, "doc_id", "text").collect()}
    assert sh[0] == sh[1]
    near = bin(sh[0] ^ sh[2]).count("1")
    far = bin(sh[0] ^ sh[3]).count("1")
    assert near < far
    assert near <= 6


def test_jaccard_pairs_exact_values(corpus):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(corpus, "doc_id", "text", threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert 0.5 < pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_embedding_neardup_and_topk(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),  # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in dedup.embedding_neardup_pairs(emb, "vec_id", "embedding", 0.95).collect()
    }
    assert list(pairs) == [(0, 1)]
    assert pairs[(0, 1)] > 0.99

    topk = similarity.cosine_topk(emb, "vec_id", "embedding", [1.0, 0.0, 0.0, 0.0], k=2).collect()
    assert [r["id"] for r in topk] == [0, 1]
    assert topk[0]["cosine"] == 1.0


def test_ivf_probe_prunes_to_bucket(spark):
    # Two well-separated clusters; anchors = first vector of each.
    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.95, 0.05]),
        (3, [0.0, 1.0]), (4, [0.1, 0.9]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    anchors = spark.createDataFrame(
        [(0, [1.0, 0.0]), (3, [0.0, 1.0])], "anchor_id long, vec array<float>"
    )
    got = similarity.ivf_topk(emb, "vec_id", "embedding", anchors, [0.8, 0.2], k=10).collect()
    # probes the x-cluster bucket only: ids 0,1,2 — never 3,4
    assert {r["id"] for r in got} == {0, 1, 2}


def test_text_functions(corpus):
    out = {
        r["doc_id"]: r
        for r in corpus.select(
            "doc_id",
            text.token_count("text").alias("n"),
            text.lang_id("text").alias("lang"),
            text.quality_score("text").alias("q"),
            text.fingerprint64("text").alias("fp"),
        ).collect()
    }
    assert out[0]["n"] == 26
    assert out[5]["n"] == 0
    assert out[0]["lang"] == "en"
    assert out[4]["lang"] == "de"
    assert out[5]["lang"] == "und"
    assert 0.0 <= out[5]["q"] < out[0]["q"] <= 1.0
    assert out[0]["fp"] == out[1]["fp"] != out[2]["fp"]


def test_rolling_hash_matches_python_reference(spark):
    import re

    texts = ["hello world", "  Mixed  CASE\ttabs ", "a", ""]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    got = {r["i"]: r["h"] for r in df.select("i", text.rolling_hash64("t").alias("h")).collect()}

    def ref(t):
        norm = re.sub(r"\s+", " ", t.strip().lower())
        h = 0
        for ch in norm:
            h = (h * 31 + ord(ch)) % 1_000_000_007
        return h

    for i, t in enumerate(texts):
        assert got[i] == ref(t), t


def test_bpe_token_count_vs_whitespace(spark):
    df = spark.createDataFrame([(1, "don't count; 2+2=4 ok")], "i long, t string")
    row = df.select(
        text.token_count("t").alias("ws"), text.bpe_token_count("t").alias("bpe")
    ).collect()[0]
    assert row["ws"] == 4
    # don ' t count ; 2 + 2 = 4 ok → 11 BPE-ish tokens
    assert row["bpe"] == 11


def test_multimodal_features_via_map_in_pandas(spark):
    docs = spark.createDataFrame(
        [(7, "abc"), (8, "")], "doc_id long, text string"
    )
    media = multimodal.synth_media(docs)
    feats = {r["id"]: r for r in multimodal.extract_features(media).collect()}
    assert feats[7]["n_bytes"] == 3
    assert feats[7]["first_byte"] == ord("a")
    assert feats[7]["last_byte"] == ord("c")
    assert feats[7]["mean_byte"] == round((97 + 98 + 99) / 3, 6)
    assert feats[8]["n_bytes"] == 0 and feats[8]["first_byte"] == -1

    meta = {r["id"]: r for r in media.select("id", "meta.*").collect()}
    assert meta[7]["format"] == "jpeg" and meta[7]["width"] == 71


def test_multimodal_frame_sampling(spark):
    docs = spark.createDataFrame([(1, "x" * 400)], "doc_id long, text string")
    frames = multimodal.sample_frames(multimodal.synth_media(docs), every_n=10).collect()
    assert len(frames) == 2  # 400 bytes / (16*10) window stride → 2 samples
    assert all(f["frame_len"] == 16 for f in frames)


def test_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG....")


def test_lsh_bucket_guard_drops_degenerate_buckets(spark):
    # 80 identical docs → one bucket of 80 > max_bucket_size=64 → no pairs;
    # the guard keeps degenerate content from going quadratic.
    df = spark.createDataFrame(
        [(i, "same text everywhere for all documents") for i in range(80)],
        "doc_id long, text string",
    )
    sig = dedup.minhash_signature(df, "doc_id", "text")
    assert dedup.lsh_candidate_pairs(sig, max_bucket_size=64).count() == 0
    assert dedup.lsh_candidate_pairs(sig, max_bucket_size=100).count() == 80 * 79 // 2


def test_embedding_grid_matches_broadcast_on_fixture(spark):
    """The distributed block-grid path (default) must emit the exact same
    pair set as the broadcast matmul path — every vector pair lands in
    exactly one (block_a, block_b) task, so no pair is lost or doubled."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def pairset(mode):
        df = dedup.embedding_neardup_pairs(
            emb, "vec_id", "embedding", 0.40, mode=mode, num_blocks=5
        )
        return {(r["id_a"], r["id_b"]): r["cosine"] for r in df.collect()}

    grid, bcast = pairset("grid"), pairset("broadcast")
    assert grid and grid == bcast


def test_embedding_grid_plan_has_no_driver_collect(spark):
    """Plan-shape check: the default path is groupBy→applyInPandas
    (FlatMapGroupsInPandas), never the broadcast-side MapInPandas, and
    building the plan must not launch any job (no corpus collect())."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    df = dedup.embedding_neardup_pairs(emb, "vec_id", "embedding", 0.40)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "MapInPandas" not in plan
    after = tracker.getJobIdsForGroup(None)
    assert list(before) == list(after)  # construction launched no Spark job


def test_embedding_auto_mode_routes_by_size(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # Forced-large: corpus "exceeds" the broadcast ceiling → grid path.
    big = dedup.embedding_neardup_pairs(
        emb, "vec_id", "embedding", 0.40, mode="auto", broadcast_limit_rows=1
    )
    assert "FlatMapGroupsInPandas" in big._jdf.queryExecution().executedPlan().toString()
    # Small corpus under the ceiling → broadcast fast path.
    small = dedup.embedding_neardup_pairs(
        emb, "vec_id", "embedding", 0.40, mode="auto", broadcast_limit_rows=10**9
    )
    assert "MapInPandas" in small._jdf.queryExecution().executedPlan().toString()


def test_repeated_spans_properties(spark):
    from egraphdb_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog every day"),
            (2, "the quick brown fox jumps over the lazy dog at night"),
            (3, "completely different text with no shared eight token span here"),
            # short/empty docs are ubiquitous in real corpora — must yield
            # zero spans, not crash (sequence(1,0) is descending in Spark)
            (4, "too short"),
            (5, ""),
            (6, "   "),
            (7, "exactly seven tokens is still too short"),
        ],
        "doc_id long, text string",
    )
    out = dedup.repeated_spans(docs, "doc_id", "text", n_tokens=8, min_docs=2)
    rows = out.collect()
    assert rows, "shared 8-token prefix must be detected"
    for r in rows:
        assert r["n_docs"] >= 2
        assert len(r["span"].split(" ")) == 8
    spans = {r["span"] for r in rows}
    assert "the quick brown fox jumps over the lazy" in spans


def test_label_centroids_fixed_point_math(spark):
    from egraphdb_spark.operators import similarity

    emb = spark.createDataFrame(
        [(1, [1.0, -1.0], "x"), (2, [0.0, -0.5], "x"), (3, [2.0, 2.0], "y")],
        "vec_id long, embedding array<double>, label string",
    )
    rows = {
        (r["label"], r["pos"]): r
        for r in similarity.label_centroids(emb, "vec_id", "embedding", "label").collect()
    }
    Q = 1 << 20
    # label x, pos 0: floor((Q + 0) / 2); pos 1: floor((-Q + floor(-0.5*Q)) / 2)
    assert rows[("x", 0)]["mean_q"] == (Q + 0) // 2
    assert rows[("x", 1)]["mean_q"] == (-Q + (-Q // 2)) // 2  # floor semantics
    assert rows[("y", 0)]["mean_q"] == 2 * Q
    assert all(r["n_vectors"] == (2 if r["label"] == "x" else 1) for r in rows.values())


def test_incremental_lsh_finds_planted_dup(spark):
    from egraphdb_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog " * 6
    docs = spark.createDataFrame(
        [(1, base), (2, base + "tail"), (10, base), (11, "unrelated words only here")],
        "doc_id long, text string",
    )
    sh = dedup.shingle_table(docs, "doc_id", "text")
    existing = dedup.minhash_signature(
        docs, "doc_id", "text", shingles=sh.where(F.col("id") < 10)
    )
    new = dedup.minhash_signature(
        docs, "doc_id", "text", shingles=sh.where(F.col("id") >= 10)
    )
    rows = {r["new_id"]: r for r in dedup.incremental_lsh_matches(existing, new).collect()}
    assert 10 in rows, "planted duplicate of doc 1 must collide"
    assert rows[10]["first_match"] == 1
    assert 11 not in rows, "unrelated doc must not collide"


def test_token_budget_prefix_property(spark):
    from egraphdb_spark.graph import load_tables
    from egraphdb_spark.operators import sampling, text as text_ops

    docs = load_tables(spark, SF_SMOKE)["documents"].withColumn(
        "n_tokens", text_ops.token_count("text")
    )
    out = sampling.token_budget_sample(
        docs, "doc_id", "source", "n_tokens", budget=2000
    )
    per = out.groupBy("source").agg(
        F.max("cum_tokens").alias("mx"), F.count("*").alias("n")
    ).collect()
    assert per and all(r["mx"] <= 2000 for r in per)
    # prefix property: a bigger budget keeps a superset
    big = sampling.token_budget_sample(docs, "doc_id", "source", "n_tokens", budget=4000)
    assert out.select("doc_id").join(big, "doc_id", "left_anti").count() == 0


def test_pq_codes_self_assignment(spark):
    """Codebook vectors quantize to THEMSELVES (dist 0) in every subspace;
    non-codebook vectors get valid codes from the codebook id set."""
    from egraphdb_spark.graph import load_tables
    from egraphdb_spark.operators import similarity

    emb = load_tables(spark, SF_SMOKE)["embeddings"]
    out = similarity.pq_codes(emb, "vec_id", "embedding", 8, 16)
    prefix_ids = [r["vec_id"] for r in emb.orderBy("vec_id").limit(16).collect()]
    self_rows = out.where(F.col("id").isin(prefix_ids)).collect()
    assert self_rows and all(
        r["code"] == r["id"] and r["dist_q"] == 0 for r in self_rows
    )
    # every (id, m) pair exactly once, codes drawn from the codebook
    n = emb.count()
    assert out.count() == n * 8
    assert out.where(~F.col("code").isin(prefix_ids)).count() == 0


def test_shingles_short_doc_empty(spark):
    """Docs shorter than SHINGLE_LEN yield NO shingles (matching the SQL
    oracle's half-open range) — not a phantom whole-text shingle from
    Spark's descending sequence(1, 0) + substring(_, 0, n) aliasing."""
    from egraphdb_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "abc"), (2, ""), (3, "   "), (4, "abcde"), (5, "abcdef")],
        "doc_id long, text string",
    )
    rows = dedup.shingle_table(docs, "doc_id", "text").collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r["shingle"])
    assert 1 not in by_id and 2 not in by_id and 3 not in by_id
    assert by_id[4] == ["abcde"]
    assert sorted(by_id[5]) == ["abcde", "bcdef"]


def test_semantic_dedup_cluster_scoped(spark):
    """SemDeDup finds within-cluster near-dups and (by design) does NOT
    report pairs straddling a cluster boundary."""
    from egraphdb_spark.operators import dedup, similarity

    rows = [
        (0, [1.0, 0.0]),       # anchor / cluster A
        (1, [0.0, 1.0]),       # anchor / cluster B
        (2, [0.999, 0.045]),   # near-dup of 0, lands in A
        (3, [0.045, 0.999]),   # near-dup of 1, lands in B
        (4, [-1.0, 0.0]),      # far from everything, lands in B (max cos)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    anchors = similarity.prefix_anchors(emb, "vec_id", "embedding", 2)
    pairs = {
        (r["id_a"], r["id_b"]): (r["cluster_id"], r["cosine"])
        for r in dedup.semantic_dedup_pairs(
            emb, "vec_id", "embedding", anchors, threshold=0.95
        ).collect()
    }
    assert set(pairs) == {(0, 2), (1, 3)}
    assert pairs[(0, 2)][0] == 0 and pairs[(1, 3)][0] == 1
    assert all(c >= 0.95 for _, c in pairs.values())


def test_bpe_pair_counts_weighted_by_word_frequency(spark):
    from egraphdb_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(1, "aba aba ab"), (2, "x y z")],  # 1-char words contribute no pairs
        "doc_id long, text string",
    )
    rows = {r["pair"]: r["n"] for r in
            text_ops.bpe_pair_counts(docs, "text", top_n=10).collect()}
    # 'aba' ×2 → pairs ab, ba each ×2; 'ab' ×1 → ab ×1
    assert rows == {"ab": 3, "ba": 2}


def test_unigram_nll_orders_fluent_before_junk(spark):
    """Repetitive text (common tokens) scores LOWER nll than rare-token
    junk; empty-ish docs don't crash; integers only."""
    from egraphdb_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [
            (1, "the the the the the the the the"),
            (2, "zxqv jkwp mbfg qqzz xxyy ccvv bbnn mmkk"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r["id"]: r for r in text_ops.unigram_nll(docs, "doc_id", "text").collect()}
    assert rows[1]["avg_nll_micro"] < rows[2]["avg_nll_micro"]
    assert rows[1]["nll_micro"] == rows[1]["avg_nll_micro"] * 8
    for r in rows.values():
        assert isinstance(r["nll_micro"], int)


def test_shard_manifest_partitions_and_reconciles(spark):
    from egraphdb_spark.operators.packing import shard_manifest

    df = spark.createDataFrame(
        [(i, 10 + i) for i in range(100)], "doc_id long, n_tokens long"
    )
    rows = shard_manifest(df, "doc_id", "n_tokens", n_shards=8).collect()
    assert sum(r["n_docs"] for r in rows) == 100
    assert sum(r["n_tokens"] for r in rows) == sum(10 + i for i in range(100))
    assert all(0 <= r["shard_id"] < 8 for r in rows)
    assert len(rows) == len({r["shard_id"] for r in rows})
    # deterministic: same assignment on re-run
    again = shard_manifest(df, "doc_id", "n_tokens", n_shards=8).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_resize_media_downsamples_and_composes(spark):
    from egraphdb_spark.operators import multimodal

    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "x"), (3, "")], "doc_id long, text string"
    )
    resized = multimodal.resize_media(multimodal.synth_media(docs), scale=4)
    rows = {r["id"]: r for r in resized.collect()}
    assert bytes(rows[1]["payload"]) == b"aei"  # every 4th byte of 10
    assert rows[1]["meta"]["n_bytes"] == 3
    assert rows[1]["meta"]["width"] == max(1, (1 % 640 + 64) // 4)
    assert bytes(rows[2]["payload"]) == b"x"
    assert bytes(rows[3]["payload"]) == b"" and rows[3]["meta"]["n_bytes"] == 0
    # composes with the feature stage (two chained mapInPandas)
    feats = {r["id"]: r for r in multimodal.extract_features(resized).collect()}
    assert feats[1]["n_bytes"] == 3 and feats[1]["first_byte"] == ord("a")
    assert feats[1]["last_byte"] == ord("i")
    assert feats[3]["n_bytes"] == 0 and feats[3]["first_byte"] == -1


def test_line_dedup_removes_boilerplate_preserves_order(spark):
    from egraphdb_spark.operators.dedup import line_dedup

    banner = "subscribe to our newsletter"
    docs = spark.createDataFrame(
        [
            (1, f"alpha first\n{banner}\nalpha last"),
            (2, f"{banner}\nbeta only line"),
            (3, f"gamma one\ngamma two\n{banner}"),
            (4, banner),                      # every line dropped -> ''
            (5, "---\n---\nunique body"),     # short separator lines immune
            (6, "---\n---\n---"),             # short-only doc: all kept
            (7, "trailing newline\n"),        # split keeps the '' tail
        ],
        "doc_id long, text string",
    )
    out = {
        r["id"]: r
        for r in line_dedup(docs, "doc_id", "text", max_line_df=1, min_line_chars=5).collect()
    }
    assert out[1]["clean_text"] == "alpha first\nalpha last"
    assert (out[1]["n_kept"], out[1]["n_dropped"]) == (2, 1)
    assert out[2]["clean_text"] == "beta only line"
    assert out[3]["clean_text"] == "gamma one\ngamma two"
    assert out[4]["clean_text"] == "" and out[4]["n_kept"] == 0 and out[4]["n_dropped"] == 1
    # '---' is 3 chars < min_line_chars: occurs in 2 docs but never dropped
    assert out[5]["clean_text"] == "---\n---\nunique body"
    assert out[6]["clean_text"] == "---\n---\n---" and out[6]["n_dropped"] == 0
    assert out[7]["clean_text"] == "trailing newline\n" and out[7]["n_kept"] == 2


def test_line_dedup_df_threshold_counts_distinct_docs(spark):
    from egraphdb_spark.operators.dedup import line_dedup

    # the same line TWICE in one doc counts as ONE distinct document —
    # with max_line_df=1 it survives until a second doc carries it
    docs = spark.createDataFrame(
        [(1, "repeat me twice\nrepeat me twice"), (2, "something else entirely")],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in line_dedup(docs, "doc_id", "text", 1, 5).collect()}
    assert out[1]["n_dropped"] == 0
    docs2 = spark.createDataFrame(
        [(1, "repeat me twice\nrepeat me twice"), (2, "repeat me twice")],
        "doc_id long, text string",
    )
    out2 = {r["id"]: r for r in line_dedup(docs2, "doc_id", "text", 1, 5).collect()}
    assert out2[1]["n_dropped"] == 2 and out2[2]["clean_text"] == ""


def test_line_dedup_is_idempotent(spark):
    from egraphdb_spark.operators.dedup import line_dedup

    banner = "subscribe to our newsletter"
    docs = spark.createDataFrame(
        [(i, f"body {i} first\n{banner}\nbody {i} last") for i in range(4)]
        + [(9, "standalone document body")],
        "doc_id long, text string",
    )
    once = line_dedup(docs, "doc_id", "text", 1, 5).select(
        "id", F.col("clean_text").alias("text")
    )
    twice = line_dedup(once, "id", "text", 1, 5).collect()
    # after removal every surviving eligible line has df <= threshold, so a
    # second pass must change nothing
    assert all(r["n_dropped"] == 0 for r in twice)
    assert {r["id"]: r["clean_text"] for r in twice} == {
        r["id"]: r["text"] for r in once.collect()
    }


def test_source_overlap_identical_disjoint_and_merge_property(spark):
    from egraphdb_spark.operators.dedup import NUM_PERM, source_overlap

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", "A"),
            (2, "alpha beta gamma delta epsilon", "B"),   # B == A exactly
            (3, "zq xw vr ut sp on ml kj ih gf", "C"),    # C disjoint from A
        ],
        "doc_id long, text string, source string",
    )
    out = {
        (r["src_a"], r["src_b"]): r
        for r in source_overlap(docs, "doc_id", "text", "source").collect()
    }
    ab = out[("A", "B")]
    # identical shingle sets: every permutation min agrees, jaccard 1.0
    assert ab["n_agree"] == NUM_PERM
    assert ab["est_jaccard_micro"] == 1_000_000
    assert ab["exact_jaccard_micro"] == 1_000_000
    ac = out[("A", "C")]
    assert ac["exact_jaccard_micro"] == 0
    # set semantics: duplicating a document WITHIN a source changes
    # neither the union signature nor the exact jaccard (distinct h-set)
    docs2 = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", "A"),
            (4, "alpha beta gamma delta epsilon", "A"),  # dup inside A
            (2, "alpha beta gamma delta epsilon", "B"),
            (3, "zq xw vr ut sp on ml kj ih gf", "C"),
        ],
        "doc_id long, text string, source string",
    )
    out2 = {
        (r["src_a"], r["src_b"]): r
        for r in source_overlap(docs2, "doc_id", "text", "source").collect()
    }
    for pair in out:
        for c in ("n_agree", "est_jaccard_micro", "exact_jaccard_micro"):
            assert out2[pair][c] == out[pair][c], (pair, c)


def test_pmi_collocations_reference(spark):
    """PMI matches a pure-Python reference (counts, quantized score, and
    ranking), and strongly-associated pairs outrank frequent-but-
    independent ones."""
    import math

    from egraphdb_spark.operators.text import pmi_collocations

    # "san francisco" always co-occur (high PMI); "the x" pairs are
    # frequent but independent (low PMI)
    corpus = (
        ["san francisco"] * 6
        + ["the cat", "the dog", "the cow", "the pig", "the hen", "the rat"]
    )
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    out = pmi_collocations(docs, "text", min_count=2, k=10).collect()

    # python reference
    from collections import Counter

    uni, bg = Counter(), Counter()
    for t in corpus:
        ws = t.split()
        uni.update(ws)
        bg.update(zip(ws, ws[1:]))
    N, B = sum(uni.values()), sum(bg.values())
    exp = {}
    for (w1, w2), c12 in bg.items():
        if c12 < 2:
            continue
        pmi = math.log((c12 / B) / ((uni[w1] / N) * (uni[w2] / N)))
        exp[(w1, w2)] = (c12, math.floor(pmi * 1e6))
    got = {(r.w1, r.w2): (r.c12, r.pmi_micro) for r in out}
    assert got == dict(sorted(exp.items(), key=lambda kv: (-kv[1][1], kv[0]))[:10])
    assert out[0].w1 == "san" and out[0].w2 == "francisco"
    assert all(
        out[0].pmi_micro > r.pmi_micro for r in out if r.w1 == "the"
    )


def test_pmi_empty_and_short_docs(spark):
    from egraphdb_spark.operators.text import pmi_collocations

    docs = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "  \n\t ")], "doc_id long, text string"
    )
    assert pmi_collocations(docs, "text", min_count=1, k=5).collect() == []


def test_reservoir_per_group_exact_k_and_deterministic(spark):
    from pyspark.sql import functions as F

    from egraphdb_spark.operators.sampling import reservoir_per_group

    rows = [(f"s{g}", i * 7 + g) for g in range(3) for i in range(20)]
    rows += [("tiny", 999), ("tiny", 998)]  # |group| < k
    df = spark.createDataFrame(rows, "source string, doc_id long")
    out = reservoir_per_group(df, "source", "doc_id", k=5)
    counts = {
        r.source: r.n
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"s0": 5, "s1": 5, "s2": 5, "tiny": 2}
    # deterministic under a different partitioning
    a = sorted((r.source, r.doc_id) for r in out.collect())
    b = sorted(
        (r.source, r.doc_id)
        for r in reservoir_per_group(
            df.repartition(17), "source", "doc_id", k=5
        ).collect()
    )
    assert a == b


def test_impute_median_hand_computed(spark):
    from egraphdb_spark.operators.profiling import impute_median_stats

    rows = [
        (1, "a", 10.0), (2, "a", None), (3, "a", 30.0),   # median 20
        (4, "b", None), (5, "b", None),                    # unfillable
        (6, "c", 7.0),
    ]
    df = spark.createDataFrame(rows, "id long, g string, value double")
    got = {r.g: r for r in impute_median_stats(
        df, "g", "value", F.col("value").isNull()
    ).collect()}
    assert got["a"].n == 3 and got["a"].n_missing == 1
    assert got["a"].median == 20.0 and got["a"].n_unfilled == 0
    assert got["a"].sum_imputed_cents == 1000 + 2000 + 3000
    assert got["b"].n_missing == 2 and got["b"].n_unfilled == 2
    assert got["b"].median is None and got["b"].sum_imputed_cents is None
    assert got["c"].sum_imputed_cents == 700


def test_rake_hand_computed(spark):
    """Single doc 'red apple of red wine' (stopword 'of' splits): phrases
    'red apple' and 'red wine'.  freq: red 2, apple 1, wine 1; deg:
    red 4, apple 2, wine 2.  word scores (milli): red 2000, apple 2000,
    wine 2000 -> each phrase scores 4000."""
    from egraphdb_spark.operators.text import rake_keyphrases

    df = spark.createDataFrame(
        [(1, "red apple of red wine")], "doc_id long, text string"
    )
    got = {r.phrase: r for r in rake_keyphrases(df, "doc_id", "text").collect()}
    assert set(got) == {"red apple", "red wine"}
    for p in got.values():
        assert p.score_milli == 4000 and p.n_words == 2 and p.n_occur == 1


def test_rake_punctuation_delimits(spark):
    """Punctuation tokens split phrases and never appear in them."""
    from egraphdb_spark.operators.text import rake_keyphrases

    df = spark.createDataFrame(
        [(1, "deep learning, neural networks!")], "doc_id long, text string"
    )
    got = sorted(r.phrase for r in rake_keyphrases(df, "doc_id", "text").collect())
    assert got == ["deep learning", "neural networks"]


def test_skipgram_window_pools_and_canonicalizes(spark):
    """'a b a b a': window-2 unordered pairs pool across offsets and
    orders — (a,b) appears at every adjacent position (4) plus zero at
    offset 2 (a..a and b..b are (a,a)/(b,b)); counts are exact."""
    from egraphdb_spark.operators.text import skipgram_cooc

    df = spark.createDataFrame(
        [(i, "a b a b a") for i in range(3)], "doc_id long, text string"
    )
    got = {(r.w1, r.w2): r.c12 for r in
           skipgram_cooc(df, "text", window=2, min_count=1, k=10).collect()}
    assert got[("a", "b")] == 3 * 4
    assert got[("a", "a")] == 3 * 2     # offsets (1,3), (3,5)
    assert got[("b", "b")] == 3 * 1     # offset (2,4)


def test_neyman_prefers_high_variance_strata(spark):
    """Equal-size strata, one constant (sigma 0) and one spread: the
    constant stratum gets ZERO allocation, the spread one the full
    budget (capped at its size); membership sums are reproducible."""
    from egraphdb_spark.operators.sampling import neyman_allocation_sample

    rows = [(i, "flat", 100) for i in range(50)]
    rows += [(100 + i, "wild", (i * 37) % 500) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    got = {r.source: r for r in
           neyman_allocation_sample(df, "source", "n_chars", "doc_id", 20).collect()}
    assert got["flat"].weight_milli == 0 and got["flat"].alloc == 0
    assert got["flat"].n_sampled == 0 and got["flat"].sum_sampled_ids is None
    assert got["wild"].alloc == 20 and got["wild"].n_sampled == 20
    # alloc caps at the stratum size
    got2 = {r.source: r for r in
            neyman_allocation_sample(df, "source", "n_chars", "doc_id", 500).collect()}
    assert got2["wild"].alloc == 50
