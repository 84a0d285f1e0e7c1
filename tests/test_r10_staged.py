"""Exact-substring span-coverage dedup (Lee et al. ExactSubstr), DCT
perceptual hash pairs, feature-vector rerank, and the hash-sample quantile
sketch.  Hand-computed cases and defining invariants; oracle parity is
test_parity.py's."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------------------ span coverage


def test_span_coverage_hand_computed(spark):
    # doc 1 repeats an 8-token block twice with one unique token between;
    # doc 2 is unrelated; doc 3 duplicates doc 1's first block verbatim.
    from egraphdb_spark.operators.dedup import duplicated_span_coverage

    block = "a b c d e f g h"
    rows = [
        (1, f"{block} zz {block}"),
        (2, "totally unrelated tokens one two three four five six seven"),
        (3, f"{block} tail1 tail2 tail3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.id: r
        for r in duplicated_span_coverage(df, "doc_id", "text", 8).collect()
    }
    # doc 1: dup starts at pos 1 (block, 3 occurrences corpus-wide) and
    # pos 10 (second copy); gap 9 > 8 -> TWO spans of 8 tokens each
    assert out[1].n_toks == 17
    assert out[1].n_spans == 2
    assert out[1].dup_tokens == 16
    assert out[1].max_span_tokens == 8
    assert out[1].dup_permille == 16 * 1000 // 17
    # doc 2: nothing repeats
    assert out[2].n_spans == 0 and out[2].dup_tokens == 0
    assert out[2].dup_permille == 0
    # doc 3: one 8-token span at pos 1
    assert (out[3].n_spans, out[3].dup_tokens) == (1, 8)


def test_span_coverage_interval_union_merges_overlaps(spark):
    # two overlapping duplicated starts (gap < L) merge into ONE span of
    # max-min+L tokens — never double-counted
    from egraphdb_spark.operators.dedup import duplicated_span_coverage

    s = "p q r s t u v w x y"  # 10 tokens; L=8 grams start at pos 1,2,3
    rows = [(1, s), (2, s)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.id: r
        for r in duplicated_span_coverage(df, "doc_id", "text", 8).collect()
    }
    # every gram repeats (exact copy): starts 1..3, one island, cover
    # = 3 - 1 + 8 = 10 = the whole doc
    assert out[1].n_spans == 1
    assert out[1].dup_tokens == 10
    assert out[1].dup_permille == 1000


def test_span_coverage_short_doc_no_grams(spark):
    from egraphdb_spark.operators.dedup import duplicated_span_coverage

    rows = [(1, "a b c"), (2, "a b c")]  # 3 tokens < L=8: no grams at all
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicated_span_coverage(df, "doc_id", "text", 8).collect()
    assert all(r.n_spans == 0 and r.dup_tokens == 0 for r in out)
    assert {r.n_toks for r in out} == {3}


def test_span_coverage_within_doc_repeats_count(spark):
    # ExactSubstr counts WITHIN-doc repeats: a self-repeating doc is
    # covered even with no other document in the corpus
    from egraphdb_spark.operators.dedup import duplicated_span_coverage

    block = "m n o p q r s t"
    df = spark.createDataFrame(
        [(1, f"{block} {block}")], "doc_id long, text string"
    )
    r = duplicated_span_coverage(df, "doc_id", "text", 8).collect()[0]
    assert r.n_toks == 16
    # starts 1..9 all duplicated (gram at pos i equals gram at pos i+8
    # for i=1; actually the repeated block makes grams 1 and 9 equal,
    # and the bridging grams 2..8 are unique) -> dup starts {1, 9},
    # gap 8 <= 8 merges them: one span covering 9-1+8 = 16 tokens
    assert (r.n_spans, r.dup_tokens, r.dup_permille) == (1, 16, 1000)


# ------------------------------------------------------------------- phash


def test_phash_exact_copy_distance_zero(spark):
    from egraphdb_spark.operators.dedup import hamming64_pairs
    from egraphdb_spark.operators.multimodal import phash64

    text = "the quick brown fox jumps over the lazy dog " * 4
    rows = [(1, text), (2, text), (3, "z" * 300)]
    df = spark.createDataFrame(rows, "id long, text string").select(
        "id", F.encode("text", "UTF-8").alias("payload")
    )
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming64_pairs(phash64(df)).collect()
    }
    assert pairs.get((1, 2)) == 0


def test_phash_small_append_is_near(spark):
    # the robustness property the DCT exists for: appending 3 bytes to a
    # payload whose n_bytes div 64 is unchanged perturbs only the last
    # stripe -> small Hamming distance
    from egraphdb_spark.operators.multimodal import phash64

    text = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 6
    assert len(text.encode()) // 64 == (len(text.encode()) + 3) // 64
    rows = [(1, text), (2, text + " qq")]
    df = spark.createDataFrame(rows, "id long, text string").select(
        "id", F.encode("text", "UTF-8").alias("payload")
    )
    h = {r.id: (r.sh_hi, r.sh_lo) for r in phash64(df).collect()}
    d = bin(h[1][0] ^ h[2][0]).count("1") + bin(h[1][1] ^ h[2][1]).count("1")
    assert d <= 6


def test_phash_short_payload_dropped_and_bit_domain(spark):
    from egraphdb_spark.operators.multimodal import phash64

    rows = [(1, "tiny"), (2, "x" * 200)]
    df = spark.createDataFrame(rows, "id long, text string").select(
        "id", F.encode("text", "UTF-8").alias("payload")
    )
    out = phash64(df).collect()
    assert [r.id for r in out] == [2]  # < 64 bytes cannot hash
    (r,) = out
    assert 0 <= r.sh_hi < (1 << 32) and 0 <= r.sh_lo < (1 << 32)
    # DC bit (pos 0) is always 0 by construction
    assert r.sh_hi & 1 == 0


def test_phash_matches_pure_python_replay(spark):
    # end-to-end integer replay: stripe fold, two DCT passes, median
    # threshold, bit packing — bit-identical to the Spark plan
    from egraphdb_spark.operators.multimodal import PHASH_DCT_MILLI, phash64

    text = "abcdefgh" * 40  # 320 bytes
    df = spark.createDataFrame([(1, text)], "id long, text string").select(
        "id", F.encode("text", "UTF-8").alias("payload")
    )
    r = phash64(df).collect()[0]

    b = text.encode()
    nb, w = len(b), len(b) // 64
    cells = [
        sum(b[k * w : (nb if k == 63 else (k + 1) * w)]) for k in range(64)
    ]
    grid = [cells[r_ * 8 : r_ * 8 + 8] for r_ in range(8)]
    t1 = [
        [
            sum(PHASH_DCT_MILLI[u][x] * grid[x][c] for x in range(8))
            for c in range(8)
        ]
        for u in range(8)
    ]
    t2 = {
        (u, v): sum(PHASH_DCT_MILLI[v][c] * t1[u][c] for c in range(8))
        for u in range(8)
        for v in range(8)
    }
    ac = sorted(
        (coeff, u, v) for (u, v), coeff in t2.items() if (u, v) != (0, 0)
    )
    med = ac[31][0]
    hi = lo = 0
    for (u, v), coeff in t2.items():
        if (u, v) == (0, 0) or coeff <= med:
            continue
        pos = u * 8 + v
        if pos < 32:
            hi |= 1 << pos
        else:
            lo |= 1 << (pos - 32)
    assert (r.sh_hi, r.sh_lo) == (hi, lo)


# ---------------------------------------------------------- feature rerank


def test_feature_rerank_hand_computed(spark):
    from egraphdb_spark.operators.ranking import feature_rerank

    lex = spark.createDataFrame(
        [(1, 900), (2, 500), (3, 100)], "id long, score_micro long"
    )
    sem = spark.createDataFrame(
        [(2, 80), (4, 40)], "id long, score_micro long"
    )
    out = {r.id: r for r in feature_rerank(lex, sem, k=10).collect()}
    # lex norms: (900-100)*1e6//800=1e6, (500-100)*1e6//800=500000, 0
    assert out[1].f_lex_norm == 1_000_000 and out[1].f_sem_norm == 0
    assert out[2].f_lex_norm == 500_000 and out[2].f_sem_norm == 1_000_000
    assert out[3].f_lex_norm == 0
    # rrf: rank 1 -> 1e6//61, rank 2 -> 1e6//62
    assert out[1].f_lex_rrf == 1_000_000 // 61
    assert out[2].f_lex_rrf == 1_000_000 // 62
    assert out[4].f_lex_rrf == 0 and out[4].f_sem_rrf == 1_000_000 // 62
    assert out[2].n_lists == 2 and out[1].n_lists == 1
    exp2 = (
        500 * 500_000
        + 300 * 1_000_000
        + 100 * (1_000_000 // 62)
        + 100 * (1_000_000 // 61)
        + 200 * 1000 * 2
    )
    assert out[2].score_scaled == exp2


def test_feature_rerank_double_hit_outranks_single_list_top(spark):
    # a near-top double-hit candidate outranks the single-list top: its
    # second list contributes weight the lone norm advantage can't match
    from egraphdb_spark.operators.ranking import feature_rerank

    lex = spark.createDataFrame(
        [(1, 1000), (2, 999), (9, 0)], "id long, score_micro long"
    )
    sem = spark.createDataFrame(
        [(2, 500), (3, 400), (9, 0)], "id long, score_micro long"
    )
    ranked = [r.id for r in feature_rerank(lex, sem, k=4).collect()]
    assert ranked[0] == 2  # two lists beat one


def test_feature_rerank_weight_validation(spark):
    from egraphdb_spark.operators.ranking import feature_rerank

    df = spark.createDataFrame([(1, 1)], "id long, score_micro long")
    with pytest.raises(ValueError, match="5 weights"):
        feature_rerank(df, df, weights_milli=(1, 2, 3))


# -------------------------------------------------------- sampled quantiles


def test_sampled_quantiles_matches_pure_python_replay(spark):
    import hashlib

    from egraphdb_spark.operators.sketches import sampled_quantiles

    rows = [("g", (i * 37) % 1000, i) for i in range(4000)]
    df = spark.createDataFrame(rows, "grp string, v long, id long")
    out = sampled_quantiles(df, "grp", "v", "id", level=3).collect()

    def u60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    samp = sorted(
        (v, i) for _, v, i in rows if u60(f"sq:{i}") % 8 == 0
    )
    n = len(samp)
    for r in out:
        k = max(1, (r.q_permille * n + 999) // 1000)
        assert r.n_sample == n
        assert r.est == samp[k - 1][0], r.q_permille


def test_sampled_quantiles_dkw_error_band(spark):
    # estimator quality: on 8000 uniform values the p50 estimate must sit
    # within a loose DKW band of the exact quantile (sample ~1000)
    from egraphdb_spark.operators.sketches import sampled_quantiles

    rows = [("g", i % 1000, i * 7 + 1) for i in range(8000)]
    df = spark.createDataFrame(rows, "grp string, v long, id long")
    out = {
        r.q_permille: r.est
        for r in sampled_quantiles(df, "grp", "v", "id", level=3).collect()
    }
    assert abs(out[500] - 500) < 100
    assert abs(out[250] - 250) < 100
    assert out[990] > 900


def test_sampled_quantiles_partition_and_order_free(spark):
    # mergeability rests on the sample being a pure function of the key
    # hash: batch order and partitioning must not change anything
    # (sample(A ∪ B) = sample(A) ∪ sample(B) under one hash)
    from egraphdb_spark.operators.sketches import sampled_quantiles

    rows = [("g", (i * 13) % 500, i) for i in range(2000)]
    a = spark.createDataFrame(rows[:1000], "grp string, v long, id long")
    b = spark.createDataFrame(rows[1000:], "grp string, v long, id long")
    fwd = sampled_quantiles(
        a.unionByName(b), "grp", "v", "id", level=2
    ).collect()
    rev = sampled_quantiles(
        b.unionByName(a).repartition(7), "grp", "v", "id", level=2
    ).collect()
    assert sorted(map(tuple, fwd)) == sorted(map(tuple, rev))


def test_sampled_quantiles_parameter_guards(spark):
    from egraphdb_spark.operators.sketches import sampled_quantiles

    df = spark.createDataFrame([("g", 1, 1)], "grp string, v long, id long")
    with pytest.raises(ValueError, match="level"):
        sampled_quantiles(df, "grp", "v", "id", level=60)
    with pytest.raises(ValueError, match="qs_permille"):
        sampled_quantiles(df, "grp", "v", "id", qs_permille=(0,))
    with pytest.raises(ValueError, match="qs_permille"):
        sampled_quantiles(df, "grp", "v", "id", qs_permille=())


# ----------------------------------------------------------- despan rewrite


def test_despan_rewrite_hand_computed(spark):
    # doc 1 = block + unique middle + block: the two block copies merge
    # into ONE island (gap 8 <= L) covering the whole doc -> n_kept 0;
    # doc 2 unrelated -> untouched, clean_md5 = md5(normalized text)
    import hashlib

    from egraphdb_spark.operators.dedup import despan_rewrite

    block = "a b c d e f g h"
    doc2 = "totally unrelated tokens one two three four five six seven"
    rows = [(1, f"{block} {block}"), (2, doc2)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in despan_rewrite(df, "doc_id", "text", 8).collect()}
    assert (out[1].n_kept, out[1].clean_md5) == (
        0, hashlib.md5(b"").hexdigest(),
    )
    assert out[2].n_kept == out[2].n_toks == 10
    assert out[2].clean_md5 == hashlib.md5(doc2.encode()).hexdigest()


def test_despan_rewrite_keeps_unique_middle(spark):
    # spans separated by a gap > L: the unique middle tokens survive in
    # order and the rebuilt string is exactly the middle
    import hashlib

    from egraphdb_spark.operators.dedup import despan_rewrite

    block_a = "a b c d e f g h"
    block_b = "q r s t u v w x"
    middle = "uniq1 uniq2 uniq3 uniq4 uniq5 uniq6 uniq7 uniq8 uniq9"
    rows = [
        (1, f"{block_a} {middle} {block_b}"),
        (2, block_a),
        (3, block_b),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in despan_rewrite(df, "doc_id", "text", 8).collect()}
    assert out[1].n_kept == 9
    assert out[1].clean_md5 == hashlib.md5(middle.encode()).hexdigest()


def test_despan_rewrite_conserves_with_coverage(spark):
    # invariant tying the ExactSubstr pair together:
    # n_kept + dup_tokens == n_toks on every document
    from egraphdb_spark.operators.dedup import (
        despan_rewrite,
        duplicated_span_coverage,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(120)
    cov = {
        r.id: r
        for r in duplicated_span_coverage(
            docs, "doc_id", "text", 8
        ).collect()
    }
    rew = despan_rewrite(docs, "doc_id", "text", 8).collect()
    assert len(rew) == len(cov)
    for r in rew:
        c = cov[r.id]
        assert r.n_kept + c.dup_tokens == c.n_toks == r.n_toks, r.id


def test_phash_large_payload_no_overflow(spark):
    # int64 headroom claim in the docstring, exercised: a ~1.2 MB payload
    # (stage-2 coefficient ~255*nb*64*1e8 worst case) hashes cleanly and
    # matches the pure-python integer replay
    from egraphdb_spark.operators.multimodal import PHASH_DCT_MILLI, phash64

    text = "qwertyuiopasdfgh" * 75000  # 1.2e6 bytes
    df = spark.createDataFrame([(1, text)], "id long, text string").select(
        "id", F.encode("text", "UTF-8").alias("payload")
    )
    r = phash64(df).collect()[0]

    b = text.encode()
    nb, w = len(b), len(b) // 64
    cells = [
        sum(b[k * w : (nb if k == 63 else (k + 1) * w)]) for k in range(64)
    ]
    grid = [cells[r_ * 8 : r_ * 8 + 8] for r_ in range(8)]
    t1 = [
        [
            sum(PHASH_DCT_MILLI[u][x] * grid[x][c] for x in range(8))
            for c in range(8)
        ]
        for u in range(8)
    ]
    t2 = {
        (u, v): sum(PHASH_DCT_MILLI[v][c] * t1[u][c] for c in range(8))
        for u in range(8)
        for v in range(8)
    }
    assert max(abs(c) for c in t2.values()) < 2**63  # inside int64
    ac = sorted(
        (coeff, u, v) for (u, v), coeff in t2.items() if (u, v) != (0, 0)
    )
    med = ac[31][0]
    hi = lo = 0
    for (u, v), coeff in t2.items():
        if (u, v) == (0, 0) or coeff <= med:
            continue
        pos = u * 8 + v
        if pos < 32:
            hi |= 1 << pos
        else:
            lo |= 1 << (pos - 32)
    assert (r.sh_hi, r.sh_lo) == (hi, lo)


# ------------------------------------------------------- contamination spans


def test_contam_spans_hand_computed(spark):
    # benchmark phrase of exactly 13 tokens sits mid-doc in doc 1; doc 2
    # is clean; doc 3 IS the benchmark text verbatim (full coverage)
    from egraphdb_spark.operators.dedup import contamination_spans

    phrase = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12 b13"
    rows = [
        (1, f"lead1 lead2 lead3 {phrase} tail1 tail2"),
        (2, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13 c14 c15"),
        (3, phrase),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(100, phrase)], "id long, btext string")
    out = {
        r.id: r
        for r in contamination_spans(
            corpus, bench, "doc_id", "text", "btext", 13
        ).collect()
    }
    # doc 1: the single 13-gram hit at pos 4 covers exactly 13 tokens
    assert (out[1].n_spans, out[1].contam_tokens) == (1, 13)
    assert out[1].contam_permille == 13 * 1000 // 18
    assert (out[2].n_spans, out[2].contam_tokens) == (0, 0)
    assert (out[3].contam_tokens, out[3].contam_permille) == (13, 1000)


def test_contam_spans_duplicate_bench_rows_idempotent(spark):
    # the same benchmark text listed twice must not double-count cover
    from egraphdb_spark.operators.dedup import contamination_spans

    phrase = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12 b13"
    corpus = spark.createDataFrame(
        [(1, phrase)], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(100, phrase), (101, phrase)], "id long, btext string"
    )
    r = contamination_spans(
        corpus, bench, "doc_id", "text", "btext", 13
    ).collect()[0]
    assert (r.n_spans, r.contam_tokens) == (1, 13)


def test_contam_spans_corpus_internal_dups_do_not_contaminate(spark):
    # grams repeated WITHIN the corpus but absent from the benchmark are
    # not contamination (unlike duplicated_span_coverage's criterion)
    from egraphdb_spark.operators.dedup import contamination_spans

    t = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12 x13"
    corpus = spark.createDataFrame(
        [(1, t), (2, t)], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(100, "totally different eval text with many words here ok")],
        "id long, btext string",
    )
    out = contamination_spans(
        corpus, bench, "doc_id", "text", "btext", 13
    ).collect()
    assert all(r.n_spans == 0 and r.contam_tokens == 0 for r in out)
