"""Cross-engine fuzz parity: text-family gates on ADVERSARIAL corpora.

The driver's correctness gate runs on a fixed synthetic corpus, which
cannot contain the inputs that historically broke cross-engine parity
(short docs, whitespace-only docs, boundary whitespace, exact duplicates).
This suite generates hostile documents tables with hypothesis, writes them
as parquet, and runs a selection of text/dedup/pipeline gates through BOTH
engines via the same compare() the local harness uses — so any
corpus-dependent Spark↔DuckDB divergence fails HERE instead of on real
data.  (Caught pre-merge: phantom '' tokens, trim-vs-\\s semantics, the
descending-sequence crash family.)
"""

from __future__ import annotations

import os
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from parity import compare, run_oracle

from egraphdb_spark.queries import REGISTRY

# FUZZ_EXAMPLES=50 for a deep sweep (CI default keeps wall-time sane)
_SETTINGS = dict(
    max_examples=int(os.environ.get("FUZZ_EXAMPLES", "6")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# hostile text: whitespace runs of every ASCII kind, very short docs,
# duplicates (fixed candidates below guarantee them), punctuation, digits
_TEXT = st.text(alphabet="ab c\td.e2f\ng  h\r", min_size=0, max_size=60)
_CANNED = st.sampled_from(
    ["", " ", "\n", "a", "ab cd", "ab cd", "the the the", "x " * 40, "  ab\tcd  "]
)
_DOC = st.one_of(_TEXT, _CANNED)

# gates whose inputs are only the documents table and whose semantics are
# the text/dedup/packing families under test
FUZZ_GATES = [
    "clean_quantile_norm",
    "pipe_quality_ablation",
    "pipe_ccnet_buckets",
    "pipe_dataset_card",
    "txt_readability",
    "txt_stats",
    "txt_fingerprint",
    "txt_bpe_tokens",
    "txt_bpe_pair_counts",
    "txt_unigram_nll",
    "txt_top_bigrams",
    "txt_pmi_collocations",
    "txt_skipgram_cooc",
    "txt_lang_id",
    "txt_pii_scrub",
    "txt_repetition",
    "dedup_exact",
    "dedup_repeated_spans",
    "dedup_minhash_sig",
    "dedup_minhash_lsh_pairs",
    "dedup_lsh_recall",
    "dedup_simhash",
    "dedup_jaccard_pairs",
    "dedup_containment_pairs",
    "dedup_fuzzy_pairs",
    "txt_tfidf_sim_pairs",
    "pipe_chunking",
    "pipe_shard_manifest",
    "pipe_seq_pack",
    "pipe_fim_split",
    "pipe_assemble",
    "pipe_mixture",
    "sample_hash_docs",
    "sample_reservoir_group",
    "sample_token_budget",
    "sample_source_quota",
    "sample_weighted",
    "pipe_length_buckets",
    "dedup_canonical_corpus",
    "pipe_temperature_mix",
    "pipe_interleave",
    "txt_hash_embedding",
    "txt_bigram_nll",
    "txt_source_jsd",
    "pipe_pack_pairs",
    "txt_char_entropy",
    "mm_simhash_pairs",
    "dedup_contamination",
    "dedup_incremental_lsh",
    "dedup_near_clusters",
    "dedup_simhash_pairs",
    "pipe_corpus_clean",
    "txt_bm25_topk",
    "txt_tfidf_keywords",
    "txt_rake_keyphrases",
    "sample_stratified",
    "sample_neyman",
    "sample_train_test",
    "dedup_line_corpus",
    "dedup_source_overlap",
    "io_jsonl_quarantine",
    "privacy_k_anon",
    "privacy_l_diversity",
    "privacy_k_suppress",
    "privacy_t_closeness",
    "profile_drift_psi",
    "pipe_epoch_shuffle",
    # NFC parity is safe to fuzz because the corpus alphabet is ASCII and
    # the injected combining mark (U+0301) has had a stable canonical
    # composition since Unicode 1.1 — Python unicodedata vs DuckDB
    # utf8proc cannot disagree on it even across Unicode versions
    "clean_unicode_normalize",
    "dedup_cdc_chunks",
    # txt_bpe_vocab_tokens runs the FULL bpe training chain plus the
    # encode tail, so it strictly covers txt_bpe_train's oracle path;
    # enrolling both doubled the per-example cost of this suite for no
    # extra coverage (the trainer alone is property-tested against a
    # pure-Python reference in test_tokenizer.py).
    "txt_bpe_vocab_tokens",
    "txt_gopher_quality",
    "clean_url_canon",
    "privacy_dp_mean",
    "profile_drift_ks",
    "privacy_dp_counts",
    "sketch_ams_f2",
    "txt_winnow_fingerprints",
    "txt_kneser_ney",
    "sketch_moments_chebyshev",
    "rag_ndcg",
    "sample_pps_systematic",
    "profile_gini",
    "txt_zipf_fit",
    "txt_gopher_lines",
    "dedup_winnow_pairs",
    "clean_html_strip",
    "privacy_dp_topk",
    "txt_heaps_fit",
    # rag_fusion_weighted and rag_feature_rerank read the fixed symlinked
    # embeddings: their hostile surface is the BM25-over-hostile-docs half;
    # mm_phash_pairs folds payload bytes = utf-8 of the hostile text
    "dedup_hamming64_pairs",
    "txt_dup_structure",
    "rag_fusion_weighted",
    "dedup_span_coverage",
    "mm_phash_pairs",
    "rag_feature_rerank",
    "pipe_despan_rewrite",
    "dedup_contam_spans",
]

_LANGS = ["en", "de", "fr", "zh", "es"]


def _write_corpus(spark, texts: list[str]) -> str:
    import pandas as pd

    d = tempfile.mkdtemp(prefix="fuzz_docs_")
    # single parquet FILE (not a Spark part-file directory): the oracle
    # runner points DuckDB at '<dir>/documents.parquet' verbatim
    pd.DataFrame(
        {
            "doc_id": pd.array(range(len(texts)), dtype="int64"),
            "text": texts,
            "lang": [_LANGS[i % len(_LANGS)] for i in range(len(texts))],
            "source": [f"src{i % 3}" for i in range(len(texts))],
            "n_chars": pd.array([len(t) for t in texts], dtype="int64"),
        }
    ).to_parquet(os.path.join(d, "documents.parquet"))
    # the oracle runner creates views for every table name; gates under
    # test only read documents, but the views must exist
    for t in (
        "region nation customer supplier part orders lineitem events embeddings"
    ).split():
        src = f"/root/testdata/sf0.001/{t}.parquet"
        dst = os.path.join(d, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(src, dst)
    return d


@given(texts=st.lists(_DOC, min_size=1, max_size=8))
@settings(**_SETTINGS)
def test_gates_parity_on_hostile_corpus(spark, texts):
    # one corpus write per example, all gates against it (a per-gate
    # parametrize would pay the corpus write FUZZ_GATES times over)
    sf_dir = _write_corpus(spark, texts)
    failures = []
    for gate in FUZZ_GATES:
        fn, sql = REGISTRY[gate]
        spark_pdf = fn(spark, sf_dir).toPandas()
        oracle_pdf = run_oracle(sql, sf_dir)
        problems = compare(spark_pdf, oracle_pdf)
        if problems:
            failures.append(f"{gate}: " + "; ".join(problems))
    assert not failures, f"on {texts!r}:\n" + "\n".join(failures)


# ---------------------------------------------------------------------------
# Hostile embeddings: zero vectors (norm 0 → unguarded cosine throws under
# Spark ANSI and sorts as NaN-above-everything in DuckDB), constant vectors
# (span 0 in quantization), duplicates, tiny corpora
# ---------------------------------------------------------------------------

EMB_GATES = [
    "sim_cosine_topk",
    "emb_truncate_recall",
    "emb_drift",
    "sim_ivf_topk",
    "sim_lsh_topk",
    "sim_mips_topk",
    "dedup_embedding_pairs",
    "dedup_semantic_pairs",
    "emb_quantize_int8",
    "emb_label_centroids",
    "emb_pca_power",
    "emb_label_outliers",
    "emb_abtt_topk",
    "sample_class_balance",
    "sim_kmeans_topk",
    "sim_knn_graph",
    "sim_ivfpq_topk",
    "sim_pq_codes",
    "sim_pq_topk",
]

_DIM = 64


def _vec(seed: int, kind: str) -> list[float]:
    if kind == "zero":
        return [0.0] * _DIM
    if kind == "const":
        return [0.25] * _DIM
    # deterministic pseudo-random floats, float32-representable
    return [(((seed * 31 + i) * 37) % 19 - 9) / 16.0 for i in range(_DIM)]


_VK = st.sampled_from(["zero", "const", "rand", "rand2"])


def _write_embeddings(kinds: list[str]) -> str:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tempfile.mkdtemp(prefix="fuzz_emb_")
    vecs = [
        np.array(_vec(i if k != "rand2" else i + 1000, k), dtype=np.float32)
        for i, k in enumerate(kinds)
    ]
    t = pa.table(
        {
            "vec_id": pa.array(range(len(kinds)), type=pa.int64()),
            "embedding": pa.array([v.tolist() for v in vecs], type=pa.list_(pa.float32())),
            "label": pa.array([i % 4 for i in range(len(kinds))], type=pa.int32()),
        }
    )
    pq.write_table(t, os.path.join(d, "embeddings.parquet"))
    for name in (
        "region nation customer supplier part orders lineitem events documents"
    ).split():
        src = f"/root/testdata/sf0.001/{name}.parquet"
        dst = os.path.join(d, f"{name}.parquet")
        if not os.path.exists(dst):
            os.symlink(src, dst)
    return d


@given(kinds=st.lists(_VK, min_size=2, max_size=10))
@settings(**_SETTINGS)
def test_embedding_gates_parity_on_hostile_vectors(spark, kinds):
    sf_dir = _write_embeddings(kinds)
    failures = []
    for gate in EMB_GATES:
        fn, sql = REGISTRY[gate]
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(f"{gate}: SPARK RAISED {type(e).__name__}: {str(e)[:160]}")
            continue
        oracle_pdf = run_oracle(sql, sf_dir)
        problems = compare(spark_pdf, oracle_pdf)
        if problems:
            failures.append(f"{gate}: " + "; ".join(problems))
    assert not failures, f"on {kinds!r}:\n" + "\n".join(failures)


# ---------------------------------------------------------------------------
# Hostile events: duplicate timestamps per user (total-order discipline of
# every window/lead/session query), zero/negative values, degenerate props
# ---------------------------------------------------------------------------

EVT_GATES = [
    "win_time_range",
    "evt_seasonal_dow",
    "evt_lag_corr",
    "evt_ab_test",
    "evt_ewma",
    "evt_holt",
    "evt_hill_alpha",
    "join_interval_overlap",
    "evt_changepoint",
    "evt_ohlc",
    "evt_gapfill_locf",
    "evt_session_window",
    "evt_props_json",
    "evt_rollup_cascade",
    "evt_funnel",
    "evt_funnel_steps",
    "evt_cohort_ltv",
    "evt_transitions",
    "evt_retention",
    "evt_spikes",
    "evt_active_users_7d",
    "evt_stickiness",
    "evt_wau_hll",
    "skew_salted_topn",
    "evt_anomaly_mad",
    "evt_holt_winters",
    "evt_forecast_mae",
    "evt_survival_km",
    "evt_markov_stationary",
    "evt_rate_wilson",
    "clean_impute_median",
    "evt_rfm_segments",
    "evt_window_hourly",
    "sketch_cm_heavy",
    "sketch_hll_overlap",
    "sketch_kmv_distinct",
    "sketch_kmv_overlap",
    "skew_salted_join",
    "join_asof_nearest",
    "join_asof_tolerance",
    "evt_diff_in_diff",
    # messy-date synthesis + regex/civil-math parse
    "clean_dates_normalize",
    "evt_bootstrap_ci",
    # binning + min-max isotonic fit; CUPED exact-moment adjustment;
    # split-conformal intervals
    "clean_isotonic_calibrate",
    "evt_cuped",
    "evt_conformal",
    # hash-sample quantile sketch (ties in value, duplicate event ids, tiny
    # samples where k clamps to 1)
    "sketch_sampled_quantiles",
]

_ETYPES = ["view", "click", "purchase", "signup", "error"]
_VALUES = [-5.0, 0.0, 1.25, 185.22]
_PROPS = ['{}', '{"k": 0}', '{"k": -3}', '{"k": 87}']

# minute offsets drawn from a SMALL pool so exact-duplicate timestamps are
# common; a few large offsets create session breaks and week boundaries
_EVT = st.tuples(
    st.integers(min_value=0, max_value=2),            # user_id
    st.sampled_from([0, 1, 1, 5, 5, 40, 40, 200, 20160]),  # minute offset
    st.integers(min_value=0, max_value=len(_ETYPES) - 1),
    st.integers(min_value=0, max_value=len(_VALUES) - 1),
    st.integers(min_value=0, max_value=len(_PROPS) - 1),
)


def _write_events(rows) -> str:
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tempfile.mkdtemp(prefix="fuzz_evt_")
    base = datetime.datetime(2024, 1, 1)
    t = pa.table(
        {
            "event_id": pa.array(range(len(rows)), type=pa.int64()),
            "ts": pa.array(
                [base + datetime.timedelta(minutes=m) for (_, m, _, _, _) in rows],
                type=pa.timestamp("us"),
            ),
            "user_id": pa.array([u for (u, _, _, _, _) in rows], type=pa.int64()),
            "event_type": pa.array([_ETYPES[e] for (_, _, e, _, _) in rows]),
            "value": pa.array([_VALUES[v] for (_, _, _, v, _) in rows], type=pa.float64()),
            "props": pa.array([_PROPS[p] for (_, _, _, _, p) in rows]),
        }
    )
    pq.write_table(t, os.path.join(d, "events.parquet"))
    for name in (
        "region nation customer supplier part orders lineitem documents embeddings"
    ).split():
        src = f"/root/testdata/sf0.001/{name}.parquet"
        dst = os.path.join(d, f"{name}.parquet")
        if not os.path.exists(dst):
            os.symlink(src, dst)
    return d


@given(rows=st.lists(_EVT, min_size=1, max_size=20))
@settings(**_SETTINGS)
def test_event_gates_parity_on_tied_timestamps(spark, rows):
    sf_dir = _write_events(rows)
    failures = []
    for gate in EVT_GATES:
        fn, sql = REGISTRY[gate]
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(f"{gate}: SPARK RAISED {type(e).__name__}: {str(e)[:160]}")
            continue
        oracle_pdf = run_oracle(sql, sf_dir)
        problems = compare(spark_pdf, oracle_pdf)
        if problems:
            failures.append(f"{gate}: " + "; ".join(problems))
    assert not failures, f"on {rows!r}:\n" + "\n".join(failures)
