"""Driver-facing query registry.

Each entry pairs a Spark DataFrame implementation (the engine operator under
test, from SURVEY.md §2) with an equivalent DuckDB-SQL oracle over the same
parquet tables.  Conventions that keep the driver's order-insensitive
value-hash comparison exact:

  * every computed column is aliased identically on both sides
  * floating-point AGGREGATES are computed in exact DECIMAL arithmetic and
    cast to DOUBLE at the end — sum order then cannot perturb the result,
    so Spark's partial/parallel aggregation and DuckDB's sequential scan
    produce bit-identical doubles
  * queries with LIMIT impose a deterministic total order first
  * oracles generated from operator constants (MinHash coefficients,
    shingle length, stopword profiles) use the identical constants the
    Spark operator uses; regexp_replace takes DuckDB's 'g' flag

The gates live one module per family under ``gates/``, each exporting a
``GATES`` dict of name -> (spark_fn, oracle_sql).  The per-session inputs
they read (tables, graph fixture, shingle table) are memoised in graph.py;
``fixture`` is re-exported here for the benchmark and tools.  The graph
and search gates run on that fixture; their oracles re-derive the same
facts relationally.
"""

from __future__ import annotations

from .gates import (
    dedup,
    events,
    graph,
    io_stream,
    relational,
    search,
    similarity,
    sketch_sample,
    text,
)
from .graph import fixture  # noqa: F401  (re-export)

FAMILIES = (
    search, graph, relational, events, io_stream, text, dedup, similarity, sketch_sample,
)

# The driver hard-checks the FIRST 50 gates in registry order; the window
# rotates per round so every gate's driver evidence stays recent.  Emitted
# by tools/next_window.py (never-checked gates first, then by oldest
# driver check).  Gates not named here follow in family order.
_PRIORITY = [
    # -- 49 stalest re-checks, last driver-green r5 --
    "mm_simhash_pairs", "emb_pca_power", "emb_abtt_topk",
    "txt_char_entropy", "pipe_temperature_mix", "pipe_interleave",
    "txt_hash_embedding", "txt_bigram_nll", "txt_source_jsd",
    "dedup_fuzzy_pairs", "sketch_hll_overlap", "pipe_length_buckets",
    "sample_weighted", "dedup_canonical_corpus", "txt_tfidf_sim_pairs",
    "sim_ivfpq_topk", "sim_knn_graph", "txt_top_bigrams",
    "txt_bpe_pair_counts", "txt_unigram_nll", "pipe_shard_manifest",
    "dedup_minhash_sig", "dedup_simhash", "dedup_containment_pairs",
    "dedup_semantic_pairs", "sim_cosine_topk", "clean_winsorize",
    "sample_hash_docs", "sample_group_split", "mm_resize_features",
    "evt_anomaly_mad", "graph_hits", "graph_lpa",
    "graph_neighbor_jaccard", "join_asof_nearest", "graph_degree_stats",
    "stream_session_window", "evt_retention", "s15_logtable_diff",
    "evt_active_users_7d", "evt_wau_hll", "stream_wau_hll",
    "stream_cm_heavy", "agg_pivot", "win_ntile", "s15_logtable_asof",
    "s15_logtable_compact", "reindex_status", "io_csv_quarantine",
    # -- 1 next-stalest re-check, last driver-green r6 --
    "s10_geo_knearest",
]


def build_registry(families: list[dict], priority: list[str]) -> dict[str, tuple]:
    """Join the family ``GATES`` dicts, ``priority`` names first.

    Raises ``ValueError`` when two families register one name or a
    priority name is registered by none.
    """
    merged: dict[str, tuple] = {}
    for gates in families:
        dup = sorted(merged.keys() & gates.keys())
        if dup:
            raise ValueError(f"gate names registered twice: {dup}")
        merged.update(gates)
    missing = sorted(set(priority) - merged.keys())
    if missing:
        raise ValueError(f"priority names not registered: {missing}")
    rest = {k: v for k, v in merged.items() if k not in set(priority)}
    return {**{k: merged[k] for k in priority}, **rest}


# name -> (spark_fn, oracle_sql)
REGISTRY: dict[str, tuple] = build_registry([f.GATES for f in FAMILIES], _PRIORITY)
