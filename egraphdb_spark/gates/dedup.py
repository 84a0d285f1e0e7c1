"""Deduplication gates: exact, MinHash/LSH, SimHash, winnowing and
span-level near-duplicate detection over the documents table.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..graph import _docs_spread, _t, doc_shingles
from ..operators import dedup, similarity, text
from ..operators.dedup import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    NUM_PERM,
    SHINGLE_LEN,
)
from .similarity import _N_ANCHORS, _SIMHASH_FP, _SIMHASH_SUMS, _cos_sql
from .text import _NORM, _TOKS, _WB


_SH_CTE = f"""
norm AS (SELECT doc_id AS id, {_NORM} AS t FROM documents),
sh AS (
  SELECT id, unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - {SHINGLE_LEN - 1}, 0) + 1),
           i -> substr(t, CAST(i AS INT), {SHINGLE_LEN})))) AS shingle
  FROM norm
),
hashed AS (
  SELECT id, CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h
  FROM sh
)
"""


_MIN_EXPRS = ",\n         ".join(
    f"min(({MINHASH_A[j]} * h + {MINHASH_B[j]}) % {MINHASH_P}) AS m{j}"
    for j in range(NUM_PERM)
)


_SIG_CTE = f"""
{_SH_CTE},
sig AS (
  SELECT id,
         {_MIN_EXPRS}
  FROM hashed GROUP BY id
)
"""


def _band_sql(alias: str = "sig") -> str:
    """UNION ALL of the per-band bucket hashes (mirror of lsh_band_buckets)."""
    parts = []
    for b in range(LSH_BANDS):
        cols = ", ".join(f"CAST(m{b * LSH_ROWS + r} AS VARCHAR)" for r in range(LSH_ROWS))
        parts.append(
            f"SELECT id, {b} AS band, md5(concat_ws('_', '{b}', {cols})) AS bucket FROM {alias}"
        )
    return " UNION ALL ".join(parts)


_SIMHASH_CTE = f"""
{_SH_CTE},
sums AS (
  SELECT id,
         {_SIMHASH_SUMS}
  FROM hashed GROUP BY id
),
simh AS (SELECT id, {_SIMHASH_FP} AS simhash FROM sums)
"""


# --------------------------------------------------------------------------
# Dedup family
# --------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, "doc_id", "text")


O_DEDUP_EXACT = f"""
SELECT min(doc_id) AS canonical_id, count(*) AS n_dups
FROM (SELECT doc_id, CAST(('0x' || substr(md5({_NORM}), 1, 15)) AS BIGINT) AS fp
      FROM documents)
GROUP BY fp
"""


def q_dedup_minhash_sig(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_signature(
        docs, "doc_id", "text", shingles=doc_shingles(spark, sf_dir)
    )


O_MINHASH_SIG = f"WITH {_SIG_CTE} SELECT * FROM sig"


def q_dedup_minhash_lsh_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    sig = dedup.minhash_signature(
        docs, "doc_id", "text", shingles=doc_shingles(spark, sf_dir)
    )
    return dedup.lsh_candidate_pairs(sig, max_bucket_size=64)


O_MINHASH_PAIRS = f"""
WITH {_SIG_CTE},
bands AS ({_band_sql()}),
small AS (
  SELECT band, bucket FROM bands GROUP BY band, bucket HAVING count(*) <= 64
),
bb AS (SELECT bands.* FROM bands SEMI JOIN small USING (band, bucket))
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
"""


def q_dedup_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash(
        docs, "doc_id", "text", shingles=doc_shingles(spark, sf_dir)
    )


O_SIMHASH = f"WITH {_SIMHASH_CTE} SELECT id, simhash FROM simh"


def q_dedup_simhash_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    sh = dedup.simhash(
        docs, "doc_id", "text", shingles=doc_shingles(spark, sf_dir)
    )
    return dedup.simhash_pairs(sh, max_hamming=3)


O_SIMHASH_PAIRS = f"""
WITH {_SIMHASH_CTE},
blk AS (
  SELECT id, simhash, t.b AS blk, (simhash >> CAST(t.b * 8 AS INT)) & 255 AS val
  FROM simh, (SELECT unnest(range(0, 4)) AS b) t
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM blk a JOIN blk b ON a.blk = b.blk AND a.val = b.val AND a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_dedup_jaccard_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5, max_shingle_df=100,
        shingles=doc_shingles(spark, sf_dir),
    )


O_JACCARD_PAIRS = f"""
WITH {_SH_CTE},
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
ex AS (SELECT sh.id, sh.shingle FROM sh SEMI JOIN rare USING (shingle)),
sizes AS (SELECT id, count(*) AS sz FROM ex GROUP BY id),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.5
"""


def q_dedup_containment_pairs(spark, sf_dir):
    """Asymmetric containment ≥ 0.8 pairs (quote/subset duplicates that
    symmetric Jaccard under-scores); shares the materialized shingle
    table and the stop-shingle guard with the Jaccard gate."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.containment_pairs(
        docs, "doc_id", "text", threshold=0.8, max_shingle_df=100,
        shingles=doc_shingles(spark, sf_dir),
    )


O_CONTAINMENT_PAIRS = f"""
WITH {_SH_CTE},
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
ex AS (SELECT sh.id, sh.shingle FROM sh SEMI JOIN rare USING (shingle)),
sizes AS (SELECT id, count(*) AS sz FROM ex GROUP BY id),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       round(CAST(common AS DOUBLE) / sa.sz, 6) AS contain_a_in_b,
       round(CAST(common AS DOUBLE) / sb.sz, 6) AS contain_b_in_a
FROM common
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE greatest(CAST(common AS DOUBLE) / sa.sz,
               CAST(common AS DOUBLE) / sb.sz) >= 0.8
"""


def q_dedup_lsh_recall(spark, sf_dir):
    """Measured LSH quality — the dedup twin of sim_recall_at_k: how
    much of the exact Jaccard ≥ 0.5 truth set the banded-minhash
    candidate pairs recover (recall), and how clean the candidate set is
    (precision), in integer permille.  Composes the two existing
    operators on the SAME shared shingle table; one row."""
    docs = _t(spark, sf_dir, "documents")
    shn = doc_shingles(spark, sf_dir)
    sig = dedup.minhash_signature(docs, "doc_id", "text", shingles=shn)
    cand = dedup.lsh_candidate_pairs(sig, max_bucket_size=64).select(
        "id_a", "id_b"
    )
    truth = dedup.jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5, max_shingle_df=100,
        shingles=shn,
    ).select("id_a", "id_b")
    t = truth.agg(F.count("*").cast("long").alias("n_truth"))
    c = cand.agg(F.count("*").cast("long").alias("n_candidates"))
    h = truth.join(cand, ["id_a", "id_b"], "left_semi").agg(
        F.count("*").cast("long").alias("n_hits")
    )
    return (
        t.crossJoin(c).crossJoin(h)
        .select(
            "n_truth", "n_candidates", "n_hits",
            F.expr("(1000 * n_hits) div nullif(n_truth, 0)").alias(
                "recall_permille"
            ),
            F.expr("(1000 * n_hits) div nullif(n_candidates, 0)").alias(
                "precision_permille"
            ),
        )
    )


def _lsh_recall_oracle() -> str:
    sig = _SIG_CTE.replace("sh AS (", "sh AS MATERIALIZED (")
    return f"""
WITH {sig},
bands AS ({_band_sql()}),
small AS (
  SELECT band, bucket FROM bands GROUP BY band, bucket HAVING count(*) <= 64
),
bb AS (SELECT bands.* FROM bands SEMI JOIN small USING (band, bucket)),
cand AS MATERIALIZED (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
),
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
ex AS (SELECT sh.id, sh.shingle FROM sh SEMI JOIN rare USING (shingle)),
sizes AS (SELECT id, count(*) AS sz FROM ex GROUP BY id),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
),
truth AS MATERIALIZED (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.5
),
agg AS (
  SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
         CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
         CAST((SELECT count(*) FROM truth SEMI JOIN cand
               USING (id_a, id_b)) AS BIGINT) AS n_hits
)
SELECT n_truth, n_candidates, n_hits,
       (1000 * n_hits) // nullif(n_truth, 0) AS recall_permille,
       (1000 * n_hits) // nullif(n_candidates, 0) AS precision_permille
FROM agg
"""


O_DEDUP_LSH_RECALL = _lsh_recall_oracle()


def q_dedup_embedding_pairs(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return dedup.embedding_neardup_pairs(emb, "vec_id", "embedding", threshold=0.40)


O_EMB_PAIRS = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(CASE WHEN sqrt(list_sum(list_transform(a.vec, x -> x * x))) * sqrt(list_sum(list_transform(b.vec, x -> x * x))) = 0 THEN 0.0 ELSE list_sum(list_transform(range(1, len(a.vec) + 1), i -> a.vec[CAST(i AS INT)] * b.vec[CAST(i AS INT)])) / (sqrt(list_sum(list_transform(a.vec, x -> x * x))) * sqrt(list_sum(list_transform(b.vec, x -> x * x)))) END, 6) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE round(CASE WHEN sqrt(list_sum(list_transform(a.vec, x -> x * x))) * sqrt(list_sum(list_transform(b.vec, x -> x * x))) = 0 THEN 0.0 ELSE list_sum(list_transform(range(1, len(a.vec) + 1), i -> a.vec[CAST(i AS INT)] * b.vec[CAST(i AS INT)])) / (sqrt(list_sum(list_transform(a.vec, x -> x * x))) * sqrt(list_sum(list_transform(b.vec, x -> x * x)))) END, 6) >= 0.40
"""


def q_dedup_contamination(spark, sf_dir):
    """Decontamination scan: 20% eval split, n-gram-hash overlap vs train."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.contamination_report(
        docs, "doc_id", "text", test_fraction=0.20,
        shingles=doc_shingles(spark, sf_dir),
    )


def _contamination_oracle():
    from ..operators.sampling import _threshold

    return f"""
WITH split AS (
  SELECT doc_id AS id, text,
         CASE WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) < {_threshold(0.20)}
              THEN 'test' ELSE 'train' END AS side
  FROM documents
),
norm AS (SELECT id, side, {_NORM} AS t FROM split),
sh AS (
  SELECT id, side, unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - {SHINGLE_LEN - 1}, 0) + 1),
           i -> substr(t, CAST(i AS INT), {SHINGLE_LEN})))) AS shingle
  FROM norm
),
hashed AS (
  SELECT DISTINCT id, side,
         CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h
  FROM sh
),
train AS (SELECT DISTINCT h FROM hashed WHERE side = 'train'),
test AS (SELECT id, h FROM hashed WHERE side = 'test')
SELECT test.id AS id, count(*) AS n_grams, count(train.h) AS n_hit,
       round(CAST(count(train.h) AS DOUBLE) / count(*), 6) AS hit_ratio
FROM test LEFT JOIN train ON test.h = train.h
GROUP BY test.id HAVING count(train.h) > 0
"""


O_CONTAMINATION = _contamination_oracle()


# Target SemDeDup cluster size: k = n / _SEM_CLUSTER grows WITH the corpus,
# keeping within-cluster pair work (Σ|c|² ≈ n·_SEM_CLUSTER) linear in n.  A
# fixed k would make pair work quadratic — measured 21.7× at 10× data before
# this scaling; 2.9× after (SCALE_PROBE.md round 4).
_SEM_CLUSTER = 512


def q_dedup_semantic_pairs(spark, sf_dir):
    """SemDeDup: cluster-scoped semantic near-dup pairs — embeddings are
    k-clustered (deterministic prefix anchors here; sampled k-means at
    scale) and cosine-≥τ pairs form within clusters only, bounding the
    candidate set to Σ|cluster|² ≈ n·cluster_size instead of the exact
    pass's n².  k scales with the corpus (see _SEM_CLUSTER); the count()
    action is one column-pruned scan, the price of a data-dependent k
    (real deployments read it from table stats)."""
    emb = _t(spark, sf_dir, "embeddings")
    k = max(_N_ANCHORS, emb.count() // _SEM_CLUSTER)
    anchors = similarity.prefix_anchors(emb, "vec_id", "embedding", k)
    return dedup.semantic_dedup_pairs(
        emb, "vec_id", "embedding", anchors, threshold=0.40
    )


O_SEMANTIC_PAIRS = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
),
anchors AS (
  SELECT vec_id AS anchor_id, vec AS avec FROM v ORDER BY vec_id
  LIMIT greatest({_N_ANCHORS}, (SELECT count(*) FROM v) // {_SEM_CLUSTER})
),
assigned AS (
  SELECT id, vec, anchor_id FROM (
    SELECT v.vec_id AS id, v.vec, a.anchor_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_cos_sql('v.vec', 'a.avec', 9)} DESC, a.anchor_id
           ) AS rn
    FROM v CROSS JOIN anchors a
  ) WHERE rn = 1
)
SELECT a.anchor_id AS cluster_id, a.id AS id_a, b.id AS id_b,
       {_cos_sql('a.vec', 'b.vec', 6)} AS cosine
FROM assigned a JOIN assigned b ON a.anchor_id = b.anchor_id AND a.id < b.id
WHERE {_cos_sql('a.vec', 'b.vec', 6)} >= 0.40
"""


def q_dedup_near_clusters(spark, sf_dir):
    """Near-duplicate CLUSTERS — the corpus-dedup endgame: LSH candidate
    pairs → connected components → one canonical representative (min doc_id)
    per duplicate group.  Reuses the distributed hash-min label propagation
    from graph_algos (ids zero-padded so lexicographic min == numeric min).
    Output: (rep_id, n_members) per multi-document group."""
    from ..operators.graph_algos import connected_components

    docs = _t(spark, sf_dir, "documents")
    sig = dedup.minhash_signature(docs, "doc_id", "text")
    pairs = dedup.lsh_candidate_pairs(sig, max_bucket_size=64)
    edges = pairs.select(
        F.lpad(F.col("id_a").cast("string"), 12, "0").alias("src_key"),
        F.lpad(F.col("id_b").cast("string"), 12, "0").alias("dst_key"),
    )
    cc = connected_components(edges)
    return (
        cc.groupBy("component")
        .agg(F.count("*").alias("n_members"))
        .select(
            F.col("component").cast("long").alias("rep_id"),
            F.col("n_members"),
        )
    )


O_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_SIG_CTE},
bands AS ({_band_sql()}),
small AS (
  SELECT band, bucket FROM bands GROUP BY band, bucket HAVING count(*) <= 64
),
bb AS (SELECT bands.* FROM bands SEMI JOIN small USING (band, bucket)),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
),
und AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT DISTINCT u, u FROM und
  UNION
  SELECT reach.id, und.v FROM reach JOIN und ON reach.r = und.u
),
lbl AS (SELECT id, min(r) AS lbl FROM reach GROUP BY id)
SELECT CAST(lbl AS BIGINT) AS rep_id, count(*) AS n_members
FROM lbl GROUP BY lbl
"""


def q_dedup_repeated_spans(spark, sf_dir):
    """Cross-document repeated 8-token spans (boilerplate / memorization
    scan): spans occurring in ≥2 distinct documents with doc/occurrence
    counts."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.repeated_spans(docs, "doc_id", "text", n_tokens=8, min_docs=2)


O_REPEATED_SPANS = f"""
WITH norm AS (
  SELECT doc_id AS id, string_split({_NORM}, ' ') AS toks FROM documents
),
spans AS (
  SELECT id, unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - 7, 0) + 1),
           i -> array_to_string(toks[CAST(i AS INT) : CAST(i AS INT) + 7], ' ')))) AS span
  FROM norm
)
SELECT span, count(DISTINCT id) AS n_docs, count(*) AS n_occurrences
FROM spans GROUP BY span HAVING count(DISTINCT id) >= 2
"""


def q_dedup_incremental_lsh(spark, sf_dir):
    """Incremental-ingestion dedup: the 20% of docs with doc_id % 5 == 0
    play the arriving batch; their LSH buckets probe the standing corpus's
    stored buckets.  No all-pairs work, no corpus rescan."""
    docs = _t(spark, sf_dir, "documents")
    sh = doc_shingles(spark, sf_dir)
    existing = dedup.minhash_signature(
        docs, "doc_id", "text",
        shingles=sh.where(F.col("id") % 5 != 0),
    )
    new = dedup.minhash_signature(
        docs, "doc_id", "text",
        shingles=sh.where(F.col("id") % 5 == 0),
    )
    return dedup.incremental_lsh_matches(existing, new, max_bucket_size=64)


O_INCREMENTAL_LSH = f"""
WITH {_SH_CTE},
hx AS (SELECT * FROM hashed WHERE id % 5 != 0),
hn AS (SELECT * FROM hashed WHERE id % 5 = 0),
sige AS (SELECT id, {_MIN_EXPRS} FROM hx GROUP BY id),
sign AS (SELECT id, {_MIN_EXPRS} FROM hn GROUP BY id),
ebands AS ({_band_sql("sige")}),
small AS (
  SELECT band, bucket FROM ebands GROUP BY band, bucket HAVING count(*) <= 64
),
ebb AS (SELECT ebands.* FROM ebands SEMI JOIN small USING (band, bucket)),
nbands AS ({_band_sql("sign")})
SELECT n.id AS new_id, count(*) AS n_bucket_hits, min(e.id) AS first_match
FROM nbands n JOIN ebb e ON n.band = e.band AND n.bucket = e.bucket
GROUP BY n.id
"""


def q_dedup_canonical_corpus(spark, sf_dir):
    """Apply-dedup — the corpus AFTER near-duplicate collapse: LSH pairs →
    connected components → keep only each group's canonical member (min
    doc_id) plus every untouched document; report the surviving corpus per
    source (docs, tokens, min id).  This is the step that actually shrinks
    the training set; the cluster gate (dedup_near_clusters) only reports
    group structure.  Scale: the non-canonical member set is tiny relative
    to the corpus (duplicates only), so the final filter is a broadcast
    anti-join against a small set, not a corpus-wide shuffle."""
    from ..operators.graph_algos import connected_components

    docs = _t(spark, sf_dir, "documents")
    sig = dedup.minhash_signature(
        docs, "doc_id", "text", shingles=doc_shingles(spark, sf_dir)
    )
    pairs = dedup.lsh_candidate_pairs(sig, max_bucket_size=64)
    edges = pairs.select(
        F.lpad(F.col("id_a").cast("string"), 12, "0").alias("src_key"),
        F.lpad(F.col("id_b").cast("string"), 12, "0").alias("dst_key"),
    )
    cc = connected_components(edges)
    dropped = cc.where(F.col("key") != F.col("component")).select(
        F.col("key").cast("long").alias("doc_id")
    )
    return (
        docs.join(F.broadcast(dropped), "doc_id", "left_anti")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(text.token_count("text")).alias("n_tokens"),
            F.min("doc_id").alias("min_id"),
        )
    )


O_DEDUP_CANONICAL = f"""
WITH RECURSIVE {_SIG_CTE},
bands AS ({_band_sql()}),
small AS (
  SELECT band, bucket FROM bands GROUP BY band, bucket HAVING count(*) <= 64
),
bb AS (SELECT bands.* FROM bands SEMI JOIN small USING (band, bucket)),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
),
und AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT DISTINCT u, u FROM und
  UNION
  SELECT reach.id, und.v FROM reach JOIN und ON reach.r = und.u
),
lbl AS (SELECT id, min(r) AS lbl FROM reach GROUP BY id),
dropped AS (SELECT id FROM lbl WHERE id != lbl)
SELECT source, count(*) AS n_docs,
       CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens,
       min(doc_id) AS min_id
FROM documents ANTI JOIN dropped ON documents.doc_id = dropped.id
GROUP BY source
"""


def q_dedup_fuzzy_pairs(spark, sf_dir):
    """Blocked edit-distance near-dup pairs over documents — the
    approximate-string-join member of the dedup ladder (prefix blocking
    + length prefilter + bounded Levenshtein; see dedup.fuzzy_pairs)."""
    return dedup.fuzzy_pairs(
        _docs_spread(spark, sf_dir),
        "doc_id",
        "text",
        max_dist=8,
        prefix_len=16,
        max_block_size=64,
    ).orderBy("id_a", "id_b")


O_DEDUP_FUZZY = f"""
WITH norm AS (SELECT doc_id AS id, {_NORM} AS t FROM documents),
b AS (SELECT id, t, substr(t, 1, 16) AS blk, length(t) AS ln FROM norm),
ok AS (SELECT blk FROM b GROUP BY blk HAVING count(*) <= 64),
s AS (SELECT b.* FROM b SEMI JOIN ok USING (blk))
SELECT a.id AS id_a, c.id AS id_b,
       CAST(levenshtein(a.t, c.t) AS BIGINT) AS dist
FROM s a JOIN s c
  ON a.blk = c.blk AND a.id < c.id AND abs(a.ln - c.ln) <= 8
WHERE levenshtein(a.t, c.t) <= 8
ORDER BY id_a, id_b
"""


def q_dedup_line_corpus(spark, sf_dir):
    """Line-level boilerplate removal (C4/MassiveText discipline): drop
    every line appearing verbatim in > 1 distinct document (min 5 chars
    after trim — short separators are never dropped), reassemble each
    document in original line order, report kept/dropped counts.  The
    fixture corpus is all-unique single-line docs, so every 7th document
    is re-inserted under a shifted id (both engines): those lines then
    occur in two distinct documents and must be dropped from BOTH copies
    while every other document survives verbatim — the gate exercises
    the drop path and the keep path on the driver's own data."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.select("doc_id", "text").unionByName(
        docs.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return dedup.line_dedup(
        corpus, "doc_id", "text", max_line_df=1, min_line_chars=5
    )


O_LINE_DEDUP = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
),
base AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM corpus
),
lines AS (
  SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos, ls[CAST(i AS INT)] AS ln
  FROM base, unnest(range(1, len(ls) + 1)) AS t(i)
),
dup AS (
  SELECT ln FROM lines WHERE length(trim(ln)) >= 5
  GROUP BY ln HAVING count(DISTINCT doc_id) > 1
),
kept AS (
  SELECT lines.* FROM lines ANTI JOIN dup ON lines.ln = dup.ln
),
agg AS (
  SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS clean_text,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
),
total AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM lines GROUP BY doc_id
)
SELECT total.doc_id AS id, COALESCE(clean_text, '') AS clean_text,
       COALESCE(n_kept, 0) AS n_kept,
       total.n_lines - COALESCE(n_kept, 0) AS n_dropped
FROM total LEFT JOIN agg ON total.doc_id = agg.doc_id
"""


def q_dedup_source_overlap(spark, sf_dir):
    """Dataset-level source overlap: per-source MinHash union signatures
    (mergeable elementwise-min sketch) + exact shingle-set Jaccard per
    source pair — "how much of source A is already in source B", the
    corpus-governance scan doc-pair dedup doesn't answer.  Shares the
    memoized shingle table with the rest of the dedup ladder."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.source_overlap(
        docs, "doc_id", "text", "source", shingles=doc_shingles(spark, sf_dir)
    ).orderBy("src_a", "src_b")


O_SOURCE_OVERLAP = f"""
WITH {_SH_CTE},
srcmap AS (SELECT doc_id AS id, source FROM documents),
hs AS (SELECT DISTINCT source, h FROM hashed JOIN srcmap USING (id)),
sig AS (
  SELECT source,
         min((636127 * h + 911159) % 4294967311) AS m0,
         min((407559 * h + 183269) % 4294967311) AS m1,
         min((963343 * h + 749117) % 4294967311) AS m2,
         min((856929 * h + 525161) % 4294967311) AS m3,
         min((328913 * h + 64613) % 4294967311) AS m4,
         min((708155 * h + 277441) % 4294967311) AS m5,
         min((286111 * h + 438887) % 4294967311) AS m6,
         min((474469 * h + 990589) % 4294967311) AS m7,
         min((125629 * h + 350899) % 4294967311) AS m8,
         min((556783 * h + 668701) % 4294967311) AS m9,
         min((943801 * h + 84631) % 4294967311) AS m10,
         min((613027 * h + 817613) % 4294967311) AS m11,
         min((781351 * h + 232037) % 4294967311) AS m12,
         min((199019 * h + 573259) % 4294967311) AS m13,
         min((870359 * h + 721499) % 4294967311) AS m14,
         min((342437 * h + 135089) % 4294967311) AS m15
  FROM hs GROUP BY source
),
est AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST((CASE WHEN a.m0 = b.m0 THEN 1 ELSE 0 END) + (CASE WHEN a.m1 = b.m1 THEN 1 ELSE 0 END) + (CASE WHEN a.m2 = b.m2 THEN 1 ELSE 0 END) + (CASE WHEN a.m3 = b.m3 THEN 1 ELSE 0 END) + (CASE WHEN a.m4 = b.m4 THEN 1 ELSE 0 END) + (CASE WHEN a.m5 = b.m5 THEN 1 ELSE 0 END) + (CASE WHEN a.m6 = b.m6 THEN 1 ELSE 0 END) + (CASE WHEN a.m7 = b.m7 THEN 1 ELSE 0 END) + (CASE WHEN a.m8 = b.m8 THEN 1 ELSE 0 END) + (CASE WHEN a.m9 = b.m9 THEN 1 ELSE 0 END) + (CASE WHEN a.m10 = b.m10 THEN 1 ELSE 0 END) + (CASE WHEN a.m11 = b.m11 THEN 1 ELSE 0 END) + (CASE WHEN a.m12 = b.m12 THEN 1 ELSE 0 END) + (CASE WHEN a.m13 = b.m13 THEN 1 ELSE 0 END) + (CASE WHEN a.m14 = b.m14 THEN 1 ELSE 0 END) + (CASE WHEN a.m15 = b.m15 THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
  FROM sig a JOIN sig b ON a.source < b.source
),
sizes AS (SELECT source, count(*) AS n FROM hs GROUP BY source),
inter AS (
  SELECT sa.source AS src_a, sb.source AS src_b, count(*) AS inter
  FROM hs sa JOIN hs sb ON sa.h = sb.h AND sa.source < sb.source
  GROUP BY 1, 2
),
pairs AS (
  SELECT na.source AS src_a, nb.source AS src_b, na.n AS n_a, nb.n AS n_b
  FROM sizes na JOIN sizes nb ON na.source < nb.source
)
SELECT pairs.src_a, pairs.src_b, n_agree,
       CAST(n_agree * 1000000 // 16 AS BIGINT) AS est_jaccard_micro,
       CAST(COALESCE(inter, 0) * 1000000
            // (n_a + n_b - COALESCE(inter, 0)) AS BIGINT) AS exact_jaccard_micro
FROM pairs
LEFT JOIN inter ON pairs.src_a = inter.src_a AND pairs.src_b = inter.src_b
JOIN est ON pairs.src_a = est.src_a AND pairs.src_b = est.src_b
ORDER BY pairs.src_a, pairs.src_b
"""


def q_dedup_cdc_chunks(spark, sf_dir):
    """Content-defined chunking ledger: CDC-chunk the corpus (token-hash
    cut points, mean chunk ≈ 16 tokens) and report per source the chunk
    count, distinct chunk hashes, occurrences whose hash recurs in ≥ 2
    documents anywhere (the partially-duplicated mass fixed-width dedup
    misses after an insertion), and token totals.  Shift-resistance is
    pinned by tests/test_new_gates.py (prepending a sentence re-syncs at
    the next cut point).

    Plan note: the chunk table feeds both join branches and Catalyst
    derives it twice (no ReusedExchange across the alias boundary) — at
    sf0.1 the recompute is 0.7 s and side-effect-free; at 100 TB the
    chunk table is a materialized derived table exactly like
    shingle_table (write once, bucketed by chunk_hash), not a per-query
    recompute."""
    from ..operators.dedup import cdc_chunks

    docs = _t(spark, sf_dir, "documents")
    ch = cdc_chunks(docs, "doc_id", "text")
    hs = ch.groupBy("chunk_hash").agg(F.count_distinct("id").alias("nd"))
    per = (
        ch.join(hs, "chunk_hash")
        .join(docs.select(F.col("doc_id").alias("id"), "source"), "id")
    )
    return (
        per.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.count_distinct("chunk_hash").cast("long").alias("n_unique_hashes"),
            F.sum((F.col("nd") >= 2).cast("long")).alias("n_shared_occ"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
        )
        .orderBy("source")
    )


O_DEDUP_CDC_CHUNKS = f"""
WITH n AS (
  SELECT doc_id AS id, source, {_NORM} AS norm FROM documents
),
toks AS (
  SELECT id, source,
         list_filter(string_split(norm, ' '), x -> x <> '') AS l
  FROM n
),
tok AS (
  SELECT id, source, CAST(unnest(range(1, len(l) + 1)) AS BIGINT) AS pos, l
  FROM toks
),
tk AS (SELECT id, source, pos, l[CAST(pos AS INT)] AS t FROM tok),
cuts AS (
  SELECT id, source, pos, t,
         CASE WHEN CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 16 = 0
              THEN 1 ELSE 0 END AS cut
  FROM tk
),
ch AS (
  SELECT id, source, pos, t,
         COALESCE(sum(cut) OVER (PARTITION BY id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
  FROM cuts
),
chunks AS (
  SELECT id, any_value(source) AS source, chunk_idx,
         CAST(('0x' || substr(md5(string_agg(t, ' ' ORDER BY pos)), 1, 15))
              AS BIGINT) AS chunk_hash,
         count(*) AS n_tokens
  FROM ch GROUP BY id, chunk_idx
),
hs AS (SELECT chunk_hash, count(DISTINCT id) AS nd FROM chunks GROUP BY 1)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT c.chunk_hash) AS BIGINT) AS n_unique_hashes,
       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_occ,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(max(n_tokens) AS BIGINT) AS max_tokens
FROM chunks c JOIN hs USING (chunk_hash)
GROUP BY source ORDER BY source
"""


# --------------------------------------------------------------------------
# dedup_hamming64_pairs — 64-bit simhash + multi-index Hamming-radius join
# --------------------------------------------------------------------------


def q_dedup_hamming64_pairs(spark, sf_dir):
    """Hamming-radius-≤3 pairs over 64-BIT simhash codes via the
    Manku-Jain-Das Sarma multi-index trick (4×16-bit bands as exact join
    keys; pigeonhole makes radius ≤ 3 exact) — operators/dedup.py
    simhash64 + hamming64_pairs.  The corpus is documents ∪ two planted
    families: near-copies (' qq' appended, doc_id%25==0, +1000000) and
    exact copies (doc_id%25==13, +2000000), so the gate exercises
    hamming 0 and small-positive distances on any corpus.  Band hot
    buckets are df-capped at 20 (mirrored)."""
    from ..operators.dedup import hamming64_pairs, shingle_table, simhash64

    docs = _t(spark, sf_dir, "documents")
    # Assemble the union's shingle table from the SHARED cached corpus
    # shingle table instead of re-normalizing + re-exploding + re-hashing
    # the whole tripled corpus (guide §2.4 — don't recompute a derived
    # table the session already materialized): the base family IS
    # doc_shingles; the exact-copy family (+2000000, text unchanged) has
    # the identical shingle rows under the shifted id; only the
    # near-copies (4 % of docs, text actually modified) are re-shingled.
    # The shingle multiset per id is unchanged, so simhash64 — and the
    # declared result — are bit-identical.
    base_sh = doc_shingles(spark, sf_dir)
    near_sh = shingle_table(
        docs.where("doc_id % 25 = 0").selectExpr(
            "doc_id + 1000000 as id", "text || ' qq' as text"
        ),
        "id",
        "text",
    )
    shingles = base_sh.unionByName(
        base_sh.where("id % 25 = 13").selectExpr(
            "id + 2000000 as id", "shingle", "h"
        )
    ).unionByName(near_sh)
    sh = simhash64(docs.selectExpr("doc_id as id", "text"), "id", "text",
                   shingles=shingles)
    return hamming64_pairs(sh, radius=3, max_band_df=20).orderBy(
        "id_a", "id_b"
    )


def _hamming64_oracle() -> str:
    from ..operators.dedup import SHINGLE_LEN

    n = SHINGLE_LEN
    sums = ",\n         ".join(
        f"sum((h{half} >> {i}) & 1) AS {half}b{i}"
        for half in ("h", "l")
        for i in range(32)
    )
    fp = {
        half: " + ".join(
            f"(CASE WHEN {half}b{i} * 2 > n THEN CAST({1 << i} AS BIGINT)"
            f" ELSE 0 END)"
            for i in range(32)
        )
        for half in ("h", "l")
    }
    return f"""
WITH uni AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || ' qq' FROM documents WHERE doc_id % 25 = 0
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 25 = 13
),
norm AS (
  SELECT id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM uni
),
sh AS (
  SELECT id, unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - {n - 1}, 0) + 1),
           i -> substr(t, CAST(i AS INT), {n})))) AS shingle
  FROM norm
),
hashed AS (
  SELECT id, CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS hh,
         CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT) AS hl
  FROM sh
),
sums AS (
  SELECT id,
         {sums},
         count(*) AS n
  FROM hashed GROUP BY id
),
simh AS (SELECT id, {fp['h']} AS sh_hi, {fp['l']} AS sh_lo FROM sums),
blk AS (
  SELECT id, sh_hi, sh_lo, t.b AS blk,
         CASE t.b WHEN 0 THEN (sh_hi >> 16) & 65535
                  WHEN 1 THEN sh_hi & 65535
                  WHEN 2 THEN (sh_lo >> 16) & 65535
                  ELSE sh_lo & 65535 END AS val
  FROM simh, (SELECT unnest(range(0, 4)) AS b) t
),
cap AS (SELECT blk, val FROM blk GROUP BY blk, val HAVING count(*) <= 20),
kept AS (SELECT blk.* FROM blk JOIN cap USING (blk, val))
SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.sh_hi, b.sh_hi))
            + bit_count(xor(a.sh_lo, b.sh_lo)) AS INT) AS hamming
FROM kept a JOIN kept b ON a.blk = b.blk AND a.val = b.val AND a.id < b.id
WHERE bit_count(xor(a.sh_hi, b.sh_hi)) + bit_count(xor(a.sh_lo, b.sh_lo)) <= 3
ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------------
# dedup_span_coverage — exact-substring span dedup (Lee et al. ExactSubstr)
# --------------------------------------------------------------------------


def q_dedup_span_coverage(spark, sf_dir):
    """Per-document exact-substring duplication cover at span granularity
    (operators/dedup.py duplicated_span_coverage — the Lee et al. 2021
    ExactSubstr pass re-expressed as an L-gram interval union; the
    generalization of dedup_repeated_spans' fixed-8-token scan the
    round-9 verdict named).  The corpus is documents ∪ two planted
    families: self-concatenated docs (text ‖ ' ' ‖ text, doc_id%20==0,
    +1000000 — WITHIN-doc repeats, which ExactSubstr counts) and exact
    copies (doc_id%20==7, +2000000 — cross-doc repeats covering both the
    copy and its source), so span starts, interval merges and the
    zero-coverage path all carry driver data on any corpus."""
    from ..operators.dedup import duplicated_span_coverage

    docs = _t(spark, sf_dir, "documents")
    uni = (
        docs.selectExpr("doc_id as id", "text")
        .unionByName(
            docs.where("doc_id % 20 = 0").selectExpr(
                "doc_id + 1000000 as id", "concat(text, ' ', text) as text"
            )
        )
        .unionByName(
            docs.where("doc_id % 20 = 7").selectExpr(
                "doc_id + 2000000 as id", "text"
            )
        )
    )
    return duplicated_span_coverage(uni, "id", "text", n_tokens=8).orderBy(
        "id"
    )


O_SPAN_COVERAGE = r"""
WITH uni AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || ' ' || text FROM documents
  WHERE doc_id % 20 = 0
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 20 = 7
),
norm AS (
  SELECT id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM uni
),
lens AS (
  SELECT id, CAST(len(toks) AS BIGINT) AS n_toks, toks
  FROM (SELECT id, string_split(t, ' ') AS toks FROM norm)
),
starts AS (
  SELECT id, CAST(i AS BIGINT) AS pos,
         CAST(('0x' || substr(md5(array_to_string(
           toks[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')), 1, 15))
           AS BIGINT) AS g
  FROM lens, unnest(range(1, greatest(n_toks - 7, 0) + 1)) AS t(i)
),
dupg AS (SELECT g FROM starts GROUP BY g HAVING count(*) >= 2),
dup AS (SELECT id, pos FROM starts JOIN dupg USING (g)),
brk AS (
  SELECT id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY id ORDER BY pos) > 8
              THEN 1 ELSE 0 END AS b
  FROM dup
),
isl AS (
  SELECT id, pos,
         sum(b) OVER (PARTITION BY id ORDER BY pos
                      ROWS UNBOUNDED PRECEDING) AS island
  FROM brk
),
sp AS (
  SELECT id, island, max(pos) - min(pos) + 8 AS cov
  FROM isl GROUP BY id, island
),
agg AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(cov) AS BIGINT) AS dup_tokens,
         CAST(max(cov) AS BIGINT) AS max_span_tokens
  FROM sp GROUP BY id
)
SELECT lens.id AS id, n_toks,
       COALESCE(n_spans, 0) AS n_spans,
       COALESCE(dup_tokens, 0) AS dup_tokens,
       COALESCE(max_span_tokens, 0) AS max_span_tokens,
       COALESCE(dup_tokens, 0) * 1000 // greatest(n_toks, 1) AS dup_permille
FROM lens LEFT JOIN agg USING (id) ORDER BY id
"""


# --------------------------------------------------------------------------
# dedup_contam_spans — span-level benchmark decontamination (13-gram rule)
# --------------------------------------------------------------------------


def q_dedup_contam_spans(spark, sf_dir):
    """Span-level eval-set decontamination (operators/dedup.py
    contamination_spans — the GPT-3 appendix-C 13-gram overlap rule at
    span granularity): the 'benchmark' is the 120-char prefix of every
    50th document, so its sources show partial prefix contamination and
    all other docs exercise the clean-zero path.  Complements the
    doc-level dedup_contamination gate: this one measures HOW MUCH of
    each document is benchmark text."""
    from ..operators.dedup import contamination_spans

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.selectExpr("doc_id as id", "text")
    bench = docs.where("doc_id % 50 = 3").selectExpr(
        "doc_id as id", "substring(text, 1, 120) as btext"
    )
    return contamination_spans(
        corpus, bench, "id", "text", "btext", n_tokens=13
    ).orderBy("id")


O_CONTAM_SPANS = r"""
WITH corpus AS (SELECT doc_id AS id, text FROM documents),
bench AS (
  SELECT doc_id AS id, substr(text, 1, 120) AS btext FROM documents
  WHERE doc_id % 50 = 3
),
cnorm AS (
  SELECT id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM corpus
),
clens AS (
  SELECT id, CAST(len(toks) AS BIGINT) AS n_toks, toks
  FROM (SELECT id, string_split(t, ' ') AS toks FROM cnorm)
),
cstarts AS (
  SELECT id, CAST(i AS BIGINT) AS pos,
         CAST(('0x' || substr(md5(array_to_string(
           toks[CAST(i AS INT):CAST(i + 12 AS INT)], ' ')), 1, 15))
           AS BIGINT) AS g
  FROM clens, unnest(range(1, greatest(n_toks - 12, 0) + 1)) AS t(i)
),
bnorm AS (
  SELECT id, trim(regexp_replace(lower(btext), '\s+', ' ', 'g')) AS t
  FROM bench
),
blens AS (
  SELECT id, CAST(len(toks) AS BIGINT) AS n_toks, toks
  FROM (SELECT id, string_split(t, ' ') AS toks FROM bnorm)
),
bg AS (
  SELECT DISTINCT
         CAST(('0x' || substr(md5(array_to_string(
           toks[CAST(i AS INT):CAST(i + 12 AS INT)], ' ')), 1, 15))
           AS BIGINT) AS g
  FROM blens, unnest(range(1, greatest(n_toks - 12, 0) + 1)) AS t(i)
),
hit AS (SELECT id, pos FROM cstarts SEMI JOIN bg USING (g)),
brk AS (
  SELECT id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY id ORDER BY pos) > 13
              THEN 1 ELSE 0 END AS b
  FROM hit
),
isl AS (
  SELECT id, pos,
         sum(b) OVER (PARTITION BY id ORDER BY pos
                      ROWS UNBOUNDED PRECEDING) AS island
  FROM brk
),
sp AS (
  SELECT id, island, max(pos) - min(pos) + 13 AS cov
  FROM isl GROUP BY id, island
),
agg AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(cov) AS BIGINT) AS contam_tokens,
         CAST(max(cov) AS BIGINT) AS max_span_tokens
  FROM sp GROUP BY id
)
SELECT clens.id AS id, n_toks,
       COALESCE(n_spans, 0) AS n_spans,
       COALESCE(contam_tokens, 0) AS contam_tokens,
       COALESCE(max_span_tokens, 0) AS max_span_tokens,
       COALESCE(contam_tokens, 0) * 1000 // greatest(n_toks, 1)
         AS contam_permille
FROM clens LEFT JOIN agg USING (id) ORDER BY id
"""


# --------------------------------------------------------------------------
# dedup_winnow_pairs — MOSS pair mining over winnowing fingerprints
# --------------------------------------------------------------------------


def q_dedup_winnow_pairs(spark, sf_dir):
    """Near-dup candidate pairs sharing ≥ 2 winnowing fingerprints after
    the MOSS document-frequency cap (df ≤ 10 — boilerplate fingerprints
    are dropped before the band join, so fan-out per fingerprint is
    bounded; operators/dedup.py winnow_pairs).  The positional
    complement to dedup_minhash_lsh_pairs' whole-document banding."""
    from ..operators.dedup import winnow_pairs

    docs = _t(spark, sf_dir, "documents")
    return winnow_pairs(docs, "doc_id", "text", k=8, w=4, max_df=10, min_shared=2)


O_DEDUP_WINNOW_PAIRS = f"""
WITH s AS (
  SELECT doc_id, regexp_replace(lower(text), '\\s+', '', 'g') AS z
  FROM documents
),
b AS (
  -- n_grams < 2^31 mirrors winnow_fingerprints' packed-key domain guard
  SELECT doc_id, z, CAST(length(z) - 7 AS BIGINT) AS n_grams
  FROM s WHERE length(z) >= 8 AND length(z) - 7 < {_WB}
),
g AS (
  SELECT doc_id, n_grams,
         CAST(unnest(range(1, n_grams + 1)) AS BIGINT) AS pos, z
  FROM b
),
h AS (
  SELECT doc_id, n_grams, pos,
         CAST(('0x' || substr(md5(substr(z, CAST(pos AS INT), 8)), 1, 8))
              AS BIGINT) AS hh
  FROM g
),
k AS (
  SELECT doc_id, n_grams, pos, hh * {_WB} + ({_WB - 1} - pos) AS key FROM h
),
w AS (
  SELECT doc_id, n_grams, pos,
         min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wkey
  FROM k
),
fps AS (
  SELECT DISTINCT doc_id AS id, wkey // {_WB} AS fp
  FROM w WHERE pos <= greatest(n_grams - 3, 1)
),
dfc AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 10),
kept AS (SELECT fps.id, fps.fp FROM fps JOIN dfc USING (fp)),
pairs AS (
  SELECT a.id AS id_a, b2.id AS id_b, count(*) AS n_shared
  FROM kept a JOIN kept b2 ON a.fp = b2.fp AND a.id < b2.id
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared
FROM pairs ORDER BY id_a, id_b
"""


GATES: dict[str, tuple] = {
    "dedup_line_corpus": (q_dedup_line_corpus, O_LINE_DEDUP),
    "dedup_source_overlap": (q_dedup_source_overlap, O_SOURCE_OVERLAP),
    "dedup_fuzzy_pairs": (q_dedup_fuzzy_pairs, O_DEDUP_FUZZY),
    "dedup_canonical_corpus": (q_dedup_canonical_corpus, O_DEDUP_CANONICAL),
    "dedup_repeated_spans": (q_dedup_repeated_spans, O_REPEATED_SPANS),
    "dedup_incremental_lsh": (q_dedup_incremental_lsh, O_INCREMENTAL_LSH),
    "dedup_exact": (q_dedup_exact, O_DEDUP_EXACT),
    "dedup_minhash_sig": (q_dedup_minhash_sig, O_MINHASH_SIG),
    "dedup_minhash_lsh_pairs": (q_dedup_minhash_lsh_pairs, O_MINHASH_PAIRS),
    "dedup_lsh_recall": (q_dedup_lsh_recall, O_DEDUP_LSH_RECALL),
    "dedup_near_clusters": (q_dedup_near_clusters, O_DEDUP_CLUSTERS),
    "dedup_simhash": (q_dedup_simhash, O_SIMHASH),
    "dedup_simhash_pairs": (q_dedup_simhash_pairs, O_SIMHASH_PAIRS),
    "dedup_jaccard_pairs": (q_dedup_jaccard_pairs, O_JACCARD_PAIRS),
    "dedup_containment_pairs": (q_dedup_containment_pairs, O_CONTAINMENT_PAIRS),
    "dedup_embedding_pairs": (q_dedup_embedding_pairs, O_EMB_PAIRS),
    "dedup_semantic_pairs": (q_dedup_semantic_pairs, O_SEMANTIC_PAIRS),
    "dedup_contamination": (q_dedup_contamination, O_CONTAMINATION),
    "dedup_cdc_chunks": (q_dedup_cdc_chunks, O_DEDUP_CDC_CHUNKS),
    "dedup_hamming64_pairs": (q_dedup_hamming64_pairs, _hamming64_oracle()),
    "dedup_span_coverage": (q_dedup_span_coverage, O_SPAN_COVERAGE),
    "dedup_contam_spans": (q_dedup_contam_spans, O_CONTAM_SPANS),
    "dedup_winnow_pairs": (q_dedup_winnow_pairs, O_DEDUP_WINNOW_PAIRS),
}
