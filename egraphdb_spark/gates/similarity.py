"""Similarity gates: vector top-k and ANN, embedding transforms,
multimodal hashing and retrieval (RAG) ranking.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..graph import _t
from ..operators import multimodal, ranking, similarity
from ..operators.dedup import SIMHASH_BITS
from .text import _BM25_TERMS


_SIMHASH_SUMS = ",\n         ".join(
    f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
    for i in range(SIMHASH_BITS)
)


_SIMHASH_FP = " + ".join(
    f"(CASE WHEN s{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
    for i in range(SIMHASH_BITS)
)


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

# Fixed deterministic query vector, inlined as literals on both sides.
QUERY_VEC = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]


_QV_SQL = "[" + ", ".join(f"CAST({x} AS DOUBLE)" for x in QUERY_VEC) + "]"


def q_sim_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, "vec_id", "embedding", QUERY_VEC, k=10)


O_COSINE_TOPK = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), q AS (SELECT {_QV_SQL} AS qv)
SELECT vec_id AS id,
       round(CASE WHEN sqrt(list_sum(list_transform(vec, x -> x * x))) * sqrt(list_sum(list_transform(qv, x -> x * x))) = 0 THEN 0.0 ELSE list_sum(list_transform(range(1, len(vec) + 1), i -> vec[CAST(i AS INT)] * qv[CAST(i AS INT)])) / (sqrt(list_sum(list_transform(vec, x -> x * x))) * sqrt(list_sum(list_transform(qv, x -> x * x)))) END, 6) AS cosine
FROM v, q
ORDER BY cosine DESC, id LIMIT 10
"""


_N_ANCHORS = 8


# DuckDB fragment: 9dp-rounded cosine between list columns {a} and {b} —
# the assignment-side convention shared with ivf_assign/O_IVF_TOPK.
def _cos_sql(a: str, b: str, dp: int) -> str:
    # zero-norm guard mirrors similarity.cosine: a zero vector has cosine
    # 0.0 by convention on BOTH engines (unguarded, Spark's ANSI division
    # throws DIVIDE_BY_ZERO while DuckDB yields NaN — which it then sorts
    # ABOVE every real similarity)
    na = f"sqrt(list_sum(list_transform({a}, x -> x * x)))"
    nb = f"sqrt(list_sum(list_transform({b}, x -> x * x)))"
    dot = (
        f"list_sum(list_transform(range(1, len({a}) + 1),"
        f" i -> {a}[CAST(i AS INT)] * {b}[CAST(i AS INT)]))"
    )
    return f"round(CASE WHEN {na} * {nb} = 0 THEN 0.0 ELSE {dot} / ({na} * {nb}) END, {dp})"


def q_sim_ivf_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    anchors = similarity.prefix_anchors(emb, "vec_id", "embedding", _N_ANCHORS)
    return similarity.ivf_topk(
        emb, "vec_id", "embedding", anchors, QUERY_VEC, k=5, n_probe=1
    )


O_IVF_TOPK = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
),
anchors AS (
  SELECT vec_id AS anchor_id, vec AS avec FROM v ORDER BY vec_id LIMIT {_N_ANCHORS}
),
q AS (SELECT {_QV_SQL} AS qv),
probe AS (
  SELECT anchor_id FROM anchors, q
  ORDER BY round(CASE WHEN sqrt(list_sum(list_transform(avec, x -> x * x))) * sqrt(list_sum(list_transform(qv, x -> x * x))) = 0 THEN 0.0 ELSE list_sum(list_transform(range(1, len(avec) + 1), i -> avec[CAST(i AS INT)] * qv[CAST(i AS INT)])) / (sqrt(list_sum(list_transform(avec, x -> x * x))) * sqrt(list_sum(list_transform(qv, x -> x * x)))) END, 9) DESC, anchor_id
  LIMIT 1
),
assigned AS (
  SELECT id, vec, anchor_id FROM (
    SELECT v.vec_id AS id, v.vec, a.anchor_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY round(CASE WHEN sqrt(list_sum(list_transform(v.vec, x -> x * x))) * sqrt(list_sum(list_transform(a.avec, x -> x * x))) = 0 THEN 0.0 ELSE list_sum(list_transform(range(1, len(v.vec) + 1), i -> v.vec[CAST(i AS INT)] * a.avec[CAST(i AS INT)])) / (sqrt(list_sum(list_transform(v.vec, x -> x * x))) * sqrt(list_sum(list_transform(a.avec, x -> x * x)))) END, 9) DESC,
               a.anchor_id
           ) AS rn
    FROM v CROSS JOIN anchors a
  ) WHERE rn = 1
)
SELECT id,
       round(CASE WHEN sqrt(list_sum(list_transform(vec, x -> x * x))) * sqrt(list_sum(list_transform(qv, x -> x * x))) = 0 THEN 0.0 ELSE list_sum(list_transform(range(1, len(vec) + 1), i -> vec[CAST(i AS INT)] * qv[CAST(i AS INT)])) / (sqrt(list_sum(list_transform(vec, x -> x * x))) * sqrt(list_sum(list_transform(qv, x -> x * x)))) END, 6) AS cosine
FROM assigned SEMI JOIN probe USING (anchor_id), q
ORDER BY cosine DESC, id LIMIT 5
"""


def q_sim_recall_at_k(spark, sf_dir):
    """Recall@k of the 1-probe IVF index against exact cosine top-k for
    the standing query vector — the ANN quality check ("measure, don't
    guess") as a first-class, driver-checkable operator instead of an
    offline report (ANN_RECALL.md holds the measured curve; this gate
    pins one point of it).  Composes the existing exact and IVF
    operators; cost = one exact scan + one probe, |result| = 1 row."""
    emb = _t(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk(emb, "vec_id", "embedding", QUERY_VEC, k=10)
    anchors = similarity.prefix_anchors(emb, "vec_id", "embedding", _N_ANCHORS)
    approx = similarity.ivf_topk(
        emb, "vec_id", "embedding", anchors, QUERY_VEC, k=10, n_probe=1
    )
    return (
        exact.select("id")
        .join(approx.select("id"), "id")
        .agg(F.count("*").cast("long").alias("n_hits"))
        .select(
            F.lit(10).cast("long").alias("k"),
            "n_hits",
            F.expr("n_hits * 1000 div 10").alias("recall_permille"),
        )
    )


O_SIM_RECALL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
),
q AS (SELECT {_QV_SQL} AS qv),
exact AS (
  SELECT vec_id AS id FROM v, q
  ORDER BY {_cos_sql('vec', 'qv', 6)} DESC, vec_id LIMIT 10
),
anchors AS (
  SELECT vec_id AS anchor_id, vec AS avec FROM v ORDER BY vec_id LIMIT {_N_ANCHORS}
),
probe AS (
  SELECT anchor_id FROM anchors, q
  ORDER BY {_cos_sql('avec', 'qv', 9)} DESC, anchor_id LIMIT 1
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
),
approx AS (
  SELECT id FROM assigned SEMI JOIN probe USING (anchor_id), q
  ORDER BY {_cos_sql('vec', 'qv', 6)} DESC, id LIMIT 10
),
hits AS (SELECT count(*) AS n_hits FROM exact SEMI JOIN approx USING (id))
SELECT CAST(10 AS BIGINT) AS k, CAST(n_hits AS BIGINT) AS n_hits,
       n_hits * 1000 // 10 AS recall_permille
FROM hits
"""


def q_emb_truncate_recall(spark, sf_dir):
    """Matryoshka truncation curve: recall@10 of cosine top-k computed on
    the first 8/16/32/64 vector components vs the full 64-dim exact
    ranking — the serve-narrower-vectors trade-off measured as a gate.
    The 64-row is recall 1000 by construction (self-validating)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.truncated_recall(
        emb, "vec_id", "embedding", QUERY_VEC, dims=(8, 16, 32, 64), k=10
    )


def _truncate_recall_oracle() -> str:
    rows = []
    for d in (8, 16, 32, 64):
        cos = _cos_sql(f"vec[1:{d}]", f"qv[1:{d}]", 6)
        rows.append(
            f"""SELECT CAST({d} AS BIGINT) AS dim,
       CAST((SELECT count(*) FROM exact SEMI JOIN (
          SELECT vec_id AS id FROM v, q
          ORDER BY {cos} DESC, vec_id LIMIT 10) t USING (id)) AS BIGINT)
         AS n_hits"""
        )
    body = "\nUNION ALL ".join(rows)
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
),
q AS (SELECT {_QV_SQL} AS qv),
exact AS (
  SELECT vec_id AS id FROM v, q
  ORDER BY {_cos_sql('vec', 'qv', 6)} DESC, vec_id LIMIT 10
),
r AS ({body})
SELECT dim, n_hits, n_hits * 1000 // 10 AS recall_permille
FROM r ORDER BY dim
"""


O_EMB_TRUNCATE_RECALL = _truncate_recall_oracle()


def q_sim_mips_topk(spark, sf_dir):
    """MIPS ANN: top-10 by RAW inner product through the norm-augmentation
    reduction + the standard IVF probe (1 of 8 buckets) — cosine ANN would
    erase the norm signal un-normalized item embeddings carry."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.mips_topk(
        emb, "vec_id", "embedding", QUERY_VEC, n_anchors=_N_ANCHORS,
        k=10, n_probe=1,
    )


def _mips_oracle() -> str:
    dot_q = (
        "round(list_sum(list_transform(range(1, len(vec) + 1),"
        " i -> vec[CAST(i AS INT)] * qv[CAST(i AS INT)])), 6)"
    )
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
),
m AS (SELECT max(list_sum(list_transform(vec, x -> x * x))) AS m2 FROM v),
a AS MATERIALIZED (
  SELECT vec_id, vec,
         vec || [sqrt(greatest(0.0, m2 - list_sum(list_transform(vec, x -> x * x))))]
           AS avec
  FROM v, m
),
q AS (SELECT {_QV_SQL} AS qv, {_QV_SQL} || [CAST(0 AS DOUBLE)] AS aqv),
anchors AS (
  SELECT vec_id AS anchor_id, avec FROM a ORDER BY vec_id LIMIT {_N_ANCHORS}
),
probe AS (
  SELECT anchor_id FROM anchors, q
  ORDER BY {_cos_sql('avec', 'aqv', 9)} DESC, anchor_id LIMIT 1
),
assigned AS (
  SELECT vec_id, anchor_id FROM (
    SELECT a.vec_id, an.anchor_id,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY {_cos_sql('a.avec', 'an.avec', 9)} DESC, an.anchor_id
           ) AS rn
    FROM a CROSS JOIN anchors an
  ) WHERE rn = 1
)
SELECT vec_id AS id, {dot_q} AS dot
FROM assigned SEMI JOIN probe USING (anchor_id)
JOIN v USING (vec_id), q
ORDER BY dot DESC, id LIMIT 10
"""


O_SIM_MIPS = _mips_oracle()


def q_emb_drift(spark, sf_dir):
    """Snapshot drift monitor: the corpus split by vec_id parity stands
    in for two embedding generations; centroid cosine + L2 in exact
    integer/fixed-fold arithmetic."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_drift(
        emb.where(F.col("vec_id") % 2 == 0),
        emb.where(F.col("vec_id") % 2 == 1),
        "embedding",
    )


def _emb_drift_oracle() -> str:
    q = 1 << 20
    return f"""
WITH ex AS MATERIALIZED (
  SELECT vec_id % 2 AS half, t.i AS dim,
         CAST(floor(CAST(embedding[t.i] AS DOUBLE) * {q}) AS BIGINT) AS qx
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
),
s AS (
  SELECT dim,
         CAST(sum(CASE WHEN half = 0 THEN qx END) AS BIGINT) AS s_a,
         CAST(sum(CASE WHEN half = 1 THEN qx END) AS BIGINT) AS s_b
  FROM ex GROUP BY dim
),
arrs AS (
  SELECT list_transform(list_sort(list(struct_pack(dim := dim, s_a := s_a))), x -> CAST(x.s_a AS DOUBLE)) AS va,
         list_transform(list_sort(list(struct_pack(dim := dim, s_b := s_b))), x -> CAST(x.s_b AS DOUBLE)) AS vb
  FROM s
),
n AS (
  SELECT CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM embeddings
)
SELECT n_ref, n_cur,
       {_cos_sql('va', 'vb', 6)} AS centroid_cos,
       CAST(floor(sqrt(list_sum(list_transform(range(1, len(va) + 1),
              i -> (va[CAST(i AS INT)] / ({q}.0 * n_ref)
                    - vb[CAST(i AS INT)] / ({q}.0 * n_cur))
                   * (va[CAST(i AS INT)] / ({q}.0 * n_ref)
                      - vb[CAST(i AS INT)] / ({q}.0 * n_cur)))))
            * 1000000.0) AS BIGINT) AS centroid_l2_micro
FROM arrs, n
"""


O_EMB_DRIFT = _emb_drift_oracle()


# kNN-graph target cluster size — smaller than SemDeDup's: the graph only
# needs k≈3 neighbors per point, so tight clusters (candidate work
# n·n_probe·128) buy a ~2× cut over the dedup setting at the same recall
# regime; both engines compute the same data-dependent anchor count.
_KNN_CLUSTER = 128


def q_sim_knn_graph(spark, sf_dir):
    """Whole-corpus ANN kNN graph (k=3, 2-probe IVF blocking, √m coarse
    quantizer): candidate work is n·n_probe·cluster_size and assignment is
    O(n·√m) — linear end-to-end, never the exact n² join."""
    import math

    emb = _t(spark, sf_dir, "embeddings")
    n_anchors = max(_N_ANCHORS, emb.count() // _KNN_CLUSTER)
    anchors = similarity.prefix_anchors(emb, "vec_id", "embedding", n_anchors)
    return similarity.knn_graph(
        emb, "vec_id", "embedding", anchors, k=3, n_probe=2,
        n_super=max(2, math.isqrt(n_anchors)),
    )


# anchor count m and coarse-cell count s=⌊√m⌋, replicated data-dependently
# (floor(sqrt) of an exact small integer double equals Python isqrt)
_KNN_M = f"greatest({_N_ANCHORS}, (SELECT count(*) FROM v) // {_KNN_CLUSTER})"


_KNN_S = f"greatest(2, CAST(floor(sqrt({_KNN_M})) AS BIGINT))"


O_KNN_GRAPH = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
),
anchors AS (
  SELECT vec_id AS anchor_id, vec AS avec FROM v ORDER BY vec_id
  LIMIT {_KNN_M}
),
supers AS (
  SELECT anchor_id AS super_id, avec AS svec FROM anchors ORDER BY anchor_id
  LIMIT {_KNN_S}
),
a2s AS (
  SELECT anchor_id, avec, super_id FROM (
    SELECT a.anchor_id, a.avec, s.super_id,
           row_number() OVER (
             PARTITION BY a.anchor_id
             ORDER BY {_cos_sql('a.avec', 's.svec', 9)} DESC, s.super_id
           ) AS rn_s
    FROM anchors a CROSS JOIN supers s
  ) WHERE rn_s = 1
),
v2s AS (
  SELECT id, vec, super_id FROM (
    SELECT v.vec_id AS id, v.vec, s.super_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_cos_sql('v.vec', 's.svec', 9)} DESC, s.super_id
           ) AS rn_s
    FROM v CROSS JOIN supers s
  ) WHERE rn_s <= 2
),
scored AS (
  SELECT p.id, p.vec, a.anchor_id,
         row_number() OVER (
           PARTITION BY p.id
           ORDER BY {_cos_sql('p.vec', 'a.avec', 9)} DESC, a.anchor_id
         ) AS rn
  FROM v2s p JOIN a2s a USING (super_id)
),
probes AS (SELECT id, vec, anchor_id FROM scored WHERE rn <= 2),
assigned AS (SELECT id AS nbr, vec AS nvec, anchor_id FROM scored WHERE rn = 1),
cand AS (
  SELECT p.id, t.nbr, {_cos_sql('p.vec', 't.nvec', 6)} AS cosine
  FROM probes p JOIN assigned t USING (anchor_id)
  WHERE p.id <> t.nbr
)
SELECT id, nbr, cosine, rank FROM (
  SELECT id, nbr, cosine,
         CAST(row_number() OVER (PARTITION BY id ORDER BY cosine DESC, nbr)
              AS BIGINT) AS rank
  FROM cand
) WHERE rank <= 3
ORDER BY id, rank
"""


_KM_ANCHORS = 4


_KM_ITERS = 2


_KM_DIM = 64


def q_sim_kmeans_topk(spark, sf_dir):
    """IVF probe over Lloyd-refined anchors (deferred item: real k-means
    centroids instead of the prefix stand-in; engine-exact arithmetic)."""
    emb = _t(spark, sf_dir, "embeddings")
    anchors = similarity.kmeans_anchors(
        emb, "vec_id", "embedding", _KM_ANCHORS, iters=_KM_ITERS
    )
    return similarity.ivf_topk(
        emb, "vec_id", "embedding", anchors, QUERY_VEC, k=5, n_probe=1
    )


def _sql_cos(a: str, b: str, dp: int) -> str:
    """Rounded cosine between two list<double> expressions (sequential fold,
    zero-norm guarded; mirrors similarity.cosine)."""
    return _cos_sql(a, b, dp)


def _kmeans_oracle() -> str:
    """Unrolled-iteration k-means oracle (same trick as the PageRank gate):
    one assign/sums/cent/anchors CTE block per Lloyd iteration, then the
    standard IVF probe tail against the final anchor set."""
    q = float(1 << 20)  # similarity._CENTROID_Q
    parts = [
        f"""WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), q AS (SELECT {_QV_SQL} AS qv),
anchors0 AS (
  SELECT vec_id AS anchor_id, vec AS avec FROM v ORDER BY vec_id LIMIT {_KM_ANCHORS}
)"""
    ]
    for it in range(_KM_ITERS):
        parts.append(f""",
assign{it} AS (
  SELECT id, vec, anchor_id FROM (
    SELECT v.vec_id AS id, v.vec, a.anchor_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_sql_cos("v.vec", "a.avec", 9)} DESC, a.anchor_id
           ) AS rn
    FROM v CROSS JOIN anchors{it} a
  ) WHERE rn = 1
),
sums{it} AS (
  SELECT anchor_id, i AS pos,
         SUM(CAST(floor(vec[CAST(i AS INT)] * {q}) AS BIGINT)) AS s,
         COUNT(*) AS c
  FROM assign{it}, generate_series(1, {_KM_DIM}) AS t(i)
  GROUP BY anchor_id, i
),
cent{it} AS (
  SELECT anchor_id, list(round(s / (c * {q}), 9) ORDER BY pos) AS cvec
  FROM sums{it} GROUP BY anchor_id
),
anchors{it + 1} AS (
  SELECT a.anchor_id, coalesce(c.cvec, a.avec) AS avec
  FROM anchors{it} a LEFT JOIN cent{it} c USING (anchor_id)
)""")
    fin = f"anchors{_KM_ITERS}"
    parts.append(f""",
probe AS (
  SELECT anchor_id FROM {fin}, q
  ORDER BY {_sql_cos("avec", "qv", 9)} DESC, anchor_id LIMIT 1
),
final_assign AS (
  SELECT id, vec, anchor_id FROM (
    SELECT v.vec_id AS id, v.vec, a.anchor_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_sql_cos("v.vec", "a.avec", 9)} DESC, a.anchor_id
           ) AS rn
    FROM v CROSS JOIN {fin} a
  ) WHERE rn = 1
)
SELECT id, {_sql_cos("vec", "qv", 6)} AS cosine
FROM final_assign SEMI JOIN probe USING (anchor_id), q
ORDER BY cosine DESC, id LIMIT 5""")
    return "".join(parts)


O_KMEANS_TOPK = _kmeans_oracle()


# --------------------------------------------------------------------------
# Multimodal
# --------------------------------------------------------------------------


def q_mm_meta(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    m = multimodal.synth_media(docs)
    return m.select(
        "id",
        F.col("meta.format").alias("format"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


O_MM_META = """
SELECT doc_id AS id,
       ['png', 'jpeg', 'webp'][CAST(doc_id % 3 + 1 AS INT)] AS format,
       CAST(doc_id % 640 + 64 AS INT) AS width,
       CAST(doc_id % 480 + 48 AS INT) AS height,
       octet_length(encode(text)) AS n_bytes
FROM documents
"""


def q_mm_features(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    m = multimodal.synth_media(docs)
    return multimodal.extract_features(m)


def q_mm_resize_features(spark, sf_dir):
    """Two chained mapInPandas stages: resize (every-4th-byte downsample,
    width/height scaled) then byte-feature extraction — the decode→resize→
    featurize composition of a real multimodal pipeline.  The oracle
    recomputes the sampled byte stream arithmetically (ASCII corpus)."""
    docs = _t(spark, sf_dir, "documents")
    m = multimodal.resize_media(multimodal.synth_media(docs), scale=4)
    return multimodal.extract_features(m)


O_MM_RESIZE_FEATURES = """
WITH b AS (
  SELECT doc_id AS id, text AS t, octet_length(encode(text)) AS n,
         (octet_length(encode(text)) + 3) // 4 AS n2
  FROM documents
)
SELECT id, CAST(n2 AS BIGINT) AS n_bytes,
       CASE WHEN n2 = 0 THEN -1 ELSE ascii(substr(t, 1, 1)) END AS first_byte,
       CASE WHEN n2 = 0 THEN -1
            ELSE ascii(substr(t, CAST(1 + 4 * (n2 - 1) AS INT), 1)) END AS last_byte,
       CASE WHEN n2 = 0 THEN 0.0
            ELSE round(CAST(list_sum(list_transform(range(0, CAST(n2 AS INT)),
                     i -> ascii(substr(t, CAST(1 + 4 * i AS INT), 1)))) AS DOUBLE)
                 / n2, 6)
       END AS mean_byte
FROM b
"""


# Valid because the corpus text is ASCII (byte == codepoint); the Spark side
# computes true byte features through the real mapInPandas path.
def q_mm_payload_dedup(spark, sf_dir):
    """Exact media dedup by payload hash — identical binaries collapse to
    one canonical object (the image/audio twin of text exact-dedup).
    The corpus has no byte-identical documents, so the media table unions
    a re-keyed copy of every 10th object (deterministic planted
    duplicates — the re-upload scenario)."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.synth_media(docs)
    reupload = multimodal.synth_media(
        docs.where(F.col("doc_id") % 10 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1000000
        )
    )
    return multimodal.payload_dedup(media.unionByName(reupload))


def q_mm_frame_sample(spark, sf_dir):
    """Video-style frame sampling plumbing: every 10th 16-byte window of
    each payload, one row per sampled frame with its digest — the schema
    and explode shape of a real frame sampler (codecs stubbed)."""
    docs = _t(spark, sf_dir, "documents")
    frames = multimodal.sample_frames(multimodal.synth_media(docs), every_n=10)
    return frames.select(
        "id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("frame_len").cast("long").alias("frame_len"),
        F.md5("frame_bytes").alias("frame_md5"),
    )


# ASCII corpus ⇒ byte windows == character windows; DuckDB md5(VARCHAR)
# hashes the same bytes Spark's md5(BINARY) sees.
O_MM_FRAME_SAMPLE = """
WITH t AS (SELECT doc_id AS id, text, octet_length(encode(text)) AS n FROM documents)
SELECT id, CAST(i AS BIGINT) AS frame_idx,
       CAST(len(substr(text, CAST(i * 160 + 1 AS INT), 16)) AS BIGINT) AS frame_len,
       md5(substr(text, CAST(i * 160 + 1 AS INT), 16)) AS frame_md5
FROM t, unnest(range(0, greatest(n // 160 - 1, 0) + 1)) AS u(i)
"""


# DuckDB's md5 takes VARCHAR and hashes its UTF-8 bytes — identical to
# Spark's md5 over the encode(text,'UTF-8') payload column.
O_MM_PAYLOAD_DEDUP = """
WITH media AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
)
SELECT md5(text) AS payload_md5, min(id) AS canonical_id,
       count(*) AS n_copies
FROM media GROUP BY 1 HAVING count(*) >= 2
"""


O_MM_FEATURES = """
WITH b AS (SELECT doc_id AS id, text AS t, octet_length(encode(text)) AS n FROM documents)
SELECT id, n AS n_bytes,
       CASE WHEN n = 0 THEN -1 ELSE ascii(substr(t, 1, 1)) END AS first_byte,
       CASE WHEN n = 0 THEN -1 ELSE ascii(substr(t, len(t), 1)) END AS last_byte,
       CASE WHEN n = 0 THEN 0.0
            ELSE round(CAST(list_sum(list_transform(range(1, len(t) + 1),
                     i -> ascii(substr(t, CAST(i AS INT), 1)))) AS DOUBLE) / n, 6)
       END AS mean_byte
FROM b
"""


def q_sim_lsh_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(emb, "vec_id", "embedding", QUERY_VEC, k=5, n_planes=8)


def _lsh_oracle() -> str:
    from ..operators.similarity import _lcg_planes

    planes = _lcg_planes(8, len(QUERY_VEC))
    qsig = 0
    for j, plane in enumerate(planes):
        if sum(a * b for a, b in zip(QUERY_VEC, plane)) >= 0:
            qsig |= 1 << j
    bits = []
    for j, plane in enumerate(planes):
        lits = "[" + ", ".join(f"CAST({x} AS DOUBLE)" for x in plane) + "]"
        bits.append(
            f"(CASE WHEN list_sum(list_transform(range(1, {len(plane) + 1}),"
            f" i -> vec[CAST(i AS INT)] * ({lits})[CAST(i AS INT)])) >= 0"
            f" THEN {1 << j} ELSE 0 END)"
        )
    sig = " + ".join(bits)
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), q AS (SELECT {_QV_SQL} AS qv),
bucket AS (SELECT vec_id, vec FROM v WHERE ({sig}) = {qsig})
SELECT vec_id AS id,
       round(CASE WHEN sqrt(list_sum(list_transform(vec, x -> x * x))) * sqrt(list_sum(list_transform(qv, x -> x * x))) = 0 THEN 0.0 ELSE list_sum(list_transform(range(1, len(vec) + 1), i -> vec[CAST(i AS INT)] * qv[CAST(i AS INT)])) / (sqrt(list_sum(list_transform(vec, x -> x * x))) * sqrt(list_sum(list_transform(qv, x -> x * x)))) END, 6) AS cosine
FROM bucket, q
ORDER BY cosine DESC, id LIMIT 5
"""


O_LSH_TOPK = _lsh_oracle()


def q_emb_quantize_int8(spark, sf_dir):
    """int8 embedding quantization evidence (see similarity.quantize_int8):
    integer-only digest of the per-vector codes + floored scale params."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.quantize_int8(emb)


O_EMB_QUANTIZE = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), m AS (
  SELECT vec_id, vec, list_min(vec) AS mn,
         list_max(vec) - list_min(vec) AS span
  FROM v
), c AS (
  SELECT vec_id, mn, span,
         CASE WHEN span = 0 THEN list_transform(vec, x -> CAST(0 AS BIGINT))
              ELSE list_transform(vec, x -> CAST(round((x - mn) * 254 / span) AS BIGINT) - 127)
         END AS codes,
         len(vec) AS n_dims
  FROM m
)
SELECT vec_id, CAST(n_dims AS BIGINT) AS n_dims,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       CAST(list_sum(list_transform(codes, c -> c * c)) AS BIGINT) AS code_sq_sum,
       CAST(list_min(codes) AS BIGINT) AS code_min,
       CAST(list_max(codes) AS BIGINT) AS code_max,
       CAST(floor(mn * 1000000) AS BIGINT) AS mn_millionths,
       CAST(floor(span * 1000000) AS BIGINT) AS span_millionths
FROM c
"""


def q_rag_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 top-50 (lexical) and cosine top-50 (semantic,
    over the aligned embeddings table) fused by reciprocal-rank into one
    top-15 — the standard RAG first-stage retriever pair.  Fusion math is
    integer (SCALE div (C + rank)), so the gate is hash-exact."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = ranking.with_rank(
        ranking.bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=50),
        "doc_id", F.desc("score"), F.col("doc_id"),
    )
    sem = ranking.with_rank(
        similarity.cosine_topk(emb, "vec_id", "embedding", QUERY_VEC, k=50),
        "id", F.desc("cosine"), F.col("id"),
    )
    return ranking.rrf_fuse([lex, sem], k=15)


_O_BM25_50 = ranking.bm25_oracle_sql("documents", "doc_id", "text", _BM25_TERMS, k=50)


O_RAG_RRF = f"""
WITH lex AS ({_O_BM25_50}),
lexr AS (
  SELECT doc_id AS id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
  FROM lex
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), q AS (SELECT {_QV_SQL} AS qv),
sem AS (
  SELECT vec_id AS id,
         round(CASE WHEN sqrt(list_sum(list_transform(vec, x -> x * x))) * sqrt(list_sum(list_transform(qv, x -> x * x))) = 0 THEN 0.0 ELSE list_sum(list_transform(range(1, len(vec) + 1), i -> vec[CAST(i AS INT)] * qv[CAST(i AS INT)])) / (sqrt(list_sum(list_transform(vec, x -> x * x))) * sqrt(list_sum(list_transform(qv, x -> x * x)))) END, 6) AS cosine
  FROM v, q ORDER BY cosine DESC, vec_id LIMIT 50
),
semr AS (
  SELECT id, row_number() OVER (ORDER BY cosine DESC, id) AS rnk FROM sem
),
allr AS (SELECT * FROM lexr UNION ALL SELECT * FROM semr)
SELECT id, CAST(sum({ranking.RRF_SCALE} // ({ranking.RRF_C} + rnk)) AS BIGINT) AS rrf_scaled,
       count(*) AS n_lists
FROM allr GROUP BY id ORDER BY rrf_scaled DESC, id LIMIT 15
"""


def q_sim_pq_codes(spark, sf_dir):
    """Product-quantization codes (8 subspaces × 16 centroids): the
    billion-vector memory-scale ANN representation (4 bits/subspace here;
    codebook = prefix-anchor subvectors so the oracle rebuilds it)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pq_codes(
        emb, "vec_id", "embedding", n_subspaces=8, n_centroids=16
    )


O_SIM_PQ = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
),
pref AS (SELECT vec_id AS cid, vec FROM v ORDER BY vec_id LIMIT 16),
codebook AS (
  SELECT CAST(t.m AS INT) AS m, cid,
         vec[CAST(t.m * 8 + 1 AS INT) : CAST(t.m * 8 + 8 AS INT)] AS cvec
  FROM pref, unnest(range(0, 8)) AS t(m)
),
subs AS (
  SELECT vec_id AS id, CAST(t.m AS INT) AS m,
         vec[CAST(t.m * 8 + 1 AS INT) : CAST(t.m * 8 + 8 AS INT)] AS sv
  FROM v, unnest(range(0, 8)) AS t(m)
),
scored AS (
  SELECT id, m, cid,
         round(list_sum(list_transform(range(1, 9),
               i -> (sv[CAST(i AS INT)] - cvec[CAST(i AS INT)])
                    * (sv[CAST(i AS INT)] - cvec[CAST(i AS INT)]))), 9) AS d2
  FROM subs JOIN codebook USING (m)
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY id, m ORDER BY d2, cid) AS rn
  FROM scored
)
SELECT id, CAST(m AS BIGINT) AS m, cid AS code,
       CAST(floor(d2 * 1048576.0) AS BIGINT) AS dist_q
FROM best WHERE rn = 1
"""


def q_sim_pq_topk(spark, sf_dir):
    """PQ-ANN search: integer asymmetric-distance candidates over the
    4-bit codes (scan codes, not vectors), exact cosine re-rank of the
    top 32."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pq_topk(
        emb, "vec_id", "embedding", QUERY_VEC, k=10, n_candidates=32
    )


def _pq_lut_sql() -> str:
    """Query-side LUT CTE: per (m, code) the fixed-point squared-L2 from
    the query subvector to the codebook subvector."""
    return f"""
q AS (SELECT {_QV_SQL} AS qv),
lut AS (
  SELECT m, cid AS code,
         CAST(floor(round(list_sum(list_transform(range(1, 9),
               i -> (qv[CAST(m * 8 + i AS INT)] - cvec[CAST(i AS INT)])
                    * (qv[CAST(m * 8 + i AS INT)] - cvec[CAST(i AS INT)]))), 9)
               * 1048576.0) AS BIGINT) AS qd
  FROM codebook, q
)"""


O_SIM_PQ_TOPK = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
),
pref AS (SELECT vec_id AS cid, vec FROM v ORDER BY vec_id LIMIT 16),
codebook AS (
  SELECT CAST(t.m AS INT) AS m, cid,
         vec[CAST(t.m * 8 + 1 AS INT) : CAST(t.m * 8 + 8 AS INT)] AS cvec
  FROM pref, unnest(range(0, 8)) AS t(m)
),
subs AS (
  SELECT vec_id AS id, CAST(t.m AS INT) AS m,
         vec[CAST(t.m * 8 + 1 AS INT) : CAST(t.m * 8 + 8 AS INT)] AS sv
  FROM v, unnest(range(0, 8)) AS t(m)
),
scored AS (
  SELECT id, m, cid,
         round(list_sum(list_transform(range(1, 9),
               i -> (sv[CAST(i AS INT)] - cvec[CAST(i AS INT)])
                    * (sv[CAST(i AS INT)] - cvec[CAST(i AS INT)]))), 9) AS d2
  FROM subs JOIN codebook USING (m)
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY id, m ORDER BY d2, cid) AS rn
  FROM scored
),
codes AS (SELECT id, m, cid AS code FROM best WHERE rn = 1),
{_pq_lut_sql()},
approx AS (
  SELECT id, sum(qd) AS approx_d
  FROM codes JOIN lut USING (m, code)
  GROUP BY id ORDER BY approx_d, id LIMIT 32
),
rerank AS (
  SELECT v.vec_id AS id,
         round(CASE WHEN sqrt(list_sum(list_transform(vec, x -> x * x))) * sqrt(list_sum(list_transform(qv, x -> x * x))) = 0 THEN 0.0 ELSE list_sum(list_transform(range(1, len(vec) + 1), i -> vec[CAST(i AS INT)] * qv[CAST(i AS INT)])) / (sqrt(list_sum(list_transform(vec, x -> x * x))) * sqrt(list_sum(list_transform(qv, x -> x * x)))) END, 6) AS cosine
  FROM v, q
  WHERE v.vec_id IN (SELECT id FROM approx)
)
SELECT id, cosine FROM rerank ORDER BY cosine DESC, id LIMIT 10
"""


def q_sim_ivfpq_topk(spark, sf_dir):
    """IVF+PQ composition (FAISS IVFPQ shape): 2-probe bucket restriction,
    integer ADC over 4-bit codes within the buckets, exact cosine re-rank
    of the top 32 — the memory- AND I/O-scale ANN path."""
    emb = _t(spark, sf_dir, "embeddings")
    anchors = similarity.prefix_anchors(emb, "vec_id", "embedding", _N_ANCHORS)
    return similarity.ivfpq_topk(
        emb, "vec_id", "embedding", anchors, QUERY_VEC,
        k=10, n_probe=2, n_candidates=32,
    )


O_SIM_IVFPQ = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
),
anchors AS (
  SELECT vec_id AS anchor_id, vec AS avec FROM v ORDER BY vec_id LIMIT {_N_ANCHORS}
),
q AS (SELECT {_QV_SQL} AS qv),
probe AS (
  SELECT anchor_id FROM anchors, q
  ORDER BY {_cos_sql('avec', 'qv', 9)} DESC, anchor_id
  LIMIT 2
),
assigned AS (
  SELECT id, anchor_id FROM (
    SELECT v.vec_id AS id, a.anchor_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_cos_sql('v.vec', 'a.avec', 9)} DESC, a.anchor_id
           ) AS rn
    FROM v CROSS JOIN anchors a
  ) WHERE rn = 1
),
pref AS (SELECT vec_id AS cid, vec FROM v ORDER BY vec_id LIMIT 16),
codebook AS (
  SELECT CAST(t.m AS INT) AS m, cid,
         vec[CAST(t.m * 8 + 1 AS INT) : CAST(t.m * 8 + 8 AS INT)] AS cvec
  FROM pref, unnest(range(0, 8)) AS t(m)
),
subs AS (
  SELECT vec_id AS id, CAST(t.m AS INT) AS m,
         vec[CAST(t.m * 8 + 1 AS INT) : CAST(t.m * 8 + 8 AS INT)] AS sv
  FROM v, unnest(range(0, 8)) AS t(m)
),
scored AS (
  SELECT id, m, cid,
         round(list_sum(list_transform(range(1, 9),
               i -> (sv[CAST(i AS INT)] - cvec[CAST(i AS INT)])
                    * (sv[CAST(i AS INT)] - cvec[CAST(i AS INT)]))), 9) AS d2
  FROM subs JOIN codebook USING (m)
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY id, m ORDER BY d2, cid) AS rn
  FROM scored
),
codes AS (SELECT id, m, cid AS code FROM best WHERE rn = 1),
bucket_codes AS (
  SELECT codes.id, m, code
  FROM codes JOIN assigned USING (id) SEMI JOIN probe USING (anchor_id)
),
lut AS {_pq_lut_sql().split('lut AS', 1)[1]},
approx AS (
  SELECT id, sum(qd) AS approx_d
  FROM bucket_codes JOIN lut USING (m, code)
  GROUP BY id ORDER BY approx_d, id LIMIT 32
),
rerank AS (
  SELECT v.vec_id AS id, {_cos_sql('vec', 'qv', 6)} AS cosine
  FROM v, q
  WHERE v.vec_id IN (SELECT id FROM approx)
)
SELECT id, cosine FROM rerank ORDER BY cosine DESC, id LIMIT 10
"""


def q_emb_label_centroids(spark, sf_dir):
    """Per-label embedding centroids in floor(val·2^20) fixed point —
    integer-exact class profiles of the labeled embedding table."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.label_centroids(emb, "vec_id", "embedding", "label")


O_LABEL_CENTROIDS = """
WITH comp AS (
  SELECT label, CAST(i - 1 AS BIGINT) AS pos,
         CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1048576.0)
              AS BIGINT) AS qv
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
)
SELECT label, pos,
       CAST(floor(CAST(sum(qv) AS DOUBLE) / count(*)) AS BIGINT) AS mean_q,
       count(*) AS n_vectors
FROM comp GROUP BY label, pos
"""


def q_mm_simhash_pairs(spark, sf_dir):
    """Near-duplicate media pairs by byte-gram SimHash (Hamming ≤ 3 over
    the 32-bit fingerprint) — the perceptual-hash shape over opaque
    payloads, on the same planted re-upload corpus as mm_payload_dedup."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.synth_media(docs)
    reupload = multimodal.synth_media(
        docs.where(F.col("doc_id") % 10 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1000000
        )
    )
    return multimodal.payload_simhash_pairs(
        media.unionByName(reupload), max_hamming=3
    )


O_MM_SIMHASH_PAIRS = f"""
WITH media AS (
  SELECT doc_id AS id, hex(encode(text)) AS hx FROM documents
  UNION ALL
  SELECT doc_id + 1000000, hex(encode(text)) FROM documents WHERE doc_id % 10 = 0
),
grams AS (
  SELECT DISTINCT id, substr(hx, CAST(1 + 8 * k AS INT), 8) AS gram
  FROM media, unnest(range(0, len(hx) // 8)) AS t(k)
),
hashed AS (
  SELECT id, CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) AS h FROM grams
),
sums AS (
  SELECT id,
         {_SIMHASH_SUMS}
  FROM hashed GROUP BY id
),
simh AS (SELECT id, {_SIMHASH_FP} AS simhash FROM sums),
blk AS (
  SELECT id, simhash, t.b AS blk, (simhash >> CAST(t.b * 8 AS INT)) & 255 AS val
  FROM simh, (SELECT unnest(range(0, 4)) AS b) t
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM blk a JOIN blk b ON a.blk = b.blk AND a.val = b.val AND a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_emb_label_outliers(spark, sf_dir):
    """Suspected label errors: the 20 embeddings farthest from their own
    class centroid (integer fixed-point distances) — the first-pass
    mislabel scan before a labeled set trains anything."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.label_outliers(emb, "vec_id", "embedding", "label", k=20)


O_EMB_LABEL_OUTLIERS = """
WITH comp AS (
  SELECT vec_id AS id, label, CAST(i - 1 AS BIGINT) AS pos,
         CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS xi,
         CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1048576.0)
              AS BIGINT) AS qv
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
),
cent AS (
  SELECT label, pos,
         CAST(floor(CAST(sum(qv) AS DOUBLE) / count(*)) AS BIGINT) AS mean_q
  FROM comp GROUP BY label, pos
),
scored AS (
  SELECT id, comp.label,
         CAST(floor((xi - mean_q / 1048576.0) * (xi - mean_q / 1048576.0)
              * 1048576.0) AS BIGINT) AS contrib_q
  FROM comp JOIN cent ON cent.label = comp.label AND cent.pos = comp.pos
)
SELECT id, label, CAST(sum(contrib_q) AS BIGINT) AS dist_q
FROM scored GROUP BY id, label ORDER BY dist_q DESC, id LIMIT 20
"""


def q_emb_abtt_topk(spark, sf_dir):
    """All-But-The-Top diagnosis: the 50 embeddings with the largest
    projection onto the corpus's dominant principal component — the rows
    an anisotropy correction (x − c·v) moves most."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.abtt_project(emb, "vec_id", "embedding", dim=64, iters=4, k=50)


O_EMB_ABTT = similarity.abtt_oracle_sql("embeddings", "vec_id", "embedding", 64, 4, 50)


def q_emb_pca_power(spark, sf_dir):
    """Dominant principal component of the embedding table — distributed
    quantized Gram aggregate + 4 rounds of integer power iteration."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pca_power(emb, "embedding", dim=64, iters=4)


O_EMB_PCA = similarity.pca_power_oracle_sql("embeddings", "embedding", 64, 4)


def q_rag_mmr_rerank(spark, sf_dir):
    """MMR diversification re-rank: cosine top-20 candidates for the fixed
    query vector, greedily re-ranked to 8 picks maximizing 7·rel −
    3·max-sim-to-picked (λ = 0.7 in integer micro-units) — the standard
    second RAG stage after rag_hybrid_rrf's first-stage retrieval.  The
    greedy runs as one bounded applyInPandas group; the oracle unrolls
    the same 8 greedy steps as a materialized CTE chain."""
    from ..operators.ranking import mmr_rerank

    emb = _t(spark, sf_dir, "embeddings")
    return mmr_rerank(emb, "vec_id", "embedding", QUERY_VEC, n_candidates=20, k=8)


def _mmr_oracle(n_candidates: int = 20, k: int = 8) -> str:
    dot_ab = (
        "list_sum(list_transform(range(1, len(a.vec) + 1),"
        " i -> a.vec[CAST(i AS INT)] * b.vec[CAST(i AS INT)]))"
    )
    na = "sqrt(list_sum(list_transform(a.vec, x -> x * x)))"
    nb = "sqrt(list_sum(list_transform(b.vec, x -> x * x)))"
    dot_q = (
        "list_sum(list_transform(range(1, len(vec) + 1),"
        " i -> vec[CAST(i AS INT)] * qv[CAST(i AS INT)]))"
    )
    nv = "sqrt(list_sum(list_transform(vec, x -> x * x)))"
    nq = "sqrt(list_sum(list_transform(qv, x -> x * x)))"
    steps = [
        "s1 AS MATERIALIZED (\n"
        "  SELECT id AS picked, rel AS rel_micro, [id] AS chosen,\n"
        "         CAST(1 AS BIGINT) AS rnk\n"
        "  FROM cand ORDER BY rel DESC, id LIMIT 1\n)"
    ]
    for i in range(2, k + 1):
        steps.append(
            f"s{i} AS MATERIALIZED (\n"
            f"  SELECT picked, rel_micro, chosen, rnk FROM (\n"
            f"    SELECT c.id AS picked, c.rel AS rel_micro,\n"
            f"           list_append(p.chosen, c.id) AS chosen,\n"
            f"           CAST({i} AS BIGINT) AS rnk,\n"
            f"           7 * c.rel - 3 * (SELECT max(s.simm) FROM sims s\n"
            f"             WHERE s.a = c.id AND list_contains(p.chosen, s.b))"
            f" AS score\n"
            f"    FROM cand c, s{i - 1} p\n"
            f"    WHERE NOT list_contains(p.chosen, c.id)\n"
            f"  ) ORDER BY score DESC, picked LIMIT 1\n)"
        )
    union = "\nUNION ALL ".join(
        f"SELECT rnk AS rank, picked AS id, rel_micro FROM s{i}"
        for i in range(1, k + 1)
    )
    return f"""
WITH v AS MATERIALIZED (
  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
),
q AS MATERIALIZED (SELECT {_QV_SQL} AS qv),
rel6 AS MATERIALIZED (
  SELECT id, vec,
         round(CASE WHEN {nv} * {nq} = 0 THEN 0.0
                    ELSE {dot_q} / ({nv} * {nq}) END, 6) AS rel6
  FROM v, q
),
cand AS MATERIALIZED (
  SELECT id, vec, CAST(floor(rel6 * 1000000 + 0.5) AS BIGINT) AS rel
  FROM rel6 ORDER BY rel6 DESC, id LIMIT {n_candidates}
),
sims AS MATERIALIZED (
  SELECT a.id AS a, b.id AS b,
         CAST(floor((CASE WHEN {na} * {nb} = 0 THEN 0.0
                          ELSE {dot_ab} / ({na} * {nb}) END)
                    * 1000000 + 0.5) AS BIGINT) AS simm
  FROM cand a, cand b WHERE a.id <> b.id
),
{",".join(steps)}
{union}
ORDER BY rank
"""


O_RAG_MMR_RERANK = _mmr_oracle()


def q_mm_binary_ingest(spark, sf_dir):
    """Loose-file multimodal round-trip: export the first 100 documents
    as one binary file each (executor-parallel foreachPartition), ingest
    the directory back through Spark's binaryFile source, and verify
    payload integrity (byte length + md5) against the corpus — the
    ingestion path an image/audio corpus takes into the engine."""
    import os as _os

    from ..sources import io as _io

    path = _os.path.join(
        _os.environ.get("SPARK_GRAFT_IO_DIR", "/tmp/egraphdb_spark_io"),
        f"bin-{_os.path.basename(sf_dir.rstrip('/'))}",
    )
    # zero-byte payloads produce NO binaryFile split (contract pinned in
    # tests/test_io_quarantine.py) — exclude empty documents on BOTH
    # sides so the gate doesn't silently depend on the corpus having none
    docs = _t(spark, sf_dir, "documents").where(
        (F.col("doc_id") < 100) & (F.length("text") > 0)
    )
    payloads = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    _io.write_binary_files(payloads, "doc_id", "payload", path)
    back = _io.read_binary_dir(spark, path, glob="*.bin")
    return (
        back.select(
            F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").cast("long").alias("n_bytes"),
            F.md5("content").alias("content_md5"),
        )
        .orderBy("doc_id")
    )


O_MM_BINARY_INGEST = """
SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents WHERE doc_id < 100 AND length(text) > 0 ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# rag_fusion_weighted — CombMNZ score fusion of BM25 + cosine top lists
# --------------------------------------------------------------------------


def q_rag_fusion_weighted(spark, sf_dir):
    """Weighted CombMNZ score fusion of BM25 top-50 (lexical) and cosine
    top-50 (semantic) into one top-15 (operators/ranking.py
    weighted_fusion) — the score-preserving complement to
    rag_hybrid_rrf's rank-only fusion: min-max-normalized integer scores,
    weights 700/300 milli, hit-count (MNZ) boost.  Same retriever pair
    and fixtures as rag_hybrid_rrf, so the two gates are directly
    comparable."""
    from ..operators import ranking, similarity

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = ranking.bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=50).select(
        F.col("doc_id").alias("id"),
        F.expr("cast(round(score * 1000000) as bigint)").alias("score_micro"),
    )
    sem = similarity.cosine_topk(emb, "vec_id", "embedding", QUERY_VEC, k=50).select(
        "id",
        F.expr("cast(round(cosine * 1000000) as bigint)").alias("score_micro"),
    )
    return ranking.weighted_fusion([(lex, 700), (sem, 300)], k=15, mnz=True)


def _fusion_oracle() -> str:
    from ..operators import ranking

    bm25 = ranking.bm25_oracle_sql("documents", "doc_id", "text", _BM25_TERMS, k=50)
    return f"""
WITH lex AS ({bm25}),
lex0 AS (SELECT doc_id AS id, CAST(round(score * 1000000) AS BIGINT) AS s
         FROM lex),
lexmm AS (SELECT min(s) AS mn, max(s) AS mx FROM lex0),
lexn AS (
  SELECT id, CAST(CASE WHEN mx = mn THEN 1000000
                       ELSE ((s - mn) * 1000000) // (mx - mn) END
                  AS BIGINT) * 700 AS part
  FROM lex0, lexmm
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), q AS (SELECT {_QV_SQL} AS qv),
sem AS (
  SELECT vec_id AS id,
         round(CASE WHEN sqrt(list_sum(list_transform(vec, x -> x * x))) * sqrt(list_sum(list_transform(qv, x -> x * x))) = 0 THEN 0.0 ELSE list_sum(list_transform(range(1, len(vec) + 1), i -> vec[CAST(i AS INT)] * qv[CAST(i AS INT)])) / (sqrt(list_sum(list_transform(vec, x -> x * x))) * sqrt(list_sum(list_transform(qv, x -> x * x)))) END, 6) AS cosine
  FROM v, q ORDER BY cosine DESC, vec_id LIMIT 50
),
sem0 AS (SELECT id, CAST(round(cosine * 1000000) AS BIGINT) AS s FROM sem),
semmm AS (SELECT min(s) AS mn, max(s) AS mx FROM sem0),
semn AS (
  SELECT id, CAST(CASE WHEN mx = mn THEN 1000000
                       ELSE ((s - mn) * 1000000) // (mx - mn) END
                  AS BIGINT) * 300 AS part
  FROM sem0, semmm
),
parts AS (SELECT * FROM lexn UNION ALL SELECT * FROM semn),
f AS (SELECT id, sum(part) AS wsum, CAST(count(*) AS BIGINT) AS n_lists
      FROM parts GROUP BY id)
SELECT id, CAST(wsum * n_lists AS BIGINT) AS fused_scaled, n_lists
FROM f ORDER BY fused_scaled DESC, id LIMIT 15
"""


# --------------------------------------------------------------------------
# mm_phash_pairs — perceptual (DCT) hash near-dup pairs over media payloads
# --------------------------------------------------------------------------


def q_mm_phash_pairs(spark, sf_dir):
    """Perceptual-hash near-duplicate media pairs: 64-bit DCT pHash per
    payload (operators/multimodal.py phash64 — stripe-fold "decode",
    integer 2-D DCT-II, AC-median threshold) paired through the SAME
    Manku-Jain-Das Sarma 4×16-bit multi-index join as
    dedup_hamming64_pairs (the round-9 verdict's named slot: the
    DCT-shaped twin of mm_simhash_pairs, sharing its banding).  Corpus =
    synth media over documents ∪ planted families: ' qq'-appended
    payloads (doc_id%25==0, +1000000 — mostly perturbing only the last
    byte stripe, the robustness pHash exists for) and exact copies
    (doc_id%25==13, +2000000 — Hamming 0)."""
    from ..operators.dedup import hamming64_pairs
    from ..operators.multimodal import phash64

    docs = _t(spark, sf_dir, "documents")
    uni = (
        docs.selectExpr("doc_id as id", "encode(text, 'UTF-8') as payload")
        .unionByName(
            docs.where("doc_id % 25 = 0").selectExpr(
                "doc_id + 1000000 as id",
                "encode(concat(text, ' qq'), 'UTF-8') as payload",
            )
        )
        .unionByName(
            docs.where("doc_id % 25 = 13").selectExpr(
                "doc_id + 2000000 as id", "encode(text, 'UTF-8') as payload"
            )
        )
    )
    return hamming64_pairs(phash64(uni), radius=3, max_band_df=20).orderBy(
        "id_a", "id_b"
    )


def _phash_oracle() -> str:
    from ..operators.multimodal import PHASH_DCT_MILLI

    cmat = ", ".join(
        f"({u}, {x}, {b})"
        for u, row in enumerate(PHASH_DCT_MILLI)
        for x, b in enumerate(row)
    )
    return f"""
WITH uni AS (
  SELECT doc_id AS id, encode(text) AS payload FROM documents
  UNION ALL
  SELECT doc_id + 1000000, encode(text || ' qq') FROM documents
  WHERE doc_id % 25 = 0
  UNION ALL
  SELECT doc_id + 2000000, encode(text) FROM documents WHERE doc_id % 25 = 13
),
cmat(u, x, b) AS (VALUES {cmat}),
med AS (
  SELECT id, hex(payload) AS hx, CAST(octet_length(payload) AS BIGINT) AS nb
  FROM uni WHERE octet_length(payload) >= 64
),
byt AS (
  SELECT id, nb,
         list_transform(range(1, CAST(nb AS INT) + 1), j ->
           CAST(('0x' || substr(hx, CAST(2 * j - 1 AS INT), 2)) AS BIGINT)
         ) AS bytes
  FROM med
),
cells AS (
  SELECT id, CAST(k AS INT) AS idx,
         CAST(list_sum(bytes[
           CAST(k * (nb // 64) + 1 AS INT):
           CAST(CASE WHEN k = 63 THEN nb
                     ELSE (k + 1) * (nb // 64) END AS INT)])
           AS BIGINT) AS val
  FROM byt, unnest(range(0, 64)) AS t(k)
),
rc AS (SELECT id, idx % 8 AS c, idx // 8 AS r, val FROM cells),
t1 AS (
  SELECT id, u, c, CAST(sum(val * b) AS BIGINT) AS v1
  FROM rc JOIN cmat ON rc.r = cmat.x GROUP BY id, u, c
),
t2 AS (
  SELECT id, t1.u AS u, c2.u AS v, CAST(sum(v1 * c2.b) AS BIGINT) AS coeff
  FROM t1 JOIN cmat c2 ON t1.c = c2.x GROUP BY id, t1.u, c2.u
),
ac AS (SELECT * FROM t2 WHERE NOT (u = 0 AND v = 0)),
medn AS (
  SELECT id, coeff AS med FROM (
    SELECT id, coeff,
           row_number() OVER (PARTITION BY id ORDER BY coeff, u, v) AS rn
    FROM ac)
  WHERE rn = 32
),
bits AS (
  SELECT ac.id, u * 8 + v AS pos,
         CASE WHEN coeff > med THEN 1 ELSE 0 END AS bit
  FROM ac JOIN medn USING (id)
),
sh AS (
  SELECT id,
         CAST(sum(CASE WHEN bit = 1 AND pos < 32
                       THEN CAST(1 AS BIGINT) << pos ELSE 0 END)
              AS BIGINT) AS sh_hi,
         CAST(sum(CASE WHEN bit = 1 AND pos >= 32
                       THEN CAST(1 AS BIGINT) << (pos - 32) ELSE 0 END)
              AS BIGINT) AS sh_lo
  FROM bits GROUP BY id
),
blk AS (
  SELECT id, sh_hi, sh_lo, t.b AS blk,
         CASE t.b WHEN 0 THEN (sh_hi >> 16) & 65535
                  WHEN 1 THEN sh_hi & 65535
                  WHEN 2 THEN (sh_lo >> 16) & 65535
                  ELSE sh_lo & 65535 END AS val
  FROM sh, (SELECT unnest(range(0, 4)) AS b) t
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
# rag_feature_rerank — feature-vector rerank over BM25 + cosine candidates
# --------------------------------------------------------------------------


def q_rag_feature_rerank(spark, sf_dir):
    """Feature rerank of the BM25 top-50 ∪ cosine top-50 candidate union
    (operators/ranking.py feature_rerank — the r8 verdict's cross-
    encoder-style slot): per candidate a 5-feature vector (min-max score
    norms, reciprocal-rank features, list-hit count; absent-list
    features imputed 0 through the full-outer join) scored by a fixed
    integer linear model, features kept in the output for audit.  Same
    retriever pair as rag_hybrid_rrf / rag_fusion_weighted, so all three
    rungs of the fusion ladder are directly comparable."""
    from ..operators import ranking, similarity

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = ranking.bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=50).select(
        F.col("doc_id").alias("id"),
        F.expr("cast(round(score * 1000000) as bigint)").alias("score_micro"),
    )
    sem = similarity.cosine_topk(
        emb, "vec_id", "embedding", QUERY_VEC, k=50
    ).select(
        "id",
        F.expr("cast(round(cosine * 1000000) as bigint)").alias("score_micro"),
    )
    return ranking.feature_rerank(lex, sem, k=15)


def _feature_rerank_oracle() -> str:
    from ..operators import ranking

    bm25 = ranking.bm25_oracle_sql("documents", "doc_id", "text", _BM25_TERMS, k=50)
    return f"""
WITH lex AS ({bm25}),
lex0 AS (
  SELECT doc_id AS id, CAST(round(score * 1000000) AS BIGINT) AS s FROM lex
),
lexr AS (
  SELECT id, s, row_number() OVER (ORDER BY s DESC, id) AS rnk FROM lex0
),
lexmm AS (SELECT min(s) AS mn, max(s) AS mx FROM lex0),
lexf AS (
  SELECT id,
         CAST(CASE WHEN mx = mn THEN 1000000
                   ELSE ((s - mn) * 1000000) // (mx - mn) END AS BIGINT)
           AS f_lex_norm,
         CAST(1000000 // (60 + rnk) AS BIGINT) AS f_lex_rrf
  FROM lexr, lexmm
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), q AS (SELECT {_QV_SQL} AS qv),
sem AS (
  SELECT vec_id AS id,
         round(CASE WHEN sqrt(list_sum(list_transform(vec, x -> x * x))) * sqrt(list_sum(list_transform(qv, x -> x * x))) = 0 THEN 0.0 ELSE list_sum(list_transform(range(1, len(vec) + 1), i -> vec[CAST(i AS INT)] * qv[CAST(i AS INT)])) / (sqrt(list_sum(list_transform(vec, x -> x * x))) * sqrt(list_sum(list_transform(qv, x -> x * x)))) END, 6) AS cosine
  FROM v, q ORDER BY cosine DESC, vec_id LIMIT 50
),
sem0 AS (SELECT id, CAST(round(cosine * 1000000) AS BIGINT) AS s FROM sem),
semr AS (
  SELECT id, s, row_number() OVER (ORDER BY s DESC, id) AS rnk FROM sem0
),
semmm AS (SELECT min(s) AS mn, max(s) AS mx FROM sem0),
semf AS (
  SELECT id,
         CAST(CASE WHEN mx = mn THEN 1000000
                   ELSE ((s - mn) * 1000000) // (mx - mn) END AS BIGINT)
           AS f_sem_norm,
         CAST(1000000 // (60 + rnk) AS BIGINT) AS f_sem_rrf
  FROM semr, semmm
),
j AS (
  SELECT COALESCE(l.id, s.id) AS id,
         COALESCE(l.f_lex_norm, 0) AS f_lex_norm,
         COALESCE(s.f_sem_norm, 0) AS f_sem_norm,
         COALESCE(l.f_lex_rrf, 0) AS f_lex_rrf,
         COALESCE(s.f_sem_rrf, 0) AS f_sem_rrf,
         CAST((CASE WHEN l.id IS NOT NULL THEN 1 ELSE 0 END
             + CASE WHEN s.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_lists
  FROM lexf l FULL OUTER JOIN semf s ON l.id = s.id
)
SELECT id, f_lex_norm, f_sem_norm, f_lex_rrf, f_sem_rrf, n_lists,
       CAST(500 * f_lex_norm + 300 * f_sem_norm + 100 * f_lex_rrf
            + 100 * f_sem_rrf + 200 * 1000 * n_lists AS BIGINT)
         AS score_scaled
FROM j ORDER BY score_scaled DESC, id LIMIT 15
"""


# --------------------------------------------------------------------------
# rag_ndcg — graded-relevance retrieval eval
# --------------------------------------------------------------------------


def _log2_lits(k: int) -> list[float]:
    import math

    return [math.log2(i + 1) for i in range(1, k + 1)]


def q_rag_ndcg(spark, sf_dir):
    """NDCG@10 per language for a deterministic ranking (docs by n_chars
    desc, doc_id tie-break) against deterministic graded labels
    rel = 3 − doc_id % 4 (operators/ranking.py ndcg_at_k) — the eval
    readout the retrieval family (BM25/cosine/IVF/RRF/MMR) reports
    against; complements sim_recall_at_k's binary hit-rate with graded
    gain.  log2 discounts are shared double literals; every term is
    micro-quantized before the integer sum, so the gate is hash-exact."""
    from pyspark.sql import Window

    from ..operators.ranking import ndcg_at_k

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = (
        docs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .withColumn("rel", F.expr("3 - doc_id % 4"))
    )
    return ndcg_at_k(ranked, "lang", "rank", "rel", k=10).withColumnRenamed(
        "grp", "lang"
    )


def _ndcg_oracle(k: int = 10) -> str:
    logs = _log2_lits(k)

    def case(rank_col: str) -> str:
        whens = " ".join(
            f"WHEN {i} THEN CAST(floor(CAST((1 << rel) - 1 AS DOUBLE)"
            f" * 1000000.0 / {L!r} + 0.5) AS BIGINT)"
            for i, L in enumerate(logs, start=1)
        )
        return f"CASE {rank_col} {whens} END"

    return f"""
WITH ranked AS (
  SELECT lang, doc_id, 3 - doc_id % 4 AS rel,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id) AS rank
  FROM documents
),
topk AS (SELECT * FROM ranked WHERE rank <= {k}),
ideal AS (
  SELECT *, row_number() OVER (PARTITION BY lang
                               ORDER BY rel DESC, rank) AS irank
  FROM topk
),
terms AS (
  SELECT lang, {case('rank')} AS term_micro, {case('irank')} AS iterm_micro
  FROM ideal
),
agg AS (
  SELECT lang, CAST(sum(term_micro) AS BIGINT) AS dcg_micro,
         CAST(sum(iterm_micro) AS BIGINT) AS idcg_micro
  FROM terms GROUP BY lang
)
SELECT lang, CAST({k} AS BIGINT) AS k, dcg_micro, idcg_micro,
       CASE WHEN idcg_micro = 0 THEN NULL
       ELSE CAST((CAST(dcg_micro AS HUGEINT) * 1000000) // idcg_micro
                 AS BIGINT) END AS ndcg_micro
FROM agg ORDER BY lang
"""


O_RAG_NDCG = _ndcg_oracle()


GATES: dict[str, tuple] = {
    "mm_simhash_pairs": (q_mm_simhash_pairs, O_MM_SIMHASH_PAIRS),
    "emb_pca_power": (q_emb_pca_power, O_EMB_PCA),
    "emb_abtt_topk": (q_emb_abtt_topk, O_EMB_ABTT),
    "emb_label_outliers": (q_emb_label_outliers, O_EMB_LABEL_OUTLIERS),
    "rag_hybrid_rrf": (q_rag_hybrid_rrf, O_RAG_RRF),
    "emb_label_centroids": (q_emb_label_centroids, O_LABEL_CENTROIDS),
    "sim_pq_codes": (q_sim_pq_codes, O_SIM_PQ),
    "sim_pq_topk": (q_sim_pq_topk, O_SIM_PQ_TOPK),
    "sim_ivfpq_topk": (q_sim_ivfpq_topk, O_SIM_IVFPQ),
    "sim_recall_at_k": (q_sim_recall_at_k, O_SIM_RECALL),
    "sim_lsh_topk": (q_sim_lsh_topk, O_LSH_TOPK),
    "sim_knn_graph": (q_sim_knn_graph, O_KNN_GRAPH),
    "emb_quantize_int8": (q_emb_quantize_int8, O_EMB_QUANTIZE),
    "sim_cosine_topk": (q_sim_cosine_topk, O_COSINE_TOPK),
    "sim_ivf_topk": (q_sim_ivf_topk, O_IVF_TOPK),
    "sim_kmeans_topk": (q_sim_kmeans_topk, O_KMEANS_TOPK),
    "mm_meta": (q_mm_meta, O_MM_META),
    "mm_features": (q_mm_features, O_MM_FEATURES),
    "mm_resize_features": (q_mm_resize_features, O_MM_RESIZE_FEATURES),
    "mm_payload_dedup": (q_mm_payload_dedup, O_MM_PAYLOAD_DEDUP),
    "mm_frame_sample": (q_mm_frame_sample, O_MM_FRAME_SAMPLE),
    "emb_truncate_recall": (q_emb_truncate_recall, O_EMB_TRUNCATE_RECALL),
    "emb_drift": (q_emb_drift, O_EMB_DRIFT),
    "sim_mips_topk": (q_sim_mips_topk, O_SIM_MIPS),
    "mm_binary_ingest": (q_mm_binary_ingest, O_MM_BINARY_INGEST),
    "rag_mmr_rerank": (q_rag_mmr_rerank, O_RAG_MMR_RERANK),
    "rag_fusion_weighted": (q_rag_fusion_weighted, _fusion_oracle()),
    "mm_phash_pairs": (q_mm_phash_pairs, _phash_oracle()),
    "rag_feature_rerank": (q_rag_feature_rerank, _feature_rerank_oracle()),
    "rag_ndcg": (q_rag_ndcg, O_RAG_NDCG),
}
