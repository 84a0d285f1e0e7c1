"""Registry entries for the training-data pipeline operators.

Same contract as queries.py: REGISTRY maps name -> (spark_fn, oracle_sql).
The oracle SQL strings are *generated* from the identical constants the
Spark operators use (MINHASH_A/B/P, shingle length, stopword profiles), so
signatures / buckets / pairs match bit-for-bit across engines.

DuckDB portability notes baked into the generators:
  * regexp_replace needs the 'g' flag (Spark replaces globally by default)
  * hex→int is CAST('0x…' AS BIGINT) (Spark: conv(…,16,10))
  * list_transform(range(1, n+1), …) mirrors Spark transform(sequence(1, n), …)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import dedup, multimodal, packing, ranking, similarity, sketches, text
from .operators.dedup import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    NUM_PERM,
    SHINGLE_LEN,
    SIMHASH_BITS,
)


def _t(spark, sf_dir: str, name: str):
    from .graph import load_tables

    return load_tables(spark, sf_dir)[name]


# Materialized shingle table, memoized per (session, sf_dir) by
# session.session_memo — the dedup family's shared derived input (see
# dedup.shingle_table).  Cached like the fixture's vertices/edges/indexes:
# the corpus-scan + explode + md5 cost is paid once, not once per
# signature family.
_DOC_SHINGLES: dict[tuple[str, str], object] = {}



def _docs_spread(spark, sf_dir: str):
    """documents scan spread to session width (graph.spread_low_parallelism)
    — used ONLY by the gates measured to win from it (heavy per-row
    compute, low-cardinality output aggregation; 26-gate basket A/B in
    OPTIMIZATION_r11.md).  Everything else reads the natural scan: the
    spread costs high-cardinality aggregates their map-side reduction."""
    from .graph import spread_low_parallelism

    return spread_low_parallelism(_t(spark, sf_dir, "documents"))

def doc_shingles(spark, sf_dir: str):
    from .session import session_memo

    # The shingle cache keeps the documents scan's NATURAL partitioning
    # (file splits).  Measured (r11, gate-level A/B swapping the cache in
    # one session): natural layout beat both a 32-wide round-robin cache
    # and id-/h-hash-partitioned caches on every shingle consumer
    # (dedup_lsh_recall 3.9 vs 6.6-10.9 s, dedup_source_overlap 1.7 vs
    # 2.7-3.8 s, dedup_hamming64_pairs ~3.0-3.7 both) — the family's
    # heavy keys (shingle/h/band) are high-cardinality, and
    # pre-scattering the cache multiplies every map-side partial
    # aggregate by the partition count, which costs more than the map
    # width buys.  At 100 TB the scan has thousands of splits and this is
    # simply the bucketed-derived-table layout the shingle_table
    # docstring already prescribes.
    return session_memo(
        _DOC_SHINGLES,
        spark,
        sf_dir,
        lambda: dedup.shingle_table(
            _t(spark, sf_dir, "documents"), "doc_id", "text"
        ).cache(),
    )


# --------------------------------------------------------------------------
# Shared oracle SQL fragments
# --------------------------------------------------------------------------

# normalized text (lowercase, whitespace collapsed) — mirror of dedup.normalize
# collapse-then-trim, mirroring dedup.normalize (trim strips only ' ' in
# both engines, so it must run AFTER \s+ collapsing)
_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
# tokens — mirror of text.tokens
# mirror of text.tokens: boundary empties filtered (trim strips only ' ')
_TOKS = r"list_filter(string_split_regex(text, '\s+'), t -> t <> '')"

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


_SIMHASH_SUMS = ",\n         ".join(
    f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
    for i in range(SIMHASH_BITS)
)
_SIMHASH_FP = " + ".join(
    f"(CASE WHEN s{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
    for i in range(SIMHASH_BITS)
)

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
# Text analysis
# --------------------------------------------------------------------------


def q_txt_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id"),
        text.token_count("text").alias("n_tokens"),
        text.char_count("text").alias("n_chars_measured"),
        text.quality_score("text").alias("quality"),
    )


_SW_LIST = "[" + ", ".join(f"'{w}'" for w in text.QUALITY_STOPWORDS) + "]"

# quality via exact integer arithmetic (millionths), mirroring
# text.quality_millionths: am + bm + cm all BIGINT floor-divisions.
O_TXT_STATS = f"""
WITH toks AS (
  SELECT doc_id, text, {_TOKS} AS tk FROM documents
), m AS (
  SELECT doc_id,
         CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(tk) END AS n_tokens,
         len(text) AS n_chars_measured,
         greatest(len(tk), 1) AS s,
         COALESCE(list_sum(list_transform(tk, w -> len(w))), 0) AS total,
         len(list_filter(tk, w -> list_contains({_SW_LIST}, w))) AS hits
  FROM toks
)
SELECT doc_id, n_tokens, n_chars_measured,
       CAST(
         4000 * least(n_tokens, 100)
         + (300000 * least(total, 8 * s)) // (8 * s)
         + (300000 * least(5 * hits, 2 * s)) // (2 * s)
       AS BIGINT) / 1000000.0 AS quality
FROM m
"""


def q_txt_lang_id(spark, sf_dir):
    docs = _docs_spread(spark, sf_dir)
    return docs.select(F.col("doc_id"), text.lang_id("text").alias("pred_lang"))


def _lang_oracle() -> str:
    ratios = []
    for lang, words in text.LANG_PROFILES:
        lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        ratios.append(
            f"CAST(len(list_filter(tk, w -> list_contains({lst}, w))) AS DOUBLE)"
            f" / greatest(len(tk), 1) AS r_{lang}"
        )
    langs = [lang for lang, _ in text.LANG_PROFILES]
    cases = []
    for i, lang in enumerate(langs):
        rest = [f"r_{l}" for l in langs[i + 1 :]]
        cond = f"r_{lang} > 0"
        if rest:
            cond += f" AND r_{lang} >= greatest({', '.join(rest)})"
        cases.append(f"WHEN {cond} THEN '{lang}'")
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
r AS (SELECT doc_id, {", ".join(ratios)} FROM toks)
SELECT doc_id, CASE {" ".join(cases)} ELSE 'und' END AS pred_lang FROM r
"""


O_TXT_LANG = _lang_oracle()


def q_txt_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(F.col("doc_id"), text.fingerprint64("text").alias("fp"))


O_TXT_FP = f"""
SELECT doc_id,
       CAST(('0x' || substr(md5({_NORM}), 1, 15)) AS BIGINT) AS fp
FROM documents
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
    from .operators.sampling import _threshold

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
# Sketches (HLL distinct count, count-min heavy hitters)
# --------------------------------------------------------------------------


def q_sketch_hll_distinct(spark, sf_dir):
    """HLL estimate of distinct customers in orders — 2^8 registers,
    engine-exact integer register math (no ln/log2)."""
    from .operators import sketches

    return sketches.hll_distinct(_t(spark, sf_dir, "orders"), "o_custkey", p=8)


def q_sketch_kmv_distinct(spark, sf_dir):
    """KMV bottom-64 distinct-user estimate per event type — the
    order-statistics sketch next to HLL: exact below k, mergeable,
    WindowGroupLimit keeps map output at ≤ k rows per group."""
    from .operators import sketches

    return sketches.kmv_distinct(
        _t(spark, sf_dir, "events"), "event_type", "user_id", k=64
    )


def _kmv_oracle():
    from .operators.sketches import kmv_oracle_sql

    return kmv_oracle_sql("events", "event_type", "user_id", 64)


O_SKETCH_KMV = _kmv_oracle()


def q_sketch_kmv_overlap(spark, sf_dir):
    """KMV set algebra: distinct-USER overlap between 'view' and
    'purchase' activity — per-tag bottom-64, union by merge+re-cut
    (never rescans the input), intersection by inclusion-exclusion."""
    from .operators import sketches

    return sketches.kmv_overlap(
        _t(spark, sf_dir, "events"), "user_id", "event_type",
        "view", "purchase", k=64,
    )


def _kmv_overlap_oracle():
    from .operators.sketches import kmv_overlap_oracle_sql

    return kmv_overlap_oracle_sql(
        "events", "user_id", "event_type", "view", "purchase", 64
    )


O_SKETCH_KMV_OVERLAP = _kmv_overlap_oracle()


def _cm_hash_sql(expr: str, d: int) -> str:
    return (
        f"CAST(CAST('0x' || substr(md5({expr}), {1 + 6 * d}, 6) AS BIGINT)"
        f" % {64} AS INT)"
    )


def q_sketch_cm_heavy(spark, sf_dir):
    """Count-min point estimates for every event_type (the hot keys)."""
    from .operators import sketches

    ev = _t(spark, sf_dir, "events")
    cand = ev.select("event_type").distinct()
    return sketches.cm_estimate(ev, "event_type", cand).orderBy("key")


def _cm_oracle() -> str:
    from .operators.sketches import CM_DEPTH

    g = "\n  UNION ALL ".join(
        f"SELECT {d} AS row, {_cm_hash_sql('k', d)} AS bucket FROM src"
        for d in range(CM_DEPTH)
    )
    pr = "\n  UNION ALL ".join(
        f"SELECT key, {d} AS row, {_cm_hash_sql('CAST(key AS VARCHAR)', d)} AS bucket FROM cand"
        for d in range(CM_DEPTH)
    )
    return f"""
WITH src AS (SELECT CAST(event_type AS VARCHAR) AS k FROM events),
g AS (
  {g}
),
grid AS (SELECT row, bucket, count(*) AS cnt FROM g GROUP BY row, bucket),
cand AS (SELECT DISTINCT event_type AS key FROM events),
probe AS (
  {pr}
)
SELECT key, CAST(min(cnt) AS BIGINT) AS est
FROM probe JOIN grid USING (row, bucket)
GROUP BY key ORDER BY key
"""


O_CM_HEAVY = _cm_oracle()


# --------------------------------------------------------------------------
# Deterministic sampling / splits
# --------------------------------------------------------------------------


def q_sample_hash_docs(spark, sf_dir):
    """10% keyed Bernoulli sample of documents — membership is a pure
    function of doc_id (stable across runs/engines/corpus growth)."""
    from .operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.hash_sample(docs, "doc_id", 0.10).select(
        "doc_id", "lang", "source"
    )


def q_sample_train_test(spark, sf_dir):
    """Stable 20% test split + per-(split, lang) counts; the salt
    decorrelates split membership from hash_sample membership."""
    from .operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return (
        sampling.train_test_split(docs, "doc_id", 0.20)
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n"))
        .orderBy("split", "lang")
    )


def q_sample_group_split(spark, sf_dir):
    """Leakage-safe split: every document of a source lands on ONE side
    (hash of the source, not the doc), so near-dups concentrated within a
    source can never straddle train/eval.  Output is the per-(split,
    source) ledger — one row per source proves the no-straddle invariant
    (a straddling source would emit two rows and break the count)."""
    from .operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return (
        sampling.group_split(docs, "source", 0.25)
        .groupBy("split", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("split", "source")
    )


def q_sample_stratified(spark, sf_dir):
    """Per-language keep-rates (downsample the dominant stratum) — the
    balanced-corpus construction every pretraining pipeline runs."""
    from .operators import sampling

    docs = _t(spark, sf_dir, "documents")
    frac = {"en": 0.25, "de": 0.75, "fr": 0.75, "es": 1.0}
    return (
        sampling.stratified_hash_sample(docs, "doc_id", "lang", frac)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .orderBy("lang")
    )


def q_sketch_bloom_fp(spark, sf_dir):
    """Bloom filter built over urgent-order custkeys, probed with every
    customer: one-row accuracy summary (the no-false-negative invariant is
    n_bloom_hits − n_false_pos = n_true)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    members = (
        o.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey").distinct()
    )
    sk = sketches.bloom_build(members, "o_custkey")
    return sketches.bloom_probe_summary(sk, c, "c_custkey", members)


_BLOOM_POS = (
    "CAST(('0x' || substr(md5(CAST(key AS VARCHAR)), CAST(1 + 4*j AS INT), 4))"
    " AS BIGINT)"
)
# DuckDB range-checks 1<<63 (Spark's shiftleft wraps to the sign bit), so
# the top bit gets an explicit min-long literal.
_BLOOM_MASK = (
    "CASE WHEN pos % 64 = 63 THEN (-9223372036854775807 - 1)"
    " ELSE CAST(1 AS BIGINT) << CAST(pos % 64 AS INT) END"
)

O_BLOOM_FP = f"""
WITH members AS (
  SELECT DISTINCT o_custkey AS key FROM orders WHERE o_orderpriority = '1-URGENT'
),
ks AS (SELECT unnest(range(0, 4)) AS j),
mpos AS (SELECT {_BLOOM_POS} AS pos FROM members, ks),
words AS (
  SELECT pos // 64 AS word, bit_or({_BLOOM_MASK}) AS bits
  FROM mpos GROUP BY 1
),
probe AS (SELECT DISTINCT c_custkey AS key FROM customer),
ppos AS (SELECT key, {_BLOOM_POS} AS pos FROM probe, ks),
perkey AS (
  SELECT key,
         CASE WHEN sum(CASE WHEN bits IS NOT NULL
                             AND (bits & ({_BLOOM_MASK})) != 0
                            THEN 1 ELSE 0 END) = 4
              THEN 1 ELSE 0 END AS bloom_hit
  FROM ppos LEFT JOIN words ON pos // 64 = word
  GROUP BY key
)
SELECT CAST(count(*) AS BIGINT) AS n_probe,
       CAST(sum(CASE WHEN m.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(sum(bloom_hit) AS BIGINT) AS n_bloom_hits,
       CAST(sum(bloom_hit * (CASE WHEN m.key IS NULL THEN 1 ELSE 0 END)) AS BIGINT)
         AS n_false_pos
FROM perkey LEFT JOIN members m ON perkey.key = m.key
"""


def q_layout_zorder(spark, sf_dir):
    """Z-order clustering evidence on part over (p_size, p_partkey%1024):
    per-range-bucket row counts for a 2-D box predicate.  The box's rows
    concentrate in few buckets — the fraction of files a z-laid-out table
    would actually read (ntile here is the oracle-exact stand-in for the
    production repartitionByRange writer in operators/layout.py)."""
    from .operators import layout

    part = _t(spark, sf_dir, "part").withColumn("pk_lo", F.expr("p_partkey % 1024"))
    return layout.zorder_prune_stats(
        part, "p_size", "pk_lo", (10, 20), (100, 300), n_buckets=32,
        tiebreak="p_partkey",
    )


def _zorder_oracle():
    from .operators.layout import zvalue_sql

    z = zvalue_sql("p_size", "pk_lo")
    return f"""
WITH d AS (SELECT p_size, p_partkey % 1024 AS pk_lo, p_partkey, {z} AS z FROM part),
t AS (
  SELECT p_size, pk_lo, z,
         ntile(32) OVER (ORDER BY z, p_partkey) AS bucket
  FROM d
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN p_size BETWEEN 10 AND 20 AND pk_lo BETWEEN 100 AND 300
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_box_rows,
       min(z) AS z_min, max(z) AS z_max
FROM t GROUP BY bucket ORDER BY bucket
"""


O_LAYOUT_ZORDER = _zorder_oracle()


def q_layout_bucket_join(spark, sf_dir):
    """Bucket-layout evidence for the fact⨝fact join neither side of
    which broadcasts at 100 TB: orders and lineitem are persisted as
    8-bucket tables hashed on the order key, then joined — the join runs
    with ZERO exchange on either side (both scans report
    ``Bucketed: true``; pinned by tests/test_plans.py).  The shuffle was
    paid once at layout time; every subsequent co-keyed join is free.
    Returns revenue per order priority off the bucketed join, so the
    oracle value-checks the whole write→catalog→bucketed-read→join
    path."""
    import os as _os

    from .sources.io import write_bucketed_table

    tag = _os.path.basename(sf_dir.rstrip("/"))
    root = _os.path.join(
        _os.environ.get("SPARK_GRAFT_IO_DIR", "/tmp/egraphdb_spark_io"),
        f"bucket-{tag}",
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("lo_key"), "l_extendedprice", "l_discount"
    )
    write_bucketed_table(
        o, f"b_orders_{tag.replace('.', '_')}", "o_orderkey", 8,
        sort_col="o_orderkey", path=f"{root}/orders",
        one_file_per_bucket=True,
    )
    write_bucketed_table(
        li, f"b_lineitem_{tag.replace('.', '_')}", "lo_key", 8,
        sort_col="lo_key", path=f"{root}/lineitem",
        one_file_per_bucket=True,
    )
    disc = (
        "cast(l_extendedprice as decimal(18,2)) * "
        "(cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))"
    )
    return (
        spark.table(f"b_orders_{tag.replace('.', '_')}")
        .join(
            spark.table(f"b_lineitem_{tag.replace('.', '_')}"),
            F.col("o_orderkey") == F.col("lo_key"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.expr(f"cast(sum({disc}) as double)").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


O_LAYOUT_BUCKET_JOIN = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_profile_table(spark, sf_dir):
    """One-pass ANALYZE profile of lineitem (nulls / NDV / ranges)."""
    from .operators import profiling

    li = _t(spark, sf_dir, "lineitem")
    return profiling.profile_columns(
        li,
        numeric_cols=["l_quantity", "l_extendedprice", "l_discount"],
        string_cols=["l_returnflag", "l_linestatus"],
    ).orderBy("column")


def _profile_oracle():
    num = ["l_quantity", "l_extendedprice", "l_discount"]
    s = ["l_returnflag", "l_linestatus"]
    parts = [
        f"""SELECT '{c}' AS "column", CAST(count({c}) AS BIGINT) AS n,
            CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
            CAST(count(DISTINCT {c}) AS BIGINT) AS ndv,
            round(CAST(min({c}) AS DOUBLE), 6) AS min_num,
            round(CAST(max({c}) AS DOUBLE), 6) AS max_num,
            CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
            FROM lineitem"""
        for c in num
    ] + [
        f"""SELECT '{c}', CAST(count({c}) AS BIGINT),
            CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT),
            CAST(count(DISTINCT {c}) AS BIGINT),
            CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min({c}), max({c})
            FROM lineitem"""
        for c in s
    ]
    return " UNION ALL ".join(parts) + ' ORDER BY "column"'


O_PROFILE = _profile_oracle()


def q_clean_winsorize(spark, sf_dir):
    """Winsorization summary for l_extendedprice at [p1, p99]."""
    from .operators import profiling

    li = _t(spark, sf_dir, "lineitem")
    return profiling.winsorize_stats(li, "l_extendedprice", 0.01, 0.99)


O_WINSORIZE = """
WITH q AS (
  SELECT quantile_cont(l_extendedprice, 0.01) AS p_lo,
         quantile_cont(l_extendedprice, 0.99) AS p_hi
  FROM lineitem
)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN l_extendedprice < p_lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_low,
       CAST(sum(CASE WHEN l_extendedprice > p_hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_high,
       CAST(sum(CAST(round(100 * (CASE WHEN l_extendedprice < p_lo THEN p_lo
                                       WHEN l_extendedprice > p_hi THEN p_hi
                                       ELSE l_extendedprice END)) AS BIGINT))
            AS BIGINT) AS sum_clipped_cents,
       round(min(p_lo), 6) AS p_lo, round(min(p_hi), 6) AS p_hi
FROM lineitem, q
"""


def _sample_oracles():
    from .operators.sampling import _threshold, sample_oracle_pred

    o_hash = f"""
SELECT doc_id, lang, source FROM documents
WHERE {sample_oracle_pred("doc_id", 0.10)}
"""
    o_tt = f"""
SELECT CASE WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)
                 AS BIGINT) < {_threshold(0.20)}
            THEN 'test' ELSE 'train' END AS split,
       lang, count(*) AS n
FROM documents GROUP BY split, lang ORDER BY split, lang
"""
    cases = " ".join(
        f"WHEN lang = '{v}' THEN {_threshold(f)}"
        for v, f in sorted({"en": 0.25, "de": 0.75, "fr": 0.75, "es": 1.0}.items())
    )
    o_strat = f"""
SELECT lang, count(*) AS n FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      < CASE {cases} ELSE NULL END
GROUP BY lang ORDER BY lang
"""
    return o_hash, o_tt, o_strat


O_SAMPLE_HASH, O_SAMPLE_TT, O_SAMPLE_STRAT = _sample_oracles()


def _group_split_oracle() -> str:
    from .operators.sampling import _threshold

    return f"""
SELECT CASE WHEN CAST('0x' || substr(md5('gsplit:' || CAST(source AS VARCHAR)), 1, 15)
                 AS BIGINT) < {_threshold(0.25)}
            THEN 'test' ELSE 'train' END AS split,
       source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY split, source ORDER BY split, source
"""


O_SAMPLE_GROUP_SPLIT = _group_split_oracle()


# --------------------------------------------------------------------------
# End-to-end corpus preparation (composition gate)
# --------------------------------------------------------------------------


def q_pipe_corpus_clean(spark, sf_dir):
    """The pipeline a pretraining corpus actually runs, as ONE plan:
    quality gate → exact dedup (min-id canonical per content fingerprint)
    → deterministic train/test split → per-(split, lang) accounting.

    Composes quality_millionths + fingerprint64 + train_test_split —
    all integer/hash arithmetic, so the whole four-stage pipeline stays
    bit-reproducible across engines.  Physical plan: one scan computing
    score/fingerprint/tokens map-side, one window shuffle on fp for the
    canonical pick, the split predicate map-side, one final aggregation —
    two shuffles total regardless of corpus size.
    """
    from pyspark.sql import Window as W

    from .operators import sampling

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        text.quality_millionths("text").alias("qm"),
        text.token_count("text").alias("n_tokens"),
        text.fingerprint64("text").alias("fp"),
    )
    kept = scored.where(F.col("qm") >= 500000)
    canon = (
        kept.withColumn("min_id", F.min("doc_id").over(W.partitionBy("fp")))
        .where(F.col("doc_id") == F.col("min_id"))
        .drop("min_id")
    )
    split = sampling.train_test_split(canon, "doc_id", 0.20)
    return (
        split.groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            (F.sum("qm") / F.lit(1000000.0)).cast("double").alias("total_quality"),
        )
        .orderBy("split", "lang")
    )


def _pipe_oracle():
    from .operators.sampling import _threshold

    return f"""
WITH toks AS (
  SELECT doc_id, lang, text, {_TOKS} AS tk FROM documents
), m AS (
  SELECT doc_id, lang,
         CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(tk) END AS n_tokens,
         greatest(len(tk), 1) AS s,
         COALESCE(list_sum(list_transform(tk, w -> len(w))), 0) AS total,
         len(list_filter(tk, w -> list_contains({_SW_LIST}, w))) AS hits,
         CAST(('0x' || substr(md5({_NORM}), 1, 15)) AS BIGINT) AS fp
  FROM toks
), q AS (
  SELECT doc_id, lang, n_tokens, fp,
         CAST(4000 * least(n_tokens, 100)
              + (300000 * least(total, 8 * s)) // (8 * s)
              + (300000 * least(5 * hits, 2 * s)) // (2 * s) AS BIGINT) AS qm
  FROM m
), kept AS (
  SELECT * FROM q WHERE qm >= 500000
), canon AS (
  SELECT * FROM kept QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fp)
), sp AS (
  SELECT *,
         CASE WHEN CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) < {_threshold(0.20)}
              THEN 'test' ELSE 'train' END AS split
  FROM canon
)
SELECT split, lang, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(qm) AS BIGINT) / 1000000.0 AS total_quality
FROM sp GROUP BY split, lang ORDER BY split, lang
"""


O_PIPE_CLEAN = _pipe_oracle()


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
    from .operators.similarity import _lcg_planes

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


def q_txt_top_bigrams(spark, sf_dir):
    """Top-20 word bigrams across the corpus (deterministic order)."""
    docs = _t(spark, sf_dir, "documents")
    # short-doc guard (same trap as the shingle generators: sequence(1, 0)
    # is descending and indexes off the array); tokens() filters the
    # phantom '' boundary tokens a bare split(trim(…)) leaves behind
    toks = docs.select(text.tokens(F.col("text")).alias("tk")).select(
        F.explode(
            F.expr(
                "if(size(tk) < 2, array(),"
                " transform(sequence(1, size(tk) - 1),"
                " i -> concat(tk[i-1], ' ', tk[i])))"
            )
        ).alias("bigram")
    )
    return (
        toks.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(20)
    )


O_TXT_BIGRAMS = r"""
WITH toks AS (SELECT list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk FROM documents),
bg AS (
  SELECT unnest(list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
                i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1])) AS bigram
  FROM toks
)
SELECT bigram, count(*) AS n FROM bg GROUP BY bigram
ORDER BY n DESC, bigram LIMIT 20
"""


def q_agg_percentile(spark, sf_dir):
    """Exact interpolated percentiles per segment (Spark `percentile` ==
    DuckDB `quantile_cont`, verified bit-exact)."""
    cust = _t(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.expr("percentile(c_acctbal, 0.5)").alias("median_acctbal"),
        F.expr("percentile(c_acctbal, 0.9)").alias("p90_acctbal"),
    )


O_AGG_PCTL = """
SELECT c_mktsegment,
       quantile_cont(c_acctbal, 0.5) AS median_acctbal,
       quantile_cont(c_acctbal, 0.9) AS p90_acctbal
FROM customer GROUP BY c_mktsegment
"""


def q_txt_bpe_tokens(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count("text").alias("n_ws_tokens"),
        text.bpe_token_count("text").alias("n_bpe_tokens"),
    )


O_TXT_BPE = rf"""
SELECT doc_id,
       len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
         AS n_ws_tokens,
       len(regexp_extract_all(lower(text), '{text.BPE_PATTERN}')) AS n_bpe_tokens
FROM documents
"""




def q_txt_bpe_pair_counts(spark, sf_dir):
    """Top-50 adjacent character pairs over the word-frequency table —
    the first BPE merge round of tokenizer training (text.bpe_pair_counts)."""
    docs = _t(spark, sf_dir, "documents")
    return text.bpe_pair_counts(docs, "text", top_n=50)


O_TXT_BPE_PAIRS = rf"""
WITH words AS (
  SELECT w, count(*) AS wc FROM (
    SELECT unnest(regexp_extract_all(lower(text), '{text.BPE_PATTERN}')) AS w
    FROM documents) GROUP BY w
),
pairs AS (
  SELECT substr(w, CAST(i AS INT), 2) AS pair, wc
  FROM words, LATERAL (SELECT unnest(range(1, len(w))) AS i) t
)
SELECT pair, CAST(sum(wc) AS BIGINT) AS n
FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 50
"""


def q_pipe_shard_manifest(spark, sf_dir):
    """16-shard output manifest over the documents table (hash-assigned
    shards, per-shard doc/token totals + id range — packing.shard_manifest)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", text.token_count("text")
    )
    from .operators.packing import shard_manifest

    return shard_manifest(docs, "doc_id", "n_tokens", n_shards=16)


O_PIPE_SHARD_MANIFEST = f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len({_TOKS}) END AS n_tokens,
         CAST('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) % 16 AS shard_id
  FROM documents
)
SELECT shard_id, count(*) AS n_docs,
       CAST(sum(CAST(n_tokens AS BIGINT)) AS BIGINT) AS n_tokens,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM t GROUP BY shard_id ORDER BY shard_id
"""


def q_txt_unigram_nll(spark, sf_dir):
    """Per-doc negative log-likelihood under the corpus unigram LM — the
    CCNet-style perplexity quality filter, integer micro-lognats
    (text.unigram_nll; order-exact sums, oracle-identical ln)."""
    docs = _t(spark, sf_dir, "documents")
    out = text.unigram_nll(docs, "doc_id", "text")
    return out.select(
        F.col("id").alias("doc_id"), "n_tokens", "nll_micro", "avg_nll_micro"
    )


O_TXT_UNIGRAM_NLL = r"""
WITH toks AS (
  SELECT doc_id AS id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS term
  FROM documents
),
counts AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
corpus AS (SELECT CAST(sum(c) AS BIGINT) AS T, count(*) AS V FROM counts),
scored AS (
  SELECT id,
         CAST(floor(-ln((c + 1) / (T + V)) * 1000000) AS BIGINT) AS nll_micro_tok
  FROM toks JOIN counts USING (term), corpus
)
SELECT id AS doc_id, count(*) AS n_tokens,
       CAST(sum(nll_micro_tok) AS BIGINT) AS nll_micro,
       CAST(sum(nll_micro_tok) AS BIGINT) // count(*) AS avg_nll_micro
FROM scored GROUP BY id
"""


def q_pipe_ccnet_buckets(spark, sf_dir):
    """CCNet's head/middle/tail corpus split (Wenzek et al. 2020): docs
    bucketed by perplexity terciles of the corpus unigram LM — the
    standard quality partition before mixing.

    Terciles are TYPE-1 DISCRETE quantiles in pure integer arithmetic:
    t_k = min value v with cum_count(avg ≤ v)·3 ≥ k·n.  Interpolated
    percentile was the first cut and the hostile-corpus fuzzer REJECTED
    it — Spark `percentile` and DuckDB `quantile_cont` interpolate
    BIGINT inputs differently near tie-heavy boundaries (2071534.0758…
    vs ~2071535 on a 7-doc corpus), flipping the bucket of any doc
    sitting on a threshold.  Discrete ranks cannot disagree.

    The cumulative count runs over DISTINCT avg values with a two-level
    prefix (the pack_offsets trick: global window only over ~20
    avg div 2²⁰ bucket-summary rows, intra-bucket windows partitioned) —
    no unbounded single-partition window at any corpus size.  Tokenless
    docs (no NLL row) land in an explicit 'empty' bucket."""
    from pyspark.sql import Window as W

    from .operators.checkpoint import cut_lineage

    docs = _t(spark, sf_dir, "documents")
    # cut_lineage: nll feeds the distinct-value aggregate AND the final
    # join; dv feeds the bucket totals, the intra-bucket cumsum and the
    # corpus total — uncut, the whole unigram-LM scoring re-derived per
    # reference (13 source scans measured in the physical plan)
    nll = (
        text.unigram_nll(docs, "doc_id", "text")
        .select(F.col("id").alias("doc_id"), "avg_nll_micro")
        .transform(cut_lineage)
    )
    dv = (
        nll.groupBy("avg_nll_micro")
        .agg(F.count("*").alias("c"))
        .withColumn("b", F.expr("avg_nll_micro div 1048576"))
        .transform(cut_lineage)
    )
    wb = W.orderBy("b").rowsBetween(W.unboundedPreceding, -1)
    bt = (
        dv.groupBy("b")
        .agg(F.sum("c").alias("bc"))
        .select("b", F.coalesce(F.sum("bc").over(wb), F.lit(0)).alias("pre"))
    )
    wi = (
        W.partitionBy("b")
        .orderBy("avg_nll_micro")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = dv.join(bt, "b").select(
        "avg_nll_micro", (F.col("pre") + F.sum("c").over(wi)).alias("cum")
    )
    tot = dv.agg(F.sum("c").alias("n"))
    th = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(
            F.when(F.col("cum") * 3 >= F.col("n"), F.col("avg_nll_micro"))
        ).alias("t1"),
        F.min(
            F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("avg_nll_micro"))
        ).alias("t2"),
    )
    bucket = (
        F.when(F.col("avg_nll_micro").isNull(), F.lit("empty"))
        .when(F.col("avg_nll_micro") <= F.col("t1"), F.lit("head"))
        .when(F.col("avg_nll_micro") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        docs.select("doc_id")
        .join(nll, "doc_id", "left")
        .crossJoin(F.broadcast(th))
        .select("doc_id", "avg_nll_micro", bucket.alias("bucket"))
        .orderBy("doc_id")
    )


O_PIPE_CCNET = r"""
WITH toks AS (
  SELECT doc_id AS id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS term
  FROM documents
),
counts AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
corpus AS (SELECT CAST(sum(c) AS BIGINT) AS T, count(*) AS V FROM counts),
scored AS (
  SELECT id,
         CAST(floor(-ln((c + 1) / (T + V)) * 1000000) AS BIGINT) AS nll_micro_tok
  FROM toks JOIN counts USING (term), corpus
),
nll AS (
  SELECT id AS doc_id,
         CAST(sum(nll_micro_tok) AS BIGINT) // count(*) AS avg_nll_micro
  FROM scored GROUP BY id
),
dv AS (SELECT avg_nll_micro AS v, count(*) AS c FROM nll GROUP BY 1),
cum AS (
  SELECT v,
         sum(c) OVER (ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(c) OVER () AS n
  FROM dv
),
th AS (
  SELECT min(CASE WHEN cum * 3 >= n THEN v END) AS t1,
         min(CASE WHEN cum * 3 >= 2 * n THEN v END) AS t2
  FROM cum
)
SELECT d.doc_id, nll.avg_nll_micro,
       CASE WHEN nll.avg_nll_micro IS NULL THEN 'empty'
            WHEN nll.avg_nll_micro <= th.t1 THEN 'head'
            WHEN nll.avg_nll_micro <= th.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM documents d LEFT JOIN nll ON nll.doc_id = d.doc_id, th
ORDER BY d.doc_id
"""


def q_pipe_quality_ablation(spark, sf_dir):
    """Filter-funnel ablation: how many docs (and surviving tokens) each
    cleaning filter keeps, alone and combined — the table a pipeline
    owner reads before choosing thresholds.  Filters: predicted language
    matches the label, quality ≥ 0.5, token count in [5, 1000].  One
    scan, one aggregate of conditional counts; every signal is an
    existing engine primitive with an exact SQL mirror."""
    docs = _docs_spread(spark, sf_dir)
    nt = text.token_count("text")
    flags = docs.select(
        (text.lang_id("text") == F.col("lang")).alias("pl"),
        (text.quality_millionths("text") >= 500000).alias("pq"),
        nt.between(5, 1000).alias("pt"),
        nt.alias("nt"),
    )
    allp = F.col("pl") & F.col("pq") & F.col("pt")
    return flags.agg(
        F.count("*").alias("n_total"),
        F.sum(F.col("pl").cast("long")).alias("n_lang"),
        F.sum(F.col("pq").cast("long")).alias("n_quality"),
        F.sum(F.col("pt").cast("long")).alias("n_len"),
        F.sum(allp.cast("long")).alias("n_all"),
        F.coalesce(F.sum(F.when(allp, F.col("nt"))), F.lit(0))
        .cast("long")
        .alias("tokens_kept"),
    )


def _ablation_oracle() -> str:
    ratios = []
    for lang, words in text.LANG_PROFILES:
        lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        ratios.append(
            f"CAST(len(list_filter(tk, w -> list_contains({lst}, w))) AS DOUBLE)"
            f" / greatest(len(tk), 1) AS r_{lang}"
        )
    langs = [lang for lang, _ in text.LANG_PROFILES]
    cases = []
    for i, lang in enumerate(langs):
        rest = [f"r_{l}" for l in langs[i + 1 :]]
        cond = f"r_{lang} > 0"
        if rest:
            cond += f" AND r_{lang} >= greatest({', '.join(rest)})"
        cases.append(f"WHEN {cond} THEN '{lang}'")
    pred = f"CASE {' '.join(cases)} ELSE 'und' END"
    return f"""
WITH toks AS (SELECT doc_id, lang, {_TOKS} AS tk FROM documents),
r AS (
  SELECT doc_id, lang, len(tk) AS nt,
         greatest(len(tk), 1) AS s,
         COALESCE(list_sum(list_transform(tk, w -> len(w))), 0) AS total,
         len(list_filter(tk, w -> list_contains({_SW_LIST}, w))) AS hits,
         {", ".join(ratios)}
  FROM toks
),
f AS (
  SELECT nt,
         ({pred} = lang) AS pl,
         (4000 * least(nt, 100)
          + (300000 * least(total, 8 * s)) // (8 * s)
          + (300000 * least(5 * hits, 2 * s)) // (2 * s) >= 500000) AS pq,
         (nt BETWEEN 5 AND 1000) AS pt
  FROM r
)
SELECT count(*) AS n_total,
       CAST(sum(CASE WHEN pl THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
       CAST(sum(CASE WHEN pq THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(sum(CASE WHEN pt THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
       CAST(sum(CASE WHEN pl AND pq AND pt THEN 1 ELSE 0 END) AS BIGINT)
         AS n_all,
       CAST(COALESCE(sum(CASE WHEN pl AND pq AND pt THEN nt END), 0) AS BIGINT)
         AS tokens_kept
FROM f
"""


O_PIPE_ABLATION = _ablation_oracle()


def q_txt_repetition(spark, sf_dir):
    """Gopher-style repetition filter evidence per document (exact integer
    numerators/denominators; see operators/text.repetition_stats)."""
    docs = _docs_spread(spark, sf_dir)
    return text.repetition_stats(docs)


O_TXT_REPETITION = f"""
WITH d AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), uc AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS tok FROM d) GROUP BY doc_id, tok
), ua AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) AS n_distinct, max(c) AS top_unigram_n
  FROM uc GROUP BY doc_id
), bc AS (
  SELECT doc_id, bg, count(*) AS c
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bg
    FROM d
  ) GROUP BY doc_id, bg
), ba AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_bigram_n
  FROM bc GROUP BY doc_id
)
SELECT ua.doc_id, n_tokens, n_distinct, top_unigram_n,
       coalesce(n_bigrams, 0) AS n_bigrams,
       coalesce(top_bigram_n, 0) AS top_bigram_n,
       (top_unigram_n * 100 <= n_tokens * 20
        AND coalesce(top_bigram_n, 0) * 100 <= coalesce(n_bigrams, 0) * 18)
         AS repetition_ok
FROM ua LEFT JOIN ba USING (doc_id)
"""




def q_dedup_near_clusters(spark, sf_dir):
    """Near-duplicate CLUSTERS — the corpus-dedup endgame: LSH candidate
    pairs → connected components → one canonical representative (min doc_id)
    per duplicate group.  Reuses the distributed hash-min label propagation
    from graph_algos (ids zero-padded so lexicographic min == numeric min).
    Output: (rep_id, n_members) per multi-document group."""
    from .operators.graph_algos import connected_components

    docs = _t(spark, sf_dir, "documents")
    sig = dedup.minhash_signature(docs, "doc_id", "text")
    pairs = dedup.lsh_candidate_pairs(sig, max_bucket_size=64)
    edges = pairs.select(
        F.lpad(F.col("id_a").cast("string"), 12, "0").alias("src_key"),
        F.lpad(F.col("id_b").cast("string"), 12, "0").alias("dst_key"),
    )
    cc = connected_components(edges, undirected=True)
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




def q_txt_pii_scrub(spark, sf_dir):
    """PII scrubbing audit: deterministic synthetic PII (an email and a NANP
    phone derived from doc_id) is appended to each document, then scrubbed;
    output = per-doc match counts, redacted-size delta, and the md5 of the
    scrubbed text (bit-exact evidence the redaction is identical)."""
    docs = _docs_spread(spark, sf_dir)
    dirty = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com or +1 555-000-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("t"),
    )
    clean = text.scrub_pii("t")
    return dirty.select(
        "doc_id",
        *text.pii_counts("t"),
        (F.length("t") - F.length(clean)).cast("long").alias("redacted_chars"),
        F.md5(clean).alias("scrub_md5"),
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+1 \d{3}-\d{3}-\d{4}"
_PII_IP = r"\b(\d{1,3}\.){3}\d{1,3}\b"

O_TXT_PII = f"""
WITH dirty AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com or +1 555-000-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
  FROM documents
), scrubbed AS (
  SELECT doc_id, t,
         regexp_replace(
           regexp_replace(
             regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g'),
           '{_PII_IP}', '<IP>', 'g') AS clean
  FROM dirty
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS BIGINT) AS n_ipv4,
       CAST(len(t) - len(clean) AS BIGINT) AS redacted_chars,
       md5(clean) AS scrub_md5
FROM scrubbed
"""


# --------------------------------------------------------------------------
# Sequence packing + training-mix assembly
# --------------------------------------------------------------------------


def q_pipe_seq_pack(spark, sf_dir):
    """Map every document onto its fixed-length (512-token) training
    windows: global token offset via the two-level prefix sum (see
    operators/packing.py — no single-reducer global sort), then the
    seq-window incidence by integer division.  bucket_width=64 keeps the
    sf0.01 fixture multi-bucket so the distributed path is what's tested.
    """
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", text.token_count("text").alias("n_tok")
    ).where(F.col("n_tok") > 0)
    return packing.pack_offsets(d, "doc_id", "n_tok", seq_len=512, bucket_width=64)


O_PIPE_PACK = packing.pack_oracle_sql(
    f"""src AS (
  SELECT doc_id,
         CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len({_TOKS}) END AS n_tok
  FROM documents
  WHERE (CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len({_TOKS}) END) > 0
)""",
    "doc_id",
    "n_tok",
    seq_len=512,
)

_MIX_WEIGHTS = {"en": 2.5, "de": 1.0, "fr": 0.25, "zh": 3.0}  # es: dropped


def q_pipe_mixture(spark, sf_dir):
    """Epoch-weighted domain mixture (langs stand in for domains): en×2.5,
    zh×3, de×1, fr×0.25, es dropped — integer repeats plus a deterministic
    hash-sampled fractional epoch, exploded lateral-style (narrow, linear
    in output rows; see operators/packing.py:mixture_weights).
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return packing.mixture_weights(docs, "doc_id", "lang", _MIX_WEIGHTS)


O_PIPE_MIXTURE = packing.mixture_oracle_sql(
    "src AS (SELECT doc_id, lang FROM documents)", "doc_id", "lang", _MIX_WEIGHTS
)


_BM25_TERMS = ["table", "join", "fast"]


def q_txt_bm25_topk(spark, sf_dir):
    """Top-15 documents by BM25 for a 3-term query — ranked retrieval with
    posting-list-bounded shuffle (terms filtered pre-shuffle; see
    operators/ranking.py)."""
    docs = _t(spark, sf_dir, "documents")
    return ranking.bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=15)


O_TXT_BM25 = ranking.bm25_oracle_sql("documents", "doc_id", "text", _BM25_TERMS, k=15)


def q_txt_tfidf_keywords(spark, sf_dir):
    """Top-3 TF-IDF keywords per document — keyword extraction with the
    BM25-proven ln convention; 6dp score, term tie-break."""
    docs = _t(spark, sf_dir, "documents")
    return ranking.tfidf_keywords(docs, "doc_id", "text", top_n=3)


O_TXT_TFIDF = ranking.tfidf_oracle_sql("documents", "doc_id", "text", top_n=3)


def q_txt_tfidf_sim_pairs(spark, sf_dir):
    """Sparse lexical near-dup pairs: tf-idf cosine ≥ 0.30 over an
    inverted-index self-join, stop terms (df > n/20) pruned to bound the
    posting lists — the no-embeddings member of the similarity ladder.
    The count() is one column-pruned scan (data-dependent df cap, same
    convention as the SemDeDup anchor count)."""
    docs = _t(spark, sf_dir, "documents")
    cap = max(2, docs.count() // 20)
    return ranking.tfidf_sim_pairs(docs, "doc_id", "text", 0.30, max_df=cap)


O_TXT_TFIDF_SIM = ranking.tfidf_sim_oracle_sql(
    "documents",
    "doc_id",
    "text",
    0.30,
    "SELECT greatest(2, count(*) // 20) FROM documents",
)


def q_pipe_assemble(spark, sf_dir):
    """End-to-end training-data ASSEMBLY as one plan: token-count floor →
    exact dedup (min-id per fingerprint) → sliding-window chunking →
    global sequence packing of the chunk stream.  The composition every
    pretraining pipeline runs between "raw corpus" and "token shards";
    each stage is the already-gated operator, composed lazily (no
    intermediate materialization).

    Output: one row per chunk with its global token offset and the
    training-sequence window(s) it lands in.  Scale: quality filter and
    dedup are narrow/one-shuffle; chunking is a zero-shuffle explode; the
    packing prefix-sum is two narrow shuffles (packing.py) — the whole
    assembly is 3 shuffles end to end.
    """
    docs = _t(spark, sf_dir, "documents")
    from .operators.dedup import exact_dedup
    from .operators.packing import chunk_documents, pack_offsets

    qualified = docs.where(text.token_count("text") >= 16)
    keep = exact_dedup(qualified, "doc_id", "text").select(
        F.col("canonical_id").alias("doc_id")
    )
    kept = qualified.join(keep, "doc_id", "left_semi")
    chunks = chunk_documents(kept, "doc_id", "text", window=64, overlap=16)
    # composite chunk key, collision-free by construction: chunk_idx < 2^24
    # would require a single document of >768M tokens (window 64 / stride
    # 48), far beyond anything a row can hold, and ids stay collision-free
    # up to 2^39 documents.  The guard raises instead of silently packing a
    # colliding key; the oracle replicates the identical key arithmetic so
    # the pack order is engine-exact.
    bound = 1 << 24
    ck = chunks.withColumn(
        "ckey",
        F.when(
            F.col("chunk_idx") < bound, F.col("id") * bound + F.col("chunk_idx")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("chunk_idx exceeds pack-key bound 2^24 for doc id "),
                    F.col("id").cast("string"),
                )
            )
        ),
    )
    packed = pack_offsets(ck, "ckey", "n_tokens", seq_len=64)
    # the key round-trips arithmetically — no join back needed
    return packed.select(
        F.expr(f"ckey div {bound}").alias("id"),
        (F.col("ckey") % bound).alias("chunk_idx"),
        "n_tokens",
        "offset",
        "first_seq",
        "last_seq",
    )


def _assemble_oracle() -> str:
    stride = 48
    return f"""
WITH toks AS (
  SELECT doc_id, text,
         CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len({_TOKS}) END AS n_tok
  FROM documents
),
qualified AS (SELECT doc_id, text FROM toks WHERE n_tok >= 16),
fp AS (
  SELECT doc_id, text,
         CAST(('0x' || substr(md5({_NORM}), 1, 15)) AS BIGINT) AS f
  FROM qualified
),
keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
kept AS (SELECT fp.doc_id, fp.text FROM fp SEMI JOIN keep USING (doc_id)),
t AS (
  SELECT doc_id AS id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks FROM kept
),
n AS (SELECT id, toks, CAST(len(toks) AS BIGINT) AS n FROM t),
idx AS (
  SELECT id, toks,
         unnest(range(0, 1 + (greatest(n - 64, 0) + {stride - 1}) // {stride})) AS chunk_idx
  FROM n
),
chunks AS (
  SELECT id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         CAST(len(toks[chunk_idx * {stride} + 1 : chunk_idx * {stride} + 64]) AS BIGINT) AS n_tokens,
         id * {1 << 24} + chunk_idx AS ckey
  FROM idx
),
packed AS (
  SELECT *,
         CAST(sum(n_tokens) OVER (ORDER BY ckey ROWS UNBOUNDED PRECEDING)
              - n_tokens AS BIGINT) AS "offset"
  FROM chunks
)
SELECT id, chunk_idx, n_tokens, "offset",
       "offset" // 64 AS first_seq,
       ("offset" + n_tokens - 1) // 64 AS last_seq
FROM packed
"""


O_PIPE_ASSEMBLE = _assemble_oracle()


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


def q_pipe_chunking(spark, sf_dir):
    """Sliding-window chunking of every document (64-token windows, 16
    overlap) — the RAG-ingestion / long-context prep primitive.  Pure
    per-row explode, zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return packing.chunk_documents(docs, "doc_id", "text", window=64, overlap=16)


O_PIPE_CHUNK = packing.chunk_oracle_sql("documents", "doc_id", "text", 64, 16)


def q_sample_source_quota(spark, sf_dir):
    """Per-source document cap (quota 40, hash-ranked) — the corpus
    balancing step before mixture weighting."""
    docs = _t(spark, sf_dir, "documents")
    from .operators import sampling

    return sampling.quota_by_group(docs, "doc_id", "source", quota=40).select(
        "doc_id", "source", "qrank"
    )


def _quota_oracle():
    from .operators.sampling import quota_oracle_sql

    inner = quota_oracle_sql("documents", "doc_id", "source", 40)
    return f"SELECT doc_id, source, qrank FROM ({inner})"


O_SAMPLE_QUOTA = _quota_oracle()


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


def q_sample_token_budget(spark, sf_dir):
    """Per-source token-budget prefix (5000 tokens, hash-ordered) — corpus
    construction under a per-source allowance."""
    from .operators import sampling

    docs = _t(spark, sf_dir, "documents")
    docs = docs.withColumn("n_tokens", text.token_count("text"))
    return sampling.token_budget_sample(
        docs, "doc_id", "source", "n_tokens", budget=5000
    ).select("doc_id", "source", "n_tokens", "cum_tokens")


O_TOKEN_BUDGET = f"""
WITH t AS (
  SELECT doc_id, source,
         CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len({_TOKS}) END AS n_tokens,
         CAST('0x' || substr(md5('budget:' || CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS u
  FROM documents
), c AS (
  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(sum(CAST(n_tokens AS BIGINT)) OVER (
           PARTITION BY source ORDER BY u, doc_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, source, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 5000
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


def q_pipe_length_buckets(spark, sf_dir):
    """Padding-waste ledger for length-grouped batching: power-of-two token
    buckets with per-bucket doc/token/padding counts and integer-permille
    waste — the numbers that pick a bucket ladder before a training run."""
    docs = _t(spark, sf_dir, "documents")
    docs = docs.withColumn("n_tokens", text.token_count("text"))
    return packing.length_buckets(docs, "n_tokens")


O_LENGTH_BUCKETS = packing.length_buckets_oracle_sql("documents", f"len({_TOKS})")


def q_sample_weighted(spark, sf_dir):
    """Weighted sampling without replacement (A-ES exponential race),
    inclusion mass ∝ document length — 'sample long docs more', stable
    under corpus growth."""
    from .operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.weighted_priority_sample(docs, "doc_id", "n_chars", k=100).select(
        "doc_id", "source", "n_chars", "priority_q"
    )


def _weighted_oracle():
    from .operators.sampling import weighted_priority_oracle_sql

    return weighted_priority_oracle_sql(
        "documents", "doc_id", "n_chars", 100,
        select_cols="doc_id, source, n_chars",
    )


O_SAMPLE_WEIGHTED = _weighted_oracle()


def q_dedup_canonical_corpus(spark, sf_dir):
    """Apply-dedup — the corpus AFTER near-duplicate collapse: LSH pairs →
    connected components → keep only each group's canonical member (min
    doc_id) plus every untouched document; report the surviving corpus per
    source (docs, tokens, min id).  This is the step that actually shrinks
    the training set; the cluster gate (dedup_near_clusters) only reports
    group structure.  Scale: the non-canonical member set is tiny relative
    to the corpus (duplicates only), so the final filter is a broadcast
    anti-join against a small set, not a corpus-wide shuffle."""
    from .operators.graph_algos import connected_components

    docs = _t(spark, sf_dir, "documents")
    sig = dedup.minhash_signature(
        docs, "doc_id", "text", shingles=doc_shingles(spark, sf_dir)
    )
    pairs = dedup.lsh_candidate_pairs(sig, max_bucket_size=64)
    edges = pairs.select(
        F.lpad(F.col("id_a").cast("string"), 12, "0").alias("src_key"),
        F.lpad(F.col("id_b").cast("string"), 12, "0").alias("dst_key"),
    )
    cc = connected_components(edges, undirected=True)
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


def q_sketch_hll_overlap(spark, sf_dir):
    """HLL set algebra — distinct user-day overlap between 'click' and
    'purchase' activity, |A∩B| by inclusion-exclusion over max-merged
    registers (see sketches.hll_overlap).  The key is the integer
    user_id·2^16 + epoch-day (no strftime in the trust base)."""
    ev = _t(spark, sf_dir, "events")
    keyed = ev.withColumn(
        "user_day",
        (
            F.col("user_id") * 65536
            + F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        ).cast("long"),
    )
    return sketches.hll_overlap(
        keyed, "user_day", "event_type", "click", "purchase", p=8
    )


def _hll_overlap_oracle() -> str:
    from .operators.sketches import hll_overlap_oracle_sql

    src = (
        "SELECT event_type AS tag,\n"
        "       user_id * 65536 + datediff('day', DATE '1970-01-01',"
        " CAST(ts AS DATE)) AS key\n"
        "FROM events WHERE event_type IN ('click', 'purchase')"
    )
    return hll_overlap_oracle_sql(src, "click", "purchase", p=8)


O_SKETCH_HLL_OVERLAP = _hll_overlap_oracle()


def q_pipe_temperature_mix(spark, sf_dir):
    """Temperature-scaled (α=0.5) source sampling weights with a 10M-token
    budget: p_s ∝ sqrt(n_tokens_s), quantized to integer micro-units before
    normalization so every downstream number is exact integer arithmetic."""
    docs = _t(spark, sf_dir, "documents")
    return packing.temperature_mixture(
        docs, "source", text.token_count("text"), budget_tokens=10_000_000
    )


O_PIPE_TEMPERATURE = packing.temperature_mixture_oracle_sql(
    "documents", "source", f"len({_TOKS})", budget_tokens=10_000_000
)


def q_pipe_interleave(spark, sf_dir):
    """Round-robin source interleave: the deterministic shard-write order
    that keeps every training batch source-diverse.  First 120 positions."""
    docs = _t(spark, sf_dir, "documents")
    return packing.curriculum_interleave(docs, "doc_id", "source", k=120)


O_PIPE_INTERLEAVE = packing.curriculum_interleave_oracle_sql(
    "documents", "doc_id", "source", k=120
)


def q_txt_hash_embedding(spark, sf_dir):
    """Feature-hashed signed TF embeddings (dim 32, hashing trick) for the
    first 400 documents — sparse (id, slot, val) long format, integer-exact.
    The filter prunes at the scan; the operator itself is corpus-wide."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    return text.hashed_tf_embedding(docs, "doc_id", "text", dim=32)


O_TXT_HASH_EMB = text.hashed_tf_oracle_sql(
    "src AS (SELECT doc_id AS id, text FROM documents WHERE doc_id < 400)", dim=32
)


def q_txt_bigram_nll(spark, sf_dir):
    """Interpolated bigram-LM perplexity filter: per-document NLL under
    p(w2|w1) = half conditional bigram + half add-one unigram, integer
    micro-lognats quantized per token before the doc sum."""
    docs = _t(spark, sf_dir, "documents")
    return text.bigram_nll(docs, "doc_id", "text")


def q_txt_pmi_collocations(spark, sf_dir):
    """Top-20 collocations by pointwise mutual information (min bigram
    count 5): the association-strength ranking raw bigram counts can't
    give — integer micro-nat PMI, ties broken on (w1, w2)."""
    docs = _t(spark, sf_dir, "documents")
    return text.pmi_collocations(docs, "text", min_count=5, k=20)


def q_txt_source_jsd(spark, sf_dir):
    """Source-vs-corpus token-distribution drift: Jensen-Shannon divergence
    on the top-500 vocabulary + OTHER bucket, nano-nat integer sums."""
    docs = _t(spark, sf_dir, "documents")
    return text.source_jsd(docs, "source", "text", top_v=500)


O_TXT_SOURCE_JSD = text.source_jsd_oracle_sql("documents", "source", "text", top_v=500)


def q_pipe_pack_pairs(spark, sf_dir):
    """Rank-pairing packer: longest doc with shortest (global length rank
    via the histogram two-level trick — no global sort), pair fill vs a
    128-token window."""
    docs = _t(spark, sf_dir, "documents")
    docs = docs.withColumn("n_tokens", text.token_count("text"))
    return packing.pack_pairs(docs, "doc_id", "n_tokens", seq_len=128)


O_PIPE_PACK_PAIRS = packing.pack_pairs_oracle_sql(
    "documents", "doc_id", f"len({_TOKS})", seq_len=128
)


def q_txt_char_entropy(spark, sf_dir):
    """Character-level Shannon entropy per document (nano-nat integer
    sums) — the cheap gibberish/base64-junk detector."""
    docs = _t(spark, sf_dir, "documents")
    return text.char_entropy(docs, "doc_id", "text")


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


def q_sample_class_balance(spark, sf_dir):
    """Balanced-class downsample of the labeled embedding table: every
    label keeps exactly min-class-count rows, membership pinned by the
    deterministic keyed-hash order."""
    from .operators import sampling

    emb = _t(spark, sf_dir, "embeddings")
    return sampling.class_balance(emb, "vec_id", "label")


def _class_balance_oracle():
    from .operators.sampling import class_balance_oracle_sql

    return class_balance_oracle_sql("embeddings", "vec_id", "label")


O_CLASS_BALANCE = _class_balance_oracle()


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


def q_pipe_dataset_card(spark, sf_dir):
    """Dataset card: the per-(source, lang) summary table a corpus release
    ships with — volume (docs, tokens, median doc length), quality
    (mean quality score), and integrity (exact-duplicate rate) in one
    scan + one aggregate.  Composes the engine's own primitives: filtered
    whitespace tokens, integer quality millionths, md5 fingerprints.
    Median via percentile ≡ quantile_cont (proven bit-exact trust base);
    every other statistic is exact integer arithmetic.

    Scale: one narrow projection + one hash aggregate keyed on
    (source, lang) — a tiny group universe; the only distinct is the
    fingerprint count, map-side partially aggregated."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.select(
        "source",
        "lang",
        text.token_count("text").alias("n_tokens"),
        text.quality_millionths("text").alias("q_micro"),
        text.fingerprint64("text").alias("fp"),
    )
    return (
        per.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.expr("percentile(n_tokens, 0.5)").alias("p50_tokens"),
            F.expr("sum(q_micro) div count(*)").alias("mean_quality_micro"),
            F.countDistinct("fp").alias("n_unique"),
        )
        .select(
            "*",
            F.expr("(n_docs - n_unique) * 1000 div n_docs").alias("dup_permille"),
        )
        .orderBy("source", "lang")
    )


O_PIPE_DATASET_CARD = f"""
WITH per AS (
  SELECT source, lang,
         len({_TOKS}) AS n_tokens,
         CAST(('0x' || substr(md5({_NORM}), 1, 15)) AS BIGINT) AS fp,
         greatest(len({_TOKS}), 1) AS s,
         COALESCE(list_sum(list_transform({_TOKS}, w -> len(w))), 0) AS total,
         len(list_filter({_TOKS}, w -> list_contains({_SW_LIST}, w))) AS hits
  FROM documents
), q AS (
  SELECT source, lang, n_tokens, fp,
         CAST(4000 * least(n_tokens, 100)
              + (300000 * least(total, 8 * s)) // (8 * s)
              + (300000 * least(5 * hits, 2 * s)) // (2 * s) AS BIGINT)
           AS q_micro
  FROM per
)
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       quantile_cont(n_tokens, 0.5) AS p50_tokens,
       CAST(sum(q_micro) // count(*) AS BIGINT) AS mean_quality_micro,
       count(DISTINCT fp) AS n_unique,
       CAST((count(*) - count(DISTINCT fp)) * 1000 // count(*) AS BIGINT)
         AS dup_permille
FROM q GROUP BY source, lang ORDER BY source, lang
"""


def q_txt_readability(spark, sf_dir):
    """Flesch-style readability per document: vowel-run syllable heuristic,
    terminator-run sentence count, integer milli-ratios and a micro-scaled
    reading-ease score — all engine-exact integer arithmetic; empty docs
    emit NULL score.  Narrow projection, no data-keyed shuffle."""
    docs = _docs_spread(spark, sf_dir)
    return text.readability_stats(docs, "doc_id", "text")


O_TXT_READABILITY = f"""
WITH base AS (
  SELECT doc_id,
         len({_TOKS}) AS words,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sentences,
         CAST(COALESCE(list_sum(list_transform({_TOKS},
           w -> greatest(len(list_filter(
                  string_split_regex(lower(w), '[^aeiouy]+'),
                  s -> s <> '')), 1))), 0) AS BIGINT) AS syllables
  FROM documents
), ratios AS (
  SELECT doc_id, words, sentences, syllables,
         (words * 1000) // sentences AS wps_milli,
         (syllables * 1000) // nullif(words, 0) AS spw_milli
  FROM base
)
SELECT doc_id, CAST(words AS BIGINT) AS words,
       CAST(sentences AS BIGINT) AS sentences, syllables,
       CAST(wps_milli AS BIGINT) AS wps_milli,
       CAST(spw_milli AS BIGINT) AS spw_milli,
       CAST(206835000 - 1015 * wps_milli - 84600 * spw_milli AS BIGINT)
         AS flesch_micro
FROM ratios
"""




def q_sample_reservoir_group(spark, sf_dir):
    """Deterministic k-per-source sample: bottom-k by keyed 60-bit hash
    priority within each source (the distributed reservoir); rank <= k
    plans as WindowGroupLimit, so map tasks pre-prune to local top-k."""
    from .operators.sampling import reservoir_per_group

    docs = _t(spark, sf_dir, "documents")
    return (
        reservoir_per_group(docs, "source", "doc_id", k=5)
        .select("doc_id", "source", "n_chars")
        .orderBy("source", "doc_id")
    )


O_SAMPLE_RESERVOIR = """
SELECT doc_id, source, n_chars FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY CAST('0x' || substr(md5('rsv:' || CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) ASC,
                    doc_id ASC
         ) AS rn
  FROM documents
) WHERE rn <= 5 ORDER BY source, doc_id
"""




def q_pipe_dataset_diff(spark, sf_dir):
    """Corpus drift between two release snapshots (simulated as two
    independent 85 % keyed-hash views of the documents table): per
    source, keys added / removed / kept and the char mass moving each
    way — one full-outer join on the key, classified row-locally."""
    from .operators.profiling import dataset_diff
    from .operators.sampling import _threshold, _u60

    docs = _t(spark, sf_dir, "documents")
    t = _threshold(0.85)
    v1 = docs.where(
        _u60(F.concat(F.lit("v1:"), F.col("doc_id").cast("string"))) < t
    )
    v2 = docs.where(
        _u60(F.concat(F.lit("v2:"), F.col("doc_id").cast("string"))) < t
    )
    return dataset_diff(v1, v2, "doc_id", "source", "n_chars").select(
        F.col("grp").alias("source"),
        "n_added", "n_removed", "n_kept", "size_added", "size_removed",
    )


def _dataset_diff_oracle() -> str:
    from .operators.sampling import _threshold

    t = _threshold(0.85)
    return f"""
WITH v1 AS (
  SELECT doc_id, source, n_chars FROM documents
  WHERE CAST('0x' || substr(md5('v1:' || CAST(doc_id AS VARCHAR)), 1, 15)
        AS BIGINT) < {t}
),
v2 AS (
  SELECT doc_id, source, n_chars FROM documents
  WHERE CAST('0x' || substr(md5('v2:' || CAST(doc_id AS VARCHAR)), 1, 15)
        AS BIGINT) < {t}
),
j AS (
  SELECT COALESCE(v2.source, v1.source) AS grp,
         CASE WHEN v1.doc_id IS NULL THEN 1 ELSE 0 END AS added,
         CASE WHEN v2.doc_id IS NULL THEN 1 ELSE 0 END AS removed,
         CASE WHEN v1.doc_id IS NOT NULL AND v2.doc_id IS NOT NULL
              THEN 1 ELSE 0 END AS kept,
         CASE WHEN v1.doc_id IS NULL THEN v2.n_chars ELSE 0 END AS sz_a,
         CASE WHEN v2.doc_id IS NULL THEN v1.n_chars ELSE 0 END AS sz_r
  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
)
SELECT grp AS source,
       CAST(sum(added) AS BIGINT) AS n_added,
       CAST(sum(removed) AS BIGINT) AS n_removed,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       CAST(sum(sz_a) AS BIGINT) AS size_added,
       CAST(sum(sz_r) AS BIGINT) AS size_removed
FROM j GROUP BY grp ORDER BY source
"""


O_PIPE_DATASET_DIFF = _dataset_diff_oracle()


def q_privacy_k_anon(spark, sf_dir):
    """k-anonymity audit over the document corpus: quasi-identifiers
    (lang, source, 100-char length band), thresholds k = 2/5/20 — how
    many rows sit in equivalence classes small enough to re-identify.
    One hash-aggregate over the quasi columns; the shuffle carries one
    row per class."""
    from .operators.privacy import k_anonymity_report

    docs = _t(spark, sf_dir, "documents")
    quasi = [
        F.col("lang"),
        F.col("source"),
        F.floor(F.col("n_chars") / 100).cast("long"),
    ]
    return k_anonymity_report(docs, quasi, ks=(2, 5, 20))


O_PRIVACY_K_ANON = """
WITH cls AS (
  SELECT lang, source, n_chars // 100 AS b, count(*) AS sz
  FROM documents GROUP BY 1, 2, 3
),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS nc, CAST(sum(sz) AS BIGINT) AS nr,
         CAST(min(sz) AS BIGINT) AS mcs,
         CAST(sum(CASE WHEN sz < 2 THEN sz ELSE 0 END) AS BIGINT) AS rb2,
         CAST(sum(CASE WHEN sz < 2 THEN 1 ELSE 0 END) AS BIGINT) AS cb2,
         CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS rb5,
         CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS cb5,
         CAST(sum(CASE WHEN sz < 20 THEN sz ELSE 0 END) AS BIGINT) AS rb20,
         CAST(sum(CASE WHEN sz < 20 THEN 1 ELSE 0 END) AS BIGINT) AS cb20
  FROM cls
)
SELECT CAST(2 AS BIGINT) AS k, nc AS n_classes, nr AS n_rows,
       rb2 AS n_rows_below_k, cb2 AS n_classes_below_k,
       mcs AS min_class_size FROM a
UNION ALL SELECT 5, nc, nr, rb5, cb5, mcs FROM a
UNION ALL SELECT 20, nc, nr, rb20, cb20, mcs FROM a
ORDER BY k
"""


def q_privacy_k_suppress(spark, sf_dir):
    """Suppression enforcement: drop every document whose (lang, source,
    length-band) class has fewer than 5 members, report surviving
    counts per source.  Semi-join of the corpus against the >=k classes
    (broadcast when tiny; AQE decides)."""
    from .operators.privacy import k_suppress

    docs = _t(spark, sf_dir, "documents")
    quasi = [
        F.col("lang"),
        F.col("source"),
        F.floor(F.col("n_chars") / 100).cast("long"),
    ]
    kept = k_suppress(docs, quasi, 5)
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
        )
        .orderBy("source")
    )


O_PRIVACY_K_SUPPRESS = """
WITH t AS (
  SELECT source, doc_id,
         count(*) OVER (PARTITION BY lang, source, n_chars // 100) AS sz
  FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
FROM t WHERE sz >= 5 GROUP BY source ORDER BY source
"""


def q_privacy_l_diversity(spark, sf_dir):
    """l-diversity audit: quasi-identifiers (lang, 200-char length band),
    sensitive attribute = source — classes that are k-anonymous but
    source-homogeneous still disclose provenance.  Two map-side-combined
    aggregates; shuffles carry one row per (class, source) then per
    class."""
    from .operators.privacy import l_diversity_report

    docs = _t(spark, sf_dir, "documents")
    quasi = [F.col("lang"), F.floor(F.col("n_chars") / 200).cast("long")]
    return l_diversity_report(docs, quasi, F.col("source"), ls=(2, 3, 5))


O_PRIVACY_L_DIVERSITY = """
WITH cls AS (
  SELECT lang, n_chars // 200 AS b, count(*) AS sz,
         count(DISTINCT source) AS nd
  FROM documents GROUP BY 1, 2
),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS nc, CAST(sum(sz) AS BIGINT) AS nr,
         CAST(min(nd) AS BIGINT) AS mds,
         CAST(sum(CASE WHEN nd < 2 THEN sz ELSE 0 END) AS BIGINT) AS rb2,
         CAST(sum(CASE WHEN nd < 2 THEN 1 ELSE 0 END) AS BIGINT) AS cb2,
         CAST(sum(CASE WHEN nd < 3 THEN sz ELSE 0 END) AS BIGINT) AS rb3,
         CAST(sum(CASE WHEN nd < 3 THEN 1 ELSE 0 END) AS BIGINT) AS cb3,
         CAST(sum(CASE WHEN nd < 5 THEN sz ELSE 0 END) AS BIGINT) AS rb5,
         CAST(sum(CASE WHEN nd < 5 THEN 1 ELSE 0 END) AS BIGINT) AS cb5
  FROM cls
)
SELECT CAST(2 AS BIGINT) AS l, nc AS n_classes, nr AS n_rows,
       rb2 AS n_rows_below_l, cb2 AS n_classes_below_l,
       mds AS min_distinct_sensitive FROM a
UNION ALL SELECT 3, nc, nr, rb3, cb3, mds FROM a
UNION ALL SELECT 5, nc, nr, rb5, cb5, mds FROM a
ORDER BY l
"""


def q_rag_mmr_rerank(spark, sf_dir):
    """MMR diversification re-rank: cosine top-20 candidates for the fixed
    query vector, greedily re-ranked to 8 picks maximizing 7·rel −
    3·max-sim-to-picked (λ = 0.7 in integer micro-units) — the standard
    second RAG stage after rag_hybrid_rrf's first-stage retrieval.  The
    greedy runs as one bounded applyInPandas group; the oracle unrolls
    the same 8 greedy steps as a materialized CTE chain."""
    from .operators.ranking import mmr_rerank

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
    from .operators.dedup import cdc_chunks

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


def q_clean_unicode_normalize(spark, sf_dir):
    """Unicode NFC canonicalization audit: decompose every 'e' in the
    corpus into 'e' + COMBINING ACUTE (U+0301) — the mixed-normalization
    state a multi-source crawl arrives in — NFC-normalize it back, and
    prove per source that (a) composition shortened the text by exactly
    the combining-mark count and (b) the result equals the precomposed
    form ('é', U+00E9).  Spark side = Arrow-batched pandas UDF over
    Python unicodedata; oracle = DuckDB nfc_normalize (utf8proc) — two
    independent Unicode implementations pinned against each other."""
    from .operators.text import nfc_normalize

    docs = _t(spark, sf_dir, "documents")
    dec = docs.select(
        "doc_id",
        "source",
        F.regexp_replace("text", "e", "e\u0301").alias("dec"),
        F.regexp_replace("text", "e", "\u00e9").alias("composed"),
    )
    n = dec.withColumn("nfc", nfc_normalize(F.col("dec")))
    return (
        n.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.length("dec")).cast("long").alias("len_decomposed"),
            F.sum(F.length("nfc")).cast("long").alias("len_nfc"),
            F.sum((F.col("nfc") != F.col("dec")).cast("long")).alias("n_changed"),
            F.sum((F.col("nfc") == F.col("composed")).cast("long")).alias(
                "n_restored"
            ),
        )
        .orderBy("source")
    )


O_CLEAN_UNICODE_NORMALIZE = """
WITH d AS (
  SELECT doc_id, source,
         replace(text, 'e', 'e' || chr(769)) AS dec,
         replace(text, 'e', chr(233)) AS composed
  FROM documents
),
n AS (SELECT *, nfc_normalize(dec) AS nfc FROM d)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(dec)) AS BIGINT) AS len_decomposed,
       CAST(sum(length(nfc)) AS BIGINT) AS len_nfc,
       CAST(sum(CASE WHEN nfc <> dec THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       CAST(sum(CASE WHEN nfc = composed THEN 1 ELSE 0 END) AS BIGINT) AS n_restored
FROM n GROUP BY source ORDER BY source
"""


def q_profile_drift_psi(spark, sf_dir):
    """PSI drift report between two corpus snapshots: reference = even
    doc_ids at their true length band, current = odd doc_ids with a
    simulated +25% document growth (the classic silent-drift scenario a
    new crawl introduces).  Feature = 200-char length band; integer-micro
    PSI contributions sum exactly (operators/profiling.py:psi_drift) —
    complements emb_drift (embedding-centroid drift) with
    feature-distribution drift."""
    from .operators.profiling import psi_drift

    docs = _t(spark, sf_dir, "documents")
    ref = docs.where(F.col("doc_id") % 2 == 0).select(
        F.expr("n_chars div 200").alias("band")
    )
    cur = docs.where(F.col("doc_id") % 2 == 1).select(
        F.expr("(n_chars * 5) div 800").alias("band")
    )
    return psi_drift(ref, cur, "band")


O_PROFILE_DRIFT_PSI = """
WITH r AS (
  SELECT n_chars // 200 AS bucket, count(*) AS n_ref
  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
),
c AS (
  SELECT (n_chars * 5) // (4 * 200) AS bucket, count(*) AS n_cur
  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1
),
j AS (
  SELECT COALESCE(r.bucket, c.bucket) AS bucket,
         COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
  FROM r FULL OUTER JOIN c ON r.bucket = c.bucket
),
t AS (
  SELECT *, count(*) OVER () AS nb,
         sum(n_ref) OVER () AS tref, sum(n_cur) OVER () AS tcur
  FROM j
),
p AS (
  SELECT bucket, n_ref, n_cur,
         CAST(floor((
           (CAST(n_cur + 1 AS DOUBLE) / CAST(tcur + nb AS DOUBLE)
            - CAST(n_ref + 1 AS DOUBLE) / CAST(tref + nb AS DOUBLE))
           -- factors cast to DOUBLE BEFORE multiplying (mirrors
           -- operators/profiling.py psi_drift): counts < 2^53 are exact
           -- in double and the product is the same single rounding the
           -- bigint-product cast would give, without int64 overflow
           * ln((CAST(n_cur + 1 AS DOUBLE) * CAST(tref + nb AS DOUBLE))
                / (CAST(n_ref + 1 AS DOUBLE) * CAST(tcur + nb AS DOUBLE)))
         ) * 1000000.0 + 0.5) AS BIGINT) AS psi_contrib_micro
  FROM t
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
       psi_contrib_micro,
       CAST(sum(psi_contrib_micro) OVER () AS BIGINT) AS psi_total_micro
FROM p ORDER BY bucket
"""


def q_pipe_epoch_shuffle(spark, sf_dir):
    """Reproducible epoch shuffle ledger: 2 training epochs × 8 shards,
    each epoch an independent deterministic permutation (hash of
    salt:epoch:doc_id).  Per (epoch, shard): row count, doc_id sum, and
    the min/max/XOR of the 60-bit order keys — the XOR pins exact shard
    membership (order-independent, overflow-free), min/max pin the order
    envelope.  Narrow except the epoch explode; writers partition by
    (epoch, shard), so no shuffle is ever global."""
    from .operators.sampling import epoch_shuffle

    docs = _t(spark, sf_dir, "documents")
    sh = epoch_shuffle(docs, "doc_id", epochs=2, n_shards=8)
    return (
        sh.groupBy("epoch", "shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
            F.min("order_key").alias("min_okey"),
            F.max("order_key").alias("max_okey"),
            F.expr("bit_xor(order_key)").cast("long").alias("xor_okey"),
        )
        .orderBy("epoch", "shard")
    )


O_PIPE_EPOCH_SHUFFLE = """
WITH e AS (
  SELECT doc_id, CAST(unnest(range(1, 3)) AS BIGINT) AS epoch FROM documents
),
h AS (
  SELECT epoch, doc_id,
         CAST(('0x' || substr(md5('epoch:' || epoch || ':' || doc_id), 1, 15))
              AS BIGINT) AS okey
  FROM e
)
SELECT epoch, okey % 8 AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(min(okey) AS BIGINT) AS min_okey,
       CAST(max(okey) AS BIGINT) AS max_okey,
       CAST(bit_xor(okey) AS BIGINT) AS xor_okey
FROM h GROUP BY epoch, shard ORDER BY epoch, shard
"""


def q_privacy_t_closeness(spark, sf_dir):
    """t-closeness audit completing the privacy trio: quasi-identifiers
    (lang, 200-char length band), sensitive attribute = source — classes
    whose source DISTRIBUTION diverges from the corpus marginal by total
    variation > t disclose provenance even when l-diverse.  Exact integer
    rational TVD, thresholds t = 0.2/0.35/0.5 (scaled 1e6); one
    (class,value) aggregate + broadcast value-marginal join."""
    from .operators.privacy import t_closeness_report

    docs = _t(spark, sf_dir, "documents")
    quasi = [F.col("lang"), F.floor(F.col("n_chars") / 200).cast("long")]
    return t_closeness_report(docs, quasi, F.col("source"))


O_PRIVACY_T_CLOSENESS = """
WITH base AS (SELECT lang, n_chars // 200 AS b, source AS s FROM documents),
gv AS (SELECT s, count(*) AS cnt_v FROM base GROUP BY s),
n AS (SELECT count(*) AS n_total FROM base),
cv AS (SELECT lang, b, s, count(*) AS cnt_cv FROM base GROUP BY 1, 2, 3),
jw AS (
  SELECT cv.lang, cv.b, cv.cnt_cv, gv.cnt_v, n.n_total,
         sum(cv.cnt_cv) OVER (PARTITION BY cv.lang, cv.b) AS sz
  FROM cv JOIN gv USING (s) CROSS JOIN n
),
cls AS (
  SELECT lang, b, max(sz) AS sz, max(n_total) AS n_total,
         sum(cnt_v) AS pg,
         sum(abs(cnt_cv * n_total - cnt_v * sz)) AS nump
  FROM jw GROUP BY lang, b
),
cls2 AS (
  -- 128-bit (HUGEINT) BEFORE the *1000000 products: num can sit near
  -- 2^63, so num*scale must not run in BIGINT.  HUGEINT `//` truncates
  -- exactly like Spark's DECIMAL(38,0) `div` on non-negative operands
  -- (DECIMAL `//` would NOT work here — DuckDB returns un-floored
  -- DOUBLE for it).  Spark side: operators/privacy.py num_d/den_d.
  SELECT sz,
         CAST(nump + sz * (n_total - pg) AS HUGEINT) AS num,
         CAST(2 * sz * n_total AS HUGEINT) AS den
  FROM cls
),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS nc, CAST(sum(sz) AS BIGINT) AS nr,
         CAST(max(num * 1000000 // den) AS BIGINT) AS mt,
         CAST(sum(CASE WHEN num * 1000000 > 200000 * den THEN sz ELSE 0 END) AS BIGINT) AS ra1,
         CAST(sum(CASE WHEN num * 1000000 > 200000 * den THEN 1 ELSE 0 END) AS BIGINT) AS ca1,
         CAST(sum(CASE WHEN num * 1000000 > 350000 * den THEN sz ELSE 0 END) AS BIGINT) AS ra2,
         CAST(sum(CASE WHEN num * 1000000 > 350000 * den THEN 1 ELSE 0 END) AS BIGINT) AS ca2,
         CAST(sum(CASE WHEN num * 1000000 > 500000 * den THEN sz ELSE 0 END) AS BIGINT) AS ra3,
         CAST(sum(CASE WHEN num * 1000000 > 500000 * den THEN 1 ELSE 0 END) AS BIGINT) AS ca3
  FROM cls2
)
SELECT CAST(200000 AS BIGINT) AS t_scaled, nc AS n_classes, nr AS n_rows,
       ra1 AS n_rows_above_t, ca1 AS n_classes_above_t,
       mt AS max_tvd_scaled FROM a
UNION ALL SELECT 350000, nc, nr, ra2, ca2, mt FROM a
UNION ALL SELECT 500000, nc, nr, ra3, ca3, mt FROM a
ORDER BY t_scaled
"""


def q_mm_binary_ingest(spark, sf_dir):
    """Loose-file multimodal round-trip: export the first 100 documents
    as one binary file each (executor-parallel foreachPartition), ingest
    the directory back through Spark's binaryFile source, and verify
    payload integrity (byte length + md5) against the corpus — the
    ingestion path an image/audio corpus takes into the engine."""
    import os as _os

    from .sources import io as _io

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


def q_txt_bpe_train(spark, sf_dir):
    """Full BPE tokenizer training, 6 merge rounds over the document
    corpus: the corpus is scanned once into a word-frequency table, then
    every round is a vocabulary-sized pair-count aggregate + argmax +
    double-replace merge (operators/tokenizer.py).  The learned merge
    table is the artifact a tokenizer ships with."""
    from .operators.tokenizer import bpe_train

    docs = _t(spark, sf_dir, "documents")
    return bpe_train(docs, "text", n_merges=6)


def _bpe_train_oracle():
    from .operators.tokenizer import bpe_train_oracle_sql

    return bpe_train_oracle_sql("documents", 6)


O_TXT_BPE_TRAIN = _bpe_train_oracle()


def q_txt_bpe_vocab_tokens(spark, sf_dir):
    """Apply half of the tokenizer lifecycle: encode the corpus
    vocabulary with the 6 learned merge rules and report the top-20
    subword-token frequencies — the table a packing/sampling stage
    consumes.  Encoding runs on the vocabulary frame the trainer already
    holds; the corpus is never rescanned."""
    from .operators.tokenizer import bpe_token_frequencies

    docs = _t(spark, sf_dir, "documents")
    return bpe_token_frequencies(docs, "text", n_merges=6, top_n=20)


def _bpe_tokens_oracle():
    from .operators.tokenizer import bpe_token_frequencies_oracle_sql

    return bpe_token_frequencies_oracle_sql("documents", 6, 20)


O_TXT_BPE_VOCAB_TOKENS = _bpe_tokens_oracle()


def q_clean_impute_median(spark, sf_dir):
    """Group-median imputation over events.value with synthetic
    missingness (every 17th event id + genuine NULLs): per event type,
    how many holes were filled and the exact integer-cents sum of the
    imputed column.  Per-group percentile + one join back — no window."""
    from .operators.profiling import impute_median_stats

    ev = _t(spark, sf_dir, "events")
    missing = F.col("value").isNull() | (F.col("event_id") % 17 == 0)
    return impute_median_stats(ev, "event_type", "value", missing)


O_CLEAN_IMPUTE_MEDIAN = """
WITH base AS (
  SELECT event_type AS g,
         CASE WHEN value IS NULL OR event_id % 17 = 0 THEN NULL
              ELSE value END AS v
  FROM events
),
med AS (
  SELECT g, quantile_cont(v, 0.5) AS med FROM base
  WHERE v IS NOT NULL GROUP BY g
),
filled AS (
  SELECT base.g, v, med, coalesce(v, med) AS fv
  FROM base LEFT JOIN med ON base.g = med.g
)
SELECT g AS event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_missing,
       CAST(sum(CASE WHEN fv IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unfilled,
       round(min(med), 6) AS median,
       CAST(sum(CAST(round(100 * fv) AS BIGINT)) AS BIGINT)
         AS sum_imputed_cents
FROM filled GROUP BY g ORDER BY g
"""


def q_txt_bpe_fertility(spark, sf_dir):
    """Tokenizer-equity diagnosis: per-language fertility
    (subword-tokens per word) and bytes per token under the 6-merge
    learned BPE — the table that tells you which languages the
    vocabulary underserves.  Composes train → encode → per-lang join;
    exact integer permille."""
    from .operators.tokenizer import bpe_fertility

    docs = _t(spark, sf_dir, "documents")
    return bpe_fertility(docs, "text", "lang", n_merges=6)


def _bpe_fertility_oracle():
    from .operators.tokenizer import bpe_fertility_oracle_sql

    return bpe_fertility_oracle_sql("documents", "lang", 6)


O_TXT_BPE_FERTILITY = _bpe_fertility_oracle()


def q_txt_rake_keyphrases(spark, sf_dir):
    """RAKE keyphrases over the corpus: degree/frequency word scores
    summed per stopword-delimited phrase, integer milli, corpus top-20."""
    from .operators.text import rake_keyphrases

    docs = _t(spark, sf_dir, "documents")
    return rake_keyphrases(docs, "doc_id", "text", max_len=4, top_n=20)


def _rake_oracle() -> str:
    from .operators.text import BPE_PATTERN, QUALITY_STOPWORDS

    sw = ", ".join(f"'{s}'" for s in QUALITY_STOPWORDS)
    return f"""
WITH toks AS (
  SELECT doc_id, t.i AS pos, l[t.i] AS w
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '{BPE_PATTERN}') AS l
        FROM documents) d,
       unnest(range(1, len(l) + 1)) AS t(i)
),
f AS (
  SELECT doc_id, pos, w,
         CASE WHEN w IN ({sw}) OR NOT regexp_full_match(w, '[a-z]+')
              THEN 1 ELSE 0 END AS st
  FROM toks
),
p AS (
  SELECT doc_id, pos, w, st,
         sum(st) OVER (PARTITION BY doc_id ORDER BY pos) AS pid
  FROM f
),
ph AS MATERIALIZED (
  SELECT doc_id, pid, string_agg(w, ' ' ORDER BY pos) AS phrase,
         CAST(count(*) AS BIGINT) AS plen
  FROM p WHERE st = 0 GROUP BY 1, 2 HAVING count(*) <= 4
),
mem AS (SELECT phrase, plen, unnest(string_split(phrase, ' ')) AS w FROM ph),
stats AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq, CAST(sum(plen) AS BIGINT) AS deg
  FROM mem GROUP BY w
),
dph AS MATERIALIZED (
  SELECT phrase, CAST(count(*) AS BIGINT) AS n_occur FROM ph GROUP BY phrase
),
dmem AS (SELECT phrase, unnest(string_split(phrase, ' ')) AS w FROM dph),
scored AS (
  SELECT dmem.phrase, CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum((1000 * deg) // freq) AS BIGINT) AS score_milli
  FROM dmem JOIN stats USING (w) GROUP BY 1
)
SELECT scored.phrase, n_words, n_occur, score_milli
FROM scored JOIN dph ON scored.phrase = dph.phrase
ORDER BY score_milli DESC, n_occur DESC, scored.phrase LIMIT 20
"""


O_TXT_RAKE = _rake_oracle()


def q_sample_neyman(spark, sf_dir):
    """Neyman-optimal stratified sample of the corpus: 200 rows
    allocated across sources ∝ N_h·σ_h of document length; exact integer
    moments, milli-quantized weights, hash-bottom-k membership."""
    from .operators.sampling import neyman_allocation_sample

    docs = _t(spark, sf_dir, "documents")
    return neyman_allocation_sample(docs, "source", "n_chars", "doc_id", 200)


O_SAMPLE_NEYMAN = """
WITH stats AS (
  SELECT source AS g, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(n_chars) AS BIGINT) AS sx,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
  FROM documents GROUP BY source
),
weighted AS (
  SELECT g, n_rows,
         CAST(floor(CAST(n_rows AS DOUBLE) * sqrt(
           greatest(0.0, (CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)))
         ) * 1000) AS BIGINT) AS weight_milli
  FROM stats
),
alloc AS (
  SELECT g, n_rows, weight_milli,
         least(n_rows, (200 * weight_milli)
               // nullif((SELECT sum(weight_milli) FROM weighted), 0))
           AS alloc
  FROM weighted
),
ranked AS (
  SELECT source AS g, doc_id AS id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY CAST('0x' || substr(md5('neyman:'
                     || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT), doc_id
         ) AS rn
  FROM documents
),
picks AS (
  SELECT ranked.g, CAST(count(*) AS BIGINT) AS n_sampled,
         CAST(sum(id) AS BIGINT) AS sum_sampled_ids
  FROM ranked JOIN alloc ON ranked.g = alloc.g
  WHERE rn <= alloc GROUP BY ranked.g
)
SELECT alloc.g AS source, n_rows, weight_milli,
       CAST(COALESCE(alloc, 0) AS BIGINT) AS alloc,
       CAST(COALESCE(n_sampled, 0) AS BIGINT) AS n_sampled,
       sum_sampled_ids
FROM alloc LEFT JOIN picks ON alloc.g = picks.g
ORDER BY source
"""


def q_txt_skipgram_cooc(spark, sf_dir):
    """Windowed (±2) co-occurrence PMI over the corpus — the skip-gram
    statistic; array-local pair generation, top-30 micro-nat pairs."""
    from .operators.text import skipgram_cooc

    docs = _t(spark, sf_dir, "documents")
    return skipgram_cooc(docs, "text", window=2, min_count=5, k=30)


def _skipgram_oracle():
    from .operators.text import skipgram_cooc_oracle

    return skipgram_cooc_oracle(2, 5, 30)


O_TXT_SKIPGRAM = _skipgram_oracle()


def q_pipe_fim_split(spark, sf_dir):
    """FIM span corruption over the corpus: deterministic middle-span
    cut + prefix-suffix-middle reorder, digest-pinned per document."""
    from .operators.packing import fim_split

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    return fim_split(docs, "doc_id", "text")


O_PIPE_FIM_SPLIT = """
WITH b AS (
  SELECT doc_id AS id, text AS t, length(text) AS L,
         length(text) // 5 AS m,
         1 + CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT)
             % (length(text) - length(text) // 5 + 1) AS p
  FROM documents WHERE doc_id < 500
)
SELECT id, CAST(p - 1 AS BIGINT) AS n_prefix, CAST(m AS BIGINT) AS n_middle,
       CAST(L - m - (p - 1) AS BIGINT) AS n_suffix,
       md5(substr(t, 1, CAST(p - 1 AS INT)) || chr(31)
           || substr(t, CAST(p + m AS INT)) || chr(31)
           || substr(t, CAST(p AS INT), CAST(m AS INT))) AS psm_md5
FROM b ORDER BY id
"""


PIPELINE_REGISTRY: dict[str, tuple] = {
    "txt_readability": (q_txt_readability, O_TXT_READABILITY),
    "pipe_dataset_card": (q_pipe_dataset_card, O_PIPE_DATASET_CARD),
    "pipe_ccnet_buckets": (q_pipe_ccnet_buckets, O_PIPE_CCNET),
    "pipe_quality_ablation": (q_pipe_quality_ablation, O_PIPE_ABLATION),
    "pipe_pack_pairs": (q_pipe_pack_pairs, O_PIPE_PACK_PAIRS),
    "mm_simhash_pairs": (q_mm_simhash_pairs, O_MM_SIMHASH_PAIRS),
    "emb_pca_power": (q_emb_pca_power, O_EMB_PCA),
    "emb_abtt_topk": (q_emb_abtt_topk, O_EMB_ABTT),
    "sample_class_balance": (q_sample_class_balance, O_CLASS_BALANCE),
    "emb_label_outliers": (q_emb_label_outliers, O_EMB_LABEL_OUTLIERS),
    "dedup_line_corpus": (q_dedup_line_corpus, O_LINE_DEDUP),
    "dedup_source_overlap": (q_dedup_source_overlap, O_SOURCE_OVERLAP),
    "txt_char_entropy": (q_txt_char_entropy, text.CHAR_ENTROPY_ORACLE),
    "pipe_temperature_mix": (q_pipe_temperature_mix, O_PIPE_TEMPERATURE),
    "pipe_interleave": (q_pipe_interleave, O_PIPE_INTERLEAVE),
    "txt_hash_embedding": (q_txt_hash_embedding, O_TXT_HASH_EMB),
    "txt_bigram_nll": (q_txt_bigram_nll, text.BIGRAM_NLL_ORACLE),
    "txt_pmi_collocations": (q_txt_pmi_collocations, text.pmi_collocations_oracle()),
    "txt_source_jsd": (q_txt_source_jsd, O_TXT_SOURCE_JSD),
    "dedup_fuzzy_pairs": (q_dedup_fuzzy_pairs, O_DEDUP_FUZZY),
    "sketch_hll_overlap": (q_sketch_hll_overlap, O_SKETCH_HLL_OVERLAP),
    "pipe_length_buckets": (q_pipe_length_buckets, O_LENGTH_BUCKETS),
    "sample_weighted": (q_sample_weighted, O_SAMPLE_WEIGHTED),
    "dedup_canonical_corpus": (q_dedup_canonical_corpus, O_DEDUP_CANONICAL),
    "pipe_seq_pack": (q_pipe_seq_pack, O_PIPE_PACK),
    "pipe_mixture": (q_pipe_mixture, O_PIPE_MIXTURE),
    "pipe_chunking": (q_pipe_chunking, O_PIPE_CHUNK),
    "pipe_assemble": (q_pipe_assemble, O_PIPE_ASSEMBLE),
    "txt_bm25_topk": (q_txt_bm25_topk, O_TXT_BM25),
    "rag_hybrid_rrf": (q_rag_hybrid_rrf, O_RAG_RRF),
    "txt_tfidf_keywords": (q_txt_tfidf_keywords, O_TXT_TFIDF),
    "txt_tfidf_sim_pairs": (q_txt_tfidf_sim_pairs, O_TXT_TFIDF_SIM),
    "sample_source_quota": (q_sample_source_quota, O_SAMPLE_QUOTA),
    "dedup_repeated_spans": (q_dedup_repeated_spans, O_REPEATED_SPANS),
    "dedup_incremental_lsh": (q_dedup_incremental_lsh, O_INCREMENTAL_LSH),
    "sample_token_budget": (q_sample_token_budget, O_TOKEN_BUDGET),
    "emb_label_centroids": (q_emb_label_centroids, O_LABEL_CENTROIDS),
    "sim_pq_codes": (q_sim_pq_codes, O_SIM_PQ),
    "sim_pq_topk": (q_sim_pq_topk, O_SIM_PQ_TOPK),
    "sim_ivfpq_topk": (q_sim_ivfpq_topk, O_SIM_IVFPQ),
    "sim_recall_at_k": (q_sim_recall_at_k, O_SIM_RECALL),
    "sim_lsh_topk": (q_sim_lsh_topk, O_LSH_TOPK),
    "sim_knn_graph": (q_sim_knn_graph, O_KNN_GRAPH),
    "txt_top_bigrams": (q_txt_top_bigrams, O_TXT_BIGRAMS),
    "txt_bpe_tokens": (q_txt_bpe_tokens, O_TXT_BPE),
    "txt_bpe_pair_counts": (q_txt_bpe_pair_counts, O_TXT_BPE_PAIRS),
    "txt_unigram_nll": (q_txt_unigram_nll, O_TXT_UNIGRAM_NLL),
    "pipe_shard_manifest": (q_pipe_shard_manifest, O_PIPE_SHARD_MANIFEST),
    "agg_percentile": (q_agg_percentile, O_AGG_PCTL),
    "txt_stats": (q_txt_stats, O_TXT_STATS),
    "txt_repetition": (q_txt_repetition, O_TXT_REPETITION),
    "txt_pii_scrub": (q_txt_pii_scrub, O_TXT_PII),
    "txt_lang_id": (q_txt_lang_id, O_TXT_LANG),
    "txt_fingerprint": (q_txt_fingerprint, O_TXT_FP),
    "dedup_exact": (q_dedup_exact, O_DEDUP_EXACT),
    "dedup_minhash_sig": (q_dedup_minhash_sig, O_MINHASH_SIG),
    "dedup_minhash_lsh_pairs": (q_dedup_minhash_lsh_pairs, O_MINHASH_PAIRS),
    "dedup_lsh_recall": (q_dedup_lsh_recall, O_DEDUP_LSH_RECALL),
    "dedup_near_clusters": (q_dedup_near_clusters, O_DEDUP_CLUSTERS),
    "emb_quantize_int8": (q_emb_quantize_int8, O_EMB_QUANTIZE),
    "dedup_simhash": (q_dedup_simhash, O_SIMHASH),
    "dedup_simhash_pairs": (q_dedup_simhash_pairs, O_SIMHASH_PAIRS),
    "dedup_jaccard_pairs": (q_dedup_jaccard_pairs, O_JACCARD_PAIRS),
    "dedup_containment_pairs": (q_dedup_containment_pairs, O_CONTAINMENT_PAIRS),
    "dedup_embedding_pairs": (q_dedup_embedding_pairs, O_EMB_PAIRS),
    "dedup_semantic_pairs": (q_dedup_semantic_pairs, O_SEMANTIC_PAIRS),
    "dedup_contamination": (q_dedup_contamination, O_CONTAMINATION),
    "sim_cosine_topk": (q_sim_cosine_topk, O_COSINE_TOPK),
    "sim_ivf_topk": (q_sim_ivf_topk, O_IVF_TOPK),
    "sim_kmeans_topk": (q_sim_kmeans_topk, O_KMEANS_TOPK),
    "sketch_kmv_distinct": (q_sketch_kmv_distinct, O_SKETCH_KMV),
    "sketch_kmv_overlap": (q_sketch_kmv_overlap, O_SKETCH_KMV_OVERLAP),
    "sketch_hll_distinct": (
        q_sketch_hll_distinct,
        sketches.hll_oracle_sql("orders", "o_custkey", p=8),
    ),
    "sketch_cm_heavy": (q_sketch_cm_heavy, O_CM_HEAVY),
    "sketch_hist_quantiles": (
        lambda spark, sf_dir: sketches.histogram_quantiles(
            _t(spark, sf_dir, "lineitem"), "l_extendedprice", 100.0, [0.5, 0.9, 0.99]
        ),
        sketches.histogram_quantiles_oracle_sql(
            "lineitem", "l_extendedprice", 100.0, [0.5, 0.9, 0.99]
        ),
    ),
    "sketch_bloom_fp": (q_sketch_bloom_fp, O_BLOOM_FP),
    "layout_zorder_prune": (q_layout_zorder, O_LAYOUT_ZORDER),
    "layout_bucket_join": (q_layout_bucket_join, O_LAYOUT_BUCKET_JOIN),
    "profile_table": (q_profile_table, O_PROFILE),
    "clean_winsorize": (q_clean_winsorize, O_WINSORIZE),
    "sample_hash_docs": (q_sample_hash_docs, O_SAMPLE_HASH),
    "sample_train_test": (q_sample_train_test, O_SAMPLE_TT),
    "sample_stratified": (q_sample_stratified, O_SAMPLE_STRAT),
    "sample_group_split": (q_sample_group_split, O_SAMPLE_GROUP_SPLIT),
    "sample_reservoir_group": (q_sample_reservoir_group, O_SAMPLE_RESERVOIR),
    "pipe_dataset_diff": (q_pipe_dataset_diff, O_PIPE_DATASET_DIFF),
    "mm_meta": (q_mm_meta, O_MM_META),
    "mm_features": (q_mm_features, O_MM_FEATURES),
    "mm_resize_features": (q_mm_resize_features, O_MM_RESIZE_FEATURES),
    "mm_payload_dedup": (q_mm_payload_dedup, O_MM_PAYLOAD_DEDUP),
    "mm_frame_sample": (q_mm_frame_sample, O_MM_FRAME_SAMPLE),
    "pipe_corpus_clean": (q_pipe_corpus_clean, O_PIPE_CLEAN),
    "privacy_k_anon": (q_privacy_k_anon, O_PRIVACY_K_ANON),
    "privacy_l_diversity": (q_privacy_l_diversity, O_PRIVACY_L_DIVERSITY),
    "emb_truncate_recall": (q_emb_truncate_recall, O_EMB_TRUNCATE_RECALL),
    "emb_drift": (q_emb_drift, O_EMB_DRIFT),
    "sim_mips_topk": (q_sim_mips_topk, O_SIM_MIPS),
    "privacy_k_suppress": (q_privacy_k_suppress, O_PRIVACY_K_SUPPRESS),
    "mm_binary_ingest": (q_mm_binary_ingest, O_MM_BINARY_INGEST),
    "txt_bpe_train": (q_txt_bpe_train, O_TXT_BPE_TRAIN),
    "txt_bpe_fertility": (q_txt_bpe_fertility, O_TXT_BPE_FERTILITY),
    "clean_impute_median": (q_clean_impute_median, O_CLEAN_IMPUTE_MEDIAN),
    "txt_rake_keyphrases": (q_txt_rake_keyphrases, O_TXT_RAKE),
    "pipe_fim_split": (q_pipe_fim_split, O_PIPE_FIM_SPLIT),
    "txt_skipgram_cooc": (q_txt_skipgram_cooc, O_TXT_SKIPGRAM),
    "sample_neyman": (q_sample_neyman, O_SAMPLE_NEYMAN),
    "txt_bpe_vocab_tokens": (q_txt_bpe_vocab_tokens, O_TXT_BPE_VOCAB_TOKENS),
    "privacy_t_closeness": (q_privacy_t_closeness, O_PRIVACY_T_CLOSENESS),
    "pipe_epoch_shuffle": (q_pipe_epoch_shuffle, O_PIPE_EPOCH_SHUFFLE),
    "profile_drift_psi": (q_profile_drift_psi, O_PROFILE_DRIFT_PSI),
    "clean_unicode_normalize": (q_clean_unicode_normalize, O_CLEAN_UNICODE_NORMALIZE),
    "dedup_cdc_chunks": (q_dedup_cdc_chunks, O_DEDUP_CDC_CHUNKS),
    "rag_mmr_rerank": (q_rag_mmr_rerank, O_RAG_MMR_RERANK),
}
