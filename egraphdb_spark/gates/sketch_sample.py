"""Sketch, sampling, privacy and profiling gates: HLL/KMV/count-min,
quantiles, weighted and stratified samples, DP mechanisms and drift.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..graph import _t
from ..operators import sketches, text
from .text import _TOKS


def q_profile_benford(spark, sf_dir):
    """Benford first-digit profile of order totals (integer cents):
    observed permille per digit vs floor(1e6*ln(1+1/d)/ln 10)."""
    from ..operators.profiling import benford_digits

    o = _t(spark, sf_dir, "orders")
    return benford_digits(
        o, F.round(F.col("o_totalprice") * 100).cast("long")
    )


O_PROFILE_BENFORD = """
WITH d AS (
  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                             AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders
),
g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1)
SELECT digit, n,
       CAST(n * 1000 // sum(n) OVER () AS BIGINT) AS permille,
       CAST(floor(1000000 * ln(1.0 + 1.0 / digit) / ln(10.0)) AS BIGINT)
         AS benford_micro
FROM g ORDER BY digit
"""


def q_profile_expectations(spark, sf_dir):
    """Data-quality expectations report over lineitem: four row-local
    range/ordering rules in ONE conditional aggregate + the referential-
    integrity anti-join, as (rule, n_rows, n_violations, permille)."""
    from ..operators.profiling import expectations_report

    return expectations_report(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    )


O_PROFILE_EXPECTATIONS = """
WITH r AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
         CAST(sum(CASE WHEN NOT (l_extendedprice > 0) THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
         CAST(sum(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 0.10) THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
         CAST(sum(CASE WHEN NOT (l_tax BETWEEN 0.0 AND 0.08) THEN 1 ELSE 0 END) AS BIGINT) AS v_tax,
         CAST(sum(CASE WHEN NOT (l_shipdate BETWEEN TIMESTAMP '1992-01-01'
                                 AND TIMESTAMP '1998-12-31 23:59:59')
                  THEN 1 ELSE 0 END) AS BIGINT) AS v_ship
  FROM lineitem
),
fk AS (
  SELECT CAST(count(*) AS BIGINT) AS v_fk FROM lineitem
  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
),
u AS (
  SELECT 'fk_orderkey_exists' AS rule, n_rows, v_fk AS n_violations FROM r, fk
  UNION ALL SELECT 'l_discount_in_0_0.10', n_rows, v_disc FROM r
  UNION ALL SELECT 'l_extendedprice_positive', n_rows, v_price FROM r
  UNION ALL SELECT 'l_quantity_in_1_50', n_rows, v_qty FROM r
  UNION ALL SELECT 'l_shipdate_in_1992_1998', n_rows, v_ship FROM r
  UNION ALL SELECT 'l_tax_in_0_0.08', n_rows, v_tax FROM r
)
SELECT rule, n_rows, n_violations,
       CAST(n_violations * 1000 // nullif(n_rows, 0) AS BIGINT) AS violation_permille
FROM u ORDER BY rule
"""


# --------------------------------------------------------------------------
# Sketches (HLL distinct count, count-min heavy hitters)
# --------------------------------------------------------------------------


def q_sketch_hll_distinct(spark, sf_dir):
    """HLL estimate of distinct customers in orders — 2^8 registers,
    engine-exact integer register math (no ln/log2)."""
    from ..operators import sketches

    return sketches.hll_distinct(_t(spark, sf_dir, "orders"), "o_custkey", p=8)


def q_sketch_kmv_distinct(spark, sf_dir):
    """KMV bottom-64 distinct-user estimate per event type — the
    order-statistics sketch next to HLL: exact below k, mergeable,
    WindowGroupLimit keeps map output at ≤ k rows per group."""
    from ..operators import sketches

    return sketches.kmv_distinct(
        _t(spark, sf_dir, "events"), "event_type", "user_id", k=64
    )


def _kmv_oracle():
    from ..operators.sketches import kmv_oracle_sql

    return kmv_oracle_sql("events", "event_type", "user_id", 64)


O_SKETCH_KMV = _kmv_oracle()


def q_sketch_kmv_overlap(spark, sf_dir):
    """KMV set algebra: distinct-USER overlap between 'view' and
    'purchase' activity — per-tag bottom-64, union by merge+re-cut
    (never rescans the input), intersection by inclusion-exclusion."""
    from ..operators import sketches

    return sketches.kmv_overlap(
        _t(spark, sf_dir, "events"), "user_id", "event_type",
        "view", "purchase", k=64,
    )


def _kmv_overlap_oracle():
    from ..operators.sketches import kmv_overlap_oracle_sql

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
    from ..operators import sketches

    ev = _t(spark, sf_dir, "events")
    cand = ev.select("event_type").distinct()
    return sketches.cm_estimate(ev, "event_type", cand).orderBy("key")


def _cm_oracle() -> str:
    from ..operators.sketches import CM_DEPTH

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
    from ..operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.hash_sample(docs, "doc_id", 0.10).select(
        "doc_id", "lang", "source"
    )


def q_sample_train_test(spark, sf_dir):
    """Stable 20% test split + per-(split, lang) counts; the salt
    decorrelates split membership from hash_sample membership."""
    from ..operators import sampling

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
    from ..operators import sampling

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
    from ..operators import sampling

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


def q_profile_table(spark, sf_dir):
    """One-pass ANALYZE profile of lineitem (nulls / NDV / ranges)."""
    from ..operators import profiling

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


def _sample_oracles():
    from ..operators.sampling import _threshold, sample_oracle_pred

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
    from ..operators.sampling import _threshold

    return f"""
SELECT CASE WHEN CAST('0x' || substr(md5('gsplit:' || CAST(source AS VARCHAR)), 1, 15)
                 AS BIGINT) < {_threshold(0.25)}
            THEN 'test' ELSE 'train' END AS split,
       source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY split, source ORDER BY split, source
"""


O_SAMPLE_GROUP_SPLIT = _group_split_oracle()


def q_sample_source_quota(spark, sf_dir):
    """Per-source document cap (quota 40, hash-ranked) — the corpus
    balancing step before mixture weighting."""
    docs = _t(spark, sf_dir, "documents")
    from ..operators import sampling

    return sampling.quota_by_group(docs, "doc_id", "source", quota=40).select(
        "doc_id", "source", "qrank"
    )


def _quota_oracle():
    from ..operators.sampling import quota_oracle_sql

    inner = quota_oracle_sql("documents", "doc_id", "source", 40)
    return f"SELECT doc_id, source, qrank FROM ({inner})"


O_SAMPLE_QUOTA = _quota_oracle()


def q_sample_token_budget(spark, sf_dir):
    """Per-source token-budget prefix (5000 tokens, hash-ordered) — corpus
    construction under a per-source allowance."""
    from ..operators import sampling

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


def q_sample_weighted(spark, sf_dir):
    """Weighted sampling without replacement (A-ES exponential race),
    inclusion mass ∝ document length — 'sample long docs more', stable
    under corpus growth."""
    from ..operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.weighted_priority_sample(docs, "doc_id", "n_chars", k=100).select(
        "doc_id", "source", "n_chars", "priority_q"
    )


def _weighted_oracle():
    from ..operators.sampling import weighted_priority_oracle_sql

    return weighted_priority_oracle_sql(
        "documents", "doc_id", "n_chars", 100,
        select_cols="doc_id, source, n_chars",
    )


O_SAMPLE_WEIGHTED = _weighted_oracle()


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
    from ..operators.sketches import hll_overlap_oracle_sql

    src = (
        "SELECT event_type AS tag,\n"
        "       user_id * 65536 + datediff('day', DATE '1970-01-01',"
        " CAST(ts AS DATE)) AS key\n"
        "FROM events WHERE event_type IN ('click', 'purchase')"
    )
    return hll_overlap_oracle_sql(src, "click", "purchase", p=8)


O_SKETCH_HLL_OVERLAP = _hll_overlap_oracle()


def q_sample_class_balance(spark, sf_dir):
    """Balanced-class downsample of the labeled embedding table: every
    label keeps exactly min-class-count rows, membership pinned by the
    deterministic keyed-hash order."""
    from ..operators import sampling

    emb = _t(spark, sf_dir, "embeddings")
    return sampling.class_balance(emb, "vec_id", "label")


def _class_balance_oracle():
    from ..operators.sampling import class_balance_oracle_sql

    return class_balance_oracle_sql("embeddings", "vec_id", "label")


O_CLASS_BALANCE = _class_balance_oracle()


def q_sample_reservoir_group(spark, sf_dir):
    """Deterministic k-per-source sample: bottom-k by keyed 60-bit hash
    priority within each source (the distributed reservoir); rank <= k
    plans as WindowGroupLimit, so map tasks pre-prune to local top-k."""
    from ..operators.sampling import reservoir_per_group

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


def q_privacy_k_anon(spark, sf_dir):
    """k-anonymity audit over the document corpus: quasi-identifiers
    (lang, source, 100-char length band), thresholds k = 2/5/20 — how
    many rows sit in equivalence classes small enough to re-identify.
    One hash-aggregate over the quasi columns; the shuffle carries one
    row per class."""
    from ..operators.privacy import k_anonymity_report

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
    from ..operators.privacy import k_suppress

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
    from ..operators.privacy import l_diversity_report

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


def q_profile_drift_psi(spark, sf_dir):
    """PSI drift report between two corpus snapshots: reference = even
    doc_ids at their true length band, current = odd doc_ids with a
    simulated +25% document growth (the classic silent-drift scenario a
    new crawl introduces).  Feature = 200-char length band; integer-micro
    PSI contributions sum exactly (operators/profiling.py:psi_drift) —
    complements emb_drift (embedding-centroid drift) with
    feature-distribution drift."""
    from ..operators.profiling import psi_drift

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


def q_privacy_t_closeness(spark, sf_dir):
    """t-closeness audit completing the privacy trio: quasi-identifiers
    (lang, 200-char length band), sensitive attribute = source — classes
    whose source DISTRIBUTION diverges from the corpus marginal by total
    variation > t disclose provenance even when l-diverse.  Exact integer
    rational TVD, thresholds t = 0.2/0.35/0.5 (scaled 1e6); one
    (class,value) aggregate + broadcast value-marginal join."""
    from ..operators.privacy import t_closeness_report

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


def q_sample_neyman(spark, sf_dir):
    """Neyman-optimal stratified sample of the corpus: 200 rows
    allocated across sources ∝ N_h·σ_h of document length; exact integer
    moments, milli-quantized weights, hash-bottom-k membership."""
    from ..operators.sampling import neyman_allocation_sample

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


# --------------------------------------------------------------------------
# profile_drift_ks — two-sample KS statistic, exact integers
# --------------------------------------------------------------------------


def q_profile_drift_ks(spark, sf_dir):
    """Two-sample KS drift statistic on the same snapshot split as the
    PSI gate (reference = even doc_ids at true length band, current =
    odd doc_ids with simulated +25% growth): where profile_drift_psi
    weights all buckets, KS pins the single worst CDF gap — exact
    integer cross-multiplication, no smoothing, no ln
    (operators/profiling.py ks_drift)."""
    from ..operators.profiling import ks_drift

    docs = _t(spark, sf_dir, "documents")
    ref = docs.where(F.col("doc_id") % 2 == 0).select(
        F.expr("n_chars div 200").alias("band")
    )
    cur = docs.where(F.col("doc_id") % 2 == 1).select(
        F.expr("(n_chars * 5) div 800").alias("band")
    )
    return ks_drift(ref, cur, "band")


O_PROFILE_DRIFT_KS = """
WITH r AS (
  -- n_chars IS NOT NULL mirrors ks_drift's NULL-bucket exclusion
  SELECT n_chars // 200 AS bucket, count(*) AS n_ref
  FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL GROUP BY 1
),
c AS (
  SELECT (n_chars * 5) // 800 AS bucket, count(*) AS n_cur
  FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL GROUP BY 1
),
j AS (
  SELECT COALESCE(r.bucket, c.bucket) AS bucket,
         COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
  FROM r FULL OUTER JOIN c ON r.bucket = c.bucket
),
t AS (
  SELECT *,
         sum(n_ref) OVER () AS tref, sum(n_cur) OVER () AS tcur,
         sum(n_ref) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cref,
         sum(n_cur) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS ccur
  FROM j
),
p AS (
  SELECT bucket, n_ref, n_cur,
         CASE WHEN tref = 0 OR tcur = 0 THEN CAST(1000000 AS BIGINT)
         ELSE CAST((abs(CAST(cref AS HUGEINT) * CAST(tcur AS HUGEINT)
                 - CAST(ccur AS HUGEINT) * CAST(tref AS HUGEINT)) * 1000000)
              // (CAST(tref AS HUGEINT) * CAST(tcur AS HUGEINT))
              AS BIGINT) END AS ks_contrib_micro
  FROM t
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
       ks_contrib_micro,
       CAST(max(ks_contrib_micro) OVER () AS BIGINT) AS ks_stat_micro
FROM p ORDER BY bucket
"""


# --------------------------------------------------------------------------
# privacy_dp_counts — seeded Laplace mechanism
# --------------------------------------------------------------------------


def q_privacy_dp_counts(spark, sf_dir):
    """ε=1 differentially-private (lang, source) histogram of the corpus
    via the seeded Laplace mechanism (operators/privacy.py
    dp_group_counts) — completes the privacy family (k-anon /
    suppression / l-diversity / t-closeness audit the RELEASE SHAPE;
    this gate exercises the noising step).  The default public salt
    makes this a reproducible SIMULATION of the mechanism for
    engine-parity testing, not a private release — see the operator
    docstring.  True counts ride along as audit columns for the parity
    check."""
    from ..operators.privacy import dp_group_counts

    docs = _t(spark, sf_dir, "documents")
    return dp_group_counts(docs, ["lang", "source"])


_TWO60 = 1 << 60


def _sql_enc(col: str) -> str:
    """Mirror of privacy._seed_component: NULL → 'n', value →
    'v<charlen>:<value>' — NULL-safe ('' || NULL would poison the key)
    and collision-free across distinct group tuples."""
    return (
        f"CASE WHEN {col} IS NULL THEN 'n'"
        f" ELSE 'v' || length(CAST({col} AS VARCHAR)) || ':'"
        f" || CAST({col} AS VARCHAR) END"
    )


O_PRIVACY_DP_COUNTS = f"""
WITH a AS (
  SELECT lang AS g0, source AS g1, count(*) AS n
  FROM documents GROUP BY 1, 2
),
h AS (
  SELECT g0, g1, n,
         CAST(('0x' || substr(md5('dp:' || {_sql_enc('g0')} || ':'
                                  || {_sql_enc('g1')}), 1, 15))
              AS BIGINT) AS hh
  FROM a
),
p AS (
  SELECT g0, g1, n,
         CAST(floor((
           -(1000000.0 / 1000000)
           * sign(2 * hh - {_TWO60})
           * ln(CAST(greatest({_TWO60} - abs(2 * hh - {_TWO60}), 1) AS DOUBLE)
                / CAST({_TWO60} AS DOUBLE))
         ) * 1000000.0 + 0.5) AS BIGINT) AS noise_micro
  FROM h
)
SELECT g0, g1, CAST(n AS BIGINT) AS n, noise_micro,
       CAST(n * 1000000 + noise_micro AS BIGINT) AS noisy_count_micro
FROM p ORDER BY g0, g1
"""


# --------------------------------------------------------------------------
# sketch_ams_f2 — AMS tug-of-war second moment
# --------------------------------------------------------------------------


def q_sketch_ams_f2(spark, sf_dir):
    """AMS F₂ sketch over the corpus token-frequency vector (k=16
    estimators, seeded signs) with the exact F₂ and relative error
    carried — the self-join-size estimator, completing the sketch
    family (HLL=F₀, CM=point frequency, KMV=distinct/overlap, AMS=F₂)
    (operators/sketches.py ams_f2)."""
    from ..operators.sketches import ams_f2

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(
            F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
        ).alias("tok")
    )
    return ams_f2(tok, "tok", k=16)


O_SKETCH_AMS_F2 = f"""
WITH tok AS (
  SELECT unnest({_TOKS}) AS v FROM documents
),
freq AS (SELECT v, count(*) AS f FROM tok GROUP BY v),
sgn AS (
  SELECT i, v, f,
         1 - 2 * (CAST(('0x' || substr(md5('ams:' || i || ':' || v), 1, 15))
                       AS BIGINT) % 2) AS s
  FROM freq, (SELECT unnest(range(0, 16)) AS i)
),
per AS (SELECT i, CAST(sum(s * f) AS BIGINT) AS s_i FROM sgn GROUP BY i),
sq AS (
  SELECT i, s_i, CAST(s_i AS HUGEINT) * CAST(s_i AS HUGEINT) AS est_d
  FROM per
),
ex AS (
  SELECT sum(CAST(f AS HUGEINT) * CAST(f AS HUGEINT)) AS f2_d FROM freq
),
m AS (
  SELECT sq.*, f2_d, (sum(est_d) OVER ()) // 16 AS mean_d FROM sq, ex
)
SELECT CAST(i AS BIGINT) AS estimator, s_i,
       CAST(est_d AS BIGINT) AS est,
       CAST(mean_d AS BIGINT) AS f2_est_mean,
       CAST(f2_d AS BIGINT) AS f2_exact,
       CAST((abs(mean_d - f2_d) * 1000000) // f2_d AS BIGINT) AS rel_err_micro
FROM m ORDER BY estimator
"""


# --------------------------------------------------------------------------
# sample_kcenter_coreset — greedy farthest-point diversity selection
# --------------------------------------------------------------------------


def q_sample_kcenter_coreset(spark, sf_dir):
    """Greedy k-center coreset (k=8) over the embeddings table — the
    diversity-maximizing subset selection used for annotation batches
    and eval coresets (operators/similarity.py kcenter_coreset; Gonzalez
    '85 / Sener & Savarese '18).  The oracle unrolls the identical 8
    selection rounds with MATERIALIZED CTEs and replays the argmax
    (dmin desc, id asc) bit-for-bit via the family's sequential-fold +
    round-6dp recipe."""
    from ..operators.similarity import kcenter_coreset

    emb = _t(spark, sf_dir, "embeddings")
    return kcenter_coreset(emb, "vec_id", "embedding", k=8)


def _kcenter_oracle(k: int = 8) -> str:
    def rawcos(a: str, b: str) -> str:
        na = f"sqrt(list_sum(list_transform({a}, x -> x * x)))"
        nb = f"sqrt(list_sum(list_transform({b}, x -> x * x)))"
        dot = (
            f"list_sum(list_transform(range(1, len({a}) + 1),"
            f" i -> {a}[CAST(i AS INT)] * {b}[CAST(i AS INT)]))"
        )
        return (
            f"CASE WHEN {na} * {nb} = 0 THEN 0.0"
            f" ELSE {dot} / ({na} * {nb}) END"
        )

    def dist(a: str, b: str) -> str:
        return f"round(1.0 - ({rawcos(a, b)}), 6)"

    sql = f"""
WITH v AS MATERIALIZED (
  SELECT CAST(vec_id AS BIGINT) AS id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
),
c0 AS MATERIALIZED (SELECT id, vec FROM v ORDER BY id LIMIT 1),
d0 AS MATERIALIZED (
  SELECT v.id, v.vec, {dist('v.vec', 'c0.vec')} AS dmin FROM v, c0
)"""
    for r in range(1, k):
        excl = " UNION ALL ".join(f"SELECT id FROM c{i}" for i in range(r))
        sql += f""",
c{r} AS MATERIALIZED (
  SELECT id, vec, dmin FROM d{r - 1}
  WHERE id NOT IN ({excl})
  ORDER BY dmin DESC, id LIMIT 1
)"""
        if r < k - 1:
            sql += f""",
d{r} AS MATERIALIZED (
  SELECT d{r - 1}.id, d{r - 1}.vec,
         least(d{r - 1}.dmin, {dist(f'd{r - 1}.vec', f'c{r}.vec')}) AS dmin
  FROM d{r - 1}, c{r}
)"""
    parts = ["SELECT CAST(0 AS BIGINT) AS rank, id, CAST(NULL AS DOUBLE) AS dist FROM c0"]
    parts += [
        f"SELECT CAST({r} AS BIGINT), id, dmin FROM c{r}" for r in range(1, k)
    ]
    sql += "\n" + "\nUNION ALL ".join(parts) + "\nORDER BY rank"
    return sql


O_SAMPLE_KCENTER = _kcenter_oracle()


# --------------------------------------------------------------------------
# privacy_dp_mean — seeded Laplace clipped-mean release
# --------------------------------------------------------------------------


def q_privacy_dp_mean(spark, sf_dir):
    """ε=1 differentially-private mean document length per source —
    clipped to [0, 400] chars, budget split ε/2 sum + ε/2 count
    (operators/privacy.py dp_group_mean).  Extends privacy_dp_counts
    from histogram release to the clipped-mean mechanism (Dwork & Roth
    §3.4); true n / clipped sum ride as audit columns."""
    from ..operators.privacy import dp_group_mean

    docs = _t(spark, sf_dir, "documents")
    return dp_group_mean(docs, ["source"], "n_chars", lo=0.0, hi=400.0)


O_PRIVACY_DP_MEAN = f"""
WITH a AS (
  SELECT source AS g0, count(*) AS n,
         CAST(sum(CAST(round(100 * least(greatest(CAST(n_chars AS DOUBLE), 0.0),
                                         400.0)) AS BIGINT)) AS BIGINT)
           AS sum_clipped_cents
  FROM documents GROUP BY 1
),
h AS (
  SELECT g0, n, sum_clipped_cents,
         CAST(('0x' || substr(md5('dpm:sum:' || {_sql_enc('g0')}), 1, 15))
              AS BIGINT) AS hs,
         CAST(('0x' || substr(md5('dpm:cnt:' || {_sql_enc('g0')}), 1, 15))
              AS BIGINT) AS hc
  FROM a
),
p AS (
  SELECT g0, n, sum_clipped_cents,
         CAST(floor((
           -(80000.0)
           * sign(2 * hs - {_TWO60})
           * ln(CAST(greatest({_TWO60} - abs(2 * hs - {_TWO60}), 1) AS DOUBLE)
                / CAST({_TWO60} AS DOUBLE))
         ) * 1000000.0 + 0.5) AS BIGINT) AS noise_sum_micro,
         CAST(floor((
           -(2.0)
           * sign(2 * hc - {_TWO60})
           * ln(CAST(greatest({_TWO60} - abs(2 * hc - {_TWO60}), 1) AS DOUBLE)
                / CAST({_TWO60} AS DOUBLE))
         ) * 1000000.0 + 0.5) AS BIGINT) AS noise_cnt_micro
  FROM h
)
SELECT g0, CAST(n AS BIGINT) AS n, sum_clipped_cents,
       noise_sum_micro, noise_cnt_micro,
       CASE WHEN (n * 1000000 + noise_cnt_micro) <= 0 THEN NULL
       ELSE CAST(greatest(CAST(sum_clipped_cents AS HUGEINT) * 1000000
                          + CAST(noise_sum_micro AS HUGEINT),
                          CAST(0 AS HUGEINT)) * 10
            // (CAST(n AS HUGEINT) * 1000000
                + CAST(noise_cnt_micro AS HUGEINT)) AS BIGINT) END
         AS dp_mean_milli
FROM p ORDER BY g0
"""


# --------------------------------------------------------------------------
# sketch_sampled_quantiles — mergeable hash-sample quantile estimator
# --------------------------------------------------------------------------


def q_sketch_sampled_quantiles(spark, sf_dir):
    """Per-event-type quantile estimates of the cent-quantized event
    value from a deterministic 1/8 hash sample (operators/sketches.py
    sampled_quantiles — the sketch family's equi-DEPTH quantile story
    next to sketch_hist_quantiles' equi-width buckets): type-1 sample
    quantiles at p25/p50/p75/p90/p99 with the sample size carried for
    DKW error bands."""
    from ..operators.sketches import sampled_quantiles

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(round(value * 100) as bigint)").alias("cents"),
        "event_id",
    )
    return sampled_quantiles(
        ev, "event_type", "cents", "event_id", level=3
    ).select(
        F.col("grp").alias("event_type"),
        "q_permille",
        "n_sample",
        F.col("est").alias("est_cents"),
    )


O_SAMPLED_QUANTILES = """
WITH s AS (
  SELECT event_type AS grp,
         CAST(round(value * 100) AS BIGINT) AS v,
         event_id AS id
  FROM events
  WHERE value IS NOT NULL
    AND CAST(('0x' || substr(md5('sq:' || CAST(event_id AS VARCHAR)), 1, 15))
             AS BIGINT) % 8 = 0
),
r AS (
  SELECT grp, v, row_number() OVER (PARTITION BY grp ORDER BY v, id) AS rn
  FROM s
),
c AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_sample FROM s GROUP BY grp),
t AS (
  SELECT grp, n_sample, CAST(q AS BIGINT) AS q_permille,
         greatest(CAST(1 AS BIGINT), (q * n_sample + 999) // 1000) AS k
  FROM c, (SELECT unnest([250, 500, 750, 900, 990]) AS q)
)
SELECT t.grp AS event_type, q_permille, n_sample, r.v AS est_cents
FROM t JOIN r ON r.grp = t.grp AND r.rn = t.k
ORDER BY event_type, q_permille
"""


# --------------------------------------------------------------------------
# sketch_moments_chebyshev — mergeable moments + tail-bound certification
# --------------------------------------------------------------------------


def q_sketch_moments_chebyshev(spark, sf_dir):
    """Moments sketch (n, ΣX, ΣX²) over document lengths with the
    Chebyshev tail bound P(|X−μ| ≥ a) ≤ σ²/a² read out next to the exact
    empirical exceed fraction for a ∈ {25,50,100,200} chars — all
    cross-multiplied exact integers (operators/sketches.py
    moments_chebyshev).  Adds the moment/tail readout to the sketch
    family (HLL F₀, CM frequency, KMV overlap, AMS F₂)."""
    from ..operators.sketches import moments_chebyshev

    docs = _t(spark, sf_dir, "documents")
    return moments_chebyshev(docs, "n_chars", deviations=[25, 50, 100, 200])


O_SKETCH_MOMENTS = """
WITH m AS (
  SELECT count(*) AS n, sum(n_chars) AS s1,
         sum(CAST(n_chars AS HUGEINT) * n_chars) AS s2d
  FROM documents WHERE n_chars IS NOT NULL
),
e AS (
  SELECT CAST(a AS BIGINT) AS a,
         (SELECT count(*) FROM documents d, m
          WHERE d.n_chars IS NOT NULL
            AND abs(CAST(d.n_chars AS HUGEINT) * m.n - m.s1)
                >= CAST(a AS HUGEINT) * m.n) AS n_exceed
  FROM (SELECT unnest([25, 50, 100, 200]) AS a)
)
SELECT a, CAST(n AS BIGINT) AS n, CAST(s1 AS BIGINT) AS s1,
       CAST(s2d AS BIGINT) AS s2,
       CAST((CASE WHEN s1 < 0 THEN -1 ELSE 1 END)
            * ((abs(CAST(s1 AS HUGEINT)) * 1000) // n) AS BIGINT)
         AS mean_milli,
       CAST(least(CAST(1000000 AS HUGEINT),
                  ((CAST(n AS HUGEINT) * s2d - CAST(s1 AS HUGEINT) * s1)
                   * 1000000)
                  // (CAST(n AS HUGEINT) * n * a * a)) AS BIGINT)
         AS bound_micro,
       CAST((CAST(n_exceed AS HUGEINT) * 1000000) // n AS BIGINT)
         AS actual_micro
FROM e, m ORDER BY a
"""


# --------------------------------------------------------------------------
# sample_pps_systematic — fixed-size weighted sampling
# --------------------------------------------------------------------------


def q_sample_pps_systematic(spark, sf_dir):
    """PPS systematic sample of exactly k=40 documents weighted by
    n_chars, seeded anchor (operators/sampling.py pps_systematic) —
    the fixed-budget weighted design next to the family's Bernoulli
    (sample_hash_docs), stratified, Neyman and reservoir draws; reports
    multiplicity for over-weight units.  The Spark plan builds the
    cumulative-weight line with the two-level bucket cumsum (never a
    single-partition global window); the oracle uses a plain ordered
    cumsum — identical values, different plan."""
    from ..operators.sampling import pps_systematic

    docs = _t(spark, sf_dir, "documents")
    return pps_systematic(docs, "doc_id", "n_chars", k=40, salt="pps")


O_SAMPLE_PPS = """
WITH b AS (
  SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS w
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0 AND doc_id IS NOT NULL
),
c AS (
  SELECT id, w,
         CAST(sum(w) OVER (ORDER BY id ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_w
  FROM b
),
t AS (SELECT CAST(sum(w) AS BIGINT) AS tot_w FROM b),
a AS (
  SELECT tot_w,
         CAST(('0x' || substr(md5('pps'), 1, 15)) AS BIGINT) % tot_w
           AS anchor_u
  FROM t
),
hits AS (
  SELECT id, w, cum_w,
         CAST((CAST(cum_w AS HUGEINT) * 40 + anchor_u) // tot_w
              - (CAST(cum_w - w AS HUGEINT) * 40 + anchor_u) // tot_w
              AS BIGINT)
           AS n_hits
  FROM c, a
)
SELECT id, w, cum_w, n_hits FROM hits WHERE n_hits >= 1 ORDER BY id
"""


# --------------------------------------------------------------------------
# profile_gini — Lorenz/Gini concentration
# --------------------------------------------------------------------------


def q_profile_gini(spark, sf_dir):
    """Gini coefficient of document length per language
    (operators/profiling.py gini_concentration) — the corpus-
    concentration alarm: G → 0 when sources contribute evenly, → 1 when
    one document class hoards the characters.  Exact grouped-rank
    integer arithmetic over the bounded length domain; rows are counted
    once and never sorted."""
    from ..operators.profiling import gini_concentration

    docs = _t(spark, sf_dir, "documents")
    return gini_concentration(docs, "lang", "n_chars")


O_PROFILE_GINI = """
WITH counts AS (
  SELECT lang AS grp, CAST(n_chars AS BIGINT) AS v, count(*) AS c
  FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0
  GROUP BY 1, 2
),
ranked AS (
  SELECT grp, v, c,
         CAST(coalesce(sum(c) OVER (PARTITION BY grp ORDER BY v
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS BIGINT) AS cb
  FROM counts
),
agg AS (
  SELECT grp, CAST(sum(c) AS BIGINT) AS n,
         sum(CAST(v AS HUGEINT) * c) AS sx_d,
         sum(CAST(v AS HUGEINT)
             * (c * CAST(cb AS HUGEINT) + (c * (c + 1)) // 2)) AS six_d
  FROM ranked GROUP BY grp
)
SELECT grp, n, CAST(sx_d AS BIGINT) AS sum_x,
       CASE WHEN n = 0 OR sx_d = 0 THEN NULL
       ELSE CAST(((2 * six_d - (n + 1) * sx_d) * 1000000)
                 // (CAST(n AS HUGEINT) * sx_d) AS BIGINT) END AS gini_micro
FROM agg ORDER BY grp
"""


# --------------------------------------------------------------------------
# privacy_dp_topk — exponential mechanism (selection), Gumbel-max form
# --------------------------------------------------------------------------


def q_privacy_dp_topk(spark, sf_dir):
    """ε=1 exponential-mechanism top-5 (lang, source) selection via
    seeded Gumbel-max (operators/privacy.py dp_topk_exponential) —
    completes the DP-mechanism trio: Laplace histogram (numeric),
    Laplace clipped mean (numeric), exponential mechanism (selection).
    Default-public-salt caveat as documented on the operator: this is a
    reproducible simulation of the mechanism for engine parity, not a
    private release.  True counts ride as audit columns."""
    from ..operators.privacy import dp_topk_exponential

    docs = _t(spark, sf_dir, "documents")
    return dp_topk_exponential(docs, ["lang", "source"], k=5)


def _dp_topk_oracle() -> str:
    return f"""
WITH a AS (
  SELECT lang AS g0, source AS g1, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2
),
h AS (
  SELECT g0, g1, n,
         CAST(('0x' || substr(md5('dpx:' || {_sql_enc('g0')} || ':'
                                  || {_sql_enc('g1')}), 1, 15))
              AS BIGINT) AS hh
  FROM a
),
s AS (
  SELECT g0, g1, n,
         CAST(floor((
           (1000000 / 1000000.0) * n / 2.0
           - ln(-ln(CAST(greatest(hh, 1) AS DOUBLE) / {float(_TWO60)}))
         ) * 1000000.0 + 0.5) AS BIGINT) AS score_micro
  FROM h
),
top AS (
  SELECT * FROM s ORDER BY score_micro DESC, g0, g1 LIMIT 5
)
SELECT CAST(row_number() OVER (ORDER BY score_micro DESC, g0, g1) AS BIGINT)
         AS rank,
       g0, g1, n, score_micro
FROM top ORDER BY rank
"""


O_PRIVACY_DP_TOPK = _dp_topk_oracle()


GATES: dict[str, tuple] = {
    "profile_benford": (q_profile_benford, O_PROFILE_BENFORD),
    "profile_expectations": (q_profile_expectations, O_PROFILE_EXPECTATIONS),
    "sample_class_balance": (q_sample_class_balance, O_CLASS_BALANCE),
    "sketch_hll_overlap": (q_sketch_hll_overlap, O_SKETCH_HLL_OVERLAP),
    "sample_weighted": (q_sample_weighted, O_SAMPLE_WEIGHTED),
    "sample_source_quota": (q_sample_source_quota, O_SAMPLE_QUOTA),
    "sample_token_budget": (q_sample_token_budget, O_TOKEN_BUDGET),
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
    "profile_table": (q_profile_table, O_PROFILE),
    "sample_hash_docs": (q_sample_hash_docs, O_SAMPLE_HASH),
    "sample_train_test": (q_sample_train_test, O_SAMPLE_TT),
    "sample_stratified": (q_sample_stratified, O_SAMPLE_STRAT),
    "sample_group_split": (q_sample_group_split, O_SAMPLE_GROUP_SPLIT),
    "sample_reservoir_group": (q_sample_reservoir_group, O_SAMPLE_RESERVOIR),
    "privacy_k_anon": (q_privacy_k_anon, O_PRIVACY_K_ANON),
    "privacy_l_diversity": (q_privacy_l_diversity, O_PRIVACY_L_DIVERSITY),
    "privacy_k_suppress": (q_privacy_k_suppress, O_PRIVACY_K_SUPPRESS),
    "sample_neyman": (q_sample_neyman, O_SAMPLE_NEYMAN),
    "privacy_t_closeness": (q_privacy_t_closeness, O_PRIVACY_T_CLOSENESS),
    "profile_drift_psi": (q_profile_drift_psi, O_PROFILE_DRIFT_PSI),
    "profile_drift_ks": (q_profile_drift_ks, O_PROFILE_DRIFT_KS),
    "privacy_dp_counts": (q_privacy_dp_counts, O_PRIVACY_DP_COUNTS),
    "sketch_ams_f2": (q_sketch_ams_f2, O_SKETCH_AMS_F2),
    "sample_kcenter_coreset": (q_sample_kcenter_coreset, O_SAMPLE_KCENTER),
    "privacy_dp_mean": (q_privacy_dp_mean, O_PRIVACY_DP_MEAN),
    "sketch_sampled_quantiles": (q_sketch_sampled_quantiles, O_SAMPLED_QUANTILES),
    "sketch_moments_chebyshev": (q_sketch_moments_chebyshev, O_SKETCH_MOMENTS),
    "sample_pps_systematic": (q_sample_pps_systematic, O_SAMPLE_PPS),
    "profile_gini": (q_profile_gini, O_PROFILE_GINI),
    "privacy_dp_topk": (q_privacy_dp_topk, O_PRIVACY_DP_TOPK),
}
