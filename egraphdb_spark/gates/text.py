"""Text gates: corpus statistics, language-model scores, cleaning rules
and training-data pipeline steps over the documents table.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..graph import _docs_spread, _t
from ..operators import packing, ranking, text


def q_clean_quantile_norm(spark, sf_dir):
    """Per-source → global decile normalization map over document
    lengths: type-1 discrete boundaries in pure integer arithmetic
    (the cross-source score-calibration table; interpolated percentiles
    of integer columns are banned by the COVERAGE.md addendum)."""
    from ..operators.profiling import quantile_norm_map

    return quantile_norm_map(
        _t(spark, sf_dir, "documents"), "source", "n_chars", n_q=10
    )


O_CLEAN_QUANTILE_NORM = """
WITH gh AS (
  SELECT source AS grp, n_chars AS v, count(*) AS c
  FROM documents GROUP BY 1, 2
),
gcum AS (
  SELECT grp, v, c,
         sum(c) OVER (PARTITION BY grp ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(c) OVER (PARTITION BY grp) AS n
  FROM gh
),
src AS (
  SELECT grp, d.decile, v AS src_hi, n
  FROM gcum CROSS JOIN (SELECT unnest(range(1, 11)) AS decile) d
  WHERE 10 * (cum - c) < d.decile * n AND d.decile * n <= 10 * cum
),
dv AS (SELECT n_chars AS v, count(*) AS c FROM documents GROUP BY 1),
gl AS (
  SELECT v, c, sum(c) OVER (ORDER BY v
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM dv
),
tot AS (SELECT sum(c) AS nt FROM dv),
gq AS (
  SELECT d.decile, v AS glob_hi
  FROM gl CROSS JOIN tot
       CROSS JOIN (SELECT unnest(range(1, 11)) AS decile) d
  WHERE 10 * (cum - c) < d.decile * nt AND d.decile * nt <= 10 * cum
)
SELECT src.grp AS source, CAST(src.decile AS BIGINT) AS decile,
       CAST(src.n AS BIGINT) AS n_rows,
       CAST(src.src_hi AS BIGINT) AS src_hi,
       CAST(gq.glob_hi AS BIGINT) AS glob_hi
FROM src JOIN gq ON gq.decile = src.decile
ORDER BY source, decile
"""


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


def q_clean_winsorize(spark, sf_dir):
    """Winsorization summary for l_extendedprice at [p1, p99]."""
    from ..operators import profiling

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

    from ..operators import sampling

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
    from ..operators.sampling import _threshold

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
    from ..operators.packing import shard_manifest

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

    from ..operators.checkpoint import cut_lineage

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
    from ..operators.dedup import exact_dedup
    from ..operators.packing import chunk_documents, pack_offsets

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


def q_pipe_chunking(spark, sf_dir):
    """Sliding-window chunking of every document (64-token windows, 16
    overlap) — the RAG-ingestion / long-context prep primitive.  Pure
    per-row explode, zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return packing.chunk_documents(docs, "doc_id", "text", window=64, overlap=16)


O_PIPE_CHUNK = packing.chunk_oracle_sql("documents", "doc_id", "text", 64, 16)


def q_pipe_length_buckets(spark, sf_dir):
    """Padding-waste ledger for length-grouped batching: power-of-two token
    buckets with per-bucket doc/token/padding counts and integer-permille
    waste — the numbers that pick a bucket ladder before a training run."""
    docs = _t(spark, sf_dir, "documents")
    docs = docs.withColumn("n_tokens", text.token_count("text"))
    return packing.length_buckets(docs, "n_tokens")


O_LENGTH_BUCKETS = packing.length_buckets_oracle_sql("documents", f"len({_TOKS})")


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


def q_pipe_dataset_diff(spark, sf_dir):
    """Corpus drift between two release snapshots (simulated as two
    independent 85 % keyed-hash views of the documents table): per
    source, keys added / removed / kept and the char mass moving each
    way — one full-outer join on the key, classified row-locally."""
    from ..operators.profiling import dataset_diff
    from ..operators.sampling import _threshold, _u60

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
    from ..operators.sampling import _threshold

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


def q_clean_unicode_normalize(spark, sf_dir):
    """Unicode NFC canonicalization audit: decompose every 'e' in the
    corpus into 'e' + COMBINING ACUTE (U+0301) — the mixed-normalization
    state a multi-source crawl arrives in — NFC-normalize it back, and
    prove per source that (a) composition shortened the text by exactly
    the combining-mark count and (b) the result equals the precomposed
    form ('é', U+00E9).  Spark side = Arrow-batched pandas UDF over
    Python unicodedata; oracle = DuckDB nfc_normalize (utf8proc) — two
    independent Unicode implementations pinned against each other."""
    from ..operators.text import nfc_normalize

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


def q_pipe_epoch_shuffle(spark, sf_dir):
    """Reproducible epoch shuffle ledger: 2 training epochs × 8 shards,
    each epoch an independent deterministic permutation (hash of
    salt:epoch:doc_id).  Per (epoch, shard): row count, doc_id sum, and
    the min/max/XOR of the 60-bit order keys — the XOR pins exact shard
    membership (order-independent, overflow-free), min/max pin the order
    envelope.  Narrow except the epoch explode; writers partition by
    (epoch, shard), so no shuffle is ever global."""
    from ..operators.sampling import epoch_shuffle

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


def q_txt_bpe_train(spark, sf_dir):
    """Full BPE tokenizer training, 6 merge rounds over the document
    corpus: the corpus is scanned once into a word-frequency table, then
    every round is a vocabulary-sized pair-count aggregate + argmax +
    double-replace merge (operators/tokenizer.py).  The learned merge
    table is the artifact a tokenizer ships with."""
    from ..operators.tokenizer import bpe_train

    docs = _t(spark, sf_dir, "documents")
    return bpe_train(docs, "text", n_merges=6)


def _bpe_train_oracle():
    from ..operators.tokenizer import bpe_train_oracle_sql

    return bpe_train_oracle_sql("documents", 6)


O_TXT_BPE_TRAIN = _bpe_train_oracle()


def q_txt_bpe_vocab_tokens(spark, sf_dir):
    """Apply half of the tokenizer lifecycle: encode the corpus
    vocabulary with the 6 learned merge rules and report the top-20
    subword-token frequencies — the table a packing/sampling stage
    consumes.  Encoding runs on the vocabulary frame the trainer already
    holds; the corpus is never rescanned."""
    from ..operators.tokenizer import bpe_token_frequencies

    docs = _t(spark, sf_dir, "documents")
    return bpe_token_frequencies(docs, "text", n_merges=6, top_n=20)


def _bpe_tokens_oracle():
    from ..operators.tokenizer import bpe_token_frequencies_oracle_sql

    return bpe_token_frequencies_oracle_sql("documents", 6, 20)


O_TXT_BPE_VOCAB_TOKENS = _bpe_tokens_oracle()


def q_clean_impute_median(spark, sf_dir):
    """Group-median imputation over events.value with synthetic
    missingness (every 17th event id + genuine NULLs): per event type,
    how many holes were filled and the exact integer-cents sum of the
    imputed column.  Per-group percentile + one join back — no window."""
    from ..operators.profiling import impute_median_stats

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
    from ..operators.tokenizer import bpe_fertility

    docs = _t(spark, sf_dir, "documents")
    return bpe_fertility(docs, "text", "lang", n_merges=6)


def _bpe_fertility_oracle():
    from ..operators.tokenizer import bpe_fertility_oracle_sql

    return bpe_fertility_oracle_sql("documents", "lang", 6)


O_TXT_BPE_FERTILITY = _bpe_fertility_oracle()


def q_txt_rake_keyphrases(spark, sf_dir):
    """RAKE keyphrases over the corpus: degree/frequency word scores
    summed per stopword-delimited phrase, integer milli, corpus top-20."""
    from ..operators.text import rake_keyphrases

    docs = _t(spark, sf_dir, "documents")
    return rake_keyphrases(docs, "doc_id", "text", max_len=4, top_n=20)


def _rake_oracle() -> str:
    from ..operators.text import BPE_PATTERN, QUALITY_STOPWORDS

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


def q_txt_skipgram_cooc(spark, sf_dir):
    """Windowed (±2) co-occurrence PMI over the corpus — the skip-gram
    statistic; array-local pair generation, top-30 micro-nat pairs."""
    from ..operators.text import skipgram_cooc

    docs = _t(spark, sf_dir, "documents")
    return skipgram_cooc(docs, "text", window=2, min_count=5, k=30)


def _skipgram_oracle():
    from ..operators.text import skipgram_cooc_oracle

    return skipgram_cooc_oracle(2, 5, 30)


O_TXT_SKIPGRAM = _skipgram_oracle()


def q_pipe_fim_split(spark, sf_dir):
    """FIM span corruption over the corpus: deterministic middle-span
    cut + prefix-suffix-middle reorder, digest-pinned per document."""
    from ..operators.packing import fim_split

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


# --------------------------------------------------------------------------
# txt_gopher_quality — Gopher rule battery (Rae et al. '21 §A1.1)
# --------------------------------------------------------------------------


def q_txt_gopher_quality(spark, sf_dir):
    """Gopher quality-rule battery over the corpus: per-document rule
    measurements + failure bitmask + keep flag (operators/text.py
    gopher_quality).  Thresholds are tuned to the fixture's word-soup
    profile (min_words=20 / mean-len ≥ 4.0 / ≥ 1 stopword instead of
    the paper's 50 / 3.0 / 2) so bits 1, 4 and 64 all split the corpus
    and BOTH the keep and the drop path carry driver data; the rule set
    and bit layout are the paper's."""
    from ..operators.text import gopher_quality

    docs = _t(spark, sf_dir, "documents")
    # no orderBy: the driver's value-hash is order-insensitive and a
    # global sort is the only shuffle a pure row-map would otherwise pay
    # (the id-sorted probe read 14.1x at 10x data; map-only is ~10x)
    return gopher_quality(
        docs,
        "doc_id",
        "text",
        min_words=20,
        min_mean_word_len_micro=4_000_000,
        min_stop_hits=1,
    )


O_TXT_GOPHER_QUALITY = f"""
WITH toks AS (
  SELECT doc_id, text, {_TOKS} AS tk FROM documents
), m AS (
  SELECT doc_id,
         len(tk) AS n_words,
         greatest(len(tk), 1) AS s,
         COALESCE(list_sum(list_transform(tk, w -> len(w))), 0) AS total,
         len(text) - len(replace(text, '#', '')) AS hash_chars,
         (len(text) - len(replace(text, '...', ''))) // 3 AS ell,
         len(list_filter(tk, w -> regexp_matches(w, '[a-zA-Z]'))) AS alpha,
         (CASE WHEN list_contains(tk, 'the')  THEN 1 ELSE 0 END
        + CASE WHEN list_contains(tk, 'be')   THEN 1 ELSE 0 END
        + CASE WHEN list_contains(tk, 'to')   THEN 1 ELSE 0 END
        + CASE WHEN list_contains(tk, 'of')   THEN 1 ELSE 0 END
        + CASE WHEN list_contains(tk, 'and')  THEN 1 ELSE 0 END
        + CASE WHEN list_contains(tk, 'that') THEN 1 ELSE 0 END
        + CASE WHEN list_contains(tk, 'have') THEN 1 ELSE 0 END
        + CASE WHEN list_contains(tk, 'with') THEN 1 ELSE 0 END) AS stop_hits
  FROM toks
), r AS (
  SELECT doc_id, n_words,
         (total * 1000000) // s AS mean_word_len_micro,
         ((hash_chars + ell) * 1000000) // s AS symbol_ratio_micro,
         (alpha * 1000000) // s AS alpha_word_frac_micro,
         stop_hits
  FROM m
), k AS (
  SELECT *,
         (CASE WHEN n_words < 20 THEN 1 ELSE 0 END
        + CASE WHEN n_words > 100000 THEN 2 ELSE 0 END
        + CASE WHEN mean_word_len_micro < 4000000 THEN 4 ELSE 0 END
        + CASE WHEN mean_word_len_micro > 10000000 THEN 8 ELSE 0 END
        + CASE WHEN symbol_ratio_micro > 100000 THEN 16 ELSE 0 END
        + CASE WHEN alpha_word_frac_micro < 800000 THEN 32 ELSE 0 END
        + CASE WHEN stop_hits < 1 THEN 64 ELSE 0 END) AS fail_mask
  FROM r
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(mean_word_len_micro AS BIGINT) AS mean_word_len_micro,
       CAST(symbol_ratio_micro AS BIGINT) AS symbol_ratio_micro,
       CAST(alpha_word_frac_micro AS BIGINT) AS alpha_word_frac_micro,
       CAST(stop_hits AS BIGINT) AS stop_hits,
       CAST(fail_mask AS BIGINT) AS fail_mask,
       fail_mask = 0 AS keep
FROM k ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# clean_url_canon — URL canonicalization for crawl dedup
# --------------------------------------------------------------------------


def q_clean_url_canon(spark, sf_dir):
    """URL canonicalization → dedup counts: five deterministic messy-URL
    variants per document (case/port/fragment/tracking/param-order noise
    synthesized from doc_id/source/lang — both engines build identical
    strings) collapse to their canonical forms
    (operators/text.py url_canonicalize); variant pairs 0≡1 and 2≡3 must
    merge, the ftp variant must pass through untouched.  The crawl-dedup
    primitive the corpus tables can't otherwise exercise (no URL
    column)."""
    from ..operators.text import url_canonicalize

    docs = _t(spark, sf_dir, "documents")
    u = docs.withColumn(
        "url",
        F.expr(
            "case cast(doc_id % 5 as int)"
            " when 0 then 'HTTPS://Example.COM:443/s/' || source ||"
            "   '?utm_source=feed&b=2&a=1#frag'"
            " when 1 then 'https://example.com/s/' || source || '?a=1&b=2'"
            " when 2 then 'HTTP://Example.com:80/l/' || lang"
            " when 3 then 'http://example.com/l/' || lang || '#x'"
            " else 'ftp://archive.example/' || source end"
        ),
    )
    return (
        u.select(url_canonicalize("url").alias("canon_url"))
        .groupBy("canon_url")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("canon_url")
    )


_URL_RE_SQL = r"^(?i)(https?)://([^/?#]+)([^?#]*)(?:\?([^#]*))?(?:#.*)?$"


O_CLEAN_URL_CANON = f"""
WITH u AS (
  SELECT CASE CAST(doc_id % 5 AS INT)
    WHEN 0 THEN 'HTTPS://Example.COM:443/s/' || source ||
      '?utm_source=feed&b=2&a=1#frag'
    WHEN 1 THEN 'https://example.com/s/' || source || '?a=1&b=2'
    WHEN 2 THEN 'HTTP://Example.com:80/l/' || lang
    WHEN 3 THEN 'http://example.com/l/' || lang || '#x'
    ELSE 'ftp://archive.example/' || source END AS url
  FROM documents
),
p AS (
  SELECT url,
         lower(regexp_extract(url, '{_URL_RE_SQL}', 1)) AS scheme,
         lower(regexp_extract(url, '{_URL_RE_SQL}', 2)) AS host0,
         regexp_extract(url, '{_URL_RE_SQL}', 3) AS path0,
         -- COALESCE: DuckDB's array_to_string([]) is NULL where Spark's
         -- array_join([]) is '' — the no-query path must not poison concat
         COALESCE(array_to_string(list_sort(list_filter(
           string_split(regexp_extract(url, '{_URL_RE_SQL}', 4), '&'),
           q -> q <> '' AND NOT starts_with(split_part(q, '=', 1), 'utm_')
                AND split_part(q, '=', 1)
                    NOT IN ('fbclid', 'gclid', 'msclkid', 'ref'))), '&'), '')
           AS qs
  FROM u
),
c AS (
  SELECT CASE WHEN regexp_matches(url, '^(?i)https?://') THEN
           scheme || '://' ||
           CASE scheme
             WHEN 'http'  THEN regexp_replace(host0, ':80$', '')
             WHEN 'https' THEN regexp_replace(host0, ':443$', '')
             ELSE host0 END ||
           CASE WHEN path0 = '' THEN '/' ELSE path0 END ||
           CASE WHEN qs = '' THEN '' ELSE '?' || qs END
         ELSE url END AS canon_url
  FROM p
)
SELECT canon_url, CAST(count(*) AS BIGINT) AS n_docs
FROM c GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# clean_isotonic_calibrate — monotone score calibration (min-max identity)
# --------------------------------------------------------------------------


def q_clean_isotonic_calibrate(spark, sf_dir):
    """Isotonic calibration of the event value (cents) against a
    deterministic noisy-monotone 0/1 label — operators/ranking.py
    calibrate_isotonic: 12 equal-width bins, exact min-max/PAVA fit in
    floor-quantized micro units.  The label rule abs(cents)%97 <
    20 + least(60, abs(cents) div 100) rises with the score (base rate
    ~20% climbing to ~80%), so the fit is a non-trivial increasing step
    function; abs() keeps %-and-div identical across engines on any sign."""
    from ..operators.ranking import calibrate_isotonic

    ev = _t(spark, sf_dir, "events")
    scored = ev.select(
        F.expr("cast(round(100 * value) as bigint)").alias("s"),
    ).select(
        "s",
        F.expr(
            "case when (abs(s) % 97) < (20 + least(60, abs(s) div 100))"
            " then 1 else 0 end"
        ).alias("y"),
    )
    return calibrate_isotonic(scored, "s", "y", n_bins=12)


O_CLEAN_ISOTONIC = """
WITH base AS (
  SELECT s, CASE WHEN (abs(s) % 97) < (20 + least(60, abs(s) // 100))
                 THEN 1 ELSE 0 END AS y
  FROM (SELECT CAST(round(100 * value) AS BIGINT) AS s
        FROM events WHERE value IS NOT NULL)
  WHERE s IS NOT NULL
),
mm AS (SELECT min(s) AS lo, max(s) AS hi FROM base),
binned AS (
  SELECT CAST(least(11, ((s - lo) * 12) // (hi - lo + 1)) AS BIGINT) AS bin, y
  FROM base, mm
),
bins AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM binned GROUP BY bin
),
pre AS (
  SELECT bin, n, pos,
         sum(n) OVER (ORDER BY bin) AS cn,
         sum(pos) OVER (ORDER BY bin) AS cs
  FROM bins
),
ij AS (
  SELECT i.bin AS i, j.bin AS j,
         ((j.cs - (i.cs - i.pos)) * 1000000) // (j.cn - (i.cn - i.n)) AS q
  FROM pre i JOIN pre j ON i.bin <= j.bin
),
mi AS (
  SELECT p.bin AS b, ij.i, min(ij.q) AS m
  FROM ij JOIN pre p ON ij.i <= p.bin AND ij.j >= p.bin
  GROUP BY p.bin, ij.i
),
fit AS (SELECT b, max(m) AS fm FROM mi GROUP BY b)
SELECT bins.bin, bins.n, bins.pos,
       CAST((bins.pos * 1000000) // bins.n AS BIGINT) AS rate_micro,
       CAST(fit.fm AS BIGINT) AS fit_micro
FROM bins JOIN fit ON bins.bin = fit.b
ORDER BY bin
"""


# --------------------------------------------------------------------------
# txt_dup_structure — duplicate line/paragraph fractions (Gopher repetition)
# --------------------------------------------------------------------------


def q_txt_dup_structure(spark, sf_dir):
    """Duplicate-line / duplicate-paragraph fractions over four
    deterministic multi-line variants per document (repeated-line doc,
    repeated-paragraph doc, clean two-liner with fixed distinct
    prefixes, clean source/lang pair) — operators/text.py
    dup_structure_stats, the remaining half of Gopher §A1.1's repetition
    battery (repetition_stats holds the top-n-gram half).  Variants 0
    and 1 must fail (dup-line 50%, dup-para 33%); 2 and 3 must pass for
    ANY corpus (fixed distinct literals bracket the text slices)."""
    from ..operators.text import dup_structure_stats

    docs = _t(spark, sf_dir, "documents")
    synth = docs.withColumn(
        "mtext",
        F.expr(
            "case cast(doc_id % 4 as int)"
            " when 0 then 'dup line' || chr(10) || 'dup line' || chr(10)"
            "   || 'dup line' || chr(10) || 'uniq ' || source"
            " when 1 then 'para one ' || lang || chr(10) || chr(10)"
            "   || 'same para' || chr(10) || chr(10) || 'same para'"
            " when 2 then 'x ' || substring(text, 1, 30) || ' y' || chr(10)"
            "   || 'z ' || substring(text, 31, 30) || ' w'"
            " else 'a ' || source || chr(10) || 'b ' || lang end"
        ),
    )
    return dup_structure_stats(synth, "doc_id", "mtext").orderBy("id")


O_TXT_DUP_STRUCTURE = r"""
WITH synth AS (
  SELECT doc_id AS id, CASE CAST(doc_id % 4 AS INT)
    WHEN 0 THEN 'dup line' || chr(10) || 'dup line' || chr(10)
      || 'dup line' || chr(10) || 'uniq ' || source
    WHEN 1 THEN 'para one ' || lang || chr(10) || chr(10)
      || 'same para' || chr(10) || chr(10) || 'same para'
    WHEN 2 THEN 'x ' || substr(text, 1, 30) || ' y' || chr(10)
      || 'z ' || substr(text, 31, 30) || ' w'
    ELSE 'a ' || source || chr(10) || 'b ' || lang END AS mtext
  FROM documents
),
lu AS (
  SELECT id, trim(regexp_replace(u, '\s+', ' ', 'g')) AS unit
  FROM (SELECT id, unnest(string_split_regex(mtext, '\n')) AS u FROM synth)
),
lf AS (
  SELECT id, unit, count(*) AS c, min(length(unit)) AS ln
  FROM lu WHERE unit <> '' GROUP BY id, unit
),
la AS (
  SELECT id, CAST(sum(c) AS BIGINT) AS n_lines,
         CAST(sum(c - 1) AS BIGINT) AS d,
         CAST(sum(c * ln) AS BIGINT) AS ch,
         CAST(sum((c - 1) * ln) AS BIGINT) AS dch
  FROM lf GROUP BY id
),
pu AS (
  SELECT id, trim(regexp_replace(u, '\s+', ' ', 'g')) AS unit
  FROM (SELECT id, unnest(string_split_regex(mtext, '\n{2,}')) AS u
        FROM synth)
),
pf AS (
  SELECT id, unit, count(*) AS c, min(length(unit)) AS ln
  FROM pu WHERE unit <> '' GROUP BY id, unit
),
pa AS (
  SELECT id, CAST(sum(c) AS BIGINT) AS n_paras,
         CAST(sum(c - 1) AS BIGINT) AS d,
         CAST(sum(c * ln) AS BIGINT) AS ch,
         CAST(sum((c - 1) * ln) AS BIGINT) AS dch
  FROM pf GROUP BY id
),
ids AS (SELECT DISTINCT id FROM synth)
SELECT ids.id,
       COALESCE(la.n_lines, 0) AS n_lines,
       CASE WHEN la.n_lines > 0
            THEN CAST((la.d * 1000000) // la.n_lines AS BIGINT) END
         AS dup_line_frac_micro,
       CASE WHEN la.ch > 0
            THEN CAST((la.dch * 1000000) // la.ch AS BIGINT) END
         AS dup_line_char_frac_micro,
       COALESCE(pa.n_paras, 0) AS n_paras,
       CASE WHEN pa.n_paras > 0
            THEN CAST((pa.d * 1000000) // pa.n_paras AS BIGINT) END
         AS dup_para_frac_micro,
       CASE WHEN pa.ch > 0
            THEN CAST((pa.dch * 1000000) // pa.ch AS BIGINT) END
         AS dup_para_char_frac_micro,
       COALESCE(
         (la.d * 1000000) // la.n_lines <= 300000
         AND (la.dch * 1000000) // la.ch <= 200000
         AND (pa.d * 1000000) // pa.n_paras <= 300000
         AND (pa.dch * 1000000) // pa.ch <= 200000,
         FALSE) AS keep
FROM ids
LEFT JOIN la ON ids.id = la.id
LEFT JOIN pa ON ids.id = pa.id
ORDER BY ids.id
"""


# --------------------------------------------------------------------------
# pipe_despan_rewrite — ExactSubstr deletion: rebuild the de-spanned corpus
# --------------------------------------------------------------------------


def q_pipe_despan_rewrite(spark, sf_dir):
    """The deletion half of the ExactSubstr pair (operators/dedup.py
    despan_rewrite): duplicated spans are REMOVED and the cleaned corpus
    rebuilt in token order, emitting (id, n_toks, n_kept, clean_md5) —
    the md5 proves byte-exact reconstruction against the oracle's
    ORDER BY rebuild.  Same planted corpus as dedup_span_coverage
    (self-concatenated docs + exact copies) so measure and delete are
    directly comparable per document."""
    from ..operators.dedup import despan_rewrite

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
    return despan_rewrite(uni, "id", "text", n_tokens=8).orderBy("id")


O_DESPAN_REWRITE = r"""
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
  SELECT id, island, min(pos) AS s, max(pos) - min(pos) + 8 AS cov
  FROM isl GROUP BY id, island
),
covered AS (SELECT id, CAST(p AS BIGINT) AS pos FROM sp, unnest(range(s, s + cov)) AS t(p)),
tokp AS (
  SELECT id, CAST(i AS BIGINT) AS pos, toks[CAST(i AS INT)] AS tok
  FROM lens, unnest(range(1, CAST(n_toks AS INT) + 1)) AS t(i)
),
kept AS (SELECT tokp.* FROM tokp ANTI JOIN covered USING (id, pos)),
reb AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS clean
  FROM kept GROUP BY id
)
SELECT lens.id AS id, n_toks,
       COALESCE(n_kept, 0) AS n_kept,
       md5(COALESCE(clean, '')) AS clean_md5
FROM lens LEFT JOIN reb USING (id) ORDER BY id
"""


# --------------------------------------------------------------------------
# txt_winnow_fingerprints — Schleimer/Wilkerson/Aiken winnowing (MOSS)
# --------------------------------------------------------------------------


def q_txt_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprint summary per document (k=8-char grams,
    w=4 windows; operators/text.py winnow_fingerprints): count, min/max/
    sum of the selected 32-bit fingerprints and the selection density —
    the positional near-dup primitive (guaranteed shared fingerprint for
    any shared substring ≥ k+w−1 chars) that complements the whole-doc
    sketches (MinHash/SimHash) and global mod-p sampling
    (txt_fingerprint)."""
    from ..operators.text import winnow_fingerprints

    # measured winner for the spread (md5-per-gram compute, per-doc
    # output): fingerprints gate 2.83 vs 3.35 s in the r11 basket A/B
    docs = _docs_spread(spark, sf_dir)
    fps = winnow_fingerprints(docs, "doc_id", "text", k=8, w=4)
    z = F.regexp_replace(F.lower(F.col("text")), r"\s+", "")
    grams = docs.select(
        F.col("doc_id").alias("id"),
        (F.length(z) - F.lit(7)).cast("long").alias("n_grams"),
    ).where(F.col("n_grams") >= 1)
    return (
        fps.groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_fps"),
            F.min("fp").cast("long").alias("fp_min"),
            F.max("fp").cast("long").alias("fp_max"),
            F.sum("fp").cast("long").alias("fp_sum"),
        )
        .join(grams, "id")
        .select(
            F.col("id").alias("doc_id"),
            "n_grams",
            "n_fps",
            "fp_min",
            "fp_max",
            "fp_sum",
            F.expr("(n_fps * 1000000) div n_grams").cast("long").alias(
                "density_micro"
            ),
        )
        .orderBy("doc_id")
    )


_WB = 1 << 31  # text.py _WINNOW_POS_BASE (widened from 2^21, r8 ADVICE low)


O_TXT_WINNOW = f"""
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
  SELECT doc_id, n_grams, pos,
         hh * {_WB} + ({_WB - 1} - pos) AS key
  FROM h
),
w AS (
  SELECT doc_id, n_grams, pos,
         min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wkey
  FROM k
),
sel AS (
  -- DISTINCT over (pos, fp) PAIRS, not fp alone: winnowing's output is
  -- positional — the same hash selected at two positions is two
  -- fingerprints (mirrors winnow_fingerprints' distinct)
  SELECT DISTINCT doc_id, n_grams,
         wkey // {_WB} AS fp,
         {_WB - 1} - (wkey % {_WB}) AS fpos
  FROM w WHERE pos <= greatest(n_grams - 3, 1)
)
SELECT doc_id, n_grams,
       CAST(count(*) AS BIGINT) AS n_fps,
       CAST(min(fp) AS BIGINT) AS fp_min,
       CAST(max(fp) AS BIGINT) AS fp_max,
       CAST(sum(fp) AS BIGINT) AS fp_sum,
       CAST((count(*) * 1000000) // n_grams AS BIGINT) AS density_micro
FROM sel GROUP BY doc_id, n_grams ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# txt_kneser_ney — interpolated KN bigram smoothing
# --------------------------------------------------------------------------


def q_txt_kneser_ney(spark, sf_dir):
    """Interpolated Kneser–Ney probabilities for the corpus' top-50
    bigrams with d = 3/4 — one exact fraction per bigram, 128-bit
    quantized (operators/text.py kneser_ney_bigrams).  Complements
    txt_bigram_nll (unigram-interpolated MLE) with the continuation-
    count smoothing real n-gram perplexity filters use."""
    from ..operators.text import kneser_ney_bigrams

    docs = _t(spark, sf_dir, "documents")
    return kneser_ney_bigrams(docs, "doc_id", "text", top_n=50)


O_TXT_KNESER_NEY = r"""
WITH base AS (
  SELECT list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
  FROM documents
),
idx AS (
  SELECT t, CAST(unnest(range(1, CAST(len(t) AS BIGINT))) AS INT) AS i
  FROM base WHERE len(t) >= 2
),
pairs AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM idx),
bg AS (SELECT w1, w2, count(*) AS c FROM pairs GROUP BY 1, 2),
fwd AS (SELECT w1, sum(c) AS c_w1, count(*) AS n1p_fwd FROM bg GROUP BY 1),
cont AS (SELECT w2, count(*) AS n1p_cont FROM bg GROUP BY 1),
ty AS (SELECT count(*) AS n_bigram_types FROM bg)
SELECT w1, w2, CAST(c AS BIGINT) AS c, CAST(c_w1 AS BIGINT) AS c_w1,
       CAST(n1p_fwd AS BIGINT) AS n1p_fwd,
       CAST(n1p_cont AS BIGINT) AS n1p_cont,
       CAST(n_bigram_types AS BIGINT) AS n_bigram_types,
       CAST(((CAST(4 * c - 3 AS HUGEINT) * n_bigram_types
              + CAST(3 AS HUGEINT) * n1p_fwd * n1p_cont) * 1000000)
            // (CAST(4 AS HUGEINT) * c_w1 * n_bigram_types) AS BIGINT)
         AS kn_prob_micro
FROM bg JOIN fwd USING (w1) JOIN cont USING (w2), ty
ORDER BY c DESC, w1, w2 LIMIT 50
"""


# --------------------------------------------------------------------------
# clean_dates_normalize — messy-date parsing without engine date parsers
# --------------------------------------------------------------------------


def q_clean_dates_normalize(spark, sf_dir):
    """Multi-format date-string normalization over six deterministic
    messy variants synthesized from events.ts (ISO datetime, ISO date,
    unpadded US M/D/YYYY, epoch seconds, 'D Mon YYYY', and junk) —
    regex + integer civil→epoch math on BOTH engines, never an engine
    date parser (operators/text.py normalize_datestrings).  Output: per
    format tag, row count, parse count and exact epoch aggregates; the
    junk variant must land in 'unknown' with NULL epochs."""
    from ..graph import spread_low_parallelism
    from ..operators.text import normalize_datestrings

    # ~20 regex matches + integer civil-date math per row follow on the
    # synthesized variants — spread a single-split events scan first so
    # the parse runs at full width (guide §2.5; no-op on wide inputs;
    # measured 3.2 → 0.8 s on the sf0.1 single-file events table)
    ev = spread_low_parallelism(_t(spark, sf_dir, "events"))
    mon = (
        "case month(ts) when 1 then 'Jan' when 2 then 'Feb' when 3 then 'Mar'"
        " when 4 then 'Apr' when 5 then 'May' when 6 then 'Jun'"
        " when 7 then 'Jul' when 8 then 'Aug' when 9 then 'Sep'"
        " when 10 then 'Oct' when 11 then 'Nov' else 'Dec' end"
    )
    raw = ev.withColumn(
        "raw",
        F.expr(
            "case cast(event_id % 6 as int)"
            " when 0 then date_format(ts, 'yyyy-MM-dd') || 'T' ||"
            "   date_format(ts, 'HH:mm:ss')"
            " when 1 then date_format(ts, 'yyyy-MM-dd')"
            " when 2 then cast(month(ts) as string) || '/' ||"
            "   cast(day(ts) as string) || '/' || cast(year(ts) as string)"
            " when 3 then cast(unix_seconds(date_trunc('second', ts)) as string)"
            f" when 4 then cast(day(ts) as string) || ' ' || {mon} || ' ' ||"
            "   cast(year(ts) as string)"
            " else 'not-a-date-' || cast(event_id as string) end"
        ),
    )
    out = normalize_datestrings(raw, "raw")
    return (
        out.groupBy("fmt")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.count("epoch_sec").cast("long").alias("n_parsed"),
            F.min("epoch_sec").cast("long").alias("min_epoch"),
            F.max("epoch_sec").cast("long").alias("max_epoch"),
            F.sum("epoch_sec").cast("long").alias("sum_epoch"),
        )
        .orderBy("fmt")
    )


def _dates_oracle() -> str:
    from ..operators.text import _date_norm_exprs

    fmt, epoch = _date_norm_exprs("raw", "duckdb")
    mon = (
        "CASE month(ts) WHEN 1 THEN 'Jan' WHEN 2 THEN 'Feb' WHEN 3 THEN 'Mar'"
        " WHEN 4 THEN 'Apr' WHEN 5 THEN 'May' WHEN 6 THEN 'Jun'"
        " WHEN 7 THEN 'Jul' WHEN 8 THEN 'Aug' WHEN 9 THEN 'Sep'"
        " WHEN 10 THEN 'Oct' WHEN 11 THEN 'Nov' ELSE 'Dec' END"
    )
    return f"""
WITH raw AS (
  SELECT CASE CAST(event_id % 6 AS INT)
    WHEN 0 THEN strftime(ts, '%Y-%m-%d') || 'T' || strftime(ts, '%H:%M:%S')
    WHEN 1 THEN strftime(ts, '%Y-%m-%d')
    WHEN 2 THEN CAST(month(ts) AS VARCHAR) || '/' ||
      CAST(day(ts) AS VARCHAR) || '/' || CAST(year(ts) AS VARCHAR)
    WHEN 3 THEN CAST(CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                     AS VARCHAR)
    WHEN 4 THEN CAST(day(ts) AS VARCHAR) || ' ' || {mon} || ' ' ||
      CAST(year(ts) AS VARCHAR)
    ELSE 'not-a-date-' || CAST(event_id AS VARCHAR) END AS raw
  FROM events
),
norm AS (
  SELECT CASE WHEN raw IS NULL THEN 'unknown' ELSE {fmt} END AS fmt,
         CASE WHEN raw IS NULL THEN CAST(NULL AS BIGINT)
              ELSE {epoch} END AS epoch_sec
  FROM raw
)
SELECT fmt, CAST(count(*) AS BIGINT) AS n,
       CAST(count(epoch_sec) AS BIGINT) AS n_parsed,
       CAST(min(epoch_sec) AS BIGINT) AS min_epoch,
       CAST(max(epoch_sec) AS BIGINT) AS max_epoch,
       CAST(sum(epoch_sec) AS BIGINT) AS sum_epoch
FROM norm GROUP BY fmt ORDER BY fmt
"""


O_CLEAN_DATES = _dates_oracle()


# --------------------------------------------------------------------------
# txt_zipf_fit — rank-frequency slope
# --------------------------------------------------------------------------


def q_txt_zipf_fit(spark, sf_dir):
    """Zipf rank-frequency regression over the corpus' top-100 unigrams
    (operators/text.py zipf_fit): micro-quantized ln coordinates →
    exact 128-bit least squares; slope_milli ≈ −1000 is the natural-text
    signature, the corpus-level alarm next to the per-doc Gopher
    battery."""
    from ..operators.text import zipf_fit

    docs = _t(spark, sf_dir, "documents")
    return zipf_fit(docs, top_r=100)


O_TXT_ZIPF = r"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            t -> t <> '')) AS term
  FROM documents
),
uni AS (SELECT term, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY term),
corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(freq) AS BIGINT) AS n_tokens
  FROM uni
),
top AS (
  SELECT freq,
         CAST(row_number() OVER (ORDER BY freq DESC, term) AS BIGINT) AS rank
  FROM uni ORDER BY freq DESC, term LIMIT 100
),
xy AS (
  SELECT rank, freq,
         CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS x,
         CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS y
  FROM top
),
reg AS (
  SELECT CAST(count(*) AS BIGINT) AS r_eff,
         CAST(max(CASE WHEN rank = 1 THEN freq END) AS BIGINT) AS top_freq,
         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(x AS HUGEINT) * x) AS sxx
  FROM xy
)
SELECT r_eff, n_types, n_tokens, top_freq,
       CASE WHEN r_eff < 2 OR (r_eff * sxx - sx * sx) = 0 THEN NULL
       ELSE CAST((CASE WHEN (r_eff * sxy - sx * sy) < 0 THEN -1 ELSE 1 END)
                 * ((abs(r_eff * sxy - sx * sy) * 1000)
                    // (r_eff * sxx - sx * sx)) AS BIGINT) END AS slope_milli,
       CASE WHEN r_eff < 2 OR (r_eff * sxx - sx * sx) = 0 THEN NULL
       ELSE CAST((sy // r_eff)
                 - (CASE WHEN (r_eff * sxy - sx * sy) < 0 THEN -1 ELSE 1 END)
                   * ((abs(CAST(
                        (CASE WHEN (r_eff * sxy - sx * sy) < 0 THEN -1 ELSE 1 END)
                        * ((abs(r_eff * sxy - sx * sy) * 1000)
                           // (r_eff * sxx - sx * sx)) AS HUGEINT))
                      * (sx // r_eff)) // 1000) AS BIGINT) END
         AS intercept_micro
FROM reg, corpus
"""


# --------------------------------------------------------------------------
# txt_gopher_lines — the line-level Gopher rules
# --------------------------------------------------------------------------


def q_txt_gopher_lines(spark, sf_dir):
    """Line-level Gopher rules (bullet-start > 90%, ellipsis-end > 30%)
    over four deterministic multi-line variants synthesized per document
    (all-bullet list, ellipsis-preview stack, normal two-liner, mixed) —
    the half of Rae et al.'s battery that txt_gopher_quality's per-doc
    word statistics can't express (operators/text.py gopher_line_rules).
    Variants 0 and 1 must fail bits 1 and 2 respectively; 2 and 3 must
    pass — variant 2's lines are wrapped in fixed non-bullet /
    non-ellipsis literals ('x ' prefix, ' y' suffix) so the pass
    contract holds for ANY corpus, not just one whose text happens to
    avoid leading bullets and trailing '...' (r8 ADVICE low)."""
    from ..operators.text import gopher_line_rules

    docs = _t(spark, sf_dir, "documents")
    synth = docs.withColumn(
        "mtext",
        F.expr(
            "case cast(doc_id % 4 as int)"
            " when 0 then '- alpha ' || source || chr(10) || '- beta item'"
            "   || chr(10) || '- gamma item'"
            " when 1 then 'intro ' || source || chr(10) || 'preview one...'"
            "   || chr(10) || 'preview two...' || chr(10) || 'preview three...'"
            " when 2 then 'x ' || substring(text, 1, 40) || ' y' || chr(10)"
            "   || 'x ' || substring(text, 41, 40) || ' y'"
            " else '• ' || lang || ' item' || chr(10) || 'plain tail line' end"
        ),
    )
    return gopher_line_rules(synth, "doc_id", "mtext").orderBy("id")


O_TXT_GOPHER_LINES = """
WITH synth AS (
  SELECT doc_id, CASE CAST(doc_id % 4 AS INT)
    WHEN 0 THEN '- alpha ' || source || chr(10) || '- beta item'
      || chr(10) || '- gamma item'
    WHEN 1 THEN 'intro ' || source || chr(10) || 'preview one...'
      || chr(10) || 'preview two...' || chr(10) || 'preview three...'
    WHEN 2 THEN 'x ' || substr(text, 1, 40) || ' y' || chr(10)
      || 'x ' || substr(text, 41, 40) || ' y'
    ELSE '• ' || lang || ' item' || chr(10) || 'plain tail line' END AS mtext
  FROM documents
),
lines AS (
  SELECT doc_id AS id, trim(unnest(string_split(mtext, chr(10)))) AS l
  FROM synth
),
nz AS (SELECT id, l FROM lines WHERE l <> ''),
agg AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN starts_with(l, '-') OR starts_with(l, '•')
                        OR starts_with(l, '*') THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bullet,
         CAST(sum(CASE WHEN l LIKE '%...' OR l LIKE '%…' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_ellipsis
  FROM nz GROUP BY id
)
SELECT id, n_lines, n_bullet, n_ellipsis,
       CAST((n_bullet * 1000000) // n_lines AS BIGINT) AS bullet_frac_micro,
       CAST((n_ellipsis * 1000000) // n_lines AS BIGINT) AS ellipsis_frac_micro,
       CAST((CASE WHEN (n_bullet * 1000000) // n_lines > 900000
                  THEN 1 ELSE 0 END)
            + (CASE WHEN (n_ellipsis * 1000000) // n_lines > 300000
                    THEN 2 ELSE 0 END) AS BIGINT) AS fail_mask,
       ((CASE WHEN (n_bullet * 1000000) // n_lines > 900000 THEN 1 ELSE 0 END)
        + (CASE WHEN (n_ellipsis * 1000000) // n_lines > 300000
                THEN 2 ELSE 0 END)) = 0 AS keep
FROM agg ORDER BY id
"""


# --------------------------------------------------------------------------
# clean_html_strip — crawl HTML cleaning
# --------------------------------------------------------------------------


def q_clean_html_strip(spark, sf_dir):
    """HTML tag stripping + entity decode + whitespace collapse over
    three deterministic markup variants per document (full page, inline
    div with &nbsp;, plain passthrough) — the first cleaning step of
    every crawl pipeline (operators/text.py strip_html; the DuckDB side
    is emitted by strip_html_sql from the same entity table, so decode
    ORDER — &amp; last — is pinned identically)."""
    from ..operators.text import strip_html

    docs = _t(spark, sf_dir, "documents")
    raw = docs.withColumn(
        "html",
        F.expr(
            "case cast(doc_id % 3 as int)"
            " when 0 then '<html><body><h1>' || source || '</h1><p>'"
            "   || substring(text, 1, 60) || ' &amp; more &lt;tags&gt;</p></body></html>'"
            " when 1 then '<div class=\"x\">' || substring(text, 1, 40)"
            "   || '</div>&nbsp;<span>tail &#39;q&#39;</span>'"
            " else text end"
        ),
    )
    return raw.select(
        "doc_id",
        strip_html("html").alias("clean_text"),
    ).withColumn("n_chars_clean", F.length("clean_text").cast("long")).orderBy(
        "doc_id"
    )


def _html_oracle() -> str:
    from ..operators.text import strip_html_sql

    return f"""
WITH raw AS (
  SELECT doc_id, CASE CAST(doc_id % 3 AS INT)
    WHEN 0 THEN '<html><body><h1>' || source || '</h1><p>'
      || substr(text, 1, 60) || ' &amp; more &lt;tags&gt;</p></body></html>'
    WHEN 1 THEN '<div class="x">' || substr(text, 1, 40)
      || '</div>&nbsp;<span>tail &#39;q&#39;</span>'
    ELSE text END AS html
  FROM documents
)
SELECT doc_id, {strip_html_sql('html')} AS clean_text,
       CAST(length({strip_html_sql('html')}) AS BIGINT) AS n_chars_clean
FROM raw ORDER BY doc_id
"""


O_CLEAN_HTML = _html_oracle()


# --------------------------------------------------------------------------
# txt_heaps_fit — Heaps'-law vocabulary growth
# --------------------------------------------------------------------------


def q_txt_heaps_fit(spark, sf_dir):
    """Heaps'-law V(N) ≈ K·N^β fit over the corpus in doc-id order,
    checkpoints every 50 docs (operators/text.py heaps_fit) — Zipf's
    companion corpus-health number: the first-occurrence trick
    (min doc id per term) makes vocabulary growth one vocabulary-sized
    aggregate plus scale-safe bucketed cumsums, no prefix-distinct
    machinery.  Same micro-quantized integer least squares and
    sign·(|num| div den) recipe as txt_zipf_fit."""
    from ..operators.text import heaps_fit

    docs = _t(spark, sf_dir, "documents")
    return heaps_fit(docs, checkpoint_every=50)


O_TXT_HEAPS = r"""
WITH base AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
  FROM documents WHERE doc_id IS NOT NULL
),
toks AS (SELECT id, unnest(t) AS term FROM base),
first AS (SELECT term, min(id) AS fid FROM toks GROUP BY term),
newt AS (SELECT fid AS id, CAST(count(*) AS BIGINT) AS f FROM first GROUP BY fid),
per_doc AS (
  SELECT base.id, CAST(len(t) AS BIGINT) AS ntok,
         CAST(coalesce(f, 0) AS BIGINT) AS f
  FROM base LEFT JOIN newt ON base.id = newt.id
),
cum AS (
  SELECT id, ntok, f,
         CAST(sum(f) OVER (ORDER BY id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS v,
         CAST(sum(ntok) OVER (ORDER BY id ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS n_tok,
         CAST(row_number() OVER (ORDER BY id) AS BIGINT) AS rank
  FROM per_doc
),
pts AS (
  SELECT rank, v, n_tok,
         CAST(floor(ln(CAST(n_tok AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS x,
         CAST(floor(ln(CAST(v AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS y
  FROM cum WHERE rank % 50 = 0 AND v >= 1 AND n_tok >= 1
),
finals AS (
  SELECT v AS vocab_final, n_tok AS tokens_final FROM cum
  ORDER BY id DESC LIMIT 1
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM per_doc),
reg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_checkpoints,
         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(x AS HUGEINT) * x) AS sxx
  FROM pts
)
SELECT n_checkpoints, n_docs, vocab_final, tokens_final,
       CASE WHEN n_checkpoints < 2
            OR (n_checkpoints * sxx - sx * sx) = 0 THEN NULL
       ELSE CAST((CASE WHEN (n_checkpoints * sxy - sx * sy) < 0
                       THEN -1 ELSE 1 END)
                 * ((abs(n_checkpoints * sxy - sx * sy) * 1000)
                    // (n_checkpoints * sxx - sx * sx)) AS BIGINT) END
         AS slope_milli,
       CASE WHEN n_checkpoints < 2
            OR (n_checkpoints * sxx - sx * sx) = 0 THEN NULL
       ELSE CAST((sy // n_checkpoints)
                 - (CASE WHEN (n_checkpoints * sxy - sx * sy) < 0
                         THEN -1 ELSE 1 END)
                   * ((abs(CAST(
                        (CASE WHEN (n_checkpoints * sxy - sx * sy) < 0
                              THEN -1 ELSE 1 END)
                        * ((abs(n_checkpoints * sxy - sx * sy) * 1000)
                           // (n_checkpoints * sxx - sx * sx)) AS HUGEINT))
                      * (sx // n_checkpoints)) // 1000) AS BIGINT) END
         AS intercept_micro
FROM reg, nd, finals
"""


GATES: dict[str, tuple] = {
    "clean_quantile_norm": (q_clean_quantile_norm, O_CLEAN_QUANTILE_NORM),
    "txt_readability": (q_txt_readability, O_TXT_READABILITY),
    "pipe_dataset_card": (q_pipe_dataset_card, O_PIPE_DATASET_CARD),
    "pipe_ccnet_buckets": (q_pipe_ccnet_buckets, O_PIPE_CCNET),
    "pipe_quality_ablation": (q_pipe_quality_ablation, O_PIPE_ABLATION),
    "pipe_pack_pairs": (q_pipe_pack_pairs, O_PIPE_PACK_PAIRS),
    "txt_char_entropy": (q_txt_char_entropy, text.CHAR_ENTROPY_ORACLE),
    "pipe_temperature_mix": (q_pipe_temperature_mix, O_PIPE_TEMPERATURE),
    "pipe_interleave": (q_pipe_interleave, O_PIPE_INTERLEAVE),
    "txt_hash_embedding": (q_txt_hash_embedding, O_TXT_HASH_EMB),
    "txt_bigram_nll": (q_txt_bigram_nll, text.BIGRAM_NLL_ORACLE),
    "txt_pmi_collocations": (q_txt_pmi_collocations, text.pmi_collocations_oracle()),
    "txt_source_jsd": (q_txt_source_jsd, O_TXT_SOURCE_JSD),
    "pipe_length_buckets": (q_pipe_length_buckets, O_LENGTH_BUCKETS),
    "pipe_seq_pack": (q_pipe_seq_pack, O_PIPE_PACK),
    "pipe_mixture": (q_pipe_mixture, O_PIPE_MIXTURE),
    "pipe_chunking": (q_pipe_chunking, O_PIPE_CHUNK),
    "pipe_assemble": (q_pipe_assemble, O_PIPE_ASSEMBLE),
    "txt_bm25_topk": (q_txt_bm25_topk, O_TXT_BM25),
    "txt_tfidf_keywords": (q_txt_tfidf_keywords, O_TXT_TFIDF),
    "txt_tfidf_sim_pairs": (q_txt_tfidf_sim_pairs, O_TXT_TFIDF_SIM),
    "txt_top_bigrams": (q_txt_top_bigrams, O_TXT_BIGRAMS),
    "txt_bpe_tokens": (q_txt_bpe_tokens, O_TXT_BPE),
    "txt_bpe_pair_counts": (q_txt_bpe_pair_counts, O_TXT_BPE_PAIRS),
    "txt_unigram_nll": (q_txt_unigram_nll, O_TXT_UNIGRAM_NLL),
    "pipe_shard_manifest": (q_pipe_shard_manifest, O_PIPE_SHARD_MANIFEST),
    "txt_stats": (q_txt_stats, O_TXT_STATS),
    "txt_repetition": (q_txt_repetition, O_TXT_REPETITION),
    "txt_pii_scrub": (q_txt_pii_scrub, O_TXT_PII),
    "txt_lang_id": (q_txt_lang_id, O_TXT_LANG),
    "txt_fingerprint": (q_txt_fingerprint, O_TXT_FP),
    "clean_winsorize": (q_clean_winsorize, O_WINSORIZE),
    "pipe_dataset_diff": (q_pipe_dataset_diff, O_PIPE_DATASET_DIFF),
    "pipe_corpus_clean": (q_pipe_corpus_clean, O_PIPE_CLEAN),
    "txt_bpe_train": (q_txt_bpe_train, O_TXT_BPE_TRAIN),
    "txt_bpe_fertility": (q_txt_bpe_fertility, O_TXT_BPE_FERTILITY),
    "clean_impute_median": (q_clean_impute_median, O_CLEAN_IMPUTE_MEDIAN),
    "txt_rake_keyphrases": (q_txt_rake_keyphrases, O_TXT_RAKE),
    "pipe_fim_split": (q_pipe_fim_split, O_PIPE_FIM_SPLIT),
    "txt_skipgram_cooc": (q_txt_skipgram_cooc, O_TXT_SKIPGRAM),
    "txt_bpe_vocab_tokens": (q_txt_bpe_vocab_tokens, O_TXT_BPE_VOCAB_TOKENS),
    "pipe_epoch_shuffle": (q_pipe_epoch_shuffle, O_PIPE_EPOCH_SHUFFLE),
    "clean_unicode_normalize": (q_clean_unicode_normalize, O_CLEAN_UNICODE_NORMALIZE),
    "txt_gopher_quality": (q_txt_gopher_quality, O_TXT_GOPHER_QUALITY),
    "clean_url_canon": (q_clean_url_canon, O_CLEAN_URL_CANON),
    "clean_isotonic_calibrate": (q_clean_isotonic_calibrate, O_CLEAN_ISOTONIC),
    "txt_dup_structure": (q_txt_dup_structure, O_TXT_DUP_STRUCTURE),
    "pipe_despan_rewrite": (q_pipe_despan_rewrite, O_DESPAN_REWRITE),
    "txt_winnow_fingerprints": (q_txt_winnow_fingerprints, O_TXT_WINNOW),
    "txt_kneser_ney": (q_txt_kneser_ney, O_TXT_KNESER_NEY),
    "clean_dates_normalize": (q_clean_dates_normalize, O_CLEAN_DATES),
    "txt_zipf_fit": (q_txt_zipf_fit, O_TXT_ZIPF),
    "txt_gopher_lines": (q_txt_gopher_lines, O_TXT_GOPHER_LINES),
    "clean_html_strip": (q_clean_html_strip, O_CLEAN_HTML),
    "txt_heaps_fit": (q_txt_heaps_fit, O_TXT_HEAPS),
}
