"""Text-analysis operators for large-scale training-data pipelines.

These extend the reference surface (which has no text analytics — its scalar
string helpers stop at case conversion and hex codecs, src/egraph_util.erl:
944-955, 222-261) with the document-pipeline operations a 100 TB corpus
needs: token counting, quality scoring, language identification, and
document fingerprinting.

Every operator is a pure column-expression composition (JVM-side, inside
whole-stage codegen — no Python UDFs in the hot path), so they scale
embarrassingly: one narrow projection over the documents table, no shuffle,
predicate/column pruning reach the parquet scan untouched.

Determinism contract: each formula is reproducible in ANSI SQL (the DuckDB
oracles in queries_pipeline.py re-derive the same values bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Language-ID stopword profiles.  Tiny on purpose: at scale these live in a
# broadcast map; the operator stays a CASE/array_contains expression.  Order
# is the deterministic tie-break (first profile wins ties).
LANG_PROFILES: list[tuple[str, tuple[str, ...]]] = [
    ("en", ("the", "a", "of", "and", "is", "to", "in")),
    ("de", ("der", "die", "das", "und", "ist", "zu")),
    ("fr", ("le", "la", "et", "les", "est", "des")),
    ("es", ("el", "los", "y", "es", "de", "que")),
    ("zh", ("的", "是", "了", "在")),
]

# Stopwords used by the quality score (English-ish; the score is a signal,
# not a truth — what matters is that it is deterministic and cheap).
QUALITY_STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "is", "to", "in")


def tokens(text: str | Column) -> Column:
    """Whitespace tokenization → array<string>; blank/whitespace-only text
    yields an EMPTY array.

    A bare ``split`` leaves phantom ``''`` tokens at whitespace boundaries
    (``split("foo\\n")`` → ``["foo", ""]`` — ``trim`` strips only ' ', not
    \\n/\\t, in both Spark and DuckDB), which inflated token counts and
    quality denominators for trailing-whitespace docs.  Filtering empties
    handles every boundary case uniformly; SQL mirrors use
    ``list_filter(string_split_regex(text, '\\s+'), t -> t <> '')``.
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, r"\s+"), lambda t: t != F.lit(""))


def token_count(text: str | Column) -> Column:
    return F.size(tokens(text)).cast("long")


def char_count(text: str | Column) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.length(c).cast("long")


def quality_millionths(text: str | Column) -> Column:
    """Deterministic quality signal scaled to millionths, as exact BIGINT.

    score = 0.4·min(n_tokens/100, 1) + 0.3·min(mean_len/8, 1) + 0.3·min(sw_ratio/0.4, 1)

    Length rewards substance, mean token length penalizes fragment soup,
    stopword presence approximates natural-language-ness (pure keyword
    lists score low).  Computed entirely in integer arithmetic (token
    counts, total token chars, stopword hits are exact ints; each term is
    an integer floor-division) so ANY engine reproduces it bit-for-bit —
    no float rounding-boundary hazards.
    """
    t = tokens(text)
    n = token_count(text)  # long
    s = F.greatest(F.size(t).cast("long"), F.lit(1).cast("long"))
    total = F.aggregate(t, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w))
    sw = F.array(*[F.lit(x) for x in QUALITY_STOPWORDS])
    hits = F.size(F.filter(t, lambda w: F.array_contains(sw, w))).cast("long")
    am = F.lit(4000).cast("long") * F.least(n, F.lit(100).cast("long"))
    # Floor division via (x - x%d)/d: the numerator is exactly divisible, so
    # the double division is exact (no float-floor misrounding hazard).
    bm = (F.lit(300000).cast("long") * F.least(total, F.lit(8).cast("long") * s)).cast("long")
    bm = F.try_divide(bm - (bm % (F.lit(8).cast("long") * s)), F.lit(8).cast("long") * s).cast("long")
    cm = F.lit(300000).cast("long") * F.least(F.lit(5).cast("long") * hits, F.lit(2).cast("long") * s)
    cm = F.try_divide(cm - (cm % (F.lit(2).cast("long") * s)), F.lit(2).cast("long") * s).cast("long")
    return (am + bm + cm).alias("quality_millionths")


def quality_score(text: str | Column) -> Column:
    """quality_millionths / 1e6 as DOUBLE (same integer → same double on
    every engine: one exact int division by 1,000,000)."""
    return (quality_millionths(text) / F.lit(1000000.0)).cast("double")


def lang_scores(text: str | Column) -> list[tuple[str, Column]]:
    """Per-language stopword hit-ratio columns."""
    t = tokens(text)
    n = F.greatest(F.size(t), F.lit(1))
    out = []
    for lang, words in LANG_PROFILES:
        sw = F.array(*[F.lit(s) for s in words])
        hits = F.size(F.filter(t, lambda w: F.array_contains(sw, w)))
        out.append((lang, (hits / n).cast("double")))
    return out


def lang_id(text: str | Column) -> Column:
    """argmax over LANG_PROFILES; ties break to the earlier profile.

    'und' (undetermined) when no profile scores > 0.
    """
    scores = lang_scores(text)
    # Forward walk with strict > : earlier profiles win ties.
    best_lang = F.lit("und")
    best_score = F.lit(0.0)
    for lang, s in scores:
        take = s > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, s).otherwise(best_score)
    return best_lang


# BPE-ish pre-tokenization pattern (GPT-2 style, ASCII-conservative so any
# regex engine agrees): letter runs, digit runs, single punctuation marks.
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def bpe_token_count(text: str | Column) -> Column:
    """Sub-word-ish token count: whitespace splitting undercounts for BPE
    vocab budgeting; this counts letter runs / digit runs / punctuation
    separately (the GPT-2 pre-tokenizer shape, minus unicode classes)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(BPE_PATTERN), 0)).cast("long")


def bpe_pair_counts(
    docs: "DataFrame", text_col: str, top_n: int = 50
) -> "DataFrame":
    """Corpus-wide adjacent-symbol pair counts — the inner step of BPE
    tokenizer training (the first merge round: character-level pairs).

    Real BPE trainers never scan the corpus per merge: they aggregate a
    WORD-FREQUENCY table once and count pairs over the distinct words,
    weighted by word count.  Same here: pre-tokens (letter/digit/punct
    runs, :data:`BPE_PATTERN`) → groupBy(word) — vocabulary-sized, ≪
    corpus, map-side combined — then each distinct word explodes into its
    adjacent character pairs weighted by the word's count.  At 100 TB the
    corpus is touched once; every subsequent merge round would rerun only
    over the (tiny) vocabulary table.

    Output: (pair, n) — top ``top_n`` by count, pair/lexicographic
    tie-break, integer counts (engine-exact).
    """
    words = (
        docs.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit(BPE_PATTERN), 0
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    # 1-char words have no pairs: guard the window generation (Spark's
    # sequence(1, 0) is descending — same trap as the shingle generators)
    pairs = words.select(
        "wc",
        F.explode(
            F.expr(
                "if(length(w) < 2, array(),"
                " transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2)))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(top_n)
    )


def unigram_nll(
    docs: "DataFrame", id_col: str, text_col: str
) -> "DataFrame":
    """Per-document negative log-likelihood under the corpus's own unigram
    LM — the CCNet-style statistical quality filter (language-model
    perplexity bucketing): fluent text scores low, boilerplate/junk high.

    Add-one smoothing: p(w) = (c(w)+1) / (T+V) with T = total tokens,
    V = vocabulary size.  Per-token −ln p is quantized to integer
    MICRO-lognats (floor(−ln p · 10⁶)) BEFORE the per-document sum, so
    the aggregate is an integer sum — order-exact under Spark's partial
    aggregation and bit-identical in the SQL oracle (one correctly-
    rounded division + the same single ln call the BM25 gate already
    relies on).

    Output: (id, n_tokens, nll_micro, avg_nll_micro) — integer columns;
    avg = nll_micro div n_tokens.  Scale: one token explode (linear), one
    vocabulary-sized aggregate, one join on term (shuffle bounded by the
    token stream; the unigram table itself is vocabulary-sized and
    broadcastable for natural-language vocabularies), one map-side-
    combined per-doc sum.
    """
    from .checkpoint import cut_lineage

    toks = (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
        )
    )
    # cut_lineage on the VOCABULARY-sized counts (it feeds the corpus
    # scalar and the scoring join — uncut, each re-derives the token
    # aggregate from the raw corpus).  toks itself stays uncut by
    # choice: it is corpus-TOKEN-sized, so materializing it would cost
    # more storage than the one extra map-only scan it saves.
    counts = (
        toks.groupBy("term").agg(F.count("*").alias("c")).transform(cut_lineage)
    )
    corpus = counts.agg(
        F.sum("c").alias("T"), F.count("*").alias("V")
    )
    scored = (
        toks.join(counts, "term")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "nll_micro_tok",
            F.expr("cast(floor(-ln((c + 1) / (T + V)) * 1000000) as bigint)"),
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("nll_micro_tok").alias("nll_micro"),
        )
        .select(
            "id",
            "n_tokens",
            "nll_micro",
            F.expr("nll_micro div n_tokens").alias("avg_nll_micro"),
        )
    )


def bigram_nll(docs: "DataFrame", id_col: str, text_col: str) -> "DataFrame":
    """Per-document NLL under an interpolated bigram LM trained on the
    corpus itself — the next fidelity step past :func:`unigram_nll`
    (catches word-salad that unigram frequency alone scores as fluent).

    p(w₂|w₁) = ½·c(w₁w₂)/c₁(w₁) + ½·p_uni(w₂), where c₁ is w₁'s
    bigram-start count (so the conditional sums to 1 exactly) and p_uni is
    the same add-one-smoothed unigram the NLL gate uses.  Only bigram
    positions are scored (docs need ≥ 2 tokens).

    Determinism: each probability is two single IEEE divisions, two ×0.5
    (exact powers of two) and one addition, composed in the SAME textual
    order in the SQL mirror; the one ln call is the BM25/unigram trust
    base.  Per-token −ln p is quantized to integer micro-lognats BEFORE
    the per-doc sum.

    Scale: one guarded bigram explode (linear), two vocabulary-sized count
    tables joined back on their keys (shuffle bounded by the bigram
    stream; both count tables are broadcastable for natural-language
    vocabularies), one map-side-combined per-doc integer sum.
    """
    c = F.col(text_col)
    base = docs.select(F.col(id_col).alias("id"), tokens(F.lower(c)).alias("t"))
    pairs = base.select(
        "id",
        F.explode(
            F.expr(
                "if(size(t) < 2, array(),"
                " transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2)))"
            )
        ).alias("bg"),
    ).select("id", "bg.w1", "bg.w2")
    bg_counts = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    start_counts = bg_counts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    toks = base.select("id", F.explode("t").alias("term"))
    uni = toks.groupBy("term").agg(F.count("*").alias("c2"))
    corpus = uni.agg(F.sum("c2").alias("T"), F.count("*").alias("V"))
    scored = (
        pairs.join(bg_counts, ["w1", "w2"])
        .join(start_counts, "w1")
        .join(uni.withColumnRenamed("term", "w2"), "w2")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "nll_micro_tok",
            F.expr(
                "cast(floor(-ln(0.5 * (c12 / c1) + 0.5 * ((c2 + 1) / (T + V)))"
                " * 1000000) as bigint)"
            ),
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("nll_micro_tok").alias("nll2_micro"),
        )
        .select(
            "id",
            "n_bigrams",
            "nll2_micro",
            F.expr("nll2_micro div n_bigrams").alias("avg_nll2_micro"),
        )
    )


BIGRAM_NLL_ORACLE = r"""
WITH base AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
  FROM documents
),
pairs AS (
  SELECT id, t[CAST(i AS INT)] AS w1, t[CAST(i + 1 AS INT)] AS w2
  FROM base, unnest(range(1, greatest(len(t), 1))) AS u(i)
),
bg_counts AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2),
start_counts AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bg_counts GROUP BY w1),
toks AS (SELECT id, unnest(t) AS term FROM base),
uni AS (SELECT term, count(*) AS c2 FROM toks GROUP BY term),
corpus AS (SELECT CAST(sum(c2) AS BIGINT) AS T, count(*) AS V FROM uni),
scored AS (
  SELECT id,
         CAST(floor(-ln(0.5 * (c12 / c1) + 0.5 * ((c2 + 1) / (T + V)))
              * 1000000) AS BIGINT) AS nll_micro_tok
  FROM pairs
  JOIN bg_counts USING (w1, w2)
  JOIN start_counts USING (w1)
  JOIN uni ON uni.term = pairs.w2, corpus
)
SELECT id, count(*) AS n_bigrams,
       CAST(sum(nll_micro_tok) AS BIGINT) AS nll2_micro,
       CAST(sum(nll_micro_tok) // count(*) AS BIGINT) AS avg_nll2_micro
FROM scored GROUP BY id
"""


def pmi_collocations(
    docs: "DataFrame",
    text_col: str,
    min_count: int = 5,
    k: int = 20,
) -> "DataFrame":
    """Top-k collocations by pointwise mutual information — the
    association-strength ranking raw bigram counts cannot give (the
    top-bigrams gate surfaces "of the"; PMI surfaces the pairs that
    co-occur far above chance).  PMI(w1,w2) = ln(p(w1w2)/(p(w1)p(w2)))
    with p(w1w2)=c12/B over bigram positions and p(w)=c/N over tokens.

    Determinism: counts are exact integers; the single ln call is the
    BM25/NLL trust base and its argument is composed of three IEEE
    divisions and one multiply in the SAME textual order as the SQL
    mirror; the score is quantized to integer micro-nats (floor) before
    the ordering, and ties break on (w1, w2).

    Scale: the bigram explode is linear and the count table is
    vocabulary²-bounded (far smaller after ``min_count`` — rare pairs
    dominate the raw grid but cannot reach the threshold); the two
    unigram joins are broadcastable for natural-language vocabularies,
    and the top-k is a TakeOrdered (k per partition, no global sort).
    """
    base = docs.select(tokens(F.lower(F.col(text_col))).alias("t"))
    pairs = base.select(
        F.explode(
            F.expr(
                "if(size(t) < 2, array(),"
                " transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2)))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    from .checkpoint import cut_lineage

    # cut_lineage on both count tables: bg_counts feeds the B scalar and
    # the scored join, uni feeds the N scalar and TWO broadcast joins —
    # uncut, each reference re-derived the explode+count from the corpus
    # (5 source scans measured); both tables are vocabulary-bounded
    bg_counts = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .transform(cut_lineage)
    )
    toks = base.select(F.explode("t").alias("term"))
    uni = toks.groupBy("term").agg(F.count("*").alias("c")).transform(cut_lineage)
    corpus = uni.agg(F.sum("c").cast("long").alias("N")).crossJoin(
        bg_counts.agg(F.sum("c12").cast("long").alias("B"))
    )
    scored = (
        bg_counts.where(F.col("c12") >= min_count)
        .join(F.broadcast(uni.select(F.col("term").alias("w1"), F.col("c").alias("c1"))), "w1")
        .join(F.broadcast(uni.select(F.col("term").alias("w2"), F.col("c").alias("c2"))), "w2")
        .crossJoin(F.broadcast(corpus))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("c12"),
            F.expr(
                "cast(floor(ln((c12 / cast(B as double))"
                " / ((c1 / cast(N as double)) * (c2 / cast(N as double))))"
                " * 1000000) as bigint)"
            ).alias("pmi_micro"),
        )
    )
    return scored.orderBy(F.col("pmi_micro").desc(), "w1", "w2").limit(k)


def pmi_collocations_oracle(min_count: int = 5, k: int = 20) -> str:
    """DuckDB mirror of :func:`pmi_collocations` (identical ln-argument
    composition, floor-quantized micro-nats, same tie-break)."""
    return rf"""
WITH base AS (
  SELECT list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
  FROM documents
),
pairs AS (
  SELECT t[CAST(i AS INT)] AS w1, t[CAST(i + 1 AS INT)] AS w2
  FROM base, unnest(range(1, greatest(len(t), 1))) AS u(i)
),
bg_counts AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2),
uni AS (SELECT unnest(t) AS term FROM base),
unic AS (SELECT term, count(*) AS c FROM uni GROUP BY term),
corpus AS (
  SELECT (SELECT CAST(sum(c) AS BIGINT) FROM unic) AS N,
         (SELECT CAST(sum(c12) AS BIGINT) FROM bg_counts) AS B
)
SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
       CAST(floor(ln((c12 / CAST(B AS DOUBLE))
            / ((c1 / CAST(N AS DOUBLE)) * (c2 / CAST(N AS DOUBLE))))
            * 1000000) AS BIGINT) AS pmi_micro
FROM bg_counts
JOIN (SELECT term AS w1, c AS c1 FROM unic) USING (w1)
JOIN (SELECT term AS w2, c AS c2 FROM unic) USING (w2), corpus
WHERE c12 >= {int(min_count)}
ORDER BY pmi_micro DESC, w1, w2 LIMIT {int(k)}
"""


def hashed_tf_embedding(
    docs: "DataFrame", id_col: str, text_col: str, dim: int = 32, salt: str = "hashtf"
) -> "DataFrame":
    """Feature-hashed (signed hashing-trick) term-frequency embedding —
    the model-free bridge from text to vector space (Weinberger et al.
    2009): term → slot = h(term) mod dim, sign = bit of the same hash,
    value = Σ sign over the document's tokens.  Integer-exact end to end
    (counts of ±1), so any engine reproduces it bit-for-bit — unlike
    learned embeddings there is no model artifact to ship.

    Output (sparse long format — the natural distributed layout):
    ``(id, slot, val)`` with zero-sum slots dropped.  Downstream cosine /
    ANN operators consume it exactly like the embeddings table after a
    group-to-array.

    Scale: one token explode (linear) + one map-side-combined
    groupBy(id, slot); output bounded by dim·n_docs.  No joins, no
    vocabulary table, no driver state — the whole point of the hashing
    trick at 100 TB is that the feature map needs zero coordination.
    """
    if dim < 2 or dim & (dim - 1):
        # the sign bit is `h & dim` — the bit just above the slot mask.
        # A non-power-of-two dim silently correlates sign with slot and
        # breaks the hashing trick's cancellation property; fail loudly.
        raise ValueError(f"dim must be a power of two >= 2, got {dim}")
    c = F.col(text_col)
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.lower(c))).alias("term")
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + ":"), F.col("term"))), 1, 15), 16, 10
    ).cast("long")
    sl = toks.select(
        "id",
        (h % F.lit(dim)).cast("long").alias("slot"),
        F.when((h.bitwiseAND(F.lit(dim))) == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("sign"),
    )
    return (
        sl.groupBy("id", "slot")
        .agg(F.sum("sign").alias("val"))
        .where(F.col("val") != 0)
    )


def hashed_tf_oracle_sql(
    source_cte: str, dim: int = 32, salt: str = "hashtf"
) -> str:
    """DuckDB mirror of :func:`hashed_tf_embedding` over CTE ``src`` with
    columns (id, text).  ``dim`` must be a power of two (the sign bit is
    ``h & dim``, the bit just above the slot mask)."""
    return rf"""
WITH {source_cte},
toks AS (
  SELECT id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS term
  FROM src
),
h AS (
  SELECT id,
         CAST(('0x' || substr(md5('{salt}:' || term), 1, 15)) AS BIGINT) AS hv
  FROM toks
),
sl AS (
  SELECT id, hv % {int(dim)} AS slot,
         CASE WHEN (hv & {int(dim)}) = 0 THEN 1 ELSE -1 END AS sign
  FROM h
)
SELECT id, CAST(slot AS BIGINT) AS slot, CAST(sum(sign) AS BIGINT) AS val
FROM sl GROUP BY id, slot HAVING sum(sign) <> 0
"""


def source_jsd(
    docs: "DataFrame", domain_col: str, text_col: str, top_v: int = 500
) -> "DataFrame":
    """Per-source token-distribution drift vs the corpus: Jensen-Shannon
    divergence JSD(P_s ‖ Q) = ½KL(P_s‖M) + ½KL(Q‖M), M = (P_s+Q)/2 —
    the corpus-monitoring number that flags a source whose language shifted
    (scraper broke, domain drifted, new spam template) before it trains in.

    Distributions live on the corpus's top ``top_v`` terms (deterministic
    (count desc, term) order) plus an OTHER bucket (the single-space key —
    unreachable by tokenization, which splits on \\s+) holding the tail
    mass, so probabilities stay exact without a renormalizing pass and the
    per-source term grid is vocabulary-bounded at ANY corpus size.

    Determinism: p, q, m are each one IEEE op from integer counts; the one
    ln is the BM25/NLL trust base; each term's contribution is quantized
    to integer NANO-nats (floor(·10⁹)) before the per-source sum.  Output:
    (source, n_tokens, n_terms, jsd_nano).

    Scale: two corpus scans — one for the vocabulary cut, one for the
    bucketed counts (every later table derives from the single
    ``src_counts`` aggregate); the top-V table and per-source totals
    broadcast; the scored grid is |sources|·(V+1) rows.  To make it one
    scan, persist the exploded token stream — a memory-for-IO trade the
    caller owns, not this operator.
    """
    from .checkpoint import cut_lineage

    c = F.col(text_col)
    toks = docs.select(
        F.col(domain_col).alias("g"), F.explode(tokens(F.lower(c))).alias("term")
    )
    corpus_counts = toks.groupBy("term").agg(F.count("*").alias("c"))
    kept = corpus_counts.orderBy(F.desc("c"), "term").limit(top_v).select("term")
    mapped = toks.join(
        F.broadcast(kept.withColumn("_keep", F.lit(1))), "term", "left"
    ).select(
        "g",
        F.when(F.col("_keep").isNotNull(), F.col("term"))
        .otherwise(F.lit(" "))
        .alias("t2"),
    )
    # every downstream table derives from src_counts (corpus-per-term =
    # Σ over sources) — and src_counts is REFERENCED three times
    # (src_tot, corp2, the grid join), so it is lineage-cut: uncut, each
    # reference re-derived the whole explode→top-V→bucketed-count
    # pipeline from the raw corpus (8 source scans measured).  The
    # |sources|·(V+1)-row table is free to materialize.
    src_counts = (
        mapped.groupBy("g", "t2")
        .agg(F.count("*").alias("c_st"))
        .transform(cut_lineage)
    )
    src_tot = src_counts.groupBy("g").agg(F.sum("c_st").alias("ts"))
    corp2 = src_counts.groupBy("t2").agg(F.sum("c_st").alias("c_t"))
    corp_tot = corp2.agg(F.sum("c_t").alias("t"))
    grid = (
        src_tot.crossJoin(F.broadcast(corp2))
        .crossJoin(F.broadcast(corp_tot))
        .join(src_counts, ["g", "t2"], "left")
        .withColumn("c_st", F.coalesce(F.col("c_st"), F.lit(0).cast("long")))
    )
    scored = (
        grid.withColumn("p", F.expr("c_st / ts"))
        .withColumn("q", F.expr("c_t / t"))
        .withColumn("m", F.expr("(p + q) / 2"))
        .withColumn(
            "contrib_nano",
            F.expr(
                "cast(floor((0.5 * (CASE WHEN c_st > 0 THEN p * ln(p / m)"
                " ELSE 0.0 END) + 0.5 * (q * ln(q / m))) * 1000000000) as bigint)"
            ),
        )
    )
    return scored.groupBy("g").agg(
        F.min("ts").alias("n_tokens"),
        F.sum((F.col("c_st") > 0).cast("long")).alias("n_terms"),
        F.sum("contrib_nano").alias("jsd_nano"),
    ).withColumnRenamed("g", domain_col)


def source_jsd_oracle_sql(
    table: str, domain_col: str, text_col: str, top_v: int = 500
) -> str:
    """DuckDB mirror of :func:`source_jsd` — identical op graph (p, q, m
    staged as columns so both engines compose the same single IEEE ops)."""
    return rf"""
WITH toks AS (
  SELECT {domain_col} AS g,
         unnest(list_filter(string_split_regex(lower({text_col}), '\s+'),
                t -> t <> '')) AS term
  FROM {table}
),
corpus_counts AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
kept AS (SELECT term FROM corpus_counts ORDER BY c DESC, term LIMIT {int(top_v)}),
mapped AS (
  SELECT g, CASE WHEN k.term IS NULL THEN ' ' ELSE toks.term END AS t2
  FROM toks LEFT JOIN kept k ON toks.term = k.term
),
src_counts AS (SELECT g, t2, count(*) AS c_st FROM mapped GROUP BY g, t2),
src_tot AS (SELECT g, CAST(sum(c_st) AS BIGINT) AS ts FROM src_counts GROUP BY g),
corp2 AS (SELECT t2, count(*) AS c_t FROM mapped GROUP BY t2),
corp_tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS t FROM corp2),
grid AS (
  SELECT st.g, c2.t2, st.ts, c2.c_t, ct.t,
         coalesce(sc.c_st, 0) AS c_st
  FROM src_tot st
  CROSS JOIN corp2 c2
  CROSS JOIN corp_tot ct
  LEFT JOIN src_counts sc ON sc.g = st.g AND sc.t2 = c2.t2
),
staged AS (
  SELECT *, c_st / ts AS p, c_t / t AS q FROM grid
),
staged2 AS (SELECT *, (p + q) / 2 AS m FROM staged),
scored AS (
  SELECT g, ts, c_st,
         CAST(floor((0.5 * (CASE WHEN c_st > 0 THEN p * ln(p / m)
              ELSE 0.0 END) + 0.5 * (q * ln(q / m))) * 1000000000) AS BIGINT)
           AS contrib_nano
  FROM staged2
)
SELECT g AS {domain_col}, CAST(min(ts) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN c_st > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_terms,
       CAST(sum(contrib_nano) AS BIGINT) AS jsd_nano
FROM scored GROUP BY g
"""


def char_entropy(docs: "DataFrame", id_col: str, text_col: str) -> "DataFrame":
    """Per-document character-level Shannon entropy — the cheap gibberish
    detector: base64 blobs and minified junk sit near the ~6-bit ceiling,
    single-character spam near 0, natural language in a narrow band
    (~4.0–4.5 bits ≈ 2.8–3.1 nats).  A standard feature in quality
    classifiers next to the token-level stats.

    H = Σ −(c/n)·ln(c/n) over the doc's codepoint histogram, each class's
    contribution quantized to integer nano-nats before the per-doc sum
    (one division, one ln — the standard trust base — one multiply).
    Empty docs emit no row (entropy of nothing is undefined, not 0).

    Output: (id, n_chars, n_distinct, ent_nano).  Scale: the codepoint
    explode is linear in corpus bytes; both aggregates are map-side
    combined and keyed by id — no global state at all.
    """
    c = F.col(text_col)
    chars = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.filter(F.split(c, ""), lambda ch: ch != F.lit(""))).alias("ch"),
    )
    cc = chars.groupBy("id", "ch").agg(F.count("*").alias("c"))
    tot = cc.groupBy("id").agg(
        F.sum("c").alias("n"), F.count("*").alias("n_distinct")
    )
    return (
        cc.join(tot, "id")
        .withColumn(
            "contrib_nano",
            F.expr("cast(floor(-(c / n) * ln(c / n) * 1000000000) as bigint)"),
        )
        .groupBy("id")
        .agg(
            F.min("n").alias("n_chars"),
            F.min("n_distinct").alias("n_distinct"),
            F.sum("contrib_nano").alias("ent_nano"),
        )
    )


CHAR_ENTROPY_ORACLE = r"""
WITH chars AS (
  SELECT doc_id AS id,
         unnest(list_filter(string_split(text, ''), ch -> ch <> '')) AS ch
  FROM documents
),
cc AS (SELECT id, ch, count(*) AS c FROM chars GROUP BY id, ch),
tot AS (
  SELECT id, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_distinct
  FROM cc GROUP BY id
),
scored AS (
  SELECT cc.id, n, n_distinct,
         CAST(floor(-(c / n) * ln(c / n) * 1000000000) AS BIGINT) AS contrib_nano
  FROM cc JOIN tot USING (id)
)
SELECT id, min(n) AS n_chars, min(n_distinct) AS n_distinct,
       CAST(sum(contrib_nano) AS BIGINT) AS ent_nano
FROM scored GROUP BY id
"""


def rolling_hash64(text: str | Column, base: int = 31, mod: int = 1_000_000_007) -> Column:
    """Polynomial rolling hash of the normalized text: h = Σ c·B^i mod p.

    Left fold over character codes — the classic Rabin-Karp document
    fingerprint.  One expression, no UDF; `tests/test_pipeline.py` checks
    it against a pure-Python reference.  (The md5-based fingerprint64
    stays the cross-engine dedup key; the rolling form exists for
    windowed/streaming fingerprinting where incremental update matters.)
    """
    c = F.col(text) if isinstance(text, str) else text
    # collapse-then-trim (trim strips only ' '; see dedup.normalize)
    norm = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    return F.aggregate(
        F.transform(F.split(norm, ""), lambda ch: F.ascii(ch)),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(base) + x) % F.lit(mod),
    )


def fingerprint64(text: str | Column) -> Column:
    """Deterministic 60-bit content fingerprint.

    md5 of the whitespace-normalized, lowercased text, first 15 hex digits
    as a BIGINT — portable to any engine with md5 (the DuckDB oracle uses
    the identical construction).  Collision odds at 2^60 are fine for
    dedup blocking; exact dedup still compares full text within a block.
    """
    c = F.col(text) if isinstance(text, str) else text
    # collapse-then-trim (trim strips only ' '; see dedup.normalize)
    norm = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    return F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("long")


def repetition_stats(docs, text_col: str = "text", id_col: str = "doc_id"):
    """Gopher-style repetition statistics per document (Rae et al. 2021,
    "Scaling Language Models" §A1.1 repetition filters; also C4's heuristics
    — public corpus-cleaning practice).

    Returns one row per document with EXACT integer evidence, so the
    downstream threshold choice stays an analyst decision and the result is
    bit-reproducible on any engine:

      n_tokens, n_distinct, top_unigram_n   (most frequent token count)
      n_bigrams, top_bigram_n               (most frequent bigram count)
      repetition_ok                         (top unigram ≤ 20% of tokens AND
                                             top bigram ≤ 18% of bigrams,
                                             integer cross-multiplied)

    Scale shape: explode → groupBy(doc, term) → groupBy(doc) is linear in
    corpus tokens with map-side partial combine on both levels; doc_id keys
    are uniform so no salting is needed.  The alternative zero-shuffle
    expression form (array_distinct + nested filter) is O(tokens²) per doc
    — wrong for the 1000+-token documents a real corpus has.
    """
    t = tokens(F.col(text_col))
    bigrams = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - 2),
            lambda i: F.concat_ws(" ", F.element_at(t, i + 1), F.element_at(t, i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))

    # One scan of the text column, one tagged explode, two shuffles
    # ((doc, kind, term) then (doc)) and no join: the unigram/bigram streams
    # are distinguished by a kind byte and re-separated with conditional
    # aggregates.  Halves the heavy column's scan cost vs the naive
    # two-explode + join formulation.
    u_terms = F.transform(
        t, lambda w: F.struct(F.lit("u").alias("kind"), w.alias("term"))
    )
    b_terms = F.transform(
        bigrams, lambda b: F.struct(F.lit("b").alias("kind"), b.alias("term"))
    )
    is_u = F.col("kind") == "u"
    out = (
        docs.select(F.col(id_col), F.explode(F.concat(u_terms, b_terms)).alias("x"))
        .select(id_col, F.col("x.kind").alias("kind"), F.col("x.term").alias("term"))
        .groupBy(id_col, "kind", "term")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(
            F.coalesce(F.sum(F.when(is_u, F.col("c"))), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
            F.count(F.when(is_u, True)).alias("n_distinct"),
            F.coalesce(F.max(F.when(is_u, F.col("c"))), F.lit(0)).alias(
                "top_unigram_n"
            ),
            F.coalesce(F.sum(F.when(~is_u, F.col("c"))), F.lit(0))
            .cast("long")
            .alias("n_bigrams"),
            F.coalesce(F.max(F.when(~is_u, F.col("c"))), F.lit(0)).alias(
                "top_bigram_n"
            ),
        )
    )
    return out.withColumn(
        "repetition_ok",
        (F.col("top_unigram_n") * 100 <= F.col("n_tokens") * 20)
        & (F.col("top_bigram_n") * 100 <= F.col("n_bigrams") * 18),
    )


# PII scrubbing patterns — RE2-compatible (no lookaround), so the same
# pattern strings run on Spark (Java regex) and any RE2 engine (DuckDB).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+1 \d{3}-\d{3}-\d{4}", "<PHONE>"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
]


def scrub_pii(text: str | Column) -> Column:
    """Replace email / NANP-phone / IPv4 literals with typed redaction
    tokens — the corpus-sanitization pass every training pipeline runs
    before tokenization.  Sequential regexp_replace column expressions:
    JVM-side, linear, no shuffle."""
    c = F.col(text) if isinstance(text, str) else text
    for _, pat, token in PII_PATTERNS:
        c = F.regexp_replace(c, pat, token)
    return c


def pii_counts(text: str | Column) -> list[Column]:
    """One match-count column per PII pattern (audit evidence)."""
    c = F.col(text) if isinstance(text, str) else text
    return [
        F.regexp_count(c, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]


def readability_stats(docs: "DataFrame", id_col: str, text_col: str) -> "DataFrame":
    """Per-document Flesch-style readability — the classic quality signal
    complementing :func:`quality_millionths` (length/stopword mix) and
    :func:`unigram_nll` (LM fluency): long sentences and polysyllabic
    words lower the score.

    Heuristic syllable counter: maximal ``[aeiouy]+`` runs per lowercased
    word, floored at 1 (the standard dictionary-free approximation;
    vowel-less tokens — digits, CJK, punctuation — count 1).  Sentences =
    ``[.!?]+`` terminator runs, floored at 1 so fragments still score.

    Every ratio is integer-quantized BEFORE the linear combination so the
    score is engine-exact: wps_milli = words·1000 div sentences,
    spw_milli = syllables·1000 div words, and
    flesch_micro = 206 835 000 − 1015·wps_milli − 84 600·spw_milli
    (the Flesch reading-ease formula ×10⁶ on the milli-ratios).  Empty
    docs emit NULL spw/flesch (no word to divide by) on both engines.

    Scale: a narrow per-row projection — no shuffle, no UDF, whole-stage
    codegen end to end; column pruning reaches the scan.
    """
    c = F.col(text_col)
    t = tokens(c)
    syllables = F.aggregate(
        F.transform(
            t,
            lambda w: F.greatest(
                F.size(
                    F.filter(
                        F.split(F.lower(w), r"[^aeiouy]+"),
                        lambda s: s != F.lit(""),
                    )
                ),
                F.lit(1),
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    base = docs.select(
        F.col(id_col),
        F.size(t).cast("long").alias("words"),
        F.greatest(F.size(F.regexp_extract_all(c, F.lit(r"[.!?]+"), 0)), F.lit(1))
        .cast("long")
        .alias("sentences"),
        syllables.alias("syllables"),
    )
    ratios = base.select(
        "*",
        F.expr("(words * 1000) div sentences").alias("wps_milli"),
        F.expr("(syllables * 1000) div nullif(words, 0)").alias("spw_milli"),
    )
    return ratios.select(
        "*",
        (
            F.lit(206_835_000)
            - F.lit(1015) * F.col("wps_milli")
            - F.lit(84_600) * F.col("spw_milli")
        )
        .cast("long")
        .alias("flesch_micro"),
    )


def rake_keyphrases(
    docs: "DataFrame",
    id_col: str,
    text_col: str,
    stopwords: tuple[str, ...] = QUALITY_STOPWORDS,
    max_len: int = 4,
    top_n: int = 20,
) -> "DataFrame":
    """RAKE keyphrase extraction (Rose et al. '10): candidate phrases are
    maximal stopword/punctuation-free word runs; a word's score is
    degree/frequency over phrase occurrences (degree = Σ length of the
    phrases it appears in — co-occurrence incl. self); a phrase scores
    the sum of its words.  Corpus-level top ``top_n``:
    ``(phrase, n_words, n_occur, score_milli)``.

    The division is quantized per word — ``(1000·deg) div freq`` — so
    phrase scores are exact integer sums; ties break on
    (score, n_occur, phrase).  Phrases longer than ``max_len`` are
    discarded (they're parser accidents, and the bound caps the member
    explode).  Non-alphabetic tokens (numbers, punctuation — the
    tokenizer emits them as separate tokens) delimit phrases exactly
    like stopwords.

    Scale: one scan → per-doc windows (partitioned by document — no
    global sort) → two vocabulary-sized aggregates + one bounded join;
    nothing corpus-wide but the final TakeOrdered top-k.
    """
    from pyspark.sql import DataFrame, Window  # noqa: F401

    words = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(BPE_PATTERN), 0
            )
        ).alias("pos", "w"),
    )
    is_stop = F.col("w").isin(*stopwords) | ~F.col("w").rlike("^[a-z]+$")
    flagged = words.withColumn("st", is_stop.cast("int"))
    run = Window.partitionBy("id").orderBy("pos")
    toks = flagged.withColumn("pid", F.sum("st").over(run)).where(
        F.col("st") == 0
    )
    ph = (
        toks.groupBy("id", "pid")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "w"))),
                    lambda x: x["w"],
                ),
                " ",
            ).alias("phrase"),
            F.count("*").alias("plen"),
        )
        .where(F.col("plen") <= int(max_len))
    )
    mem = ph.select("phrase", "plen", F.explode(F.split("phrase", " ")).alias("w"))
    stats = mem.groupBy("w").agg(
        F.count("*").cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("deg"),
    )
    dph = ph.groupBy("phrase").agg(F.count("*").cast("long").alias("n_occur"))
    dmem = dph.select("phrase", F.explode(F.split("phrase", " ")).alias("w"))
    return (
        dmem.join(stats, "w")
        .groupBy("phrase")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum(F.expr("(1000 * deg) div freq")).cast("long").alias(
                "score_milli"
            ),
        )
        .join(dph, "phrase")
        .select("phrase", "n_words", "n_occur", "score_milli")
        .orderBy(
            F.col("score_milli").desc(), F.col("n_occur").desc(), "phrase"
        )
        .limit(int(top_n))
    )


def skipgram_cooc(
    docs: "DataFrame",
    text_col: str,
    window: int = 2,
    min_count: int = 5,
    k: int = 30,
) -> "DataFrame":
    """Windowed (skip-gram) co-occurrence with PMI — the word2vec-style
    generalization of :func:`pmi_collocations` from adjacent bigrams to
    every unordered pair within ±``window`` positions (the statistic the
    embedding literature factorizes; Levy & Goldberg '14 show SGNS is
    implicit PMI-matrix factorization).  Pairs are canonicalized
    (least, greatest), so "the cat" and "cat the" pool.

    Pair generation is ARRAY-LOCAL per document (one transform over
    offsets 1..window, no self-join, no shuffle before the count);
    everything downstream is the collocation machinery: exact integer
    counts, one trust-base ln per surviving row, floor micro-nats,
    (w1, w2) tie-break, TakeOrdered top-k.
    """
    from .checkpoint import cut_lineage

    base = docs.select(tokens(F.lower(F.col(text_col))).alias("t"))
    offs = ", ".join(
        f"if(size(t) < {d + 1}, array(), transform(sequence(1, size(t) - {d}),"
        f" i -> struct(least(element_at(t, i), element_at(t, i + {d})) AS w1,"
        f"             greatest(element_at(t, i), element_at(t, i + {d})) AS w2)))"
        for d in range(1, int(window) + 1)
    )
    pairs = base.select(
        F.explode(F.expr(f"flatten(array({offs}))")).alias("p")
    ).select("p.w1", "p.w2")
    # same multi-reference cut as pmi_collocations: pc feeds B + scored,
    # uni feeds N + two broadcast joins — vocabulary-bounded tables
    pc = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .transform(cut_lineage)
    )
    toks = base.select(F.explode("t").alias("term"))
    uni = toks.groupBy("term").agg(F.count("*").alias("c")).transform(cut_lineage)
    corpus = uni.agg(F.sum("c").cast("long").alias("N")).crossJoin(
        pc.agg(F.sum("c12").cast("long").alias("B"))
    )
    scored = (
        pc.where(F.col("c12") >= int(min_count))
        .join(
            F.broadcast(
                uni.select(F.col("term").alias("w1"), F.col("c").alias("c1"))
            ),
            "w1",
        )
        .join(
            F.broadcast(
                uni.select(F.col("term").alias("w2"), F.col("c").alias("c2"))
            ),
            "w2",
        )
        .crossJoin(F.broadcast(corpus))
        .select(
            "w1", "w2",
            F.col("c12").cast("long").alias("c12"),
            F.expr(
                "cast(floor(ln((c12 / cast(B as double))"
                " / ((c1 / cast(N as double)) * (c2 / cast(N as double))))"
                " * 1000000) as bigint)"
            ).alias("pmi_micro"),
        )
    )
    return scored.orderBy(F.col("pmi_micro").desc(), "w1", "w2").limit(int(k))


def skipgram_cooc_oracle(
    window: int = 2, min_count: int = 5, k: int = 30
) -> str:
    """DuckDB mirror of :func:`skipgram_cooc`."""
    offs = "\n  UNION ALL ".join(
        f"SELECT least(t[CAST(i AS INT)], t[CAST(i + {d} AS INT)]) AS w1,"
        f" greatest(t[CAST(i AS INT)], t[CAST(i + {d} AS INT)]) AS w2"
        f" FROM base, unnest(range(1, greatest(len(t) - {d - 1}, 1))) AS u{d}(i)"
        for d in range(1, int(window) + 1)
    )
    return rf"""
WITH base AS MATERIALIZED (
  SELECT list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
  FROM documents
),
pairs AS ({offs}),
pc AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2),
uni AS (SELECT unnest(t) AS term FROM base),
unic AS MATERIALIZED (SELECT term, count(*) AS c FROM uni GROUP BY term),
corpus AS (
  SELECT (SELECT CAST(sum(c) AS BIGINT) FROM unic) AS N,
         (SELECT CAST(sum(c12) AS BIGINT) FROM pc) AS B
)
SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
       CAST(floor(ln((c12 / CAST(B AS DOUBLE))
            / ((c1 / CAST(N AS DOUBLE)) * (c2 / CAST(N AS DOUBLE))))
            * 1000000) AS BIGINT) AS pmi_micro
FROM pc
JOIN (SELECT term AS w1, c AS c1 FROM unic) USING (w1)
JOIN (SELECT term AS w2, c AS c2 FROM unic) USING (w2), corpus
WHERE c12 >= {int(min_count)}
ORDER BY pmi_micro DESC, w1, w2 LIMIT {int(k)}
"""


def nfc_normalize(text: Column) -> Column:
    """Unicode NFC canonical composition of a string column — the corpus
    canonicalization step that makes ``"é"`` (U+00E9) and ``"e" +
    combining-acute`` (U+0065 U+0301) one token, one n-gram, one dedup
    key.  Skipping it silently splits vocabulary and defeats exact dedup
    on any crawl that mixes normalization forms.

    Spark has no NFC built-in, so this is one of the few sanctioned
    Arrow-batched pandas UDFs (vectorized transfer, pure per-row — the
    operator stays narrow, no shuffle; same justification as the crypto
    UDFs in functions/crypto.py).  Parity: DuckDB's ``nfc_normalize``
    (utf8proc) and Python's ``unicodedata`` implement the same Unicode
    canonical-composition algorithm; the gate pins them against each
    other on synthesized decomposed text.
    """
    # NOTE: no type annotations on the UDF — this module uses
    # `from __future__ import annotations`, which turns them into strings
    # pandas_udf cannot resolve; the explicit returnType carries the type.
    @F.pandas_udf("string")
    def _nfc(s):
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return _nfc(text)


# Gopher quality-rule stopwords (Rae et al. 2021, table A1: "must contain
# at least 2 of the following English words" — the natural-language-ness
# signal of the rule battery).
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_quality(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len_micro: int = 3_000_000,
    max_mean_word_len_micro: int = 10_000_000,
    max_symbol_ratio_micro: int = 100_000,
    min_alpha_word_frac_micro: int = 800_000,
    min_stop_hits: int = 2,
) -> "DataFrame":
    """Gopher quality-rule battery (Rae et al. '21 §A1.1, the MassiveText
    filter; same rules reused by RefinedWeb/Dolma/FineWeb): per document,
    every rule's measurement plus a failure bitmask — the corpus-filter
    primitive that decides what enters a training mix.

    Rules (bit set = rule VIOLATED; ``keep`` = mask == 0):

      1   word count < min_words
      2   word count > max_words
      4   mean word length < 3 chars
      8   mean word length > 10 chars
      16  symbol-to-word ratio ('#' chars + '...' occurrences) > 0.1
      32  fraction of words with >= 1 alphabetic char < 0.8
      64  fewer than 2 distinct Gopher stopwords present

    The paper's two line-level rules (bullet-start / ellipsis-end line
    fractions) need multi-line documents; they belong to a line-exploded
    variant and are intentionally not folded into this per-doc battery.

    All measurements are exact integers (micro-unit ratios via floor
    division), so any engine reproduces the mask bit-for-bit.  Scale: one
    narrow projection — no shuffle, no UDF; at 100 TB this is a map-only
    pass that Parquet row-group pruning and column projection make
    embarrassingly parallel.
    """
    t = tokens(F.col(text_col))
    n = F.size(t).cast("long")
    s = F.greatest(n, F.lit(1).cast("long"))
    total = F.aggregate(
        t, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mean_micro = F.expr(f"_total * 1000000 div _s")
    hash_chars = (
        F.length(text_col)
        - F.length(F.replace(F.col(text_col), F.lit("#"), F.lit("")))
    ).cast("long")
    ellipses = F.expr(
        f"(length({text_col}) - length(replace({text_col}, '...', ''))) div 3"
    ).cast("long")
    alpha = F.size(
        F.filter(t, lambda w: w.rlike("[a-zA-Z]"))
    ).cast("long")
    stop_hits = sum(
        F.array_contains(t, w).cast("int") for w in GOPHER_STOPWORDS
    ).cast("long")
    base = docs.select(
        F.col(id_col),
        n.alias("n_words"),
        total.alias("_total"),
        s.alias("_s"),
        hash_chars.alias("_hash"),
        ellipses.alias("_ell"),
        alpha.alias("_alpha"),
        stop_hits.alias("stop_hits"),
    ).select(
        id_col,
        "n_words",
        mean_micro.alias("mean_word_len_micro"),
        F.expr("(_hash + _ell) * 1000000 div _s").alias("symbol_ratio_micro"),
        F.expr("_alpha * 1000000 div _s").alias("alpha_word_frac_micro"),
        "stop_hits",
    )
    mask = (
        F.when(F.col("n_words") < min_words, F.lit(1)).otherwise(0)
        + F.when(F.col("n_words") > max_words, F.lit(2)).otherwise(0)
        + F.when(
            F.col("mean_word_len_micro") < min_mean_word_len_micro, F.lit(4)
        ).otherwise(0)
        + F.when(
            F.col("mean_word_len_micro") > max_mean_word_len_micro, F.lit(8)
        ).otherwise(0)
        + F.when(
            F.col("symbol_ratio_micro") > max_symbol_ratio_micro, F.lit(16)
        ).otherwise(0)
        + F.when(
            F.col("alpha_word_frac_micro") < min_alpha_word_frac_micro,
            F.lit(32),
        ).otherwise(0)
        + F.when(F.col("stop_hits") < min_stop_hits, F.lit(64)).otherwise(0)
    ).cast("long")
    return base.withColumn("fail_mask", mask).withColumn(
        "keep", F.col("fail_mask") == 0
    )


# Query parameters that carry tracking state, not content identity — the
# standard crawl-dedup strip list (utm_* per Google's own spec; click ids).
URL_TRACKING_PARAMS: tuple[str, ...] = ("fbclid", "gclid", "msclkid", "ref")
_URL_RE = r"^(?i)(https?)://([^/?#]+)([^?#]*)(?:\?([^#]*))?(?:#.*)?$"


def url_canonicalize(url: str | Column) -> Column:
    """Canonical form of an absolute http(s) URL — the key step before
    URL-level dedup of a web crawl (two crawls of one page differ only
    in case, default ports, tracking params, param order, fragments):

      1. scheme and host lowercased
      2. default port stripped (http :80 / https :443)
      3. fragment dropped
      4. tracking params dropped (``utm_*`` prefix + URL_TRACKING_PARAMS)
      5. remaining query params sorted bytewise (duplicates preserved)
      6. empty path → ``/``

    Non-http(s) strings pass through UNCHANGED (mailto:, ftp:, relative
    refs — canonicalizing what we can't parse would corrupt dedup keys).
    Pure built-in expressions (one regexp parse + array ops, no UDF),
    bytewise deterministic, mirrored verbatim by the DuckDB oracle.
    Scale: a narrow projection — no shuffle.
    """
    u = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.regexp_extract(u, _URL_RE, 1))
    host = F.lower(F.regexp_extract(u, _URL_RE, 2))
    host = (
        F.when(scheme == "http", F.regexp_replace(host, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, ":443$", ""))
        .otherwise(host)
    )
    path = F.regexp_extract(u, _URL_RE, 3)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    q = F.regexp_extract(u, _URL_RE, 4)
    keep = F.filter(
        F.split(q, "&"),
        lambda p: (p != F.lit(""))
        & ~F.substring_index(p, "=", 1).startswith("utm_")
        & ~F.substring_index(p, "=", 1).isin(*URL_TRACKING_PARAMS),
    )
    qs = F.array_join(F.array_sort(keep), "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )
    return F.when(u.rlike(r"^(?i)https?://"), canon).otherwise(u)


# 2^31 positions per document — the winnowing tie-break packs (hash, pos)
# into one orderable long: key = h·2³¹ + (2³¹−1−pos), so MIN(key) picks the
# smallest hash and, on ties, the RIGHTMOST position (the rule from
# Schleimer et al. §5 that makes the fingerprint set a function of content
# alone, not window phase).  No overflow: h ≤ 2³²−1 (md5 8-hex prefix) and
# pos ≥ 1, so key ≤ (2³²−1)·2³¹ + 2³¹−2 = 2⁶³−2 < Long.MAX.  The base was
# 2²¹ through round 8; a >2M-char document would then have borrowed the pos
# field into the hash field and decoded wrongly (r8 ADVICE low) — 2³¹
# covers any representable string (Spark/JVM strings cap at 2³¹−1 chars),
# and the explicit n_grams guard below documents the domain bound anyway.
_WINNOW_POS_BASE = 1 << 31


def winnow_fingerprints(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 8,
    w: int = 4,
) -> "DataFrame":
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD '03 — the MOSS algorithm): the local fingerprinting scheme
    behind plagiarism detection and crawl near-dup mining.  Guarantees
    that any shared substring of length ≥ k + w − 1 between two documents
    yields at least one SHARED fingerprint, while selecting only ~2/(w+1)
    of all k-gram hashes — the property plain "every n-th hash" sampling
    (0 mod p) lacks.

    Pipeline: lowercase + strip ALL whitespace (classic normalization),
    slide k-char grams, hash each gram to 32 bits (md5 prefix — identical
    on any engine), then over every window of w consecutive hashes select
    the minimum (ties → rightmost).  A window START exists at every
    position 1..max(n_grams − w + 1, 1), so even short documents
    (1 ≤ n_grams < w) emit one fingerprint.

    Output: distinct ``(id, pos, fp)`` selected fingerprints, pos = the
    1-based gram position of the selected hash.  Complements the dedup
    family: txt_fingerprint samples hashes globally (mod-p), MinHash/
    SimHash sketch the whole document — winnowing is the POSITIONAL
    near-dup primitive (which spans match, not just whether).

    Scale: one narrow projection per document (explode to one row per
    gram), one windowed MIN partitioned by document — at 100 TB each
    document's grams co-locate in one task after the hash partition on
    id; nothing crosses documents.  The pair-mining step over the
    emitted fingerprints is a band-join on fp, LSH-style, never all-pairs.
    """
    if k < 1 or w < 1:
        raise ValueError(f"winnow_fingerprints: k={k} and w={w} must be >= 1")
    from pyspark.sql import Window

    # NOTE (r11, measured): pre-partitioning the docs by id here — so the
    # window and the (id, pos, fp) distinct run shuffle-free over grams —
    # was tried and REVERTED: order-alternating same-session A/B read the
    # fused explode+md5+sort stage at 1.9-3.2 s vs 0.76-0.95 s for the
    # two-stage form (gram hashing over the spread scan, then one gram
    # exchange into the window).  The gram exchange is narrow (4 longs)
    # and buys a balanced sort stage; do not re-try without re-measuring.
    z = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", "")
    # grams are sliced from a pre-split CODEPOINT ARRAY, not substring(z,
    # pos, k): UTF8String.substring re-scans from byte 0 to find the
    # pos-th codepoint, making per-gram extraction O(pos) and the whole
    # document O(n²) — measured 91 s for ONE 200k-char doc, i.e. a real
    # crawl document would wedge an executor.  Array element access is
    # O(1), so slice+join is O(k) per gram, O(n·k) per document.  The
    # array rides the same whole-stage-codegen pipeline as the explode
    # (no materialization boundary until the narrow (id, pos, h) rows).
    base = docs.select(
        F.col(id_col).alias("id"),
        F.split(z, "").alias("cs"),
        (F.length(z) - F.lit(k) + 1).cast("long").alias("n_grams"),
    ).where(
        # upper bound: pos must fit its field in the packed key (the pack
        # is silently wrong past it, so the domain bound is enforced, not
        # assumed); unreachable for any JVM string, mirrored by the oracle
        (F.col("n_grams") >= 1) & (F.col("n_grams") < F.lit(_WINNOW_POS_BASE))
    )
    grams = base.select(
        "id",
        "n_grams",
        F.explode(F.sequence(F.lit(1), F.col("n_grams"))).alias("pos"),
        "cs",
    ).select(
        "id",
        "n_grams",
        "pos",
        F.conv(
            F.substring(
                F.md5(F.expr(f"array_join(slice(cs, pos, {k}), '')")), 1, 8
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    key = (
        F.col("h") * F.lit(_WINNOW_POS_BASE)
        + (F.lit(_WINNOW_POS_BASE - 1) - F.col("pos"))
    ).alias("key")
    win = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    starts = (
        grams.select("id", "n_grams", "pos", key)
        .withColumn("wkey", F.min("key").over(win))
        .where(F.col("pos") <= F.greatest(F.col("n_grams") - F.lit(w - 1), F.lit(1)))
    )
    return (
        starts.select(
            "id",
            (
                F.lit(_WINNOW_POS_BASE - 1)
                - F.col("wkey") % F.lit(_WINNOW_POS_BASE)
            )
            .cast("long")
            .alias("pos"),
            F.expr(f"wkey div {_WINNOW_POS_BASE}").cast("long").alias("fp"),
        )
        .distinct()
    )


def kneser_ney_bigrams(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 50,
) -> "DataFrame":
    """Interpolated Kneser–Ney bigram probabilities for the corpus'
    ``top_n`` most frequent bigrams — the smoothing that made n-gram LMs
    state of the art (Kneser & Ney '95; Chen & Goodman '99 found the
    interpolated form best) and the reference scorer n-gram pipelines
    still use for perplexity filtering.  Complements :func:`bigram_nll`:
    that gate interpolates with a UNIGRAM frequency model; KN replaces it
    with the CONTINUATION distribution (how many distinct contexts a word
    follows), which is what fixes the "San Francisco" pathology —
    "francisco" is frequent but follows almost nothing else.

        P_KN(w₂|w₁) = (c(w₁w₂) − d)/c(w₁·) + d·N₁₊(w₁·)/c(w₁·) · P_cont(w₂)
        P_cont(w₂)  = N₁₊(·w₂) / N₁₊(··)

    with the textbook discount d = 0.75 = 3/4 — RATIONAL, so for observed
    bigrams (c ≥ 1) the whole probability is one exact fraction:

        P_KN = [ (4c − 3)·N₁₊(··) + 3·N₁₊(w₁·)·N₁₊(·w₂) ]
               / [ 4·c(w₁·)·N₁₊(··) ]

    quantized once: kn_prob_micro = (num·10⁶) div den in 128-bit — no
    float anywhere, any engine reproduces it bit-for-bit.

    Output, ordered (c desc, w1, w2), one row per top bigram:
    ``(w1, w2, c, c_w1, n1p_fwd, n1p_cont, n_bigram_types,
    kn_prob_micro)``.

    Scale: one linear bigram explode; every statistic is a map-side-
    combined count over the bigram TYPE table (vocabulary-sized, not
    corpus-sized); the final top-n is a TakeOrdered.  At 100 TB the type
    table still fits executor memory for natural-language vocabularies
    and the joins on w1/w2 broadcast.
    """
    c = F.col(text_col)
    base = docs.select(F.col(id_col).alias("id"), tokens(F.lower(c)).alias("t"))
    pairs = base.select(
        F.explode(
            F.expr(
                "if(size(t) < 2, array(),"
                " transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2)))"
            )
        ).alias("bg"),
    ).select("bg.w1", "bg.w2")
    bg = pairs.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c"))
    fwd = bg.groupBy("w1").agg(
        F.sum("c").cast("long").alias("c_w1"),
        F.count("*").cast("long").alias("n1p_fwd"),
    )
    cont = bg.groupBy("w2").agg(F.count("*").cast("long").alias("n1p_cont"))
    types = bg.agg(F.count("*").cast("long").alias("n_bigram_types"))
    return (
        bg.join(fwd, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .withColumn(
            "kn_prob_micro",
            F.expr(
                "cast(((cast(4 * c - 3 as decimal(38,0)) * n_bigram_types"
                "   + cast(3 as decimal(38,0)) * n1p_fwd * n1p_cont)"
                "   * 1000000)"
                " div (cast(4 as decimal(38,0)) * c_w1 * n_bigram_types)"
                " as bigint)"
            ),
        )
        .select(
            "w1", "w2", "c", "c_w1", "n1p_fwd", "n1p_cont",
            "n_bigram_types", "kn_prob_micro",
        )
        .orderBy(F.col("c").desc(), "w1", "w2")
        .limit(top_n)
    )


# ---------------------------------------------------------------------------
# Messy-date normalization: regex parse + pure-integer civil→epoch math.
# The ENGINE DATE PARSERS ARE NEVER ON THE PARITY PATH — to_timestamp /
# strptime differ across engines in lenience, locale and zone handling, so
# both sides run the same regexes and the same Hinnant days-from-civil
# integer formula, emitted from ONE template (_date_norm_exprs) with only
# the integer-division token differing ('div' vs '//').
# ---------------------------------------------------------------------------

# [0-9] instead of \d: Spark SQL string literals process backslash
# escapes while DuckDB's do not — a literal class parses identically in
# both and keeps the template dialect-free.
_D = "[0-9]"
_DATE_RE_ISO_DT = (
    f"^({_D}{{4}})-({_D}{{2}})-({_D}{{2}})[T ]({_D}{{2}}):({_D}{{2}}):({_D}{{2}})$"
)
_DATE_RE_ISO_D = f"^({_D}{{4}})-({_D}{{2}})-({_D}{{2}})$"
_DATE_RE_US = f"^({_D}{{1,2}})/({_D}{{1,2}})/({_D}{{4}})$"
_DATE_RE_EPOCH = f"^{_D}{{9,10}}$"
_DATE_RE_RFC = (
    f"^({_D}{{1,2}}) (Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec) ({_D}{{4}})$"
)

_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")


def _days_from_civil(y: str, m: str, d: str, idiv: str) -> str:
    """Hinnant's days_from_civil as pure non-negative integer SQL (valid
    for years ≥ 1583, where era/yoe stay non-negative and truncating and
    flooring division coincide — the t-closeness recipe)."""
    yp = f"({y} - (case when {m} <= 2 then 1 else 0 end))"
    era = f"(({yp}) {idiv} 400)"
    yoe = f"(({yp}) - {era} * 400)"
    doy = (
        f"(((153 * ({m} + (case when {m} > 2 then -3 else 9 end)) + 2)"
        f" {idiv} 5) + {d} - 1)"
    )
    doe = f"({yoe} * 365 + ({yoe} {idiv} 4) - ({yoe} {idiv} 100) + {doy})"
    return f"({era} * 146097 + {doe} - 719468)"


def _date_norm_exprs(col: str, dialect: str) -> tuple[str, str]:
    """(fmt_expr, epoch_expr) SQL strings for the given dialect
    ('spark' or 'duckdb').  fmt ∈ iso_datetime | iso_date | us_date |
    epoch_secs | rfc_date | invalid | unknown; epoch_expr is epoch
    SECONDS (bigint) or NULL when fmt is invalid/unknown."""
    if dialect == "spark":
        idiv, big = "div", "bigint"

        def rx(pat: str, g: int) -> str:
            return f"cast(regexp_extract({col}, '{pat}', {g}) as {big})"

        def matches(pat: str) -> str:
            return f"{col} rlike '{pat}'"
    elif dialect == "duckdb":
        idiv, big = "//", "BIGINT"

        def rx(pat: str, g: int) -> str:
            return f"CAST(regexp_extract({col}, '{pat}', {g}) AS {big})"

        def matches(pat: str) -> str:
            return f"regexp_matches({col}, '{pat}')"
    else:  # pragma: no cover
        raise ValueError(f"unknown dialect {dialect}")

    mon_case = (
        "(case "
        + " ".join(
            f"when {{m}} = '{name}' then {i + 1}"
            for i, name in enumerate(_MONTHS)
        )
        + " end)"
    )

    def civil_epoch(y: str, m: str, d: str, hms: str = "0") -> str:
        return f"({_days_from_civil(y, m, d, idiv)} * 86400 + {hms})"

    def valid(y: str, m: str, d: str) -> str:
        # y >= 1583 on EVERY path (not just RFC): _days_from_civil is only
        # truncate/floor-equivalent for non-negative shifted years, so a
        # year-0 input would make Spark's `div` (truncate) and DuckDB's `//`
        # (floor) disagree by a full 146097-day era (r8 ADVICE medium).
        return (
            f"({y} >= 1583 and {m} between 1 and 12 and {d} between 1 and 31)"
        )

    iso_dt = (_DATE_RE_ISO_DT, "iso_datetime")
    iso_d = (_DATE_RE_ISO_D, "iso_date")
    us = (_DATE_RE_US, "us_date")
    rfc = (_DATE_RE_RFC, "rfc_date")

    fmt = (
        f"case when {matches(iso_dt[0])} then"
        f" (case when {valid(rx(iso_dt[0], 1), rx(iso_dt[0], 2), rx(iso_dt[0], 3))}"
        f"   then 'iso_datetime' else 'invalid' end)"
        f" when {matches(iso_d[0])} then"
        f" (case when {valid(rx(iso_d[0], 1), rx(iso_d[0], 2), rx(iso_d[0], 3))}"
        f"   then 'iso_date' else 'invalid' end)"
        f" when {matches(us[0])} then"
        f" (case when {valid(rx(us[0], 3), rx(us[0], 1), rx(us[0], 2))}"
        f"   then 'us_date' else 'invalid' end)"
        f" when {matches(_DATE_RE_EPOCH)} then 'epoch_secs'"
        f" when {matches(rfc[0])} then"
        f" (case when {rx(rfc[0], 3)} >= 1583"
        f"       and {rx(rfc[0], 1)} between 1 and 31"
        f"   then 'rfc_date' else 'invalid' end)"
        f" else 'unknown' end"
    )
    rfc_m = mon_case.format(m=f"regexp_extract({col}, '{rfc[0]}', 2)")
    epoch = (
        f"case when {matches(iso_dt[0])}"
        f"      and {valid(rx(iso_dt[0], 1), rx(iso_dt[0], 2), rx(iso_dt[0], 3))} then"
        f" {civil_epoch(rx(iso_dt[0], 1), rx(iso_dt[0], 2), rx(iso_dt[0], 3), f'{rx(iso_dt[0], 4)} * 3600 + {rx(iso_dt[0], 5)} * 60 + {rx(iso_dt[0], 6)}')}"
        f" when {matches(iso_d[0])}"
        f"      and {valid(rx(iso_d[0], 1), rx(iso_d[0], 2), rx(iso_d[0], 3))} then"
        f" {civil_epoch(rx(iso_d[0], 1), rx(iso_d[0], 2), rx(iso_d[0], 3))}"
        f" when {matches(us[0])}"
        f"      and {valid(rx(us[0], 3), rx(us[0], 1), rx(us[0], 2))} then"
        f" {civil_epoch(rx(us[0], 3), rx(us[0], 1), rx(us[0], 2))}"
        f" when {matches(_DATE_RE_EPOCH)} then cast({col} as {big})"
        f" when {matches(rfc[0])} and {rx(rfc[0], 3)} >= 1583"
        f"      and {rx(rfc[0], 1)} between 1 and 31 then"
        f" {civil_epoch(rx(rfc[0], 3), rfc_m, rx(rfc[0], 1))}"
        f" else cast(null as {big}) end"
    )
    return fmt, epoch


def normalize_datestrings(
    df: "DataFrame", col: str, out_fmt: str = "fmt", out_epoch: str = "epoch_sec"
) -> "DataFrame":
    """Multi-format messy-date normalization — the crawl-metadata
    cleaning step that turns free-form date strings (ISO datetime/date,
    US MM/DD/YYYY, epoch seconds, 'DD Mon YYYY') into one canonical
    epoch-seconds column plus a format tag (invalid = matched a shape
    but failed range checks; unknown = no shape matched).

    Engine date parsers are deliberately bypassed: parsing is regex
    capture + Hinnant's days-from-civil integer formula, emitted from a
    single template for both Spark and any SQL oracle
    (:func:`_date_norm_exprs`), so results are bit-identical with no
    locale/zone/lenience surface.  NULL input → ('unknown', NULL).

    Scale: map-only narrow projection — a handful of regexes per row, no
    shuffle, no UDF; whole-stage codegen keeps it JVM-side.
    """
    fmt, epoch = _date_norm_exprs(col, "spark")
    return df.withColumns(
        {
            out_fmt: F.expr(f"case when {col} is null then 'unknown' else {fmt} end"),
            out_epoch: F.expr(
                f"case when {col} is null then cast(null as bigint) else {epoch} end"
            ),
        }
    )


def zipf_fit(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    top_r: int = 100,
) -> "DataFrame":
    """Zipf rank-frequency fit over the corpus unigram table — the
    oldest corpus-health diagnostic there is: natural text follows
    freq ∝ rank^s with s ≈ −1 (Zipf 1935); generated word-soup, boiler-
    plate floods and template spam bend the slope, so the fitted s is a
    one-number corpus-quality alarm next to the per-doc Gopher rules.

    Fit: least squares of y = ln(freq) on x = ln(rank) over the top
    ``top_r`` terms (frequency desc, term asc tie-break).  Both ln calls
    are the engine's (the BM25/unigram trust base) and each coordinate
    is quantized floor(x·10⁶ + 0.5) BEFORE any sum, so the regression
    inputs are integers and the slope is one 128-bit fraction:

        slope_milli = (R·Σxy − Σx·Σy)·1000 div (R·Σx² − (Σx)²)
        intercept_micro = (Σy div R) − (slope_milli·(Σx div R)) div 1000

    (intercept definition uses the same floor-div composition on both
    engines; R < 2 or a degenerate x-variance yields NULLs, honest).

    Output, one row: ``(r_eff, n_types, n_tokens, top_freq, slope_milli,
    intercept_micro)``.

    Scale: one token explode + one vocabulary-sized count aggregate;
    the rank window runs over the top-R table only (TakeOrdered-bounded)
    and the regression is a 6-term map-side-combined sum.
    """
    c = F.col(text_col)
    toks = docs.select(tokens(F.lower(c)).alias("t")).select(
        F.explode("t").alias("term")
    )
    uni = toks.groupBy("term").agg(F.count("*").cast("long").alias("freq"))
    corpus = uni.agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum("freq").cast("long").alias("n_tokens"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(F.lit(1)).orderBy(F.col("freq").desc(), "term")
    top = (
        uni.orderBy(F.col("freq").desc(), "term")
        .limit(top_r)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            "rank",
            "freq",
            F.expr("cast(floor(ln(cast(rank as double)) * 1000000.0 + 0.5) as bigint)").alias("x"),
            F.expr("cast(floor(ln(cast(freq as double)) * 1000000.0 + 0.5) as bigint)").alias("y"),
        )
    )
    reg = top.agg(
        F.count("*").cast("long").alias("r_eff"),
        F.max(F.when(F.col("rank") == 1, F.col("freq"))).cast("long").alias(
            "top_freq"
        ),
        F.sum(F.expr("cast(x as decimal(38,0))")).alias("sx"),
        F.sum(F.expr("cast(y as decimal(38,0))")).alias("sy"),
        F.sum(F.expr("cast(x as decimal(38,0)) * y")).alias("sxy"),
        F.sum(F.expr("cast(x as decimal(38,0)) * x")).alias("sxx"),
    )
    return (
        reg.crossJoin(F.broadcast(corpus))
        .select(
            "r_eff",
            "n_types",
            "n_tokens",
            "top_freq",
            # slope's numerator is NEGATIVE for Zipfian text, and Spark's
            # decimal `div` truncates toward zero where DuckDB's `//`
            # floors — so both engines apply sign·(|num| div den), which is
            # identical truncation-toward-zero by construction (den, the
            # x-variance, is always >= 0)
            F.expr(
                "case when r_eff < 2 or (r_eff * sxx - sx * sx) = 0 then null"
                " else cast("
                "   (case when (r_eff * sxy - sx * sy) < 0 then -1 else 1 end)"
                "   * ((abs(r_eff * sxy - sx * sy) * 1000)"
                "      div (r_eff * sxx - sx * sx)) as bigint) end"
            ).alias("slope_milli"),
            F.expr(
                "case when r_eff < 2 or (r_eff * sxx - sx * sx) = 0 then null"
                " else cast((sy div r_eff)"
                " - (case when (r_eff * sxy - sx * sy) < 0 then -1 else 1 end)"
                "   * ((abs(cast("
                "       (case when (r_eff * sxy - sx * sy) < 0 then -1 else 1 end)"
                "       * ((abs(r_eff * sxy - sx * sy) * 1000)"
                "          div (r_eff * sxx - sx * sx)) as decimal(38,0)))"
                "      * (sx div r_eff)) div 1000) as bigint) end"
            ).alias("intercept_micro"),
        )
    )


def gopher_line_rules(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    max_bullet_frac_micro: int = 900_000,
    max_ellipsis_frac_micro: int = 300_000,
) -> "DataFrame":
    """The LINE-LEVEL half of the Gopher rule battery (Rae et al. '21
    §A1.1) that :func:`gopher_quality` deliberately leaves out: documents
    where > 90% of lines start with a bullet ('•', '-', '*') or > 30% end
    with an ellipsis are dropped — the navigation-menu / truncated-
    preview shapes that per-document word statistics can't see.

    Per document: n_lines (blank lines excluded), n_bullet, n_ellipsis,
    both fractions in exact micro units (·10⁶ div n_lines), a fail mask
    (bit 1 = bullet rule, bit 2 = ellipsis rule) and ``keep``.  A
    document with no non-blank lines fails nothing (vacuous — the word-
    level battery owns the empty case).

    All integer arithmetic; the line predicates are anchored regexes
    identical in any engine (``^\\s*[-•*]`` after trim ≡ starts_with on
    the trimmed line; ellipsis = trimmed line ends with '...' or '…').

    Scale: one line explode (output rows = line count, linear) + one
    map-side-combined per-doc aggregate; no joins, no windows.
    """
    c = F.col(text_col)
    lines = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(c, "\n")).alias("line"),
    ).select("id", F.trim(F.col("line")).alias("l")).where(F.col("l") != "")
    agg = lines.groupBy("id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(
            (
                F.col("l").startswith("-")
                | F.col("l").startswith("•")
                | F.col("l").startswith("*")
            ).cast("long")
        ).cast("long").alias("n_bullet"),
        F.sum(
            (F.col("l").endswith("...") | F.col("l").endswith("…")).cast("long")
        ).cast("long").alias("n_ellipsis"),
    )
    return agg.select(
        "id",
        "n_lines",
        "n_bullet",
        "n_ellipsis",
        F.expr("(n_bullet * 1000000) div n_lines").cast("long").alias(
            "bullet_frac_micro"
        ),
        F.expr("(n_ellipsis * 1000000) div n_lines").cast("long").alias(
            "ellipsis_frac_micro"
        ),
        (
            F.expr(
                f"case when (n_bullet * 1000000) div n_lines"
                f" > {max_bullet_frac_micro} then 1 else 0 end"
            )
            + F.expr(
                f"case when (n_ellipsis * 1000000) div n_lines"
                f" > {max_ellipsis_frac_micro} then 2 else 0 end"
            )
        ).cast("long").alias("fail_mask"),
    ).withColumn("keep", F.col("fail_mask") == 0)


# Entity decode order matters: named/numeric entities first, '&amp;' LAST —
# so '&amp;lt;' decodes to the literal '&lt;', never double-decodes to '<'.
_HTML_ENTITIES = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
)


def strip_html(col: str | Column) -> Column:
    """Crawl-cleaning HTML stripper: remove tags (``<[^>]*>`` → one
    space), decode the six ubiquitous entities (named first, ``&amp;``
    last), collapse whitespace runs, trim.  Pure built-in expressions —
    regexp_replace + chained replace — identical in any engine; a
    deliberately conservative, deterministic subset of a real HTML
    parser (no script/style content removal: that needs non-greedy
    multiline matching whose semantics differ across regex engines, so
    it stays OUT of the parity surface).

    Scale: map-only narrow projection, whole-stage codegen.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, "<[^>]*>", " ")
    for ent, ch in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


def strip_html_sql(col: str) -> str:
    """DuckDB mirror of :func:`strip_html` (same operation order)."""
    out = f"regexp_replace({col}, '<[^>]*>', ' ', 'g')"
    for ent, ch in _HTML_ENTITIES:
        lit = ch.replace("'", "''")
        out = f"replace({out}, '{ent}', '{lit}')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


def heaps_fit(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_every: int = 50,
    bucket_width: int = 1024,
) -> "DataFrame":
    """Heaps'-law vocabulary-growth fit — Zipf's companion corpus-health
    diagnostic: natural text grows its vocabulary as V(N) ≈ K·N^β with
    β ≈ 0.4–0.6 (Heaps '78); template floods flatten β toward 0,
    id-stuffed machine text pushes it toward 1.  With
    :func:`zipf_fit` this pair is the two-line fingerprint every corpus
    intake report carries.

    Construction (all relational, nothing quadratic):
      * a term's FIRST document = min(doc id) over its postings — one
        vocabulary-sized aggregate, so new-type counts per document
        (f_d) and tokens per document need no prefix-distinct machinery;
      * V_d and N_d are cumulative sums of f_d / tokens_d in doc order,
        built with :func:`operators.sampling.bucketed_cumsum` (the
        scale-safe two-level cumsum — never a single-partition window
        over the corpus);
      * checkpoints: every ``checkpoint_every``-th document (by the
        dense doc rank, so gaps in ids don't skew spacing);
      * ln V vs ln N at the checkpoints feeds the same micro-quantized
        exact integer least squares as zipf_fit, with the identical
        sign·(|num| div den) truncation recipe.

    Output, one row: ``(n_checkpoints, n_docs, vocab_final,
    tokens_final, slope_milli, intercept_micro)`` — slope_milli is β in
    milli-units.
    """
    c = F.col(text_col)
    base = docs.select(
        F.col(id_col).cast("long").alias("id"), tokens(F.lower(c)).alias("t")
    ).where(F.col("id").isNotNull())
    toks = base.select("id", F.explode("t").alias("term"))
    first = toks.groupBy("term").agg(F.min("id").alias("fid"))
    new_types = first.groupBy(F.col("fid").alias("id")).agg(
        F.count("*").cast("long").alias("f")
    )
    per_doc = (
        base.select("id", F.size("t").cast("long").alias("ntok"))
        .join(new_types, "id", "left")
        .select("id", "ntok", F.coalesce("f", F.lit(0)).cast("long").alias("f"))
    )
    from .checkpoint import cut_lineage
    from ..operators.sampling import bucketed_cumsum

    per_doc = per_doc.transform(cut_lineage)  # feeds two cumsum passes
    cum_v = bucketed_cumsum(per_doc, "id", "f", bucket_width).withColumnRenamed(
        "cum", "v"
    )
    cum = bucketed_cumsum(cum_v, "id", "ntok", bucket_width).withColumnRenamed(
        "cum", "n_tok"
    )
    # dense doc rank via the same bucket trick: cumsum over a ones column
    ranked = bucketed_cumsum(
        cum.withColumn("one", F.lit(1).cast("long")), "id", "one", bucket_width
    ).withColumnRenamed("cum", "rank")
    pts = ranked.where(
        (F.col("rank") % checkpoint_every == 0)
        & (F.col("v") >= 1)
        & (F.col("n_tok") >= 1)
    ).select(
        "rank",
        "v",
        "n_tok",
        F.expr("cast(floor(ln(cast(n_tok as double)) * 1000000.0 + 0.5) as bigint)").alias("x"),
        F.expr("cast(floor(ln(cast(v as double)) * 1000000.0 + 0.5) as bigint)").alias("y"),
    )
    finals = cum.orderBy(F.col("id").desc()).limit(1).select(
        F.col("v").alias("vocab_final"), F.col("n_tok").alias("tokens_final")
    )
    ndocs = per_doc.agg(F.count("*").cast("long").alias("n_docs"))
    reg = pts.agg(
        F.count("*").cast("long").alias("n_checkpoints"),
        F.sum(F.expr("cast(x as decimal(38,0))")).alias("sx"),
        F.sum(F.expr("cast(y as decimal(38,0))")).alias("sy"),
        F.sum(F.expr("cast(x as decimal(38,0)) * y")).alias("sxy"),
        F.sum(F.expr("cast(x as decimal(38,0)) * x")).alias("sxx"),
    )
    return (
        reg.crossJoin(F.broadcast(ndocs))
        .crossJoin(F.broadcast(finals))
        .select(
            "n_checkpoints",
            "n_docs",
            "vocab_final",
            "tokens_final",
            F.expr(
                "case when n_checkpoints < 2"
                " or (n_checkpoints * sxx - sx * sx) = 0 then null"
                " else cast("
                "   (case when (n_checkpoints * sxy - sx * sy) < 0 then -1 else 1 end)"
                "   * ((abs(n_checkpoints * sxy - sx * sy) * 1000)"
                "      div (n_checkpoints * sxx - sx * sx)) as bigint) end"
            ).alias("slope_milli"),
            F.expr(
                "case when n_checkpoints < 2"
                " or (n_checkpoints * sxx - sx * sx) = 0 then null"
                " else cast((sy div n_checkpoints)"
                " - (case when (n_checkpoints * sxy - sx * sy) < 0 then -1 else 1 end)"
                "   * ((abs(cast("
                "       (case when (n_checkpoints * sxy - sx * sy) < 0 then -1 else 1 end)"
                "       * ((abs(n_checkpoints * sxy - sx * sy) * 1000)"
                "          div (n_checkpoints * sxx - sx * sx)) as decimal(38,0)))"
                "      * (sx div n_checkpoints)) div 1000) as bigint) end"
            ).alias("intercept_micro"),
        )
    )


def dup_structure_stats(
    docs: "DataFrame", id_col: str = "doc_id", text_col: str = "text"
) -> "DataFrame":
    """Duplicate-LINE / duplicate-PARAGRAPH fractions per document — the
    remaining half of Gopher's repetition battery (Rae et al. '21 §A1.1:
    "fraction of lines/paragraphs that are duplicates" and "fraction of
    characters in duplicated lines/paragraphs"; repetition_stats covers
    the top-n-gram rules, gopher_line_rules the bullet/ellipsis shapes).
    Boilerplate pages — headers repeated per section, scraped menus,
    pagination blocks — show up here and nowhere else.

    Definitions (exact integers, micro fractions):
      * unit = trimmed non-empty line (split on \\n) or paragraph
        (split on blank-line runs, \\n{2,});
      * a unit occurrence is a DUPLICATE if an identical unit occurred
        earlier in the same document → dup count for a unit with c
        occurrences is c − 1;
      * dup_*_frac_micro   = Σ(c−1) · 10⁶ div Σc
      * dup_*_char_frac_micro = Σ(c−1)·len(unit) · 10⁶ div Σ c·len(unit)
      * keep (Gopher thresholds): dup-line ≤ 30%, dup-para ≤ 30%,
        dup-line-chars ≤ 20%, dup-para-chars ≤ 20%.

    Documents with no non-empty lines emit NULL fractions and keep=false
    (nothing to certify).  Empty-paragraph docs likewise NULL the para
    fractions only.

    Scale shape: ONE tagged explode (kind byte 'l'/'p', the
    repetition_stats trick) → groupBy(doc, kind, unit) → groupBy(doc) —
    linear in corpus characters, two map-side-combined shuffles, no join,
    no window; the shuffle carries md5 of each unit, never the unit text.
    """
    def _units(pat: str, kind: str) -> Column:
        parts = F.split(F.col(text_col), pat)
        trimmed = F.transform(parts, lambda s: F.trim(F.regexp_replace(s, r"\s+", " ")))
        nonempty = F.filter(trimmed, lambda s: s != F.lit(""))
        return F.transform(
            nonempty,
            lambda s: F.struct(
                F.lit(kind).alias("kind"),
                # hash the unit: the (doc, kind, unit) shuffle then carries
                # 16 bytes per unit, not paragraph text
                F.md5(s).alias("unit"),
                F.length(s).cast("long").alias("ln"),
            ),
        )

    lines = _units(r"\n", "l")
    paras = _units(r"\n{2,}", "p")
    is_l = F.col("kind") == "l"
    agg = (
        docs.select(
            F.col(id_col).alias("id"),
            # explode_OUTER: a whitespace-only document has no units but
            # must still emit its (NULL fractions, keep=false) row
            F.explode_outer(F.concat(lines, paras)).alias("x"),
        )
        .select("id", "x.kind", "x.unit", "x.ln")
        .groupBy("id", "kind", "unit")
        # identical units have identical lengths; min() is the
        # deterministic way to say "the" length
        .agg(F.count("*").alias("c"), F.min("ln").alias("ln"))
        .groupBy("id")
        .agg(
            F.coalesce(F.sum(F.when(is_l, F.col("c"))), F.lit(0))
            .cast("long")
            .alias("n_lines"),
            F.coalesce(F.sum(F.when(is_l, F.col("c") - 1)), F.lit(0))
            .cast("long")
            .alias("d_lines"),
            F.coalesce(F.sum(F.when(is_l, F.col("c") * F.col("ln"))), F.lit(0))
            .cast("long")
            .alias("ch_lines"),
            F.coalesce(
                F.sum(F.when(is_l, (F.col("c") - 1) * F.col("ln"))), F.lit(0)
            )
            .cast("long")
            .alias("dch_lines"),
            F.coalesce(F.sum(F.when(~is_l, F.col("c"))), F.lit(0))
            .cast("long")
            .alias("n_paras"),
            F.coalesce(F.sum(F.when(~is_l, F.col("c") - 1)), F.lit(0))
            .cast("long")
            .alias("d_paras"),
            F.coalesce(F.sum(F.when(~is_l, F.col("c") * F.col("ln"))), F.lit(0))
            .cast("long")
            .alias("ch_paras"),
            F.coalesce(
                F.sum(F.when(~is_l, (F.col("c") - 1) * F.col("ln"))), F.lit(0)
            )
            .cast("long")
            .alias("dch_paras"),
        )
    )

    def q(num: str, den: str) -> Column:
        return F.expr(
            f"case when {den} > 0 then ({num} * 1000000) div {den} end"
        ).cast("long")

    out = agg.select(
        "id",
        "n_lines",
        q("d_lines", "n_lines").alias("dup_line_frac_micro"),
        q("dch_lines", "ch_lines").alias("dup_line_char_frac_micro"),
        "n_paras",
        q("d_paras", "n_paras").alias("dup_para_frac_micro"),
        q("dch_paras", "ch_paras").alias("dup_para_char_frac_micro"),
    )
    keep = (
        (F.col("dup_line_frac_micro") <= 300000)
        & (F.col("dup_line_char_frac_micro") <= 200000)
        & (F.col("dup_para_frac_micro") <= 300000)
        & (F.col("dup_para_char_frac_micro") <= 200000)
    )
    return out.withColumn("keep", F.coalesce(keep, F.lit(False)))
