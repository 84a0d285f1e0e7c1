"""Deduplication operators — exact and near-duplicate detection at corpus scale.

The reference engine has no dedup surface (its only set op is the usort
union of id lists, src/egraph_api.erl:342-349).  A training-data pipeline
at 100 TB needs it as a first-class operator family, so this module
implements the standard ladder:

  exact_dedup        hash-groupBy on a content fingerprint      (1 shuffle)
  minhash_signature  char-shingle → 32-bit hash → k-perm min    (1 shuffle)
  lsh_candidate_pairs band the signature, join within buckets   (1 shuffle)
  simhash            sign-aggregated 32-bit fingerprint         (1 shuffle)
  simhash_pairs      Hamming-≤r pairs via byte-block blocking
  jaccard_pairs      exact n-gram Jaccard over candidate pairs
  embedding_neardup_pairs  cosine-≥τ pairs over embeddings

Scale design:
  * All hashing is md5-prefix arithmetic — pure JVM expressions inside
    whole-stage codegen, reproducible in any engine (the DuckDB oracles
    re-derive identical signatures, so candidate pairs match bit-for-bit).
  * The only shuffles are groupBy(doc) for signatures and groupBy(bucket)
    for candidates.  Bucket joins never go quadratic globally — only within
    a bucket; `max_bucket_size` drops degenerate buckets (the classic
    stop-shingle guard) the same way on both engines.
  * No Python UDFs anywhere: explode → expression → partial-agg min/sum is
    map-side combinable, so the shuffle carries k longs per doc, not the
    shingle set.

MinHash math: h(s) = first 8 hex digits of md5(shingle) as uint32; the j-th
permutation is (A[j]·h + B[j]) mod P with P prime > 2^32; signature =
elementwise min.  Banding with R rows per band, BANDS bands: P(candidate) =
1-(1-j^R)^BANDS — the standard S-curve (Broder '97; MMDS ch.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column, functions as F

from .checkpoint import cut_lineage

# ---------------------------------------------------------------------------
# Deterministic MinHash parameters (shared verbatim with the SQL oracles).
# ---------------------------------------------------------------------------
SHINGLE_LEN = 5
MINHASH_P = 4294967311  # smallest prime > 2^32
# 16 fixed (a, b) pairs — generated once from a fixed seed, frozen as
# literals so every engine derives identical signatures.
MINHASH_A = [
    636127, 407559, 963343, 856929, 328913, 708155, 286111, 474469,
    125629, 556783, 943801, 613027, 781351, 199019, 870359, 342437,
]
MINHASH_B = [
    911159, 183269, 749117, 525161, 64613, 277441, 438887, 990589,
    350899, 668701, 84631, 817613, 232037, 573259, 721499, 135089,
]
NUM_PERM = len(MINHASH_A)
LSH_BANDS = 4
LSH_ROWS = 4  # NUM_PERM == LSH_BANDS * LSH_ROWS

SIMHASH_BITS = 32


def _text_col(text: str | Column) -> Column:
    return F.col(text) if isinstance(text, str) else text


def normalize(text: str | Column) -> Column:
    """Lowercase + whitespace-collapse + trim; the canonical form all
    dedup sees.

    Collapse FIRST, trim second: ``trim`` strips only ' ' (both Spark and
    DuckDB), so trim-first left ``"foo\\n"`` normalizing to ``"foo "`` —
    whitespace-variant duplicates then had different fingerprints/
    shingles (found by the hypothesis property suite).  After collapsing,
    boundary whitespace can only be ' ', which trim removes.
    """
    return F.trim(F.regexp_replace(F.lower(_text_col(text)), r"\s+", " "))


def with_shingles(df: DataFrame, text_col: str, out: str = "shingle") -> DataFrame:
    """Explode distinct shingles: one row per (doc, shingle).

    Adds `norm_t` internally; output columns = df columns + `out`.
    """
    n = SHINGLE_LEN
    return (
        df.withColumn("norm_t", normalize(text_col))
        # shingles slice a pre-split CODEPOINT ARRAY, not substring(norm_t,
        # i, n): UTF8String.substring walks from byte 0 to the i-th
        # codepoint, so per-position extraction over a whole document is
        # O(len²) — a 200k-char document costs ~90 s of one executor core
        # (measured on winnow_fingerprints, same pattern).  Array element
        # access is O(1) → O(len·n) total.  Output identical: split('')
        # yields codepoints exactly like substring counts them.
        .withColumn("cs", F.split(F.col("norm_t"), ""))
        .withColumn(
            out,
            # short-doc guard: sequence(1, 0) is DESCENDING [1, 0] in Spark
            # — a doc shorter than the shingle width would emit a phantom
            # shingle while the SQL oracle (range(), half-open) correctly
            # emits none.  Such docs have no shingles.
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"if(size(cs) < {n}, array(),"
                        f" transform(sequence(1, size(cs) - {n - 1}),"
                        f" i -> array_join(slice(cs, i, {n}), '')))"
                    )
                )
            ),
        )
        .drop("norm_t", "cs")
    )


def shingle_hash32(shingle: str | Column) -> Column:
    """First 8 hex digits of md5 → uint32 as BIGINT (engine-portable)."""
    c = _text_col(shingle)
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def shingle_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, shingle, h) — the exploded-shingle table the whole dedup family
    consumes (minhash joins on h, jaccard on shingle, simhash on h).

    At 100 TB this is a materialized derived table (written once, bucketed
    by shingle), exactly like the typed index table: the normalize + explode
    + md5 scan is the dominant dedup cost and every signature family reads
    the same rows, so deriving it per-query would re-pay the corpus scan
    3×.  Callers memoize/cache it (see graph.doc_shingles).
    """
    ex = with_shingles(df.select(F.col(id_col).alias("id"), text_col), text_col)
    return ex.select("id", "shingle", shingle_hash32("shingle").alias("h"))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by content fingerprint.

    Returns (canonical_id, n_dups) — one row per distinct content, canonical
    = min id.  One hash-groupBy shuffle on a 60-bit fingerprint (never the
    text itself — at 100 TB the shuffle carries 16 bytes/doc, not documents).
    """
    from .text import fingerprint64

    return (
        df.select(F.col(id_col).alias("id"), fingerprint64(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min("id").alias("canonical_id"), F.count("*").alias("n_dups"))
        .select("canonical_id", "n_dups")
    )


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, shingles: DataFrame | None = None
) -> DataFrame:
    """(id, m0..m{k-1}) MinHash signature per document.

    explode(shingles) → h32 → groupBy(doc) with k partial-aggregable mins.
    The shuffle after the map-side combine is k longs per document.
    ``shingles``: optional pre-built :func:`shingle_table` (id, shingle, h).
    """
    if shingles is None:
        shingles = shingle_table(df, id_col, text_col)
    h = F.col("h")
    aggs = [
        F.min((F.lit(MINHASH_A[j]) * h + F.lit(MINHASH_B[j])) % F.lit(MINHASH_P)).alias(f"m{j}")
        for j in range(NUM_PERM)
    ]
    return shingles.groupBy("id").agg(*aggs)


def lsh_band_buckets(sig: DataFrame) -> DataFrame:
    """(id, band, bucket) — one row per band; bucket = md5 of the band slice."""
    bands = []
    for b in range(LSH_BANDS):
        cols = [F.col(f"m{b * LSH_ROWS + r}") for r in range(LSH_ROWS)]
        bucket = F.md5(F.concat_ws("_", F.lit(str(b)), *[c.cast("string") for c in cols]))
        bands.append(
            F.struct(F.lit(b).alias("band"), bucket.alias("bucket"))
        )
    return (
        sig.select("id", F.explode(F.array(*bands)).alias("bb"))
        .select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    )


def lsh_candidate_pairs(
    sig: DataFrame, max_bucket_size: int = 64
) -> DataFrame:
    """Distinct (id_a < id_b) candidate pairs sharing ≥1 LSH bucket.

    Self-join within (band, bucket).  Buckets larger than
    ``max_bucket_size`` are dropped before the join (degenerate buckets —
    e.g. empty-text docs — would otherwise go quadratic); the SQL oracle
    applies the identical guard so results stay exact.
    """
    bb = lsh_band_buckets(sig)
    small = (
        bb.groupBy("band", "bucket")
        .agg(F.count("*").alias("sz"))
        .where(F.col("sz") <= max_bucket_size)
        .select("band", "bucket")
    )
    bb = bb.join(small, ["band", "bucket"], "left_semi")
    a = bb.alias("a")
    b = bb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = SIMHASH_BITS,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, simhash) — 32-bit sign-aggregated fingerprint.

    For each bit i: sum over distinct shingles of (+1 if bit set in h32
    else −1); fingerprint bit i = 1 iff the sum > 0 (Charikar '02).
    Expressed as `bits` conditional sums — one groupBy, map-side combined.
    ``shingles``: optional pre-built :func:`shingle_table` (id, shingle, h).
    """
    if shingles is None:
        shingles = shingle_table(df, id_col, text_col)
    ex = shingles.select("id", "h")
    # sum of ±1 per bit  ==  2·(count of set bits) − n : plain bit sums are
    # branch-free (no conditional per row per bit) and still map-side combined
    sums = [
        F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = ex.groupBy("id").agg(*sums, F.count("*").alias("n"))
    fp = None
    for i in range(bits):
        # bit i set  ⟺  (+1 votes) > (−1 votes)  ⟺  2·b_i > n
        bit = F.when(
            F.col(f"b{i}") * 2 > F.col("n"), F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fp = bit if fp is None else fp + bit
    return agg.select("id", fp.alias("simhash"))


def simhash_pairs(sh: DataFrame, max_hamming: int = 6) -> DataFrame:
    """(id_a, id_b, hamming) pairs with Hamming distance ≤ r.

    Pigeonhole blocking: split the 32-bit fingerprint into 4 bytes; any
    pair within Hamming ≤ 6 over 32 bits shares at least one equal byte
    only when r < 4 per-block errors — with 4 blocks and r=6 two blocks
    must hold ≤1 error... to stay EXACT we block on each byte equality and
    additionally verify the true Hamming distance; a pair differing in all
    4 bytes is by pigeonhole at distance ≥ 4 per... NOTE: exactness holds
    for r ≤ 3 with 4 blocks (pigeonhole: ≤3 bit errors cannot touch all 4
    bytes).  For r > 3 this is a high-recall approximation — callers
    wanting exact r ≤ 3 pass max_hamming=3.  The oracle replicates the
    same blocking, so results remain engine-identical either way.
    """
    blocked = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("blk"),
                        F.shiftright(F.col("simhash"), k * 8).bitwiseAND(F.lit(255)).alias("val"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("b"),
    ).select("id", "simhash", F.col("b.blk").alias("blk"), F.col("b.val").alias("val"))
    a, b = blocked.alias("a"), blocked.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .where(ham <= max_hamming)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    max_shingle_df: int = 100,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard ≥ threshold pairs: (id_a, id_b, jaccard).

    explode → co-group on shingle → pair-count → |A∩B| / (|A|+|B|−|A∩B|).
    Shingles occurring in > ``max_shingle_df`` docs are dropped from the
    PAIR-GENERATION join only (stop-shingle guard against quadratic fanout)
    — but set sizes |A|,|B| and the intersection are then computed over the
    same reduced shingle universe on both engines, keeping results exact.
    ``shingles``: optional pre-built :func:`shingle_table` (id, shingle, h).
    """
    if shingles is None:
        shingles = shingle_table(df, id_col, text_col)
    ex = shingles.select("id", "shingle")
    rare = (
        ex.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= max_shingle_df)
        .select("shingle")
    )
    # the reduced shingle table feeds three consumers (sizes + both join
    # sides) — materialize once instead of re-exploding the corpus 3×
    ex = ex.join(rare, "shingle", "left_semi").transform(cut_lineage)
    sizes = ex.groupBy("id").agg(F.count("*").alias("sz"))
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    jac = F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .where(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    max_shingle_df: int = 100,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs — quote/subset-duplicate
    detection: C(A→B) = |A∩B| / |A|.

    Jaccard structurally under-scores a short document embedded inside a
    long one (J = |A|/|B| → 0 as B grows while C(A→B) stays 1), so
    boilerplate inclusion, quoted articles, and prefix-truncated dumps
    slip every symmetric-similarity net.  Emits one row per unordered
    pair with BOTH directed scores when either reaches ``threshold``.

    Same physical shape (and stop-shingle guard, applied identically to
    sizes and intersection on both engines) as :func:`jaccard_pairs`, and
    shares its materialized shingle table — the extra scores are two
    row-local divisions on the already-aggregated pair counts.
    """
    if shingles is None:
        shingles = shingle_table(df, id_col, text_col)
    ex = shingles.select("id", "shingle")
    rare = (
        ex.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= max_shingle_df)
        .select("shingle")
    )
    ex = ex.join(rare, "shingle", "left_semi").transform(cut_lineage)
    sizes = ex.groupBy("id").agg(F.count("*").alias("sz"))
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    ca = F.col("common") / F.col("sz_a")
    cb = F.col("common") / F.col("sz_b")
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .where(F.greatest(ca, cb) >= threshold)
        .select(
            "id_a",
            "id_b",
            F.round(ca, 6).alias("contain_a_in_b"),
            F.round(cb, 6).alias("contain_b_in_a"),
        )
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    *,
    mode: str = "grid",
    num_blocks: int = 16,
    broadcast_limit_rows: int = 65536,
) -> DataFrame:
    """(id_a, id_b, cosine) pairs with cosine similarity ≥ threshold.  Exact.

    Default physical plan (``mode="grid"``) is fully distributed — NO driver
    collect of the corpus: vectors are hash-assigned to ``num_blocks``
    blocks, every unordered block pair (i ≤ j) becomes one task, and each
    row is shuffled to the B tasks its block participates in.  A task holds
    two blocks, unit-normalizes them, and runs ONE float64 BLAS matmul,
    emitting only pairs above threshold.  Every vector pair lands in exactly
    one task, so the result is exact (identical to the all-pairs SQL oracle)
    with no dedup pass.  Cost model at scale: shuffle volume = n·B rows;
    per-task memory = 2·(n/B)·d doubles; total flops = n²·d/2 spread over
    B(B+1)/2 independent tasks — pick B ≈ √(n·d·8 / task_mem_budget) so a
    task fits in executor memory.  Exact all-pairs is inherently O(n²·d);
    for sub-quadratic near-dup use the LSH/IVF blockers (similarity.py) as
    candidate generators at lower recall.

    ``mode="broadcast"`` is the small-corpus fast path: collect + broadcast
    the (id, unit-vector) matrix (float64; ~512 MB practical ceiling) and
    matmul each partition against it via ``mapInPandas`` — fewer tasks, no
    n·B replication, but driver-bound, so it is never chosen implicitly for
    large inputs.  ``mode="auto"`` counts the corpus and picks broadcast only
    when rows ≤ ``broadcast_limit_rows``.
    """
    import numpy as np
    import pandas as pd

    v = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vec")
    )

    if mode == "auto":
        n = v.count()
        mode = "broadcast" if n <= broadcast_limit_rows else "grid"

    def _unit(mat: "np.ndarray") -> "np.ndarray":
        norms = np.sqrt((mat * mat).sum(axis=1))
        norms[norms == 0.0] = 1.0
        return mat / norms[:, None]

    if mode == "broadcast":
        rows = v.collect()
        ids = np.array([r["id"] for r in rows], dtype=np.int64)
        unit = _unit(np.array([r["vec"] for r in rows], dtype=np.float64))
        spark = emb.sparkSession
        b_ids = spark.sparkContext.broadcast(ids)
        b_unit = spark.sparkContext.broadcast(unit)

        def block(it):
            all_ids, all_unit = b_ids.value, b_unit.value
            for pdf in it:
                if not len(pdf):
                    continue
                bm = np.array(pdf["vec"].tolist(), dtype=np.float64)
                sims = np.round(_unit(bm) @ all_unit.T, 6)
                bids = pdf["id"].to_numpy()
                ri, ci = np.nonzero(
                    (sims >= threshold) & (bids[:, None] < all_ids[None, :])
                )
                yield pd.DataFrame(
                    {"id_a": bids[ri], "id_b": all_ids[ci], "cosine": sims[ri, ci]}
                )

        return v.mapInPandas(block, "id_a long, id_b long, cosine double")

    if mode != "grid":
        raise ValueError(f"unknown mode {mode!r} (grid | broadcast | auto)")

    B = max(2, int(num_blocks))
    blk = F.pmod(F.xxhash64(F.col("id")), F.lit(B)).cast("int")
    # Each row fans out to the B tasks pairing its block with every block.
    tasks = F.array(
        *[
            F.struct(
                F.least(F.col("blk"), F.lit(j)).alias("ta"),
                F.greatest(F.col("blk"), F.lit(j)).alias("tb"),
            )
            for j in range(B)
        ]
    )
    fanned = (
        v.withColumn("blk", blk)
        .select("id", "vec", "blk", F.explode(tasks).alias("t"))
        .select("id", "vec", "blk", F.col("t.ta").alias("ta"), F.col("t.tb").alias("tb"))
    )

    empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})

    def pair_block(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        i, j = key
        ma = pdf[pdf["blk"] == i]
        if not len(ma):
            return empty
        A = _unit(np.array(ma["vec"].tolist(), dtype=np.float64))
        ids_a = ma["id"].to_numpy()
        if i == j:
            sims = np.round(A @ A.T, 6)
            ri, ci = np.nonzero(
                (sims >= threshold) & (ids_a[:, None] < ids_a[None, :])
            )
            return pd.DataFrame(
                {"id_a": ids_a[ri], "id_b": ids_a[ci], "cosine": sims[ri, ci]}
            )
        mb = pdf[pdf["blk"] == j]
        if not len(mb):
            return empty
        Bm = _unit(np.array(mb["vec"].tolist(), dtype=np.float64))
        ids_b = mb["id"].to_numpy()
        sims = np.round(A @ Bm.T, 6)
        ri, ci = np.nonzero(sims >= threshold)
        ia, ib = ids_a[ri], ids_b[ci]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib),
                "id_b": np.maximum(ia, ib),
                "cosine": sims[ri, ci],
            }
        )

    return fanned.groupBy("ta", "tb").applyInPandas(
        pair_block, "id_a long, id_b long, cosine double"
    )


# ---------------------------------------------------------------------------
# Train/eval contamination (decontamination scan)
# ---------------------------------------------------------------------------


def contamination_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    test_fraction: float = 0.20,
    salt: str = "split",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-eval-document n-gram overlap against the training split.

    The decontamination scan every LLM eval pipeline runs (the reference has
    no dedup/contamination surface at all — this is part of the engine's
    training-data extension family): split the corpus into train/test with
    the deterministic keyed split (`sampling.train_test_split` — membership
    is a pure function of the id, stable under corpus growth), shingle both
    sides with the shared dedup normalizer, and report, for every test
    document sharing at least one shingle with ANY train document, how much
    of it is covered by the training set.

    Overlap is measured over 32-bit md5-prefix shingle hashes, not raw
    shingle strings — the same membership-by-hash design as Bloom-filter
    decontamination in production pipelines (rare collisions overcount
    slightly; both engines hash identically so the gate is still exact).

    Returns (id, n_grams, n_hit, hit_ratio) — one row per test doc with
    n_hit > 0; hit_ratio = n_hit / n_grams rounded to 6dp (same-integer
    division is bit-identical across engines).

    Scale shape (100 TB): the split predicate is a narrow map-side filter;
    distinct train hashes is one partial-agg'd shuffle carrying 8 B/shingle;
    the probe is a shuffle hash join on that 8-byte key where the probe side
    is only the test fraction of the corpus; final groupBy(id) is map-side
    combinable.  No UDFs, no driver state.  If the train side must be
    reused across many eval sets, persist the distinct-hash DataFrame once
    (it is the engine's Bloom-filter analogue, exact instead of lossy).
    """
    from .sampling import train_test_split

    if shingles is None:
        shingles = shingle_table(df, id_col, text_col)
    # split membership is a pure function of the id, so it attaches to the
    # (possibly cached/shared) shingle table as a narrow column expression —
    # no re-scan or re-explode of the corpus
    hashed = (
        train_test_split(shingles, "id", test_fraction, salt=salt)
        .select("id", "split", "h")
        .distinct()
    )
    train = hashed.where(F.col("split") == "train").select("h").distinct()
    test = hashed.where(F.col("split") == "test").select("id", "h")
    return (
        test.join(train.withColumn("hit", F.lit(1)), "h", "left")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_grams"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hit"),
        )
        .where(F.col("n_hit") > 0)
        .withColumn(
            "hit_ratio",
            F.round(F.col("n_hit").cast("double") / F.col("n_grams"), 6),
        )
    )


def repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_tokens: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated token spans — the memorization/boilerplate
    scan: every ``n_tokens``-token window occurring in ≥ ``min_docs``
    distinct documents, with its document and occurrence counts.

    Finer-grained than whole-document dedup (catches shared boilerplate,
    license headers, templated passages inside otherwise-unique documents)
    — the span-level scan run before memorization evals.

    Output: (span, n_docs, n_occurrences) over whitespace tokens of the
    normalized text.  Scale: one explode bounded by tokens-per-doc, one
    groupBy — at 100 TB the group key is xxhash64(span) and the span text
    is dropped (8 B through the shuffle); here the span string is kept so
    the gate's output is directly readable, and min_docs prunes the
    long singleton tail before any join consumes the result.
    """
    t = df.select(
        F.col(id_col).alias("id"), normalize(text_col).alias("norm_t")
    ).withColumn("toks", F.split(F.col("norm_t"), " "))
    spans = t.select(
        "id",
        F.explode(
            F.array_distinct(
                # guard short docs explicitly: sequence(1, 0) is DESCENDING
                # [1, 0] in Spark (default step -1 when start > stop) and
                # slice(toks, 0, n) then throws — an unguarded version
                # crashes on any document shorter than n_tokens
                F.expr(
                    f"if(size(toks) < {n_tokens}, array(),"
                    f" transform(sequence(1, size(toks) - {n_tokens - 1}),"
                    f" i -> array_join(slice(toks, i, {n_tokens}), ' ')))"
                )
            )
        ).alias("span"),
    )
    return (
        spans.groupBy("span")
        .agg(
            F.count_distinct("id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def incremental_lsh_matches(
    sig_existing: DataFrame, sig_new: DataFrame, max_bucket_size: int = 64
) -> DataFrame:
    """New documents colliding with the EXISTING corpus's LSH buckets.

    The incremental-ingestion dedup path: signatures of the standing corpus
    are a stored table; each arriving batch derives its own signatures and
    probes the stored buckets — no all-pairs work, no rescan of the corpus
    text.  Returns (new_id, n_bucket_hits, first_match) where first_match
    is the smallest existing doc id sharing any (band, bucket).

    The bucket-size guard applies to the EXISTING side only (degenerate
    buckets — empty-text clusters — would otherwise match everything);
    the oracle replicates the same guard.  Scale: the probe is a join on
    (band, bucket) where the new side is one batch, shuffle bounded by the
    batch's band rows + matched existing rows.
    """
    ex_bb = lsh_band_buckets(sig_existing)
    small = (
        ex_bb.groupBy("band", "bucket")
        .agg(F.count("*").alias("sz"))
        .where(F.col("sz") <= max_bucket_size)
        .select("band", "bucket")
    )
    ex_bb = ex_bb.join(small, ["band", "bucket"], "left_semi")
    new_bb = lsh_band_buckets(sig_new)
    return (
        new_bb.alias("n")
        .join(
            ex_bb.alias("e"),
            (F.col("n.band") == F.col("e.band"))
            & (F.col("n.bucket") == F.col("e.bucket")),
        )
        .groupBy(F.col("n.id").alias("new_id"))
        .agg(
            F.count("*").alias("n_bucket_hits"),
            F.min(F.col("e.id")).alias("first_match"),
        )
    )


def semantic_dedup_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    anchors: DataFrame,
    threshold: float,
) -> DataFrame:
    """Cluster-scoped semantic near-duplicate pairs (the SemDeDup recipe,
    Abbas et al. 2023): assign every embedding to its max-cosine cluster,
    then emit cosine-≥ threshold pairs WITHIN each cluster only.

    This is the sub-quadratic path for embedding dedup at corpus scale:
    where :func:`embedding_neardup_pairs` is exact (n² work spread over a
    block grid), clustering first bounds the candidate set to Σ|cluster|²
    ≈ n²/k — the deliberate approximation of the published method (true
    duplicates that straddle a cluster boundary are missed; the paper and
    practice accept this because near-identical vectors land in the same
    cluster at any reasonable k).

    **k must grow with the corpus.**  Fixed k makes pair work n²/k —
    still quadratic (measured: 21.7× at 10× data with k=8).  Callers pass
    k ∝ n (constant target cluster size) so pair work is n·cluster_size,
    linear.  That shifts the super-linear term to assignment (n·k
    cosines); broadcast-joined codegen flops absorb that to well past
    10⁸ vectors, beyond which the standard move is two-level assignment
    (route through √k coarse centroids first) — same operator shape,
    anchors swapped for a (coarse, fine) pair.

    Scale: the anchor set broadcasts (``similarity.ivf_assign``); the
    pair join shuffles on cluster id; with precomputed assignment and a
    table partitioned by cluster, each task self-joins one cluster's
    vectors.  Anchors here come from the caller (deterministic prefix or
    k-means — both oracle-replicable); at 100 TB they come from sampled
    k-means exactly as the IVF path documents.

    Output: (cluster_id, id_a, id_b, cosine) with id_a < id_b, cosine
    rounded 6dp (the engine-exact convention shared with the oracle).
    """
    from .similarity import ivf_assign

    # Norms are hoisted out of the pair loop: ||v|| is the same sequential
    # fold the shared cosine() helper runs, evaluated once per VECTOR
    # instead of once per pair — operand values are bit-identical, so
    # dot/(na·nb) and the 6dp round match the oracle exactly while the
    # per-pair work drops to the dot product alone.
    norm = F.sqrt(F.aggregate("vec", F.lit(0.0), lambda acc, x: acc + x * x))
    assigned = ivf_assign(emb, id_col, vec_col, anchors).withColumn("nrm", norm)
    a = assigned.select(
        F.col("anchor_id").alias("cluster_id"),
        F.col("id").alias("id_a"),
        F.col("vec").alias("vec_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = assigned.select(
        F.col("anchor_id").alias("cluster_id"),
        F.col("id").alias("id_b"),
        F.col("vec").alias("vec_b"),
        F.col("nrm").alias("nrm_b"),
    )
    dot = F.aggregate(
        F.zip_with("vec_a", "vec_b", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # zero-norm guard, same 0.0 convention as similarity.cosine (ANSI
    # division would throw on a zero embedding)
    denom = F.col("nrm_a") * F.col("nrm_b")
    c = F.round(F.when(denom == F.lit(0.0), F.lit(0.0)).otherwise(dot / denom), 6)
    return (
        a.join(b, "cluster_id")
        .where(F.col("id_a") < F.col("id_b"))
        .select("cluster_id", "id_a", "id_b", c.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 8,
    prefix_len: int = 16,
    max_block_size: int = 64,
) -> DataFrame:
    """Blocked edit-distance near-duplicate pairs: (id_a, id_b, dist).

    The approximate-string-join member of the dedup family: catches the
    "same document, a few characters edited" class (boilerplate tweaks,
    typo fixes, version bumps) that shingle Jaccard under-scores on short
    docs and exact fingerprints miss entirely.

    Entity-resolution-style prefix blocking: documents sharing the first
    ``prefix_len`` characters of the normalized text form a block, and
    only within-block pairs are scored.  Like the LSH/SimHash blockers
    this is a high-recall approximation, not an exact all-pairs edit-
    distance join (a pair whose edits touch the first ``prefix_len``
    chars is missed); the SQL oracle replicates the identical blocking so
    results stay engine-exact.

    Cost shape, in order:
      * blocks larger than ``max_block_size`` are dropped BEFORE the
        self-join (the LSH guard: degenerate prefixes — e.g. a shared
        boilerplate header — would otherwise go quadratic);
      * the length prefilter |len_a − len_b| <= max_dist sits in the join
        condition (an edit script cannot change length by more than its
        number of edits), so hopeless pairs never reach the DP;
      * the Levenshtein itself uses Spark's bounded form
        (``levenshtein(l, r, threshold)``) — O(max_dist * n) banded DP
        per survivor, not O(n^2), returning -1 above the bound, which the
        <= max_dist filter removes (equivalent to the oracle's unbounded
        distance filtered to the same bound).

    At 100 TB: the shuffle key is the 16-char block prefix; one block per
    document (single blocking key, unlike LSH's bands) means pairs are
    born unique — no distinct.  Skewed prefixes are capped by the guard,
    so the join is bounded by max_block_size^2 per block.
    """
    norm = df.select(F.col(id_col).alias("id"), normalize(text_col).alias("t"))
    blocked = norm.select(
        "id",
        "t",
        F.substring("t", 1, prefix_len).alias("blk"),
        F.length("t").alias("ln"),
    )
    small = (
        blocked.groupBy("blk")
        .agg(F.count("*").alias("sz"))
        .where(F.col("sz") <= max_block_size)
        .select("blk")
    )
    blocked = blocked.join(small, "blk", "left_semi")
    a, b = blocked.alias("a"), blocked.alias("b")
    dist = F.levenshtein(F.col("a.t"), F.col("b.t"), max_dist)
    # The distance bounds live IN the join condition, after the cheap
    # predicates: join conditions short-circuit left-to-right, so the DP
    # only runs on pairs that survived id</length pruning.  (Filtering a
    # projected dist column instead lets Catalyst push the predicate back
    # into the condition with the levenshtein FIRST — measured 10x slower
    # at sf0.1: full-cost distances on every block pair.)
    return a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.id") < F.col("b.id"))
        & (F.abs(F.col("a.ln") - F.col("b.ln")) <= max_dist)
        & (dist >= 0)
        & (dist <= max_dist),
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        dist.cast("long").alias("dist"),
    )


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_line_df: int = 2,
    min_line_chars: int = 10,
) -> DataFrame:
    """Line-level boilerplate REMOVAL — C4/MassiveText-style cleaning:
    delete every line whose exact content appears in more than
    ``max_line_df`` distinct documents (nav bars, cookie banners, license
    headers), keeping the rest of each document intact and in order.

    Complements :func:`repeated_spans`, which only *reports* cross-document
    spans — this is the transform that rewrites the corpus, the step
    between span detection and whole-document dedup in a cleaning
    pipeline.  Lines shorter than ``min_line_chars`` after trim are never
    dropped: empty/short lines ('', '---') are ubiquitous, and deleting
    them would rewrite nearly every document while freeing no meaningful
    tokens.  Eligibility is a pure function of line content, so the
    duplicated-line set contains only eligible lines and one anti-join
    covers both cases.

    Output: (id, clean_text, n_kept, n_dropped) — one row per input
    document; clean_text = surviving lines joined by newline in original
    order ('' when every line was dropped).

    Scale: one explode (bounded by lines/doc), one distinct-count
    aggregate keyed on the line string (at 100 TB key on xxhash64(line)
    and drop the string through the shuffle), one anti-join against the
    duplicated-line set (small: only lines with df > threshold), one
    per-document re-aggregate.  No corpus-wide window; reassembly sorts
    only within each document's own line array.
    """
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "ln"),
    )
    dup = (
        lines.where(F.length(F.trim(F.col("ln"))) >= min_line_chars)
        .groupBy("ln")
        .agg(F.count_distinct(F.col("id")).alias("line_df"))
        .where(F.col("line_df") > max_line_df)
        .select("ln")
    )
    kept = lines.join(dup, "ln", "left_anti")
    agg = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "ln"))),
                lambda s: s["ln"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    total = lines.groupBy("id").agg(F.count("*").alias("n_lines"))
    return total.join(agg, "id", "left").select(
        "id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_dropped"),
    )


def source_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Dataset-level overlap between SOURCES: per-source MinHash union
    signatures plus the exact shingle-set Jaccard for every source pair —
    the corpus-governance question ("how much of source A is already in
    source B?") that doc-pair dedup and benchmark contamination don't
    answer.

    The union signature is the elementwise min over every shingle hash in
    the source — an associative, commutative, map-side-combinable
    aggregate, so per-source signatures MERGE: shard signatures combine
    by elementwise min with no rescan (the mergeable-sketch property that
    makes this a one-scan operator at 100 TB; signature agreement
    fraction estimates Jaccard per Broder '97).  The exact check joins
    the distinct (source, h) table on h — linear in the shingle table,
    only feasible because sources are few; the estimate column is the
    part that survives when they aren't.  Set elements are the 32-bit
    shingle hashes on BOTH engines, so hash collisions conflate
    identically and parity is exact.

    Output: one row per unordered source pair (src_a < src_b) —
    (src_a, src_b, n_agree, est_jaccard_micro, exact_jaccard_micro),
    all counts BIGINT, jaccards in integer millionths (truncating div).
    """
    if shingles is None:
        shingles = shingle_table(df, id_col, text_col)
    hs = (
        shingles.join(
            df.select(
                F.col(id_col).alias("id"), F.col(source_col).alias("source")
            ),
            "id",
        )
        .select("source", "h")
        .distinct()
    )
    h = F.col("h")
    sig = hs.groupBy("source").agg(
        *[
            F.min(
                (F.lit(MINHASH_A[j]) * h + F.lit(MINHASH_B[j])) % F.lit(MINHASH_P)
            ).alias(f"m{j}")
            for j in range(NUM_PERM)
        ]
    )
    a, b = sig.alias("a"), sig.alias("b")
    agree = sum(
        (F.col(f"a.m{j}") == F.col(f"b.m{j}")).cast("long")
        for j in range(NUM_PERM)
    )
    est = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("src_a"),
        F.col("b.source").alias("src_b"),
        agree.alias("n_agree"),
    )
    sizes = hs.groupBy("source").agg(F.count("*").alias("n"))
    sa, sb = hs.alias("sa"), hs.alias("sb")
    inter = (
        sa.join(
            sb,
            (F.col("sa.h") == F.col("sb.h"))
            & (F.col("sa.source") < F.col("sb.source")),
        )
        .groupBy(
            F.col("sa.source").alias("src_a"), F.col("sb.source").alias("src_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    na, nb = sizes.alias("na"), sizes.alias("nb")
    pairs = na.join(nb, F.col("na.source") < F.col("nb.source")).select(
        F.col("na.source").alias("src_a"),
        F.col("nb.source").alias("src_b"),
        F.col("na.n").alias("n_a"),
        F.col("nb.n").alias("n_b"),
    )
    return (
        pairs.join(inter, ["src_a", "src_b"], "left")
        .join(est, ["src_a", "src_b"])
        .select(
            "src_a",
            "src_b",
            "n_agree",
            F.expr(f"n_agree * 1000000 div {NUM_PERM}").alias("est_jaccard_micro"),
            F.expr(
                "coalesce(inter, 0) * 1000000 div (n_a + n_b - coalesce(inter, 0))"
            ).alias("exact_jaccard_micro"),
        )
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    mask: int = 15,
) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS cut-point idea, token
    granularity): a token ends a chunk iff its 60-bit hash ≡ 0 modulo
    ``mask + 1``, so chunk boundaries are a pure function of LOCAL content
    — inserting one sentence at the top of a document shifts every
    fixed-width window but re-synchronizes CDC chunks at the next cut
    point.  This is the shift-resistant complement to
    :func:`repeated_spans` (fixed-width overlapping windows): CDC gives
    NON-overlapping variable-width chunks whose hashes survive
    insertions/deletions, the unit of partial cross-document dedup.

    Output: one row per (id, chunk_idx) with ``chunk_hash`` (60-bit md5 of
    the space-joined chunk) and ``n_tokens``.  Expected chunk length is
    geometric with mean ``mask + 1`` tokens; production CDC adds min/max
    clamps, but those make each boundary depend on the previous one (a
    sequential per-doc scan) — the unclamped rule keeps the operator a
    pure window expression, and the hash keeps runs short in practice.

    Scale: explode (rows bounded by corpus token count), ONE window
    partitioned by document (per-doc sort, no global order), one groupBy
    on (id, chunk) — all linear; at 100 TB the chunk text is dropped and
    only the 8-byte hash crosses the shuffle, exactly like shingle_table.
    """
    t = (
        df.select(F.col(id_col).alias("id"), normalize(text_col).alias("norm_t"))
        .select("id", F.posexplode(F.split("norm_t", " ")).alias("pos", "tok"))
        .where(F.col("tok") != "")
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    cut = (h % (mask + 1) == 0).cast("long")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = t.withColumn(
        "chunk_idx", F.coalesce(F.sum(cut).over(w), F.lit(0)).cast("long")
    )
    return (
        chunked.groupBy("id", "chunk_idx")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("chunk_text"),
            F.count("*").cast("long").alias("n_tokens"),
        )
        .select(
            "id",
            "chunk_idx",
            F.conv(F.substring(F.md5("chunk_text"), 1, 15), 16, 10)
            .cast("long")
            .alias("chunk_hash"),
            "n_tokens",
        )
    )


def winnow_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 8,
    w: int = 4,
    max_df: int = 10,
    min_shared: int = 2,
) -> DataFrame:
    """Near-dup candidate pairs by SHARED WINNOWING FINGERPRINTS — the
    MOSS pair-mining step over :func:`operators.text.winnow_fingerprints`:
    two documents sharing ≥ ``min_shared`` selected fingerprints share
    (with the winnowing guarantee) substrings of length ≥ k, localized —
    the positional complement to MinHash-LSH's whole-document candidates.

    The join is BANDED, never all-pairs: fingerprints whose document
    frequency exceeds ``max_df`` are dropped first (MOSS's "ignore
    fingerprints in too many submissions" rule — boilerplate n-grams
    would otherwise pair everything with everything, the same hot-bucket
    pathology LSH banding caps), so the self-join fan-out per fingerprint
    is ≤ max_df², and total candidate volume is Σ_fp df² ≤ max_df·Σdf —
    linear in the fingerprint stream.

    Output: ``(id_a, id_b, n_shared)`` with id_a < id_b, ordered.

    Scale: fingerprinting is per-document map+window work; the df cap is
    one count aggregate over fingerprint VALUES; the pair join shuffles
    the capped fingerprint table on fp — bounded fan-out by construction.
    """
    from .text import winnow_fingerprints

    fps = winnow_fingerprints(docs, id_col, text_col, k=k, w=w).select(
        "id", "fp"
    ).distinct()
    df_counts = fps.groupBy("fp").agg(F.count("*").cast("long").alias("df"))
    kept = fps.join(
        df_counts.where(F.col("df") <= max_df).select("fp"), "fp"
    )
    a = kept.select(F.col("fp"), F.col("id").alias("id_a"))
    b = kept.select(F.col("fp"), F.col("id").alias("id_b"))
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
        .orderBy("id_a", "id_b")
    )


def simhash64(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, sh_hi, sh_lo) — 64-bit sign-aggregated fingerprint as two
    32-bit halves.

    The 32-bit :func:`simhash` saturates on large corpora: with 2³²
    distinct codes and millions of documents, unrelated documents start
    colliding within small Hamming radii (birthday pressure), so radius
    joins over it mine noise at 100 TB scale.  The 64-bit variant doubles
    the code length — per-bit votes come from BOTH 32-bit halves of the
    shingle's md5 (chars 1-8 → bits 0..31, chars 9-16 → bits 32..63),
    engine-portable exactly like shingle_hash32.

    Stored as two non-negative 32-bit halves in BIGINTs (never one
    64-bit long): bit 63 would make a packed long negative, and signed
    overflow semantics are the kind of cross-engine trap the repo's
    parity rules exist to avoid.  Hamming distance over the pair is
    ``bit_count(xor(hi)) + bit_count(xor(lo))`` — identical algebra on
    both engines.

    One groupBy(id) with 64 branch-free conditional sums, map-side
    combined; the shuffle carries 65 longs per document, never text.
    ``shingles``: optional pre-built :func:`shingle_table`.
    """
    if shingles is None:
        shingles = shingle_table(df, id_col, text_col)
    ex = shingles.select(
        "id",
        F.col("h").alias("hh"),  # md5 chars 1-8 (same 32 bits as simhash)
        F.conv(F.substring(F.md5("shingle"), 9, 8), 16, 10)
        .cast("long")
        .alias("hl"),
    )
    sums = [
        F.sum(F.shiftright(F.col(src), i).bitwiseAND(F.lit(1))).alias(
            f"{src}b{i}"
        )
        for src in ("hh", "hl")
        for i in range(32)
    ]
    agg = ex.groupBy("id").agg(*sums, F.count("*").alias("n"))

    def _half(src: str) -> Column:
        fp = None
        for i in range(32):
            bit = F.when(
                F.col(f"{src}b{i}") * 2 > F.col("n"),
                F.lit(1 << i).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            fp = bit if fp is None else fp + bit
        return fp

    return agg.select(
        "id", _half("hh").alias("sh_hi"), _half("hl").alias("sh_lo")
    )


def hamming64_pairs(
    sh: DataFrame,
    radius: int = 3,
    max_band_df: int | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs within Hamming distance ≤ ``radius``
    over 64-bit simhash codes — the multi-index trick (Manku, Jain &
    Das Sarma, WWW'07 §3, applied to web-crawl simhash dedup at Google):
    split the 64 bits into FOUR 16-bit bands used as equi-join keys; by
    pigeonhole, ≤ 3 flipped bits cannot touch all 4 bands, so every pair
    within radius 3 shares at least one EXACT band — candidate
    generation is a plain hash join on (band, value), never all-pairs,
    and the true distance check after the join makes the result exact.

    ``radius`` must be ≤ 3: at radius 4 the pigeonhole guarantee breaks
    (one flip per band) and silently missing pairs is precisely the kind
    of quiet wrongness this repo rejects — callers wanting r ≥ 4 need
    more/narrower bands (C(4,2)=6 pairs of 16-bit bands for r ≤ 7, etc.),
    a different operator.

    ``max_band_df``: optional hot-bucket cap — band values shared by
    more than this many documents are dropped BEFORE the self-join (the
    same boilerplate guard as winnow_pairs' MOSS df cap: a million-doc
    template cluster would otherwise fan out quadratically in one
    bucket).  Pairs pruned this way are overwhelmingly real duplicates
    of a mega-cluster whose membership is better mined by exact_dedup;
    the cap trades them for a Σ df² ≤ max_band_df·Σdf bound.  None = no
    cap (exact within radius).

    Scale: 4 narrow rows per document (id, band, value, hi, lo); one
    shuffle on (band, value); AQE handles residual skew.  The distinct
    at the end dedups pairs found via several shared bands.
    """
    if not 1 <= radius <= 3:
        raise ValueError(
            f"hamming64_pairs: radius={radius} outside [1, 3] — 4×16-bit "
            "bands only guarantee recall for radius <= 3 (pigeonhole)"
        )
    # cut_lineage: the code table is referenced THREE times (both join
    # sides + the band-df cap) — without the cut Spark re-runs the whole
    # upstream simhash pipeline (shingle explode + 64-sum aggregate) per
    # reference (measured 12 logical source scans in the plan);
    # materializing 3 longs/doc is free
    sh = cut_lineage(sh.select("id", "sh_hi", "sh_lo"))
    blocked = sh.select(
        "id",
        "sh_hi",
        "sh_lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("blk"),
                        F.shiftright(F.col(col), shift)
                        .bitwiseAND(F.lit(65535))
                        .alias("val"),
                    )
                    for k, (col, shift) in enumerate(
                        [("sh_hi", 16), ("sh_hi", 0), ("sh_lo", 16), ("sh_lo", 0)]
                    )
                ]
            )
        ).alias("b"),
    ).select(
        "id", "sh_hi", "sh_lo", F.col("b.blk").alias("blk"), F.col("b.val").alias("val")
    )
    if max_band_df is not None:
        band_df = blocked.groupBy("blk", "val").agg(
            F.count("*").cast("long").alias("df")
        )
        blocked = blocked.join(
            band_df.where(F.col("df") <= max_band_df).select("blk", "val"),
            ["blk", "val"],
        )
    a, b = blocked.alias("a"), blocked.alias("b")
    ham = (
        F.bit_count(F.col("a.sh_hi").bitwiseXOR(F.col("b.sh_hi")))
        + F.bit_count(F.col("a.sh_lo").bitwiseXOR(F.col("b.sh_lo")))
    )
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .where(ham <= radius)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )


def _dup_span_islands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    L: int,
    min_occurrences: int,
):
    """Shared machinery of the ExactSubstr pair
    (:func:`duplicated_span_coverage` measures, :func:`despan_rewrite`
    deletes): tokenize, emit L-gram start postings as 60-bit hashes,
    find grams with >= min_occurrences corpus-wide occurrences, merge
    the duplicated start positions into disjoint maximal spans per doc.

    Returns ``(toks, islands)`` — toks (id, toks, n_toks) lineage-cut,
    islands (id, island, start, cov) with cov = covered token count;
    islands are DISJOINT by construction (a new island only begins when
    the gap exceeds L, so consecutive covers cannot overlap).
    """
    toks, starts = _token_postings(df, id_col, text_col, L)
    dup_g = (
        starts.groupBy("g")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= int(min_occurrences))
        .select("g")
    )
    dup_pos = starts.join(dup_g, "g", "left_semi").select("id", "pos")
    return toks, _islands_from_positions(dup_pos, L)


def _token_postings(df: DataFrame, id_col: str, text_col: str, L: int):
    """Tokenize + L-gram start postings as 60-bit hashes: returns
    ``(toks, starts)`` — toks (id, toks, n_toks) and starts
    (id, pos, g), both lineage-cut (each feeds >= 2 references
    downstream in every caller)."""
    toks = cut_lineage(
        df.select(
            F.col(id_col).alias("id"), normalize(text_col).alias("norm_t")
        )
        .withColumn("toks", F.split(F.col("norm_t"), " "))
        .select(
            "id", F.col("toks"), F.size("toks").cast("long").alias("n_toks")
        )
    )
    starts = toks.select(
        "id",
        F.explode(
            F.expr(
                f"if(size(toks) < {L}, array(),"
                f" transform(sequence(1, size(toks) - {L - 1}),"
                f" i -> struct(cast(i as bigint) as pos,"
                f"   cast(conv(substring(md5(array_join(slice(toks, i, {L}),"
                f" ' ')), 1, 15), 16, 10) as bigint) as g)))"
            )
        ).alias("sg"),
    ).select("id", "sg.pos", "sg.g")
    return toks, cut_lineage(starts)


def _islands_from_positions(dup_pos: DataFrame, L: int) -> DataFrame:
    """Merge marked L-gram start positions (id, pos) into disjoint
    maximal spans (id, island, start, cov) by interval union — the
    gaps-and-islands shape, windows partitioned per doc."""
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy("pos")
    return (
        dup_pos.withColumn(
            "brk",
            F.when(
                F.col("pos") - F.lag("pos").over(w) > F.lit(L), F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "island",
            F.sum("brk").over(
                Window.partitionBy("id")
                .orderBy("pos")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("id", "island")
        .agg(
            F.min("pos").alias("start"),
            (F.max("pos") - F.min("pos") + F.lit(L)).alias("cov"),
        )
    )


def duplicated_span_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_tokens: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Per-document EXACT-substring duplication coverage at SPAN
    granularity — the distributed re-expression of Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better",
    ExactSubstr): their suffix-array pass marks every token inside a
    substring of >= L tokens that occurs twice anywhere in the corpus;
    this operator computes the same token cover via the L-gram identity
    (a substring of >= L tokens repeats iff ALL of its L-grams repeat,
    so the union of repeated-L-gram extents equals — up to gram-boundary
    slack < L at span edges — the union of repeated substrings) without
    ever materializing a suffix array, which does not distribute.

    Pipeline, all built-ins:
      1. one explode of L-gram START positions (pos, 60-bit md5 gram
         hash) — the shuffle carries (id, pos, hash), never gram text;
      2. global occurrence counts per hash; grams with
         >= ``min_occurrences`` occurrences (within-doc repeats count,
         exactly as ExactSubstr's suffix array does) are "duplicated";
      3. per document, duplicated start positions merge into MAXIMAL
         spans by interval union: start pos covers tokens
         [pos, pos+L-1], so a gap of more than L tokens between
         consecutive duplicated starts breaks the span (lag + running
         sum — the gaps-and-islands shape, window partitioned by doc);
      4. per-doc rollup joined back to every document (docs with no
         duplicated span report zeros).

    Output per document: ``(doc_id, n_toks, n_spans, dup_tokens,
    max_span_tokens, dup_permille)`` — dup_tokens is the EXACT size of
    the covered-token union (spans are disjoint after the merge),
    dup_permille = dup_tokens·1000 div n_toks is the per-doc removal
    fraction Lee et al. report (their Fig. 2).

    Scale: the only corpus-sized shuffles are the gram-hash groupBy
    (map-side combined: counts, not postings) and the posting semi-join
    on the 8-byte hash; windows are per-document.  The 60-bit hash makes
    a false gram collision ~n²/2⁶¹ — at 10⁹ grams ~0.3 expected extra
    "duplicated" grams corpus-wide, each inflating one doc's cover by
    <= L tokens; the oracle derives identical hashes so parity is exact
    regardless.
    """
    toks, isl = _dup_span_islands(
        df, id_col, text_col, int(n_tokens), int(min_occurrences)
    )
    per_doc = isl.groupBy("id").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum("cov").cast("long").alias("dup_tokens"),
        F.max("cov").cast("long").alias("max_span_tokens"),
    )
    return (
        toks.select("id", "n_toks")
        .join(per_doc, "id", "left")
        .select(
            F.col("id"),
            "n_toks",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.coalesce("max_span_tokens", F.lit(0))
            .cast("long")
            .alias("max_span_tokens"),
            F.expr(
                "coalesce(dup_tokens, 0) * 1000 div greatest(n_toks, 1)"
            ).alias("dup_permille"),
        )
    )


def despan_rewrite(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_tokens: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """The DELETION half of Lee et al. 2021's ExactSubstr pipeline —
    :func:`duplicated_span_coverage` measures duplicated-span cover;
    this operator REMOVES it and rebuilds the cleaned corpus (their §3:
    drop every token inside a duplicated substring, keep the rest in
    order), the step that actually shrinks a training set.

    Pipeline past the shared span machinery (:func:`_dup_span_islands`):
      1. covered positions: each disjoint island (start, cov) explodes
         into its token positions — islands never overlap, so no
         distinct is needed;
      2. kept tokens: posexplode the token array, ANTI-join covered
         positions on (id, pos);
      3. ordered rebuild: per doc, tokens re-assemble sorted by position
         (collect_list order is non-deterministic under parallel merge —
         array_sort on (pos, tok) structs pins it) into the cleaned
         text; docs whose every token was covered rebuild to ''.

    Output per document: ``(id, n_toks, n_kept, clean_md5)`` — the md5
    of the rebuilt text rather than the text itself, so the gate's rows
    stay narrow while still proving byte-exact reconstruction against
    the oracle's string_agg rebuild.

    Scale: the heavy stages are the shared posting pass plus ONE
    posexplode + anti-join (shuffle keyed on (id, pos) — co-partitioned
    with the covered side); the rebuild groupBy carries each kept token
    once.  At 100 TB the rebuilt text would be written to a corpus sink
    instead of hashed — same plan minus the md5.
    """
    L = int(n_tokens)
    toks, isl = _dup_span_islands(
        df, id_col, text_col, L, int(min_occurrences)
    )
    covered = isl.select(
        "id",
        F.explode(
            F.expr("sequence(start, start + cov - 1)")
        ).alias("pos"),
    )
    kept = (
        toks.select(
            "id",
            F.posexplode("toks").alias("p0", "tok"),
        )
        .select("id", (F.col("p0") + 1).cast("long").alias("pos"), "tok")
        .join(covered, ["id", "pos"], "left_anti")
    )
    rebuilt = kept.groupBy("id").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, tok))),"
            " x -> x.tok), ' ')"
        ).alias("clean"),
    )
    return (
        toks.select("id", "n_toks")
        .join(rebuilt, "id", "left")
        .select(
            "id",
            "n_toks",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.md5(F.coalesce("clean", F.lit(""))).alias("clean_md5"),
        )
    )


def contamination_spans(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str,
    n_tokens: int = 13,
) -> DataFrame:
    """SPAN-level benchmark decontamination scan — the n-gram-overlap
    rule every large LM training run applies before eval (GPT-3
    appendix C used 13-gram collisions; PaLM, Llama and the rest kept
    the recipe): mark every corpus token inside an ``n_tokens``-gram
    that also occurs ANYWHERE in the benchmark/eval table, merge marked
    positions into maximal spans, and report per-document contaminated
    coverage.  The span-granular sibling of doc-level
    gates/dedup.py contamination (which flags whole docs on
    any shared shingle): this one measures HOW MUCH of each document is
    benchmark text, which is what the removal decision actually needs.

    Pipeline: benchmark side reduces to its DISTINCT 60-bit gram-hash
    set (no ids, no positions — the smallest possible probe table);
    corpus postings semi-join it; islands/coverage identical to
    :func:`duplicated_span_coverage` (shared `_token_postings` +
    `_islands_from_positions`).

    Output per corpus document: ``(id, n_toks, n_spans, contam_tokens,
    max_span_tokens, contam_permille)`` — every document present, zeros
    when clean.

    Scale: the benchmark gram set is typically millions of rows (eval
    suites are small) — it broadcasts into the semi-join, so the ONLY
    corpus-sized work is the posting explode + a broadcast-semi-join
    probe; no shuffle of the corpus at all when the bench side fits,
    and a plain hash semi-join when it doesn't.  60-bit hashes: a false
    collision marks <= L extra tokens in one doc at ~n_corpus·n_bench/2⁶¹
    expected occurrences; the oracle hashes identically so parity is
    exact regardless.
    """
    L = int(n_tokens)
    toks, starts = _token_postings(corpus, id_col, text_col, L)
    # the bench side reduces to a gram SET — its row identity is
    # irrelevant, so a constant id keeps the operator agnostic to the
    # benchmark table's schema
    b = bench.select(
        F.lit(0).cast("long").alias("__bid"), F.col(bench_text_col)
    )
    _, bstarts = _token_postings(b, "__bid", bench_text_col, L)
    bench_g = bstarts.select("g").distinct()
    hit_pos = starts.join(bench_g, "g", "left_semi").select("id", "pos")
    isl = _islands_from_positions(hit_pos, L)
    per_doc = isl.groupBy("id").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum("cov").cast("long").alias("contam_tokens"),
        F.max("cov").cast("long").alias("max_span_tokens"),
    )
    return (
        toks.select("id", "n_toks")
        .join(per_doc, "id", "left")
        .select(
            "id",
            "n_toks",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("contam_tokens", F.lit(0))
            .cast("long")
            .alias("contam_tokens"),
            F.coalesce("max_span_tokens", F.lit(0))
            .cast("long")
            .alias("max_span_tokens"),
            F.expr(
                "coalesce(contam_tokens, 0) * 1000 div greatest(n_toks, 1)"
            ).alias("contam_permille"),
        )
    )
