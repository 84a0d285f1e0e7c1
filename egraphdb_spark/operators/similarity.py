"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — exact, a single scan + sort, the
correctness oracle for every approximate variant.

Scale path: IVF (inverted-file) bucketing — assign each vector to its
nearest anchor (map-side vs a broadcast anchor list), persist bucketed by
anchor id, probe only the query's nearest bucket(s).  At 100 TB the anchors
come from a k-means sample and the probe prunes partitions; here anchors
are a deterministic prefix of the table so the DuckDB oracle can replicate
bucket assignment exactly.

All vector math is `zip_with`/`aggregate` over array<double> — JVM
expressions, no Python; sequential fold order makes values bit-identical
across engines.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Column, functions as F

from .checkpoint import cut_lineage


def _round_half_up(x: float, ndigits: int = 9) -> float:
    """Driver-side decimal rounding matching Spark's F.round / SQL round.

    Python's builtin ``round`` is banker's (half-even) and DOES diverge
    from half-up on exact decimal ties reachable from dyadic doubles
    (e.g. 1/1024 = 0.0009765625 → ...62.5 ties at 9dp: half-even 976562,
    half-up 976563).  ``Decimal(repr(x))`` mirrors Scala's
    ``BigDecimal(double)`` shortest-repr conversion, so this matches the
    JVM-side F.round bit-for-bit.
    """
    import decimal

    q = decimal.Decimal(1).scaleb(-ndigits)
    return float(
        decimal.Decimal(repr(float(x))).quantize(q, rounding=decimal.ROUND_HALF_UP)
    )


def _as_double(vec_col: str | Column) -> Column:
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return c.cast("array<double>")


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two array<double> columns (sequential fold).

    Zero vectors get cosine 0.0 by convention — an unguarded division
    crashes under Spark's default ANSI mode (DIVIDE_BY_ZERO) and yields
    NaN in DuckDB, which DuckDB sorts ABOVE every real similarity; 0.0 is
    deterministic, identical on both engines, and ranks zero vectors last
    / below any positive threshold.  The SQL oracles carry the identical
    CASE guard (gates/similarity.py _cos_sql).
    """
    return _cos_pre(a, b, _norm(a), _norm(b))


def _norm(v: Column) -> Column:
    """L2 norm, sequential fold — the exact subexpression ``cosine`` uses."""
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def _cos_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine`` with the norms supplied as columns.

    Hoisting the norms to one column per row (instead of re-folding both
    arrays inside every pair evaluation) is the pair-join optimization:
    the arithmetic — same doubles, same sequential fold, same guard — is
    unchanged, so rounded values are bit-identical to ``cosine``.
    """
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return F.when(na * nb == F.lit(0.0), F.lit(0.0)).otherwise(dot / (na * nb))


def cosine_topk(
    emb: DataFrame, id_col: str, vec_col: str, query_vec: list[float], k: int
) -> DataFrame:
    """Exact brute-force top-k by cosine: (id, cosine), desc, id-asc ties.

    One scan, one global top-k (Spark's TakeOrderedAndProject — no full
    sort shuffle).  This is the baseline every ANN variant is judged by.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    c = F.round(cosine(_as_double(vec_col), q), 6)
    return (
        emb.select(F.col(id_col).alias("id"), c.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("id"))
        .limit(k)
    )


def ivf_assign(
    emb: DataFrame, id_col: str, vec_col: str, anchors: DataFrame
) -> DataFrame:
    """Assign each vector to its max-cosine anchor: (id, vec, anchor_id).

    ``anchors`` is a small (anchor_id, vec) DataFrame — broadcast; the
    assignment is a map-side broadcast join + an aggregating argmax.
    Deterministic tie-break: smallest anchor_id wins (encoded as
    ``max(struct(cos, -anchor_id))`` so the whole argmax is a partial
    aggregate — each task reduces its n·k scored rows to one row per id
    BEFORE the exchange, where the window-function formulation would
    sort-shuffle all n·k rows).  ``vec`` is constant within an id group,
    so ``first(vec)`` is deterministic here.
    """
    # single select (not select + withColumn): a second Project on top of
    # an upstream orderBy().limit() blocks CollapseProject (the cast would
    # be duplicated) and with it the TakeOrderedAndProject pattern — the
    # k-row anchor side would plan as a 2-Exchange global sort
    a = anchors.select(
        F.col("anchor_id"),
        _as_double("vec").alias("avec"),
        _norm(_as_double("vec")).alias("anorm"),
    )
    # norms hoisted to one column per vector / per anchor: the n·k scored
    # rows then evaluate only the dot product — same doubles, same fold
    # order, so the 9dp rounded cosine is bit-identical while the norm
    # flops drop from 2·n·k·d to (n + k)·d (guide §2.3 "don't recompute")
    scored = (
        emb.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("vec"))
        .withColumn("vnorm", _norm(F.col("vec")))
        .join(F.broadcast(a))
        .withColumn(
            "cos_a",
            F.round(
                _cos_pre(
                    F.col("vec"), F.col("avec"), F.col("vnorm"), F.col("anorm")
                ),
                9,
            ),
        )
    )
    best = F.max(F.struct(F.col("cos_a"), (-F.col("anchor_id")).alias("neg_anchor")))
    return (
        scored.groupBy("id")
        .agg(F.first("vec").alias("vec"), best.alias("b"))
        .select("id", "vec", (-F.col("b.neg_anchor")).alias("anchor_id"))
    )


def ivf_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    anchors: DataFrame,
    query_vec: list[float],
    k: int,
    n_probe: int = 1,
) -> DataFrame:
    """ANN top-k: probe the query's ``n_probe`` nearest anchor buckets only.

    Recall < 1 by design (that's the ANN trade); the probed fraction of the
    corpus is ~n_probe/n_anchors.  At scale the assignment is precomputed
    and the table is partitioned by anchor_id, so the probe is partition
    pruning — the scan touches 1/n_anchors of the data.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    probe = (
        anchors.select("anchor_id", _as_double("vec").alias("avec"))
        .select("anchor_id", F.round(cosine(F.col("avec"), q), 9).alias("cos_q"))
        .orderBy(F.col("cos_q").desc(), F.col("anchor_id"))
        .limit(n_probe)
        .select("anchor_id")
    )
    assigned = ivf_assign(emb, id_col, vec_col, anchors)
    bucket = assigned.join(F.broadcast(probe), "anchor_id")
    c = F.round(cosine(F.col("vec"), q), 6)
    return (
        bucket.select("id", c.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("id"))
        .limit(k)
    )


def _lcg_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1] from a fixed LCG —
    frozen constants, reproducible in any engine as literals."""
    state = 88172645463325252
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
            row.append(round((state / float(2**63)) * 2.0 - 1.0, 9))
        planes.append(row)
    return planes


def rhp_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH signature: bit j = sign(vec·plane_j) ≥ 0."""
    sig = F.lit(0)
    for j, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane]).cast("array<double>")
        dot = F.aggregate(
            F.zip_with(vec, p, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )
        sig = sig + F.when(dot >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return sig.cast("int")


def lsh_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int,
    n_planes: int = 8,
) -> DataFrame:
    """ANN top-k via random-hyperplane LSH: probe only the query's sign-
    signature bucket (expected corpus fraction 2^-n_planes), exact cosine
    within.  At scale the signature is a stored/partitioned column — the
    probe is partition pruning, like ivf_topk but data-independent (no
    anchors to fit, cheaper writes; lower recall near hyperplane borders).
    """
    planes = _lcg_planes(n_planes, len(query_vec))
    # query signature is a plain Python constant — engine-portable
    qsig = 0
    for j, plane in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, plane)) >= 0:
            qsig |= 1 << j
    v = emb.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("vec"))
    bucket = v.where(rhp_signature(F.col("vec"), planes) == qsig)
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    c = F.round(cosine(F.col("vec"), q), 6)
    return (
        bucket.select("id", c.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("id"))
        .limit(k)
    )


def probe_assign(
    emb: DataFrame, id_col: str, vec_col: str, anchors: DataFrame, n_probe: int
) -> DataFrame:
    """Top-``n_probe`` anchor assignment per vector: (id, vec, anchor_id).

    The query-side of multi-probe IVF — each vector lists the clusters it
    will search, not just the one it lives in.  Scoring is a map-side
    broadcast join (anchors are small); the top-n_probe cut is a window,
    but the input is pre-partitioned by id so the broadcast join PRESERVES
    that partitioning and the window adds NO second exchange — the only
    shuffle is the n-row repartition, never the n·m scored rows
    (asserted in tests/test_plans.py).
    """
    # single select — see ivf_assign: a stacked withColumn over the k-row
    # orderBy().limit() anchor table defeats TakeOrderedAndProject
    a = anchors.select(
        F.col("anchor_id"),
        _as_double("vec").alias("avec"),
        _norm(_as_double("vec")).alias("an"),
    )
    # norms hoisted per vector / per anchor (bit-identical; see ivf_assign)
    base = emb.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("vec")
    ).withColumn("vn", _norm(F.col("vec"))).repartition("id")
    scored = base.join(F.broadcast(a)).withColumn(
        "cos_a",
        F.round(
            _cos_pre(F.col("vec"), F.col("avec"), F.col("vn"), F.col("an")), 9
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(F.col("cos_a").desc(), F.col("anchor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= n_probe)
        .select("id", "vec", "anchor_id")
    )


def knn_graph(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    anchors: DataFrame,
    k: int,
    n_probe: int = 2,
    n_super: int | None = None,
) -> DataFrame:
    """Batch ANN kNN graph: every vector's top-``k`` neighbors at once.

    The whole-corpus analogue of the per-query top-k ladder — the building
    block for embedding-space graph ops (SemDeDup cluster seeds, graph
    dedup, label propagation over neighbors, diversity sampling).  An
    exact kNN graph is an n² join; the IVF-blocked form joins each
    vector's top-``n_probe`` probe clusters against the cluster members
    only, so candidate work is n·n_probe·cluster_size — LINEAR when the
    anchor count scales with the corpus (constant target cluster size,
    same discipline as SemDeDup; a fixed anchor count would be quadratic).

    With anchors ∝ n, brute-force ASSIGNMENT (score every anchor) is
    itself n·m = n²/cluster — pass ``n_super`` (≈ √m) to route it through
    a coarse quantizer, the standard two-level IVF shape: anchors map to
    their max-cosine super-anchor once (m·s work), each vector shortlists
    its top-``n_probe`` coarse cells (n·s) and scores only the anchors
    inside them (n·n_probe·m/s) — O(n·√m) total, measured 2.5× at 10×
    data where single-level was 13.6× (SCALE_PROBE.md).  One scored table
    yields both the probe list (rn ≤ n_probe) and the primary assignment
    (rn = 1), so nothing is scored twice; with ``n_super=None`` the
    single-level scoring is identical to probe_assign + ivf_assign.

    Shuffles: candidates hash by anchor_id (probe side n·n_probe rows,
    index side n rows), then the per-source top-k window hashes the
    candidate edges by id — both linear in candidates.  Directed output
    (id, nbr, cosine 6dp, rank 1..k); ties break on smaller nbr.
    """
    from pyspark.sql import Window

    from .checkpoint import cut_lineage

    # anchors are referenced by every scoring branch and are typically
    # DERIVED from the embeddings table (prefix_anchors/k-means) — the
    # cut stops each reference re-scanning the corpus for a tiny table
    # Norms are hoisted EVERYWHERE a pair is scored (one column per
    # vector / per anchor instead of a re-fold inside every pair
    # evaluation): same doubles, same sequential fold order, so every
    # rounded cosine is bit-identical while the scoring passes evaluate
    # only the dot product per pair (guide §2.3).
    a = cut_lineage(
        anchors.select(
            F.col("anchor_id"),
            _as_double("vec").alias("avec"),
            _norm(_as_double("vec")).alias("an"),
        )
    )
    base = emb.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("vec")
    ).withColumn("vn", _norm(F.col("vec"))).repartition("id")

    if n_super is None:
        scored = base.join(F.broadcast(a)).withColumn(
            "cos_a",
            F.round(
                _cos_pre(F.col("vec"), F.col("avec"), F.col("vn"), F.col("an")), 9
            ),
        )
    else:
        sup = (
            a.orderBy("anchor_id")
            .limit(n_super)
            .select(
                F.col("anchor_id").alias("super_id"),
                F.col("avec").alias("svec"),
                F.col("an").alias("sn"),
            )
        )
        # level 1: anchor → coarse cell (argmax over s supers; m·s work)
        best_s = F.max(
            F.struct(F.col("cos_s"), (-F.col("super_id")).alias("neg_super"))
        )
        a2s = (
            a.join(F.broadcast(sup))
            .withColumn(
                "cos_s",
                F.round(
                    _cos_pre(F.col("avec"), F.col("svec"), F.col("an"), F.col("sn")),
                    9,
                ),
            )
            .groupBy("anchor_id")
            .agg(
                F.first("avec").alias("avec"),
                F.first("an").alias("an"),
                best_s.alias("b"),
            )
            .select(
                "anchor_id", "avec", "an", (-F.col("b.neg_super")).alias("super_id")
            )
        )
        # level 2: vector → top-n_probe coarse cells (n·s work)
        w_s = Window.partitionBy("id").orderBy(
            F.col("cos_s").desc(), F.col("super_id")
        )
        v2s = (
            base.join(F.broadcast(sup))
            .withColumn(
                "cos_s",
                F.round(
                    _cos_pre(F.col("vec"), F.col("svec"), F.col("vn"), F.col("sn")),
                    9,
                ),
            )
            .withColumn("rn_s", F.row_number().over(w_s))
            .where(F.col("rn_s") <= n_probe)
            .select("id", "vec", "vn", "super_id")
        )
        # level 3: score only the anchors inside the shortlisted cells
        scored = v2s.join(F.broadcast(a2s), "super_id").withColumn(
            "cos_a",
            F.round(
                _cos_pre(F.col("vec"), F.col("avec"), F.col("vn"), F.col("an")), 9
            ),
        )

    w_a = Window.partitionBy("id").orderBy(F.col("cos_a").desc(), F.col("anchor_id"))
    # cut_lineage: assignments feeds BOTH the probe side and the primary
    # side of the candidate join — uncut, the entire assignment scoring
    # (every vector × every probed anchor) runs twice (8 embeddings
    # scans measured in the gate's plan).  `vn` (hoisted above) is the
    # same double the old per-row norm fold produced.
    assignments = (
        scored.withColumn("rn", F.row_number().over(w_a))
        .where(F.col("rn") <= n_probe)
        .select("id", "vec", "anchor_id", "rn", F.col("vn").alias("na"))
        .transform(cut_lineage)
    )
    probes = assignments
    primary = assignments.where(F.col("rn") == 1).select(
        F.col("id").alias("nbr"),
        F.col("vec").alias("nvec"),
        F.col("anchor_id"),
        F.col("na").alias("nb"),
    )
    cand = probes.join(primary, "anchor_id").where(F.col("id") != F.col("nbr"))
    dot = F.aggregate(
        F.zip_with(F.col("vec"), F.col("nvec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    den = F.col("na") * F.col("nb")
    cos = F.round(
        F.when(den == F.lit(0.0), F.lit(0.0)).otherwise(dot / den), 6
    )
    wk = Window.partitionBy("id").orderBy(F.col("cosine").desc(), F.col("nbr"))
    return (
        cand.select("id", "nbr", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(wk).cast("long"))
        .where(F.col("rank") <= k)
        .orderBy("id", "rank")
    )


def prefix_anchors(emb: DataFrame, id_col: str, vec_col: str, n: int) -> DataFrame:
    """Deterministic anchor set: the ``n`` smallest-id vectors.

    Stand-in for sampled k-means centroids — chosen so an external SQL
    oracle can reconstruct the identical anchor set.
    """
    return (
        emb.orderBy(F.col(id_col))
        .limit(n)
        .select(F.col(id_col).alias("anchor_id"), F.col(vec_col).alias("vec"))
    )


# Centroid quantization denominator.  Multiplying a float32-sourced double
# by a power of two is a pure exponent shift (no rounding), so
# floor(val * 2^20) is EXACT in any engine; integer sums are then
# order-independent, unlike double sums (partial-agg order varies) or
# double->decimal casts (Spark rounds ties HALF_UP, DuckDB half-to-even).
_CENTROID_Q = 1 << 20


def kmeans_anchors(
    emb: DataFrame, id_col: str, vec_col: str, n: int, iters: int = 2
) -> DataFrame:
    """Lloyd's k-means refinement of ``prefix_anchors`` — engine-exact.

    Per iteration: assign every vector to its max-cosine anchor (rounded
    9dp, smallest anchor_id breaks ties — same rule as ``ivf_assign``),
    then recompute each centroid as the component-wise mean via
    ``floor(val * 2^20)`` integer sums: mean = round(sum / (cnt * 2^20), 9).
    Empty clusters keep their previous centroid.  Fixed ``iters`` (no
    convergence test) so an external SQL oracle can unroll the exact same
    computation.

    Centroids collect to the driver each iteration — k*dim doubles, the
    standard distributed k-means shape (the big side never shuffles; each
    assignment pass is a broadcast join + partial-agg).  At 100 TB swap the
    long sums for decimal(38,0) to dodge overflow (2^63/2^20 ~ 8.8e12 rows
    per cluster with |val|<=1).
    """
    cur = {
        r["anchor_id"]: [float(x) for x in r["vec"]]
        for r in prefix_anchors(emb, id_col, vec_col, n).collect()
    }
    spark = emb.sparkSession
    base = emb.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("vec")
    ).transform(cut_lineage)  # scanned once per iteration
    for _ in range(iters):
        anchors = spark.createDataFrame(
            [(k, v) for k, v in sorted(cur.items())],
            "anchor_id long, vec array<double>",
        )
        assigned = ivf_assign(base, "id", "vec", anchors)
        # dim-wise column aggregates instead of posexplode: the explode
        # multiplies the corpus by dim before the hash-aggregate; element_at
        # sums evaluate the same floor(val*2^20) integer per component with
        # the rows un-exploded (same math, ~dim× fewer aggregate tuples)
        dim = len(next(iter(cur.values())))
        qsum = [
            F.sum(
                F.floor(
                    F.element_at("vec", i + 1) * float(_CENTROID_Q)
                ).cast("long")
            ).alias(f"s{i}")
            for i in range(dim)
        ]
        cent = assigned.groupBy("anchor_id").agg(*qsum, F.count("*").alias("c"))
        new = {}
        for r in cent.collect():
            c = r["c"] * _CENTROID_Q
            new[r["anchor_id"]] = [
                _round_half_up(r[f"s{i}"] / c, 9) for i in range(dim)
            ]
        cur = {aid: new.get(aid, vec) for aid, vec in cur.items()}
    return spark.createDataFrame(
        [(k, v) for k, v in sorted(cur.items())],
        "anchor_id long, vec array<double>",
    )


def quantize_int8(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"):
    """Per-vector symmetric-range int8 quantization — the storage/transfer
    compression step of an embedding pipeline (4× smaller than float32,
    16× smaller than float64; ANN candidate generation runs fine on codes).

    code_i = round((v_i - mn) * 254 / (mx - mn)) - 127  ∈ [-127, 127]

    Emitted evidence is integer-only (codes digest + extrema + the scale
    floored to millionths), so the result is bit-comparable across engines:
    the only float ops are (v - mn) * 254 / span on non-negative values with
    identical evaluation order, and round() on a non-negative domain agrees
    between HALF_UP and half-away-from-zero.

    Degenerate constant vectors (span = 0) map to code 0 everywhere.
    """
    v = _as_double(vec_col)
    mn, mx = F.array_min(v), F.array_max(v)
    span = mx - mn
    codes = F.when(span == 0, F.transform(v, lambda x: F.lit(0).cast("long"))).otherwise(
        F.transform(v, lambda x: F.round((x - mn) * 254 / span).cast("long") - 127)
    )
    return emb.select(
        F.col(id_col),
        F.size(v).cast("long").alias("n_dims"),
        F.aggregate(codes, F.lit(0).cast("long"), lambda a, c: a + c).alias("code_sum"),
        F.aggregate(
            codes, F.lit(0).cast("long"), lambda a, c: a + c * c
        ).alias("code_sq_sum"),
        F.array_min(codes).cast("long").alias("code_min"),
        F.array_max(codes).cast("long").alias("code_max"),
        F.floor(mn * 1000000).cast("long").alias("mn_millionths"),
        F.floor(span * 1000000).cast("long").alias("span_millionths"),
    )


def label_centroids(
    emb: DataFrame, id_col: str, vec_col: str, label_col: str
) -> DataFrame:
    """(label, pos, mean_q, n_vectors) — per-class centroid components in
    floor(val·2^20) fixed point, mean_q = sum div n (integer division).

    The class-profile summary of a labeled embedding table (per-domain /
    per-cluster centroids for drift monitoring, centroid-seeded ANN, or
    class-balanced sampling).  All arithmetic is integer, so any engine
    reproduces it bit-for-bit.  Scale: groupBy(label) with per-dimension
    element_at sums — partial-aggregated, no explode, shuffle carries
    dim longs per label per map task.
    """
    first = emb.select(F.size(_as_double(vec_col)).alias("d")).first()
    dim = first["d"] if first else 0
    v = _as_double(vec_col)
    sums = [
        F.sum(
            F.floor(F.element_at(v, i + 1) * float(_CENTROID_Q)).cast("long")
        ).alias(f"s{i}")
        for i in range(dim)
    ]
    agg = emb.groupBy(F.col(label_col).alias("label")).agg(
        *sums, F.count("*").alias("n_vectors")
    )
    # floor(s/n), NOT `s div n`: div truncates toward zero while the oracle
    # needs floor semantics on negative sums.  The double division is safe:
    # a non-integer quotient sits ≥ 1/n away from any integer, far above
    # double's ~ulp error at this magnitude, and exact-integer quotients
    # are representable exactly.
    comps = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("pos"),
                F.floor(F.col(f"s{i}") / F.col("n_vectors")).cast("long").alias("mean_q"),
            )
            for i in range(dim)
        ]
    )
    return (
        agg.select("label", "n_vectors", F.explode(comps).alias("c"))
        .select(
            "label",
            F.col("c.pos").alias("pos"),
            F.col("c.mean_q").alias("mean_q"),
            "n_vectors",
        )
    )


def pq_codes(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_subspaces: int = 8,
    n_centroids: int = 16,
) -> DataFrame:
    """Product-quantization code assignment: (id, m, code, dist_q).

    PQ is the memory-scale path for billion-vector ANN (Jégou et al. 2011):
    split each vector into M subspaces, quantize each subvector to its
    nearest per-subspace centroid, store M small codes (here 8×4 bits =
    4 B/vector vs 512 B float64).  Centroids are the subvectors of the
    ``n_centroids`` smallest-id vectors (the deterministic prefix-anchor
    convention every ANN operator here uses, so an external SQL oracle can
    rebuild the codebook bit-for-bit; production swaps in sampled k-means
    per subspace — kmeans_anchors already provides the refinement loop).

    code = argmin squared-L2 distance, rounded 9dp, centroid id as the
    tie-break; dist_q = that distance in floor(d·2^20) fixed point so the
    gate compares integers.  Scale: the codebook (M·K subvectors)
    broadcasts; assignment is one narrow explode (M rows per vector) + a
    per-(id, m) argmin — shuffle carries M rows per vector, nothing
    quadratic.
    """
    sub_dim_row = emb.select(F.size(_as_double(vec_col)).alias("d")).first()
    dim = sub_dim_row["d"]
    if dim % n_subspaces != 0:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces} subspaces")
    sd = dim // n_subspaces

    prefix = (
        emb.orderBy(F.col(id_col))
        .limit(n_centroids)
        .select(F.col(id_col).alias("cid"), _as_double(vec_col).alias("v"))
        .collect()
    )
    spark = emb.sparkSession
    codebook = spark.createDataFrame(
        [
            (m, int(r["cid"]), [float(x) for x in r["v"][m * sd : (m + 1) * sd]])
            for m in range(n_subspaces)
            for r in prefix
        ],
        "m int, cid long, cvec array<double>",
    )

    v = _as_double(vec_col)
    subs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(v, m * sd + 1, sd).alias("sv"),
            )
            for m in range(n_subspaces)
        ]
    )
    exploded = emb.select(
        F.col(id_col).alias("id"), F.explode(subs).alias("s")
    ).select("id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))

    d2 = F.round(
        F.aggregate(
            F.zip_with(F.col("sv"), F.col("cvec"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        9,
    )
    from pyspark.sql import Window as W

    scored = exploded.join(F.broadcast(codebook), "m").withColumn("d2", d2)
    w = W.partitionBy("id", "m").orderBy(F.col("d2"), F.col("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "id",
            F.col("m").cast("long").alias("m"),
            F.col("cid").alias("code"),
            F.floor(F.col("d2") * float(_CENTROID_Q)).cast("long").alias("dist_q"),
        )
    )


def _pq_query_lut(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    n_subspaces: int,
    n_centroids: int,
) -> DataFrame:
    """Query-side ADC lookup table: (m, code, qd) — fixed-point squared-L2
    from each query subvector to each codebook subvector.  M·K rows,
    driver-built (the codebook prefix is a bounded collect) and broadcast.
    Fixed-point recipe matches pq_codes: HALF-UP round 9dp (builtin round
    is half-even and diverges on dyadic ties, e.g. 1/1024), then an exact
    exponent shift+floor."""
    sd = len(query_vec) // n_subspaces
    prefix = (
        emb.orderBy(F.col(id_col))
        .limit(n_centroids)
        .select(F.col(id_col).alias("cid"), _as_double(vec_col).alias("v"))
        .collect()
    )
    lut_rows = []
    for m in range(n_subspaces):
        qs = query_vec[m * sd : (m + 1) * sd]
        for r in prefix:
            cv = [float(x) for x in r["v"][m * sd : (m + 1) * sd]]
            d = 0.0
            for a, b in zip(qs, cv):
                d = d + (a - b) * (a - b)
            lut_rows.append(
                (m, int(r["cid"]), int(math.floor(_round_half_up(d, 9) * _CENTROID_Q)))
            )
    return emb.sparkSession.createDataFrame(lut_rows, "m long, code long, qd long")


def pq_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    n_candidates: int = 32,
    n_subspaces: int = 8,
    n_centroids: int = 16,
) -> DataFrame:
    """PQ-ANN top-k: asymmetric-distance candidate generation over the
    4-bit codes, exact cosine re-rank of the best ``n_candidates``.

    The standard two-stage PQ search (Jégou et al. 2011): per subspace the
    query precomputes a K-entry lookup table of squared-L2 distances to
    the codebook; a vector's approximate distance is the sum of its M
    table entries — scanning CODES (4 B/vector), not vectors.  The exact
    re-rank touches full vectors only for the candidate set.

    LUT entries are floor(d·2^20) fixed point, so the integer candidate
    scores are engine-exact; re-rank reuses the 6dp cosine convention.
    Scale: the LUT (M·K ints) broadcasts; candidate generation is one
    groupBy(id) over M rows/vector; re-rank is a semi-join-pruned scan.
    """
    codes = pq_codes(emb, id_col, vec_col, n_subspaces, n_centroids)
    lut = _pq_query_lut(emb, id_col, vec_col, query_vec, n_subspaces, n_centroids)

    approx = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .groupBy("id")
        .agg(F.sum("qd").alias("approx_d"))
        .orderBy("approx_d", "id")
        .limit(n_candidates)
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    cand = emb.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("vec")
    ).join(F.broadcast(approx.select("id")), "id", "left_semi")
    c = F.round(cosine(F.col("vec"), q), 6)
    return (
        cand.select("id", c.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("id"))
        .limit(k)
    )


def ivfpq_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    anchors: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 1,
    n_candidates: int = 32,
    n_subspaces: int = 8,
    n_centroids: int = 16,
) -> DataFrame:
    """IVF+PQ top-k — the production billion-vector ANN composition
    (FAISS IVFPQ; Jégou et al. 2011 §IV): the inverted file restricts the
    scan to the query's ``n_probe`` buckets, PQ asymmetric distance scores
    those buckets' CODES (4 B/vector) with integer LUT sums, and only the
    best ``n_candidates`` are re-ranked with exact cosine on full vectors.

    Composes the two already-proven stages: bucket restriction from
    ``ivf_topk`` (probed fraction ≈ n_probe/n_anchors) and ADC scoring
    from ``pq_topk``.  Here the bucket cut is a join against the
    assignment (shuffle by id, linear); at scale the codes table is
    PERSISTED partitioned by anchor_id, so the probe becomes partition
    pruning — the scan reads n_probe/n_anchors of a 4 B/vector file, the
    smallest possible I/O for the recall.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    probe = (
        anchors.select("anchor_id", _as_double("vec").alias("avec"))
        .select("anchor_id", F.round(cosine(F.col("avec"), q), 9).alias("cos_q"))
        .orderBy(F.col("cos_q").desc(), F.col("anchor_id"))
        .limit(n_probe)
        .select("anchor_id")
    )
    assigned = ivf_assign(emb, id_col, vec_col, anchors).select("id", "anchor_id")
    codes = pq_codes(emb, id_col, vec_col, n_subspaces, n_centroids)
    bucket_codes = codes.join(assigned, "id").join(F.broadcast(probe), "anchor_id")
    lut = _pq_query_lut(emb, id_col, vec_col, query_vec, n_subspaces, n_centroids)
    approx = (
        bucket_codes.join(F.broadcast(lut), ["m", "code"])
        .groupBy("id")
        .agg(F.sum("qd").alias("approx_d"))
        .orderBy("approx_d", "id")
        .limit(n_candidates)
    )
    cand = emb.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("vec")
    ).join(F.broadcast(approx.select("id")), "id", "left_semi")
    c = F.round(cosine(F.col("vec"), q), 6)
    return (
        cand.select("id", c.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("id"))
        .limit(k)
    )


# --------------------------------------------------------------------------
# PCA by integer power iteration — dimensionality analysis for embeddings
# --------------------------------------------------------------------------

_PCA_Q = 1 << 20  # fixed-point scale for moments, covariance, and vectors


def _moment_partials(d: int, s: float):
    """Per-task quantized Gram + mean partial sums for :func:`pca_power`.

    Emits, once per task: the upper triangle (i ≤ j) of
    Σ_rows floor((x_i·x_j)·s) as int64, plus one row per dimension with
    j = −1 carrying Σ_rows floor(x_i·s), and the task's row count ``n``.
    Every float op matches the SQL/explode formulation exactly —
    (x_i·x_j) then ·s, IEEE doubles, floor — and int64 addition is
    associative, so downstream SUMs of these partials are bit-identical
    to the global per-(i, j) sums.  Rows are processed in bounded chunks
    so the (chunk, d, d) outer-product block stays small.
    """

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        acc = np.zeros((d, d), dtype=np.int64)
        acc_m = np.zeros(d, dtype=np.int64)
        n = 0
        for batch in batches:
            col = batch.column(0)
            if len(col) == 0:
                continue
            flat = np.asarray(col.flatten(), dtype=np.float64)
            x = flat.reshape(-1, d)
            n += x.shape[0]
            for lo in range(0, x.shape[0], 512):
                blk = x[lo:lo + 512]
                prod = blk[:, :, None] * blk[:, None, :]
                acc += np.floor(prod * s).astype(np.int64).sum(axis=0)
            acc_m += np.floor(x * s).astype(np.int64).sum(axis=0)
        if n == 0:
            return
        iu, ju = np.triu_indices(d)
        out_i = np.concatenate([iu, np.arange(d)]).astype(np.int32)
        out_j = np.concatenate([ju, np.full(d, -1)]).astype(np.int32)
        out_s = np.concatenate([acc[iu, ju], acc_m])
        out_n = np.full(out_i.shape[0], n, dtype=np.int64)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(out_i, type=pa.int32()),
                pa.array(out_j, type=pa.int32()),
                pa.array(out_s, type=pa.int64()),
                pa.array(out_n, type=pa.int64()),
            ],
            names=["i", "j", "s", "n"],
        )

    return fn


def pca_power(
    emb: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 4,
) -> DataFrame:
    """Dominant principal component of the embedding table by fixed-point
    power iteration — the analysis step before whitening / anisotropy
    diagnosis ("is this embedding space collapsing to one direction?").

    Distributed part (the only O(n) work): one scan aggregating the d×d
    second-moment matrix and the d means, every per-row product quantized
    floor(x_i·x_j·2²⁰) BEFORE summation — integer-exact under any
    aggregation order.  The d×d covariance then iterates v ← C·v entirely
    in BIGINT arithmetic (matvec, rescale `div 2²⁰`, L2-normalize back to
    the 2²⁰ scale with one correctly-rounded sqrt per round), so every
    engine — and the unrolled SQL oracle — lands on bit-identical
    components.  Truncating division (`div` ≡ DuckDB `//`) is part of the
    contract; quantization noise is ~2⁻²⁰ per entry, irrelevant to the
    direction (pytest ties it to numpy's eigh within 1e-3).

    Output: (i, v_q, last_norm) — component i of the dominant eigenvector
    in 2²⁰ fixed point, plus the final pre-normalization norm (≈ the
    dominant eigenvalue in the same scale, since ‖v‖ is kept at 2²⁰).

    Scale: the moment aggregate explodes d·(d+1)/2 products per vector —
    at 100 TB you'd swap the explode for per-partition BLAS Gram matrices
    via mapInPandas (same quantize-then-sum contract); the iteration
    itself touches only d² rows regardless of corpus size.
    """
    S = _PCA_Q
    d = dim
    v = _as_double(vec_col)
    # dimension guard: ANSI element_at THROWS on short vectors (DuckDB
    # yields NULL) — malformed rows must be excluded, not crash the scan
    base = emb.select(v.alias("x")).where(F.size("x") == d)
    # Second moments + means in ONE Arrow pass (guide §4.2, and this
    # docstring's own 100 TB plan): each task folds its rows into a d×d
    # int64 Gram accumulator with NumPy — floor((x_i·x_j)·2²⁰) per row
    # element, the IDENTICAL IEEE product order and floor the explode
    # formulation evaluated, summed in int64 (associative, so partial
    # sums per task then a 2080-group aggregate reproduce the global
    # sums bit-for-bit).  The old shape exploded d·(d+1)/2 structs per
    # row through a hash aggregate — ~2080× the aggregate input rows.
    # materialized once: the tiny partial table feeds the moment
    # aggregate AND the means aggregate — uncut, the corpus-sized Arrow
    # pass would run once per consumer
    parts = cut_lineage(
        base.mapInArrow(
            _moment_partials(d, float(S)), "i int, j int, s long, n long"
        )
    )
    sm_up = parts.where(F.col("j") >= 0).groupBy("i", "j").agg(
        F.sum("s").alias("s_xy"), F.sum("n").alias("n")
    )
    sm = sm_up.unionByName(
        sm_up.where(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"),
            F.col("s_xy"), F.col("n"),
        )
    )
    means = (
        parts.where(F.col("j") == -1)
        .groupBy("i")
        .agg(F.sum("s").alias("s_x"))
    )
    # n is constant; fold it into the mean tables via a broadcast 1-row agg
    nrow = sm_up.agg(F.max("n").alias("n"))
    mi = means.crossJoin(F.broadcast(nrow)).select(
        F.col("i").alias("_mi"), F.expr("s_x div n").alias("m_i")
    )
    mj = means.crossJoin(F.broadcast(nrow)).select(
        F.col("i").alias("_mj"), F.expr("s_x div n").alias("m_j")
    )
    cov = (
        sm.join(F.broadcast(mi), F.col("i") == F.col("_mi"))
        .join(F.broadcast(mj), F.col("j") == F.col("_mj"))
        .select(
            "i",
            "j",
            F.expr(f"s_xy div n - (m_i * m_j) div {S}").alias("c_q"),
        )
        .transform(cut_lineage)
    )
    # v0 = ones at scale S; iterate v <- normalize(C·v)
    spark = emb.sparkSession
    vcur = spark.range(d).select(
        F.col("id").cast("int").alias("vi"), F.lit(S).cast("long").alias("v_q")
    )
    last_norm = None
    for _ in range(iters):
        mv = (
            cov.join(F.broadcast(vcur), F.col("j") == F.col("vi"))
            .groupBy("i")
            .agg(F.sum(F.col("c_q") * F.col("v_q")).alias("acc"))
            .select("i", F.expr(f"acc div {S}").alias("w"))
        )
        norm = mv.agg(
            F.floor(F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")))
            .cast("long")
            .alias("nv")
        )
        vcur = (
            mv.crossJoin(F.broadcast(norm))
            .select(
                F.col("i").alias("vi"),
                F.expr(f"(w * {S}) div nullif(nv, 0)").cast("long").alias("v_q"),
            )
            .transform(cut_lineage)
        )
        last_norm = norm
    return (
        vcur.crossJoin(F.broadcast(last_norm))
        .select(
            F.col("vi").cast("long").alias("i"),
            F.col("v_q"),
            F.col("nv").alias("last_norm"),
        )
    )


def _pca_oracle_ctes(
    table: str = "embeddings",
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 4,
) -> tuple[str, str, str]:
    """The unrolled CTE chain shared by the PCA oracle and compositions on
    top of it (ABTT projection).  Returns (cte_text_without_WITH,
    final_vector_cte, final_norm_cte)."""
    S = _PCA_Q
    d = dim
    head = f"""
WITH base AS (
  SELECT list_transform({vec_col}, e -> CAST(e AS DOUBLE)) AS x FROM {table}
  WHERE len({vec_col}) = {dim}
),
tri AS (
  SELECT CAST(t.i AS INT) AS i, CAST(u.j AS INT) AS j,
         CAST(floor(x[CAST(t.i + 1 AS INT)] * x[CAST(u.j + 1 AS INT)]
              * {float(S)!r}) AS BIGINT) AS q
  FROM base, unnest(range(0, {d})) AS t(i), unnest(range(t.i, {d})) AS u(j)
),
sm_up AS (SELECT i, j, CAST(sum(q) AS BIGINT) AS s_xy, count(*) AS n FROM tri GROUP BY i, j),
sm AS (
  SELECT i, j, s_xy, n FROM sm_up
  UNION ALL
  SELECT j, i, s_xy, n FROM sm_up WHERE i <> j
),
means AS (
  SELECT CAST(t.i AS INT) AS i,
         CAST(sum(CAST(floor(x[CAST(t.i + 1 AS INT)] * {float(S)!r}) AS BIGINT))
              AS BIGINT) AS s_x
  FROM base, unnest(range(0, {d})) AS t(i) GROUP BY t.i
),
nrow AS (SELECT max(n) AS n FROM sm_up),
m AS (SELECT i, s_x // n AS mu FROM means, nrow),
cov AS (
  SELECT sm.i, sm.j, s_xy // sm.n - (a.mu * b.mu) // {S} AS c_q
  FROM sm JOIN m a ON a.i = sm.i JOIN m b ON b.i = sm.j
),
v0 AS (SELECT CAST(t.i AS INT) AS vi, CAST({S} AS BIGINT) AS v_q FROM unnest(range(0, {d})) AS t(i))"""
    body = ""
    prev = "v0"
    for r in range(iters):
        body += f""",
mv{r} AS (
  SELECT cov.i, CAST(sum(c_q * v_q) AS BIGINT) // {S} AS w
  FROM cov JOIN {prev} ON {prev}.vi = cov.j GROUP BY cov.i
),
nm{r} AS (SELECT CAST(floor(sqrt(CAST(sum(w * w) AS DOUBLE))) AS BIGINT) AS nv FROM mv{r}),
v{r + 1} AS (
  SELECT i AS vi, CAST((w * {S}) // nullif(nv, 0) AS BIGINT) AS v_q
  FROM mv{r}, nm{r}
)"""
        prev = f"v{r + 1}"
    return head.lstrip("\n").removeprefix("WITH ") + body, prev, f"nm{iters - 1}"


def pca_power_oracle_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 4,
) -> str:
    """Unrolled SQL mirror of :func:`pca_power` (same fixed point, same
    truncating division, same per-round sqrt)."""
    ctes, vfin, nfin = _pca_oracle_ctes(table, vec_col, dim, iters)
    return f"""
WITH {ctes}
SELECT CAST(vi AS BIGINT) AS i, v_q, nv AS last_norm
FROM {vfin}, {nfin}
"""


def abtt_project(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 4,
    k: int = 50,
) -> DataFrame:
    """All-But-The-Top diagnosis (Mu & Viswanath '18): project every
    embedding onto the corpus's dominant principal component and surface
    the ``k`` most-affected vectors — the rows you'd correct (x − c·v) to
    undo anisotropy before cosine retrieval.

    Composes :func:`pca_power`: the 64-row fixed-point component v_q
    broadcasts against a posexplode of the table; each term floor(x_i·v_q,i)
    is one IEEE multiply (long→double promotion is exact below 2⁵³) and the
    per-vector sum is integer — bit-identical to the SQL oracle's identical
    composition.  Output: (id, c_q, proj_abs) for the top-k by |projection|
    (2²⁰-scaled fixed point).

    Scale: the projection pass is one narrow explode + map-side-combined
    sum keyed by id (linear); the component itself is d rows regardless of
    corpus size; top-k is TakeOrdered.
    """
    v = pca_power(emb, vec_col, dim=dim, iters=iters).select("i", "v_q")
    comps = emb.where(F.size(_as_double(vec_col)) == dim).select(
        F.col(id_col).alias("id"),
        F.posexplode(_as_double(vec_col)).alias("pos", "xi"),
    )
    proj = (
        comps.join(F.broadcast(v), comps["pos"] == v["i"])
        .groupBy("id")
        .agg(
            F.sum(F.floor(F.col("xi") * F.col("v_q")).cast("long")).alias("c_q")
        )
    )
    return (
        proj.select("id", "c_q", F.abs("c_q").alias("proj_abs"))
        .orderBy(F.desc("proj_abs"), "id")
        .limit(k)
    )


def abtt_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 4,
    k: int = 50,
) -> str:
    """DuckDB mirror of :func:`abtt_project` — the PCA CTE chain plus the
    identical projection composition."""
    ctes, vfin, _ = _pca_oracle_ctes(table, vec_col, dim, iters)
    return f"""
WITH {ctes},
base_id AS (
  SELECT {id_col} AS id, list_transform({vec_col}, e -> CAST(e AS DOUBLE)) AS x
  FROM {table} WHERE len({vec_col}) = {dim}
),
comps AS (
  SELECT id, CAST(t.i AS INT) AS pos, x[CAST(t.i + 1 AS INT)] AS xi
  FROM base_id, unnest(range(0, {dim})) AS t(i)
),
proj AS (
  SELECT id, CAST(sum(CAST(floor(xi * v_q) AS BIGINT)) AS BIGINT) AS c_q
  FROM comps JOIN {vfin} ON {vfin}.vi = comps.pos GROUP BY id
)
SELECT id, c_q, abs(c_q) AS proj_abs
FROM proj ORDER BY proj_abs DESC, id LIMIT {int(k)}
"""


def label_outliers(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 20,
) -> DataFrame:
    """Suspected label errors: the ``k`` embeddings FARTHEST from their own
    class centroid — the standard first-pass mislabel/contamination scan
    over a labeled embedding table (confident-learning's cheap cousin;
    rows surfaced here go to re-annotation).

    Composes :func:`label_centroids`: the labels×dim integer centroid
    table broadcasts against a posexplode of the vectors; each term is
    ``floor((x_i − mean_q/2²⁰)²·2²⁰)`` — ``mean_q/2²⁰`` is a dyadic
    rational (exact in binary), the difference and square are single IEEE
    ops, and the per-vector distance is an integer sum: bit-identical on
    any engine.  Output: (id, label, dist_q) for the top-k by
    (dist_q desc, id).

    Scale: one narrow explode + a broadcast join + a map-side-combined
    sum per vector; top-k is TakeOrdered.  The centroid table is
    |labels|·dim rows regardless of corpus size.
    """
    cent = label_centroids(emb, id_col, vec_col, label_col).select(
        F.col("label").alias("_cl"), "pos", "mean_q"
    )
    comps = emb.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        F.posexplode(_as_double(vec_col)).alias("pos", "xi"),
    )
    S = float(_CENTROID_Q)
    scored = comps.join(
        F.broadcast(cent),
        (comps["label"] == cent["_cl"]) & (comps["pos"] == cent["pos"]),
    ).withColumn(
        "contrib_q",
        F.expr(f"cast(floor((xi - mean_q / {S!r}) * (xi - mean_q / {S!r}) * {S!r}) as bigint)"),
    )
    return (
        scored.groupBy("id", "label")
        .agg(F.sum("contrib_q").alias("dist_q"))
        .orderBy(F.desc("dist_q"), "id")
        .limit(k)
    )


def truncated_recall(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    dims: tuple[int, ...],
    k: int = 10,
) -> DataFrame:
    """Matryoshka-style truncation evaluation (Kusupati et al. '22): how
    much of the full-dimension cosine top-k survives when vectors are cut
    to their FIRST d components — the measurement behind serving
    embeddings at a fraction of their stored width (shorter vectors =
    proportionally less scan I/O and ANN memory).

    One row per requested dimension: ``(dim, n_hits, recall_permille)``
    against the full-width exact top-k.  Including the full width itself
    yields a self-validating recall=1000 row.

    Scale: each dimension is one linear scan + global top-k
    (TakeOrderedAndProject — k rows per partition to the driver, no sort
    shuffle); |dims| scans total, embarrassingly parallel, no joins on
    the big side.
    """
    from .checkpoint import cut_lineage

    # cut_lineage: the k-row exact top-k is joined against once PER
    # dimension — uncut, the full-width scoring scan re-runs |dims| times
    full = cut_lineage(
        cosine_topk(emb, id_col, vec_col, query_vec, k).select("id")
    )
    out = None
    for d in dims:
        q = F.array(*[F.lit(float(x)) for x in query_vec[:d]]).cast(
            "array<double>"
        )
        c = F.round(cosine(F.slice(_as_double(vec_col), 1, d), q), 6)
        topd = (
            emb.select(F.col(id_col).alias("id"), c.alias("cos"))
            .orderBy(F.col("cos").desc(), F.col("id"))
            .limit(k)
            .select("id")
        )
        hits = (
            full.join(topd, "id")
            .agg(F.count("*").cast("long").alias("n_hits"))
            .select(
                F.lit(int(d)).cast("long").alias("dim"),
                F.col("n_hits"),
                F.expr(f"n_hits * 1000 div {int(k)}").alias(
                    "recall_permille"
                ),
            )
        )
        out = hits if out is None else out.unionByName(hits)
    return out.orderBy("dim")


def mips_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    n_anchors: int,
    k: int = 10,
    n_probe: int = 1,
) -> DataFrame:
    """Maximum-inner-product top-k via the norm-augmentation reduction
    (Bachrach et al., RecSys '14): append sqrt(M² − |x|²) to every corpus
    vector and 0 to the query — inner-product order over the originals
    becomes cosine order over the augmented vectors, so the SAME IVF
    index machinery that serves cosine ANN serves MIPS (the
    recommendation-serving case: user vector × un-normalized item
    embeddings, where popular items legitimately have bigger norms and
    cosine ANN would erase that signal).

    Composition: one max-norm aggregate (broadcast scalar) → augmented
    frame → :func:`prefix_anchors` + :func:`ivf_assign` on the augmented
    vectors → probe the query's bucket(s) → exact RAW DOT re-rank inside.
    Scale: identical to ivf_topk — assignment precomputed/partitioned by
    anchor at 100 TB, probe = partition pruning.
    """
    v = _as_double(vec_col)
    n2 = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    m2 = emb.agg(F.max(n2).alias("m2"))
    from .checkpoint import cut_lineage

    # aug feeds three consumers (anchors, assignment, re-rank join) —
    # materialize once or each reference re-scans the corpus and re-runs
    # the max-norm aggregate
    aug = emb.crossJoin(F.broadcast(m2)).select(
        F.col(id_col).alias("id"),
        v.alias("vec"),
        F.concat(
            v, F.array(F.sqrt(F.greatest(F.lit(0.0), F.col("m2") - n2)))
        ).alias("avec"),
    ).transform(cut_lineage)
    anchors = prefix_anchors(aug, "id", "avec", n_anchors)
    aq = F.array(
        *[F.lit(float(x)) for x in list(query_vec) + [0.0]]
    ).cast("array<double>")
    probe = (
        anchors.select(
            "anchor_id",
            F.round(cosine(_as_double("vec"), aq), 9).alias("cos_q"),
        )
        .orderBy(F.col("cos_q").desc(), F.col("anchor_id"))
        .limit(n_probe)
        .select("anchor_id")
    )
    assigned = ivf_assign(aug.select("id", "avec"), "id", "avec", anchors)
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    dot = F.round(
        F.aggregate(
            F.zip_with(F.col("vec"), q, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    return (
        assigned.drop("vec")  # augmented copy; re-rank wants the original
        .join(F.broadcast(probe), "anchor_id")
        .join(aug.select("id", F.col("vec")), "id")
        .select("id", dot.alias("dot"))
        .orderBy(F.col("dot").desc(), F.col("id"))
        .limit(k)
    )


def embedding_drift(
    ref: DataFrame, cur: DataFrame, vec_col: str
) -> DataFrame:
    """Distribution drift between two embedding snapshots — the monitor a
    training pipeline runs when a new corpus generation or encoder lands:
    ``(n_ref, n_cur, centroid_cos, centroid_l2_micro)`` — cosine between
    the two mean vectors (1.0 = no directional drift) and the L2 distance
    between them in integer micro-units.

    Determinism: per-dimension coordinates are quantized
    (floor(x·2²⁰) — a pure exponent shift, exact) and summed as integers
    (order-free); the closing cosine/L2 is one fixed-order fold over the
    dim-sorted sum arrays, so both engines agree bit-for-bit.  Shuffle:
    one (side, dim)-keyed aggregate — 2·d rows out however big the
    corpus.
    """
    def sums(df: DataFrame, tag: str) -> DataFrame:
        q = F.explode(
            F.expr(
                f"transform({vec_col}, (x, i) ->"
                f" struct(i AS dim, cast(floor(cast(x as double) * {_CENTROID_Q})"
                " as bigint) AS qx))"
            )
        ).alias("e")
        return (
            df.select(q)
            .select("e.dim", "e.qx")
            .groupBy("dim")
            .agg(F.sum("qx").alias(f"s_{tag}"))
        )

    nr = ref.agg(F.count("*").cast("long").alias("n_ref"))
    nc = cur.agg(F.count("*").cast("long").alias("n_cur"))
    j = sums(ref, "a").join(sums(cur, "b"), "dim")
    arrs = j.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, s_a))), x -> cast(x.s_a as double))"
        ).alias("va"),
        F.expr(
            "transform(array_sort(collect_list(struct(dim, s_b))), x -> cast(x.s_b as double))"
        ).alias("vb"),
    )
    out = arrs.crossJoin(F.broadcast(nr)).crossJoin(F.broadcast(nc))
    # mean vectors: va/(Q·n_ref), vb/(Q·n_cur); cosine is scale-invariant
    # so it folds the raw sum arrays; L2 needs the scaling.
    l2 = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("va"), F.col("vb"),
                lambda a, b: (
                    a / (F.lit(float(_CENTROID_Q)) * F.col("n_ref"))
                    - b / (F.lit(float(_CENTROID_Q)) * F.col("n_cur"))
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    return out.select(
        "n_ref", "n_cur",
        F.round(cosine(F.col("va"), F.col("vb")), 6).alias("centroid_cos"),
        F.floor(l2 * 1000000.0).cast("long").alias("centroid_l2_micro"),
    )


def kcenter_coreset(
    emb: DataFrame, id_col: str, vec_col: str, k: int = 8
) -> DataFrame:
    """Greedy k-center coreset (farthest-point-first — Gonzalez '85
    2-approximation; Sener & Savarese ICLR'18 as the data-curation /
    active-learning selection rule): pick the smallest-id point as the
    seed, then k−1 times pick the point FARTHEST (cosine distance) from
    everything already chosen — the diversity-maximizing subset used to
    seed clusterings, pick annotation batches, and build eval coresets.

    Per round, each point's running distance-to-selected-set is updated
    with one ``least`` against the new center (narrow map), and the next
    center is one global argmax (TakeOrderedAndProject — no sort
    shuffle; ties break to the smallest id).  The only driver transfer
    is ONE ROW PER ROUND (the selected center) — the bounded-collect
    centroid class of kmeans_anchors, k rows total, never data-sized.
    Distances are round(1 − cosine, 6) with the family's sequential-fold
    recipe, so the SQL oracle replays selection bit-for-bit.

    Output: ``(rank, id, dist)`` for the k selected points, rank
    ascending; dist = distance to the previously-selected set at
    selection time (NULL for the unconditional seed).

    NULL/empty vectors are filtered up front — a farthest-point distance
    to a missing vector is undefined, and a NULL cosine would otherwise
    surface as an opaque TypeError at the per-round collect.  A NULL
    dmin that still slips through (e.g. a dimension mismatch making the
    dot product NULL) raises ValueError with the offending id.
    """
    spark = emb.sparkSession
    v = emb.select(
        F.col(id_col).cast("long").alias("id"), _as_double(vec_col).alias("vec")
    ).where(F.col("vec").isNotNull() & (F.size("vec") > 0))
    seed_rows = v.orderBy("id").limit(1).collect()
    if not seed_rows:
        return spark.createDataFrame([], "rank long, id long, dist double")
    seed = seed_rows[0]

    def _lit_vec(xs) -> Column:
        return F.array(*[F.lit(float(x)) for x in xs]).cast("array<double>")

    chosen: list[tuple[int, int, float | None]] = [(0, seed.id, None)]
    # the row-vector norm is hoisted ONCE into the materialized frame —
    # every round's distance update then folds only the dot product
    # (k rounds × n rows × d norm flops saved; same doubles, same order,
    # so the 6dp rounded distances are bit-identical)
    v = v.withColumn("vn", _norm(F.col("vec")))
    cur = v.withColumn(
        "dmin",
        F.round(
            F.lit(1.0)
            - _cos_pre(
                F.col("vec"), _lit_vec(seed.vec), F.col("vn"), _norm(_lit_vec(seed.vec))
            ),
            6,
        ),
    ).transform(cut_lineage)
    for r in range(1, k):
        top = (
            cur.where(~F.col("id").isin([c[1] for c in chosen]))
            .orderBy(F.col("dmin").desc(), F.col("id"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        t = top[0]
        if t.dmin is None:
            raise ValueError(
                f"kcenter_coreset: NULL distance for id={t.id} — "
                "check vector dimensions are consistent across rows"
            )
        chosen.append((r, t.id, float(t.dmin)))
        cur = cur.withColumn(
            "dmin",
            F.least(
                "dmin",
                F.round(
                    F.lit(1.0)
                    - _cos_pre(
                        F.col("vec"),
                        _lit_vec(t.vec),
                        F.col("vn"),
                        _norm(_lit_vec(t.vec)),
                    ),
                    6,
                ),
            ),
        ).transform(cut_lineage)
    return spark.createDataFrame(chosen, "rank long, id long, dist double")
