"""Dataset profiling and outlier treatment — the ANALYZE step of a pipeline.

Before a 100 TB corpus is joined, sampled, or trained on, you profile it:
per-column null rates, distinct counts, ranges — and you clip pathological
numeric tails (winsorization) so downstream statistics aren't dominated by
corrupt rows.  Both are single-scan aggregations here.

Scale notes:
  * `profile_columns` computes every metric for every column in ONE pass
    (one hash-aggregate, map-side combined; the unpivot to long form is a
    zero-cost projection of the single result row).  Exact NDV is the gate
    contract; at 100 TB swap `countDistinct` for the HLL sketch in
    operators/sketches.py column-by-column — same output schema.
  * `winsorize_stats` uses exact interpolated percentiles (Spark
    `percentile` ≡ DuckDB `quantile_cont`, bit-verified by the
    agg_percentile gate); at scale use `approx_percentile` with a bounded
    error — the clip logic is unchanged.  The two-row threshold frame is a
    broadcast; nothing but the one scan shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .checkpoint import cut_lineage


def profile_columns(
    df: DataFrame, numeric_cols: list[str], string_cols: list[str]
) -> DataFrame:
    """Long-form per-column profile: (column, n, n_null, ndv, min_num,
    max_num, min_str, max_str) — numeric mins/maxes rounded to 6dp, string
    ranges binary-collated (both engines' default)."""
    aggs = []
    for c in numeric_cols + string_cols:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__n"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nnull"),
            F.count_distinct(F.col(c)).alias(f"{c}__ndv"),
        ]
    for c in numeric_cols:
        aggs += [
            F.round(F.min(F.col(c).cast("double")), 6).alias(f"{c}__min"),
            F.round(F.max(F.col(c).cast("double")), 6).alias(f"{c}__max"),
        ]
    for c in string_cols:
        aggs += [F.min(c).alias(f"{c}__mins"), F.max(c).alias(f"{c}__maxs")]
    flat = df.agg(*aggs)

    def row(c: str, numeric: bool):
        return F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}__n").alias("n"),
            F.col(f"{c}__nnull").alias("n_null"),
            F.col(f"{c}__ndv").alias("ndv"),
            (F.col(f"{c}__min") if numeric else F.lit(None).cast("double")).alias("min_num"),
            (F.col(f"{c}__max") if numeric else F.lit(None).cast("double")).alias("max_num"),
            (F.lit(None).cast("string") if numeric else F.col(f"{c}__mins")).alias("min_str"),
            (F.lit(None).cast("string") if numeric else F.col(f"{c}__maxs")).alias("max_str"),
        )

    rows = [row(c, True) for c in numeric_cols] + [row(c, False) for c in string_cols]
    return flat.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


def mad_outliers(
    df: DataFrame, group_col: str, value_col: str, k: float = 3.0
) -> DataFrame:
    """Robust per-group outlier detection: flag values whose absolute
    deviation from the group MEDIAN exceeds ``k`` × the median absolute
    deviation (MAD).  Mean/stddev z-scores break down exactly when you
    need them (the outliers drag the mean); median/MAD have a 50%
    breakdown point — this is the ANALYZE-stage anomaly scan for metric
    streams and corrupt-row hunting.

    One summary row per group: n_events, med_micro / mad_micro /
    max_dev_micro (floor(·10⁶) BIGINT), n_outliers.

    Determinism: both medians ride the exact interpolated ``percentile``
    (≡ DuckDB ``quantile_cont``, bit-verified by the agg_percentile gate);
    dev = abs(v − med) is one IEEE op; the flag compares dev > k·mad with
    one multiply.  NULL values are excluded up front (Spark and DuckDB
    disagree on NULL sort placement, so they must never reach a rank).

    Scale: the source is read ONCE (the projected stream and the
    deviation stream are each materialized and re-read, not re-derived)
    plus two broadcast joins of |groups|-row stat tables; exact
    percentile buffers per-group values — at 100 TB swap
    ``approx_percentile`` (same shape, bounded error).
    """
    v = F.col(value_col)
    # base feeds the median pass AND the deviation pass, dev feeds the MAD
    # pass AND the final flag scan — materialize each once so the source
    # is read a single time, as the cost model below promises
    base = (
        df.where(v.isNotNull())
        .select(F.col(group_col).alias("g"), v.alias("v"))
        .transform(cut_lineage)
    )
    med = base.groupBy("g").agg(F.expr("percentile(v, 0.5)").alias("med"))
    dev = (
        base.join(F.broadcast(med), "g")
        .withColumn("dev", F.abs(F.col("v") - F.col("med")))
        .transform(cut_lineage)
    )
    mad = dev.groupBy("g").agg(F.expr("percentile(dev, 0.5)").alias("mad"))
    kf = F.lit(float(k))
    return (
        dev.join(F.broadcast(mad), "g")
        .groupBy("g")
        .agg(
            F.count("*").alias("n_events"),
            F.floor(F.min("med") * F.lit(1_000_000.0)).cast("long").alias("med_micro"),
            F.floor(F.min("mad") * F.lit(1_000_000.0)).cast("long").alias("mad_micro"),
            F.sum((F.col("dev") > kf * F.col("mad")).cast("long")).alias("n_outliers"),
            F.floor(F.max("dev") * F.lit(1_000_000.0))
            .cast("long")
            .alias("max_dev_micro"),
        )
        .withColumnRenamed("g", group_col)
    )


def mad_outliers_oracle_sql(
    table: str, group_col: str, value_col: str, k: float = 3.0
) -> str:
    """DuckDB mirror of :func:`mad_outliers` (quantile_cont ≡ percentile)."""
    return f"""
WITH base AS (
  SELECT {group_col} AS g, {value_col} AS v FROM {table}
  WHERE {value_col} IS NOT NULL
),
med AS (SELECT g, quantile_cont(v, 0.5) AS med FROM base GROUP BY g),
dev AS (SELECT base.g, v, med, abs(v - med) AS dev FROM base JOIN med USING (g)),
mad AS (SELECT g, quantile_cont(dev, 0.5) AS mad FROM dev GROUP BY g)
SELECT g AS {group_col}, count(*) AS n_events,
       CAST(floor(min(med) * 1000000.0) AS BIGINT) AS med_micro,
       CAST(floor(min(mad) * 1000000.0) AS BIGINT) AS mad_micro,
       CAST(sum(CASE WHEN dev > {float(k)!r} * mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       CAST(floor(max(dev) * 1000000.0) AS BIGINT) AS max_dev_micro
FROM dev JOIN mad USING (g) GROUP BY g
"""


def winsorize_stats(
    df: DataFrame, col: str, lo: float = 0.01, hi: float = 0.99
) -> DataFrame:
    """Clip ``col`` to its [lo, hi] percentile band; one summary row:
    (n, n_clip_low, n_clip_high, sum_clipped_cents, p_lo, p_hi).

    The clipped sum rides as integer cents (round(100·x) after clamping to
    the engine-identical percentile doubles) so it is order-free exact.
    """
    q = df.agg(
        F.expr(f"percentile({col}, {lo})").alias("p_lo"),
        F.expr(f"percentile({col}, {hi})").alias("p_hi"),
    )
    v = F.col(col)
    return (
        df.crossJoin(F.broadcast(q))
        .agg(
            F.count("*").alias("n"),
            F.sum((v < F.col("p_lo")).cast("long")).alias("n_clip_low"),
            F.sum((v > F.col("p_hi")).cast("long")).alias("n_clip_high"),
            F.sum(F.expr(f"cast(round(100 * (CASE WHEN {col} < p_lo THEN p_lo WHEN {col} > p_hi THEN p_hi ELSE {col} END)) as bigint)")).alias("sum_clipped_cents"),
            F.round(F.min("p_lo"), 6).alias("p_lo"),
            F.round(F.min("p_hi"), 6).alias("p_hi"),
        )
    )


def corr_regr_stats(df: DataFrame, group_col: str) -> DataFrame:
    """Pearson correlation + OLS slope/intercept per group from EXACT
    integer component sums.  ``df`` must carry BIGINT columns ``x`` and
    ``y`` (the caller owns quantization — e.g. whole-dollar money so Σy²
    stays far below the BIGINT ceiling at any SF).

    The six component sums (n, Σx, Σy, Σxy, Σx², Σy²) are integers —
    order-free exact under partial aggregation; the closing formulas are
    one fixed double-expression tree over those integers, identical on
    any engine.  Zero-variance groups yield NULL (not a divide crash).
    Output: (group, n_rows, corr_micro, slope_micro, icept_micro).
    """
    comps = df.groupBy(group_col).agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    return (
        comps.withColumn(
            "vx", F.expr("cast(n as double) * sxx - cast(sx as double) * sx")
        )
        .withColumn("vy", F.expr("cast(n as double) * syy - cast(sy as double) * sy"))
        .withColumn(
            "cnum", F.expr("cast(n as double) * sxy - cast(sx as double) * sy")
        )
        .select(
            group_col,
            F.col("n").alias("n_rows"),
            F.expr(
                "CASE WHEN vx > 0 AND vy > 0 THEN"
                " cast(floor(cnum / sqrt(vx * vy) * 1000000) as bigint)"
                " ELSE NULL END"
            ).alias("corr_micro"),
            F.expr(
                "CASE WHEN vx > 0 THEN"
                " cast(floor(cnum / vx * 1000000) as bigint) ELSE NULL END"
            ).alias("slope_micro"),
            F.expr(
                "CASE WHEN vx > 0 THEN"
                " cast(floor((sy - cnum / vx * sx) / n * 1000000) as bigint)"
                " ELSE NULL END"
            ).alias("icept_micro"),
        )
    )


def hill_alpha(df: DataFrame, value_col: str, xmin: int) -> DataFrame:
    """Hill estimator of the power-law tail exponent over an integer
    magnitude column (per-user activity, degree, doc length):

        α = 1 + n_tail / Σ_{x ≥ xmin} ln(x / xmin)

    the standard MLE for a Pareto tail (Clauset, Shalizi & Newman 2009,
    "Power-law distributions in empirical data").  Skew-profiling: α ≲ 2
    means the heaviest keys dominate sums (salting territory); α > 3
    means aggregates are effectively light-tailed.

    Determinism: per-row tail contributions floor-quantize ln(x/xmin) to
    integer micro-nats BEFORE the sum (order-free exact); the final α is
    one composed IEEE division of two aggregate scalars written in
    identical textual order in the SQL mirror, floor-quantized to micro
    units.  Rows with x ≥ xmin and x == xmin contribute ln(1) = 0 to the
    sum but count toward n_tail.  A tail whose every member equals xmin
    (s = 0) yields NULL alpha via nullif on both engines.

    Output (one row): n_rows, n_tail, tail_permille, s_micro,
    alpha_micro.  Scale: one map-side-combined aggregate over the
    magnitude column — no shuffle wider than the partial rows.
    """
    x = F.col(value_col)
    tail = F.when(x >= xmin, 1).otherwise(0)
    contrib = F.when(
        x >= xmin,
        F.expr(
            f"cast(floor(ln({value_col} / cast({int(xmin)} as double))"
            " * 1000000) as bigint)"
        ),
    ).otherwise(F.lit(0).cast("long"))
    agg = df.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(tail).cast("long").alias("n_tail"),
        F.sum(contrib).cast("long").alias("s_micro"),
    )
    return agg.select(
        "n_rows",
        "n_tail",
        F.expr("n_tail * 1000 div nullif(n_rows, 0)").alias("tail_permille"),
        "s_micro",
        F.expr(
            "cast(floor((cast(n_tail as double) * 1000000.0)"
            " / (nullif(s_micro, 0) / 1000000.0)) as bigint) + 1000000"
        ).alias("alpha_micro"),
    )


def benford_digits(df: DataFrame, cents_col: "F.Column") -> DataFrame:
    """First-significant-digit profile vs Benford's law — the classic
    anomaly screen for monetary / count columns (fabricated or truncated
    data drifts from log10(1+1/d); Nigrini '12).

    ``cents_col`` must be a positive BIGINT expression (quantize floats
    to cents FIRST — the leading digit is then taken from the engine's
    exact integer decimal rendering via ``substring(cast(x as string))``,
    which is identical on every engine, unlike float formatting).

    Output per digit 1..9: row count, observed permille ((n·1000) div
    total), and Benford's expected micro-probability — computed in BOTH
    engines as ``floor(1e6·ln(1+1/d)/ln(10))`` (ln is correctly rounded
    in the cross-engine trust base; the two-double division is composed
    identically).

    Scale: one projection + one 9-group aggregate; map-side combine
    leaves ≤9 rows per partition in the shuffle.
    """
    digits = df.select(
        F.substring(cents_col.cast("string"), 1, 1).cast("long").alias("digit")
    )
    out = (
        digits.groupBy("digit")
        .agg(F.count("*").cast("long").alias("n"))
        .select(
            "digit",
            "n",
            F.sum("n").over(Window.partitionBy()).alias("total"),
        )
        .select(
            "digit",
            "n",
            F.expr("n * 1000 div total").alias("permille"),
            F.expr(
                "cast(floor(1000000 * ln(1.0 + 1.0 / digit) / ln(10.0))"
                " as bigint)"
            ).alias("benford_micro"),
        )
        .orderBy("digit")
    )
    return out


def expectations_report(
    lineitem: DataFrame, orders: DataFrame
) -> DataFrame:
    """Data-quality expectations suite over the fact table — the
    Great-Expectations-style validation report a pipeline runs before
    promoting a drop: range checks, ordering invariants, and referential
    integrity, each as (rule, n_rows, n_violations, violation_permille).

    Shape: the four row-local rules are ONE conditional aggregate over a
    single scan (sums of when()-indicators, map-side combined), unpivoted
    with ``stack`` — not four scans.  The FK rule is a LEFT ANTI join of
    the fact keys against the dimension keys — the one rule that cannot
    be row-local; at scale it shuffles only the two key columns (or rides
    a broadcast when the dimension fits).
    """
    row_rules = lineitem.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(
            F.when(~F.col("l_quantity").between(1, 50), 1).otherwise(0)
        ).cast("long").alias("v_qty"),
        F.sum(
            F.when(~(F.col("l_extendedprice") > 0), 1).otherwise(0)
        ).cast("long").alias("v_price"),
        F.sum(
            F.when(~F.col("l_discount").between(0.0, 0.10), 1).otherwise(0)
        ).cast("long").alias("v_disc"),
        F.sum(
            F.when(~F.col("l_tax").between(0.0, 0.08), 1).otherwise(0)
        ).cast("long").alias("v_tax"),
        F.sum(
            F.when(
                ~F.col("l_shipdate").between(
                    "1992-01-01", "1998-12-31 23:59:59"
                ),
                1,
            ).otherwise(0)
        ).cast("long").alias("v_ship"),
    )
    fk = (
        lineitem.select("l_orderkey")
        .join(
            orders.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "left_anti",
        )
        .agg(F.count("*").cast("long").alias("v_fk"))
    )
    wide = row_rules.crossJoin(fk)  # two 1-row frames
    return (
        wide.select(
            F.expr(
                "stack(6,"
                " 'fk_orderkey_exists', v_fk,"
                " 'l_discount_in_0_0.10', v_disc,"
                " 'l_extendedprice_positive', v_price,"
                " 'l_quantity_in_1_50', v_qty,"
                " 'l_shipdate_in_1992_1998', v_ship,"
                " 'l_tax_in_0_0.08', v_tax"
                ") as (rule, n_violations)"
            ),
            "n_rows",
        )
        .select(
            "rule",
            "n_rows",
            # sum() over zero rows is NULL — an empty table has 0
            # violations, not unknown
            F.coalesce(F.col("n_violations"), F.lit(0).cast("long")).alias(
                "n_violations"
            ),
            # nullif: an empty fact table yields NULL permille instead of
            # DIVIDE_BY_ZERO under ANSI (mirrored in the oracle)
            F.expr("n_violations * 1000 div nullif(n_rows, 0)").alias(
                "violation_permille"
            ),
        )
        .orderBy("rule")
    )


def quantile_norm_map(
    df: DataFrame,
    group_col: str,
    value_col: str,
    n_q: int = 10,
) -> DataFrame:
    """Per-group → global quantile-normalization lookup table: for each
    group and quantile index d (1..n_q), the group's type-1 discrete
    d/n_q boundary and the global boundary it maps to.  Applying the map
    (an as-of join on a doc's within-group rank) rank-normalizes a score
    column across heterogeneous sources — the cross-source calibration
    step before mixing corpora scored by different pipelines.

    Quantiles are TYPE-1 DISCRETE in pure integer arithmetic
    (boundary_d = min v with 10·cum_count(x ≤ v) ≥ d·n) — the COVERAGE.md
    percentile addendum: interpolated percentiles of integer columns
    diverge between engines at non-dyadic fractions, discrete ranks
    cannot.

    Scale: cumulative counts run over DISTINCT values — per-group windows
    are partition-parallel; the GLOBAL cumulative uses the two-level
    prefix (pack_offsets discipline: unbounded window only over
    value-range bucket summaries, intra-bucket windows partitioned), so
    no single-partition pass over more than the bucket-summary row set.
    Boundary extraction explodes each distinct-value row into the ≤n_q
    quantile indices it bounds — output is |groups|·n_q rows.
    """
    from pyspark.sql import Window as W

    v, g = F.col(value_col), F.col(group_col)
    # ---- per-group cumulative over distinct values (partition-parallel)
    gh = df.select(g.alias("grp"), v.alias("v")).groupBy("grp", "v").agg(
        F.count("*").alias("c")
    )
    wg = (
        W.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    gcum = gh.select(
        "grp", "v", F.sum("c").over(wg).alias("cum"), F.col("c"),
        F.sum("c").over(W.partitionBy("grp")).alias("n"),
    ).select("grp", "v", "cum", (F.col("cum") - F.col("c")).alias("prev"), "n")
    src = (
        gcum.select(
            "grp",
            "v",
            F.explode(F.sequence(F.lit(1), F.lit(n_q))).alias("decile"),
            "cum",
            "prev",
            "n",
        )
        .where(
            (F.lit(n_q) * F.col("prev") < F.col("decile") * F.col("n"))
            & (F.col("decile") * F.col("n") <= F.lit(n_q) * F.col("cum"))
        )
        .select("grp", "decile", F.col("v").alias("src_hi"), "n")
    )
    # ---- global cumulative: two-level prefix over value buckets
    dv = df.select(v.alias("v")).groupBy("v").agg(F.count("*").alias("c"))
    dvb = dv.withColumn("b", F.expr("v div 1024"))
    wb = W.orderBy("b").rowsBetween(W.unboundedPreceding, -1)
    bt = (
        dvb.groupBy("b")
        .agg(F.sum("c").alias("bc"))
        .select("b", F.coalesce(F.sum("bc").over(wb), F.lit(0)).alias("pre"))
    )
    wi = (
        W.partitionBy("b")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    gl = (
        dvb.join(bt, "b")
        .select(
            "v",
            "c",
            (F.col("pre") + F.sum("c").over(wi)).alias("cum"),
        )
        .select("v", "cum", (F.col("cum") - F.col("c")).alias("prev"))
    )
    tot = dv.agg(F.sum("c").cast("long").alias("nt"))
    glob = (
        gl.crossJoin(F.broadcast(tot))
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(n_q))).alias("decile"),
            "v",
            "cum",
            "prev",
            "nt",
        )
        .where(
            (F.lit(n_q) * F.col("prev") < F.col("decile") * F.col("nt"))
            & (F.col("decile") * F.col("nt") <= F.lit(n_q) * F.col("cum"))
        )
        .select("decile", F.col("v").alias("glob_hi"))
    )
    return (
        src.join(F.broadcast(glob), "decile")
        .select(
            F.col("grp").alias(group_col),
            F.col("decile").cast("long").alias("decile"),
            F.col("n").cast("long").alias("n_rows"),
            F.col("src_hi").cast("long").alias("src_hi"),
            F.col("glob_hi").cast("long").alias("glob_hi"),
        )
        .orderBy(group_col, "decile")
    )


def dataset_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    group_col: str,
    size_col: str,
) -> DataFrame:
    """Release-to-release corpus drift report: per group, how many keys
    were added / removed / kept between two dataset snapshots, with the
    size mass moving each way — the diff a data-release pipeline prints
    before promoting a new drop.

    One FULL OUTER join on the key (the only shuffle; both sides prune
    to three columns), classified row-locally, then a tiny per-group
    conditional aggregate.  Output: (group, n_added, n_removed, n_kept,
    size_added, size_removed) — all BIGINT.  Group attribution for
    removed keys comes from the OLD side (they have no new row).
    """
    o = old.select(
        F.col(key_col).alias("k"),
        F.col(group_col).alias("og"),
        F.col(size_col).alias("osz"),
    )
    n = new.select(
        F.col(key_col).alias("k"),
        F.col(group_col).alias("ng"),
        F.col(size_col).alias("nsz"),
    )
    j = o.join(n, "k", "full_outer").select(
        F.coalesce(F.col("ng"), F.col("og")).alias("grp"),
        F.col("og").isNull().cast("int").alias("added"),
        F.col("ng").isNull().cast("int").alias("removed"),
        (F.col("og").isNotNull() & F.col("ng").isNotNull())
        .cast("int")
        .alias("kept"),
        F.when(F.col("og").isNull(), F.col("nsz")).otherwise(0).alias("sz_a"),
        F.when(F.col("ng").isNull(), F.col("osz")).otherwise(0).alias("sz_r"),
    )
    return (
        j.groupBy(F.col("grp").alias("grp_out"))
        .agg(
            F.sum("added").cast("long").alias("n_added"),
            F.sum("removed").cast("long").alias("n_removed"),
            F.sum("kept").cast("long").alias("n_kept"),
            F.sum("sz_a").cast("long").alias("size_added"),
            F.sum("sz_r").cast("long").alias("size_removed"),
        )
        .withColumnRenamed("grp_out", "grp")
        .orderBy("grp")
    )


def impute_median_stats(
    df: DataFrame, group_col: str, value_col: str, missing: Column
) -> DataFrame:
    """Per-group median imputation — the cleaning step between profiling
    (which found the holes) and training (which can't eat NULLs): values
    matching ``missing`` are replaced by their GROUP's median of the
    non-missing values.  One row per group: ``(group, n, n_missing,
    n_unfilled, median, sum_imputed_cents)`` — ``n_unfilled`` counts rows
    in groups with no observed value at all (nothing to impute from;
    they stay NULL rather than silently borrowing a global statistic).

    Scale: one per-group percentile aggregate (the exact-interpolation
    ``percentile`` ≡ DuckDB ``quantile_cont`` trust base) + one
    broadcast-or-shuffle join back — no window, no driver round-trip;
    the sum rides as integer cents so it is order-free exact.
    """
    g, v = F.col(group_col), F.col(value_col)
    base = df.select(
        g.alias("g"), F.when(~missing, v).alias("v")
    )
    med = (
        base.where(F.col("v").isNotNull())
        .groupBy("g")
        .agg(F.expr("percentile(v, 0.5)").alias("med"))
    )
    filled = base.join(med, "g", "left").withColumn(
        "fv", F.coalesce(F.col("v"), F.col("med"))
    )
    return (
        filled.groupBy("g")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("v").isNull().cast("long")).alias("n_missing"),
            F.sum(F.col("fv").isNull().cast("long")).alias("n_unfilled"),
            F.round(F.min("med"), 6).alias("median"),
            F.sum(F.expr("cast(round(100 * fv) as bigint)")).alias(
                "sum_imputed_cents"
            ),
        )
        .withColumnRenamed("g", group_col)
        .orderBy(group_col)
    )


def psi_drift(ref: DataFrame, cur: DataFrame, bucket: Column | str) -> DataFrame:
    """Population Stability Index between two corpus snapshots — the
    standard drift monitor run before a new crawl is admitted into the
    training mix (PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted).

        PSI = Σ_b (p_cur(b) − p_ref(b)) · ln(p_cur(b) / p_ref(b))

    with Laplace(+1) smoothing over the union bucket domain so buckets
    present on one side only stay finite.  Every per-bucket contribution
    is non-negative (the difference and the log share sign), so the
    determinism recipe is: evaluate one fixed double expression per
    bucket (exact integer counts → correctly-rounded divisions → one
    `ln`), then quantize to integer micro-units with floor(x·1e6 + 0.5)
    and sum the INTEGERS — the total is order-independent and hash-exact,
    no float accumulation anywhere.

    Output per bucket, ascending: ``(bucket, n_ref, n_cur,
    psi_contrib_micro, psi_total_micro)`` (the total carried per row so
    the frame is self-contained).

    Scale: two map-side-combined count aggregates (one per snapshot), a
    full-outer join on bucket, and two unpartitioned windows over the
    BUCKET table — safe because the bucket domain is bounded (bands,
    deciles, categories), never per-row.
    """
    b = F.col(bucket) if isinstance(bucket, str) else bucket
    r = ref.select(b.cast("long").alias("bucket")).groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_ref")
    )
    c = cur.select(b.cast("long").alias("bucket")).groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_cur")
    )
    joined = (
        r.join(c, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
        )
    )
    w = Window.partitionBy(F.lit(1))
    with_tot = joined.withColumns(
        {
            "nb": F.count("*").over(w).cast("long"),
            "tref": F.sum("n_ref").over(w).cast("long"),
            "tcur": F.sum("n_cur").over(w).cast("long"),
        }
    )
    # the ln argument multiplies counts as DOUBLEs, not bigints: with
    # per-bucket and total counts both large, the int64 product
    # (n_cur+1)*(tref+nb) wraps silently in non-ANSI Spark.  Each factor
    # is < 2^53 so it is exact in double, and double(a)*double(b) is the
    # same single rounding of the exact product that cast(a*b as double)
    # would be — identical bits, no overflow.  Oracle mirrors this
    # (gates/sketch_sample.py O_PROFILE_DRIFT_PSI).
    contrib = F.expr(
        "cast(floor(("
        "  (cast(n_cur + 1 as double) / cast(tcur + nb as double)"
        "   - cast(n_ref + 1 as double) / cast(tref + nb as double))"
        "  * ln((cast(n_cur + 1 as double) * cast(tref + nb as double))"
        "       / (cast(n_ref + 1 as double) * cast(tcur + nb as double)))"
        ") * 1000000.0 + 0.5) as bigint)"
    )
    per = with_tot.withColumn("psi_contrib_micro", contrib)
    return (
        per.withColumn(
            "psi_total_micro",
            F.sum("psi_contrib_micro").over(w).cast("long"),
        )
        .select(
            "bucket", "n_ref", "n_cur", "psi_contrib_micro", "psi_total_micro"
        )
        .orderBy("bucket")
    )


def ks_drift(ref: DataFrame, cur: DataFrame, bucket: Column | str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic over a bucketed
    feature — PSI's sibling monitor: where PSI weights every bucket's
    divergence, KS reports the single worst CDF gap

        D = max_b | F_ref(b) − F_cur(b) |

    and is the classic admission test for "did the new crawl shift the
    length / score / ppl distribution?".  Unlike PSI it needs no
    smoothing and no logarithm, so the whole statistic stays EXACT
    integer arithmetic: with cumulative counts c_ref(b), c_cur(b) and
    totals T_ref, T_cur,

        |F_ref − F_cur| = |c_ref·T_cur − c_cur·T_ref| / (T_ref·T_cur)

    — the cross-multiplied numerator is an exact integer, computed in
    128-bit (Spark DECIMAL(38,0) / DuckDB HUGEINT; both truncate their
    integer division and all operands are non-negative, the t-closeness
    recipe), so the gate is hash-exact with no float anywhere.

    Output per bucket, ascending: ``(bucket, n_ref, n_cur,
    ks_contrib_micro, ks_stat_micro)`` where ks_contrib_micro =
    (|c_ref·T_cur − c_cur·T_ref|·10⁶) div (T_ref·T_cur) and
    ks_stat_micro = max_b contrib, carried per row.  An EMPTY side (a
    zero total) is total drift by definition: every bucket reports 10⁶.

    NULL buckets (an unmeasurable feature) are EXCLUDED from both
    samples before counting: NULL keys never match in the full-outer
    join, so they would otherwise yield two separate NULL-bucket rows
    whose nondeterministic tie in the cumulative ORDER BY makes
    cref/ccur order-dependent.  Callers that want NULLs measured must
    coalesce to a sentinel bucket themselves; oracles mirror the
    exclusion.

    Scale: two map-side-combined count aggregates, a full-outer join on
    bucket, and ordered windows over the BUCKET table only — safe
    because the bucket domain is bounded (bands/deciles/categories),
    never per-row; input rows are never shuffled.
    """
    b = F.col(bucket) if isinstance(bucket, str) else bucket
    r = (
        ref.select(b.cast("long").alias("bucket"))
        .where(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_ref"))
    )
    c = (
        cur.select(b.cast("long").alias("bucket"))
        .where(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_cur"))
    )
    joined = r.join(c, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
        F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
    )
    wt = Window.partitionBy(F.lit(1))
    wc = (
        Window.partitionBy(F.lit(1))
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = joined.withColumns(
        {
            "tref": F.sum("n_ref").over(wt).cast("long"),
            "tcur": F.sum("n_cur").over(wt).cast("long"),
            "cref": F.sum("n_ref").over(wc).cast("long"),
            "ccur": F.sum("n_cur").over(wc).cast("long"),
        }
    )
    # an EMPTY side makes the denominator zero: Spark's decimal `div`
    # would return NULL where DuckDB's `//` raises — a divergence, not a
    # failure.  Comparing any non-empty sample to an empty one is total
    # drift by definition, so that case is pinned to 10⁶ explicitly
    # (identical CASE in the oracle).
    contrib = F.expr(
        "case when tref = 0 or tcur = 0 then cast(1000000 as bigint)"
        " else cast((abs(cast(cref as decimal(38,0)) * cast(tcur as decimal(38,0))"
        "        - cast(ccur as decimal(38,0)) * cast(tref as decimal(38,0)))"
        "      * 1000000)"
        " div (cast(tref as decimal(38,0)) * cast(tcur as decimal(38,0)))"
        " as bigint) end"
    )
    per = cum.withColumn("ks_contrib_micro", contrib)
    return (
        per.withColumn(
            "ks_stat_micro", F.max("ks_contrib_micro").over(wt).cast("long")
        )
        .select("bucket", "n_ref", "n_cur", "ks_contrib_micro", "ks_stat_micro")
        .orderBy("bucket")
    )



def gini_concentration(
    df: DataFrame, group: Column | str, value: Column | str
) -> DataFrame:
    """Gini coefficient of an integer measure per group — the corpus-
    concentration readout (is one crawl/source/shard hoarding the
    tokens?) that summarizes the whole Lorenz curve in one number, the
    profiling companion to profile_drift_psi (between snapshots) and
    txt_source_jsd (between sources).

    For sorted values x₍₁₎…x₍ₙ₎,  G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx).
    Over GROUPED counts (value v, count c, cum-before cb) the rank sum
    is exact:  Σ_{i∈v} i·x = v·(c·cb + c(c+1)/2)  — so the whole
    statistic is 128-bit integer arithmetic, hash-exact, and the scan
    never sorts ROWS: counting collapses to the (bounded) value domain
    first, and every window runs over the per-group VALUE table only
    (the ks_drift discipline — lengths/scores/grades have bounded
    domains; raw rows are never shuffled beyond one count aggregate).

    gini_micro = (2·S_ix − (n+1)·S_x)·10⁶ div (n·S_x); NULL when
    n·S_x = 0 (all-zero measure — concentration undefined, not
    fabricated).  NULL and negative values are excluded (Gini is defined
    for non-negative measures; exclusion is mirrored in oracles).

    Output per group: ``(group, n, sum_x, gini_micro)``.
    """
    g = F.col(group) if isinstance(group, str) else group
    v = F.col(value) if isinstance(value, str) else value
    counts = (
        df.select(g.alias("grp"), v.cast("long").alias("v"))
        .where(F.col("v").isNotNull() & (F.col("v") >= 0))
        .groupBy("grp", "v")
        .agg(F.count("*").cast("long").alias("c"))
    )
    wcum = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = counts.withColumn(
        "cb", F.coalesce(F.sum("c").over(wcum), F.lit(0)).cast("long")
    )
    return (
        ranked.groupBy("grp")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.sum(F.expr("cast(v as decimal(38,0)) * c")).alias("sx_d"),
            F.sum(
                F.expr(
                    "cast(v as decimal(38,0))"
                    " * (c * cast(cb as decimal(38,0)) + (c * (c + 1)) div 2)"
                )
            ).alias("six_d"),
        )
        .select(
            "grp",
            "n",
            F.col("sx_d").cast("long").alias("sum_x"),
            F.expr(
                "case when n = 0 or sx_d = 0 then null"
                " else cast(((2 * six_d - (n + 1) * sx_d) * 1000000)"
                " div (cast(n as decimal(38,0)) * sx_d) as bigint) end"
            ).alias("gini_micro"),
        )
        .orderBy("grp")
    )
