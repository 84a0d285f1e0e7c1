"""Winnowing fingerprints, Kneser-Ney bigram smoothing, moments/Chebyshev
sketch, NDCG@k, PPS systematic sampling, messy-date normalization.
Hand-computed cases and defining invariants (winnowing's shared-substring
guarantee, Chebyshev's bound >= empirical, systematic sampling's exact-k
and floor/ceil hit counts); oracle parity is test_parity.py's."""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------- winnowing


def _winnow_ref(text: str, k: int, w: int) -> set[tuple[int, int]]:
    """Independent pure-Python winnowing reference (Schleimer et al. §5:
    min of each window, rightmost on ties; distinct (pos, hash))."""
    z = "".join(text.lower().split())
    grams = [
        int(hashlib.md5(z[i : i + k].encode()).hexdigest()[:8], 16)
        for i in range(len(z) - k + 1)
    ]
    n = len(grams)
    if n == 0:
        return set()
    out: set[tuple[int, int]] = set()
    for start in range(max(n - w + 1, 1)):
        window = grams[start : start + w]
        m = min(window)
        # rightmost occurrence of the min in this window
        pos = start + max(i for i, h in enumerate(window) if h == m)
        out.add((pos + 1, m))  # operator positions are 1-based
    return out


@pytest.mark.parametrize("k,w", [(2, 2), (3, 4), (8, 4)])
def test_winnow_matches_pure_python_reference(spark, k, w):
    from egraphdb_spark.operators.text import winnow_fingerprints

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "THE QUICK  brown\tfox jumps over the lazy dog"),  # normalizes to 1
        (3, "aaaaaaaaaaaa"),  # constant grams: tie-break path
        (4, "ab"),  # shorter than k for k>2
        (5, "abcdefgh"),  # exactly k grams=1 (k=8): single window
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got: dict[int, set] = {}
    for r in winnow_fingerprints(df, k=k, w=w).collect():
        got.setdefault(r.id, set()).add((r.pos, r.fp))
    for doc_id, text in rows:
        assert got.get(doc_id, set()) == _winnow_ref(text, k, w), (doc_id, k, w)


def test_winnow_positions_past_2m_chars_decode_correctly(spark):
    # r8 ADVICE low: the packed key's pos field was 21 bits, so a document
    # with > ~2M normalized chars borrowed pos into the hash field and
    # decoded both wrongly.  The base is now 2^31 (any JVM string fits).
    # A just-past-the-old-boundary document must emit positions BEYOND
    # 2^21 that decode into [1, n_grams] with 32-bit fingerprints.
    from pyspark.sql import functions as F

    from egraphdb_spark.operators.text import (
        _WINNOW_POS_BASE,
        winnow_fingerprints,
    )

    assert _WINNOW_POS_BASE == 1 << 31
    k, w, old_base = 8, 4, 1 << 21
    n_chars = old_base + 200  # n_grams = old_base + 193 > old 21-bit field
    # non-periodic text so gram hashes vary (itoa stream, truncated)
    df = spark.range(1).select(
        F.lit(1).alias("doc_id"),
        # itoa(1..420000) is ~2.41M chars — comfortably past the 2^21+200
        # cut (itoa(1..300000) would be only ~1.69M and miss the boundary)
        F.expr(
            f"substring(concat_ws('', transform(sequence(1, 420000),"
            f" i -> cast(i as string))), 1, {n_chars})"
        ).alias("text"),
    )
    stats = (
        winnow_fingerprints(df, k=k, w=w)
        .agg(
            F.min("pos").alias("pmin"),
            F.max("pos").alias("pmax"),
            F.min("fp").alias("fmin"),
            F.max("fp").alias("fmax"),
        )
        .collect()[0]
    )
    n_grams = n_chars - k + 1
    assert 1 <= stats.pmin and stats.pmax <= n_grams
    assert stats.pmax > old_base, "no position past the old 21-bit boundary"
    assert 0 <= stats.fmin and stats.fmax < 1 << 32


def test_winnow_shared_substring_guarantee(spark):
    # any shared substring of length >= k + w - 1 yields a shared fingerprint
    from egraphdb_spark.operators.text import winnow_fingerprints

    k, w = 4, 3
    shared = "commonsubstringpayload"  # len 22 >= k + w - 1 = 6
    rows = [(1, "xxxx" + shared + "qqqq"), (2, "zz" + shared + "pp")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps: dict[int, set] = {1: set(), 2: set()}
    for r in winnow_fingerprints(df, k=k, w=w).collect():
        fps[r.id].add(r.fp)
    assert fps[1] & fps[2], "winnowing guarantee violated"


def test_winnow_normalization_and_short_docs(spark):
    from egraphdb_spark.operators.text import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, "Hello World"), (2, "helloworld"), (3, "hi")],
        "doc_id long, text string",
    )
    out = winnow_fingerprints(df, k=4, w=4).collect()
    by_doc: dict[int, set] = {}
    for r in out:
        by_doc.setdefault(r.id, set()).add((r.pos, r.fp))
    # case/whitespace-normalized twins fingerprint identically
    assert by_doc[1] == by_doc[2] and by_doc[1]
    # doc 3: len 2 < k -> zero grams -> absent
    assert 3 not in by_doc
    # short docs with 1 <= n_grams < w still emit exactly one window
    df2 = spark.createDataFrame([(9, "abcde")], "doc_id long, text string")
    out2 = winnow_fingerprints(df2, k=4, w=4).collect()  # n_grams = 2
    assert len(out2) == 1


# --------------------------------------------------------------- Kneser-Ney


def test_kneser_ney_hand_computed(spark):
    from egraphdb_spark.operators.text import kneser_ney_bigrams

    # corpus: "a b a b a c" -> bigrams: ab ba ab ba ac
    df = spark.createDataFrame([(1, "a b a b a c")], "doc_id long, text string")
    out = {(r.w1, r.w2): r for r in kneser_ney_bigrams(df).collect()}
    # counts: c(ab)=2 c(ba)=2 c(ac)=1; c(a.)=3, c(b.)=2
    # N1+(a.)=2 {b,c}, N1+(b.)=1 {a}; N1+(.b)=1 {a}, N1+(.a)=1 {b}, N1+(.c)=1
    # N1+(..)=3 types
    r = out[("a", "b")]
    assert (r.c, r.c_w1, r.n1p_fwd, r.n1p_cont, r.n_bigram_types) == (2, 3, 2, 1, 3)
    # P = [(4*2-3)*3 + 3*2*1] / [4*3*3] = (15+6)/36 = 21/36
    assert r.kn_prob_micro == 21 * 1_000_000 * 1 // 36
    r = out[("b", "a")]
    # P = [(8-3)*3 + 3*1*1] / [4*2*3] = 18/24 = 3/4
    assert r.kn_prob_micro == 750_000
    r = out[("a", "c")]
    # P = [(4-3)*3 + 3*2*1] / 36 = 9/36 = 1/4
    assert r.kn_prob_micro == 250_000


def test_kneser_ney_conditional_mass_bounded(spark):
    # sum over OBSERVED continuations of P_KN(w2|w1) must stay <= 1:
    # the discount reserves mass and P_cont sums to 1 over the whole vocab
    from egraphdb_spark.operators.text import kneser_ney_bigrams

    from egraphdb_spark.graph import load_tables

    docs = load_tables(spark, SF_DIR)["documents"]
    rows = kneser_ney_bigrams(docs, top_n=500).collect()
    by_w1: dict[str, int] = {}
    for r in rows:
        by_w1[r.w1] = by_w1.get(r.w1, 0) + r.kn_prob_micro
    # top-500 truncates some w1 groups; the bound must hold regardless
    assert all(v <= 1_000_000 for v in by_w1.values()), max(by_w1.values())


# --------------------------------------------------------- moments sketch


def test_moments_chebyshev_hand_computed(spark):
    from egraphdb_spark.operators.sketches import moments_chebyshev

    df = spark.createDataFrame([(0,), (10,)], "x long")
    out = {r.a: r for r in moments_chebyshev(df, "x", deviations=[5, 6]).collect()}
    r = out[5]
    assert (r.n, r.s1, r.s2, r.mean_milli) == (2, 10, 100, 5000)
    # sigma^2 = (2*100 - 100)/4 = 25; bound(5) = min(1, 25/25) = 1
    assert r.bound_micro == 1_000_000
    # both points are exactly 5 away -> |x*n - s1| = 10 >= 5*2 -> exceed
    assert r.actual_micro == 1_000_000
    # bound(6) = 25/36; neither point is 6 away
    assert out[6].bound_micro == 25 * 1_000_000 // 36
    assert out[6].actual_micro == 0


def test_moments_chebyshev_bound_dominates_empirical(spark):
    from egraphdb_spark.operators.sketches import moments_chebyshev

    from egraphdb_spark.graph import load_tables

    docs = load_tables(spark, SF_DIR)["documents"]
    for r in moments_chebyshev(docs, "n_chars").collect():
        assert r.actual_micro <= r.bound_micro, r


def test_moments_chebyshev_negative_sum_mean_floors_like_duckdb(spark):
    # r8 ADVICE low: mean_milli must use the sign·(|s1| div n) recipe so a
    # negative sum truncates toward zero on BOTH engines (DuckDB `//`
    # floors; Spark decimal `div` truncates).  s1 = -5, n = 2:
    # sign(-5)·((5·1000) div 2) = -2500, whereas floor((-5000)/2) = -2500
    # too — so pick s1 = -5, n = 3: trunc = -1666, floor = -1667.  The
    # recipe pins -1666 on both engines.
    import duckdb

    from egraphdb_spark.operators.sketches import moments_chebyshev

    df = spark.createDataFrame([(-2,), (-2,), (-1,)], "x long")
    r = moments_chebyshev(df, "x", deviations=[1]).collect()[0]
    assert (r.n, r.s1, r.mean_milli) == (3, -5, -1666)
    got = duckdb.sql(
        "SELECT (CASE WHEN -5 < 0 THEN -1 ELSE 1 END)"
        " * ((abs(CAST(-5 AS HUGEINT)) * 1000) // 3)"
    ).fetchone()[0]
    assert got == -1666


def test_moments_merge_by_addition(spark):
    from egraphdb_spark.operators.sketches import moments_chebyshev

    a = spark.createDataFrame([(1,), (2,)], "x long")
    b = spark.createDataFrame([(3,), (4,)], "x long")
    u = a.unionByName(b)
    ra = moments_chebyshev(a, "x", deviations=[1]).collect()[0]
    rb = moments_chebyshev(b, "x", deviations=[1]).collect()[0]
    ru = moments_chebyshev(u, "x", deviations=[1]).collect()[0]
    assert (ru.n, ru.s1, ru.s2) == (ra.n + rb.n, ra.s1 + rb.s1, ra.s2 + rb.s2)


# -------------------------------------------------------------------- NDCG


def _term(rel: int, i: int) -> int:
    return int(math.floor(((1 << rel) - 1) * 1_000_000.0 / math.log2(i + 1) + 0.5))


def test_ndcg_hand_computed(spark):
    from egraphdb_spark.operators.ranking import ndcg_at_k

    rows = [("q", 1, 3), ("q", 2, 0), ("q", 3, 1)]
    df = spark.createDataFrame(rows, "grp_in string, rank long, rel long")
    r = ndcg_at_k(df, "grp_in", "rank", "rel", k=10).collect()[0]
    dcg = _term(3, 1) + _term(0, 2) + _term(1, 3)
    idcg = _term(3, 1) + _term(1, 2) + _term(0, 3)
    assert r.dcg_micro == dcg
    assert r.idcg_micro == idcg
    assert r.ndcg_micro == dcg * 1_000_000 // idcg


def test_ndcg_perfect_and_degenerate(spark):
    from egraphdb_spark.operators.ranking import ndcg_at_k

    # already-ideal ranking -> NDCG exactly 1
    rows = [("p", i, 5 - i) for i in range(1, 5)]
    df = spark.createDataFrame(rows, "g string, rank long, rel long")
    r = ndcg_at_k(df, "g", "rank", "rel", k=4).collect()[0]
    assert r.ndcg_micro == 1_000_000
    # all-zero relevance -> idcg 0 -> NULL, not a fabricated score
    rows = [("z", i, 0) for i in range(1, 4)]
    df = spark.createDataFrame(rows, "g string, rank long, rel long")
    r = ndcg_at_k(df, "g", "rank", "rel", k=4).collect()[0]
    assert r.idcg_micro == 0 and r.ndcg_micro is None


def test_ndcg_ignores_ranks_beyond_k(spark):
    from egraphdb_spark.operators.ranking import ndcg_at_k

    rows = [("g", 1, 2), ("g", 2, 1), ("g", 3, 3)]
    df = spark.createDataFrame(rows, "g string, rank long, rel long")
    r = ndcg_at_k(df, "g", "rank", "rel", k=2).collect()[0]
    assert r.dcg_micro == _term(2, 1) + _term(1, 2)


# ----------------------------------------------------------- PPS systematic


def test_pps_exactly_k_and_hit_bounds(spark):
    from egraphdb_spark.operators.sampling import pps_systematic

    rows = [(i, 1 + (i * 7) % 13) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, w long")
    k = 10
    out = pps_systematic(df, "id", "w", k=k).collect()
    assert sum(r.n_hits for r in out) == k
    W = sum(w for _, w in rows)
    for r in out:
        lo, hi = (r.w * k) // W, -((-r.w * k) // W)  # floor, ceil
        assert lo <= r.n_hits <= max(hi, 1), r


def test_pps_heavy_unit_multiplicity(spark):
    from egraphdb_spark.operators.sampling import pps_systematic

    # one unit holds half the weight -> with k=10 it must be hit >= 4 times
    rows = [(0, 100)] + [(i, 2) for i in range(1, 51)]
    df = spark.createDataFrame(rows, "id long, w long")
    out = {r.id: r.n_hits for r in pps_systematic(df, "id", "w", k=10).collect()}
    assert out.get(0, 0) >= 4
    assert sum(out.values()) == 10


def test_pps_deterministic_and_salt_sensitive(spark):
    from egraphdb_spark.operators.sampling import pps_systematic

    rows = [(i, 1 + i % 5) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, w long")
    a = sorted((r.id, r.n_hits) for r in pps_systematic(df, "id", "w", k=7).collect())
    b = sorted((r.id, r.n_hits) for r in pps_systematic(df, "id", "w", k=7).collect())
    assert a == b
    c = sorted(
        (r.id, r.n_hits)
        for r in pps_systematic(df, "id", "w", k=7, salt="other").collect()
    )
    assert sum(h for _, h in c) == 7  # still exactly k under any salt


def test_pps_excludes_nonpositive_weights(spark):
    from egraphdb_spark.operators.sampling import pps_systematic

    rows = [(1, 5), (2, 0), (3, -3), (4, None), (5, 5)]
    df = spark.createDataFrame(rows, "id long, w long")
    out = pps_systematic(df, "id", "w", k=2).collect()
    assert {r.id for r in out} <= {1, 5}
    assert sum(r.n_hits for r in out) == 2


def test_pps_bucketed_cumsum_matches_plain(spark):
    # the two-level bucket cumsum must equal a plain ordered cumsum
    from egraphdb_spark.operators.sampling import pps_systematic

    rows = [(i * 3 + 1, 1 + (i * 11) % 7) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, w long")
    out = {r.id: r.cum_w for r in pps_systematic(df, "id", "w", k=200, bucket_width=16).collect()}
    cum, expect = 0, {}
    for i, w in sorted(rows):
        cum += w
        expect[i] = cum
    assert all(out[i] == expect[i] for i in out)


# ------------------------------------------------------- date normalization


def _epoch(*args) -> int:
    return int(dt.datetime(*args, tzinfo=dt.timezone.utc).timestamp())


def test_dates_hand_computed(spark):
    from egraphdb_spark.operators.text import normalize_datestrings

    rows = [
        (1, "2024-01-16T12:30:45"),
        (2, "2024-01-16 12:30:45"),
        (3, "1999-12-31"),
        (4, "1/5/1999"),
        (5, "946684800"),
        (6, "16 Jan 2024"),
        (7, "2024-13-01"),      # month out of range
        (8, "99/99/2024"),      # matched US shape, invalid fields
        (9, "not a date"),
        (10, None),
        (11, "29 Feb 2024"),    # leap day, civil math must be exact
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    out = {r.id: r for r in normalize_datestrings(df, "s").collect()}
    assert (out[1].fmt, out[1].epoch_sec) == ("iso_datetime", _epoch(2024, 1, 16, 12, 30, 45))
    assert (out[2].fmt, out[2].epoch_sec) == ("iso_datetime", _epoch(2024, 1, 16, 12, 30, 45))
    assert (out[3].fmt, out[3].epoch_sec) == ("iso_date", _epoch(1999, 12, 31))
    assert (out[4].fmt, out[4].epoch_sec) == ("us_date", _epoch(1999, 1, 5))
    assert (out[5].fmt, out[5].epoch_sec) == ("epoch_secs", 946684800)
    assert (out[6].fmt, out[6].epoch_sec) == ("rfc_date", _epoch(2024, 1, 16))
    assert (out[7].fmt, out[7].epoch_sec) == ("invalid", None)
    assert (out[8].fmt, out[8].epoch_sec) == ("invalid", None)
    assert (out[9].fmt, out[9].epoch_sec) == ("unknown", None)
    assert (out[10].fmt, out[10].epoch_sec) == ("unknown", None)
    assert (out[11].fmt, out[11].epoch_sec) == ("rfc_date", _epoch(2024, 2, 29))


def test_dates_pre_gregorian_years_invalid_on_every_path(spark):
    # r8 ADVICE medium: _days_from_civil is truncate/floor-equivalent only
    # for year >= 1583 (shifted era stays non-negative).  Years below that
    # must classify as 'invalid' on the ISO and US paths too (the RFC path
    # already did), or Spark `div` vs DuckDB `//` diverge by a 146097-day
    # era on junk like '0000-01-15'.  Assert BOTH the classification and
    # literal cross-engine parity of the emitted expressions.
    import duckdb

    from egraphdb_spark.operators.text import (
        _date_norm_exprs,
        normalize_datestrings,
    )

    cases = [
        ("0000-01-15", "invalid"),
        ("0000-02-01", "invalid"),
        ("0001-01-01", "invalid"),
        ("1582-12-31", "invalid"),
        ("1/5/0000", "invalid"),
        ("2/1/1582", "invalid"),
        ("0000-01-15T00:00:01", "invalid"),
        ("1583-01-01", "iso_date"),
        ("1/5/1583", "us_date"),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(cases)], "id long, s string"
    )
    out = {r.s: r for r in normalize_datestrings(df, "s").collect()}
    for s, want_fmt in cases:
        assert out[s].fmt == want_fmt, s
        if want_fmt == "invalid":
            assert out[s].epoch_sec is None, s
    assert out["1583-01-01"].epoch_sec == (
        dt.date(1583, 1, 1) - dt.date(1970, 1, 1)
    ).days * 86400

    fmt_sql, epoch_sql = _date_norm_exprs("raw", "duckdb")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE raws(raw VARCHAR); INSERT INTO raws VALUES "
        + ", ".join(f"('{s}')" for s, _ in cases)
    )
    duck = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            f"SELECT raw, {fmt_sql} AS fmt, {epoch_sql} AS e FROM raws"
        ).fetchall()
    }
    for s, _ in cases:
        assert duck[s] == (out[s].fmt, out[s].epoch_sec), s


def test_dates_civil_math_sweeps_calendar(spark):
    # every month boundary + leap rules across a century, vs Python's
    # proleptic-Gregorian datetime as the independent reference
    from egraphdb_spark.operators.text import normalize_datestrings

    cases = []
    for y in (1970, 1999, 2000, 2024, 2038, 2100):
        for m in (1, 2, 3, 12):
            for d in (1, 28):
                cases.append(f"{y:04d}-{m:02d}-{d:02d}")
    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], "id long, s string")
    out = {r.s: r.epoch_sec for r in normalize_datestrings(df, "s").collect()}
    for s in cases:
        y, m, d = map(int, s.split("-"))
        assert out[s] == _epoch(y, m, d), s


# -------------------------------------------------------- Poisson bootstrap


def test_bootstrap_point_mean_exact_and_reproducible(spark):
    from egraphdb_spark.operators.behavior import poisson_bootstrap_ci

    rows = [("a", i, float(1 + i % 3)) for i in range(60)]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    out = poisson_bootstrap_ci(df, "g", "id", "v").collect()
    assert len(out) == 1
    r = out[0]
    total_cents = sum(int(round(100 * v)) for _, _, v in rows)
    assert r.n_events == 60
    assert r.mean_milli == total_cents * 10 // 60
    assert r.boot_lo_milli <= r.boot_hi_milli
    assert 1 <= r.n_boot_valid <= 32
    again = poisson_bootstrap_ci(df, "g", "id", "v").collect()[0]
    assert (again.boot_lo_milli, again.boot_hi_milli) == (
        r.boot_lo_milli,
        r.boot_hi_milli,
    )


def test_bootstrap_multiplicities_average_one(spark):
    # the seeded Poisson(1) draw must average ~1 over (row, resample)
    from egraphdb_spark.operators.behavior import _POISSON1_T60

    import hashlib

    n, B, total = 200, 32, 0
    for rid in range(n):
        for b in range(B):
            u = int(hashlib.md5(f"bs:{b}:{rid}".encode()).hexdigest()[:15], 16)
            m = 0
            for j, t in enumerate(_POISSON1_T60):
                if u < t:
                    m = j
                    break
            else:
                m = 5
            total += m
    assert abs(total - n * B) / (n * B) < 0.05, total / (n * B)


def test_bootstrap_interval_brackets_truth_on_iid_data(spark):
    # iid values with mean 5.0: the 90% interval should bracket it here
    # (a deterministic fixture, so this is a regression pin, not a flaky
    # statistical assertion)
    from egraphdb_spark.operators.behavior import poisson_bootstrap_ci

    rows = [("g", i, 5.0 + (1 if i % 2 else -1) * (i % 7) / 10.0) for i in range(200)]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    r = poisson_bootstrap_ci(df, "g", "id", "v").collect()[0]
    assert r.boot_lo_milli <= 5000 <= r.boot_hi_milli
    assert r.n_boot_valid == 32


# --------------------------------------------------------------------- Gini


def test_gini_hand_computed(spark):
    from egraphdb_spark.operators.profiling import gini_concentration

    df = spark.createDataFrame(
        [("a", 0), ("a", 0), ("a", 10), ("b", 5), ("b", 5), ("b", 5)],
        "g string, v long",
    )
    out = {r.grp: r for r in gini_concentration(df, "g", "v").collect()}
    # sorted a: 0,0,10 -> G = (2*30 - 4*10) / (3*10) = 2/3
    assert out["a"].gini_micro == 2 * 1_000_000 // 3
    # equal values -> perfect equality
    assert out["b"].gini_micro == 0
    assert out["a"].n == 3 and out["a"].sum_x == 10


def test_gini_bounds_and_exclusions(spark):
    from egraphdb_spark.operators.profiling import gini_concentration

    rows = [("g", i % 17) for i in range(100)] + [("g", None), ("g", -5)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = gini_concentration(df, "g", "v").collect()[0]
    assert r.n == 100  # NULL and negative excluded
    assert 0 <= r.gini_micro < 1_000_000
    # all-zero measure -> NULL, not 0
    z = spark.createDataFrame([("z", 0), ("z", 0)], "g string, v long")
    rz = gini_concentration(z, "g", "v").collect()[0]
    assert rz.gini_micro is None


# --------------------------------------------------------------------- Zipf


def test_zipf_recovers_power_law_slopes(spark):
    from egraphdb_spark.operators.text import zipf_fit

    # freq = 3600 / r^2 exactly for r=1..5 -> slope must be -2 (milli)
    freqs = [3600, 900, 400, 225, 144]
    words = []
    for i, f in enumerate(freqs):
        words += [f"w{i}"] * f
    # pack into docs of 50 words
    docs = [
        (i, " ".join(words[i * 50 : (i + 1) * 50]))
        for i in range((len(words) + 49) // 50)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    r = zipf_fit(df, top_r=5).collect()[0]
    assert r.r_eff == 5 and r.top_freq == 3600
    assert abs(r.slope_milli + 2000) <= 2, r.slope_milli
    # intercept ~ ln(3600) = 8.188689...; micro-quantized composition
    assert abs(r.intercept_micro - 8_188_689) <= 2_000, r.intercept_micro


def test_zipf_degenerate_single_type(spark):
    from egraphdb_spark.operators.text import zipf_fit

    df = spark.createDataFrame([(1, "same same same")], "doc_id long, text string")
    r = zipf_fit(df).collect()[0]
    assert r.r_eff == 1 and r.slope_milli is None and r.intercept_micro is None


# ---------------------------------------------------------- stream moments


def test_stream_moments_matches_batch(spark):
    # the streaming power sums must equal a batch groupBy over the same
    # data (availableNow = batch-parity), and merge by addition
    from egraphdb_spark.gates.io_stream import q_stream_moments
    from egraphdb_spark.graph import load_tables

    out = {r.window_start: r for r in q_stream_moments(spark, SF_DIR).collect()}
    ev = load_tables(spark, SF_DIR)["events"]
    batch = ev.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count("*").alias("n"),
        F.sum(F.expr("cast(round(100 * value) as bigint)")).alias("s1"),
    )
    for b in batch.collect():
        r = out[b.w.start]
        assert (r.n, r.s1_cents) == (b.n, b.s1)


# -------------------------------------------------------- gopher line rules


def test_gopher_lines_hand_computed(spark):
    from egraphdb_spark.operators.text import gopher_line_rules

    rows = [
        (1, "- a\n- b\n- c"),                 # 3/3 bullets -> fail bit 1
        (2, "x...\ny...\nz...\nplain"),       # 3/4 ellipsis -> fail bit 2
        (3, "one\ntwo\nthree"),               # clean
        (4, "- a\nplain\n\n  \n• b\nother"),  # 2/4 bullets (blanks dropped)
        (5, "trunc…"),                        # 1/1 unicode ellipsis -> bit 2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in gopher_line_rules(df).collect()}
    assert out[1].fail_mask == 1 and not out[1].keep
    assert out[1].bullet_frac_micro == 1_000_000
    assert out[2].fail_mask == 2 and out[2].ellipsis_frac_micro == 750_000
    assert out[3].fail_mask == 0 and out[3].keep
    assert out[4].n_lines == 4 and out[4].n_bullet == 2 and out[4].fail_mask == 0
    assert out[5].fail_mask == 2
    # all-blank document: no non-blank lines -> absent (vacuous)
    blank = spark.createDataFrame([(9, "\n \n")], "doc_id long, text string")
    assert gopher_line_rules(blank).collect() == []


# --------------------------------------------------------- winnowing pairs


def test_winnow_pairs_finds_planted_near_dup(spark):
    from egraphdb_spark.operators.dedup import winnow_pairs

    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = (
        [(1, "prefix one " + shared), (2, shared + " suffix two")]
        + [(10 + i, f"unrelated text number {i} about topic {i * 7}") for i in range(8)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.id_a, r.id_b): r.n_shared for r in winnow_pairs(df).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2


def test_winnow_pairs_df_cap_drops_boilerplate(spark):
    from egraphdb_spark.operators.dedup import winnow_pairs

    # 12 docs all sharing one boilerplate string: with max_df=10 every
    # boilerplate fingerprint has df=12 > 10, so NO pairs survive
    rows = [(i, "identical boilerplate appears everywhere here") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert winnow_pairs(df, max_df=10).collect() == []
    # raising the cap reinstates them
    assert len(winnow_pairs(df, max_df=12).collect()) == 66  # C(12,2)


# -------------------------------------------------------------- HTML strip


def test_strip_html_hand_cases(spark):
    from egraphdb_spark.operators.text import strip_html

    rows = [
        (1, "<p>hello <b>world</b></p>"),
        (2, "a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39;"),
        (3, "no markup at all"),
        (4, "x&amp;lt;y"),          # &amp; decodes LAST: literal '&lt;'
        (5, "<div>a</div><div>b</div>"),
        (6, "spaces\t\n  <br/>   everywhere"),
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    out = {r.id: r.c for r in df.select("id", strip_html("s").alias("c")).collect()}
    assert out[1] == "hello world"
    assert out[2] == 'a & b <tag> "q" \'s\''
    assert out[3] == "no markup at all"
    assert out[4] == "x&lt;y"
    assert out[5] == "a b"
    assert out[6] == "spaces everywhere"


# ------------------------------------------------------ bloom prefilter join


def test_bloom_prefilter_no_false_negatives(spark):
    from egraphdb_spark.operators import sketches

    dim = spark.createDataFrame([(i * 3,) for i in range(40)], "k long")
    probe = spark.createDataFrame([(i,) for i in range(200)], "k long")
    sk = sketches.bloom_build(dim, "k")
    hits = {r.key: r.bloom_hit for r in sketches.bloom_hits(sk, probe, "k").collect()}
    # every true member must pass (no false negatives, the Bloom law)
    for i in range(40):
        if i * 3 < 200:
            assert hits[i * 3] == 1, i * 3
    # and the pass-set is a (possibly proper) superset of the truth
    n_pass = sum(hits.values())
    assert n_pass >= sum(1 for i in range(40) if i * 3 < 200)


# ------------------------------------------------------------- DP top-k


def test_dp_topk_matches_pure_python_replay(spark):
    from egraphdb_spark.operators.privacy import dp_topk_exponential

    rows = [(f"g{i % 6}", j) for i in range(6) for j in range(10 + 7 * (i % 6))]
    df = spark.createDataFrame(rows, "g string, x long")
    out = dp_topk_exponential(df, ["g"], k=3).collect()
    # independent replay: seeded Gumbel-max with the same key encoding
    counts: dict[str, int] = {}
    for g, _ in rows:
        counts[g] = counts.get(g, 0) + 1
    scored = []
    for g, n in counts.items():
        key = f"dpx:v{len(g)}:{g}"
        h = int(hashlib.md5(key.encode()).hexdigest()[:15], 16)
        u = max(h, 1) / float(1 << 60)
        score = int(math.floor((1.0 * n / 2.0 - math.log(-math.log(u))) * 1e6 + 0.5))
        scored.append((-score, g))
    scored.sort()
    expect = [(i + 1, g, counts[g], -s) for i, (s, g) in enumerate(scored[:3])]
    got = [(r.rank, r.g0, r.n, r.score_micro) for r in out]
    assert got == expect


def test_dp_topk_epsilon_dominates_noise_eventually(spark):
    from egraphdb_spark.operators.privacy import dp_topk_exponential

    # with a huge epsilon the utility term dwarfs Gumbel noise, so the
    # selection must equal the true top-k by count
    rows = [("a", i) for i in range(50)] + [("b", i) for i in range(30)] + [
        ("c", i) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "g string, x long")
    out = dp_topk_exponential(df, ["g"], k=2, epsilon_micro=100_000_000).collect()
    assert [r.g0 for r in out] == ["a", "b"]
    assert [r.n for r in out] == [50, 30]


# --------------------------------------------------------------- Heaps' law


def test_heaps_growing_vocab_vs_closed_vocab(spark):
    from egraphdb_spark.operators.text import heaps_fit

    # growing vocabulary: every doc introduces new types -> beta near 1
    grow = [(i, " ".join(f"w{i}_{j}" for j in range(20))) for i in range(100)]
    df = spark.createDataFrame(grow, "doc_id long, text string")
    r = heaps_fit(df, checkpoint_every=10).collect()[0]
    assert r.n_checkpoints == 10 and r.vocab_final == 2000
    assert 900 <= r.slope_milli <= 1100, r.slope_milli
    # closed 5-word vocabulary: V saturates -> beta ~ 0
    closed = [(i, "a b c d e " * 4) for i in range(100)]
    df2 = spark.createDataFrame(closed, "doc_id long, text string")
    r2 = heaps_fit(df2, checkpoint_every=10).collect()[0]
    assert r2.vocab_final == 5 and abs(r2.slope_milli) <= 10


def test_heaps_first_occurrence_counting_exact(spark):
    from egraphdb_spark.operators.text import heaps_fit

    rows = [(1, "a b"), (2, "b c"), (3, "a d e")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = heaps_fit(df, checkpoint_every=1).collect()[0]
    # V by doc: 2, 3, 5; N by doc: 2, 4, 7
    assert (r.vocab_final, r.tokens_final, r.n_docs) == (5, 7, 3)
    assert r.n_checkpoints == 3


def test_heaps_degenerate_single_checkpoint(spark):
    from egraphdb_spark.operators.text import heaps_fit

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    r = heaps_fit(df, checkpoint_every=1).collect()[0]
    assert r.n_checkpoints == 1 and r.slope_milli is None
