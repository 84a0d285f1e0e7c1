"""64-bit simhash multi-index Hamming join, weighted CombMNZ score fusion,
isotonic calibration (min-max identity), duplicate line/paragraph
fractions, CUPED variance-reduced A/B adjustment, split-conformal
prediction intervals.  Hand-computed cases and defining invariants;
oracle parity is test_parity.py's."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------- hamming64 multi-index


def test_simhash64_exact_dup_is_distance_zero(spark):
    from egraphdb_spark.operators.dedup import hamming64_pairs, simhash64

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "completely different content about astronomy and star dust"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming64_pairs(simhash64(df, "doc_id", "text")).collect()
    }
    assert pairs.get((1, 2)) == 0


def test_hamming64_matches_brute_force_within_radius(spark):
    # the multi-index join must find EXACTLY the brute-force pairs at
    # radius <= 3 (pigeonhole guarantee; no cap)
    from egraphdb_spark.operators.dedup import hamming64_pairs, simhash64

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    rows = [(i, base + f"suffix {i % 7}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = simhash64(df, "doc_id", "text")
    codes = {r.id: (r.sh_hi, r.sh_lo) for r in sh.collect()}
    want = {}
    ids = sorted(codes)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            d = bin(codes[a][0] ^ codes[b][0]).count("1") + bin(
                codes[a][1] ^ codes[b][1]
            ).count("1")
            if d <= 3:
                want[(a, b)] = d
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming64_pairs(sh, radius=3).collect()
    }
    assert got == want


def test_hamming64_radius_guard_and_band_cap(spark):
    from egraphdb_spark.operators.dedup import hamming64_pairs, simhash64

    df = spark.createDataFrame([(1, "aaa bbb ccc")], "doc_id long, text string")
    sh = simhash64(df, "doc_id", "text")
    with pytest.raises(ValueError, match="radius"):
        hamming64_pairs(sh, radius=4)
    # a 12-doc exact-dup clique: every band bucket has 12 members; cap 10
    # drops all four bands -> zero pairs; cap 12 keeps C(12,2)=66 pairs
    clique = spark.createDataFrame(
        [(i, "identical text body for the clique") for i in range(12)],
        "doc_id long, text string",
    )
    shc = simhash64(clique, "doc_id", "text")
    assert hamming64_pairs(shc, radius=3, max_band_df=10).count() == 0
    assert hamming64_pairs(shc, radius=3, max_band_df=12).count() == 66


def test_simhash64_hi_half_matches_simhash32(spark):
    # bits 0..31 of simhash64 are voted by the SAME md5 prefix as the
    # 32-bit simhash -> sh_hi must equal the existing fingerprint
    from egraphdb_spark.operators.dedup import simhash, simhash64

    rows = [(1, "the quick brown fox"), (2, "pack my box with five dozen")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    h32 = {r.id: r.simhash for r in simhash(df, "doc_id", "text").collect()}
    h64 = {r.id: r.sh_hi for r in simhash64(df, "doc_id", "text").collect()}
    assert h32 == h64


# ------------------------------------------------------------ score fusion


def test_weighted_fusion_hand_computed(spark):
    from egraphdb_spark.operators.ranking import weighted_fusion

    l1 = spark.createDataFrame(
        [(1, 900000), (2, 500000), (3, 100000)], "id long, score_micro long"
    )
    l2 = spark.createDataFrame(
        [(2, 80), (3, 70), (4, 10)], "id long, score_micro long"
    )
    out = {
        r.id: (r.fused_scaled, r.n_lists)
        for r in weighted_fusion([(l1, 700), (l2, 300)], k=4).collect()
    }
    # l1 norms: 1 -> 1e6, 2 -> 500000, 3 -> 0; l2: 2 -> 1e6, 3 -> 857142, 4 -> 0
    assert out[1] == (700 * 1_000_000 * 1, 1)
    assert out[2] == ((700 * 500_000 + 300 * 1_000_000) * 2, 2)
    assert out[3] == ((0 + 300 * 857_142) * 2, 2)
    assert out[4] == (0, 1)


def test_weighted_fusion_constant_list_and_combsum(spark):
    from egraphdb_spark.operators.ranking import weighted_fusion

    const = spark.createDataFrame(
        [(1, 42), (2, 42)], "id long, score_micro long"
    )
    out = {
        r.id: r.fused_scaled
        for r in weighted_fusion([(const, 1000)], k=5, mnz=False).collect()
    }
    # max == min -> every member normalizes to the full 1e6
    assert out == {1: 10**9, 2: 10**9}


# ------------------------------------------------------------ isotonic fit


def _minmax_ref(bins):
    """Pure-Python min-max isotonic reference with identical quantization."""
    cn, cs = [0], [0]
    for n, p in bins:
        cn.append(cn[-1] + n)
        cs.append(cs[-1] + p)

    def q(i, j):
        return ((cs[j + 1] - cs[i]) * 1_000_000) // (cn[j + 1] - cn[i])

    B = len(bins)
    return [
        max(min(q(i, j) for j in range(b, B)) for i in range(b + 1))
        for b in range(B)
    ]


def test_isotonic_hand_computed_vs_reference(spark):
    from egraphdb_spark.operators.ranking import calibrate_isotonic

    rows = list(zip(range(10), [0, 1, 0, 0, 1, 1, 0, 1, 1, 1]))
    df = spark.createDataFrame(rows, "s long, y long")
    out = calibrate_isotonic(df, "s", "y", n_bins=5).collect()
    ref = _minmax_ref([(2, 1), (2, 0), (2, 2), (2, 1), (2, 2)])
    assert [r.fit_micro for r in out] == ref
    assert [r.rate_micro for r in out] == [500000, 0, 1000000, 500000, 1000000]


def test_isotonic_fit_is_monotone_and_identity_on_sorted(spark):
    from egraphdb_spark.operators.ranking import calibrate_isotonic

    # already-isotonic data: fit == rate in every bin
    rows = [(i, 1 if i % 10 < i // 10 else 0) for i in range(100)]
    df = spark.createDataFrame(rows, "s long, y long")
    out = calibrate_isotonic(df, "s", "y", n_bins=10).collect()
    fits = [r.fit_micro for r in out]
    assert fits == sorted(fits)
    rates = [r.rate_micro for r in out]
    assert rates == sorted(rates)  # construction: rate rises with bin
    assert fits == rates


def test_isotonic_nbins_guard_and_label_filter(spark):
    from egraphdb_spark.operators.ranking import calibrate_isotonic

    df = spark.createDataFrame([(1, 1)], "s long, y long")
    with pytest.raises(ValueError, match="n_bins"):
        calibrate_isotonic(df, "s", "y", n_bins=65)
    mixed = spark.createDataFrame(
        [(1, 1), (2, None), (None, 1), (3, -5), (4, 0)],
        "s long, y long",
    )
    out = calibrate_isotonic(mixed, "s", "y", n_bins=2).collect()
    # only (1,1) and (4,0) survive (NULLs and negative labels excluded)
    assert sum(r.n for r in out) == 2


# ---------------------------------------------------------- dup structure


def test_dup_structure_hand_computed(spark):
    from egraphdb_spark.operators.text import dup_structure_stats

    rows = [
        (1, "alpha\nbeta\nalpha\n\ngamma para\n\ngamma para"),
        (2, "one\ntwo\nthree"),
        (3, "\n\n \n"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in dup_structure_stats(df).collect()}
    r1 = out[1]
    # lines: alpha, beta, alpha, gamma para, gamma para -> 2 dup of 5
    assert (r1.n_lines, r1.dup_line_frac_micro) == (5, 400000)
    # dup chars: alpha(5) + gamma para(10) = 15 of 34 total line chars
    assert r1.dup_line_char_frac_micro == 15 * 1_000_000 // 34
    # paras: 'alpha beta alpha', 'gamma para', 'gamma para' -> 1 dup of 3
    assert (r1.n_paras, r1.dup_para_frac_micro) == (3, 333333)
    assert r1.dup_para_char_frac_micro == 10 * 1_000_000 // 36
    assert not r1.keep
    r2 = out[2]
    assert (r2.n_lines, r2.dup_line_frac_micro, r2.keep) == (3, 0, True)
    r3 = out[3]  # whitespace-only doc still emits its row
    assert (r3.n_lines, r3.dup_line_frac_micro, r3.keep) == (0, None, False)


def test_dup_structure_gate_contract(spark):
    # synthesized variants: 0 and 1 fail, 2 and 3 keep — for ANY corpus
    from egraphdb_spark.gates.text import q_txt_dup_structure

    for r in q_txt_dup_structure(spark, SF_DIR).collect():
        v = r.id % 4
        if v == 0:
            assert r.dup_line_frac_micro == 500000 and not r.keep, r
        elif v == 1:
            assert r.dup_para_frac_micro == 333333 and not r.keep, r
        else:
            assert r.keep, r


# ------------------------------------------------------------------- CUPED


def test_cuped_hand_computed_vs_reference(spark):
    from fractions import Fraction

    from egraphdb_spark.operators.behavior import cuped_adjust

    rows = [
        ("a", 10, 100), ("a", 20, 210), ("a", 30, 290),
        ("b", 12, 140), ("b", 25, 260), ("b", 31, 330),
    ]
    df = spark.createDataFrame(rows, "arm string, x_cents long, y_cents long")
    out = {r.arm: r for r in cuped_adjust(df).collect()}

    xs = [x for _, x, _ in rows]
    ys = [y for _, _, y in rows]
    n = len(rows)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    syy = sum(y * y for y in ys)
    covn, varn, varyn = n * sxy - sx * sy, n * sxx - sx * sx, n * syy - sy * sy

    def milli(fr: Fraction) -> int:
        s = -1 if fr < 0 else 1
        return s * ((abs(fr.numerator) * 1000) // fr.denominator)

    for arm in ("a", "b"):
        axs = [x for a, x, _ in rows if a == arm]
        ays = [y for a, _, y in rows if a == arm]
        na, sxa, sya = len(axs), sum(axs), sum(ays)
        adj = Fraction(sya * varn * n - covn * (sxa * n - sx * na), varn * na * n)
        assert out[arm].n_units == na
        assert out[arm].mean_y_milli == (sya * 1000) // na
        assert out[arm].adj_mean_milli == milli(adj)
    th = out["a"].theta_milli
    assert th == (1 if covn >= 0 else -1) * ((abs(covn) * 1000) // varn)
    rho2 = ((abs(covn) * 1000) // varn) * ((abs(covn) * 1000) // varyn)
    assert out["a"].rho2_micro == rho2 == out["b"].rho2_micro
    assert 0 <= rho2 <= 1_000_000


def test_cuped_constant_covariate_is_null_and_unbiased_mean(spark):
    from egraphdb_spark.operators.behavior import cuped_adjust

    df = spark.createDataFrame(
        [("a", 5, 100), ("a", 5, 200), ("b", 5, 400)],
        "arm string, x_cents long, y_cents long",
    )
    out = {r.arm: r for r in cuped_adjust(df).collect()}
    assert out["a"].adj_mean_milli is None and out["a"].theta_milli is None
    assert out["a"].rho2_micro is None
    assert out["a"].mean_y_milli == 150000 and out["b"].mean_y_milli == 400000


def test_cuped_perfectly_correlated_covariate(spark):
    # y = 10x exactly: rho^2 -> ~1e6, adjusted means of both arms collapse
    # toward the global mean direction (theta = 10)
    from egraphdb_spark.operators.behavior import cuped_adjust

    rows = [("a", x, 10 * x) for x in (1, 2, 3)] + [
        ("b", x, 10 * x) for x in (4, 5, 6)
    ]
    df = spark.createDataFrame(rows, "arm string, x_cents long, y_cents long")
    out = {r.arm: r for r in cuped_adjust(df).collect()}
    assert out["a"].theta_milli == 10000
    assert out["a"].rho2_micro == 1000000
    # full adjustment: both arms land exactly on the global mean (35)
    assert out["a"].adj_mean_milli == out["b"].adj_mean_milli == 35000


# ---------------------------------------------------------------- conformal


def test_conformal_matches_pure_python_replay(spark):
    import hashlib

    from egraphdb_spark.operators.behavior import conformal_interval

    rows = [("g", i, (i * 7) % 50) for i in range(200)]
    df = spark.createDataFrame(rows, "grp string, id long, v long")
    out = conformal_interval(df, "grp", "id", "v", alpha_milli=100).collect()
    assert len(out) == 1
    r = out[0]

    def u60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    cal = [(i, v * 1000) for _, i, v in rows if u60(f"conf:{i}") % 2 == 0]
    test = [(i, v * 1000) for _, i, v in rows if u60(f"conf:{i}") % 2 == 1]
    s = sum(v for _, v in cal)
    yhat = (1 if s >= 0 else -1) * (abs(s) // len(cal))
    rs = sorted((abs(v - yhat), i) for i, v in cal)
    k = (900 * (len(cal) + 1) + 999) // 1000
    q = rs[k - 1][0]
    ncov = sum(1 for _, v in test if abs(v - yhat) <= q)
    assert (r.n_cal, r.n_test, r.yhat_milli, r.q_milli, r.n_covered) == (
        len(cal), len(test), yhat, q, ncov,
    )
    assert r.coverage_micro == (ncov * 1_000_000) // len(test)


def test_conformal_small_group_infinite_interval(spark):
    # k = ceil(0.9 * (n_cal + 1)) > n_cal for tiny calibration sets ->
    # NULL quantile, every test point covered (the honest answer)
    from egraphdb_spark.operators.behavior import conformal_interval

    rows = [("g", i, i) for i in range(6)]
    df = spark.createDataFrame(rows, "grp string, id long, v long")
    r = conformal_interval(df, "grp", "id", "v", alpha_milli=100).collect()[0]
    k = (900 * (r.n_cal + 1) + 999) // 1000
    assert k > r.n_cal
    assert r.q_milli is None
    assert r.n_covered == r.n_test
    if r.n_test:
        assert r.coverage_micro == 1_000_000


def test_conformal_alpha_guard_and_loose_coverage(spark):
    import pytest as _pytest

    from egraphdb_spark.operators.behavior import conformal_interval

    df = spark.createDataFrame([("g", 1, 1)], "grp string, id long, v long")
    with _pytest.raises(ValueError, match="alpha_milli"):
        conformal_interval(df, "grp", "id", "v", alpha_milli=0)
    # coverage sanity on a bigger i.i.d.-ish sample: within [0.8, 1.0]
    # for alpha = 0.1 (marginal guarantee is in expectation over splits)
    rows = [("g", i, (i * 131) % 997) for i in range(2000)]
    big = spark.createDataFrame(rows, "grp string, id long, v long")
    r = conformal_interval(big, "grp", "id", "v", alpha_milli=100).collect()[0]
    assert 800_000 <= r.coverage_micro <= 1_000_000


# ------------------------------------------------- round-10 ADVICE fixes


def test_cuped_decimal_bound_guard_raises_with_rescale_hint(spark):
    # r9 ADVICE: the documented DECIMAL(38,0) bound is now ENFORCED --
    # inputs whose moment products approach 38 digits must raise the
    # clear rescale error, not an opaque ANSI decimal overflow.
    from egraphdb_spark.operators.behavior import cuped_adjust

    big = 10**15
    rows = [
        ("a", big, big), ("a", 2 * big, 2 * big),
        ("b", 3 * big, 3 * big), ("b", 4 * big, 4 * big),
    ]
    df = spark.createDataFrame(rows, "arm string, x_cents long, y_cents long")
    with pytest.raises(Exception, match="DECIMAL"):
        cuped_adjust(df).collect()


def test_cuped_guard_is_silent_on_normal_inputs(spark):
    # the guard must not perturb the documented domain (cent-scale, 1e5
    # users): same hand-computed case as above still passes untouched
    from egraphdb_spark.operators.behavior import cuped_adjust

    rows = [("a", 10, 100), ("a", 20, 210), ("b", 25, 260), ("b", 31, 330)]
    df = spark.createDataFrame(rows, "arm string, x_cents long, y_cents long")
    out = {r.arm: r for r in cuped_adjust(df).collect()}
    assert out["a"].adj_mean_milli is not None
    assert out["b"].adj_mean_milli is not None


def test_conformal_calibrationless_group_is_omitted(spark):
    # r9 ADVICE: documented semantics -- a group whose rows ALL hash to
    # the test half has no predictor and is omitted from the output.
    import hashlib

    from egraphdb_spark.operators.behavior import conformal_interval

    def u60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    odd_ids = [i for i in range(2000) if u60(f"conf:{i}") % 2 == 1][:10]
    rows = [("present", i, i) for i in range(100)] + [
        ("calless", i, i) for i in odd_ids
    ]
    df = spark.createDataFrame(rows, "grp string, id long, v long")
    out = conformal_interval(df, "grp", "id", "v").collect()
    assert [r.grp for r in out] == ["present"]


def test_weighted_fusion_empty_rankings_raises_value_error(spark):
    # r9 ADVICE: empty input -> clear ValueError, not AttributeError
    from egraphdb_spark.operators.ranking import weighted_fusion

    with pytest.raises(ValueError, match="non-empty"):
        weighted_fusion([])
