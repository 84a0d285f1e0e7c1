"""Gopher quality rules, two-sample KS drift, seeded Laplace DP counts +
clipped DP mean, AMS F₂ sketch, k-center coreset (gates/text.py,
gates/sketch_sample.py).  Hand-computed
cases and defining invariants; oracle parity is test_parity.py's."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# ----------------------------------------------------------- gopher quality


def test_gopher_rules_hand_computed(spark):
    from egraphdb_spark.operators.text import gopher_quality

    rows = [
        # passes everything (default thresholds except min_words=5)
        (1, "the cat and the dog have fun with a ball of yarn"),
        # too short (bit 1) + no stopwords (bit 64)
        (2, "one two"),
        # symbol-heavy: '#' per word > 0.1 (bit 16); contains stopwords
        (3, "# # # the cat and dog # # # # play"),
        # non-alpha words dominate (bit 32): 1/5 alpha < 0.8; short (bit 1)
        (4, "12 34 56 78 the"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in gopher_quality(df, min_words=5, min_stop_hits=2).collect()
    }
    assert out[1].fail_mask == 0 and out[1].keep
    assert out[1].n_words == 12
    assert out[2].fail_mask & 1 and out[2].fail_mask & 64 and not out[2].keep
    assert out[3].fail_mask & 16
    # doc 3: 7 '#' chars over 12 words = 583333 micro > 100000
    assert out[3].symbol_ratio_micro == 7 * 1_000_000 // 12
    assert out[4].fail_mask & 32
    assert out[4].alpha_word_frac_micro == 1_000_000 // 5


def test_gopher_ellipsis_and_empty(spark):
    from egraphdb_spark.operators.text import gopher_quality

    rows = [(1, "wait... what... no..."), (2, ""), (3, "   ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in gopher_quality(df, min_words=1).collect()}
    # 3 '...' over 3 words = ratio 1.0 → bit 16
    assert out[1].symbol_ratio_micro == 1_000_000
    assert out[1].fail_mask & 16
    # empty/whitespace docs: 0 words → bit 1, ratios over the s=1 guard
    for d in (2, 3):
        assert out[d].n_words == 0
        assert out[d].fail_mask & 1


# ------------------------------------------------------------------ KS drift


def test_ks_hand_computed(spark):
    from egraphdb_spark.operators.profiling import ks_drift

    # ref: bucket 0 ×3, bucket 1 ×1   (CDF: .75, 1.0)
    # cur: bucket 0 ×1, bucket 1 ×3   (CDF: .25, 1.0)
    ref = spark.createDataFrame([(0,), (0,), (0,), (1,)], "b long")
    cur = spark.createDataFrame([(0,), (1,), (1,), (1,)], "b long")
    out = {r.bucket: r for r in ks_drift(ref, cur, "b").collect()}
    assert out[0].ks_contrib_micro == 500_000  # |3·4 − 1·4|·1e6 // 16
    assert out[1].ks_contrib_micro == 0
    assert out[0].ks_stat_micro == 500_000 == out[1].ks_stat_micro


def test_ks_identical_and_disjoint(spark):
    from egraphdb_spark.operators.profiling import ks_drift

    same = spark.createDataFrame([(i % 5,) for i in range(50)], "b long")
    out = ks_drift(same, same, "b").collect()
    assert all(r.ks_contrib_micro == 0 for r in out)
    # fully disjoint supports → D = 1
    lo = spark.createDataFrame([(0,), (1,)], "b long")
    hi = spark.createDataFrame([(9,), (10,)], "b long")
    out = ks_drift(lo, hi, "b").collect()
    assert max(r.ks_stat_micro for r in out) == 1_000_000


# ------------------------------------------------------------------ DP counts


def test_dp_counts_seeded_laplace(spark):
    from egraphdb_spark.operators.privacy import dp_group_counts

    rows = [(f"g{i % 20}", i) for i in range(200)]
    df = spark.createDataFrame(rows, "g string, x long")
    out = dp_group_counts(df, ["g"]).collect()
    assert len(out) == 20
    assert all(r.n == 10 for r in out)
    # reproducible: same salt → identical noise
    again = dp_group_counts(df, ["g"]).collect()
    assert [r.noise_micro for r in out] == [r.noise_micro for r in again]
    # a different salt decorrelates the draw
    other = dp_group_counts(df, ["g"], salt="dp2").collect()
    assert [r.noise_micro for r in out] != [r.noise_micro for r in other]
    # noisy = true·1e6 + noise, exactly
    assert all(
        r.noisy_count_micro == r.n * 1_000_000 + r.noise_micro for r in out
    )
    # Laplace(1/ε=1): median |noise| = ln(2) ≈ 0.693; with 20 draws just
    # sanity-check the magnitude envelope and that BOTH signs occur
    assert any(r.noise_micro > 0 for r in out)
    assert any(r.noise_micro < 0 for r in out)
    assert all(abs(r.noise_micro) < 20_000_000 for r in out)


def test_dp_counts_epsilon_scales_noise(spark):
    from egraphdb_spark.operators.privacy import dp_group_counts

    rows = [(f"g{i % 10}", i) for i in range(100)]
    df = spark.createDataFrame(rows, "g string, x long")
    tight = dp_group_counts(df, ["g"], epsilon_micro=2_000_000).collect()
    loose = dp_group_counts(df, ["g"], epsilon_micro=500_000).collect()
    # same hash draw, b = 1/ε → noise scales exactly by ε-ratio (up to
    # the final micro rounding)
    for a, b in zip(sorted(tight, key=lambda r: r.g0), sorted(loose, key=lambda r: r.g0)):
        assert abs(b.noise_micro - 4 * a.noise_micro) <= 4


# ------------------------------------------------------------------- AMS F₂


def test_ams_f2_hand_structure(spark):
    from egraphdb_spark.operators.sketches import ams_f2

    # frequency vector: a×4, b×2, c×1 → F₂ = 16+4+1 = 21
    rows = [("a",)] * 4 + [("b",)] * 2 + [("c",)]
    df = spark.createDataFrame(rows, "v string")
    out = ams_f2(df, "v", k=8).collect()
    assert len(out) == 8
    assert all(r.f2_exact == 21 for r in out)
    # every estimator is (±4 ±2 ±1)² ∈ {1, 9, 25, 49}
    assert all(r.est == r.s_i * r.s_i for r in out)
    assert all(r.est in (1, 9, 25, 49) for r in out)
    mean = sum(r.est for r in out) // 8
    assert all(r.f2_est_mean == mean for r in out)
    assert all(
        r.rel_err_micro == abs(mean - 21) * 1_000_000 // 21 for r in out
    )


def test_ams_f2_estimator_quality(spark):
    from egraphdb_spark.operators.sketches import ams_f2

    # Zipf-ish corpus: E[est] = F₂ and k=32 averaging should land the
    # mean within a loose factor-2 envelope (variance ≤ 2·F₂²/k)
    rows = [(f"w{j}",) for j in range(1, 60) for _ in range(60 // j)]
    df = spark.createDataFrame(rows, "v string")
    out = ams_f2(df, "v", k=32).collect()
    f2 = out[0].f2_exact
    mean = out[0].f2_est_mean
    assert f2 == sum((60 // j) ** 2 for j in range(1, 60))
    assert mean == pytest.approx(f2, rel=1.0)


def test_ks_one_side_empty_is_total_drift(spark):
    from egraphdb_spark.operators.profiling import ks_drift

    ref = spark.createDataFrame([(0,), (1,)], "b long")
    cur = ref.where(F.lit(False))
    out = ks_drift(ref, cur, "b").collect()
    assert len(out) == 2
    assert all(r.ks_contrib_micro == 1_000_000 for r in out)
    assert all(r.ks_stat_micro == 1_000_000 for r in out)


# ------------------------------------------------------------- k-center


def test_kcenter_structure_and_monotone(spark):
    from egraphdb_spark.operators.similarity import kcenter_coreset

    # 2-D unit vectors at known angles; seed = id 0, then farthest-first
    import math as m

    pts = [(i, [m.cos(a), m.sin(a)]) for i, a in
           [(0, 0.0), (1, 0.1), (2, 3.1), (3, 1.6), (4, 3.0)]]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    out = kcenter_coreset(df, "vec_id", "embedding", k=4).collect()
    assert [r.rank for r in out] == [0, 1, 2, 3]
    assert out[0].id == 0 and out[0].dist is None
    # farthest from id0 (angle 0) is angle 3.1 (id 2)
    assert out[1].id == 2
    # selection distances are non-increasing (Gonzalez invariant)
    ds = [r.dist for r in out[1:]]
    assert ds == sorted(ds, reverse=True)
    assert len({r.id for r in out}) == 4


def test_kcenter_k_exceeds_n_and_duplicates(spark):
    from egraphdb_spark.operators.similarity import kcenter_coreset

    pts = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    out = kcenter_coreset(df, "vec_id", "embedding", k=10).collect()
    # stops at n rows; duplicate of the seed is selected LAST (dist ~0)
    assert len(out) == 3
    assert [r.id for r in out] == [0, 2, 1]
    assert abs(out[2].dist) < 1e-5
    # empty input → empty typed frame
    assert kcenter_coreset(df.where("vec_id < 0"), "vec_id", "embedding").count() == 0


# ------------------------------------------------------------------ DP mean


def test_dp_mean_mechanics(spark):
    from egraphdb_spark.operators.privacy import dp_group_mean

    rows = [("a", float(v)) for v in range(100)] + [("b", 1e9), ("b", -50.0)]
    df = spark.createDataFrame(rows, "g string, x double")
    out = {r.g0: r for r in dp_group_mean(df, ["g"], "x", 0.0, 99.0).collect()}
    # clipping: group b's 1e9 clips to 99, -50 clips to 0
    assert out["b"].sum_clipped_cents == 9900
    assert out["a"].sum_clipped_cents == 100 * 4950  # Σ0..99 ·100
    # reproducible + epsilon-scaled like dp_group_counts
    again = {r.g0: r for r in dp_group_mean(df, ["g"], "x", 0.0, 99.0).collect()}
    assert out["a"].noise_sum_micro == again["a"].noise_sum_micro
    # dp mean of the large clean group lands near the true mean (49.5):
    # |noise_sum| ≤ ~6b_sum = 6·198 value-units, /100 rows → ±12 slack
    assert abs(out["a"].dp_mean_milli - 49_500) < 15_000
    # audit identity: mean = clamp(sum·1e6+noise,0)·10 div (n·1e6+noise)
    import decimal
    for r in out.values():
        num = max(r.sum_clipped_cents * 10**6 + r.noise_sum_micro, 0) * 10
        den = r.n * 10**6 + r.noise_cnt_micro
        assert r.dp_mean_milli == num // den


def test_dp_mean_noisy_count_nonpositive_is_null(spark):
    from egraphdb_spark.operators.privacy import dp_group_mean

    # tiny epsilon → huge count noise; single-row groups can go ≤ 0.
    # scan salts until one yields a NULL release (deterministic given salt)
    rows = [(f"g{i}", 1.0) for i in range(40)]
    df = spark.createDataFrame(rows, "g string, x double")
    for salt in ("s1", "s2", "s3", "s4"):
        out = dp_group_mean(
            df, ["g"], "x", 0.0, 1.0, epsilon_micro=10_000, salt=salt
        ).collect()
        if any(r.dp_mean_milli is None for r in out):
            break
    else:
        raise AssertionError("no NULL release found across salts")
    # and every non-null release is still the exact audit identity
    for r in out:
        if r.dp_mean_milli is not None:
            num = max(r.sum_clipped_cents * 10**6 + r.noise_sum_micro, 0) * 10
            den = r.n * 10**6 + r.noise_cnt_micro
            assert den > 0 and r.dp_mean_milli == num // den


# ------------------------------------------------------------- URL canon


def test_url_canonicalize_rules(spark):
    from egraphdb_spark.operators.text import url_canonicalize

    cases = {
        # case/port/tracking/order/fragment noise → one canonical form
        "HTTPS://Example.COM:443/a/b?utm_source=x&b=2&a=1#frag":
            "https://example.com/a/b?a=1&b=2",
        "https://example.com/a/b?a=1&b=2": "https://example.com/a/b?a=1&b=2",
        # empty path → '/', default http port stripped
        "HTTP://Example.com:80": "http://example.com/",
        "http://example.com/#x": "http://example.com/",
        # NON-default port preserved; click-id stripped
        "https://example.com:8443/x?fbclid=123&z=9":
            "https://example.com:8443/x?z=9",
        # bare '?' dropped; duplicate params preserved and sorted
        "http://EXAMPLE.com/path?": "http://example.com/path",
        "http://a.com/?b=2&b=1&a=3": "http://a.com/?a=3&b=1&b=2",
        # non-http(s) passes through untouched
        "ftp://example.com/raw": "ftp://example.com/raw",
        "mailto:a@b.c": "mailto:a@b.c",
        "not a url": "not a url",
    }
    df = spark.createDataFrame([(u,) for u in cases], "u string")
    out = {r.u: r.c for r in df.select("u", url_canonicalize("u").alias("c")).collect()}
    assert out == cases


# ------------------------------------------------------- diff-in-differences


def test_did_hand_computed(spark):
    from egraphdb_spark.operators.behavior import diff_in_diff

    # treat: 10 -> 14 (+4); control: 20 -> 21 (+1); DiD = +3.000
    rows = [
        ("treat", "pre", 10.0), ("treat", "post", 14.0),
        ("control", "pre", 20.0), ("control", "post", 21.0),
    ]
    df = spark.createDataFrame(rows, "c string, p string, v double")
    out = diff_in_diff(df, "c", "p", "v").collect()
    assert len(out) == 4
    assert all(r.did_milli == 3000 for r in out)
    cells = {(r.period, r.cohort): r for r in out}
    assert cells[("pre", "treat")].mean_milli == 10_000
    assert cells[("post", "treat")].sum_cents == 1400


def test_did_missing_cell_is_null(spark):
    from egraphdb_spark.operators.behavior import diff_in_diff

    # no control/post observations → effect undefined, not zero
    rows = [
        ("treat", "pre", 10.0), ("treat", "post", 14.0),
        ("control", "pre", 20.0),
    ]
    df = spark.createDataFrame(rows, "c string, p string, v double")
    out = diff_in_diff(df, "c", "p", "v").collect()
    assert len(out) == 3
    assert all(r.did_milli is None for r in out)
