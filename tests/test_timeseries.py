"""Unit tests: OHLC rollup, gap-fill/LOCF, readability."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from egraphdb_spark.operators.timeseries import gapfill_locf, ohlc_rollup
from egraphdb_spark.operators.text import readability_stats


def _ts(day, hour=0, minute=0):
    return dt.datetime(2024, 1, day, hour, minute)


# ---------------------------------------------------------------- OHLC


def test_ohlc_open_close_follow_total_order(spark):
    # Two events share ts 10:05 — event_id breaks the tie for open.
    rows = [
        ("a", _ts(1, 10, 5), 2, 3.00),
        ("a", _ts(1, 10, 5), 1, 1.00),  # open: same ts, lower id
        ("a", _ts(1, 10, 40), 3, 9.99),  # close
        ("a", _ts(1, 11, 0), 4, 5.00),  # next bucket
        ("b", _ts(1, 10, 30), 5, -2.50),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "eid", "value"])
    out = {
        (r["k"], r["bucket_ts"]): r
        for r in ohlc_rollup(df, "k", "ts", "value", "eid").collect()
    }
    a10 = out[("a", _ts(1, 10))]
    assert a10["open_cents"] == 100
    assert a10["close_cents"] == 999
    assert a10["high_cents"] == 999
    assert a10["low_cents"] == 100
    assert a10["n_events"] == 3
    assert a10["vol_cents"] == 100 + 300 + 999
    assert out[("a", _ts(1, 11))]["open_cents"] == 500
    b10 = out[("b", _ts(1, 10))]
    assert b10["open_cents"] == b10["close_cents"] == -250


def test_ohlc_single_event_bucket(spark):
    df = spark.createDataFrame([("a", _ts(2, 3), 1, 7.0)], ["k", "ts", "eid", "value"])
    [r] = ohlc_rollup(df, "k", "ts", "value", "eid").collect()
    assert (
        r["open_cents"]
        == r["close_cents"]
        == r["high_cents"]
        == r["low_cents"]
        == 700
    )
    assert r["n_events"] == 1 and r["vol_cents"] == 700


# ------------------------------------------------------------- gapfill


def test_gapfill_locf_carries_and_flags(spark):
    rows = [
        ("u1", _ts(1, 9), 1.00),
        ("u1", _ts(1, 15), 2.00),  # same day -> summed
        ("u1", _ts(4, 9), 5.00),  # days 2,3 are gaps
        ("u2", _ts(2, 9), 9.00),  # single-day key: 1-row grid
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "value"])
    out = gapfill_locf(df, "k", "ts", "value").orderBy("k", "day").collect()
    u1 = [r for r in out if r["k"] == "u1"]
    assert [r["day"].day for r in u1] == [1, 2, 3, 4]
    assert [r["cents"] for r in u1] == [300, None, None, 500]
    assert [r["filled_cents"] for r in u1] == [300, 300, 300, 500]
    assert [r["is_gap"] for r in u1] == [0, 1, 1, 0]
    u2 = [r for r in out if r["k"] == "u2"]
    assert len(u2) == 1 and u2[0]["is_gap"] == 0 and u2[0]["filled_cents"] == 900


def test_gapfill_first_day_always_observed(spark):
    # Grid starts at each key's own first observation -> filled never NULL.
    rows = [("u", _ts(d), float(d)) for d in (3, 9)]
    df = spark.createDataFrame(rows, ["k", "ts", "value"])
    out = gapfill_locf(df, "k", "ts", "value").collect()
    assert len(out) == 7
    assert all(r["filled_cents"] is not None for r in out)


# ---------------------------------------------------------- readability


def _read_rows(spark, docs):
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    return {r["doc_id"]: r for r in readability_stats(df, "doc_id", "text").collect()}


def test_readability_closed_form(spark):
    out = _read_rows(spark, [(1, "Hello world. It is sunny!")])
    r = out[1]
    # hello->2 (e,o), world.->1 (o), it->1, is->1, sunny!->2 (u,y)
    assert r["words"] == 5 and r["sentences"] == 2 and r["syllables"] == 7
    assert r["wps_milli"] == 2500  # 5*1000 div 2
    assert r["spw_milli"] == 1400  # 7*1000 div 5
    assert r["flesch_micro"] == 206_835_000 - 1015 * 2500 - 84_600 * 1400


def test_readability_empty_and_vowelless(spark):
    out = _read_rows(spark, [(1, "   \n\t "), (2, "xyz 123"), (3, "no stop")])
    r1 = out[1]
    assert r1["words"] == 0 and r1["sentences"] == 1 and r1["syllables"] == 0
    assert r1["spw_milli"] is None and r1["flesch_micro"] is None
    assert r1["wps_milli"] == 0
    r2 = out[2]  # vowel-less tokens count 1 syllable each ('xyz' has y!)
    assert r2["words"] == 2 and r2["syllables"] == 2
    r3 = out[3]  # no terminator -> 1 sentence
    assert r3["sentences"] == 1


def test_readability_long_sentences_score_lower(spark):
    short = " ".join(["it is."] * 20)  # 2-word sentences
    long = " ".join(["it"] * 39) + " is."  # one 40-word sentence
    out = _read_rows(spark, [(1, short), (2, long)])
    assert out[1]["flesch_micro"] > out[2]["flesch_micro"]


# ---------------------------------------------------------- changepoint


def _link_rest(d, have):
    import os

    for name in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        dst = os.path.join(d, f"{name}.parquet")
        if name not in have and not os.path.exists(dst):
            os.symlink(f"/root/testdata/sf0.001/{name}.parquet", dst)


def test_changepoint_locates_level_shift(spark):
    from egraphdb_spark.queries import REGISTRY
    import pyarrow as pa, pyarrow.parquet as pq, tempfile, os

    # 10 days at ~2/day then 10 days at ~8/day: CUSUM |peak| at the shift
    rows = []
    eid = 0
    for d in range(1, 21):
        for k in range(2 if d <= 10 else 8):
            rows.append((eid, dt.datetime(2024, 1, d, 8 + k), 1, "view", 1.0, "{}"))
            eid += 1
    d = tempfile.mkdtemp()
    t = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows]),
        }
    )
    pq.write_table(t, os.path.join(d, "events.parquet"))
    _link_rest(d, {"events"})
    fn, _ = REGISTRY["evt_changepoint"]
    [r] = fn(spark, d).collect()
    # mean = 5/day; by day 10 cusum = 10*(2-5)*1000 = -30000, the extremum
    assert r["cp_day"].day == 10
    assert r["cusum_milli"] == -30_000
    assert r["mean_milli"] == 5_000
    assert r["days"] == 20


# ------------------------------------------------------------- io / card


def test_orc_roundtrip_preserves_types_and_partitions(spark, tmp_path):
    from egraphdb_spark.sources.io import read_orc, write_orc

    df = spark.createDataFrame(
        [(1, "A", 1.5), (2, "B", -2.25), (3, "A", 0.0)], ["id", "seg", "bal"]
    )
    p = str(tmp_path / "orc")
    write_orc(df, p, partition_by=["seg"])
    back = read_orc(spark, p)
    assert {tuple(sorted(r.asDict().items())) for r in back.collect()} == {
        tuple(sorted(r.asDict().items())) for r in df.collect()
    }
    assert dict(back.dtypes)["id"] == "bigint" and dict(back.dtypes)["bal"] == "double"


def test_dataset_card_dup_rate(spark, tmp_path):
    import pyarrow as pa, pyarrow.parquet as pq, os
    from egraphdb_spark.queries import REGISTRY

    docs = [
        (1, "alpha beta gamma.", "en", "web", 17),
        (2, "alpha  beta\tgamma.", "en", "web", 18),  # ws-variant duplicate
        (3, "unique doc here!", "en", "web", 16),
        (4, "otro documento.", "es", "books", 15),
    ]
    t = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": pa.array([d[1] for d in docs]),
            "lang": pa.array([d[2] for d in docs]),
            "source": pa.array([d[3] for d in docs]),
            "n_chars": pa.array([d[4] for d in docs], pa.int64()),
        }
    )
    d = str(tmp_path)
    pq.write_table(t, os.path.join(d, "documents.parquet"))
    _link_rest(d, {"documents"})
    fn, _ = REGISTRY["pipe_dataset_card"]
    out = {(r["source"], r["lang"]): r for r in fn(spark, d).collect()}
    web = out[("web", "en")]
    assert web["n_docs"] == 3 and web["n_unique"] == 2
    assert web["dup_permille"] == 333
    assert web["total_tokens"] == 9
    assert out[("books", "es")]["dup_permille"] == 0


# --------------------------------------------------------- stream OHLC


def test_stream_ohlc_equals_batch_rollup(spark):
    """The streaming candles (watermark + tumbling window) must equal the
    batch rollup on the same data — epoch-aligned windows make them
    re-expressions of one computation."""
    from egraphdb_spark.queries import REGISTRY

    fn, _ = REGISTRY["stream_ohlc"]
    stream = {
        (r["event_type"], r["window_start"]): (
            r["open_cents"], r["high_cents"], r["low_cents"],
            r["close_cents"], r["n_events"], r["vol_cents"],
        )
        for r in fn(spark, "/root/testdata/sf0.001").collect()
    }
    from egraphdb_spark.graph import load_tables
    from egraphdb_spark.operators.timeseries import ohlc_rollup

    ev = load_tables(spark, "/root/testdata/sf0.001")["events"]
    batch = {
        (r["event_type"], r["bucket_ts"]): (
            r["open_cents"], r["high_cents"], r["low_cents"],
            r["close_cents"], r["n_events"], r["vol_cents"],
        )
        for r in ohlc_rollup(ev, "event_type", "ts", "value", "event_id").collect()
    }
    assert stream == batch and len(stream) > 0


# --------------------------------------------------------------- EWMA


def test_ewma_recurrence_closed_form(spark):
    from egraphdb_spark.operators.timeseries import ewma_daily

    # series 8, 0, 0: s1=8000, s2=8000+(0-8000)div 8=7000, s3=7000-875=6125
    rows = [("t", _ts(d, h), 1.0) for d in (1, 2, 3) for h in range(8 if d == 1 else 1)]
    # day1: 8 events, day2: 1, day3: 1 -> use counts 8,1,1
    df = spark.createDataFrame(
        [(k, t, v, i) for i, (k, t, v) in enumerate(rows)],
        ["k", "ts", "value", "eid"],
    )
    out = {r["day"].day: r for r in ewma_daily(df, "k", "ts").collect()}
    assert out[1]["ewma_milli"] == 8000
    # s2 = 8000 + (1000 - 8000) div 8 = 8000 + (-875) = 7125
    assert out[2]["ewma_milli"] == 7125
    # s3 = 7125 + (1000 - 7125) div 8 = 7125 - 765 = 6360
    assert out[3]["ewma_milli"] == 6360
    assert [out[d]["n"] for d in (1, 2, 3)] == [8, 1, 1]


def test_ewma_converges_to_constant_level(spark):
    from egraphdb_spark.operators.timeseries import ewma_daily

    rows = [("t", _ts(d, h), 1.0) for d in range(1, 25) for h in range(4)]
    df = spark.createDataFrame(
        [(k, t, v) for (k, t, v) in rows], ["k", "ts", "value"]
    )
    out = sorted(ewma_daily(df, "k", "ts").collect(), key=lambda r: r["day"])
    # constant 4/day -> s stays pinned at 4000 from day 1
    assert all(r["ewma_milli"] == 4000 for r in out)


# ---------------------------------------------------- A/B test + CCNet


def test_ab_test_closed_form(spark, tmp_path):
    import math
    import pyarrow as pa, pyarrow.parquet as pq, os
    from egraphdb_spark.queries import REGISTRY

    # arm A (even users): 1 of 2 convert; arm B (odd): 2 of 2 convert
    rows = []
    eid = 0
    for u, n_purch in [(0, 12), (2, 1), (1, 12), (3, 13)]:
        for k in range(n_purch):
            rows.append((eid, dt.datetime(2024, 1, 1 + k % 20, 8), u, "purchase", 1.0, "{}"))
            eid += 1
    t = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows]),
        }
    )
    d = str(tmp_path)
    pq.write_table(t, os.path.join(d, "events.parquet"))
    _link_rest(d, {"events"})
    fn, _ = REGISTRY["evt_ab_test"]
    [r] = fn(spark, d).collect()
    assert (r["n_a"], r["conv_a"], r["n_b"], r["conv_b"]) == (2, 1, 2, 2)
    assert r["cr_a_permille"] == 500 and r["cr_b_permille"] == 1000
    p = 3 / 4
    se = math.sqrt(p * (1 - p) * (1 / 2 + 1 / 2))
    assert r["z6"] == round((0.5 - 1.0) / se, 6)


def test_ccnet_buckets_tercile_split_and_empty(spark, tmp_path):
    import pyarrow as pa, pyarrow.parquet as pq, os
    from egraphdb_spark.queries import REGISTRY

    # 'common common' scores best (frequent token), rare tokens worst
    docs = [
        (1, "common common common common", "en", "web", 10),
        (2, "common common rare1", "en", "web", 10),
        (3, "rare2 rare3 rare4", "en", "web", 10),
        (4, "   ", "en", "web", 3),  # tokenless -> empty bucket
    ]
    t = pa.table(
        {
            "doc_id": pa.array([x[0] for x in docs], pa.int64()),
            "text": pa.array([x[1] for x in docs]),
            "lang": pa.array([x[2] for x in docs]),
            "source": pa.array([x[3] for x in docs]),
            "n_chars": pa.array([x[4] for x in docs], pa.int64()),
        }
    )
    d = str(tmp_path)
    pq.write_table(t, os.path.join(d, "documents.parquet"))
    _link_rest(d, {"documents"})
    fn, _ = REGISTRY["pipe_ccnet_buckets"]
    out = {r["doc_id"]: r["bucket"] for r in fn(spark, d).collect()}
    assert out[1] == "head" and out[4] == "empty"
    assert out[3] == "tail"
    assert set(out.values()) >= {"head", "tail", "empty"}


def test_holt_constant_series_level_only(spark):
    """A constant daily series keeps level = n·1000 and trend = 0, so the
    forecast equals the level."""
    from datetime import datetime

    from egraphdb_spark.operators.timeseries import holt_daily

    rows = [
        (i * 10 + j, datetime(2024, 1, 1 + i, 3), "a")
        for i in range(6)
        for j in range(4)
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = holt_daily(ev, "event_type", "ts").orderBy("day").collect()
    assert all(r.level_milli == 4000 and r.trend_milli == 0 for r in out)
    assert all(r.forecast_milli == 4000 for r in out)


def test_holt_matches_python_recurrence(spark):
    """Bit-exact vs the integer recurrence on a trending + noisy series."""
    from datetime import datetime

    from egraphdb_spark.operators.timeseries import holt_daily

    counts = [3, 5, 8, 13, 11, 20, 25, 24, 40, 1]
    rows = []
    eid = 0
    for i, n in enumerate(counts):
        for _ in range(n):
            rows.append((eid, datetime(2024, 2, 1 + i, 12), "x"))
            eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = holt_daily(ev, "event_type", "ts", alpha_den=8, beta_den=4).orderBy(
        "day"
    ).collect()

    def intdiv(a, d):  # truncation toward zero (Spark div)
        q = abs(a) // d
        return q if a >= 0 else -q

    l, b = counts[0] * 1000, 0
    ref = [(l, b)]
    for n in counts[1:]:
        nl = (l + b) + intdiv(n * 1000 - (l + b), 8)
        nb = b + intdiv((nl - l) - b, 4)
        l, b = nl, nb
        ref.append((l, b))
    got = [(r.level_milli, r.trend_milli) for r in out]
    assert got == ref
    assert all(r.forecast_milli == r.level_milli + r.trend_milli for r in out)


def test_seasonal_dow_flat_series_is_1000(spark):
    """A constant daily series has index 1000 on every weekday."""
    from datetime import datetime

    from egraphdb_spark.operators.timeseries import seasonal_dow

    rows = [
        (i * 10 + j, datetime(2024, 3, 1 + i, 9), "x")
        for i in range(14)
        for j in range(3)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string"
    )
    out = seasonal_dow(ev, "event_type", "ts").collect()
    assert len(out) == 7
    assert all(r.index_permille == 1000 for r in out)
    assert all(r.n_days == 2 and r.n_events == 6 for r in out)


def test_seasonal_dow_weekend_spike(spark):
    """Doubling one weekday's volume doubles its index relative to a
    flat baseline, with the exact integer-division value."""
    from datetime import date, datetime

    from egraphdb_spark.operators.timeseries import seasonal_dow

    rows = []
    eid = 0
    for i in range(14):
        d = date(2024, 3, 1 + i)
        dow = (d - date(1970, 1, 1)).days % 7
        n = 8 if dow == 2 else 4
        for _ in range(n):
            rows.append((eid, datetime(d.year, d.month, d.day, 12), "x"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string"
    )
    out = {r.dow: r for r in seasonal_dow(ev, "event_type", "ts").collect()}
    total_days, total_events = 14, 6 * 2 * 4 + 2 * 8
    for dow, r in out.items():
        per_day = 8 if dow == 2 else 4
        expect = (per_day * r.n_days * total_days * 1000) // (
            r.n_days * total_events
        )
        assert r.index_permille == expect, (dow, r)
    assert out[2].index_permille > 1500 > out[0].index_permille


def test_lag_corr_detects_shifted_series(spark):
    """y(d+1) = x(d) exactly ⇒ r = 1.0 at lag +1 and |r| < 1 elsewhere."""
    from datetime import datetime, timedelta

    from egraphdb_spark.operators.timeseries import lag_corr_daily

    base = datetime(2024, 5, 1, 10)
    xs = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8]
    rows = []
    eid = 0
    for i, n in enumerate(xs):
        for _ in range(n):
            rows.append((eid, base + timedelta(days=i), "click"))
            eid += 1
        for _ in range(n):
            rows.append((eid, base + timedelta(days=i + 1), "purchase"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string"
    )
    out = {
        r.lag: r
        for r in lag_corr_daily(
            ev, "ts", "event_type", "click", "purchase", max_lag=2
        ).collect()
    }
    assert out[1].corr == 1.0
    assert out[1].n_days == len(xs)
    for lag in (-2, -1, 0, 2):
        assert out[lag].corr is None or abs(out[lag].corr) < 1.0


def test_lag_corr_constant_series_null(spark):
    """Zero variance on either side ⇒ NULL correlation, not a crash
    (ANSI division guard)."""
    from datetime import datetime, timedelta

    from egraphdb_spark.operators.timeseries import lag_corr_daily

    base = datetime(2024, 5, 1, 10)
    rows = []
    eid = 0
    for i in range(6):
        for _ in range(4):  # constant x
            rows.append((eid, base + timedelta(days=i), "click"))
            eid += 1
        for _ in range(i + 1):  # varying y
            rows.append((eid, base + timedelta(days=i), "purchase"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string"
    )
    out = lag_corr_daily(
        ev, "ts", "event_type", "click", "purchase", max_lag=1
    ).collect()
    assert any(r.lag == 0 and r.corr is None for r in out)


def test_holt_winters_matches_python_reference_with_gaps(spark):
    """Gappy series (missing days count 0 after densification) replayed
    against a pure-Python fold of the same integer recurrence."""
    import datetime as dt

    from egraphdb_spark.operators.timeseries import holt_winters_daily

    # 20 days, several missing, one weekly spike pattern
    base = dt.datetime(2024, 1, 1)
    days = [0, 1, 2, 4, 5, 7, 8, 9, 11, 14, 15, 16, 18, 19]
    rows = []
    eid = 0
    for d in days:
        n = 3 + (4 if d % 7 == 0 else 0)  # Mondays spike
        for _ in range(n):
            rows.append((eid, base + dt.timedelta(days=d, hours=eid % 5), "t"))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    got = {
        r.day.date(): (r.n, r.level_milli, r.trend_milli, r.season_milli,
                       r.forecast_milli)
        for r in holt_winters_daily(df, "event_type", "ts").collect()
    }

    # python reference: dense day grid, integer div (truncate toward 0)
    def idiv(x, d):
        q = abs(x) // d
        return q if x >= 0 else -q

    counts = {d: (3 + (4 if d % 7 == 0 else 0)) for d in days}
    full = range(min(days), max(days) + 1)
    hist = []  # (l, b, s)
    expect = {}
    for t, d in enumerate(full):
        n = counts.get(d, 0)
        if t == 0:
            l, b, s = n * 1000, 0, 0
            f = l
        else:
            pl, pb = hist[-1][0], hist[-1][1]
            s7 = hist[-7][2] if len(hist) >= 7 else 0
            s6 = hist[-6][2] if len(hist) >= 6 else 0
            l = (pl + pb) + idiv(n * 1000 - s7 - (pl + pb), 8)
            b = pb + idiv((l - pl) - pb, 4)
            s = s7 + idiv(n * 1000 - l - s7, 4)
            f = l + b + s6
        hist.append((l, b, s))
        expect[(base + dt.timedelta(days=d)).date()] = (n, l, b, s, f)
    assert got == expect
