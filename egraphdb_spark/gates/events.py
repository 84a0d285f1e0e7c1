"""Event-analytics gates over the events table: funnels, retention,
sessions, time series and experiment statistics.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..graph import _t
from .io_stream import O_SESSION_WINDOW


def q_evt_window_hourly(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.expr("cast(sum(cast(value as decimal(18,6))) as double)").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


O_EVT_WINDOW = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
       count(*) AS n,
       cast(sum(cast(value as decimal(18,6))) as double) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_evt_session_window(spark, sf_dir):
    """Session windows (30-min gap) per user over the events table."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
        )
    )


def q_evt_props_json(spark, sf_dir):
    """Schemaless JSON props extraction + aggregation (the reference's
    nested-path read, P1, applied to the event stream)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").try_cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


O_EVT_PROPS = """
SELECT event_type,
       count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


def q_evt_rollup_cascade(spark, sf_dir):
    """Hypertable-style cascading rollup: minute-grain partial aggregates
    re-aggregated to hour grain.  The point at scale: the hourly (and
    daily, weekly…) materializations are computed from the next-finer
    rollup, never from raw events — decimal-exact sums compose, so the
    cascade is lossless (oracle aggregates straight from raw)."""
    ev = _t(spark, sf_dir, "events")
    minute = (
        ev.groupBy(
            F.date_trunc("minute", "ts").alias("m"), "event_type"
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_dec"),
        )
    )
    hour = (
        minute.groupBy(F.date_trunc("hour", "m").alias("window_start"), "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_dec").cast("double").alias("sum_value"),
        )
    )
    return hour


O_EVT_ROLLUP = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n,
       cast(sum(cast(value as decimal(18,2))) as double) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_evt_transitions(spark, sf_dir):
    """Per-user event-sequence transition matrix (Markov-chain prep): one
    lead() window over (user_id, event-time) → pair counts + distinct-user
    support per transition.  One Exchange on user_id for the window; the
    tiny (type, next_type) aggregation reuses map-side combine.  At scale
    the events table is already bucketed by user_id, making the window
    shuffle-free."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("event_type").over(w)
    return (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", nxt)
        .where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("event_type", "next_type")
    )


O_EVT_TRANSITIONS = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
)
SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM seq WHERE next_type IS NOT NULL
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_evt_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-activity week,
    distinct-user counts at each later week offset — the standard
    product-analytics triangle.  All derivation is integer/date arithmetic
    (datediff div 7), so the matrix is engine-exact.  Scale: one
    per-user min (map-side combined), one distinct-count per cell."""
    ev = _t(spark, sf_dir, "events")
    # cohort keys stay TIMESTAMP on both engines: Spark DateType surfaces
    # as datetime.date objects in pandas while DuckDB DATE surfaces as
    # datetime64 — a driver-hash mismatch even for identical days
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    return (
        act.join(first, "user_id")
        .groupBy(
            "cohort_week",
            F.expr("datediff(week, cohort_week) div 7").alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


O_EVT_RETENTION = """
WITH first AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id
),
act AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
)
SELECT cohort_week,
       CAST(datediff('day', cohort_week, week) // 7 AS BIGINT) AS week_offset,
       count(DISTINCT user_id) AS n_users
FROM act JOIN first USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_evt_spikes(spark, sf_dir):
    """Hourly spike detection per event type: hours whose count more than
    doubles the mean of the trailing 24 OBSERVED hours (ROWS window on
    both engines, so gap hours shift rather than shrink the baseline),
    with a full trailing window required.
    The comparison is cross-multiplied (24·count > 2·trailing_sum) so no
    engine divides — integer-exact anomaly flags.  Scale: one hourly
    aggregate, one bounded window per event type."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("hour").rowsBetween(-24, -1)
    flagged = hourly.select(
        "event_type",
        "hour",
        "n",
        F.sum("n").over(w).alias("trail_sum"),
        F.count("n").over(w).alias("trail_n"),
    )
    return (
        flagged.where(
            (F.col("trail_n") == 24) & (F.col("n") * 24 > F.col("trail_sum") * 2)
        )
        .select("event_type", "hour", "n", "trail_sum")
        .orderBy("event_type", "hour")
    )


O_EVT_SPIKES = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
  FROM events GROUP BY 1, 2
),
flagged AS (
  SELECT event_type, hour, n,
         CAST(sum(n) OVER w AS BIGINT) AS trail_sum, count(n) OVER w AS trail_n
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, hour, n, trail_sum
FROM flagged WHERE trail_n = 24 AND n * 24 > trail_sum * 2
ORDER BY event_type, hour
"""


def q_evt_active_users_7d(spark, sf_dir):
    """Trailing-7-day distinct active users per day (rolling WAU).

    Spark windows cannot COUNT(DISTINCT) over a frame; the distributed
    rewrite is the contribution explode: each distinct (user, day) pair
    contributes to the 7 report days [day, day+6], then one
    count(DISTINCT) per observed report day.  O(7·|pairs|) rows through
    the shuffle — linear in activity, no per-day rescans, no range join;
    the observed-day filter is a broadcast semi-join (|days| is tiny)."""
    ev = _t(spark, sf_dir, "events")
    pairs = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    days = pairs.select(F.col("day").alias("report_day")).distinct()
    cand = pairs.select(
        "user_id",
        F.explode(
            F.expr("sequence(day, day + interval 6 days, interval 1 day)")
        ).alias("report_day"),
    )
    return (
        cand.join(F.broadcast(days), "report_day", "left_semi")
        .groupBy("report_day")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("report_day")
    )


O_EVT_ACTIVE_USERS = """
WITH pairs AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
),
days AS (SELECT DISTINCT day AS report_day FROM pairs),
cand AS (
  SELECT user_id, day + to_days(CAST(t.d AS INT)) AS report_day
  FROM pairs, unnest(range(0, 7)) AS t(d)
)
SELECT report_day, count(DISTINCT user_id) AS active_users
FROM cand SEMI JOIN days USING (report_day)
GROUP BY report_day ORDER BY report_day
"""


def q_evt_stickiness(spark, sf_dir):
    """DAU/MAU stickiness per day — the engagement ratio product
    analytics tracks.  Same distributed rewrite as the rolling WAU (no
    COUNT(DISTINCT) window frame exists): each distinct (user, day) pair
    contributes to the 28 report days [day, day+27] for MAU and to its
    own day for DAU; one count(DISTINCT) aggregate each, inner-joined on
    the observed days.  O(28·|pairs|) shuffle rows, linear in activity;
    stickiness in exact integer permille (MAU ≥ DAU ≥ 1 on observed
    days, so the division is total)."""
    ev = _t(spark, sf_dir, "events")
    pairs = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    days = pairs.select(F.col("day").alias("report_day")).distinct()
    dau = (
        pairs.groupBy(F.col("day").alias("report_day"))
        .agg(F.countDistinct("user_id").alias("dau"))
    )
    mau = (
        pairs.select(
            "user_id",
            F.explode(
                F.expr("sequence(day, day + interval 27 days, interval 1 day)")
            ).alias("report_day"),
        )
        .join(F.broadcast(days), "report_day", "left_semi")
        .groupBy("report_day")
        .agg(F.countDistinct("user_id").alias("mau"))
    )
    return (
        dau.join(mau, "report_day")
        .select(
            "report_day", "dau", "mau",
            F.expr("(1000 * dau) div mau").alias("stickiness_permille"),
        )
        .orderBy("report_day")
    )


O_EVT_STICKINESS = """
WITH pairs AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
),
days AS (SELECT DISTINCT day AS report_day FROM pairs),
dau AS (
  SELECT day AS report_day, count(DISTINCT user_id) AS dau
  FROM pairs GROUP BY 1
),
cand AS (
  SELECT user_id, day + to_days(CAST(t.d AS INT)) AS report_day
  FROM pairs, unnest(range(0, 28)) AS t(d)
),
mau AS (
  SELECT report_day, count(DISTINCT user_id) AS mau
  FROM cand SEMI JOIN days USING (report_day)
  GROUP BY report_day
)
SELECT report_day, dau, mau, (1000 * dau) // mau AS stickiness_permille
FROM dau JOIN mau USING (report_day) ORDER BY report_day
"""


def q_evt_wau_hll(spark, sf_dir):
    """Sliding 7-day actives per day via merged HLL registers — the
    sketch twin of `evt_active_users_7d`: per-day registers max-merge
    across the window, so shuffle volume is days×256 rows regardless of
    user count (the exact explode carries 7·|user-day pairs|)."""
    from ..operators import sketches

    ev = _t(spark, sf_dir, "events")
    return sketches.hll_sliding_distinct(ev, "user_id", "ts", p=8, window_days=7)


def _wau_hll_oracle():
    from ..operators.sketches import hll_sliding_oracle_sql

    return hll_sliding_oracle_sql("events", "user_id", "ts", p=8, window_days=7)


O_EVT_WAU_HLL = _wau_hll_oracle()


def q_evt_ohlc(spark, sf_dir):
    """Hourly OHLC candles per event type — the hypertable continuous-
    aggregate rollup over the events stream (TimescaleDB time_bucket /
    InfluxDB windowed first-last analogue).  Values quantized to integer
    cents before aggregation; open/close picked by the (ts, event_id)
    total order via min_by/max_by struct keys — one map-side-combinable
    hash aggregate, no window, no per-bucket sort."""
    from ..operators.timeseries import ohlc_rollup

    ev = _t(spark, sf_dir, "events")
    return ohlc_rollup(
        ev, "event_type", "ts", "value", "event_id", bucket="hour"
    ).orderBy("event_type", "bucket_ts")


O_EVT_OHLC = """
WITH b AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
         CAST(round(value * 100) AS BIGINT) AS cents, ts, event_id
  FROM events
), w AS (
  SELECT event_type, bucket_ts, cents,
         first_value(cents) OVER win AS o,
         last_value(cents)  OVER win AS c
  FROM b
  WINDOW win AS (PARTITION BY event_type, bucket_ts ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT event_type, bucket_ts,
       min(o) AS open_cents,
       max(cents) AS high_cents,
       min(cents) AS low_cents,
       min(c) AS close_cents,
       count(*) AS n_events,
       CAST(sum(cents) AS BIGINT) AS vol_cents
FROM w GROUP BY event_type, bucket_ts
ORDER BY event_type, bucket_ts
"""


def q_evt_gapfill_locf(spark, sf_dir):
    """Daily per-user spend on a DENSE calendar with last-observation-
    carried-forward (time_bucket_gapfill + locf): each user's grid spans
    their own [first, last] observed day via a sequence explode (no
    driver calendar), gap days carry the latest daily total and are
    flagged.  Per-user series are genuinely sparse at every SF (~12% gap
    days on this corpus) so the carry-forward path is exercised; the
    LOCF window partitions by user — per-key parallel at any scale.
    The user_id % 7 probe subset keeps the gate fast; the operator is
    linear in users either way."""
    from ..operators.timeseries import gapfill_locf

    ev = _t(spark, sf_dir, "events").where(F.col("user_id") % 7 == 0)
    return gapfill_locf(ev, "user_id", "ts", "value").orderBy(
        "user_id", "day"
    )


O_EVT_GAPFILL = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE user_id % 7 = 0 GROUP BY 1, 2
),
span AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
),
grid AS (
  SELECT user_id, CAST(t.d AS TIMESTAMP) AS day
  FROM span, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS t(d)
),
j AS (
  SELECT g.user_id, g.day, daily.cents
  FROM grid g LEFT JOIN daily
    ON daily.user_id = g.user_id AND daily.day = g.day
)
SELECT user_id, day, cents,
       last_value(cents IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents,
       CAST(CASE WHEN cents IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
FROM j ORDER BY user_id, day
"""


def q_evt_ab_test(spark, sf_dir):
    """Two-proportion A/B z-test on heavy-purchaser conversion
    (>= 12 purchase events — every user buys at least once on this
    corpus, so plain any-purchase is degenerate at p = 1), arms by
    user_id parity: per-user conversion flags (exact integers), pooled
    standard error, z rounded to 6 places (round half-up agrees across
    engines; the double chain is written with IDENTICAL operation order
    on both sides, each IEEE step correctly rounded).  Degenerate arms
    (empty, or pooled p ∈ {0,1} ⇒ se = 0) yield NULL z via nullif on
    both engines.  One events scan, two tiny aggregates."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.when(
            F.count(F.when(F.col("event_type") == "purchase", 1)) >= 12, 1
        )
        .otherwise(0)
        .alias("conv")
    )
    arms = per_user.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count("*").alias("n"), F.sum("conv").cast("long").alias("c")
    )
    wide = arms.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n"))).cast("long").alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("c"))).cast("long").alias("conv_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("n"))).cast("long").alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("c"))).cast("long").alias("conv_b"),
    )
    return wide.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.expr("conv_a * 1000 div n_a").alias("cr_a_permille"),
        F.expr("conv_b * 1000 div n_b").alias("cr_b_permille"),
        F.expr(
            "round((conv_a / cast(n_a as double) - conv_b / cast(n_b as double))"
            " / nullif(sqrt(((conv_a + conv_b) / cast(n_a + n_b as double))"
            " * (1.0 - (conv_a + conv_b) / cast(n_a + n_b as double))"
            " * (1.0 / n_a + 1.0 / n_b)), 0.0), 6)"
        ).alias("z6"),
    )


O_EVT_AB_TEST = """
WITH per_user AS (
  SELECT user_id,
         CASE WHEN count(CASE WHEN event_type = 'purchase' THEN 1 END) >= 12
              THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY user_id
),
arms AS (
  SELECT user_id % 2 AS arm, count(*) AS n, CAST(sum(conv) AS BIGINT) AS c
  FROM per_user GROUP BY 1
),
wide AS (
  SELECT CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN arm = 0 THEN c END) AS BIGINT) AS conv_a,
         CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN arm = 1 THEN c END) AS BIGINT) AS conv_b
  FROM arms
)
SELECT n_a, conv_a, n_b, conv_b,
       conv_a * 1000 // n_a AS cr_a_permille,
       conv_b * 1000 // n_b AS cr_b_permille,
       round((conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE))
             / nullif(sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
             * (1.0 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
             * (1.0 / n_a + 1.0 / n_b)), 0.0), 6) AS z6
FROM wide
"""


def q_evt_ewma(spark, sf_dir):
    """EWMA (α = 1/8) of the daily count series per event type — the
    smoothing recurrence no window frame expresses, via the bounded-
    series fold pattern (collect-sort-fold per key, integer div
    arithmetic); the oracle replays the identical recurrence with a
    recursive CTE."""
    from ..operators.timeseries import ewma_daily

    ev = _t(spark, sf_dir, "events")
    return ewma_daily(ev, "event_type", "ts", alpha_den=8).orderBy(
        "event_type", "day"
    )


O_EVT_EWMA = """
WITH RECURSIVE daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, day, CAST(n AS BIGINT) AS n,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
  FROM daily
),
r AS (
  SELECT event_type, day, n, i, n * 1000 AS s FROM idx WHERE i = 1
  UNION ALL
  SELECT idx.event_type, idx.day, idx.n, idx.i,
         r.s + (idx.n * 1000 - r.s) // 8
  FROM r JOIN idx ON idx.event_type = r.event_type AND idx.i = r.i + 1
)
SELECT event_type, day, n, CAST(s AS BIGINT) AS ewma_milli
FROM r ORDER BY event_type, day
"""


def q_evt_holt(spark, sf_dir):
    """Holt double-exponential smoothing (α = 1/8, β = 1/4) of the daily
    count series per event type, with the 1-day-ahead forecast — the
    trend-aware extension of evt_ewma, same bounded-series fold, same
    integer div recurrence; the oracle replays level AND trend with a
    recursive CTE."""
    from ..operators.timeseries import holt_daily

    ev = _t(spark, sf_dir, "events")
    return holt_daily(
        ev, "event_type", "ts", alpha_den=8, beta_den=4, forecast_days=1
    ).orderBy("event_type", "day")


O_EVT_HOLT = """
WITH RECURSIVE daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, day, CAST(n AS BIGINT) AS n,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
  FROM daily
),
r AS (
  SELECT event_type, day, n, i, n * 1000 AS l, CAST(0 AS BIGINT) AS b
  FROM idx WHERE i = 1
  UNION ALL
  SELECT idx.event_type, idx.day, idx.n, idx.i,
         (r.l + r.b) + (idx.n * 1000 - (r.l + r.b)) // 8,
         r.b + ((((r.l + r.b) + (idx.n * 1000 - (r.l + r.b)) // 8) - r.l)
                - r.b) // 4
  FROM r JOIN idx ON idx.event_type = r.event_type AND idx.i = r.i + 1
)
SELECT event_type, day, n, CAST(l AS BIGINT) AS level_milli,
       CAST(b AS BIGINT) AS trend_milli,
       CAST(l + 1 * b AS BIGINT) AS forecast_milli
FROM r ORDER BY event_type, day
"""


def q_evt_holt_winters(spark, sf_dir):
    """Additive Holt-Winters (α=1/8, β=1/4, γ=1/4, weekly season) of the
    per-type daily count series over the DENSIFIED calendar — the
    seasonal member of the smoothing ladder; the oracle replays level,
    trend AND the seven season slots (a rolling list in the recursive
    CTE) with identical integer div arithmetic."""
    from ..operators.timeseries import holt_winters_daily

    ev = _t(spark, sf_dir, "events")
    return holt_winters_daily(
        ev, "event_type", "ts", alpha_den=8, beta_den=4, gamma_den=4
    ).orderBy("event_type", "day")


O_EVT_HOLT_WINTERS = """
WITH RECURSIVE daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
span AS (
  SELECT event_type, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
),
grid AS (
  SELECT event_type, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM span
),
dense AS (
  SELECT g.event_type, g.day, COALESCE(d.n, 0) AS n
  FROM grid g LEFT JOIN daily d
    ON g.event_type = d.event_type AND g.day = d.day
),
idx AS (
  SELECT event_type, day, n,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
  FROM dense
),
r AS (
  SELECT event_type, day, n, i,
         n * 1000 AS l, CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS s,
         n * 1000 AS f,
         CAST([0, 0, 0, 0, 0, 0, 0] AS BIGINT[]) AS sl
  FROM idx WHERE i = 1
  UNION ALL
  SELECT idx.event_type, idx.day, idx.n, idx.i,
         (r.l + r.b) + (idx.n * 1000 - r.sl[1] - (r.l + r.b)) // 8
           AS l2,
         r.b + ((((r.l + r.b) + (idx.n * 1000 - r.sl[1] - (r.l + r.b)) // 8)
                 - r.l) - r.b) // 4,
         r.sl[1] + (idx.n * 1000
                    - ((r.l + r.b)
                       + (idx.n * 1000 - r.sl[1] - (r.l + r.b)) // 8)
                    - r.sl[1]) // 4,
         ((r.l + r.b) + (idx.n * 1000 - r.sl[1] - (r.l + r.b)) // 8)
           + (r.b + ((((r.l + r.b)
                       + (idx.n * 1000 - r.sl[1] - (r.l + r.b)) // 8)
                      - r.l) - r.b) // 4)
           + r.sl[2],
         r.sl[2:7] || [r.sl[1] + (idx.n * 1000
                    - ((r.l + r.b)
                       + (idx.n * 1000 - r.sl[1] - (r.l + r.b)) // 8)
                    - r.sl[1]) // 4]
  FROM r JOIN idx ON idx.event_type = r.event_type AND idx.i = r.i + 1
)
SELECT event_type, day, n, CAST(l AS BIGINT) AS level_milli,
       CAST(b AS BIGINT) AS trend_milli, CAST(s AS BIGINT) AS season_milli,
       CAST(f AS BIGINT) AS forecast_milli
FROM r ORDER BY event_type, day
"""


def q_evt_forecast_mae(spark, sf_dir):
    """Rolling-origin backtest of the Holt 1-day-ahead forecast: each
    day's forecast meets the NEXT day's actual (per-type lag window over
    the daily grid), scored as MAE and bias in exact integer milli —
    the accuracy ledger that decides whether the smoother is usable for
    capacity planning.  Composes holt_daily; one extra window + one
    aggregate over the (types × days)-sized frame."""
    from pyspark.sql import Window

    from ..operators.timeseries import holt_daily

    ev = _t(spark, sf_dir, "events")
    h = holt_daily(ev, "event_type", "ts", alpha_den=8, beta_den=4,
                   forecast_days=1)
    w = Window.partitionBy("event_type").orderBy("day")
    scored = h.select(
        "event_type", "day", "n",
        F.lag("forecast_milli").over(w).alias("f_prev"),
    ).where(F.col("f_prev").isNotNull())
    return (
        scored.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum(F.abs(F.col("n") * 1000 - F.col("f_prev")))
            .cast("long").alias("abs_err_milli"),
            F.sum(F.col("n") * 1000 - F.col("f_prev"))
            .cast("long").alias("bias_milli"),
        )
        .select(
            "event_type", "n_days",
            F.expr("abs_err_milli div n_days").alias("mae_milli"),
            F.expr("bias_milli div n_days").alias("mean_bias_milli"),
        )
        .orderBy("event_type")
    )


def _forecast_mae_oracle() -> str:
    holt_core = O_EVT_HOLT[O_EVT_HOLT.index("WITH RECURSIVE"):
                           O_EVT_HOLT.rindex("SELECT event_type")]
    return f"""{holt_core},
scored AS (
  SELECT event_type, n,
         lag(l + 1 * b) OVER (PARTITION BY event_type ORDER BY day) AS f_prev
  FROM r
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(abs(n * 1000 - f_prev)) AS BIGINT) // count(*) AS mae_milli,
       CAST(sum(n * 1000 - f_prev) AS BIGINT) // count(*)
         AS mean_bias_milli
FROM scored WHERE f_prev IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


O_EVT_FORECAST_MAE = _forecast_mae_oracle()


def q_evt_survival_km(spark, sf_dir):
    """Kaplan-Meier user-lifetime survival with 7-day censoring — churn
    analytics that does NOT count still-active users as deaths; integer
    micro product-limit recurrence, recursive-CTE oracle."""
    from ..operators.behavior import kaplan_meier

    ev = _t(spark, sf_dir, "events")
    return kaplan_meier(ev, "user_id", "ts", churn_gap_days=7)


O_EVT_SURVIVAL_KM = """
WITH RECURSIVE pu AS (
  SELECT user_id, date_trunc('day', min(ts)) AS d0,
         date_trunc('day', max(ts)) AS d1
  FROM events GROUP BY user_id
),
mx AS (SELECT max(date_trunc('day', ts)) AS dmax FROM events),
u AS (
  SELECT CAST(date_diff('day', d0, d1) AS BIGINT) AS t,
         CASE WHEN date_diff('day', d1, dmax) > 7 THEN 1 ELSE 0 END
           AS churned
  FROM pu, mx
),
per_t AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n_here,
         CAST(sum(churned) AS BIGINT) AS d
  FROM u GROUP BY t
),
risk AS (
  SELECT t, d,
         (SELECT sum(n_here) FROM per_t)
         - COALESCE(sum(n_here) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
  FROM per_t
),
idx AS (
  SELECT t, d, CAST(n AS BIGINT) AS n,
         row_number() OVER (ORDER BY t) AS i
  FROM risk WHERE d > 0
),
r AS (
  SELECT t, d, n, i, (1000000 * (n - d)) // n AS s FROM idx WHERE i = 1
  UNION ALL
  SELECT idx.t, idx.d, idx.n, idx.i, (r.s * (idx.n - idx.d)) // idx.n
  FROM r JOIN idx ON idx.i = r.i + 1
)
SELECT t AS t_days, n AS n_at_risk, d AS n_events,
       CAST(s AS BIGINT) AS surv_micro
FROM r ORDER BY t_days
"""


def q_evt_markov_stationary(spark, sf_dir):
    """Stationary distribution of the event-type Markov chain (4 integer
    power-iteration rounds at parts-per-10¹²) — where user behavior
    settles; the oracle unrolls the identical rounds."""
    from ..operators.behavior import markov_stationary

    ev = _t(spark, sf_dir, "events")
    return markov_stationary(
        ev, "user_id", "ts", "event_id", "event_type", iters=4
    )


def _markov_oracle(iters: int = 4) -> str:
    rounds = []
    for i in range(1, iters + 1):
        prev = f"p{i - 1}"
        rounds.append(
            f"""p{i} AS MATERIALIZED (
  SELECT s2 AS state, CAST(sum((pi * c) // r) AS BIGINT) AS pi
  FROM tr JOIN {prev} ON tr.s = {prev}.state GROUP BY s2
)"""
        )
    body = ",\n".join(rounds)
    return f"""
WITH seq AS (
  SELECT event_type AS s,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS s2
  FROM events
),
trans AS MATERIALIZED (
  SELECT s, s2, CAST(count(*) AS BIGINT) AS c
  FROM seq WHERE s2 IS NOT NULL GROUP BY s, s2
),
tr AS MATERIALIZED (
  SELECT trans.s, trans.s2, trans.c, rr.r
  FROM trans JOIN (
    SELECT s, CAST(sum(c) AS BIGINT) AS r FROM trans GROUP BY s) rr
  ON trans.s = rr.s
),
states AS MATERIALIZED (
  SELECT DISTINCT state FROM (
    SELECT s AS state FROM trans UNION ALL SELECT s2 FROM trans)
),
p0 AS (
  SELECT state,
         CAST(1000000000000 // (SELECT count(*) FROM states) AS BIGINT)
           AS pi
  FROM states
),
{body}
SELECT states.state, CAST(COALESCE(p{iters}.pi, 0) AS BIGINT) AS pi_e12
FROM states LEFT JOIN p{iters} USING (state) ORDER BY state
"""


O_EVT_MARKOV = _markov_oracle(4)


def q_evt_rate_wilson(spark, sf_dir):
    """Per-type high-value-event rate with a Wilson 95% interval — the
    CI that stays inside [0,1] and behaves at small n where the normal
    approximation fails.  Exact integer (n, k) through one fixed double
    expression ending in the correctly-rounded sqrt, floor-quantized to
    micro — identical text both engines."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum((F.col("value") >= 450.0).cast("long")).alias("k"),
    )
    z2 = "3.8416"  # 1.96^2, literal parsed identically everywhere
    p = "(cast(k as double) / cast(n as double))"
    center = f"({p} + {z2} / (2.0 * cast(n as double)))"
    half = (
        f"(1.96 * sqrt({p} * (1.0 - {p}) / cast(n as double)"
        f" + {z2} / (4.0 * cast(n as double) * cast(n as double))))"
    )
    denom = f"(1.0 + {z2} / cast(n as double))"
    return agg.select(
        "event_type", "n", "k",
        F.expr(f"cast(floor({p} * 1000000) as bigint)").alias("rate_micro"),
        F.expr(
            f"cast(floor(({center} - {half}) / {denom} * 1000000) as bigint)"
        ).alias("lo_micro"),
        F.expr(
            f"cast(floor(({center} + {half}) / {denom} * 1000000) as bigint)"
        ).alias("hi_micro"),
    ).orderBy("event_type")


def _wilson_oracle() -> str:
    z2 = "3.8416"
    p = "(CAST(k AS DOUBLE) / CAST(n AS DOUBLE))"
    center = f"({p} + {z2} / (2.0 * CAST(n AS DOUBLE)))"
    half = (
        f"(1.96 * sqrt({p} * (1.0 - {p}) / CAST(n AS DOUBLE)"
        f" + {z2} / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))"
    )
    denom = f"(1.0 + {z2} / CAST(n AS DOUBLE))"
    return f"""
WITH agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN value >= 450.0 THEN 1 ELSE 0 END) AS BIGINT)
           AS k
  FROM events GROUP BY event_type
)
SELECT event_type, n, k,
       CAST(floor({p} * 1000000) AS BIGINT) AS rate_micro,
       CAST(floor(({center} - {half}) / {denom} * 1000000) AS BIGINT)
         AS lo_micro,
       CAST(floor(({center} + {half}) / {denom} * 1000000) AS BIGINT)
         AS hi_micro
FROM agg ORDER BY event_type
"""


O_EVT_RATE_WILSON = _wilson_oracle()


def q_evt_hill_alpha(spark, sf_dir):
    """Hill power-law tail exponent of per-(user, day) activity counts
    (xmin = 4) — the skew-profiling scalar that decides salting strategy.
    Integer micro-nat tail contributions, one composed IEEE division at
    the end (identical textual order both engines)."""
    from ..operators.profiling import hill_alpha

    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count("*").alias("n"))
    return hill_alpha(c, "n", xmin=4)


O_EVT_HILL = """
WITH c AS (
  SELECT user_id, date_trunc('day', ts) AS d, count(*) AS n
  FROM events GROUP BY 1, 2
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN n >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_tail,
         CAST(sum(CASE WHEN n >= 4 THEN
                CAST(floor(ln(n / CAST(4 AS DOUBLE)) * 1000000) AS BIGINT)
              ELSE 0 END) AS BIGINT) AS s_micro
  FROM c
)
SELECT n_rows, n_tail,
       n_tail * 1000 // nullif(n_rows, 0) AS tail_permille, s_micro,
       CAST(floor((CAST(n_tail AS DOUBLE) * 1000000.0)
            / (nullif(s_micro, 0) / 1000000.0)) AS BIGINT) + 1000000
         AS alpha_micro
FROM agg
"""


def q_evt_changepoint(spark, sf_dir):
    """CUSUM changepoint per event type over the daily count series: the
    day where the cumulative deviation from the series mean peaks (Page
    '54) — the standard level-shift detector complementing the local
    spike scan (`evt_spikes` flags hours; CUSUM locates the structural
    break).

    All integer: mean_milli = (total·1000) div days, cusum_milli_d =
    run_d·1000 − idx_d·mean_milli (running count sum vs expected), the
    changepoint is argmax |cusum| with ties to the earliest day (both
    engines pick via row_number ordered by (|cusum| DESC, day ASC) —
    a per-type window over the tiny daily series, partition-parallel)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").alias("n"))
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    c = daily.select(
        "event_type",
        "day",
        (F.sum("n").over(wrun) * 1000).alias("run_milli"),
        F.row_number().over(Window.partitionBy("event_type").orderBy("day")).alias(
            "idx"
        ),
        F.expr("(sum(n) over (partition by event_type) * 1000)").alias("tot_milli"),
        F.count("*").over(wall).alias("days"),
    ).select(
        "event_type",
        "day",
        "days",
        F.expr("tot_milli div days").alias("mean_milli"),
        (
            F.col("run_milli") - F.col("idx") * F.expr("tot_milli div days")
        ).alias("cusum_milli"),
    )
    wpick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum_milli")).desc(), F.col("day").asc()
    )
    return (
        c.select("*", F.row_number().over(wpick).alias("rn"))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("cp_day"),
            "cusum_milli",
            "mean_milli",
            "days",
        )
        .orderBy("event_type")
    )


O_EVT_CHANGEPOINT = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
  FROM events GROUP BY 1, 2
),
c AS (
  SELECT event_type, day,
         CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000
              AS BIGINT) AS run_milli,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS idx,
         CAST(sum(n) OVER (PARTITION BY event_type) * 1000 AS BIGINT)
           AS tot_milli,
         count(*) OVER (PARTITION BY event_type) AS days
  FROM daily
),
d AS (
  SELECT event_type, day, days,
         tot_milli // days AS mean_milli,
         run_milli - idx * (tot_milli // days) AS cusum_milli
  FROM c
),
p AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
              ORDER BY abs(cusum_milli) DESC, day ASC) AS rn
  FROM d
)
SELECT event_type, day AS cp_day, CAST(cusum_milli AS BIGINT) AS cusum_milli,
       CAST(mean_milli AS BIGINT) AS mean_milli, days
FROM p WHERE rn = 1 ORDER BY event_type
"""


def q_evt_funnel_steps(spark, sf_dir):
    """Ordered 3-step funnel (view → click → purchase, 7-day horizon from
    first view): per-step user counts and integer-permille conversion.
    Strictly ordered semantics — each step's first qualifying event must
    fall AFTER the previous step's first event and within the horizon.
    Every stage join is keyed on user_id (co-partitioned with the prior
    aggregate's shuffle); event-type predicates push into the scan."""
    from ..operators.behavior import funnel_steps

    ev = _t(spark, sf_dir, "events")
    return funnel_steps(
        ev, "user_id", "ts", "event_type",
        steps=["view", "click", "purchase"], horizon_days=7,
    )


O_EVT_FUNNEL_STEPS = """
WITH d0 AS (
  SELECT user_id AS u, min(ts) AS t, min(ts) AS t0,
         min(ts) + INTERVAL 7 DAY AS deadline
  FROM events WHERE event_type = 'view' GROUP BY 1
),
s1 AS (
  SELECT e.user_id AS u, d0.t0, d0.deadline, min(e.ts) AS t
  FROM events e JOIN d0 ON e.user_id = d0.u
  WHERE e.event_type = 'click' AND e.ts > d0.t AND e.ts <= d0.deadline
  GROUP BY 1, 2, 3
),
s2 AS (
  SELECT e.user_id AS u, s1.t0, min(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.u
  WHERE e.event_type = 'purchase' AND e.ts > s1.t AND e.ts <= s1.deadline
  GROUP BY 1, 2
),
n AS (
  SELECT 0 AS step_idx, 'view' AS step, count(*) AS n_users,
         CAST(0 AS BIGINT) AS lag_sum FROM d0
  UNION ALL SELECT 1, 'click', count(*),
         CAST(coalesce(sum(date_diff('second', t0, t)), 0) AS BIGINT) FROM s1
  UNION ALL SELECT 2, 'purchase', count(*),
         CAST(coalesce(sum(date_diff('second', t0, t)), 0) AS BIGINT) FROM s2
)
SELECT CAST(step_idx AS INT) AS step_idx, step,
       CAST(n_users AS BIGINT) AS n_users,
       coalesce(n_users * 1000 // nullif((SELECT count(*) FROM d0), 0), 0)
         AS conv_permille,
       coalesce(lag_sum // nullif(n_users, 0), 0) AS avg_secs_from_first
FROM n ORDER BY step_idx
"""


def q_evt_cohort_ltv(spark, sf_dir):
    """Cohort LTV triangle — the revenue twin of evt_retention: purchase
    cents accumulated per (first-activity-week cohort, week offset), with
    running cumulative and per-user LTV in exact integer cents.  Cohort
    keys stay TIMESTAMP (the r3 dtype lesson); the cumulative window
    partitions by cohort over at most |weeks| rows."""
    from ..operators.behavior import cohort_ltv

    ev = _t(spark, sf_dir, "events")
    return cohort_ltv(ev, "user_id", "ts", "event_type", "value", "purchase")


O_EVT_COHORT_LTV = """
WITH first AS (
  SELECT user_id AS u, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY 1
),
rev AS (
  SELECT user_id AS u, date_trunc('week', ts) AS week,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
),
csize AS (SELECT cohort_week, count(*) AS cohort_users FROM first GROUP BY 1),
tri AS (
  SELECT cohort_week,
         CAST(datediff('day', cohort_week, week) // 7 AS BIGINT) AS week_offset,
         CAST(sum(cents) AS BIGINT) AS rev_cents
  FROM rev JOIN first USING (u) GROUP BY 1, 2
),
cum AS (
  SELECT cohort_week, week_offset, rev_cents,
         CAST(sum(rev_cents) OVER (PARTITION BY cohort_week ORDER BY week_offset
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_rev_cents
  FROM tri
)
SELECT cohort_week, week_offset, cohort_users, rev_cents, cum_rev_cents,
       cum_rev_cents // cohort_users AS cum_per_user_cents
FROM cum JOIN csize USING (cohort_week)
ORDER BY cohort_week, week_offset
"""


def q_evt_funnel(spark, sf_dir):
    """Event funnel (ClickHouse windowFunnel shape): users who did
    view → click → purchase in strict event-time order, completing within
    2 h of the first view.  Three stacked window-min expressions over ONE
    user_id partitioning (single Exchange; the per-user groupBy then reuses
    the same hash partitioning), then a tiny depth histogram."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    s1 = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    s2 = s1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = s3.groupBy("user_id").agg(
        F.first("t1").alias("t1"), F.first("t2").alias("t2"), F.first("t3").alias("t3")
    )
    deadline = F.col("t1") + F.expr("INTERVAL 2 HOURS")
    depth = (
        F.when(F.col("t3").isNotNull() & (F.col("t3") <= deadline), F.lit(3))
        .when(F.col("t2").isNotNull() & (F.col("t2") <= deadline), F.lit(2))
        .when(F.col("t1").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
    )
    return (
        per_user.select(depth.alias("funnel_depth"))
        .groupBy("funnel_depth")
        .agg(F.count("*").alias("n_users"))
    )


O_EVT_FUNNEL = """
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(ts) AS t2
  FROM events e JOIN v USING (user_id)
  WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(ts) AS t3
  FROM events e JOIN c USING (user_id)
  WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id
), allu AS (
  SELECT DISTINCT user_id FROM events
), j AS (
  SELECT a.user_id, v.t1, c.t2, p.t3
  FROM allu a LEFT JOIN v USING (user_id)
             LEFT JOIN c USING (user_id)
             LEFT JOIN p USING (user_id)
)
SELECT CASE WHEN t3 IS NOT NULL AND t3 <= t1 + INTERVAL 2 HOUR THEN 3
            WHEN t2 IS NOT NULL AND t2 <= t1 + INTERVAL 2 HOUR THEN 2
            WHEN t1 IS NOT NULL THEN 1
            ELSE 0 END AS funnel_depth,
       count(*) AS n_users
FROM j GROUP BY 1
"""


def q_evt_anomaly_mad(spark, sf_dir):
    """Median/MAD robust outlier scan per event type: values deviating
    more than 3×MAD from the type median, one summary row per type with
    micro-quantized robust stats and the outlier count."""
    from ..operators.profiling import mad_outliers

    ev = _t(spark, sf_dir, "events")
    return mad_outliers(ev, "event_type", "value", k=3.0)


def _mad_oracle():
    from ..operators.profiling import mad_outliers_oracle_sql

    return mad_outliers_oracle_sql("events", "event_type", "value", k=3.0)


O_EVT_ANOMALY_MAD = _mad_oracle()


def q_evt_rfm_segments(spark, sf_dir):
    """RFM user segmentation (recency / frequency / monetary quartiles):
    per-user stats in exact integers (days, counts, cents), quartile
    boundaries via the exact-percentile trust base broadcast back — NO
    global ntile window (a single-partition sort at corpus scale); the
    segment grid is ≤64 rows."""
    ev = _t(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.col("ts").cast("date")).alias("amax"))
    per = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.col("ts").cast("date")).alias("last_d"),
            F.count("*").alias("n_ev"),
            F.sum(F.expr("cast(round(value * 100) as bigint)")).alias("cents"),
        )
        .crossJoin(F.broadcast(anchor))
        .withColumn("rec_days", F.datediff(F.col("amax"), F.col("last_d")))
    )
    q = per.agg(
        *[
            F.expr(f"percentile(cast({c} as double), {p})").alias(f"{c}_q{i}")
            for c in ("rec_days", "n_ev", "cents")
            for i, p in ((1, 0.25), (2, 0.5), (3, 0.75))
        ]
    )
    def _score(c):
        return F.expr(
            f"CASE WHEN {c} <= {c}_q1 THEN 1 WHEN {c} <= {c}_q2 THEN 2"
            f" WHEN {c} <= {c}_q3 THEN 3 ELSE 4 END"
        ).cast("long")

    scored = per.crossJoin(F.broadcast(q)).select(
        _score("rec_days").alias("r_score"),
        _score("n_ev").alias("f_score"),
        _score("cents").alias("m_score"),
        "cents",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_users"),
        F.sum("cents").alias("sum_cents"),
    )


O_EVT_RFM = """
WITH anchor AS (SELECT max(CAST(ts AS DATE)) AS amax FROM events),
per AS (
  SELECT user_id, max(CAST(ts AS DATE)) AS last_d, count(*) AS n_ev,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY user_id
),
per2 AS (
  SELECT per.*, CAST(amax - last_d AS BIGINT) AS rec_days FROM per, anchor
),
q AS (
  SELECT quantile_cont(CAST(rec_days AS DOUBLE), 0.25) AS rec_days_q1,
         quantile_cont(CAST(rec_days AS DOUBLE), 0.5)  AS rec_days_q2,
         quantile_cont(CAST(rec_days AS DOUBLE), 0.75) AS rec_days_q3,
         quantile_cont(CAST(n_ev AS DOUBLE), 0.25) AS n_ev_q1,
         quantile_cont(CAST(n_ev AS DOUBLE), 0.5)  AS n_ev_q2,
         quantile_cont(CAST(n_ev AS DOUBLE), 0.75) AS n_ev_q3,
         quantile_cont(CAST(cents AS DOUBLE), 0.25) AS cents_q1,
         quantile_cont(CAST(cents AS DOUBLE), 0.5)  AS cents_q2,
         quantile_cont(CAST(cents AS DOUBLE), 0.75) AS cents_q3
  FROM per2
),
scored AS (
  SELECT CAST(CASE WHEN rec_days <= rec_days_q1 THEN 1
              WHEN rec_days <= rec_days_q2 THEN 2
              WHEN rec_days <= rec_days_q3 THEN 3 ELSE 4 END AS BIGINT) AS r_score,
         CAST(CASE WHEN n_ev <= n_ev_q1 THEN 1 WHEN n_ev <= n_ev_q2 THEN 2
              WHEN n_ev <= n_ev_q3 THEN 3 ELSE 4 END AS BIGINT) AS f_score,
         CAST(CASE WHEN cents <= cents_q1 THEN 1 WHEN cents <= cents_q2 THEN 2
              WHEN cents <= cents_q3 THEN 3 ELSE 4 END AS BIGINT) AS m_score,
         cents
  FROM per2, q
)
SELECT r_score, f_score, m_score, count(*) AS n_users,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM scored GROUP BY r_score, f_score, m_score
"""


def q_evt_seasonal_dow(spark, sf_dir):
    """Day-of-week seasonal index per event type: mean daily volume on
    each weekday relative to the type's overall daily mean, as one exact
    integer division over order-exact sums.  dow = epoch-days % 7
    (0 = Thursday) — portable arithmetic, never the engines' conflicting
    dayofweek builtins."""
    from ..operators.timeseries import seasonal_dow

    return seasonal_dow(_t(spark, sf_dir, "events"), "event_type", "ts")


O_EVT_SEASONAL_DOW = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
  FROM events GROUP BY 1, 2
),
bydow AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(day AS DATE)) % 7
              AS BIGINT) AS dow,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(n) AS BIGINT) AS n_events
  FROM daily GROUP BY 1, 2
)
SELECT event_type, dow, n_days, n_events,
       CAST((n_events * sum(n_days) OVER (PARTITION BY event_type) * 1000)
            // nullif(n_days * sum(n_events) OVER (PARTITION BY event_type), 0)
            AS BIGINT) AS index_permille
FROM bydow ORDER BY event_type, dow
"""


def q_evt_lag_corr(spark, sf_dir):
    """Lagged cross-correlation of the click and purchase daily series
    (lags -3..3): Pearson r composed once in doubles from exact integer
    component sums — does one series lead the other?"""
    from ..operators.timeseries import lag_corr_daily

    return lag_corr_daily(
        _t(spark, sf_dir, "events"), "ts", "event_type",
        "click", "purchase", max_lag=3,
    )


O_EVT_LAG_CORR = """
WITH daily AS (
  SELECT event_type AS t, CAST(date_trunc('day', ts) AS DATE) AS day,
         count(*) AS n
  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2
),
x AS (SELECT day, n AS x FROM daily WHERE t = 'click'),
y AS (SELECT day AS yday, n AS y FROM daily WHERE t = 'purchase'),
lagged AS (
  SELECT l.lag, x.x, y.y
  FROM x CROSS JOIN (SELECT unnest(range(-3, 4)) AS lag) l
  JOIN y ON y.yday = x.day + CAST(l.lag AS INT)
),
c AS (
  SELECT CAST(lag AS BIGINT) AS lag,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM lagged GROUP BY 1
)
SELECT lag, n_days, sx, sy, sxy, sxx, syy,
       CAST(n_days * sxy - sx * sy AS DOUBLE)
         / nullif(sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(n_days * syy - sy * sy AS DOUBLE)), 0.0)
         AS corr
FROM c ORDER BY lag
"""


def q_evt_attribution(spark, sf_dir):
    """Last-touch attribution of purchase revenue to the user's most
    recent click/view within 72 h ('direct' if none) — one per-user
    carry-forward window over the (ts, is_conv, event_id) total order,
    no self-join; integer cents."""
    from ..operators.behavior import attribution_last_touch

    return attribution_last_touch(
        _t(spark, sf_dir, "events"),
        "user_id", "ts", "event_id", "event_type", "value",
        conversion_type="purchase", touch_types=("click", "view"),
        window_hours=72,
    )


O_EVT_ATTRIBUTION = """
WITH base AS (
  SELECT user_id AS u, ts, event_id AS eid, event_type AS t,
         CASE WHEN event_type = 'purchase'
              THEN CAST(round(value * 100) AS BIGINT) END AS cents,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_conv
  FROM events WHERE event_type IN ('purchase', 'click', 'view')
),
c AS (
  SELECT *,
         last_value(CASE WHEN is_conv = 0 THEN t END IGNORE NULLS)
           OVER w AS tt,
         last_value(CASE WHEN is_conv = 0 THEN ts END IGNORE NULLS)
           OVER w AS tts
  FROM base
  WINDOW w AS (PARTITION BY u ORDER BY ts, is_conv, eid
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT CASE WHEN tts >= ts - INTERVAL 72 HOUR THEN tt
            ELSE 'direct' END AS channel,
       CAST(count(*) AS BIGINT) AS n_conversions,
       CAST(sum(cents) AS BIGINT) AS cents
FROM c WHERE is_conv = 1 GROUP BY 1 ORDER BY channel
"""


# --------------------------------------------------------------------------
# evt_diff_in_diff — 2×2 causal effect estimate
# --------------------------------------------------------------------------


def q_evt_diff_in_diff(spark, sf_dir):
    """Difference-in-differences over the event stream: treated cohort =
    odd user_ids, intervention at 2024-01-16 (the series midpoint),
    outcome = event value in exact cents (operators/behavior.py
    diff_in_diff).  Complements evt_ab_test's randomized same-period
    comparison with the observational pre/post design; four cell rows +
    the carried did_milli effect."""
    from ..operators.behavior import diff_in_diff

    ev = _t(spark, sf_dir, "events")
    return diff_in_diff(
        ev,
        F.when(F.col("user_id") % 2 == 1, F.lit("treat")).otherwise("control"),
        F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), F.lit("pre")).otherwise("post"),
        "value",
    )


O_EVT_DIFF_IN_DIFF = """
WITH cells AS (
  SELECT CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'pre' ELSE 'post' END AS period,
         CASE WHEN user_id % 2 = 1 THEN 'treat' ELSE 'control' END AS cohort,
         CAST(round(100 * value) AS BIGINT) AS cents
  FROM events
),
agg AS (
  SELECT period, cohort, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS sum_cents
  FROM cells GROUP BY 1, 2
),
m AS (SELECT *, (sum_cents * 10) // n AS mean_milli FROM agg),
eff AS (
  SELECT CAST(
    (max(CASE WHEN period = 'post' AND cohort = 'treat' THEN mean_milli END)
     - max(CASE WHEN period = 'pre' AND cohort = 'treat' THEN mean_milli END))
    - (max(CASE WHEN period = 'post' AND cohort = 'control' THEN mean_milli END)
       - max(CASE WHEN period = 'pre' AND cohort = 'control' THEN mean_milli END))
    AS BIGINT) AS did_milli
  FROM m
)
SELECT period, cohort, n, sum_cents,
       CAST(mean_milli AS BIGINT) AS mean_milli, did_milli
FROM m, eff ORDER BY period, cohort
"""


# --------------------------------------------------------------------------
# evt_cuped — variance-reduced A/B comparison (CUPED)
# --------------------------------------------------------------------------


def q_evt_cuped(spark, sf_dir):
    """CUPED-adjusted arm comparison over the event stream
    (operators/behavior.py cuped_adjust): units = users active in BOTH
    halves of the series (split at 2024-01-16, the evt_diff_in_diff
    midpoint), covariate X = pre-period spend (cents), metric Y =
    post-period spend, arms = user_id parity.  Output: per arm the raw
    and adjusted means plus the carried θ and ρ² diagnostics — the
    randomized-experiment complement to evt_diff_in_diff."""
    from ..operators.behavior import cuped_adjust

    ev = _t(spark, sf_dir, "events")
    per_user = (
        ev.select(
            "user_id",
            F.expr(
                "case when ts < timestamp '2024-01-16' then"
                " cast(round(100 * value) as bigint) end"
            ).alias("pre_c"),
            F.expr(
                "case when ts >= timestamp '2024-01-16' then"
                " cast(round(100 * value) as bigint) end"
            ).alias("post_c"),
        )
        .groupBy("user_id")
        .agg(
            F.sum("pre_c").alias("x_cents"),
            F.sum("post_c").alias("y_cents"),
        )
        .where(F.col("x_cents").isNotNull() & F.col("y_cents").isNotNull())
        .select(
            F.expr(
                "case when user_id % 2 = 1 then 'treat' else 'control' end"
            ).alias("arm"),
            "x_cents",
            "y_cents",
        )
    )
    return cuped_adjust(per_user)


O_EVT_CUPED = """
WITH pu AS (
  SELECT user_id,
         sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                  THEN CAST(round(100 * value) AS BIGINT) END) AS x,
         sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                  THEN CAST(round(100 * value) AS BIGINT) END) AS y
  FROM events GROUP BY user_id
),
base AS (
  SELECT CASE WHEN user_id % 2 = 1 THEN 'treat' ELSE 'control' END AS arm,
         CAST(x AS HUGEINT) AS x, CAST(y AS HUGEINT) AS y
  FROM pu WHERE x IS NOT NULL AND y IS NOT NULL
),
g AS (
  SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM base
),
a AS (
  SELECT arm, CAST(count(*) AS HUGEINT) AS na, sum(x) AS sxa, sum(y) AS sya
  FROM base GROUP BY arm
)
SELECT arm, CAST(na AS BIGINT) AS n_units,
       CAST((CASE WHEN sya < 0 THEN -1 ELSE 1 END)
            * ((abs(sya) * 1000) // na) AS BIGINT) AS mean_y_milli,
       CASE WHEN (n * sxx - sx * sx) = 0 THEN CAST(NULL AS BIGINT) ELSE
         CAST((CASE WHEN (sya * (n * sxx - sx * sx) * n
                          - (n * sxy - sx * sy) * (sxa * n - sx * na)) < 0
                    THEN -1 ELSE 1 END)
              * ((abs(sya * (n * sxx - sx * sx) * n
                      - (n * sxy - sx * sy) * (sxa * n - sx * na)) * 1000)
                 // ((n * sxx - sx * sx) * na * n)) AS BIGINT) END
         AS adj_mean_milli,
       CASE WHEN (n * sxx - sx * sx) = 0 THEN CAST(NULL AS BIGINT) ELSE
         CAST((CASE WHEN (n * sxy - sx * sy) < 0 THEN -1 ELSE 1 END)
              * ((abs(n * sxy - sx * sy) * 1000)
                 // (n * sxx - sx * sx)) AS BIGINT) END AS theta_milli,
       CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0
            THEN CAST(NULL AS BIGINT) ELSE
         CAST(((abs(n * sxy - sx * sy) * 1000) // (n * sxx - sx * sx))
              * ((abs(n * sxy - sx * sy) * 1000) // (n * syy - sy * sy))
              AS BIGINT) END AS rho2_micro
FROM a, g ORDER BY arm
"""


# --------------------------------------------------------------------------
# evt_conformal — split-conformal intervals + empirical coverage
# --------------------------------------------------------------------------


def q_evt_conformal(spark, sf_dir):
    """Split-conformal prediction interval per event_type over the event
    value (cents), with held-out coverage (operators/behavior.py
    conformal_interval): hash-even units calibrate a group-mean
    predictor and the finite-sample-corrected type-1 residual quantile
    (α = 10%); hash-odd units measure coverage.  The distribution-free
    uncertainty readout that completes the experiment family
    (evt_ab_test / diff_in_diff / cuped / bootstrap_ci)."""
    from ..operators.behavior import conformal_interval

    ev = _t(spark, sf_dir, "events")
    scored = ev.select(
        "event_type",
        "event_id",
        F.expr("cast(round(100 * value) as bigint)").alias("cents"),
    )
    return conformal_interval(
        scored, "event_type", "event_id", "cents", alpha_milli=100
    )


O_EVT_CONFORMAL = """
WITH base AS (
  SELECT event_type AS grp, event_id AS id,
         CAST(round(100 * value) AS BIGINT) * 1000 AS y
  FROM events WHERE value IS NOT NULL
),
split AS (
  SELECT grp, id, y,
         (CAST(('0x' || substr(md5('conf:' || CAST(id AS VARCHAR)), 1, 15))
               AS BIGINT) % 2 = 0) AS is_cal
  FROM base
),
pred AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_cal,
         CAST((CASE WHEN sum(y) < 0 THEN -1 ELSE 1 END)
              * (abs(sum(y)) // count(*)) AS BIGINT) AS yhat_milli
  FROM split WHERE is_cal GROUP BY grp
),
ranked AS (
  SELECT s.grp, abs(s.y - p.yhat_milli) AS r, p.n_cal,
         row_number() OVER (PARTITION BY s.grp
                            ORDER BY abs(s.y - p.yhat_milli), s.id) AS rn
  FROM split s JOIN pred p USING (grp) WHERE s.is_cal
),
qv AS (
  SELECT grp AS qgrp, CAST(r AS BIGINT) AS q_milli FROM ranked
  WHERE rn = (900 * (n_cal + 1) + 999) // 1000
),
cov AS (
  SELECT s.grp AS cgrp, CAST(count(*) AS BIGINT) AS n_test,
         CAST(sum(CASE WHEN qv.q_milli IS NULL
                        OR abs(s.y - p.yhat_milli) <= qv.q_milli
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
  FROM split s JOIN pred p USING (grp)
  LEFT JOIN qv ON qv.qgrp = s.grp
  WHERE NOT s.is_cal GROUP BY s.grp
)
SELECT p.grp, p.n_cal,
       COALESCE(c.n_test, 0) AS n_test,
       p.yhat_milli, qv.q_milli,
       COALESCE(c.n_covered, 0) AS n_covered,
       CASE WHEN COALESCE(c.n_test, 0) > 0 THEN
         CAST((COALESCE(c.n_covered, 0) * 1000000) // c.n_test AS BIGINT) END
         AS coverage_micro
FROM pred p
LEFT JOIN qv ON qv.qgrp = p.grp
LEFT JOIN cov c ON c.cgrp = p.grp
ORDER BY p.grp
"""


# --------------------------------------------------------------------------
# evt_bootstrap_ci — seeded Poisson bootstrap CI
# --------------------------------------------------------------------------


def q_evt_bootstrap_ci(spark, sf_dir):
    """Poisson-bootstrap 90% CI for the mean event value per event_type
    (32 seeded resamples; operators/behavior.py poisson_bootstrap_ci) —
    the distributed bootstrap (per-row Poisson(1) multiplicities, a pure
    map) that gives pipeline metrics error bars without global
    resampling; completes the inference family next to evt_ab_test /
    evt_rate_wilson / evt_diff_in_diff."""
    from ..operators.behavior import poisson_bootstrap_ci

    ev = _t(spark, sf_dir, "events")
    return poisson_bootstrap_ci(ev, "event_type", "event_id", "value", n_boot=32)


_P1 = (
    424136118829305329,
    848272237658610659,
    1060340297073263324,
    1131029650211480879,
    1148701988496035267,
)


O_EVT_BOOTSTRAP = f"""
WITH base AS (
  SELECT event_type AS grp, CAST(event_id AS VARCHAR) AS rid,
         CAST(round(100 * value) AS BIGINT) AS cents
  FROM events
),
point AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_events,
         CAST((CASE WHEN sum(cents) < 0 THEN -1 ELSE 1 END)
              * ((abs(sum(cents)) * 10) // count(*)) AS BIGINT) AS mean_milli
  FROM base GROUP BY grp
),
rep AS (
  SELECT grp, rid, cents, CAST(unnest(range(0, 32)) AS BIGINT) AS b
  FROM base
),
draws AS (
  SELECT grp, b, cents,
         CAST(('0x' || substr(md5('bs:' || CAST(b AS VARCHAR) || ':'
                                  || coalesce(rid, chr(0))), 1, 15))
              AS BIGINT) AS u
  FROM rep
),
mult AS (
  SELECT grp, b, cents,
         CASE WHEN u < {_P1[0]} THEN 0 WHEN u < {_P1[1]} THEN 1
              WHEN u < {_P1[2]} THEN 2 WHEN u < {_P1[3]} THEN 3
              WHEN u < {_P1[4]} THEN 4 ELSE 5 END AS m
  FROM draws
),
boots AS (
  SELECT grp, b, sum(m * cents) AS sum_mc, sum(m) AS sum_m
  FROM mult GROUP BY grp, b HAVING sum(m) > 0
),
bm AS (
  SELECT grp, b,
         CAST((CASE WHEN sum_mc < 0 THEN -1 ELSE 1 END)
              * ((abs(sum_mc) * 10) // sum_m) AS BIGINT) AS bmean_milli
  FROM boots
),
ranked AS (
  SELECT grp, bmean_milli,
         row_number() OVER (PARTITION BY grp ORDER BY bmean_milli, b) AS rk,
         CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS nv
  FROM bm
),
ci AS (
  SELECT grp, max(nv) AS n_boot_valid,
         CAST(min(bmean_milli) AS BIGINT) AS boot_lo_milli,
         CAST(max(bmean_milli) AS BIGINT) AS boot_hi_milli
  FROM ranked
  WHERE rk = (nv * 50) // 1000 + 1 OR rk = (nv * 950 + 999) // 1000
  GROUP BY grp
)
SELECT point.grp, n_events, mean_milli,
       CAST(coalesce(n_boot_valid, 0) AS BIGINT) AS n_boot_valid,
       boot_lo_milli, boot_hi_milli
FROM point LEFT JOIN ci ON point.grp = ci.grp
ORDER BY point.grp
"""


GATES: dict[str, tuple] = {
    "evt_window_hourly": (q_evt_window_hourly, O_EVT_WINDOW),
    "evt_ohlc": (q_evt_ohlc, O_EVT_OHLC),
    "evt_gapfill_locf": (q_evt_gapfill_locf, O_EVT_GAPFILL),
    "evt_anomaly_mad": (q_evt_anomaly_mad, O_EVT_ANOMALY_MAD),
    "evt_rfm_segments": (q_evt_rfm_segments, O_EVT_RFM),
    "evt_props_json": (q_evt_props_json, O_EVT_PROPS),
    "evt_rollup_cascade": (q_evt_rollup_cascade, O_EVT_ROLLUP),
    "evt_funnel": (q_evt_funnel, O_EVT_FUNNEL),
    "evt_transitions": (q_evt_transitions, O_EVT_TRANSITIONS),
    "evt_retention": (q_evt_retention, O_EVT_RETENTION),
    "evt_spikes": (q_evt_spikes, O_EVT_SPIKES),
    "evt_active_users_7d": (q_evt_active_users_7d, O_EVT_ACTIVE_USERS),
    "evt_stickiness": (q_evt_stickiness, O_EVT_STICKINESS),
    "evt_wau_hll": (q_evt_wau_hll, O_EVT_WAU_HLL),
    "evt_session_window": (q_evt_session_window, O_SESSION_WINDOW),
    "evt_changepoint": (q_evt_changepoint, O_EVT_CHANGEPOINT),
    "evt_funnel_steps": (q_evt_funnel_steps, O_EVT_FUNNEL_STEPS),
    "evt_cohort_ltv": (q_evt_cohort_ltv, O_EVT_COHORT_LTV),
    "evt_ewma": (q_evt_ewma, O_EVT_EWMA),
    "evt_holt": (q_evt_holt, O_EVT_HOLT),
    "evt_holt_winters": (q_evt_holt_winters, O_EVT_HOLT_WINTERS),
    "evt_forecast_mae": (q_evt_forecast_mae, O_EVT_FORECAST_MAE),
    "evt_survival_km": (q_evt_survival_km, O_EVT_SURVIVAL_KM),
    "evt_markov_stationary": (q_evt_markov_stationary, O_EVT_MARKOV),
    "evt_rate_wilson": (q_evt_rate_wilson, O_EVT_RATE_WILSON),
    "evt_hill_alpha": (q_evt_hill_alpha, O_EVT_HILL),
    "evt_ab_test": (q_evt_ab_test, O_EVT_AB_TEST),
    "evt_seasonal_dow": (q_evt_seasonal_dow, O_EVT_SEASONAL_DOW),
    "evt_lag_corr": (q_evt_lag_corr, O_EVT_LAG_CORR),
    "evt_attribution": (q_evt_attribution, O_EVT_ATTRIBUTION),
    "evt_diff_in_diff": (q_evt_diff_in_diff, O_EVT_DIFF_IN_DIFF),
    "evt_cuped": (q_evt_cuped, O_EVT_CUPED),
    "evt_conformal": (q_evt_conformal, O_EVT_CONFORMAL),
    "evt_bootstrap_ci": (q_evt_bootstrap_ci, O_EVT_BOOTSTRAP),
}
