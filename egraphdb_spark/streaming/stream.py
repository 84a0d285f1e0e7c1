"""Structured Streaming surface.

The reference's "streaming" is HTTP chunked transfer of result rows
(src/egraph_api.erl:121-142) — there is no dataflow streaming, watermarks,
or event-time state anywhere in it (SURVEY.md §2.9).  The Spark-native
engine exposes real Structured Streaming over the events table: windowed
aggregation with watermarks, session windows, and within-watermark
deduplication — all built-in operators, no custom state stores.

Scale design: the file source here stands in for Kafka; every
transformation below is identical under `readStream` from any source.
Watermarks bound state: a 1-hour watermark means the state store holds at
most ~1 hour of windows per key, regardless of stream length.  Output goes
through `trigger(availableNow=True)` in tests (process-everything-then-
stop), which is also the production backfill pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

# The driver's events.parquet stores TIMESTAMP(NANOS).  How that surfaces
# depends on the Spark version: 4.1+ reads it natively as timestamp_ntz
# (truncated to micros) and IGNORES spark.sql.legacy.parquet.nanosAsLong;
# older builds honor the conf and surface BIGINT nanos.  The stream reader
# probes a batch read of the same file and adapts (see read_events_stream)
# — assuming either behavior breaks on the other version.
def _events_schema_with_ts(ts_dtype: str) -> StructType:
    return StructType(
        [
            f if f.name != "ts" else StructField("ts", _parse_dtype(ts_dtype))
            for f in EVENTS_SCHEMA
        ]
    )


def _parse_dtype(dtype: str):
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(dtype)


def _stage_events(sf_dir: str) -> str:
    """Staging dir holding one link to ``sf_dir``'s events.parquet.

    Keyed on the resolved data dir, so two data dirs that share a basename
    never read each other's events; a link that dangles or points elsewhere
    is re-pointed atomically.  The temporary link is a dot-file, which
    Spark's file listing skips.
    """
    import hashlib
    import os
    import tempfile

    src = os.path.join(os.path.realpath(sf_dir), "events.parquet")
    tag = hashlib.sha1(os.path.dirname(src).encode()).hexdigest()[:12]
    name = os.path.basename(os.path.dirname(src))
    stage = os.path.join(tempfile.gettempdir(), "egraphdb_stream_src", f"{name}-{tag}")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events-000.parquet")
    if os.path.islink(link) and os.readlink(link) == src:
        return stage
    tmp = os.path.join(stage, f".events-000.parquet.{os.getpid()}.tmp")
    try:
        os.symlink(src, tmp)
    except OSError:
        import shutil

        shutil.copyfile(src, tmp)
    os.replace(tmp, link)
    return stage


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (stand-in for Kafka).

    The file source wants a *directory* it can watch; the fixture is a
    single parquet file, so we expose it through a symlinked staging dir
    (exactly what a production file-drop ingestion directory looks like).
    """
    stage = _stage_events(sf_dir)
    # Probe how THIS session surfaces the file's TIMESTAMP(NANOS) ts column
    # (schema-inference only — no data job) and mirror it in the stream
    # schema, so the reader works on any Spark version / conf combination.
    ts_dtype = dict(
        (f.name, f.dataType.simpleString())
        for f in spark.read.parquet(f"{sf_dir}/events.parquet").schema.fields
    )["ts"]
    raw = spark.readStream.schema(_events_schema_with_ts(ts_dtype)).parquet(stage)
    if ts_dtype == "bigint":
        # legacy nanosAsLong path: integer div, NOT /1000.0 — epoch-nanos
        # overflow double's 53-bit mantissa (see graph.py)
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_dtype == "timestamp_ntz":
        # withWatermark rejects TIMESTAMP_NTZ; the cast interprets the wall
        # clock in the session TZ and is value-preserving under UTC (this
        # engine's sessions and the driver's both run UTC)
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def windowed_counts(events: DataFrame, window: str = "30 minutes",
                    watermark: str = "1 hour") -> DataFrame:
    """Tumbling-window counts per event_type with a bounded-state watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def windowed_ohlc(events: DataFrame, window: str = "1 hour",
                  watermark: str = "1 hour") -> DataFrame:
    """Streaming OHLC candles: tumbling-window open/high/low/close per
    event_type under a bounded-state watermark — the streaming twin of
    operators/timeseries.ohlc_rollup (same integer-cents quantization,
    same (ts, event_id) total order via min_by/max_by struct keys, which
    are ordinary declarative aggregates and therefore stream-legal).
    State per window×type is one candle row however many events arrive."""
    e = events.withWatermark("ts", watermark).select(
        "ts",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.struct("ts", "event_id").alias("ordk"),
    )
    return (
        e.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.min_by("cents", "ordk").alias("open_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.max_by("cents", "ordk").alias("close_cents"),
            F.count("*").alias("n_events"),
            F.sum("cents").alias("vol_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "open_cents",
            "high_cents",
            "low_cents",
            "close_cents",
            "n_events",
            "vol_cents",
        )
    )


def sessionized(events: DataFrame, gap: str = "30 minutes",
                watermark: str = "1 hour") -> DataFrame:
    """Session windows per user: start, end (= last event + gap), count."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Drop duplicate event_ids arriving within the watermark horizon.

    The streaming twin of exact dedup: state holds one key per event inside
    the watermark window only — bounded memory at any throughput.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_upsert_nodes(
    events: DataFrame, current_vertices: DataFrame, sink: list
) -> DataFrame:
    """Streaming ingest of events into the vertices table via foreachBatch.

    Each micro-batch becomes canonical nodes (key = "event:<id>") and is
    MERGEd with the reference's versioned-upsert semantics; ``sink``
    receives the running vertices DataFrame after each batch (on Delta this
    would be a MERGE INTO; immutable-parquet semantics rewrite the table).
    Returns the streaming writer's source frame for the caller to start.
    """
    from pyspark.sql import functions as F2

    from ..ingest import make_vertices, upsert_nodes

    state = {"vertices": current_vertices}

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        nodes = batch_df.select(
            F2.concat(F2.lit("event:"), F2.col("event_id")).alias("key"),
            F2.to_json(F2.struct("event_id", "event_type", "value")).alias("details"),
            F2.array(F2.array(F2.lit("event_type"))).alias("index_paths"),
            F2.array().cast("array<array<string>>").alias("lowercase_index_paths"),
        )
        incoming = make_vertices(nodes, kind=F2.lit("event"))
        state["vertices"] = upsert_nodes(state["vertices"], incoming).localCheckpoint(
            eager=True
        )
        sink.append(state["vertices"])

    return events, on_batch


def stateful_user_counts(events: DataFrame, timeout_ms: int = 0) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState.

    Keeps one running (count, sum) per user_id in the state store and emits
    the updated totals each micro-batch — the hand-rolled equivalent of a
    streaming aggregation, here as the template for state machines Spark's
    built-ins can't express (sessionization with business rules, CDC
    merge, fraud counters).  State per key is O(1); the store scales with
    distinct keys, not stream length.
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n bigint, total double"
    state_schema = "n bigint, cents bigint"

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # exact integer cents, so totals are bit-identical on any engine
        # regardless of summation order
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int((pdf["value"] * 100).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n": [n], "total": [cents / 100.0]}
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def user_type_profile(events: DataFrame) -> DataFrame:
    """Per-user event-type profile via ``transformWithStateInPandas`` —
    Spark 4's transformWithState API (typed composite state, timers, TTL),
    the successor to applyInPandasWithState used in
    :func:`stateful_user_counts`.

    State per user is a ``MapState`` event_type → (n, cents): O(distinct
    types) per key, independent of stream length — the state shape Spark's
    built-in aggregations can't expose to user logic.  Each micro-batch
    emits the user's current profile:

    * ``n_events``  — total events seen
    * ``n_types``   — distinct event types
    * ``top_type``  — most frequent type (ties → lexicographically first,
      so the result is deterministic under any batch split)
    * ``total``     — exact value total (integer cents, bit-reproducible)

    Requires the RocksDB state-store provider (transformWithState's backing
    store) via :func:`ensure_tws_conf`, **and the protobuf package**: the
    TransformWithStateInPySpark driver worker speaks protobuf to the state
    server, and this container has no ``google.protobuf`` — so this
    operator is environment-gated (tests skip without protobuf), exactly
    like the multimodal decoders.  :func:`user_type_profile_compat` is the
    same operator on applyInPandasWithState, which has no such dependency
    and carries the hard-signal gate.
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = (
        "user_id bigint, n_events bigint, n_types bigint, "
        "top_type string, total double"
    )

    class Profile(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._types = handle.getMapState(
                "type_counts", "event_type string", "n bigint, cents bigint"
            )

        def handleInputRows(
            self, key: tuple, rows: Iterator[pd.DataFrame], timerValues
        ) -> Iterator[pd.DataFrame]:
            for pdf in rows:
                cents = (pdf["value"] * 100).round().astype("int64")
                for et, grp in cents.groupby(pdf["event_type"]):
                    n0, c0 = (
                        self._types.getValue((et,))
                        if self._types.containsKey((et,))
                        else (0, 0)
                    )
                    self._types.updateValue(
                        (et,), (n0 + int(len(grp)), c0 + int(grp.sum()))
                    )
            profile = [
                (k[0], v[0], v[1]) for k, v in self._types.iterator()
            ]  # (type, n, cents)
            n_events = sum(n for _, n, _ in profile)
            total_cents = sum(c for _, _, c in profile)
            top_n = max(n for _, n, _ in profile)
            top_type = min(t for t, n, _ in profile if n == top_n)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n_events],
                    "n_types": [len(profile)],
                    "top_type": [top_type],
                    "total": [total_cents / 100.0],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "event_type", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=Profile(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )


def user_type_profile_compat(events: DataFrame) -> DataFrame:
    """:func:`user_type_profile` on applyInPandasWithState (no protobuf
    dependency): the per-user type→(n, cents) map is encoded as three
    parallel arrays in the fixed state struct — same O(distinct types per
    user) state bound, same deterministic output columns."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, n_events bigint, n_types bigint, "
        "top_type string, total double"
    )
    state_schema = "types array<string>, ns array<bigint>, cents array<bigint>"

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        types, ns, cents = state.get if state.exists else ([], [], [])
        counts = {t: [n, c] for t, n, c in zip(types, ns, cents)}
        for pdf in pdfs:
            c = (pdf["value"] * 100).round().astype("int64")
            for et, grp in c.groupby(pdf["event_type"]):
                slot = counts.setdefault(et, [0, 0])
                slot[0] += int(len(grp))
                slot[1] += int(grp.sum())
        state.update(
            (
                list(counts),
                [v[0] for v in counts.values()],
                [v[1] for v in counts.values()],
            )
        )
        n_events = sum(v[0] for v in counts.values())
        total_cents = sum(v[1] for v in counts.values())
        top_n = max(v[0] for v in counts.values())
        top_type = min(t for t, v in counts.items() if v[0] == top_n)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n_events],
                "n_types": [len(counts)],
                "top_type": [top_type],
                "total": [total_cents / 100.0],
            }
        )

    return (
        events.select("user_id", "event_type", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def ensure_tws_conf(spark: SparkSession) -> None:
    """transformWithState requires the RocksDB state store; set it on the
    passed-in (possibly foreign) session — it is read at query start."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )


def run_to_memory(
    sdf: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming DataFrame with availableNow → in-memory table.

    Processes everything currently in the source, then stops — the batch-
    parity execution mode (and the production backfill trigger).  Returns
    the materialized result as a batch DataFrame.
    """
    spark = sdf.sparkSession
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def stream_into_logtable(events: DataFrame, path: str):
    """Streaming CDC into the persistent log-structured table: each
    micro-batch appends one upsert segment via foreachBatch — the
    parquet-only analogue of `MERGE INTO` a Delta sink from a stream
    (sources/logtable.py carries the merge-on-read semantics; last writer
    per key wins, so replays/duplicates collapse exactly like MERGE).

    Returns the started streaming query (availableNow); callers await it
    and read the merged state with ``logtable.read_latest``.
    """
    from ..sources import logtable as lt

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        lt.append_upsert(batch_df, path)

    return (
        events.writeStream.foreachBatch(on_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{path}/_stream_checkpoint")
        .start()
    )


def sliding_hll_registers(
    events: DataFrame,
    key_col: str = "user_id",
    p: int = 8,
    window_days: int = 7,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming half of a sliding distinct-actives sketch: per
    (7-day-window sliding by 1 day, register bucket) max-rho registers.

    Streaming permits ONE aggregation per query, so the register merge
    runs under the watermark here (state = windows×m rows — bounded and
    tiny, vs windows×users for exact distinct) and the finishing estimate
    (sketches.hll_estimate_registers) runs as a batch aggregate over the
    sink — the same split a production pipeline uses (registers in the
    stream job, estimates in the serving query), and the same
    stream-then-batch shape as `stream_dedup`'s post-aggregation.
    """
    from ..operators.sketches import hll_register_cols

    bucket, rho = hll_register_cols(key_col, p)
    return (
        events.withWatermark("ts", watermark)
        .select(F.col("ts"), bucket, rho)
        .groupBy(
            F.window("ts", f"{window_days} days", "1 day").alias("w"), "bucket"
        )
        .agg(F.max("rho").alias("mj"))
        .select(F.col("w.end").alias("window_end"), "bucket", "mj")
    )


def windowed_cm_registers(
    events: DataFrame,
    key_col: str = "event_type",
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming half of a windowed count-min sketch: per (tumbling
    window, sketch row, bucket) cell counts under the watermark.

    The heavy-hitters-over-time primitive: state is windows×depth×width
    cells — bounded and tiny regardless of key cardinality (an exact
    per-key count would hold windows×keys rows).  Each event explodes to
    its CM_DEPTH cells BEFORE the one aggregation streaming permits; the
    finishing probe (sketches.cm_estimate_registers) runs as a batch
    aggregate over the sink — the same stream-then-batch split as
    `sliding_hll_registers`.
    """
    from ..operators.sketches import CM_DEPTH, CM_WIDTH

    key = F.col(key_col).cast("string")
    cells = F.array(
        *[
            F.struct(
                F.lit(d).alias("row"),
                (
                    F.conv(F.substring(F.md5(key), 1 + 6 * d, 6), 16, 10).cast(
                        "long"
                    )
                    % CM_WIDTH
                )
                .cast("int")
                .alias("bucket"),
            )
            for d in range(CM_DEPTH)
        ]
    )
    return (
        events.withWatermark("ts", watermark)
        .select(F.col("ts"), F.explode(cells).alias("c"))
        .groupBy(
            F.window("ts", window).alias("w"),
            F.col("c.row").alias("row"),
            F.col("c.bucket").alias("bucket"),
        )
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.end").alias("window_end"), "row", "bucket", "cnt")
    )


def windowed_moments(events: DataFrame, window: str = "1 hour",
                     watermark: str = "1 hour") -> DataFrame:
    """Streaming moments sketch: per tumbling window, the mergeable
    (n, Σcents, Σcents²) power sums plus the exact integer mean — the
    streaming twin of operators/sketches.moments_chebyshev, and the
    demonstration that the sketch's merge-by-addition property IS its
    incremental-execution property: Spark's state store keeps exactly
    three numbers per window however many events arrive, and partial
    (micro-batch) sums merge by the same addition the batch sketch uses
    across partitions.

    All stream-legal declarative aggregates (sum/count), integer-exact:
    cents = round(100·value) as BIGINT, squares in DECIMAL(38,0) —
    state per window is ONE row.
    """
    e = events.withWatermark("ts", watermark).select(
        "ts", F.expr("cast(round(100 * value) as bigint)").alias("cents")
    )
    return (
        e.groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("s1_cents"),
            F.sum(F.expr("cast(cents as decimal(38,0)) * cents")).alias("_s2d"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n",
            "s1_cents",
            F.col("_s2d").cast("long").alias("s2_cents2"),
            F.expr(
                "cast((case when s1_cents < 0 then -1 else 1 end)"
                " * ((abs(s1_cents) * 10) div n) as bigint)"
            ).alias("mean_milli"),
        )
    )
