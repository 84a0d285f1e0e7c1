"""Streaming, UDF registry, IO sinks, scalar functions, mutation ops."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE

from egraphdb_spark.functions import scalars
from egraphdb_spark.functions.registry import FunctionRegistry, RegistrationError
from egraphdb_spark.ingest import delete_edges, delete_nodes
from egraphdb_spark.sources import io
from egraphdb_spark.streaming import stream


# ----------------------------------------------------------------- streaming


def test_stream_windowed_counts_matches_batch(spark):
    ev_stream = stream.read_events_stream(spark, SF_SMOKE)
    got = stream.run_to_memory(
        stream.windowed_counts(ev_stream, "1 hour"), "t_stream_counts"
    )
    from egraphdb_spark.graph import load_tables

    ev = load_tables(spark, SF_SMOKE)["events"]
    want = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_dedup_within_watermark(spark):
    ev = stream.read_events_stream(spark, SF_SMOKE)
    doubled = ev.union(ev)  # every event twice
    got = stream.run_to_memory(
        stream.dedup_within_watermark(doubled), "t_stream_dedup", output_mode="append"
    )
    n_events = stream.read_events_stream(spark, SF_SMOKE)
    total = stream.run_to_memory(
        n_events.groupBy().count(), "t_stream_total"
    ).collect()[0]["count"]
    assert got.count() == total  # duplicates dropped exactly


def test_stream_stage_keyed_on_resolved_path(spark, tmp_path):
    """Two data dirs with the same basename must each stream their own
    events, and a stale staged link is re-pointed."""
    import os

    from egraphdb_spark.streaming.stream import EVENTS_SCHEMA, _stage_events

    dirs = []
    for side, ids in (("a", [1, 2, 3]), ("b", [10, 20])):
        d = tmp_path / side / "sf_same"
        spark.createDataFrame(
            [(i, None, i, "view", 1.0, "{}") for i in ids], EVENTS_SCHEMA
        ).coalesce(1).write.parquet(str(d / "_events"))
        (part,) = [f for f in os.listdir(d / "_events") if f.endswith(".parquet")]
        os.rename(d / "_events" / part, d / "events.parquet")
        dirs.append((str(d), ids))
    stages = {_stage_events(d) for d, _ in dirs}
    assert len(stages) == 2
    for n, (d, ids) in enumerate(dirs):
        got = stream.run_to_memory(
            stream.read_events_stream(spark, d).select("event_id"),
            f"t_stream_stage_{n}", output_mode="append",
        )
        assert sorted(r["event_id"] for r in got.collect()) == ids
    # a dangling link left in the stage is re-pointed at the data
    stage = _stage_events(dirs[0][0])
    link = os.path.join(stage, "events-000.parquet")
    os.remove(link)
    os.symlink(str(tmp_path / "gone" / "events.parquet"), link)
    assert _stage_events(dirs[0][0]) == stage
    assert os.path.samefile(link, os.path.join(dirs[0][0], "events.parquet"))


def test_stream_upsert_into_vertices(spark, tmp_path):
    """SURVEY §7 phase-2 item 11: streaming upsert of events into vertices."""
    from egraphdb_spark.schema import VERTICES_SCHEMA

    ev = stream.read_events_stream(spark, SF_SMOKE).where(F.col("event_id") < 50)
    empty = spark.createDataFrame([], VERTICES_SCHEMA)
    sink: list = []
    src, on_batch = stream.stream_upsert_nodes(ev, empty, sink)
    q = (
        src.writeStream.foreachBatch(on_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    assert sink, "no batches processed"
    final = sink[-1]
    assert final.count() == 50
    row = final.where(F.col("kind") == "event").head()
    assert row["key"].startswith("event:") and row["version"] == 0


# ------------------------------------------------------------- UDF registry


def test_registry_validates_and_registers(spark):
    reg = FunctionRegistry(spark)
    stored = reg.register(
        "double_it",
        lambda x: x * 2,
        "long",
        test_vectors=[(1,), (21,)],
        validator=lambda args, r: r == args[0] * 2,
    )
    assert stored.version == 0
    assert reg.invoke("double_it", 21) == {"status": "ok", "result": 42}
    row = spark.sql("SELECT double_it(5) AS v").collect()[0]
    assert row["v"] == 10


def test_registry_rejects_failing_vector(spark):
    reg = FunctionRegistry(spark)
    with pytest.raises(RegistrationError):
        reg.register(
            "bad_fn",
            lambda x: x + 1,
            "long",
            test_vectors=[(1,)],
            validator=lambda args, r: r == args[0] * 100,
        )
    assert reg.get("bad_fn", 1) is None


def test_registry_version_bumps_on_changed_source(spark):
    reg = FunctionRegistry(spark)

    def f1(x):
        return x + 1

    def f2(x):
        return x + 1 + 0  # different source, same behaviour

    ok = lambda args, r: r == args[0] + 1  # noqa: E731
    assert reg.register("vfn", f1, "long", [(1,)], ok).version == 0
    assert reg.register("vfn", f1, "long", [(1,)], ok).version == 0  # unchanged
    assert reg.register("vfn", f2, "long", [(1,)], ok).version == 1  # changed


def test_registry_invoke_error_as_data(spark):
    reg = FunctionRegistry(spark)
    reg.register(
        "inv", lambda x: 1 / x, "double", [(2,)], lambda a, r: r == 0.5
    )
    out = reg.invoke("inv", 0)
    assert out["status"] == "error" and "ZeroDivisionError" in out["error"]
    assert reg.invoke("missing", 1)["status"] == "error"


def test_registry_vectorized_pandas_udf(spark):
    reg = FunctionRegistry(spark)

    def triple(x) -> "pd.Series":  # noqa: F821
        return x * 3

    triple.__annotations__ = {"x": pd.Series, "return": pd.Series}
    reg.register(
        "triple", triple, "long", [(2,), (0,)],
        validator=lambda a, r: r == a[0] * 3, vectorized=True,
    )
    got = spark.range(4).select(F.expr("triple(id)").alias("t")).collect()
    assert [r["t"] for r in got] == [0, 3, 6, 9]


# --------------------------------------------------------------------- IO


def test_io_roundtrips(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a,b\"quoted\"", 1.5), (2, None, -2.25)], "id long, s string, v double"
    )
    for writer, reader in (
        (io.write_csv, lambda p: io.read_csv(spark, p, "id long, s string, v double")),
        (io.write_json, lambda p: io.read_json(spark, p, "id long, s string, v double")),
        (io.write_parquet, lambda p: io.read_parquet(spark, p)),
    ):
        p = str(tmp_path / writer.__name__)
        writer(df, p)
        back = reader(p).select("id", "s", "v")
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_to_json_rows(spark):
    df = spark.createDataFrame([(1, "x")], "id long, s string")
    out = io.to_json_rows(df).collect()
    assert out[0]["json"] == '{"id":1,"s":"x"}'


def test_ingest_json_nodes(spark, tmp_path):
    p = str(tmp_path / "nodes")
    raw = spark.createDataFrame(
        [
            (
                "india",
                '{"name": "India", "pop": 1400}',
                ([["name"]],),
            )
        ],
        "key_data string, details string, indexes struct<indexes: array<array<string>>>",
    )
    raw.write.mode("overwrite").json(p)
    v = io.ingest_json_nodes(
        spark,
        p,
        "key_data string, details string, "
        "indexes struct<indexes: array<array<string>>, lowercase_indexes: array<array<string>>>",
    )
    row = v.collect()[0]
    assert row["key"] == "india" and row["version"] == 0
    from egraphdb_spark.ingest import build_indexes

    idx = build_indexes(v).collect()
    assert len(idx) == 1 and idx[0]["index_name"] == "name" and idx[0]["v_text"] == "India"


# ------------------------------------------------------------------ scalars


def test_scalar_functions(spark):
    df = spark.createDataFrame([("Hello World", 255, "2024-03-05 06:07:08")],
                               "s string, n long, t string")
    row = df.select(
        scalars.first_char_lower("s").alias("fcl"),
        scalars.to_hex("n").alias("hx"),
        scalars.from_hex(F.lit("ff")).alias("unhx"),
        scalars.parse_ts("t").alias("ts"),
        scalars.format_ts(scalars.parse_ts("t")).alias("rt"),
        scalars.to_epoch(scalars.parse_ts("t")).alias("ep"),
        scalars.days_between(F.lit("2024-01-01").cast("date"), F.lit("2024-01-11").cast("date")).alias("db"),
        scalars.is_blank(F.lit("  ")).alias("blank"),
        scalars.json_get(F.lit('{"a": {"b": 7}}'), ["a", "b"]).alias("jg"),
    ).collect()[0]
    assert row["fcl"] == "hello World"
    assert row["hx"] == "ff" and row["unhx"] == 255
    assert row["rt"] == "2024-03-05 06:07:08"
    assert row["db"] == 10 and row["blank"] is True and row["jg"] == "7"


# ----------------------------------------------------------------- mutation


def test_delete_nodes_and_edges(graph):
    v0 = graph.vertices.count()
    remaining = delete_nodes(graph.vertices, ["region:0", "region:1"])
    assert remaining.count() == v0 - 2
    assert remaining.where(F.col("key") == "region:0").count() == 0

    e0 = graph.edges.count()
    one = graph.edges.select("src_key", "dst_key").head()
    fewer = delete_edges(graph.edges, [(one["src_key"], one["dst_key"])])
    assert fewer.count() == e0 - 1


# ----------------------------------------------------------------- F16 crypto


def test_password_hash_vectors_and_nulls(spark):
    import hashlib
    import hmac as _hmac

    from egraphdb_spark.functions import crypto

    df = spark.createDataFrame(
        [("secret", "s1"), (None, "s2"), ("p3", None)],
        "pw string, salt string",
    )
    rows = {
        r["salt"]: r
        for r in df.select(
            "salt",
            crypto.hash_password("pw", "salt").alias("pbk"),
            crypto.hash_password_hmac(F.lit("k"), "pw", "salt").alias("mac"),
        ).collect()
    }
    expect_pbk = hashlib.pbkdf2_hmac(
        "sha256", b"secret", b"s1", crypto.PBKDF2_ITERATIONS, crypto.PBKDF2_DKLEN
    ).hex()
    expect_mac = _hmac.digest(b"k", b"secrets1", "sha1").hex()
    assert rows["s1"]["pbk"] == expect_pbk
    assert rows["s1"]["mac"] == expect_mac
    assert rows["s2"]["pbk"] is None and rows["s2"]["mac"] is None
    assert rows[None]["pbk"] is None and rows[None]["mac"] is None


def test_user_profile_compat_matches_batch(spark):
    from egraphdb_spark.streaming.stream import (
        read_events_stream,
        run_to_memory,
        user_type_profile_compat,
    )

    ev = read_events_stream(spark, SF_SMOKE)
    tbl = run_to_memory(
        user_type_profile_compat(ev), "t_profile_tbl", output_mode="update"
    )
    final = tbl.groupBy("user_id").agg(
        F.max(F.struct("n_events", "n_types", "top_type", "total")).alias("s")
    )
    got = {r["user_id"]: r["s"] for r in final.collect()}
    # spot-check one user against a hand aggregation
    import collections
    rows = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "user_id", "event_type", "value"
    ).collect()
    by_user = collections.defaultdict(lambda: collections.Counter())
    cents_u = collections.Counter()
    for r in rows:
        by_user[r["user_id"]][r["event_type"]] += 1
        cents_u[r["user_id"]] += int(round(r["value"] * 100))
    uid = sorted(by_user)[0]
    c = by_user[uid]
    top_n = max(c.values())
    assert got[uid]["n_events"] == sum(c.values())
    assert got[uid]["n_types"] == len(c)
    assert got[uid]["top_type"] == min(t for t, n in c.items() if n == top_n)
    assert got[uid]["total"] == cents_u[uid] / 100.0


def test_user_profile_tws_requires_protobuf(spark):
    """transformWithState plan builds; execution needs protobuf (env-gated,
    like multimodal decode).  With protobuf present the operator must match
    the compat build."""
    pytest.importorskip("google.protobuf")
    from egraphdb_spark.streaming.stream import (
        ensure_tws_conf,
        read_events_stream,
        run_to_memory,
        user_type_profile,
        user_type_profile_compat,
    )

    ensure_tws_conf(spark)
    ev = read_events_stream(spark, SF_SMOKE)
    tws = run_to_memory(user_type_profile(ev), "t_tws_tbl", output_mode="update")
    compat = run_to_memory(
        user_type_profile_compat(ev), "t_tws_compat_tbl", output_mode="update"
    )

    def final(tbl):
        return {
            r["user_id"]: tuple(r["s"])
            for r in tbl.groupBy("user_id")
            .agg(F.max(F.struct("n_events", "n_types", "top_type", "total")).alias("s"))
            .collect()
        }

    assert final(tws) == final(compat)


def test_rfm_segments_cover_all_users_and_score_range(spark):
    from egraphdb_spark.queries import REGISTRY
    from conftest import SF_SMOKE

    fn, _ = REGISTRY["evt_rfm_segments"]
    rows = fn(spark, SF_SMOKE).collect()
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n_users"] for r in rows) == n_users
    for r in rows:
        assert 1 <= r["r_score"] <= 4 and 1 <= r["f_score"] <= 4 and 1 <= r["m_score"] <= 4


def test_skew_kurtosis_known_shapes(spark):
    from egraphdb_spark.queries_ext import q_agg_skew_kurtosis  # noqa: F401
    from pyspark.sql import functions as FF

    # symmetric uniform -> skew ~ 0, kurtosis ~ -1.2; constant -> NULLs
    rows = [("U", float(x)) for x in range(1, 11)] + [("C", 5.0)] * 4
    df = spark.createDataFrame(rows, "l_returnflag string, l_quantity double")
    # reuse the gate's exact pipeline on a local frame via a temp view +
    # substituting the fixture is overkill; assert through the same math
    base = df.select("l_returnflag", FF.col("l_quantity").cast("long").alias("x"))
    m = base.groupBy("l_returnflag").agg(
        FF.count("*").alias("n"), FF.sum("x").alias("s1"),
        FF.sum(FF.expr("x * x")).alias("s2"),
        FF.sum(FF.expr("x * x * x")).alias("s3"),
        FF.sum(FF.expr("x * x * x * x")).alias("s4"),
    )
    staged = (
        m.withColumn("mu", FF.expr("cast(s1 as double) / n"))
        .withColumn("m2", FF.expr("cast(s2 as double) / n - mu * mu"))
        .withColumn("m3", FF.expr(
            "cast(s3 as double) / n - 3 * mu * (cast(s2 as double) / n) + 2 * mu * mu * mu"))
        .withColumn("m4", FF.expr(
            "cast(s4 as double) / n - 4 * mu * (cast(s3 as double) / n)"
            " + 6 * mu * mu * (cast(s2 as double) / n) - 3 * mu * mu * mu * mu"))
    )
    out = {r["l_returnflag"]: r for r in staged.select(
        "l_returnflag",
        FF.expr("CASE WHEN m2 > 0 THEN cast(floor(m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)) * 1000000) as bigint) ELSE NULL END").alias("sk"),
        FF.expr("CASE WHEN m2 > 0 THEN cast(floor((m4 / (m2 * m2) - 3) * 1000000) as bigint) ELSE NULL END").alias("ku"),
    ).collect()}
    assert abs(out["U"]["sk"]) <= 1          # floor(~0 * 1e6): 0 or -1
    assert -1_230_000 < out["U"]["ku"] < -1_190_000   # uniform excess kurtosis ~ -1.22
    assert out["C"]["sk"] is None and out["C"]["ku"] is None
