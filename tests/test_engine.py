"""Engine facade — one method per reference endpoint — and IR validation."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from egraphdb_spark.engine import Engine
from egraphdb_spark.ingest import (
    build_indexes,
    delete_edges,
    delete_nodes,
    make_edges,
    make_vertices,
    upsert_nodes,
)
from egraphdb_spark.plans.ir import QueryIRError, validate


@pytest.fixture(scope="module")
def engine(spark, graph):
    return Engine(spark, graph.vertices, graph.edges, graph.indexes)


def test_get_detail_and_multi_get(engine):
    assert engine.get_detail("customer:7").collect()[0]["key"] == "customer:7"
    got = {r["key"] for r in engine.multi_get(["region:0", "region:1", "nope"]).collect()}
    assert got == {"region:0", "region:1"}


def test_search_endpoint(engine):
    out = engine.search(
        {
            "type": "index",
            "conditions": {
                "any": [{"key": "BUILDING", "key_type": "text", "index_name": "c_mktsegment"}]
            },
            "selected_paths": {"seg": ["c_mktsegment"]},
        }
    ).collect()
    assert out and all(r["seg"] == "BUILDING" for r in out)


def test_traverse_reference_off_by_one(engine):
    # maxdepth=0 must still reach level-1 neighbours (README.md:184)
    lv = engine.traverse("nation:3", maxdepth=0).collect()
    assert {r["key"] for r in lv} and all(r["level"] == 1 for r in lv)


def test_find_path(engine):
    region = engine.traverse("customer:7", maxdepth=1).where(
        F.col("key").startswith("region:")
    ).head()["key"]
    path = engine.find_path("customer:7", region)
    assert path[0] == "customer:7" and path[-1] == region and len(path) == 3


def test_mutation_returns_new_engine(engine, spark):
    e2 = engine.delete_nodes(["region:0"])
    assert e2.get_detail("region:0").count() == 0
    assert engine.get_detail("region:0").count() == 1  # original untouched


def test_upsert_edges_and_edge_lookup(engine, spark):
    links = spark.createDataFrame(
        [("region:0", "region:1", '{"rel": "adjacent"}')],
        "src_key string, dst_key string, details string",
    )
    e2 = engine.upsert_edges(links)
    got = e2.edge("region:0", "region:1").collect()
    assert len(got) == 1
    assert engine.edge("region:0", "region:1").count() == 0


def test_function_registry_endpoint(engine):
    engine.register_function(
        "engine_inc", lambda x: x + 1, "long", [(1,)], lambda a, r: r == a[0] + 1
    )
    assert engine.invoke_function("engine_inc", 41) == {"status": "ok", "result": 42}


def test_udf_api_surface(engine):
    api = engine.udf_api()
    assert api.get_detail("region:0") is not None
    dsts = api.search_destination("nation:3")
    assert any(d.startswith("region:") for d in dsts)


def test_reindex_is_idempotent(engine):
    e2 = engine.reindex()
    assert e2.indexes.count() == engine.indexes.count()


# ------------------------------------------------- committed table versions


def _batch(spark, rows, updated_at=None):
    """(key, details) pairs → a vertices batch indexed on c_mktsegment."""
    raw = spark.createDataFrame(
        [(k, d, [["c_mktsegment"]], [["c_mktsegment"]]) for k, d in rows],
        "key string, details string, index_paths array<array<string>>, "
        "lowercase_index_paths array<array<string>>",
    )
    return make_vertices(raw, kind=F.lit("customer"), updated_at=updated_at)


def _plan_lines(df) -> int:
    return len(df._jdf.queryExecution().analyzed().treeString().splitlines())


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_written_node_reads_one_updated_at(engine, spark):
    # updated_at defaults to current_timestamp(): a committed write fixes it
    e2 = engine.upsert_nodes(
        _batch(spark, [("customer:7", '{"c_mktsegment": "RETAIL"}')])
    ).reindex()
    first = e2.get_detail("customer:7").head()["updated_at"]
    time.sleep(0.5)
    assert e2.get_detail("customer:7").head()["updated_at"] == first


def test_chained_writes_keep_a_leaf_plan(engine, spark):
    e, sizes = engine, []
    for i in range(4):
        batch = _batch(spark, [(f"customer:{i}", f'{{"c_mktsegment": "S{i}"}}')])
        e = e.upsert_nodes(batch).reindex()
        sizes.append((_plan_lines(e.vertices), _plan_lines(e.indexes)))
    assert sizes == [sizes[0]] * 4
    assert sizes[0][0] <= 2  # a scan of the committed version, nothing above it
    assert e.get_detail("customer:3").head()["details"] == '{"c_mktsegment": "S3"}'


def test_versions_follow_any_change_rule(engine, spark):
    def write(e, details):
        return e.upsert_nodes(_batch(spark, [("customer:v", details)])).reindex()

    def version(e):
        return e.get_detail("customer:v").head()["version"]

    e0 = write(engine, '{"c_mktsegment": "A"}')
    e1 = write(e0, '{"c_mktsegment": "B"}')
    e2 = write(e1, '{"c_mktsegment": "C"}')
    e3 = write(e2, '{"c_mktsegment": "C"}')  # identical payload: no bump
    assert [version(e) for e in (e0, e1, e2, e3)] == [0, 1, 2, 2]


def test_committed_writes_read_like_the_lazy_composition(engine, spark, graph):
    ts = F.lit("2024-06-01 00:00:00").cast("timestamp")
    batch = _batch(
        spark,
        [("customer:7", '{"c_mktsegment": "RETAIL"}'),
         ("customer:new", '{"c_mktsegment": "RETAIL"}')],
        updated_at=ts,
    )
    gone = ["customer:8", "region:0"]
    links = spark.createDataFrame(
        [("customer:new", "nation:3", "{}"), ("customer:7", "region:1", "{}")],
        "src_key string, dst_key string, details string",
    )
    v1 = upsert_nodes(graph.vertices, batch)
    v2 = delete_nodes(v1, gone)
    edges3 = delete_edges(
        graph.edges, [("customer:new", "nation:3"), ("customer:7", "region:1")]
    )
    lazy = [(v1, graph.edges), (v2, graph.edges), (v2, edges3.unionByName(make_edges(links)))]
    committed = engine.upsert_nodes(batch)
    steps = [committed]
    steps.append(steps[-1].delete_nodes(gone))
    steps.append(steps[-1].upsert_edges(links))
    query = {
        "type": "index",
        "conditions": {"any": [{"key": "RETAIL", "key_type": "text",
                                "index_name": "c_mktsegment"}]},
        "selected_paths": {"seg": ["c_mktsegment"]},
    }
    for got, (v, e) in zip(steps, lazy):
        want = Engine(spark, v, e, build_indexes(v))
        for read in (
            lambda x: x.search(query),
            lambda x: x.get_detail("customer:7"),
            lambda x: x.get_detail("customer:new"),
            lambda x: x.get_detail("customer:8"),
            lambda x: x.out_edges("customer:new"),
            lambda x: x.out_edges("customer:7"),
            lambda x: x.traverse("customer:7", maxdepth=1),
        ):
            assert _rows(read(got)) == _rows(read(want))
    assert _rows(steps[0].search(query))  # the written nodes are searchable


# ------------------------------------------------------------ IR validation


def test_ir_accepts_reference_query():
    q = {
        "type": "index",
        "conditions": {
            "any": [
                {"key": [9.0, 10.0], "key_type": "double", "index_name": "x"},
                {
                    "key": {"type": "Point", "coordinates": [77.2, 28.6]},
                    "key_type": "geo",
                    "index_name": "loc",
                    "distance_sphere": 1000.0,
                },
            ]
        },
        "filters": [{"key": "a", "key_type": "text", "index_json_path": ["p"]}],
        "selected_paths": {"name": ["p", "q"]},
    }
    assert validate(q) is q


@pytest.mark.parametrize(
    "bad",
    [
        {},  # no conditions
        {"conditions": {"any": []}},  # empty any
        {"conditions": {"any": [{"key": 1, "index_name": "x"}]}},  # no key_type
        {"conditions": {"any": [{"key": 1, "key_type": "bignum", "index_name": "x"}]}},
        {"conditions": {"any": [{"key": [1, 2, 3], "key_type": "int", "index_name": "x"}]}},
        {"conditions": {"any": [{"key": 1, "key_type": "int", "index_name": "x",
                                 "distance_sphere": 5}]}},  # distance on non-geo
        {"conditions": {"any": [{"key": {"type": "Polygon", "coordinates": []},
                                 "key_type": "geo", "index_name": "x"}]}},
        {"conditions": {"any": [{"key": 1, "key_type": "int", "index_name": "x"}]},
         "filters": [{"key": 1, "key_type": "int"}]},  # filter missing path
        {"conditions": {"any": [{"key": 1, "key_type": "int", "index_name": "x"}]},
         "selected_paths": {"n": []}},  # empty path
    ],
)
def test_ir_rejects_malformed(bad):
    with pytest.raises(QueryIRError):
        validate(bad)


def test_session_cache_key_and_prune(spark):
    """Memo dicts must key on applicationId, not id(spark) — a GC'd session's
    address can be reused by a new session, resurrecting dead DataFrames."""
    from egraphdb_spark.session import prune_dead_entries, session_cache_key

    key = session_cache_key(spark)
    assert isinstance(key, str) and key  # e.g. "local-17236..."
    cache = {("app-old", "a"): 1, ("app-old", "b"): 2, (key, "a"): 3}
    prune_dead_entries(cache, key)
    assert cache == {(key, "a"): 3}


def test_default_driver_memory_fits_the_host():
    """The default driver heap is a quarter of physical memory, capped at
    48g: a heap above the host's RAM ends with the JVM OOM-killed."""
    import os

    from egraphdb_spark.session import default_driver_memory

    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem = default_driver_memory()
    assert mem.endswith("m")
    mb = int(mem[:-1])
    assert mb == max(1024, min(48 * 1024, phys_mb // 4))
    assert mb < phys_mb


def test_reindex_status_watermarks(spark, graph):
    """reindex_status: shard totals reconcile with the base tables and the
    index join; reindex() leaves watermarks unchanged (idempotent)."""
    from egraphdb_spark.engine import Engine

    eng = Engine(spark, graph.vertices, graph.edges, graph.indexes)
    st = eng.reindex_status(n_shards=16)
    rows = st.collect()
    assert 0 < len(rows) <= 16
    assert sum(r["n_nodes"] for r in rows) == graph.vertices.count()
    assert sum(r["n_index_rows"] for r in rows) == graph.indexes.count()
    assert all(r["is_reindexing"] == 0 for r in rows)
    assert all(r["last_updated_at"] is not None for r in rows)
    # rebuild is idempotent: identical status afterwards
    st2 = eng.reindex().reindex_status(n_shards=16)
    assert sorted(map(tuple, st2.collect())) == sorted(map(tuple, rows))
