"""The registry builder: one dict per gate family, joined once.

Pure Python, no Spark: the family modules are imported and their
``GATES`` dicts inspected.
"""

import pytest

from egraphdb_spark.queries import FAMILIES, REGISTRY, _PRIORITY, build_registry

# gates per family module (egraphdb_spark/gates/<family>.py)
FAMILY_SIZES = {
    "search": 22,
    "graph": 21,
    "relational": 52,
    "events": 34,
    "io_stream": 33,
    "text": 55,
    "dedup": 23,
    "similarity": 30,
    "sketch_sample": 35,
}

# the six gates that joined the registry when the staging path was retired
MERGED = {
    "dedup_span_coverage",
    "mm_phash_pairs",
    "rag_feature_rerank",
    "sketch_sampled_quantiles",
    "pipe_despan_rewrite",
    "dedup_contam_spans",
}


def test_registry_holds_every_family_gate_once():
    sizes = {f.__name__.rsplit(".", 1)[1]: len(f.GATES) for f in FAMILIES}
    assert sizes == FAMILY_SIZES
    assert len(REGISTRY) == sum(FAMILY_SIZES.values()) == 305
    assert MERGED <= REGISTRY.keys()


def test_driver_window_leads_the_registry():
    assert len(_PRIORITY) == 50
    assert list(REGISTRY)[:50] == _PRIORITY


def test_every_gate_has_an_oracle():
    missing = [
        n for n, (_fn, sql) in REGISTRY.items() if not (isinstance(sql, str) and sql.strip())
    ]
    assert not missing


def test_builder_rejects_a_name_registered_twice():
    def fn(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match="registered twice.*'a'"):
        build_registry([{"a": (fn, "SELECT 1")}, {"a": (fn, "SELECT 2")}], [])


def test_builder_rejects_an_unregistered_priority_name():
    with pytest.raises(ValueError, match="not registered.*'b'"):
        build_registry([{"a": (None, "SELECT 1")}], ["b"])
