"""The gate workloads: registry gates run as passes.

A pass runs a fixed set of gates in an order the seed permutes.  Each gate
is built (``REGISTRY[name][0](spark, data_dir)``, which includes the
iterative gates' eager lineage cuts) and then forced by an Arrow collect,
so the rows that were timed are the rows that get checked.  After the
timed window every result is compared with its DuckDB oracle through
``tests/parity.py`` (``run_oracle`` and ``compare``, used read-only).

``graph_iter`` runs four gates of ``operators.graph_algos`` with different
superstep shapes: fixed iterations (``graph_pagerank``), peeling
(``graph_kcore``), label propagation (``graph_lpa``) and the most jobs of
any gate (``graph_scc``).

``analytics`` runs one gate of each non-graph family of
``bench.py``'s ``CORE_QUERIES``, except ``stream``: the streaming gates
stage their source under a fixed path in ``/tmp``
(``streaming.stream.read_events_stream``), outside the run's directory,
and runs whose data directories share a name read each other's events.
"""

from __future__ import annotations

import time

GRAPH_ITER = ("graph_scc", "graph_pagerank", "graph_kcore", "graph_lpa")
# the gate run for each family; the dedup gate reads the shingle cache
FAMILIES = {
    "tpch": "agg_q5_region_revenue",
    "rel": "join_asof",
    "evt": "evt_rollup_cascade",
    "search": "p2_search_filters",
    "dedup": "dedup_contamination",
    "txt_pipe": "txt_bm25_topk",
    "sim_emb": "sim_cosine_topk",
    "sketch_sample": "sketch_hll_distinct",
}
ANALYTICS = tuple(FAMILIES.values())
PASSES = {"graph_iter": GRAPH_ITER, "analytics": ANALYTICS}


class GateClient:
    def __init__(self, spark, data_dir: str, tracer, cut_records):
        from egraphdb_spark.queries import REGISTRY

        self.spark = spark
        self.data_dir = data_dir
        self.tracer = tracer
        self.registry = REGISTRY
        self.cut_records = cut_records  # checkpoint.PROFILE_RECORDS

    def call(self, name: str) -> dict:
        fn = self.registry[name][0]
        tr = self.tracer
        cuts0 = len(self.cut_records)
        with tr.call(name, "client") as counts:
            t0 = time.perf_counter()
            with tr.span(f"{name}.build", "queries"):
                df = fn(self.spark, self.data_dir)
            t1 = time.perf_counter()
            with tr.span(f"{name}.exec", "spark"):
                pdf = df.toPandas()
            t2 = time.perf_counter()
        cuts = self.cut_records[cuts0:]
        return {
            "op": name,
            "class": "gate",
            "build_s": t1 - t0,
            "exec_s": t2 - t1,
            "total_s": t2 - t0,
            "answer": pdf,
            "cuts": len(cuts),
            "cut_s": sum(s for _, s in cuts),
            **counts,
        }


class GateOracle:
    def __init__(self, data_dir: str):
        from parity import compare, run_oracle

        from egraphdb_spark.queries import REGISTRY

        self.data_dir = data_dir
        self.registry = REGISTRY
        self._compare = compare
        self._run_oracle = run_oracle
        self._expected: dict = {}

    def check(self, rec: dict) -> list[str]:
        name = rec["op"]
        sql = self.registry[name][1]
        if sql is None:
            return [f"{name}: no oracle"]
        if name not in self._expected:
            self._expected[name] = self._run_oracle(sql, self.data_dir)
        return [f"{name}: {p}" for p in self._compare(rec["answer"], self._expected[name])]
