"""One benchmark run in its own process (started by ``run.py``).

Set-up runs ``SETUP_REPS`` times, each time on a new SparkSession, and
``setup_s`` is the median: the first set-up also starts the JVM and
compiles cold, the second runs warm.
Then the workload's timed phase runs whole units (a block of 8 calls for
``graph_api``, a pass over the workload's gates for ``graph_iter`` and
``analytics``): as many as fill ``--seconds`` at the nominal unit times
``UNIT_S``, at least one.  The count depends on ``--seconds`` only, never
on the host's speed, so every run of a workload times the same units.
With ``--trace 1`` the timed phase runs twice, once untraced and once
traced (the order alternates with the seed's parity), and the per-layer
metrics come from the traced phase.
All answers are checked after the timed window.  The run's record is
written as JSON to ``--out``.  Spark is stopped in a ``finally``, the py4j
gateway is shut down and the gateway's JVM is waited for before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the benchmark's own modules, the program, bench.py and tests/parity.py
# (the last two used read-only)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]

from bench import steal_ticks  # noqa: E402
from gates import FAMILIES, PASSES, GateClient, GateOracle  # noqa: E402
from graph_api import CLASSES, ApiClient, ApiOracle, CallMaker  # noqa: E402
from tracer import Tracer  # noqa: E402

WORKLOADS = ("graph_api", "graph_iter", "analytics")
SETUP_REPS = 2
# seconds per unit, untraced, on a 4-core host; a pass of ``analytics`` is
# short so that its phase is not one cold pass
UNIT_S = {"graph_api": 15.0, "graph_iter": 10.0, "analytics": 3.5}
FIXTURE_CACHES = ("vertices", "edges", "indexes")
# what each workload reads: the graph gates read no index, the analytics
# gates no edge, and only the dedup gate reads the shingle cache
CACHES = {"graph_api": FIXTURE_CACHES,
          "graph_iter": ("vertices", "edges"),
          "analytics": ("vertices", "indexes", "doc_shingles")}
READS = ("lookup", "search", "traverse")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if values else 0.0


def med(values) -> float:
    return float(statistics.median(values)) if values else 0.0


class Run:
    def __init__(self, args):
        self.args = args
        self.data_dir = os.path.abspath(args.data)
        self.tracer = Tracer(None, enabled=False, run_id=f"{args.workload}-{args.seed}")
        self.spark = None
        self.setups: list[dict] = []

    # ------------------------------------------------------------ set-up

    def set_up(self) -> None:
        """Session, table reads and the caches the workload reads,
        materialised in turn, on a new session each time."""
        from egraphdb_spark.graph import load_tables
        from egraphdb_spark.queries import fixture
        from egraphdb_spark.queries_pipeline import doc_shingles
        from egraphdb_spark.session import get_spark

        tr = self.tracer
        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t = {}
            with tr.span("setup", "setup"):
                t0 = time.perf_counter()
                with tr.span("get_spark", "session"):
                    self.spark = get_spark("perfbench")
                t["get_spark"] = time.perf_counter() - t0
                tr.sc = self.spark.sparkContext
                s = time.perf_counter()
                with tr.span("load_tables", "graph"):
                    load_tables(self.spark, self.data_dir)
                t["load_tables"] = time.perf_counter() - s
                g = fixture(self.spark, self.data_dir)
                for cache in CACHES[self.args.workload]:
                    s = time.perf_counter()
                    if cache == "doc_shingles":
                        with tr.span(cache, "queries_pipeline"):
                            doc_shingles(self.spark, self.data_dir).count()
                    else:
                        with tr.span(f"fixture.{cache}", "queries.fixture"):
                            getattr(g, cache).count()
                    t[cache] = time.perf_counter() - s
                t["total"] = time.perf_counter() - t0
            self.setups.append(t)

    def cached_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() for i in infos) / 2**20

    # ------------------------------------------------------------ phases

    def phase(self, traced: bool, seconds: float) -> dict:
        """The units that fill ``seconds``, from a fresh start of the
        workload's state."""
        self.tracer.enabled = traced
        rng = np.random.default_rng([self.args.seed, 1])
        n_units = max(1, round(seconds / UNIT_S[self.args.workload]))
        steal0 = steal_ticks()
        units, records = [], []
        if self.args.workload == "graph_api":
            client, maker = self._api(rng)
        else:
            client = self._gates()
        for _ in range(n_units):
            t0 = time.perf_counter()
            if self.args.workload == "graph_api":
                client.start_block()
                unit = [(op, (maker.params(op),)) for op in maker.block()]
            else:
                unit = [(str(n), ()) for n in rng.permutation(PASSES[self.args.workload])]
            for name, args in unit:
                records.append(self._safe(client, name, args))
            units.append(time.perf_counter() - t0)
        self.tracer.enabled = False
        out = {"units": units, "records": records, "steal_ticks": steal_ticks() - steal0}
        if self.args.workload == "graph_api":
            out["plan_nodes"] = client.plan_nodes()
        return out

    def _api(self, rng):
        from egraphdb_spark.engine import Engine
        from egraphdb_spark.operators import checkpoint
        from egraphdb_spark.queries import fixture

        data = {t: pq.read_table(f"{self.data_dir}/{t}.parquet")
                for t in ("customer", "supplier", "part", "nation")}
        g = fixture(self.spark, self.data_dir)
        engine = Engine(self.spark, g.vertices, g.edges, g.indexes)
        client = ApiClient(self.spark, engine, self.tracer, checkpoint.PROFILE_RECORDS)
        return client, CallMaker(rng, data)

    def _gates(self):
        from egraphdb_spark.operators import checkpoint

        return GateClient(self.spark, self.data_dir, self.tracer, checkpoint.PROFILE_RECORDS)

    @staticmethod
    def _safe(client, name: str, args: tuple) -> dict:
        try:
            return client.call(name, *args)
        except Exception:  # a failed call is counted, the loop goes on
            traceback.print_exc()
            return {"op": name, "error": traceback.format_exc(limit=3)}

    # ------------------------------------------------------------ checks

    def check(self, records: list[dict]) -> list[str]:
        if self.args.workload == "graph_api":
            oracle = ApiOracle(self.data_dir)
        else:
            oracle = GateOracle(self.data_dir)
        problems = []
        for rec in records:
            if "error" in rec:
                problems.append(f"{rec['op']}: raised")
                continue
            try:
                found = oracle.check(rec)
            except Exception:
                found = [f"{rec['op']}: check raised {traceback.format_exc(limit=2)}"]
            if found:
                problems.append("; ".join(found))
        return problems


# ---------------------------------------------------------------- metrics


def end_to_end(run: Run, phase: dict) -> tuple[dict, dict]:
    units = phase["units"]
    metrics = {
        "setup_s": (med([s["total"] for s in run.setups]), "s"),
        "wall_s": (sum(units), "s"),
    }
    samples = {"setup_s": len(run.setups), "wall_s": len(units),
               "calls": len(phase["records"])}
    return metrics, samples


def per_layer(run: Run, phase: dict, untraced: dict, problems: int, attempted: int,
              cached_mb: float, rss_mb: float) -> tuple[dict, dict]:
    recs = [r for r in phase["records"] if "error" not in r]
    m: dict[str, tuple[float, str]] = {}
    warm = run.setups[1:]  # the first set-up also started the JVM
    m["setup.first_s"] = (run.setups[0]["total"], "s")
    m["session.first_start_s"] = (run.setups[0]["get_spark"], "s")
    m["session.get_spark_s"] = (med([s["get_spark"] for s in warm]), "s")
    m["graph.load_tables_s"] = (med([s["load_tables"] for s in warm]), "s")
    # 0 for a cache the workload does not build
    for cache in FIXTURE_CACHES:
        m[f"queries.fixture.{cache}_s"] = (med([s.get(cache, 0.0) for s in warm]), "s")
    m["queries_pipeline.doc_shingles_s"] = (med([s.get("doc_shingles", 0.0) for s in warm]), "s")
    m["spark.cached_mb"] = (cached_mb, "MB")
    m["jvm_peak_rss_mb"] = (rss_mb, "MB")
    m["calls.p50_ms"] = (1000 * med([r["total_s"] for r in recs]), "ms")
    m["calls.build_ms"] = (1000 * med([r["build_s"] for r in recs]), "ms")
    m["calls.exec_ms"] = (1000 * med([r["exec_s"] for r in recs]), "ms")
    m["calls.build_s"] = (sum(r["build_s"] for r in recs), "s")
    m["spark.exec_s"] = (sum(r["exec_s"] for r in recs), "s")
    n = max(1, len(recs))
    jobs = sum(r.get("jobs", 0) for r in recs)
    stages = sum(r.get("stages", 0) for r in recs)
    tasks = sum(r.get("tasks", 0) for r in recs)
    m["calls.jobs"] = (jobs / n, "count")
    m["calls.stages"] = (stages / n, "count")
    m["calls.tasks"] = (tasks / n, "count")
    m["spark.jobs"] = (jobs, "count")
    m["spark.stages"] = (stages, "count")
    m["spark.tasks"] = (tasks, "count")
    m["spark.tasks_per_stage"] = (tasks / max(1, stages), "count")
    m["spark.failed_tasks"] = (sum(r.get("failed_tasks", 0) for r in recs), "count")
    m["operators.checkpoint.cuts"] = (sum(r["cuts"] for r in recs), "count")
    m["operators.checkpoint.cut_s"] = (sum(r["cut_s"] for r in recs), "s")
    m["host.steal_ticks"] = (phase["steal_ticks"], "count")
    m["host.cpus"] = (int(os.environ["SPARK_GRAFT_CPUS"]), "count")
    m["error_rate"] = (problems / max(1, attempted), "ratio")
    m["trace.overhead_s"] = (sum(phase["units"]) - sum(untraced["units"]), "s")
    detail = layer_detail(run, phase, recs)
    return m, detail


def layer_detail(run: Run, phase: dict, recs: list[dict]) -> dict:
    """Per-op-class, per-gate and per-family figures and self time per
    layer: written to the run record beside the metrics."""
    d: dict[str, float] = {}
    for layer, s in sorted(run.tracer.self_times().items()):
        d[f"self.{layer}_s"] = s
    d["ops_per_s"] = len(phase["records"]) / sum(phase["units"])

    def block(prefix, group):
        d[f"{prefix}.s"] = med([r["total_s"] for r in group])
        d[f"{prefix}.build_ms"] = 1000 * med([r["build_s"] for r in group])
        d[f"{prefix}.exec_ms"] = 1000 * med([r["exec_s"] for r in group])
        for k in ("jobs", "stages", "tasks"):
            d[f"{prefix}.{k}"] = sum(r.get(k, 0) for r in group) / max(1, len(group))

    if run.args.workload == "graph_api":
        for cls in CLASSES:
            group = [r for r in recs if r["class"] == cls]
            block(f"engine.{cls}", group)
            d[f"{cls}_p50_ms"] = 1000 * med([r["total_s"] for r in group])
        reads = [r["total_s"] for r in recs if r["class"] in READS]
        d["read_p90_ms"] = 1000 * pct(reads, 90)
        d["read_samples"] = len(reads)
        searches = [r for r in recs if r["op"] == "search"]
        d["operators.search.rows_out"] = med([len(r["answer"]) for r in searches])
        paths = [r for r in recs if r["op"] == "find_path" and r["answer"]]
        levels = [len(r["answer"]) - 1 for r in paths]
        d["operators.traversal.levels"] = med(levels)
        d["operators.traversal.jobs_per_level"] = (
            sum(r.get("jobs", 0) for r in paths) / max(1, sum(levels)))
        writes = [r for r in recs if r["op"] == "write"]
        d["ingest.upsert_nodes_ms"] = 1000 * med([r["upsert_nodes_s"] for r in writes])
        d["ingest.build_indexes_ms"] = 1000 * med([r["build_indexes_s"] for r in writes])
        d["ingest.plan_nodes"] = phase["plan_nodes"]
    elif run.args.workload == "graph_iter":
        for name in PASSES["graph_iter"]:
            block(f"gate.{name}", [r for r in recs if r["op"] == name])
    else:
        for family, name in FAMILIES.items():
            block(f"family.{family}", [r for r in recs if r["op"] == name])
    return d


# ---------------------------------------------------------------- main


def shutdown(spark) -> None:
    """Stop Spark, shut the py4j gateway and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    run = Run(args)
    marks = {"start": time.perf_counter()}
    try:
        run.tracer.enabled = bool(args.trace)  # set-up spans carry no job groups
        run.set_up()
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        cached_mb = run.cached_mb()
        marks["set_up"] = time.perf_counter()
        if args.trace:
            order = (False, True) if args.seed % 2 == 0 else (True, False)
            phases = {traced: run.phase(traced, args.seconds) for traced in order}
            measured, untraced = phases[True], phases[False]
        else:
            measured = untraced = run.phase(False, args.seconds)
        rss = vm_hwm_mb(jvm_pid)
        marks["timed"] = time.perf_counter()
        checked = [untraced] + ([measured] if args.trace else [])
        problems = [p for ph in checked for p in run.check(ph["records"])]
        attempted = sum(len(ph["records"]) for ph in checked)
        marks["checked"] = time.perf_counter()
        e2e, samples = end_to_end(run, untraced)
        out = {
            "attempted": attempted,
            "failed": len(problems),
            "problems": problems[:20],
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
            "samples": samples,
            "setups": run.setups,
            "calls": [[r["op"], r.get("total_s")] for r in untraced["records"]],
            "jvm_peak_rss_mb": rss,
        }
        if args.trace:
            layer, detail = per_layer(run, measured, untraced, len(problems), attempted,
                                      cached_mb, rss)
            out["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
            out["layer_detail"] = detail
            out["spans"] = run.tracer.dump()
    finally:
        shutdown(run.spark)
    marks["stopped"] = time.perf_counter()
    names = list(marks)
    out["phase_s"] = {b: marks[b] - marks[a] for a, b in zip(names, names[1:])}
    with open(args.out, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
