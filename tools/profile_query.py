#!/usr/bin/env python
"""Phase-profile one or more registry queries.

Usage:  SPARK_GRAFT_PROFILE_CUTS=1 python tools/profile_query.py q1 [q2 ...]

For each query: prepares the fixture (untimed), then times the full
noop-sink execution N times (SPARK_GRAFT_PROFILE_REPS, default 2, best
kept).  Each run executes under its own job group, and the jobs, stages
and tasks it launched are read back from ``sc.statusTracker()`` (works
with the Spark UI disabled), so every query prints its job count next to
its seconds.  With SPARK_GRAFT_PROFILE_CUTS set, every eager
cut_lineage() inside the run is timed individually
(checkpoint.PROFILE_RECORDS), which breaks an iterative algorithm into
its per-round phases — the local stand-in for the Spark UI stage page
(spark.ui is disabled here).  A closing table lists seconds, jobs,
stages and tasks per query.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from egraphdb_spark.operators import checkpoint  # noqa: E402


def group_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) launched under ``group``; skipped stages
    (planned but never run) are not counted."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        jobs += 1
        for stage_id in info.stageIds:
            st = tracker.getStageInfo(stage_id)
            if st is not None:
                stages += 1
                tasks += st.numTasks
    return jobs, stages, tasks


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: profile_query.py <query> [...]", file=sys.stderr)
        sys.exit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_PROFILE_REPS", "2"))
    from egraphdb_spark.queries import REGISTRY, fixture
    from egraphdb_spark.queries_pipeline import doc_shingles
    from egraphdb_spark.session import get_spark

    spark = get_spark("egraphdb-profile")
    sc = spark.sparkContext
    t0 = time.perf_counter()
    g = fixture(spark, sf_dir)
    g.vertices.count(); g.edges.count(); g.indexes.count()
    doc_shingles(spark, sf_dir).count()
    print(f"[prepare] {time.perf_counter() - t0:.2f}s")

    table = []
    for name in names:
        fn, _ = REGISTRY[name]
        best, best_cuts, best_counts = float("inf"), [], (0, 0, 0)
        for r in range(reps):
            checkpoint.PROFILE_RECORDS.clear()
            group = f"profile:{name}#{r}"
            sc.setJobGroup(group, group)
            try:
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                el = time.perf_counter() - t0
            finally:
                sc.setJobGroup(None, None)
            counts = group_counts(sc, group)
            if el < best:
                best, best_cuts, best_counts = el, list(checkpoint.PROFILE_RECORDS), counts
        jobs, stages, tasks = best_counts
        table.append((name, best, jobs, stages, tasks))
        print(f"\n=== {name}: best {best:.2f}s over {reps} reps; "
              f"{jobs} jobs, {stages} stages, {tasks} tasks ===")
        cut_total = sum(t for _, t in best_cuts)
        for where, t in best_cuts:
            print(f"  cut {t:7.3f}s  {where}")
        if best_cuts:
            print(f"  [cuts total {cut_total:.2f}s; residue {best - cut_total:.2f}s"
                  " = non-checkpointed stages + final action]")

    print("\n| query | s | jobs | stages | tasks |\n|---|---|---|---|---|")
    for name, s, jobs, stages, tasks in table:
        print(f"| {name} | {s:.2f} | {jobs} | {stages} | {tasks} |")


if __name__ == "__main__":
    main()
