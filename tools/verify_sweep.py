#!/usr/bin/env python
"""Local mimic of the driver's correctness sweep.

Fresh process, VANILLA SparkSession (no engine confs — exactly what the
driver supplies; the driver heap is ``SPARK_GRAFT_DRIVER_MEM`` or
``session.default_driver_memory()``), every registry gate run against its
DuckDB oracle at sf0.01 (the driver's oracle scale).  Usage:

    python tools/verify_sweep.py [sf_dir] [name_substring ...]

Prints one line per gate; exits non-zero if any gate fails.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--staged"]
    staged = "--staged" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = args[1:]

    from pyspark.sql import SparkSession

    from egraphdb_spark.session import default_driver_memory

    # the heap is the only engine-side value: a fixed one above the host's
    # RAM gets the JVM OOM-killed part way through the sweep
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("verify-sweep")
        .config("spark.sql.shuffle.partitions", "32")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .getOrCreate()
    )

    import __spark_entry__ as entry
    from parity import compare, run_oracle

    qs = dict(entry.queries())
    oracles = dict(entry.oracle_sql())
    if staged:
        # pre-merge sweep of queries_staged.py, same compare as the driver
        # (STAGED_REGISTRY / STAGED_R9_REGISTRY are merged-live since
        # r8/r10 — harmless re-adds; STAGED_R10_REGISTRY is the round-10
        # pre-merge batch)
        from egraphdb_spark.queries_staged import (
            STAGED_R9_REGISTRY,
            STAGED_R10_REGISTRY,
            STAGED_REGISTRY,
        )

        for reg in (STAGED_REGISTRY, STAGED_R9_REGISTRY, STAGED_R10_REGISTRY):
            for n, (fn, sql) in reg.items():
                qs[n] = fn
                oracles[n] = sql
    names = [n for n in qs if not only or any(s in n for s in only)]
    print(f"registry: {len(qs)} queries, {len(oracles)} oracles; running {len(names)}")

    failures = []
    for name in names:
        t0 = time.perf_counter()
        try:
            spark_pdf = qs[name](spark, sf_dir).toPandas()
            sql = oracles.get(name)
            problems = (
                compare(spark_pdf, run_oracle(sql, sf_dir)) if sql else []
            )
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            problems = [f"EXC {type(exc).__name__}: {exc}"]
        dt = time.perf_counter() - t0
        if problems:
            failures.append(name)
            print(f"{name} FAIL ({dt:.1f}s): " + " | ".join(problems)[:500], flush=True)
        else:
            print(f"{name} OK ({dt:.1f}s)", flush=True)

    print(f"\n{len(names) - len(failures)}/{len(names)} OK")
    if failures:
        print("FAILED:", " ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
