#!/usr/bin/env python
"""Interleaved A/B of a runtime SQL conf over registry queries.

Usage: python tools/ab_conf.py <conf_key> <valA> <valB> q1 [q2 ...]

Runs each query alternating A-B-B-A within ONE session (both arms hit the
same host-noise bursts — the only trustworthy comparison on this VM, see
OPTIMIZATION_r10.md "Measurement reality check").  Reports per-query best
and all samples.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    key, val_a, val_b, names = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_AB_REPS", "2"))  # per arm
    from egraphdb_spark.graph import doc_shingles
    from egraphdb_spark.queries import REGISTRY, fixture
    from egraphdb_spark.session import get_spark

    spark = get_spark("egraphdb-ab")
    g = fixture(spark, sf_dir)
    g.vertices.count(); g.edges.count(); g.indexes.count()
    doc_shingles(spark, sf_dir).count()

    for name in names:
        fn, _ = REGISTRY[name]
        samples: dict[str, list[float]] = {"A": [], "B": []}
        # A-B-B-A ordering per rep pair so bursts hit both arms
        order = (["A", "B", "B", "A"] * ((reps + 1) // 2))[: 2 * reps]
        for arm in order:
            spark.conf.set(key, val_a if arm == "A" else val_b)
            spark.sparkContext.setJobDescription(f"ab:{name}:{arm}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[arm].append(round(time.perf_counter() - t0, 3))
        spark.conf.set(key, val_a)
        print(
            f"{name}: A({val_a}) best {min(samples['A']):.2f} {samples['A']}"
            f" | B({val_b}) best {min(samples['B']):.2f} {samples['B']}",
            flush=True,
        )


if __name__ == "__main__":
    main()
