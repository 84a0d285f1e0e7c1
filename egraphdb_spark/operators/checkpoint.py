"""Lineage cuts for iterative DataFrame loops (Pregel rounds, frontier
walks, Lloyd iterations).

``localCheckpoint`` stores blocks on executor local storage with NO
lineage fallback — the right call on the single-JVM test target (no HDFS
round-trip), but on a preemptible 100-TB cluster a lost executor loses
its blocks and kills the job.  Every iterative loop in this package
therefore routes through :func:`cut_lineage`: when the deployment sets a
reliable checkpoint dir (``spark.sparkContext.setCheckpointDir`` on
HDFS/S3/DBFS), every loop transparently upgrades to reliable
``checkpoint()`` with zero per-operator changes.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame

# Env-gated phase profiler: every EAGER cut executes the pending DAG, so
# timing the checkpoint call gives a per-phase breakdown of the iterative
# algorithms for free.  Off unless SPARK_GRAFT_PROFILE_CUTS is set; the
# records list is read by tools/profile_query.py.
_PROFILE = bool(os.environ.get("SPARK_GRAFT_PROFILE_CUTS"))
PROFILE_RECORDS: list[tuple[str, float]] = []


# Frames a cut passes through on its way from the operator that asked for
# it: this module, DataFrame.transform, and the shared superstep loops —
# a record names the algorithm's line, not the loop primitive's.
_PASS_THROUGH = ("checkpoint.py", "dataframe.py", "supersteps.py")
# Records name files relative to the package, so gates/graph.py and
# graph.py (or gates/text.py and operators/text.py) stay apart.
_PACKAGE_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _caller() -> str:
    import traceback

    for frame in reversed(traceback.extract_stack(limit=8)[:-2]):
        if os.path.basename(frame.filename) not in _PASS_THROUGH:
            return f"{os.path.relpath(frame.filename, _PACKAGE_DIR)}:{frame.lineno}"
    return "?"


def cut_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage: reliable ``checkpoint()`` when the
    session has a checkpoint dir, else ``localCheckpoint()``.

    Designed for ``DataFrame.transform`` so call sites stay chained::

        frontier = frontier.join(...).transform(cut_lineage)
    """
    sc = df.sparkSession.sparkContext
    if _PROFILE and eager:
        t0 = time.perf_counter()
        out = (
            df.checkpoint(eager=True)
            if sc.getCheckpointDir() is not None
            else df.localCheckpoint(eager=True)
        )
        PROFILE_RECORDS.append((_caller(), time.perf_counter() - t0))
        return out
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def cut_lineage_lazy(df: DataFrame) -> DataFrame:
    """:func:`cut_lineage` with ``eager=False`` — marks the cut without
    forcing materialization (for frames that may never be executed)."""
    return cut_lineage(df, eager=False)
