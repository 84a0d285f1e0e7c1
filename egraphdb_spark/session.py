"""SparkSession factory.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads in a
single JVM).  The same builder settings are what we would ship to a real
cluster: AQE on (runtime coalesce + skew-join handling), UTC session time,
Arrow enabled for the few Pandas-UDF code paths, and shuffle partitions sized
to the parallelism at hand rather than the Spark default of 200.

At 100 TB the knobs that matter are set per-job by the cluster manager
(executor count/memory); nothing in this module assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: a quarter of
    the host's physical memory, at most 48g.

    In local mode the driver JVM is the whole engine.  A heap larger than
    the host lets G1 keep growing and lets Spark's storage pool keep every
    cached and locally-checkpointed block in memory, until the kernel's
    OOM killer ends the JVM mid-run; with the heap inside the host, Spark
    spills blocks to its local dirs and the GC reclaims dead ones instead.
    """
    try:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (AttributeError, ValueError, OSError):
        return "48g"
    return f"{max(1024, min(48 * 1024, phys_mb // 4))}m"


def get_spark(
    app_name: str = "egraphdb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    AQE is enabled so that at scale the runtime re-plans: post-shuffle
    partition coalescing, skew-join splitting, and dynamic broadcast-join
    demotion/promotion all come for free.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let the planner pick shuffled-hash join when its size conditions
        # hold (guide §3.1/§9): the iterative graph family re-joins
        # checkpointed node/edge frames every round, and skipping the
        # per-round sorts measured 2-8% faster across the top-6 graph
        # queries (interleaved A/B, tools/ab_conf.py, r11).  Planner- and
        # AQE-gated by build-side size, so this is not a local-only tune.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The driver's events.parquet uses TIMESTAMP(NANOS), which Spark only
        # reads as raw long nanos; graph.load_tables converts back to a
        # timestamp column (sub-microsecond parts are zero in the fixture).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def session_cache_key(spark: SparkSession) -> str:
    """Stable per-session identity for memoization dictionaries.

    ``id(spark)`` is NOT safe as a cache key: after a session is stopped
    and garbage-collected, CPython can reuse the address for a brand-new
    session, silently returning cached DataFrames bound to the dead one.
    The Spark application id is unique per context lifetime (sessions
    sharing a context share DataFrames safely).
    """
    return spark.sparkContext.applicationId


def prune_dead_entries(cache: dict, live_key: str) -> None:
    """Drop cache entries from previous (stopped) sessions.

    Entries are keyed ``(app_id, ...)``; anything whose app_id differs from
    the live session's can never be returned again (application ids are
    never reused within a process) — dropping them unpins the dict and lets
    the dead session's cached plans be collected.
    """
    for k in [k for k in cache if k[0] != live_key]:
        del cache[k]
