"""SparkSession factory with scale-oriented defaults.

The reference engine sizes its thread pool from MPI world size
(``grape/parallel/parallel_engine_spec.h:37-49``); here the equivalents are
the master's core count and ``spark.sql.shuffle.partitions``. AQE is enabled
so skewed shuffle partitions (hub vertices) are split at runtime — the Spark
analog of the reference's ``Rebalancer`` (``grape/fragment/rebalancer.h``).
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager as _contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "libgrape_lite_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for iterative graph analytics.

    Scale notes (these matter at 100 TB, are harmless on local[32]):

    * AQE + skew-join handling: hub vertices produce skewed shuffle
      partitions during the message-combine ``groupBy``; AQE splits them.
    * ``spark.sql.adaptive.coalescePartitions``: supersteps late in a
      frontier algorithm (BFS/SSSP) carry tiny frontiers — AQE coalesces
      the near-empty shuffle partitions instead of scheduling N empty tasks.
    * Arrow enabled for every pandas-UDF kernel (no per-row Python).
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


#: guards the static_plans scope counts; the AQE flag is session-wide, so
#: scopes entered from several driver threads (prepare_graph's pool) or
#: nested inside each other share one save/restore per session
_STATIC_LOCK = threading.Lock()
#: id(session) -> [open scope count, AQE value saved by the first scope]
_static_scopes: dict[int, list] = {}


@_contextmanager
def static_plans(spark: SparkSession):
    """Disable AQE for the duration of an iterative superstep loop.

    Superstep plans are fixed-shape and reuse a pre-partitioned adjacency;
    AQE re-plans every round and inserts an extra edge-sized Exchange above
    the checkpointed adjacency (measured: 3 exchanges vs 2 per gather with
    AQE on — scripts/audit_plans.py). Skew inside the loop is handled by
    map-side partial aggregation + explicit salting
    (functions/partitioning.py); AQE stays on for everything else.

    Scopes on one session nest and overlap across threads: the first entry
    saves and disables the flag, only the last exit restores it — a scope
    exiting early must not re-enable AQE under a sibling thread's running
    pin. Each session (each has its own SQL conf) is counted separately.
    """
    key = id(spark)
    with _STATIC_LOCK:
        scope = _static_scopes.get(key)
        if scope is None:
            scope = _static_scopes[key] = [
                0, spark.conf.get("spark.sql.adaptive.enabled")
            ]
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        scope[0] += 1
    try:
        yield
    finally:
        with _STATIC_LOCK:
            scope[0] -= 1
            if scope[0] == 0:
                del _static_scopes[key]
                spark.conf.set("spark.sql.adaptive.enabled", scope[1])


def tune_shuffle_partitions(
    spark: SparkSession,
    n_rows: int,
    max_partitions: int | None = None,
    rows_per_partition: int = 50_000,
) -> int:
    """Size ``spark.sql.shuffle.partitions`` to the data, not the cluster.

    Iterative graph jobs run many small stages; scheduling cores×k tiny
    tasks per superstep costs more than the work when partitions hold only
    a few thousand rows (measured: 10 PR rounds at 209k edges — 11.3 s at
    32 partitions vs 7.5 s at 4). Complementary to AQE coalescing, which
    only merges *after* the map side already ran at full width. At real
    scale the clamp lands on ``max_partitions`` and this is a no-op.
    """
    cpus = max_partitions or spark.sparkContext.defaultParallelism
    parts = max(4, min(cpus, n_rows // rows_per_partition or 4))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    return parts
