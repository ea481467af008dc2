"""SparkSession builder tuned for the rollup engine.

Scale posture (targets a 1000-executor cluster at ~100 TB; tested on
local[N]): AQE on with skew-join handling (hot conversations), Arrow-batched
Python UDFs only (no per-row Python anywhere in this engine), UTC session
timezone so bucket boundaries are deterministic and match the DuckDB oracles.

``ENGINE_CONF`` is the one conf table. Every entry point builds its session
through ``engine_builder``: ``get_spark`` for local runs, the ``jobs/``
under spark-submit, and ``scripts/scaling.py``'s local-cluster runner.
Master, shuffle partitions and driver memory stay with the caller, and so
does ``DAEMON_CONF``, which only a caller whose workers can import this
package before their first task may set.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "100000",
    # Python workers talk to executors over unix domain sockets
    # (Spark 4.1): the worker is always executor-local, so this holds
    # at any scale; measured here it cuts the per-task worker
    # handshake — cold Python-stage walls drop ~2x, steady ~5%
    "spark.python.unix.domain.socket.enabled": "true",
    # let AQE size CACHED plan output too (off by default): a persisted
    # aggregate otherwise materializes at the full shuffle-partition
    # count, and every cache consumer then runs that many near-empty
    # map tasks, each opening reducer-count shuffle streams (measured:
    # the flagship's two cascade branches burned ~7 s core-time per
    # exchange writing 100k tiny rows from a 64-partition cache;
    # flagship 3.1 -> 1.9 s with this on). Correctness-neutral: the
    # engine never relies on cached partition counts (block bytes are
    # partitioning-independent by invariant, and Python stages pin
    # their own exchanges).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # keep the driver honest about memory-bounded shuffles
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
}

# fork Python workers from the engine's daemon: pyspark calls
# importlib.invalidate_caches() per task, and on CPython 3.10-3.12 that
# re-reads pyspark.zip / the spark-core jar's central directories (~16 zip
# importers, 0.12-0.25 s CPU per task); the daemon re-reads an archive only
# when its stat changed (measured at local[4], 4 vCPU: identity mapInPandas
# over a 56k-row rollup in 4 partitions 0.59-0.62 -> 0.33-0.36 s, in 16
# partitions 1.52-1.57 -> 0.50-0.59 s). The daemon starts before any task,
# so its workers must import tmframe_spark from their own PYTHONPATH: true
# for get_spark and the local-cluster runner, not for a spark-submit whose
# --py-files reach the workers only once a task runs (README, "Running").
DAEMON_CONF = {"spark.python.daemon.module": "tmframe_spark.worker_daemon"}


def engine_builder(app_name: str = "tmframe_spark") -> SparkSession.Builder:
    """A session builder carrying ``ENGINE_CONF``; the caller adds master,
    shuffle partitions and driver memory, or leaves them to spark-submit."""
    return SparkSession.builder.appName(app_name).config(map=ENGINE_CONF)


def get_spark(
    cores: int | None = None,
    app_name: str = "tmframe_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) a local SparkSession.

    cores=None uses SPARK_GRAFT_CPUS, else local[*]. shuffle_partitions
    defaults to 2x cores on local mode — at cluster scale this would come
    from AQE's coalescing with a much higher initial partition count.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else None
    master = f"local[{cores}]" if cores else "local[*]"
    ncores = cores or (os.cpu_count() or 8)
    b = (
        engine_builder(app_name)
        .config(map=DAEMON_CONF)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 2 * ncores))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
