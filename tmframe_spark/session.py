"""SparkSession builder tuned for the rollup engine.

Scale posture (targets a 1000-executor cluster at ~100 TB; tested on
local[N]): AQE on with skew-join handling (hot conversations), Arrow-batched
Python UDFs only (no per-row Python anywhere in this engine), UTC session
timezone so bucket boundaries are deterministic and match the DuckDB oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    cores: int | None = None,
    app_name: str = "tmframe_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    cores=None uses local[*]. shuffle_partitions defaults to 2x cores on
    local mode — at cluster scale this would come from AQE's coalescing with
    a much higher initial partition count.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else None
    master = f"local[{cores}]" if cores else "local[*]"
    ncores = cores or (os.cpu_count() or 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 2 * ncores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        # Python workers talk to executors over unix domain sockets
        # (Spark 4.1): the worker is always executor-local, so this holds
        # at any scale; measured here it cuts the per-task worker
        # handshake — cold Python-stage walls drop ~2x, steady ~5%
        .config("spark.python.unix.domain.socket.enabled", "true")
        # fork Python workers from the engine's daemon: pyspark calls
        # importlib.invalidate_caches() per task, and on CPython 3.10-3.12
        # that re-reads pyspark.zip / the spark-core jar's central
        # directories (~16 zip importers, 0.12-0.25 s CPU per task); the
        # daemon re-reads an archive only when its stat changed (measured
        # at local[4], 4 vCPU: identity mapInPandas over a 56k-row rollup
        # in 4 partitions 0.59-0.62 -> 0.33-0.36 s, in 16 partitions
        # 1.52-1.57 -> 0.50-0.59 s)
        .config("spark.python.daemon.module", "tmframe_spark.worker_daemon")
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
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # local mode: keep the driver honest about memory-bounded shuffles
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
