"""Scale-adaptive partition sizing for heavy-CPU Python stages.

The engine pins explicit partition counts on exchanges that feed
mapInPandas stages: AQE's byte-based coalescing sees tiny bytes, decides
one partition is plenty, and serializes minutes of per-row CPU onto one
core (measured repeatedly since round 2). But a FIXED pin has the inverse
problem at the small end: a 100k-row input split 64 ways pays 64 Python
task start-ups for ~5 ms of work per task (measured: the msgpack encode
stage ran 0.69 s at 8 partitions vs 1.0 s at 64 on the same input). The
MapInPandas SQL metric "time to initialize Python workers", over the 56k-row
perfbench 1m rollup at local[4] (4 vCPU) with warm workers, reads
150-730 ms per task under pyspark's own daemon, 0.12-0.25 s of it CPU spent
re-reading zip archives; under ``tmframe_spark.worker_daemon``, which
removes that re-read, 140-250 ms for each task of a stage's first wave and
0-1 ms for the tasks after it.

``cpu_stage_partitions`` derives the pin from the optimizer's size
estimate for the exchange's input, so the SAME code picks ~a handful of
partitions for a 2 MB local input and the full shuffle-partition cap once
the input is tens of MB — no local-only constant, no cluster-only
constant. The estimate comes from ``optimizedPlan().stats()`` (driver-side
arithmetic over file sizes and selectivities — no job). When the estimate
is unavailable or implausible (Catalyst's fallback is Long.MaxValue), the
function returns the cap, i.e. exactly the pre-r7 pinned behavior. The
divisor is ``DEFAULT_STAGE_BYTES`` of estimated input per partition unless
the call passes its own ``per_partition_bytes``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: default bytes of (estimated, pre-serialization) input per Python-stage
#: partition. Tuned so the per-task Python start-up (module docstring) stays
#: well under the per-task compute; a caller whose rows cost more or less
#: CPU per byte passes its own ``per_partition_bytes``.
DEFAULT_STAGE_BYTES = 256 * 1024


def cpu_stage_partitions(
    df: DataFrame,
    per_partition_bytes: int = DEFAULT_STAGE_BYTES,
    cap: int | None = None,
) -> int:
    """Partition count for a heavy-CPU mapInPandas stage fed by ``df``.

    = clamp(ceil(estimated_input_bytes / per_partition_bytes), 1, cap)
    with cap defaulting to spark.sql.shuffle.partitions (the pre-r7 pin).
    """
    if cap is None:
        cap = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return cap
    if est <= 0 or est >= (1 << 62):  # missing/fallback estimate: keep the pin
        return cap
    return max(1, min(cap, -(-est // per_partition_bytes)))
