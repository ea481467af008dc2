"""Per-partition checkpoint / lineage / metrics manifests.

The reference's archiver acks each NATS message only after the frame hits
its day-partitioned file (archiver/filemgr.go:370-384) — resumability by
acknowledged unit. The Spark analog: a rollup job over a date-partitioned
table writes one JSON manifest per (day) partition recording input lineage
and throughput metrics; a resumed run anti-joins the done-manifest set and
processes only missing partitions. flock single-writer protection
(archiver/filemgr.go:140-163) becomes the atomic, fsynced manifest commit
of data/commit.py.
"""

from __future__ import annotations

import os
import time
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tmframe_spark.data.commit import read_json, write_json


@dataclass
class PartitionManifest:
    partition: str  # e.g. "day=2024-01-03"
    input_rows: int
    output_rows: int
    output_bytes: int
    wall_seconds: float
    rows_per_sec: float
    engine_version: str
    extra: dict


def manifest_path(root: str, partition: str) -> str:
    return os.path.join(root, f"{partition.replace('=', '_').replace('/', '_')}.json")


def write_manifest(root: str, m: PartitionManifest) -> str:
    path = manifest_path(root, m.partition)
    write_json(path, asdict(m))  # atomic commit = the flock/ack analog
    return path


def done_partitions(root: str) -> set[str]:
    return set(read_manifests(root))


def pending_days(transcripts: DataFrame, manifest_root: str) -> list[str]:
    """Days present in the input that have no committed manifest — the
    resume anti-join (driver-side: the day list is tiny even at 100 TB)."""
    days = [
        r["day"]
        for r in transcripts.select(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
        )
        .distinct()
        .collect()
    ]
    done = {p.split("=", 1)[1] for p in done_partitions(manifest_root)}
    return sorted(d for d in days if d not in done)


def read_manifests(root: str) -> dict[str, dict]:
    """All committed manifests keyed by partition (tiny at any scale —
    one JSON per day)."""
    if not os.path.isdir(root):
        return {}
    out = {}
    for fn in os.listdir(root):
        if fn.endswith(".json"):
            m = read_json(os.path.join(root, fn))
            out[m["partition"]] = m
    return out


def stale_days(transcripts: DataFrame, manifest_root: str) -> list[str]:
    """COMMITTED days whose current input row count no longer matches the
    ``input_rows`` recorded at commit time — late arrivals (or deletions)
    that landed after the day was packed. ``pending_days`` finds
    never-committed days; this finds committed-but-outdated ones.

    One day-keyed count aggregate (map-side combined) against the tiny
    driver-side manifest set. Row count is the cheap staleness signal for
    an append-only transcript feed (late arrival = more rows); a
    count-preserving in-place mutation would need a content-hash variant,
    at the price of hashing the full day — not this op's contract."""
    counts = {
        r["day"]: r["n"]
        for r in transcripts.groupBy(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    stale = []
    for part, m in read_manifests(manifest_root).items():
        day = part.split("=", 1)[1]
        if counts.get(day, 0) != m["input_rows"]:
            stale.append(day)
    return sorted(stale)


def checkpointed_rollup_run(
    transcripts: DataFrame,
    out_dir: str,
    manifest_root: str,
    salt: int | None = None,
    table: str = "rollup_1m_blocks",
) -> list[PartitionManifest]:
    """Resumable flagship run: per pending day, roll up + pack + write
    through the table catalog + commit a manifest. Partition-at-a-time =
    bounded state, restart-safe, per-partition lineage & throughput metrics.

    Writes route through ``data.catalog.Catalog`` (Iceberg DDL partitioned
    by the identity ``day`` column + ``bucket(16, conv_id)`` when available
    — the identity day partition is the Catalog layout contract its read
    paths rely on — with a ``day=`` parquet fallback); the overwrite-day
    unit keeps re-runs idempotent either way.
    """
    return _run_days(
        transcripts, out_dir, manifest_root,
        pending_days(transcripts, manifest_root), salt, table,
    )


def backfill_run(
    transcripts: DataFrame,
    out_dir: str,
    manifest_root: str,
    salt: int | None = None,
    table: str = "rollup_1m_blocks",
) -> list[PartitionManifest]:
    """Late-data maintenance: re-roll exactly the ``stale_days`` — days
    already committed whose input has since grown. ``overwrite_day`` makes
    the data rewrite idempotent and the manifest replaces atomically, so
    a crash mid-backfill leaves the day either old-complete or
    new-complete, never mixed. Untouched days are not read, not written
    (test-pinned). The backfilled bytes equal a from-scratch run over the
    complete input (per-day pack is a pure function of the day's rows —
    the partition-independence invariant the codec tests pin)."""
    return _run_days(
        transcripts, out_dir, manifest_root,
        stale_days(transcripts, manifest_root), salt, table,
    )


def _run_days(
    transcripts: DataFrame,
    out_dir: str,
    manifest_root: str,
    days: list[str],
    salt: int | None = None,
    table: str = "rollup_1m_blocks",
) -> list[PartitionManifest]:
    from tmframe_spark import __version__
    from tmframe_spark.codec.udfs import pack_rollup_blocks
    from tmframe_spark.data.catalog import Catalog
    from tmframe_spark.ops.rollup import rollup

    cat = Catalog(transcripts.sparkSession, out_dir)
    manifests = []
    for day in days:
        t0 = time.time()
        day_df = transcripts.where(F.to_date("ts") == F.lit(day))
        input_rows = day_df.count()
        # FUSED gap-fill + pack (the flagship's scale path): the shuffle into
        # the pack UDF carries only data rows. The previous composition
        # (gap_fill -> pack_blocks) materialized and shuffled the per-day
        # SPINE — conv x 1440 rows, an ~80x blowup over the data at soak
        # density — which is exactly the cliff the fused packer exists to
        # avoid. Byte-identity of the two forms is pinned by
        # tests/test_pack_fused.py and the job-level assertion in
        # tests/test_checkpoint.py.
        m1 = rollup(day_df, "1m", salt=salt)
        blocks = pack_rollup_blocks(m1, "1m", "day").select(
            "conv_id",
            F.lit(day).alias("day"),
            "n_points",
            "ts_first",
            "ts_last",
            "raw_nbytes",
            "frame",
        )
        cat.ensure_table(
            table, blocks, partition_by=("day", "bucket(16, conv_id)")
        )
        cat.overwrite_day(table, blocks, day)
        # stats come from reading the COMMITTED day back, not from the
        # `blocks` DataFrame: re-collecting from `blocks` would re-run the
        # whole rollup+pack lineage a second time (the round-4 lesson: fix
        # any action that recomputes lineage), and the read-back doubles as
        # a write-landed-readable check. A two-column columnar scan of one
        # day is metadata-cheap at any scale.
        written = cat.read_day(table, day)
        stats = written.agg(
            F.sum("n_points").alias("pts"), F.sum(F.length("frame")).alias("nb")
        ).collect()[0]
        wall = time.time() - t0
        m = PartitionManifest(
            partition=f"day={day}",
            input_rows=input_rows,
            output_rows=int(stats["pts"] or 0),
            output_bytes=int(stats["nb"] or 0),
            wall_seconds=round(wall, 3),
            rows_per_sec=round(input_rows / wall, 1) if wall > 0 else 0.0,
            engine_version=__version__,
            extra={"salt": salt},
        )
        write_manifest(manifest_root, m)
        manifests.append(m)
    return manifests
