"""Continuous aggregates: the streaming rollup maintained into a table.

The north-star shape (TimescaleDB-style continuous aggregate / the
reference archiver's always-on ingest, archiver/filemgr.go): a watermarked
streaming rollup whose FINALIZED windows are appended to the day-partitioned
tier table as they close, so the materialized table is always the batch
rollup of everything older than the watermark.

Semantics & idempotency:
- append output mode => each (conv_id, bucket) row is emitted exactly once,
  when the watermark passes its window end — no upsert needed.
- foreachBatch is at-least-once on failure/retry, so each batch writes to
  its OWN ``batch=<id>/`` subtree with mode=overwrite: a replayed batch
  rewrites the same directory, so a crash at ANY point (including between
  the data write and the manifest commit) cannot duplicate rows. The atomic
  per-batch manifest (data/commit.write_json) then only records metrics and
  lets clean replays skip recomputation. Readers glob
  ``batch=*/day=*`` — day partition pruning still applies.
- An Iceberg catalog upgrades this to update-mode MERGE for re-emitted
  refinements; with the parquet layout we stay in append mode by design.

Feed-shape requirement (standard watermark semantics, stated here because
a soak run demonstrated it): the landing files must arrive in ROUGHLY
event-time order, with disorder bounded by the watermark delay — exactly
what a tailed stream / the reference's NATS feed delivers. Landing
arbitrary-order backfill shards instead lets the first batch advance the
watermark to the stream's end, and every later batch's rows are dropped as
late (measured: a 16-shard round-robin landing kept only ~28% of windows;
the same data landed as ascending day ranges kept 100%). Backfill belongs
in the BATCH path (jobs/rollup_job.py), not the archiver tail.

The drop is no longer silent: ``record_late_drops`` folds Spark's
``numRowsDroppedByWatermark`` per micro-batch into the batch manifests,
and the archiver job surfaces the total in its drained summary line.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tmframe_spark.data.commit import read_json, write_json
from tmframe_spark.streaming.stream import read_transcript_stream, stream_rollup


def _exactly_once_writer(table_root: str, table: str, write_fn):
    """The exactly-once foreachBatch protocol, shared by every stream sink
    here: skip batches with a committed manifest (clean replay), let
    ``write_fn(df, batch_dir) -> metrics`` overwrite its batch-scoped
    directory (idempotent under at-least-once replays, even after a crash
    mid-write), then commit metrics with data/commit.write_json. One
    protocol, one place — the rollup and block sinks cannot drift apart in
    replay semantics."""
    out_dir = os.path.join(table_root, table)
    man_dir = os.path.join(table_root, f"_{table}_batches")

    def write_batch(df: DataFrame, batch_id: int) -> None:
        mpath = os.path.join(man_dir, f"batch-{batch_id}.json")
        if os.path.exists(mpath):
            return
        metrics = write_fn(df, os.path.join(out_dir, f"batch={batch_id}"))
        write_json(mpath, {"batch_id": batch_id, **metrics})

    return write_batch


def _start_sink(
    spark, source_path, schema, max_files, shape, write_fn,
    table_root, table, checkpoint, available_now,
):
    """Start a continuous materializer: append ``shape(transcript stream)``
    through the exactly-once writer around ``write_fn``, checkpointed under
    ``table_root/_<table>_checkpoint`` unless ``checkpoint`` is given."""
    stream = read_transcript_stream(spark, source_path, schema, max_files)
    checkpoint = checkpoint or os.path.join(table_root, f"_{table}_checkpoint")
    writer = (
        shape(stream)
        .writeStream.foreachBatch(_exactly_once_writer(table_root, table, write_fn))
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _write_rows(df: DataFrame, batch_dir: str) -> dict:
    # eager localCheckpoint, not persist (repo rule): one computation
    # feeds both the write and the count, blocks auto-release on GC
    df = df.localCheckpoint(eager=True)
    df.withColumn("day", F.to_date("bucket")).repartition("day").write.mode(
        "overwrite"
    ).partitionBy("day").parquet(batch_dir)
    return {"rows": df.count()}


def materialize_continuous_rollup(
    spark: SparkSession,
    source_path: str,
    schema,
    table_root: str,
    tier: str = "1m",
    watermark: str = "10 minutes",
    table: str | None = None,
    checkpoint: str | None = None,
    available_now: bool = True,
    max_files: int = 64,
):
    """Run (or drain, with availableNow) the continuous rollup into
    ``table_root/<table>/day=*``. Returns the StreamingQuery."""
    table = table or f"rollup_{tier}_stream"
    return _start_sink(
        spark, source_path, schema, max_files,
        lambda stream: stream_rollup(stream, tier, watermark),
        _write_rows,
        table_root, table, checkpoint, available_now,
    )


def read_materialized(spark: SparkSession, table_root: str, table: str) -> DataFrame:
    path = os.path.join(table_root, table)
    return spark.read.option("basePath", path).parquet(f"{path}/batch=*/day=*")


def record_late_drops(
    query, table_root: str, table: str, after_batch: int = -1
) -> dict[int, int]:
    """Merge per-micro-batch WATERMARK LATE-DROP counts into the batch
    manifests, so a misfed pipeline is visible, not silent.

    The round-3 soak showed the failure mode: landing shards in arbitrary
    (non-time) order lets the first batch advance the watermark to the
    stream's end and every later batch's rows are dropped as late — ~72% of
    windows lost with NO signal anywhere (the requirement was documented
    only). Spark does count those rows: the stateful aggregation reports
    ``numRowsDroppedByWatermark`` per micro-batch in its progress events.
    This helper folds that counter into each ``batch-<id>.json`` manifest
    (rewritten through data/commit.write_json) as ``late_dropped_rows``
    and returns ``{batch_id: dropped}``.

    Two measured quirks of this counter (pinned by the round-4 tests): the
    late filter uses the PREVIOUS batch's watermark — eviction uses the
    current one — so a misordered shard landing one batch after the
    watermark jump is still admitted and drops begin a batch later; and for
    aggregations the counter counts rows at the state operator, i.e.
    post-partial-aggregation (conv, window) GROUPS, not raw input rows.
    Either way: zero means a clean feed, nonzero means data loss.

    Call it after a drain (``q.awaitTermination()``) or periodically on a
    continuous query — ``recentProgress`` holds the last ~100 micro-batches.
    The archiver job does both and surfaces the total in its summary line.
    A micro-batch's counter is final once its progress event is emitted, so
    a polling caller passes ``after_batch`` (the highest batch id it has
    already merged) to skip re-reading every older manifest on each poll —
    without it a long drain pays O(manifests) file reads per poll
    (round-4 advice #3).
    """
    man_dir = os.path.join(table_root, f"_{table}_batches")
    out: dict[int, int] = {}
    for p in query.recentProgress:
        prog = json.loads(p.json) if hasattr(p, "json") else p
        bid = prog.get("batchId")
        if bid is None or int(bid) <= after_batch:
            continue
        dropped = sum(
            int(op.get("numRowsDroppedByWatermark", 0) or 0)
            for op in prog.get("stateOperators", [])
        )
        out[int(bid)] = dropped
        mpath = os.path.join(man_dir, f"batch-{bid}.json")
        manifest = read_json(mpath, {"batch_id": int(bid)})
        if manifest.get("late_dropped_rows") == dropped:
            continue
        manifest["late_dropped_rows"] = dropped
        write_json(mpath, manifest)
    return out


def _write_blocks(df: DataFrame, batch_dir: str) -> dict:
    from tmframe_spark.codec.udfs import bucket_ts_ns, pack_blocks

    pts = df.select(
        "conv_id",
        F.to_date("bucket").alias("day"),
        bucket_ts_ns().alias("ts_ns"),
        F.col("token_volume").cast("double").alias("v0"),
        F.col("turns").cast("long").alias("v1"),
    )
    # one computation feeds the write and the metrics (repo rule:
    # eager localCheckpoint, never persist)
    blocks = pack_blocks(pts, ["conv_id", "day"], v0="v0", v1="v1").localCheckpoint(
        eager=True
    )
    blocks.repartition("day").write.mode("overwrite").partitionBy("day").parquet(
        batch_dir
    )
    stats = blocks.agg(
        F.count(F.lit(1)).alias("blocks"),
        F.coalesce(F.sum("n_points"), F.lit(0)).alias("points"),
    ).collect()[0]
    return {"blocks": int(stats["blocks"]), "points": int(stats["points"])}


def _consolidation_manifest_path(table_root: str, table: str) -> str:
    return os.path.join(table_root, f"_{table}_consolidated.json")


def read_consolidation_manifest(table_root: str, table: str) -> dict:
    """``{day: {"blocks": n, "pruned": bool}}`` for every consolidated day."""
    return read_json(_consolidation_manifest_path(table_root, table), {})


def consolidate_stream_blocks(
    spark: SparkSession,
    table_root: str,
    table: str,
    cat,
    name: str,
    days: list[str] | None = None,
    prune: bool = False,
):
    """Fold the streamed ``batch=*/day=*`` block table into the canonical
    day-partitioned Catalog archive.

    A streaming archiver necessarily fragments: each micro-batch packs only
    the windows the watermark closed in it, so a (conv, day) group
    accumulates several partial blocks across batches. Consolidation
    decodes them and re-packs ONE canonical block per (conv, day) — and
    because the block encoder is deterministic over the sorted point set
    (partitioning-independence is a tested invariant, tests/test_blocks),
    the result is BYTE-IDENTICAL to an archive built by a single batch
    pack of the same points: the streamed archive converges to the batch
    archive exactly. It holds data points only, not the gap-filled day
    blocks of ``jobs/rollup_job.py``: an as-of probe at a minute with no
    turns answers with the last data point, not a zero (``serve_asof``).

    Day-scoped and idempotent like ``Catalog.compact_day`` (overwrite_day
    per day), so it runs behind the streaming frontier day by day. Returns
    ``{day: canonical_block_count}`` for the days consolidated THIS call.

    Bookkeeping (round-3 advice: the consumed stream data was neither
    marked nor pruned, so the same days were servable from two tables and
    the streamed table grew without bound): every consolidated day is
    recorded in ``_<table>_consolidated.json`` (data/commit.write_json). A day
    recorded there is CONSUMED — readers wanting consolidated days must use
    the Catalog archive; ``read_materialized`` still sees the raw stream
    table and double-counts if combined naively. With ``prune=True`` the
    consumed ``batch=*/day=<d>`` source directories are deleted after the
    canonical overwrite commits. Crash-safety ordering: the day is marked
    ``pruned`` in the manifest BEFORE its directories are removed, and
    pruned days are excluded from later consolidations — a crash mid-delete
    can therefore never feed a partial source back into the canonical
    archive (the half-deleted day is already fenced off). Un-pruned days
    remain re-consolidatable (byte-identical overwrite, harmless).
    """
    import glob as _glob
    import shutil

    from tmframe_spark.codec.udfs import pack_blocks, unpack_blocks

    manifest = read_consolidation_manifest(table_root, table)
    fenced = set(d for d, m in manifest.items() if m.get("pruned"))
    if days is not None:
        want = [str(d) for d in days if str(d) not in fenced]
        if not want:
            return {}
    # a fully-pruned stream table has no batch=*/day=* dirs left — nothing
    # eligible, and the glob read below would raise PATH_NOT_FOUND
    if not _glob.glob(os.path.join(table_root, table, "batch=*", "day=*")):
        return {}
    blocks = read_materialized(spark, table_root, table)
    if days is not None:
        blocks = blocks.where(F.col("day").cast("string").isin(want))
    elif fenced:
        blocks = blocks.where(~F.col("day").cast("string").isin(sorted(fenced)))
    pts = unpack_blocks(blocks, ["conv_id", "day"], v0="v0", v1="v1")
    canonical = pack_blocks(pts, ["conv_id", "day"], v0="v0", v1="v1").localCheckpoint()
    cat.ensure_table(name, canonical)
    out: dict[str, int] = {}
    day_rows = canonical.groupBy("day").agg(F.count(F.lit(1)).alias("n")).collect()
    for r in sorted(day_rows, key=lambda r: str(r["day"])):
        d = str(r["day"])
        cat.overwrite_day(name, canonical.where(F.col("day").cast("string") == d), d)
        out[d] = int(r["n"])
        manifest[d] = {"blocks": int(r["n"]), "pruned": bool(prune)}
        write_json(_consolidation_manifest_path(table_root, table), manifest)
        if prune:
            for src in _glob.glob(
                os.path.join(table_root, table, "batch=*", f"day={d}")
            ):
                shutil.rmtree(src, ignore_errors=True)
    return out


def materialize_continuous_blocks(
    spark: SparkSession,
    source_path: str,
    schema,
    table_root: str,
    tier: str = "1m",
    watermark: str = "10 minutes",
    table: str | None = None,
    checkpoint: str | None = None,
    available_now: bool = True,
    max_files: int = 64,
):
    """The streaming ARCHIVER: finalized rollup windows are packed into
    delta-of-delta/Gorilla TMFRAME blocks as they close and appended to a
    day-partitioned block table — streaming ingest straight to the
    compressed, servable archive (the reference archiver's always-on loop,
    archiver/filemgr.go:94-104, with tfindex-style serving on top).

    Exactly-once by the same two mechanisms as the rollup materialization:
    append mode emits each (conv, bucket) window once when the watermark
    passes it, and each batch overwrites its own ``batch=<id>/`` subtree
    with an atomic manifest. Because finalized windows only move forward,
    the blocks of one conversation across batches have disjoint,
    time-ordered point spans — exactly the invariant the serving layer
    (ops/serve.serve_range / serve_asof) relies on, so the streaming-built
    archive is served by the same code paths as a batch-built one.

    Returns the StreamingQuery.
    """
    table = table or f"blocks_{tier}_stream"
    return _start_sink(
        spark, source_path, schema, max_files,
        lambda stream: stream_rollup(stream, tier, watermark),
        _write_blocks,
        table_root, table, checkpoint, available_now,
    )


def _topk_writer(k: int):
    """MG-compress each finalized bucket's complete count table before it
    lands: the stored tier is <= k rows per bucket with the derived
    err = n_total - sum(cnt) bound (ops/rollup semantics, byte-identical
    to the batch rollup_topk_sketch on the same data because append-mode
    windows finalize whole)."""
    from pyspark.sql.window import Window

    from tmframe_spark.ops.rollup import _mg_compress, _with_mg_err

    def write_rows(df: DataFrame, batch_dir: str) -> dict:
        counts = df.withColumn(
            "n_total", F.sum("cnt").over(Window.partitionBy("bucket"))
        )
        sk = _with_mg_err(_mg_compress(counts, k)).localCheckpoint(eager=True)
        sk.withColumn("day", F.to_date("bucket")).repartition("day").write.mode(
            "overwrite"
        ).partitionBy("day").parquet(batch_dir)
        return {"rows": sk.count()}

    return write_rows


def materialize_continuous_topk(
    spark: SparkSession,
    source_path: str,
    schema,
    table_root: str,
    tier: str = "1h",
    key_col: str = "conv_id",
    k: int = 16,
    watermark: str = "10 minutes",
    table: str | None = None,
    checkpoint: str | None = None,
    available_now: bool = True,
    max_files: int = 64,
):
    """Continuously materialize the MG heavy-hitters tier from a landing
    zone. Coarser tiers come from the SAME merge the batch path uses:
    cascade_topk_up over read_materialized(...) — sketches merge across
    batch directories with the telescoping error bound, no raw re-read."""
    from tmframe_spark.streaming.stream import stream_topk_counts

    table = table or f"topk_{tier}_stream"
    return _start_sink(
        spark, source_path, schema, max_files,
        lambda stream: stream_topk_counts(stream, tier, key_col, watermark),
        _topk_writer(k),
        table_root, table, checkpoint, available_now,
    )
