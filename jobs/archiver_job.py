"""Streaming-archiver entry point: spark-submit --py-files tmframe_spark.zip \\
        jobs/archiver_job.py --source <landing-parquet-dir> --root <table-root> \\
        [--tier 1m] [--watermark "10 minutes"] [--continuous] \\
        [--consolidate --warehouse <catalog-root> --archive-table <name>]

The reference archiver's always-on loop (archiver/filemgr.go) on Structured
Streaming: tail the landing directory, roll up per-conversation windows,
and pack each watermark-finalized window set into delta-of-delta/Gorilla
TMFRAME blocks, exactly-once (append-mode single emission + per-batch
overwrite dirs + atomic manifests — streaming/materialize.py).

By default the job DRAINS what has landed (availableNow) and exits —
resumable: the stream checkpoint under --root carries offsets across runs.
``--continuous`` keeps it running until killed. ``--consolidate`` then
folds the accumulated per-batch partial blocks into the canonical
one-block-per-(conv, day) Catalog archive (byte-identical to a batch-built
pack; run it behind the frontier like compaction).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--source", required=True, help="landing dir of transcript parquet")
    p.add_argument("--root", required=True, help="streamed block-table root")
    p.add_argument("--tier", default="1m", choices=("1m", "1h", "1d"))
    p.add_argument("--watermark", default="10 minutes")
    p.add_argument("--table", default=None)
    p.add_argument("--max-files", type=int, default=64, help="files per micro-batch")
    p.add_argument("--continuous", action="store_true",
                   help="run until killed instead of draining what has landed")
    p.add_argument("--consolidate", action="store_true",
                   help="after draining, fold partial blocks into the Catalog archive")
    p.add_argument("--warehouse", default=None, help="Catalog root for --consolidate")
    p.add_argument("--archive-table", default="archive")
    p.add_argument("--prune", action="store_true",
                   help="with --consolidate: delete each day's consumed "
                        "batch=*/day= source dirs once its canonical archive "
                        "day commits (the day is fenced in the consolidation "
                        "manifest first, so a crash mid-delete is safe)")
    p.add_argument("--behind-days", type=int, default=1,
                   help="leave the newest N streamed days unconsolidated (the open "
                        "frontier ingest may still append to); 0 = consolidate all")
    p.add_argument("--schema-from", default=None,
                   help="parquet path to read the transcript schema from; lets the "
                        "--continuous archiver start on an EMPTY landing dir "
                        "(default: infer from --source, which requires landed data)")
    args = p.parse_args(argv)
    if args.consolidate and not args.warehouse:
        p.error("--consolidate requires --warehouse")
    if args.consolidate and args.continuous:
        p.error("--consolidate only makes sense after a drain (omit --continuous)")

    from tmframe_spark.session import engine_builder

    spark = engine_builder("tmframe-archiver").getOrCreate()

    from tmframe_spark.streaming.materialize import (
        consolidate_stream_blocks,
        materialize_continuous_blocks,
        read_materialized,
        record_late_drops,
    )

    try:
        schema = spark.read.parquet(args.schema_from or args.source).schema
    except Exception as e:
        if args.schema_from is None and "UNABLE_TO_INFER_SCHEMA" in str(e):
            p.error(
                "--source has no landed data to infer the schema from; pass "
                "--schema-from <parquet with the transcript schema> to start "
                "the archiver before the first file lands"
            )
        raise
    table = args.table or f"blocks_{args.tier}_stream"
    q = materialize_continuous_blocks(
        spark, args.source, schema, args.root,
        tier=args.tier, watermark=args.watermark, table=table,
        available_now=not args.continuous, max_files=args.max_files,
    )
    # surface watermark late-drops: a misfed landing order (see the
    # feed-shape requirement in streaming/materialize.py) must be visible
    # in the manifests and the job output, never silent. Poll DURING the
    # drain — recentProgress only holds the last ~100 micro-batch events,
    # so a long backlog drain would evict the early batches' counts before
    # a single post-drain merge could see them (the per-batch manifests
    # merge idempotently, so polling is safe to repeat).
    # each poll passes the highest batch id already merged, so only NEW
    # micro-batches' manifests are touched (a counter is final once its
    # progress event is emitted)
    late: dict[int, int] = {}
    merged_through = -1
    while not q.awaitTermination(5):
        late.update(record_late_drops(q, args.root, table, after_batch=merged_through))
        merged_through = max(late, default=-1)
    late.update(record_late_drops(q, args.root, table, after_batch=merged_through))
    print(json.dumps({
        "action": "drained", "table": table,
        "late_dropped_rows": sum(late.values()),
    }))

    if args.consolidate:
        from tmframe_spark.data.catalog import Catalog

        cat = Catalog(spark, args.warehouse)
        # consolidate only days behind the open frontier — the newest
        # streamed days may still receive windows from a later drain, and
        # the canonical archive must never hold a day that then mutates
        all_days = sorted(
            str(r["day"])
            for r in read_materialized(spark, args.root, table)
            .select("day").distinct().collect()
        )
        cut = len(all_days) - max(args.behind_days, 0)
        days = all_days[: max(cut, 0)]
        if not days:
            print(json.dumps({
                "table": args.archive_table, "days_consolidated": 0,
                "canonical_blocks": 0,
                "note": f"all {len(all_days)} streamed days inside the "
                        f"--behind-days {args.behind_days} frontier",
            }))
            return 0
        stats = consolidate_stream_blocks(
            spark, args.root, table, cat, args.archive_table, days=days,
            prune=args.prune,
        )
        for day in sorted(stats):
            print(json.dumps({
                "action": "consolidate", "table": args.archive_table,
                "day": day, "blocks": stats[day],
            }))
        print(json.dumps({
            "table": args.archive_table,
            "days_consolidated": len(stats),
            "canonical_blocks": sum(stats.values()),
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
