"""Archive maintenance entry point: spark-submit --py-files tmframe_spark.zip \\
        jobs/maintenance_job.py --root <warehouse> --table <name> \\
        [--vacuum-as-of YYYY-MM-DD --tier 1m [--keep-days N]] \\
        [--compact [--target-files N]] [--behind-days N]

Runs the two day-scoped maintenance passes behind the ingest frontier:

- vacuum: drop whole day partitions older than the tier's retention cutoff
  (ops/retention.vacuum_expired_days -> Catalog.drop_day — metadata-only).
- compact: rewrite each remaining committed day into --target-files files
  (Catalog.compact_day), skipping the newest --behind-days days so open
  days that ingest may still rewrite are never touched.

Both passes are idempotent: re-running after a crash re-lists the catalog
and redoes only what remains. One JSON line per action, then a summary —
the same lineage-style stdout contract as jobs/rollup_job.py.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--root", required=True, help="Catalog warehouse root")
    p.add_argument("--table", required=True)
    p.add_argument("--vacuum-as-of", default=None, help="retention as-of day (ISO); enables the vacuum pass")
    p.add_argument("--tier", default="1m", choices=("1m", "1h", "1d"),
                   help="retention tier key")
    p.add_argument("--keep-days", type=int, default=None, help="override the tier's default retention days")
    p.add_argument("--compact", action="store_true", help="enable the compaction pass")
    p.add_argument("--target-files", type=int, default=1)
    p.add_argument("--cluster-by", default=None,
                   help="comma list of columns: compaction also fixes the "
                        "file layout (sorted or z-ordered on these)")
    p.add_argument("--cluster-layout", default="sort", choices=("sort", "zorder"))
    p.add_argument("--behind-days", type=int, default=1,
                   help="leave the newest N days uncompacted (the ingest frontier)")
    args = p.parse_args(argv)

    from tmframe_spark.session import engine_builder

    spark = engine_builder("tmframe-maintenance").getOrCreate()

    from tmframe_spark.data.catalog import Catalog
    from tmframe_spark.ops.retention import vacuum_expired_days

    cat = Catalog(spark, args.root)
    dropped: list[str] = []
    compacted = 0

    if args.vacuum_as_of:
        policy = {args.tier: args.keep_days} if args.keep_days is not None else None
        dropped = vacuum_expired_days(
            cat, args.table, args.tier, args.vacuum_as_of, policy=policy
        )
        for d in dropped:
            print(json.dumps({"action": "vacuum", "table": args.table, "day": d}))

    if args.compact:
        days = cat.days(args.table)
        frontier = (
            set(days[max(0, len(days) - args.behind_days):])
            if args.behind_days > 0 else set()
        )
        for d in days:
            if d in frontier:
                continue
            # already-compact days are skipped entirely (a file count is a
            # metadata stat) — the steady-state daily run touches only the
            # days that newly left the frontier, not the whole archive
            if cat.day_file_count(args.table, d) <= args.target_files:
                continue
            stats = cat.compact_day(
                args.table, d, target_files=args.target_files,
                cluster_by=(
                    [c.strip() for c in args.cluster_by.split(",")]
                    if args.cluster_by else None
                ),
                layout=args.cluster_layout,
            )
            if stats["files_before"] > stats["files_after"]:
                compacted += 1
            print(json.dumps({"action": "compact", "table": args.table, "day": d, **stats}))

    print(json.dumps({
        "table": args.table,
        "days_vacuumed": len(dropped),
        "days_compacted": compacted,
        "days_remaining": len(cat.days(args.table)),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
