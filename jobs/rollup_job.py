"""Production entry point: spark-submit --py-files tmframe_spark.zip \\
        jobs/rollup_job.py --input <transcripts> --output <dir> \\
        --manifests <dir> [--salt N] [--backfill] \\
        [--synth-turns N --synth-convs N]

Resumable from per-partition checkpoints (ops/checkpoint.py): rerunning
after a failure processes only days without a committed manifest, and each
manifest records lineage + throughput metrics. --backfill additionally
re-rolls committed days whose input has since GROWN (late arrivals —
ops/checkpoint.stale_days): the overwrite-day unit keeps it idempotent
and untouched days are never rewritten.

Build the archive with scripts/make_pyfiles.sh (writes tmframe_spark.zip).
The session carries the engine conf table (session.engine_builder); master
and sizing come from spark-submit.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", help="transcript parquet path (conv_id, turn_idx, role, text, tool, ts)")
    p.add_argument("--output", required=True)
    p.add_argument("--manifests", required=True)
    p.add_argument("--salt", type=int, default=None, help="two-phase salting fan-out for hot conversations")
    p.add_argument("--backfill", action="store_true",
                   help="also re-roll committed days whose input row count "
                        "changed since commit (late-data maintenance)")
    p.add_argument("--synth-turns", type=int, default=None, help="generate synthetic input instead of --input")
    p.add_argument("--synth-convs", type=int, default=2000)
    args = p.parse_args(argv)

    from tmframe_spark.session import engine_builder

    spark = engine_builder("tmframe-rollup").getOrCreate()

    from tmframe_spark.data.transcripts import synth_transcripts
    from tmframe_spark.ops.checkpoint import checkpointed_rollup_run
    from tmframe_spark.ops.rollup import with_ts_ns

    if args.synth_turns:
        t = synth_transcripts(spark, args.synth_turns, args.synth_convs)
    elif args.input:
        t = with_ts_ns(spark.read.parquet(args.input))
    else:
        p.error("one of --input / --synth-turns is required")

    manifests = checkpointed_rollup_run(t, args.output, args.manifests, salt=args.salt)
    for m in manifests:
        print(json.dumps(m.__dict__))
    if args.backfill:
        from tmframe_spark.ops.checkpoint import backfill_run

        bf = backfill_run(t, args.output, args.manifests, salt=args.salt)
        for m in bf:
            print(json.dumps({**m.__dict__, "backfilled": True}))
        manifests = manifests + bf
    print(json.dumps({"partitions_processed": len(manifests)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
