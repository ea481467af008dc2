"""Dedup-ingest entry point: spark-submit --py-files tmframe_spark.zip \\
        jobs/ingest_job.py --source <landing-parquet-dir> --root <table-root> \\
        --index <minhash-index-dir> [--threshold 0.5] [--continuous] \\
        [--init-index]

Continuous document ingestion with cross-corpus dedup: every micro-batch
of landed documents is probed against the persisted MinHash index, the
survivors appended to the index (crash-atomic, replay-idempotent — the
streaming/ingest.py protocol) and materialized under
``--root/docs/batch=*``. Exactly-once end to end under foreachBatch's
at-least-once replays; resumable (the stream checkpoint under --root
carries offsets across runs). ``--init-index`` creates an empty index
first when none exists (the very first corpus bootstrap).

By default the job DRAINS what has landed (availableNow) and exits;
``--continuous`` keeps it running until killed. One JSON summary line on
stdout per run (the jobs/ stdout contract) built from the committed batch
manifests.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--source", required=True, help="landing dir of document parquet")
    p.add_argument("--root", required=True, help="ingested-docs table root")
    p.add_argument("--index", required=True, help="persisted MinHash index dir")
    p.add_argument("--threshold", type=float, default=0.5)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--max-files", type=int, default=64, help="files per micro-batch")
    p.add_argument("--continuous", action="store_true",
                   help="run until killed instead of draining what has landed")
    p.add_argument("--init-index", action="store_true",
                   help="bootstrap an empty index at --index if none exists")
    p.add_argument("--ann-index", default=None,
                   help="EXISTING IVF+PQ index (ivfpq_build_index): each "
                        "batch's survivors are hash-embedded and appended "
                        "(exactly-once, frozen quantizers)")
    p.add_argument("--embed-dim", type=int, default=64)
    args = p.parse_args(argv)

    from tmframe_spark.session import engine_builder
    from tmframe_spark.streaming.ingest import materialize_dedup_ingest
    from tmframe_spark.text.incremental import minhash_index_write, read_index_meta

    spark = engine_builder("tmframe-ingest").getOrCreate()

    schema = spark.read.parquet(args.source).schema
    if args.init_index and not os.path.exists(
        os.path.join(args.index, "meta.json")
    ):
        empty = spark.createDataFrame(
            [], f"{args.id_col} long, {args.text_col} string"
        )
        minhash_index_write(empty, args.index, args.id_col, args.text_col)
        print(json.dumps({"action": "init_index", "index": args.index}))

    q = materialize_dedup_ingest(
        spark, args.source, schema, args.root, args.index,
        threshold=args.threshold, id_col=args.id_col, text_col=args.text_col,
        available_now=not args.continuous, max_files=args.max_files,
        ann_index_path=args.ann_index, embed_dim=args.embed_dim,
    )
    q.awaitTermination()

    manifests = sorted(glob.glob(os.path.join(args.root, "_docs_batches", "*.json")))
    stats = [json.load(open(m)) for m in manifests]
    print(json.dumps({
        "action": "drain" if not args.continuous else "continuous",
        "batches": len(stats),
        "docs_in": sum(s.get("docs_in", 0) for s in stats),
        "docs_kept": sum(s.get("docs_kept", 0) for s in stats),
        "index_batches": len(read_index_meta(args.index).get("batches", [])),
        **({"ann_batches": sum(1 for s in stats if "ann_batches" in s)}
           if args.ann_index else {}),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
