"""Corpus dedup entry point: spark-submit --py-files tmframe_spark.zip \\
        jobs/dedup_job.py --input <docs-parquet> --output <dir> \\
        [--id-col doc_id] [--text-col text] \\
        [--method exact|jaccard|minhash] [--threshold 0.7] [--shingle-k 3] \\
        [--clusters-out <dir>]

End-to-end training-corpus dedup, the pipeline the library operators feed:

1. EXACT pass first (hash-groupBy — one shuffle): byte-duplicate texts
   collapse to their lowest id before any pair generation, so the pair
   stage never wastes candidates on identical documents. With
   ``--benchmark``, a decontamination pass then drops documents whose
   8-word-shingle overlap with the benchmark exceeds the threshold
   (text/decontaminate — one broadcast mark-join, one corpus pass).
2. Pair generation on the survivors: ``jaccard`` (exact, df-capped when
   the one-pass ``estimate_capped_tokens`` pre-check says the cap bites —
   the BENCH.md routing rule, applied automatically) or ``minhash``
   (banded LSH, the corpus-scale path). ``exact`` stops after step 1.
3. Connected components over the pairs (``dedup_clusters``, alternating
   large/small-star) and one anti-join keeps each component's canonical
   minimum-id document.

Writes the deduped corpus to --output, optionally the (id, cluster_id)
table to --clusters-out, and one JSON lineage line per stage on stdout
(the jobs/ stdout contract). Idempotent: pure overwrite outputs.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="documents parquet path")
    p.add_argument("--output", required=True, help="deduped corpus output dir")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--method", default="minhash",
                   choices=("exact", "jaccard", "minhash"))
    p.add_argument("--threshold", type=float, default=0.7)
    p.add_argument("--shingle-k", type=int, default=3)
    p.add_argument("--max-df", type=int, default=100,
                   help="jaccard method: df cap when the pre-check says it bites")
    p.add_argument("--clusters-out", default=None,
                   help="also write the (id, cluster_id) table here")
    p.add_argument("--benchmark", default=None,
                   help="benchmark parquet (same id/text cols): drop docs whose "
                        "8-word-shingle overlap exceeds --contamination-threshold "
                        "BEFORE pair generation")
    p.add_argument("--contamination-threshold", type=float, default=0.05)
    args = p.parse_args(argv)

    from tmframe_spark.session import engine_builder

    spark = engine_builder("tmframe-dedup").getOrCreate()

    from tmframe_spark.text.dedup import (
        dedup_clusters,
        estimate_capped_tokens,
        exact_dedup,
        jaccard_pairs,
        jaccard_pairs_capped,
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet(args.input)
    n_in = docs.count()

    # stage 1: exact dedup (always — identical bytes never reach pair gen)
    survivors = exact_dedup(docs, args.id_col, args.text_col).localCheckpoint(
        eager=True
    )
    n_exact = survivors.count()
    print(json.dumps({"stage": "exact", "docs_in": n_in, "docs_out": n_exact}))

    # optional stage 1b: benchmark decontamination before pair generation
    if args.benchmark:
        from tmframe_spark.text.decontaminate import decontaminate

        bench = spark.read.parquet(args.benchmark)
        survivors = decontaminate(
            survivors, bench, args.contamination_threshold,
            args.id_col, args.text_col,
        ).localCheckpoint(eager=True)
        n_clean = survivors.count()
        print(json.dumps({
            "stage": "decontaminate", "benchmark": args.benchmark,
            "threshold": args.contamination_threshold,
            "docs_out": n_clean, "docs_dropped": n_exact - n_clean,
        }))
        n_exact = n_clean

    if args.method == "exact":
        survivors.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"stage": "write", "output": args.output,
                          "docs": n_exact}))
        return 0

    # stage 2: pair generation
    if args.method == "jaccard":
        est = estimate_capped_tokens(
            survivors, args.id_col, args.text_col, args.shingle_k, args.max_df
        ).collect()[0]
        capped = int(est["capped_tokens"]) > 0
        if capped:
            pairs, _stats = jaccard_pairs_capped(
                survivors, args.id_col, args.text_col,
                args.threshold, args.shingle_k, args.max_df,
            )
        else:
            # the cap would exclude nothing — the plain exact form is the
            # measured 2.3x cheaper route (jaccard_pairs_capped docstring)
            pairs = jaccard_pairs(
                survivors, args.id_col, args.text_col,
                args.threshold, args.shingle_k, max_docs=None,
            )
        print(json.dumps({
            "stage": "pairs", "method": "jaccard", "df_capped": capped,
            "capped_tokens": int(est["capped_tokens"]),
            "max_observed_df": int(est["max_observed_df"]),
        }))
    else:
        pairs = minhash_lsh_pairs(
            survivors, args.id_col, args.text_col,
            threshold=args.threshold, shingle_k=args.shingle_k,
        )
        print(json.dumps({"stage": "pairs", "method": "minhash"}))

    # stage 3: components -> drop non-canonical members
    clusters = dedup_clusters(pairs).localCheckpoint(eager=True)
    losers = clusters.where("id != cluster_id").select(
        clusters["id"].alias(args.id_col)
    )
    kept = survivors.join(losers, args.id_col, "left_anti")
    kept.write.mode("overwrite").parquet(args.output)
    n_out = spark.read.parquet(args.output).count()
    if args.clusters_out:
        clusters.write.mode("overwrite").parquet(args.clusters_out)
    n_clusters = clusters.select("cluster_id").distinct().count()
    print(json.dumps({
        "stage": "write", "output": args.output,
        "docs_in": n_in, "after_exact": n_exact, "docs_out": n_out,
        "near_dup_clusters": n_clusters,
        "near_dup_removed": n_exact - n_out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
