"""Corpus curation entry point: spark-submit --py-files tmframe_spark.zip \\
        jobs/curate_job.py --input <docs-parquet> --output <dir> \\
        [--min-tokens 8] [--min-quality 0.3] [--max-top2-frac 0.2] \\
        [--min-lm-logprob -14 [--lm-ref <parquet>] [--lm-min-count 1]] \\
        [--langs en,fr] [--benchmark <parquet> [--contamination-threshold 0.05]] \\
        [--dedup minhash|exact|off] [--threshold 0.7] \\
        [--index <dir> [--update-index]] \\
        [--remove-spans W [--span-min-docs 2]] [--redact] \\
        [--mix en:5,fr:1 [--mix-total N] [--mix-upsample]] \\
        [--pack-budget 2048 [--pack-out <dir>]]

The full training-data preparation pipeline, composed from the library
operators in the order large-scale corpus builds run them (each stage
optional, each emits one JSON lineage line on stdout — the jobs/ stdout
contract):

1. QUALITY: length / quality-score floors (text/analysis.with_text_stats)
   and a Gopher-style repetition ceiling (repetition_stats top-2-gram
   fraction) — the cheap codegen filters that remove degenerate text
   before anything expensive runs.
1b. LM PERPLEXITY (--min-lm-logprob): CCNet-style bigram Stupid-Backoff
   floor (text/lm) against --lm-ref (or self-trained); the scored
   avg_logprob survives as the lm_logprob metadata column.
1c. DSIR (--min-dsir-weight + --dsir-target): hashed-n-gram importance
   floor (text/dsir) — keep docs whose distribution leans toward the
   target corpus; avg weight survives as dsir_weight metadata.
2. LANGUAGE: marker-lexicon lang_id, keep --langs.
3. DECONTAMINATE: drop docs overlapping a benchmark set
   (text/decontaminate — broadcast mark-join, one corpus pass).
4. DEDUP: exact first-occurrence always; then either whole-corpus MinHash
   components (text/dedup) or, with --index, INCREMENTAL probe against a
   persisted corpus index (text/incremental) with optional append of the
   survivors (--update-index) — the continuous-ingestion form.
5. SPAN REMOVAL: cross-doc duplicated W-token spans cut at token level
   (text/dedup.remove_duplicate_spans — the Lee et al. removal half;
   document-level dedup above cannot catch shared boilerplate inside
   otherwise-distinct docs). Text is REPLACED by the cleaned NORMALIZED
   form (lowercased, single-spaced) with n_removed kept as metadata.
6. REDACT: PII scrub (ordered regexp_replace chain; text is REPLACED by
   its redacted form, pii_hits kept as metadata).
7. MIXTURE: resample to integer group weights (ops/sample.mixture_sample
   over --mix-col — the stage-2 pred_lang by default, or any
   domain/source column; exact integer plan, optional epoch-style
   upsampling).
8. PACK: greedy fixed-token-budget sequence packing sidecar
   (text/packing.pack_documents) to --pack-out.

Every stage boundary is an eager localCheckpoint (the repo rule: lineage
counts for the JSON lines must not recompute the upstream chain).
Idempotent: pure overwrite outputs.
"""

from __future__ import annotations

import argparse
import json
import sys


def _parse_mix(spec: str) -> dict:
    parts = {}
    for item in spec.split(","):
        g, _, w = item.partition(":")
        parts[g.strip()] = int(w)
    return parts


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    # stage 1: quality
    p.add_argument("--min-tokens", type=int, default=None)
    p.add_argument("--min-quality", type=float, default=None)
    p.add_argument("--max-top2-frac", type=float, default=None,
                   help="drop docs whose most frequent 2-gram exceeds this "
                        "fraction of all 2-grams (Gopher-style repetition)")
    # stage 1b: LM perplexity filter (CCNet-style)
    p.add_argument("--min-lm-logprob", type=float, default=None,
                   help="drop docs whose bigram Stupid-Backoff avg "
                        "log-probability falls below this floor (lower = "
                        "higher perplexity = worse; unscorable <2-token "
                        "docs are kept — the token floor owns those)")
    p.add_argument("--lm-ref", default=None,
                   help="parquet of the CLEAN reference corpus to train "
                        "the LM on (default: self-train on the surviving "
                        "docs)")
    p.add_argument("--lm-min-count", type=int, default=1)
    # stage 1c: DSIR importance floor (target-likeness)
    p.add_argument("--min-dsir-weight", type=float, default=None,
                   help="drop docs whose DSIR avg importance weight vs "
                        "--dsir-target falls below this floor")
    p.add_argument("--dsir-target", default=None,
                   help="parquet of the TARGET corpus for DSIR (required "
                        "with --min-dsir-weight; raw = the input corpus)")
    p.add_argument("--dsir-buckets", type=int, default=4096)
    # stage 2: language
    p.add_argument("--langs", default=None, help="comma list, e.g. en,fr")
    # stage 3: decontamination
    p.add_argument("--benchmark", default=None)
    p.add_argument("--contamination-threshold", type=float, default=0.05)
    # stage 4: dedup
    p.add_argument("--dedup", default="minhash", choices=("minhash", "exact", "off"))
    p.add_argument("--threshold", type=float, default=0.7)
    p.add_argument("--index", default=None,
                   help="incremental mode: dedup against this persisted "
                        "MinHash index instead of whole-corpus pairing")
    p.add_argument("--update-index", action="store_true",
                   help="append survivors to --index after the probe")
    # stage 5: span removal
    p.add_argument("--remove-spans", type=int, default=None, metavar="W",
                   help="cut cross-doc duplicated W-token spans, keeping "
                        "each span's canonical occurrence; text is REPLACED "
                        "by the cleaned normalized form")
    p.add_argument("--span-min-docs", type=int, default=2)
    # stage 6: PII
    p.add_argument("--redact", action="store_true")
    # stage 7: mixture
    p.add_argument("--mix", default=None, help="group:part list, e.g. en:5,fr:1")
    p.add_argument("--mix-col", default="pred_lang",
                   help="group column to mix on (default the stage-2 "
                        "pred_lang; any column works, e.g. a source/domain)")
    p.add_argument("--mix-total", type=int, default=None)
    p.add_argument("--mix-upsample", action="store_true")
    # stage 8: packing
    p.add_argument("--pack-budget", type=int, default=None)
    p.add_argument("--pack-out", default=None)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from tmframe_spark.session import engine_builder

    spark = engine_builder("tmframe-curate").getOrCreate()

    # stage-boundary checkpoints re-spread their output first (r7): a
    # checkpoint materializes at whatever partitioning the stage ended
    # with — often ONE AQE-coalesced partition for these tiny-byte,
    # heavy-CPU doc frames — so the NEXT stage's tokenize/explode head ran
    # serial (observed: (0+1)/1 stages throughout the sf0.1 rehearsal).
    # cpu_stage_partitions derives the spread from the estimated bytes.
    from tmframe_spark.ops.sizing import cpu_stage_partitions

    def ckpt(df):
        # 32 KiB/partition, not the Python-stage default: the stages fed by
        # these checkpoints are JVM-CPU-heavy text codegen (tokenize /
        # explode / n-gram) where bytes badly under-state CPU — the minhash
        # lesson (its K-permutation stage wants the FULL pin). 5k docs at
        # sf0.1 -> ~19 partitions; any real corpus -> the shuffle cap.
        return df.repartition(
            cpu_stage_partitions(df, per_partition_bytes=32 * 1024)
        ).localCheckpoint(eager=True)

    # per-stage wall clock on every lineage line (round-6): wall_s is the
    # seconds since the previous stage line — the profile a scale rehearsal
    # reads (BENCH.md round-6 curate rehearsal)
    import time

    _last = [time.monotonic()]

    def emit(obj):
        now = time.monotonic()
        obj["wall_s"] = round(now - _last[0], 2)
        _last[0] = now
        print(json.dumps(obj))


    docs = spark.read.parquet(args.input)
    n = docs.count()
    emit({"stage": "read", "input": args.input, "docs": n})

    # ---- 1: quality -----------------------------------------------------
    if args.min_tokens is not None or args.min_quality is not None:
        from tmframe_spark.text.analysis import with_text_stats

        s = with_text_stats(docs, args.text_col)
        if args.min_tokens is not None:
            s = s.where(F.col("n_tokens") >= args.min_tokens)
        if args.min_quality is not None:
            s = s.where(F.col("quality_score") >= args.min_quality)
        docs = s.drop(
            "n_chars_calc", "punct_chars", "stopword_hits", "stop_ratio"
        ).transform(ckpt)
        kept = docs.count()
        emit({"stage": "quality", "docs_out": kept,
                          "docs_dropped": n - kept})
        n = kept
    if args.max_top2_frac is not None:
        from tmframe_spark.text.analysis import repetition_stats

        rep = repetition_stats(docs, args.id_col, args.text_col, ns=(2,))
        bad = rep.where(F.col("top2_frac") > args.max_top2_frac).select(args.id_col)
        docs = docs.join(bad, args.id_col, "left_anti").transform(ckpt)
        kept = docs.count()
        emit({"stage": "repetition", "max_top2_frac": args.max_top2_frac,
                          "docs_out": kept, "docs_dropped": n - kept})
        n = kept

    # ---- 1b: LM perplexity filter ---------------------------------------
    if args.min_lm_logprob is not None:
        from tmframe_spark.text.lm import lm_score, lm_train

        ref = spark.read.parquet(args.lm_ref) if args.lm_ref else docs
        model = lm_train(ref, args.id_col, args.text_col,
                         min_count=args.lm_min_count)
        scores = lm_score(
            docs, model, id_col=args.id_col, text_col=args.text_col
        ).select(args.id_col, "avg_logprob")
        docs = (
            docs.join(scores, args.id_col)
            .where(
                F.col("avg_logprob").isNull()
                | (F.col("avg_logprob") >= args.min_lm_logprob)
            )
            .withColumnRenamed("avg_logprob", "lm_logprob")
            .transform(ckpt)
        )
        kept = docs.count()
        emit({"stage": "lm_quality",
                          "min_lm_logprob": args.min_lm_logprob,
                          "ref": args.lm_ref or "self",
                          "docs_out": kept, "docs_dropped": n - kept})
        n = kept

    # ---- 1c: DSIR importance floor --------------------------------------
    if args.min_dsir_weight is not None:
        if not args.dsir_target:
            p.error("--min-dsir-weight requires --dsir-target")
        from tmframe_spark.text.dsir import dsir_fit, dsir_weights

        target = dsir_fit(
            spark.read.parquet(args.dsir_target),
            args.id_col, args.text_col, n_buckets=args.dsir_buckets,
        )
        raw = dsir_fit(docs, args.id_col, args.text_col,
                       n_buckets=args.dsir_buckets)
        scores = dsir_weights(
            docs, target, raw, id_col=args.id_col, text_col=args.text_col
        ).select(args.id_col, "avg_weight")
        docs = (
            docs.join(scores, args.id_col)
            .where(
                F.col("avg_weight").isNull()
                | (F.col("avg_weight") >= args.min_dsir_weight)
            )
            .withColumnRenamed("avg_weight", "dsir_weight")
            .transform(ckpt)
        )
        kept = docs.count()
        emit({"stage": "dsir", "min_dsir_weight": args.min_dsir_weight,
                          "target": args.dsir_target,
                          "docs_out": kept, "docs_dropped": n - kept})
        n = kept

    # ---- 2: language ----------------------------------------------------
    need_lang = args.langs is not None or (
        args.mix is not None and args.mix_col == "pred_lang"
    )
    if need_lang:
        from tmframe_spark.text.analysis import lang_id

        docs = lang_id(docs, args.text_col)
        if args.langs is not None:
            keep = [x.strip() for x in args.langs.split(",")]
            docs = docs.where(F.col("pred_lang").isin(keep))
        docs = docs.transform(ckpt)
        kept = docs.count()
        emit({"stage": "lang", "langs": args.langs,
                          "docs_out": kept, "docs_dropped": n - kept})
        n = kept

    # ---- 3: decontamination --------------------------------------------
    if args.benchmark:
        from tmframe_spark.text.decontaminate import decontaminate

        bench = spark.read.parquet(args.benchmark)
        docs = decontaminate(
            docs, bench, args.contamination_threshold, args.id_col, args.text_col
        ).transform(ckpt)
        kept = docs.count()
        emit({"stage": "decontaminate",
                          "threshold": args.contamination_threshold,
                          "docs_out": kept, "docs_dropped": n - kept})
        n = kept

    # ---- 4: dedup -------------------------------------------------------
    if args.index:
        from tmframe_spark.text.dedup import minhash_signatures
        from tmframe_spark.text.incremental import (
            dedup_against_index,
            minhash_index_append,
            read_index_meta,
        )

        # compute the batch's MinHash signatures ONCE (r7): the probe, the
        # within-batch pairing AND the index append all consume this one
        # checkpointed frame instead of re-running the K-permutation pass
        # three times (bit-identical — signatures are deterministic)
        imeta = read_index_meta(args.index)
        sigs = minhash_signatures(
            docs, args.id_col, args.text_col, imeta["k"], imeta["shingle_k"]
        ).localCheckpoint(eager=True)
        docs = dedup_against_index(
            docs, args.index, args.threshold, args.id_col, args.text_col,
            within_batch=True, sigs=sigs,
        ).transform(ckpt)
        kept = docs.count()
        emit({"stage": "dedup", "mode": "incremental",
                          "index": args.index, "docs_out": kept,
                          "docs_dropped": n - kept})
        n = kept
        if args.update_index:
            kept_sigs = sigs.join(
                docs.selectExpr(f"{args.id_col} as id"), "id", "left_semi"
            )
            meta = minhash_index_append(
                docs, args.index, args.id_col, args.text_col, sigs=kept_sigs
            )
            emit({"stage": "index_append", "index": args.index,
                              "params": meta})
    elif args.dedup != "off":
        from tmframe_spark.text.dedup import (
            dedup_keep_canonical,
            exact_dedup,
            minhash_lsh_pairs,
        )

        docs = exact_dedup(docs, args.id_col, args.text_col).localCheckpoint(
            eager=True
        )
        if args.dedup == "minhash":
            pairs = minhash_lsh_pairs(
                docs, args.id_col, args.text_col, threshold=args.threshold
            )
            docs = dedup_keep_canonical(docs, pairs, args.id_col).localCheckpoint(
                eager=True
            )
        kept = docs.count()
        emit({"stage": "dedup", "mode": args.dedup,
                          "docs_out": kept, "docs_dropped": n - kept})
        n = kept

    # ---- 5: span removal ------------------------------------------------
    if args.remove_spans is not None:
        from tmframe_spark.text.dedup import remove_duplicate_spans

        cleaned = remove_duplicate_spans(
            docs, args.id_col, args.text_col,
            w=args.remove_spans, min_docs=args.span_min_docs,
        ).select(
            # ONLY the cleaned text + the removal count: the op also emits
            # its own n_tokens, which collides with stage 1's quality
            # column at write time (found by the r6 sf0.1 rehearsal)
            args.id_col,
            F.col("clean_text").alias(args.text_col),
            "n_removed",
        )
        docs = (
            docs.drop(args.text_col)
            .join(cleaned, args.id_col)
            .transform(ckpt)
        )
        agg = docs.agg(
            F.sum("n_removed").alias("tr"),
            F.sum((F.col("n_removed") > 0).cast("long")).alias("da"),
        ).collect()[0]
        emit({"stage": "span_removal", "w": args.remove_spans,
                          "min_docs": args.span_min_docs,
                          "tokens_removed": int(agg["tr"] or 0),
                          "docs_affected": int(agg["da"] or 0)})

    # ---- 6: PII redaction ----------------------------------------------
    if args.redact:
        from tmframe_spark.text.decontaminate import with_redacted_text

        docs = (
            with_redacted_text(docs, args.text_col)
            .drop(args.text_col)
            .withColumnRenamed("text_redacted", args.text_col)
            .transform(ckpt)
        )
        hits = docs.agg(F.sum("pii_hits")).collect()[0][0] or 0
        emit({"stage": "redact", "pii_hits_total": int(hits)})

    # ---- 7: mixture -----------------------------------------------------
    if args.mix:
        from tmframe_spark.ops.sample import mixture_sample

        docs = mixture_sample(
            docs, _parse_mix(args.mix), args.mix_col, [args.id_col],
            total=args.mix_total, allow_upsample=args.mix_upsample,
        ).transform(ckpt)
        kept = docs.count()
        emit({"stage": "mixture", "mix": args.mix,
                          "rows_out": kept})

    docs.write.mode("overwrite").parquet(args.output)
    emit({"stage": "write", "output": args.output,
                      "rows": docs.count()})

    # ---- 8: sequence packing -------------------------------------------
    if args.pack_budget is not None:
        from tmframe_spark.text.packing import bin_stats, pack_documents

        out = args.pack_out or (args.output.rstrip("/") + "_packed")
        packed = pack_documents(
            spark.read.parquet(args.output).dropDuplicates([args.id_col]),
            args.pack_budget, args.id_col, args.text_col,
        )
        packed.write.mode("overwrite").parquet(out)
        stats = bin_stats(spark.read.parquet(out), args.pack_budget).agg(
            F.count(F.lit(1)).alias("bins"),
            F.sum(F.col("docs")).alias("docs"),
        ).collect()[0]
        emit({"stage": "pack", "output": out,
                          "budget": args.pack_budget,
                          "bins": int(stats["bins"]),
                          "docs_packed": int(stats["docs"])})
    return 0


if __name__ == "__main__":
    sys.exit(main())
