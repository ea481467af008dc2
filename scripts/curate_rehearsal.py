"""Round-7 re-run of the round-6 curate-job scale rehearsal (BENCH.md
"Round-6: curate-job scale rehearsal"): full pipeline, every optional
stage on, incremental --index mode with --update-index and --pack-budget,
against the sf0.1 documents; prior index built from the sf0.01 documents;
benchmark = a 40-doc sf0.1 slice; DSIR target = the doc_id%10==0 slice.

Driven in-process (PYTHONPATH=/root/repo python scripts/curate_rehearsal.py)
— curate_job.main is import-run exactly as spark-submit would run it; the
r6 rehearsal's flag VALUES were reconstructed from its BENCH.md table
(stage set and order identical; the per-stage walls are the comparison).
"""

from __future__ import annotations

import shutil
import sys

SF01 = "/root/testdata/sf0.01/documents.parquet"
SF1 = "/root/testdata/sf0.1/documents.parquet"
WORK = "/tmp/r7_rehearsal"


def main() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    import os

    os.makedirs(WORK, exist_ok=True)
    from pyspark.sql import functions as F

    from tmframe_spark.session import get_spark
    from tmframe_spark.text.incremental import minhash_index_write

    spark = get_spark(app_name="curate-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")

    prior = spark.read.parquet(SF01)
    minhash_index_write(prior, f"{WORK}/index", id_col="doc_id", text_col="text")

    d1 = spark.read.parquet(SF1)
    d1.where(F.col("doc_id") % 125 == 0).write.mode("overwrite").parquet(
        f"{WORK}/benchmark"
    )
    d1.where(F.col("doc_id") % 10 == 0).write.mode("overwrite").parquet(
        f"{WORK}/dsir_target"
    )

    import time

    from jobs.curate_job import main as curate_main

    t0 = time.monotonic()
    rc = curate_main(
        [
            "--input", SF1,
            "--output", f"{WORK}/out",
            "--min-tokens", "8",
            "--min-quality", "0.3",
            "--max-top2-frac", "0.2",
            "--min-lm-logprob", "-14",
            "--min-dsir-weight", "-1000000",
            "--dsir-target", f"{WORK}/dsir_target",
            "--langs", "en,und",
            "--benchmark", f"{WORK}/benchmark",
            "--dedup", "minhash",
            "--threshold", "0.7",
            "--index", f"{WORK}/index",
            "--update-index",
            "--remove-spans", "8",
            "--redact",
            "--mix", "en:5,und:1",
            "--pack-budget", "2048",
            "--pack-out", f"{WORK}/pack",
        ]
    )
    print(f"TOTAL_WALL_S {round(time.monotonic() - t0, 1)}")
    sys.exit(rc or 0)


if __name__ == "__main__":
    main()
