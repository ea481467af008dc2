"""Bench-scale ANN recall/latency rows for PQ and sharded-IVF (round-5
verdict next #5) — the same protocol that produced the LSH row recorded in
BENCH.md round-5 (exact twin vs approximate path on the planted sf0.1
driver corpus, wall + recall), extended to the two paths that only had
small-fixture recall pytest.

Usage: python scripts/ann_recall_bench.py [sf_dir]
Prints one JSON object; BENCH.md narrates the figures. Run ALONE on the
box (the no-concurrent-Spark rule).
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from tmframe_spark.session import get_spark  # noqa: E402


def timed(fn, n=3):
    """Median-of-n wall (the BENCH_r5 median protocol) + last result."""
    walls = []
    for _ in range(n):
        t0 = time.monotonic()
        out = fn()
        walls.append(round(time.monotonic() - t0, 3))
    return sorted(walls)[n // 2], walls, out


def main():
    from pyspark.sql import functions as F

    from tmframe_spark.vec.pq import pq_encode, pq_topk, pq_train
    from tmframe_spark.vec.similarity import (
        cosine_topk,
        ivf_assign_sharded,
        ivf_shard_centroids,
        ivf_train,
    )

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="ann-recall-bench")
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").localCheckpoint()
    n = emb.count()
    out = {"sf_dir": sf_dir, "n_vectors": n, "k": 10}

    # exact twin (the oracle-verified ann_topk config)
    w, walls, exact_rows = timed(
        lambda: cosine_topk(emb, query_id=0, k=10).collect()
    )
    exact = {r["vec_id"] for r in exact_rows}
    out["exact"] = {"wall_median3": w, "walls": walls}

    # PQ: registry config (m=16, ksub=64 — 16x compression on dim 64);
    # train+encode once (build cost), then serve (the per-query cost)
    t0 = time.monotonic()
    books = pq_train(emb, m=16, ksub=64, iters=2)
    codes = pq_encode(emb, books).localCheckpoint()
    build_wall = round(time.monotonic() - t0, 3)
    qv = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    w, walls, rows = timed(
        lambda: pq_topk(codes, books, qv, k=10, exclude_id=0).collect()
    )
    pq_ids = {r["vec_id"] for r in rows}
    out["pq"] = {
        "m": 16,
        "ksub": 64,
        "build_wall": build_wall,
        "serve_wall_median3": w,
        "walls": walls,
        "recall_at_10": len(exact & pq_ids) / 10,
        "speedup_vs_exact": round(out["exact"]["wall_median3"] / w, 2),
    }

    # ADC shortlist + exact re-rank (pq_topk_rerank, refine=4)
    from tmframe_spark.vec.pq import pq_topk_rerank

    w, walls, rows = timed(
        lambda: pq_topk_rerank(
            codes, emb, books, qv, k=10, refine=4, exclude_id=0
        ).collect()
    )
    rr_ids = {r["vec_id"] for r in rows}
    out["pq_rerank"] = {
        "refine": 4,
        "serve_wall_median3": w,
        "walls": walls,
        "recall_at_10": len(exact & rr_ids) / 10,
        "speedup_vs_exact": round(out["exact"]["wall_median3"] / w, 2),
    }

    # IVF+PQ persisted index (registry config: nlist=8, m=16, ksub=64,
    # nprobe=2, refine=4, IVFADC-R re-rank against stored vectors)
    from tmframe_spark.vec.pq import ivfpq_build_index, ivfpq_topk_from_index

    ipath = tempfile.mkdtemp(prefix="ann_bench_ivfpq_")
    t0 = time.monotonic()
    ivfpq_build_index(
        emb, ipath, nlist=8, m=16, ksub=64, iters=2, store_vectors=True
    )
    ivfpq_build = round(time.monotonic() - t0, 3)
    w, walls, rows = timed(
        lambda: ivfpq_topk_from_index(
            spark, ipath, qv, k=10, nprobe=2, refine=4, exclude_id=0
        ).collect()
    )
    iv_ids = {r["vec_id"] for r in rows}
    out["ivfpq"] = {
        "nlist": 8,
        "nprobe": 2,
        "m": 16,
        "ksub": 64,
        "refine": 4,
        "build_wall": ivfpq_build,
        "serve_wall_median3": w,
        "walls": walls,
        "recall_at_10": len(exact & iv_ids) / 10,
    }
    shutil.rmtree(ipath, ignore_errors=True)

    # sharded IVF: registry config (nlist=16 fine cells, 4 coarse groups,
    # p_probe=2 of 4) — assignment agreement vs the probe-all ground truth
    cents = ivf_train(emb, nlist=16, iters=2)
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, centroid array<double>",
    )
    path = tempfile.mkdtemp(prefix="ann_bench_ivf_")
    ivf_shard_centroids(cdf, path, n_coarse=4)
    w_all, walls_all, rows_all = timed(
        lambda: ivf_assign_sharded(emb, path, p_probe=4)
        .select("vec_id", "cell")
        .collect()
    )
    truth = {r["vec_id"]: r["cell"] for r in rows_all}
    w_p2, walls_p2, rows_p2 = timed(
        lambda: ivf_assign_sharded(emb, path, p_probe=2)
        .select("vec_id", "cell")
        .collect()
    )
    agree = sum(1 for r in rows_p2 if truth[r["vec_id"]] == r["cell"])
    out["ivf_sharded"] = {
        "nlist": 16,
        "n_coarse": 4,
        "probe_all_wall_median3": w_all,
        "p2_wall_median3": w_p2,
        "walls_all": walls_all,
        "walls_p2": walls_p2,
        "assignment_agreement_p2": round(agree / n, 4),
    }
    shutil.rmtree(path, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
