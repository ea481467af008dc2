"""Traced-only passes over the streaming ingest and the text/vector curation
layers. No timed workload runs them (a run of either would not fit the
benchmark's time budget), so traced runs measure their layers here and
check their answers the same way.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

from tmframe_spark.codec.udfs import unpack_blocks
from tmframe_spark.data.catalog import Catalog
from tmframe_spark.streaming.materialize import (
    consolidate_stream_blocks,
    materialize_continuous_blocks,
)
from tmframe_spark.text.dedup import dedup_clusters, minhash_lsh_pairs, minhash_signatures
from tmframe_spark.vec.embed import hash_embed
from tmframe_spark.vec.pq import ivfpq_build_index, ivfpq_topk_from_index
from tmframe_spark.vec.similarity import cosine_topk

#: Curation corpus: seeded documents plus near-duplicates planted by word
#: drops and swaps; the floors below are what the checks require.
DOCS, PLANTED_SHARE, TOPICS = 300, 0.2, 10
PLANTED_RECALL_FLOOR = 0.9
RECALL_AT_10_FLOOR = 0.25
ANN_QUERIES, NPROBE = 2, 4
#: Day-files the ingest pass lands: enough for one consolidated day behind
#: the open newest one, and few enough to keep a traced run short.
INGEST_DAYS = 2
STREAM_TABLE = "blocks_1m_stream"


def _progress(q) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]


def trace_ingest(bench, tracer) -> tuple[bool, dict]:
    """Land the inputs one day-file at a time, drain each with
    ``materialize_continuous_blocks(max_files=1, available_now=True)``, then
    consolidate every day but the newest. OK means the consolidated days
    hold exactly the reference rollup points, once each, with no row
    dropped as late."""
    spark = bench.spark
    root = os.path.join(bench.state, "ingest")
    days_dir, land = os.path.join(root, "days"), os.path.join(root, "landing")
    spark.read.parquet(bench.turns_path).withColumn("day", F.to_date("ts")).repartition(
        "day"
    ).write.partitionBy("day").parquet(days_dir)
    days = sorted(d.split("=", 1)[1] for d in os.listdir(days_dir) if d.startswith("day="))
    days = days[:INGEST_DAYS]
    schema = spark.read.parquet(os.path.join(days_dir, f"day={days[0]}")).schema
    os.makedirs(land)
    batches = []
    for day in days:
        src = os.path.join(days_dir, f"day={day}")
        for f in sorted(os.listdir(src)):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(src, f), os.path.join(land, f"{day}-{f}"))
        with tracer.span("streaming.batch", request_id=f"day-{day}"):
            t0 = time.perf_counter()
            q = materialize_continuous_blocks(
                spark, land, schema, root, tier="1m", table=STREAM_TABLE,
                max_files=1, available_now=True,
            )
            q.awaitTermination()
            wall = time.perf_counter() - t0
        prog = _progress(q)
        batches.append({"wall_ms": wall * 1e3, "progress": prog})
    done = days[:-1]
    cat = Catalog(spark, os.path.join(root, "archive"))
    with tracer.span("streaming.consolidate"):
        if done:
            consolidate_stream_blocks(spark, root, STREAM_TABLE, cat, "archive", days=done)

    def dur(p, k):
        return p.get("durationMs", {}).get(k, 0)

    progs = [p for b in batches for p in b["progress"]]
    per_batch = {
        k: [sum(dur(p, k) for p in b["progress"]) for b in batches]
        for k in ("addBatch", "walCommit", "commitOffsets", "queryPlanning", "triggerExecution")
    }
    ops = [op for p in progs for op in p.get("stateOperators", [])]
    m = {
        "query_start_ms": float(np.median([
            b["wall_ms"] - t for b, t in zip(batches, per_batch["triggerExecution"])
        ])),
        "add_batch_ms": float(np.median(per_batch["addBatch"])),
        "wal_commit_ms": float(np.median(per_batch["walCommit"])),
        "commit_offsets_ms": float(np.median(per_batch["commitOffsets"])),
        "query_planning_ms": float(np.median(per_batch["queryPlanning"])),
        "state_rows": int(ops[-1].get("numRowsTotal", 0)) if ops else 0,
        "late_dropped_rows": sum(int(o.get("numRowsDroppedByWatermark", 0) or 0) for o in ops),
        "day_files": len(days),
    }
    if not done:
        return m["late_dropped_rows"] == 0, m
    got = (
        unpack_blocks(cat.read("archive"), ["conv_id", "day"])
        .select("conv_id", "ts_ns", "v0", "v1")
        .toPandas()
        .sort_values(["conv_id", "ts_ns"])
        .reset_index(drop=True)
    )
    ref = bench.ref_rolled
    day_ns = 86_400 * 10**9
    first_day = np.datetime64(done[0], "ns").astype(np.int64)
    last_day = np.datetime64(done[-1], "ns").astype(np.int64) + day_ns
    want = ref[(ref["ts_ns"] >= first_day) & (ref["ts_ns"] < last_day)].reset_index(drop=True)
    ok = m["late_dropped_rows"] == 0 and len(got) == len(want) and all(
        np.array_equal(got[c].to_numpy(), want[c].to_numpy())
        for c in ("conv_id", "ts_ns", "v0", "v1")
    )
    return ok, m


def make_documents(seed: int) -> tuple[list, list]:
    """Seeded documents and the (original, planted near-duplicate) id pairs.
    Each document draws most of its words from one of ``TOPICS`` small
    vocabularies, so its nearest neighbours by cosine are its topic's
    documents rather than near-ties across the whole corpus."""
    rng = random.Random(seed)
    shared = [f"w{i}" for i in range(1_000)]
    topics = [[f"t{t}w{i}" for i in range(60)] for t in range(TOPICS)]
    docs = []
    for d in range(DOCS):
        topic = topics[d % TOPICS]
        n = rng.randint(40, 80)
        docs.append(" ".join(
            rng.choice(topic) if rng.random() < 0.8 else rng.choice(shared) for _ in range(n)
        ))
    planted = []
    for orig in rng.sample(range(DOCS), int(DOCS * PLANTED_SHARE)):
        words = docs[orig].split()
        for _ in range(max(1, len(words) // 20)):  # drop ~5% of the words
            words.pop(rng.randrange(len(words)))
        i = rng.randrange(len(words) - 1)  # and swap one adjacent pair
        words[i], words[i + 1] = words[i + 1], words[i]
        planted.append((orig, len(docs)))
        docs.append(" ".join(words))
    return list(enumerate(docs)), planted


def trace_curate(bench, tracer) -> tuple[bool, dict]:
    """MinHash pairs and clusters, then a hashed-embedding IVF-PQ index and
    ANN queries. OK means planted-pair recall and ANN recall@10 against the
    exact ``cosine_topk`` meet their floors."""
    spark = bench.spark
    rows, planted = make_documents(bench.seed)
    docs = spark.createDataFrame(rows, "doc_id long, text string").localCheckpoint(eager=True)
    with tracer.span("text.dedup.signatures"):
        sigs = minhash_signatures(docs, "doc_id").localCheckpoint(eager=True)
    with tracer.span("text.dedup.pairs"):
        # threshold 0 keeps every banded candidate: the pair count before
        # the estimate filter
        candidates = minhash_lsh_pairs(docs, "doc_id", threshold=0.0, sigs=sigs).count()
        pairs = minhash_lsh_pairs(docs, "doc_id", sigs=sigs).localCheckpoint(eager=True)
        n_pairs = pairs.count()
    with tracer.span("text.dedup.clusters"):
        clusters = {r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    found = sum(
        1 for a, b in planted
        if a in clusters and clusters.get(a) == clusters.get(b)
    )
    with tracer.span("vec.embed"):
        emb = hash_embed(docs, dim=64).withColumnRenamed("doc_id", "vec_id").localCheckpoint(
            eager=True
        )
    path = os.path.join(bench.state, "ivfpq")
    with tracer.span("vec.pq.build"):
        ivfpq_build_index(emb, path, nlist=8, iters=2)
    rng = random.Random(bench.seed)
    recalls = []
    for qid in rng.sample(range(DOCS), ANN_QUERIES):
        qv = emb.where(F.col("vec_id") == qid).collect()[0]["embedding"]
        with tracer.span("vec.pq.query", request_id=f"ann-{qid}"):
            got = {r["vec_id"] for r in ivfpq_topk_from_index(
                spark, path, qv, k=10, nprobe=NPROBE, exclude_id=qid
            ).collect()}
        exact = {r["vec_id"] for r in cosine_topk(emb, qid, k=10).collect()}
        recalls.append(len(got & exact) / len(exact))
    m = {
        "candidates": candidates,
        "pairs": n_pairs,
        "candidate_yield": n_pairs / candidates if candidates else 0.0,
        "planted_recall": found / len(planted),
        "recall_at_10": float(np.mean(recalls)),
        "query_cells_probed": NPROBE,
        "docs": len(rows),
    }
    ok = m["planted_recall"] >= PLANTED_RECALL_FLOOR and m["recall_at_10"] >= RECALL_AT_10_FLOOR
    return ok, m
