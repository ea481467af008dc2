"""Streaming dedup-ingest: a continuously-landing document stream probed
against the persisted cross-corpus MinHash index per micro-batch, survivors
appended to the index and materialized — continuous ingestion that never
re-pairs the corpus with itself (the streaming composition of
text/incremental.py; reference analog: the archiver's always-on ingest
lifecycle, archiver/filemgr.go, applied to the dedup domain).

Exactly-once under foreachBatch's at-least-once replays — the full
protocol, per batch:

1. survivors = dedup_against_index(batch, index, exclude_batch=token):
   the probe EXCLUDES the batch's own (deterministic) token, so a replay
   that runs after step 3 committed still answers as if the batch had
   never arrived — without this, every replayed doc reads as a duplicate
   of itself and the survivors directory is rewritten EMPTY (data loss).
2. survivors overwrite their batch-scoped output directory (idempotent).
3. minhash_index_append(survivors, index, batch=token): an
   already-committed token is a no-op; an uncommitted retry vacuums the
   token's half-written directories first — at-least-once converges to
   exactly-once (crash-atomicity from the meta.json commit fence).
4. the batch manifest commits last (_exactly_once_writer) — a clean
   replay skips the whole batch.

The token is a pure function of (table_root, batch_id), so every replay
of a micro-batch names the same index batch. Single writer per index
(the data/commit.py contract). Survivors are internally deduped too
(within_batch=True), so the index only ever holds clean text.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

from tmframe_spark.streaming.materialize import _exactly_once_writer
from tmframe_spark.text.incremental import (
    dedup_against_index,
    minhash_index_append,
)


def _batch_token(table_root: str, batch_id: int) -> str:
    """Deterministic per-(stream, micro-batch) index token — stable across
    at-least-once replays, distinct across streams sharing an index."""
    return hashlib.md5(f"{table_root}|{batch_id}".encode()).hexdigest()


def dedup_ingest_writer(
    table_root: str,
    index_path: str,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    table: str = "docs",
    ann_index_path: str | None = None,
    embed_dim: int = 64,
):
    """The foreachBatch function implementing the module protocol (kept
    separately constructible so tests can drive single batches, replays,
    and crash windows directly).

    ``ann_index_path``: an EXISTING IVF+PQ index (ivfpq_build_index —
    quantizers frozen at build time, the standard ingest contract): each
    batch's survivors are hash-embedded (vec/embed, ``embed_dim`` dims)
    and appended under the batch's own deterministic token
    (``<token>-ann``) — ivfpq_append's committed-token no-op makes this
    leg exactly-once under the same replays as the rest of the protocol.
    The full continuous pipeline: documents land → dedup against the
    corpus → survivors enter the dedup index, the doc table, AND the
    ANN-servable vector index, atomically per micro-batch."""

    def write_fn(df: DataFrame, batch_dir: str) -> dict:
        from tmframe_spark.text.dedup import minhash_signatures
        from tmframe_spark.text.incremental import read_index_meta

        token = _batch_token(table_root, int(batch_dir.rsplit("=", 1)[1]))
        # one signature pass per batch (r7): probe, within-batch pairing
        # and the index append all reuse it (bit-identical — deterministic)
        imeta = read_index_meta(index_path)
        sigs = minhash_signatures(
            df, id_col, text_col, imeta["k"], imeta["shingle_k"]
        ).localCheckpoint(eager=True)
        kept = dedup_against_index(
            df,
            index_path,
            threshold,
            id_col,
            text_col,
            within_batch=True,
            exclude_batch=token,
            sigs=sigs,
        ).localCheckpoint(eager=True)  # feeds the write, the appends, the count
        kept.write.mode("overwrite").parquet(batch_dir)
        kept_sigs = sigs.join(
            kept.selectExpr(f"{id_col} as id"), "id", "left_semi"
        )
        meta = minhash_index_append(
            kept, index_path, id_col, text_col, batch=token, sigs=kept_sigs
        )
        out = {
            "docs_in": df.count(),
            "docs_kept": kept.count(),
            "index_batches": len(meta.get("batches", [])),
        }
        if ann_index_path is not None:
            from tmframe_spark.vec.embed import hash_embed
            from tmframe_spark.vec.pq import ivfpq_append

            emb = hash_embed(
                kept, dim=embed_dim, id_col=id_col, text_col=text_col
            ).withColumnRenamed(id_col, "vec_id")
            ameta = ivfpq_append(emb, ann_index_path, batch=f"{token}-ann")
            out["ann_batches"] = len(ameta.get("batches", []))
        return out

    return _exactly_once_writer(table_root, table, write_fn)


def materialize_dedup_ingest(
    spark: SparkSession,
    source_path: str,
    schema,
    table_root: str,
    index_path: str,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint: str | None = None,
    available_now: bool = True,
    max_files: int = 64,
    ann_index_path: str | None = None,
    embed_dim: int = 64,
):
    """Run (or drain, with availableNow) the dedup-ingest stream: documents
    landing under ``source_path`` are probed against ``index_path``,
    survivors appended there and materialized under
    ``table_root/docs/batch=*`` (and, with ``ann_index_path``, embedded +
    appended to the IVF+PQ index). Returns the StreamingQuery."""
    checkpoint = checkpoint or os.path.join(table_root, "_docs_checkpoint")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(source_path)
    )
    writer = dedup_ingest_writer(
        table_root, index_path, threshold, id_col, text_col,
        ann_index_path=ann_index_path, embed_dim=embed_dim,
    )
    return (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        if available_now
        else stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def read_ingested(spark: SparkSession, table_root: str, table: str = "docs"):
    path = os.path.join(table_root, table)
    return spark.read.option("basePath", path).parquet(f"{path}/batch=*")
