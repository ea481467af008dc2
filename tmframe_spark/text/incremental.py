"""Incremental (cross-corpus) deduplication: dedup a NEW batch of documents
against an already-ingested corpus WITHOUT re-pairing the corpus with
itself — the continuous-ingestion shape of training-data dedup (a nightly
crawl lands against a multi-PB corpus; re-running whole-corpus MinHash per
batch would be O(corpus) every night).

The corpus is represented by a PERSISTED index (``minhash_index_write``),
three mod-partitioned parquet tables + a params manifest:

- ``exact/``  (h_mod=…/)   one (h, id) row per doc — h = the exact-dedup
  content key (``dedup.norm_text_md5``), the certain cheap first pass;
- ``bands/``  (bucket_mod=…/) (band, bucket, id) — the banded-LSH candidate
  surface (``dedup.band_buckets`` over the doc's MinHash signature);
- ``sigs/``   (id_mod=…/)  (id, sig) — full signatures for the exact
  est-Jaccard re-verify of band-collision candidates;
- ``meta.json`` — k/bands/shingle_k/nmods, read back at probe and append
  time so a probe can never run with mismatched parameters.

Every probe is PRUNED: the batch's touched partition values (≤ nmods of
them) are collected and pushed as a partition-column ``isin`` filter, so a
small batch reads a small fraction of the corpus-sized tables
(PartitionFilters — asserted in tests/test_incremental.py). A batch that
touches every partition degrades to one full scan, never more.

Candidate generation reuses the EXACT same expressions as the inline
``minhash_lsh_pairs`` (shared ``minhash_signatures`` + ``band_buckets``
helpers), so the cross-corpus pair set equals the inline pair set restricted
to (corpus, batch) pairs — asserted bit-for-bit in the tests, est_jaccard
included.

Scale shape (100 TB posture): the index is append-only (``
minhash_index_append`` folds each batch's survivors in); probing shuffles
only batch-sized and candidate-sized data keyed by (band, bucket) or id;
the corpus is never self-joined. Reference analog: the archive's
ingest-then-serve lifecycle (SURVEY §2.1 S10) applied to the dedup domain.

Crash atomicity (round-5 verdict finding #3): each ingest writes its rows
under a fresh ``batch=<token>`` partition in all three tables, and the
batch token is added to ``meta.json``'s ``batches`` list ONLY after all
three writes succeed — the batch-token fence of data/commit.py, shared
with the IVF+PQ index. Probes filter every table to committed batches,
so a crash anywhere mid-append leaves the index answering exactly as if
the batch never arrived; tokens are never reused, so a retried ingest can
never double-count a half-written batch. ``minhash_index_vacuum`` removes
uncommitted batch directories after a crash.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tmframe_spark.data.commit import append_batch, read_meta, vacuum, write_meta
from tmframe_spark.text.dedup import (
    band_buckets,
    dedup_keep_canonical,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    norm_text_md5,
)

#: default partition-value count for the three mod-partitioned tables.
#: Bounds both the directory fan-out and the probe-time collected lists.
INDEX_NMODS = 64


#: the three index tables, each partitioned by ``batch=<token>`` first
_TABLES = ("sigs", "bands", "exact")

read_index_meta = read_meta


def _mod(col, nmods: int):
    return F.pmod(col, F.lit(nmods)).cast("int")


def minhash_index_write(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    nmods: int = INDEX_NMODS,
    mode: str = "overwrite",
    batch: str | None = None,
    sigs: "DataFrame | None" = None,
) -> dict:
    """Build (or, mode='append', extend) the persisted dedup index for a
    corpus. Returns the params manifest. The signature projection is
    eagerly localCheckpoint'd once and feeds all three tables (the repo's
    multi-consumer rule).

    ``sigs`` (r7, the probe->append signature-reuse path): a precomputed
    ``minhash_signatures(df, id_col, text_col, k, shingle_k)`` frame
    (columns id, sig) covering EXACTLY ``df``'s rows with THESE params —
    signatures are deterministic, so reuse is bit-identical to
    recomputation (pinned by tests); the ingest cycle computes them once
    in the probe and no longer pays the K-permutation pass again here.

    Every write lands under a fresh ``batch=<token>`` partition; the token
    enters ``meta.json``'s committed ``batches`` list only AFTER all three
    tables are written (overwrite commits here; append's commit lives in
    ``minhash_index_append`` so a crash anywhere before it leaves the batch
    invisible to probes)."""
    import uuid

    if k % bands != 0:
        raise ValueError(f"k={k} must be a multiple of bands={bands}")
    r = k // bands
    if batch is None:
        batch = uuid.uuid4().hex
    bcol = F.lit(batch).alias("batch")
    if sigs is None:
        sigs = minhash_signatures(df, id_col, text_col, k, shingle_k).localCheckpoint(
            eager=True
        )
    # repartition ON the partition column before every partitionBy write:
    # without it each upstream task writes into up to nmods directories —
    # tasks x nmods tiny files per table (measured: 7,473 files for a
    # 5.5k-doc index at r6) — the classic small-files explosion that melts
    # both the filesystem and later probe scans at corpus scale. With it,
    # each (batch, mod) directory is written by exactly one task: one
    # batch-sized shuffle buys nmods well-sized files per table.
    sigs.select("*", bcol).withColumn("id_mod", _mod(F.col("id"), nmods)).repartition(
        "id_mod"
    ).write.mode(mode).partitionBy("batch", "id_mod").parquet(
        os.path.join(path, "sigs")
    )
    band_rows = sigs.select(
        "id", F.posexplode(band_buckets(F.col("sig"), bands, r)).alias("band", "bucket")
    )
    band_rows.select("*", bcol).withColumn(
        "bucket_mod", _mod(F.col("bucket"), nmods)
    ).repartition("bucket_mod").write.mode(mode).partitionBy(
        "batch", "bucket_mod"
    ).parquet(os.path.join(path, "bands"))
    exact = df.select(
        norm_text_md5(F.col(text_col)).alias("h"), F.col(id_col).alias("id")
    )
    exact.select("*", bcol).withColumn(
        "h_mod", _mod(F.xxhash64(F.col("h")), nmods)
    ).repartition("h_mod").write.mode(mode).partitionBy("batch", "h_mod").parquet(
        os.path.join(path, "exact")
    )
    meta = {
        "k": k,
        "bands": bands,
        "shingle_k": shingle_k,
        "nmods": nmods,
        "batches": [batch],
    }
    if mode == "overwrite":
        write_meta(path, meta)  # the commit fence: tables first, meta last
    return meta


def minhash_index_append(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch: str | None = None,
    sigs: "DataFrame | None" = None,
) -> dict:
    """Fold a new batch (normally ``dedup_against_index``'s survivors) into
    an existing index, with the index's OWN stored parameters — a caller
    cannot drift k/bands/shingle_k between batches.

    CRASH-ATOMIC: the three table appends land under one fresh batch token,
    and the token is committed into ``meta.json`` (data/commit.append_batch)
    only after every write succeeded. Probes read committed batches only,
    so a crash at ANY point in here makes the whole batch invisible — never
    a sigs/bands/exact mix that silently under-detects duplicates.

    ``batch``: an explicit token makes the append IDEMPOTENT under
    at-least-once replay (the streaming dedup-ingest protocol,
    streaming/ingest.py): an already-committed token returns the meta
    unchanged with no write; an uncommitted retry first vacuums the
    token's half-written directories, then re-appends — so at-least-once
    callers converge to exactly-once. Without it a fresh random token is
    used (the one-shot form; a crashed attempt's directories are garbage
    until ``minhash_index_vacuum``). Single writer per index (the
    data/commit.py contract)."""

    def write(meta: dict, token: str) -> None:
        params = {x: meta[x] for x in ("k", "bands", "shingle_k", "nmods")}
        minhash_index_write(
            df, path, id_col, text_col, mode="append", batch=token, sigs=sigs,
            **params,
        )

    return append_batch(path, _TABLES, batch, write)


def minhash_index_vacuum(path: str) -> list[str]:
    """Delete UNCOMMITTED batch directories (a crashed ingest's leftovers)
    from the three tables; returns the removed batch tokens. Safe to run
    concurrently with probes: probes never read uncommitted batches."""
    return vacuum(path, _TABLES)


#: the three table write schemas (minhash_index_write), used to answer
#: probes against a bootstrapped-empty index whose partitioned writes hold
#: zero parquet files
_TABLE_SCHEMAS = {
    "sigs": "id long, sig array<bigint>, batch string, id_mod int",
    "bands": "id long, band int, bucket bigint, batch string, bucket_mod int",
    "exact": "h string, id long, batch string, h_mod int",
}


def _committed(
    spark, path: str, table: str, nmods_col: str, mods: list,
    exclude_batch: str | None = None,
):
    """Read one index table pruned to committed batches + the probe's
    touched mod partitions (both are partition columns -> PartitionFilters;
    an uncommitted batch is never listed into the scan). ``exclude_batch``
    drops one committed token — the replay rule: when a crashed ingest is
    re-run AFTER its own append committed, the probe must answer as if the
    batch had never arrived, or every replayed doc reads as a duplicate of
    itself (the streaming dedup-ingest protocol, streaming/ingest.py)."""
    meta = read_index_meta(path)
    try:
        df = spark.read.parquet(os.path.join(path, table))
    except Exception as e:
        if "UNABLE_TO_INFER_SCHEMA" not in str(e) and "PATH_NOT_FOUND" not in str(e):
            raise
        # a bootstrapped-EMPTY index (jobs/ingest_job --init-index): the
        # tables exist but hold zero files (an empty partitioned write
        # emits no schema-bearing parquet), so answer from the module's
        # own write schemas — the probe correctly sees an empty corpus
        df = spark.createDataFrame([], _TABLE_SCHEMAS[table])
    batches = meta.get("batches")
    if batches is not None and "batch" in df.columns:
        if exclude_batch is not None:
            batches = [b for b in batches if b != exclude_batch]
        df = df.where(F.col("batch").isin(batches))
    return df.where(F.col(nmods_col).isin(mods))


def exact_dups_against_index(
    df: DataFrame, path: str, id_col: str = "doc_id", text_col: str = "text",
    exclude_batch: str | None = None,
) -> DataFrame:
    """(id_new, id_corpus) for every batch doc whose normalized text md5
    already exists in the corpus — id_corpus = the lowest matching corpus
    id. The probe reads only the batch's h_mod partitions."""
    spark = df.sparkSession
    nmods = read_index_meta(path)["nmods"]
    probe = df.select(
        F.col(id_col).alias("id_new"), norm_text_md5(F.col(text_col)).alias("h")
    ).withColumn("h_mod", _mod(F.xxhash64(F.col("h")), nmods))
    mods = [r[0] for r in probe.select("h_mod").distinct().collect()]
    idx = _committed(spark, path, "exact", "h_mod", mods, exclude_batch).select(
        "h", F.col("id").alias("id_corpus")
    )
    return (
        probe.join(idx, "h")
        .groupBy("id_new")
        .agg(F.min("id_corpus").alias("id_corpus"))
    )


def cross_dup_pairs(
    df: DataFrame,
    path: str,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    exclude_batch: str | None = None,
    sigs: "DataFrame | None" = None,
) -> DataFrame:
    """(id_new, id_corpus, est_jaccard) for every (batch doc, corpus doc)
    pair that collides in ≥1 LSH band AND whose MinHash-estimated Jaccard
    meets ``threshold`` — the inline ``minhash_lsh_pairs`` semantics
    restricted to cross pairs, computed by PROBING the index instead of
    re-pairing the corpus. Batch and corpus id spaces must be disjoint
    (the ingest contract; same as any append-only id scheme)."""
    spark = df.sparkSession
    meta = read_index_meta(path)
    k, bands, nmods = meta["k"], meta["bands"], meta["nmods"]
    r = k // bands
    sigs_new = (
        sigs
        if sigs is not None
        else minhash_signatures(
            df, id_col, text_col, k, meta["shingle_k"]
        ).localCheckpoint(eager=True)
    )
    band_new = sigs_new.select(
        F.col("id").alias("id_new"),
        F.posexplode(band_buckets(F.col("sig"), bands, r)).alias("band", "bucket"),
    ).withColumn("bucket_mod", _mod(F.col("bucket"), nmods))
    probed = [r_[0] for r_ in band_new.select("bucket_mod").distinct().collect()]
    idx = _committed(
        spark, path, "bands", "bucket_mod", probed, exclude_batch
    ).select("band", "bucket", F.col("id").alias("id_corpus"))
    # candidate-sized from here on; checkpoint before the two driver-visible
    # consumers (mod collect + verify join) so the band join runs once
    cand = (
        band_new.join(idx, ["band", "bucket"])
        .groupBy("id_new", "id_corpus")
        .agg(F.count(F.lit(1)).alias("n_bands"))
        .localCheckpoint(eager=True)
    )
    cmods = [
        r_[0]
        for r_ in cand.select(_mod(F.col("id_corpus"), nmods).alias("m"))
        .distinct()
        .collect()
    ]
    sigs_idx = _committed(spark, path, "sigs", "id_mod", cmods, exclude_batch).select(
        F.col("id").alias("id_corpus"), F.col("sig").alias("sig_corpus")
    )
    est = F.size(
        F.filter(F.zip_with("sig_new", "sig_corpus", lambda x, y: x == y), lambda e: e)
    ) / F.lit(float(k))
    return (
        cand.join(
            sigs_new.select(F.col("id").alias("id_new"), F.col("sig").alias("sig_new")),
            "id_new",
        )
        .join(sigs_idx, "id_corpus")
        .withColumn("est_jaccard", F.round(est, 6))
        .where(F.col("est_jaccard") >= threshold)
        .select("id_new", "id_corpus", "est_jaccard")
    )


def dedup_against_index(
    df: DataFrame,
    path: str,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    within_batch: bool = False,
    exclude_batch: str | None = None,
    sigs: "DataFrame | None" = None,
) -> DataFrame:
    """The incremental-ingest dedup step: drop every batch doc that is an
    exact or near duplicate of a corpus doc already in the index; return
    the surviving rows unchanged (anti-join by id — the text payload never
    reshuffles). ``within_batch=True`` additionally dedups the survivors
    against each other (exact first-occurrence + MinHash components,
    canonical-keep) so the batch enters the index internally clean.

    The full cycle is probe → keep → ``minhash_index_append(kept, path)``;
    jobs/dedup_job.py wires it end to end."""
    exact = exact_dups_against_index(
        df, path, id_col, text_col, exclude_batch
    ).select("id_new")
    near = cross_dup_pairs(
        df, path, threshold, id_col, text_col, exclude_batch, sigs=sigs
    ).select("id_new")
    drop = exact.unionByName(near).distinct().withColumnRenamed("id_new", id_col)
    kept = df.join(drop, id_col, "left_anti")
    if within_batch:
        kept = exact_dedup(kept, id_col, text_col)
        meta = read_index_meta(path)
        kept_sigs = None
        if sigs is not None:
            # the precomputed sigs cover the WHOLE batch; restrict to the
            # surviving rows so the within-batch pairing is identical to
            # recomputing over ``kept``
            kept_sigs = sigs.join(
                kept.select(F.col(id_col).alias("id")), "id", "left_semi"
            )
        pairs = minhash_lsh_pairs(
            kept,
            id_col,
            text_col,
            k=meta["k"],
            bands=meta["bands"],
            threshold=threshold,
            shingle_k=meta["shingle_k"],
            sigs=kept_sigs,
        )
        kept = dedup_keep_canonical(kept, pairs, id_col)
    return kept
