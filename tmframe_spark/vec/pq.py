"""Product quantization (PQ) for embedding columns — the MEMORY-scale ANN
serving path (Jegou, Douze, Schmid, "Product Quantization for Nearest
Neighbor Search", IEEE TPAMI 2011 — public).

Where IVF (vec/similarity.py) prunes WHICH vectors a query scans, PQ
shrinks WHAT each scanned vector costs: the dim-float embedding column is
replaced by an m-byte code column (one byte per subspace; m=8 over a
64-dim float32 vector is a 32x compression), and a query scores codes via
asymmetric distance computation (ADC) — one per-subspace lookup table of
ksub entries built driver-side from the query, then a table-gather + sum
per stored code. A 100 TB embedding corpus becomes a ~3 TB code scan with
no shuffle and no decode of the original vectors.

Determinism contract (the repo's cross-engine float rules,
tmframe_spark/queries.py top):
- Codebook training uses the ivf_train fixed-point rule — per-dimension
  integer sums of floor(x * 2^20), one double division per mean — so
  codebooks are bit-identical across runs and hosts.
- ADC scores are EXACT int64 sums of floor(x * 2^20) products: the
  per-subspace lookup values partition the full-vector fixed-point dot
  product, so summation order cannot matter and the top-k ordering
  (score desc, id) is total and partitioning-independent.
- When every stored vector lies exactly on its codebook reconstruction,
  the ADC score EQUALS vec/similarity._qdot of the original vectors and
  the derived cosine is bit-identical to cosine_topk's — pinned by
  tests/test_pq.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tmframe_spark.data.commit import append_batch, read_meta, vacuum, write_meta
from tmframe_spark.vec.similarity import _Q

#: hard bound on the driver-side training collect: sample_cap x dim float64
#: values (the PQ codebook itself is tiny — m x ksub x dsub — but Lloyd
#: iterations run on the collected SAMPLE; 2^24 elements = 128 MiB).
#: Sample-based codebook training is the standard PQ practice (the TPAMI
#: paper trains on a subset), and it is the only PQ trainer: every index
#: build trains its codebooks on this bounded sample.
PQ_TRAIN_ELEMENT_CAP = 1 << 24


def _check_geometry(dim: int, m: int, ksub: int) -> int:
    if m < 1 or dim % m != 0:
        raise ValueError(f"dim {dim} must split into m={m} equal subspaces")
    if not 1 <= ksub <= 256:
        raise ValueError(f"ksub={ksub} must be in [1, 256] (codes are one byte)")
    return dim // m


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = 65536,
) -> list[list[list[float]]]:
    """Train PQ codebooks: per subspace, deterministic Lloyd k-means over
    the ``sample_cap`` LOWEST-id vectors (seed-free, reproducible — the
    ivf_train init rule). Returns codebooks[sub][code] = dsub-float
    centroid.

    Same fixed-point mean rule as ivf_train (integer sums of
    floor(x * 2^20), one division per dimension), same tie rule (argmin to
    the lowest code), so retraining anywhere reproduces the codebooks
    bit-for-bit. The collect is bounded by PQ_TRAIN_ELEMENT_CAP — a loud
    ValueError, never a silent driver melt.
    """
    import numpy as np

    first = embeddings.select(vec_col).limit(1).collect()
    dim = len(first[0][0]) if first and first[0][0] is not None else 0
    if dim == 0:
        raise ValueError("pq_train needs at least one non-null vector")
    _check_geometry(dim, m, ksub)
    if sample_cap * dim > PQ_TRAIN_ELEMENT_CAP:
        raise ValueError(
            f"pq_train would collect sample_cap*dim = {sample_cap * dim} "
            f"float64 values (cap {PQ_TRAIN_ELEMENT_CAP}); lower sample_cap "
            f"— codebooks train on a bounded lowest-id sample at any corpus "
            f"size"
        )
    sample = embeddings.orderBy(id_col).limit(sample_cap).select(vec_col).collect()
    X = np.array([[float(v) for v in r[vec_col]] for r in sample], dtype=np.float64)
    dsub = dim // m
    books = []
    for s in range(m):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        C = Xs[: min(ksub, len(Xs))].copy()
        if len(C) < ksub:  # degenerate tiny sample: pad with repeats
            C = np.vstack([C] * ((ksub + len(C) - 1) // len(C)))[:ksub]
        for _ in range(iters):
            # elementwise distance (not matmul) keeps the assignment
            # bitwise-deterministic across hosts; 1024-row chunks bound the
            # (chunk, ksub, dsub) intermediate at any geometry
            assign = np.empty(len(Xs), dtype=np.int64)
            for i in range(0, len(Xs), 1024):
                blk = Xs[i : i + 1024]
                d2 = ((blk[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                assign[i : i + 1024] = np.argmin(d2, axis=1)  # ties -> lowest
            for c in range(ksub):
                pts = Xs[assign == c]
                if len(pts):
                    qsum = np.floor(pts * _Q).astype(np.int64).sum(axis=0)
                    C[c] = (qsum / len(pts)) / _Q
        books.append([[float(x) for x in row] for row in C])
    return books


def _codebook_matrix(codebooks):
    import numpy as np

    B = np.asarray(codebooks, dtype=np.float64)  # (m, ksub, dsub)
    if B.ndim != 3:
        raise ValueError("codebooks must be a (m, ksub, dsub) nested list")
    return B


def pq_encode(
    embeddings: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: tuple = (),
) -> DataFrame:
    """Encode each vector to its m-byte PQ code (binary column): per
    subspace, the nearest codebook entry by squared L2 (ties to the lowest
    code, matching pq_train's assignment). One numpy matmul-argmin per
    subspace per Arrow batch against the broadcast codebooks — no shuffle,
    bounded batch memory; output rows carry ``id_col`` + ``code`` only
    (the compression is the point: never re-emit the vector).

    ``carry_cols``: extra input columns copied through unchanged (e.g. the
    IVF ``cell`` for a partitioned IVF+PQ index) — still no shuffle, the
    columns ride the same Arrow batch."""
    from pyspark.sql.types import BinaryType, StructType

    spark = embeddings.sparkSession
    B = _codebook_matrix(codebooks)
    m, ksub, dsub = B.shape
    bc = spark.sparkContext.broadcast(B)
    carry = tuple(carry_cols)

    def encode(batches):
        import numpy as _np
        import pandas as _pd

        Bm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = _np.stack(pdf[vec_col].to_numpy()).astype(_np.float64)
            codes = _np.empty((len(X), m), dtype=_np.uint8)
            for s in range(m):
                Xs = X[:, s * dsub : (s + 1) * dsub]
                Cs = Bm[s]
                d2 = (Xs * Xs).sum(axis=1)[:, None] - 2.0 * (Xs @ Cs.T) + (
                    Cs * Cs
                ).sum(axis=1)
                codes[:, s] = _np.argmin(d2, axis=1)
            out = {"_id": pdf[id_col].to_numpy(), "code": [c.tobytes() for c in codes]}
            for c in carry:
                out[c] = pdf[c].to_numpy()
            yield _pd.DataFrame(out)

    in_fields = {f.name: f for f in embeddings.schema.fields}
    out_schema = StructType().add("_id", in_fields[id_col].dataType).add(
        "code", BinaryType()
    )
    for c in carry:
        out_schema = out_schema.add(in_fields[c])
    out = embeddings.select(F.col(id_col), vec_col, *carry).mapInPandas(
        encode, out_schema
    )
    return out.select(F.col("_id").alias(id_col), "code", *carry)


def _adc_tables(codebooks, query_vec):
    """Driver-side ADC lookup tables in the repo's exact fixed-point space:
    dot_lut[s][c] = sum_d floor(q_d*2^20)*floor(codebook[s][c][d]*2^20)
    (int64 — these values PARTITION the full-vector _qdot, so per-code sums
    are exact), norm_lut[s][c] = the same rule applied to the codebook
    entry with itself (the reconstructed vector's _qnorm2), and qn2 = the
    query's exact fixed-point norm."""
    import numpy as np

    B = _codebook_matrix(codebooks)
    m, ksub, dsub = B.shape
    q = np.asarray(query_vec, dtype=np.float64)
    if q.size != m * dsub:
        raise ValueError(f"query dim {q.size} != codebook dim {m * dsub}")
    Qb = np.floor(B * _Q).astype(np.int64)
    Qq = np.floor(q * _Q).astype(np.int64)
    dot_lut = np.empty((m, ksub), dtype=np.int64)
    norm_lut = np.empty((m, ksub), dtype=np.int64)
    for s in range(m):
        qs = Qq[s * dsub : (s + 1) * dsub]
        dot_lut[s] = (Qb[s] * qs[None, :]).sum(axis=1)
        norm_lut[s] = (Qb[s] * Qb[s]).sum(axis=1)
    qn2 = int((Qq * Qq).sum())
    return dot_lut, norm_lut, qn2


def pq_topk(
    codes: DataFrame,
    codebooks,
    query_vec,
    k: int = 10,
    exclude_id: int | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k by cosine against PQ codes via ADC: scores come
    from two table-gathers per subspace (the query's dot table and the
    reconstruction-norm table) — the stored vectors are never read.
    ``cosine`` = exact-int dot / sqrt(exact-int norms), one IEEE division —
    the cosine of the query with each vector's RECONSTRUCTION, so ranking
    quality is bounded by quantization distortion (recall pinned by tests);
    determinism is not: scores are exact integers, ties broken by id.

    The external query vector is float32-rounded first: stored embeddings
    are float32, so quantizing an unrounded float64 query would give a
    different fixed-point vector than the same embedding held by the
    index, and near-tie pairs would flip in or out of the top-k. Every
    served path (this one, ``pq_topk_rerank``, ``_pq_topk_residual``,
    ``ivfpq_topk_from_index``) applies the same rounding."""
    import numpy as np

    spark = codes.sparkSession
    qv = np.asarray(query_vec, dtype=np.float32).astype(np.float64)
    dot_lut, norm_lut, qn2 = _adc_tables(codebooks, qv)
    bc = spark.sparkContext.broadcast((dot_lut, norm_lut))

    def score(batches):
        import numpy as _np
        import pandas as _pd

        dl, nl = bc.value
        m = dl.shape[0]
        for pdf in batches:
            if not len(pdf):
                continue
            C = _np.frombuffer(b"".join(pdf["code"]), dtype=_np.uint8).reshape(-1, m)
            dot = _np.zeros(len(C), dtype=_np.int64)
            xn2 = _np.zeros(len(C), dtype=_np.int64)
            for s in range(m):
                dot += dl[s][C[:, s]]
                xn2 += nl[s][C[:, s]]
            yield _pd.DataFrame(
                {"_id": pdf[id_col].to_numpy(), "_dot": dot, "_xn2": xn2}
            )

    scored = codes.mapInPandas(score, "_id long, _dot long, _xn2 long")
    if exclude_id is not None:
        scored = scored.where(F.col("_id") != exclude_id)
    return (
        scored.select(
            F.col("_id").alias(id_col),
            (
                F.col("_dot")
                / F.sqrt(F.lit(float(qn2)) * F.col("_xn2").cast("double"))
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def pq_topk_rerank(
    codes: DataFrame,
    embeddings: DataFrame,
    codebooks,
    query_vec,
    k: int = 10,
    refine: int = 4,
    exclude_id: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shortlist: DataFrame | None = None,
) -> DataFrame:
    """ADC shortlist + exact re-rank — the standard PQ serving refinement
    (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    IV.RE-RANKING): score EVERY vector from its m-byte code (pq_topk's
    table-gather pass over the tiny code table), keep the top
    ``k * refine`` candidates, then re-score ONLY those against their
    stored full vectors with the repo's exact fixed-point cosine — the
    identical integer dot + single IEEE division cosine_topk computes, so
    whenever the true top-k survive the shortlist the result is
    bit-identical to the exact scan (pinned in tests/test_pq.py).

    Scale shape: the full-corpus pass still reads only codes (the 16-32x
    compressed table); the re-rank joins a broadcast ``k*refine``-row id
    shortlist against the vector table — candidate-sized work, scan-side
    pruned. Measured at sf0.1 (BENCH.md round 6): recall@10 0.5 -> 1.0 for
    refine=4 at ~no extra wall vs raw ADC."""
    import numpy as np

    from tmframe_spark.vec.similarity import _qdot, _qnorm2

    if refine < 1:
        raise ValueError(f"refine must be >= 1, got {refine}")
    if shortlist is None:
        shortlist = pq_topk(
            codes, codebooks, query_vec, k=k * refine,
            exclude_id=exclude_id, id_col=id_col,
        ).select(id_col)
    qv = np.asarray(query_vec, dtype=np.float32).astype(np.float64)
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    Qq = np.floor(qv * _Q).astype(np.int64)
    qn = int((Qq * Qq).sum())
    cand = embeddings.join(F.broadcast(shortlist), id_col)
    return (
        cand.select(
            F.col(id_col),
            (
                _qdot(F.col(vec_col), qlit)
                / F.sqrt(
                    F.lit(float(qn)) * _qnorm2(F.col(vec_col)).cast("double")
                )
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def ivfpq_build_index(
    embeddings: DataFrame,
    path: str,
    nlist: int = 16,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    store_vectors: bool = False,
    residual: bool = False,
):
    """Build the PERSISTED two-level ANN index — IVF cell pruning over PQ
    codes, the classic billion-scale serving layout (FAISS IVFADC;
    reference layout analog: the archive's day/minute two-level seek,
    archiver/filemgr.go:94-104):

    - ``path/codes``: (id, code) PARTITIONED BY (cell) — a query reads
      nprobe/nlist of the DIRECTORIES (PartitionFilters), and each row it
      does read costs m bytes + two table-gathers instead of the vector;
    - ``path/centroids`` / ``path/codebooks`` / ``path/meta.json``: the tiny
      quantizer state, persisted so serving needs only the path
      (``ivfpq_load_meta``);
    - ``store_vectors=True`` additionally writes ``path/vectors``
      (cell-partitioned original vectors) for exact re-ranking without the
      source table (IVFADC-R) — 4·dim bytes/row, read only candidate-wide.

    ``residual=True`` is the TRUE IVFADC form (Jégou et al. §IV.A): the PQ
    codebooks are trained on and encode ``vec − centroid[cell]`` — the
    codes spend their bits on the within-cell detail the coarse quantizer
    already removed, which is where PQ distortion hurts; serving
    reconstructs per probed cell (the cell-dependent ADC tables in
    ``_pq_topk_residual``). Measured recall gain on the bench corpus in
    BENCH.md round-6.

    The coarse quantizer trains and assigns through
    ``vec/similarity._ivf_quantize`` (the distributed trainer past
    ``IVF_DRIVER_CELL_CAP``, the same rule ``semantic_pairs`` uses); the
    PQ codebooks train on ``pq_train``'s bounded sample. Returns
    (centroids, codebooks)."""
    from tmframe_spark.vec.similarity import _ivf_quantize

    spark = embeddings.sparkSession
    first = embeddings.select(vec_col).limit(1).collect()
    dim = len(first[0][0]) if first and first[0][0] is not None else 0
    cents, assigned = _ivf_quantize(embeddings, dim, nlist, iters, id_col, vec_col)
    assigned = assigned.localCheckpoint(eager=True)  # feeds 1-2 writes + train
    if residual:
        # residual = vec − centroid[cell]: a broadcast join against the
        # nlist-row centroid table + one codegen zip_with — exact float64
        cdf = spark.createDataFrame(
            [(c, [float(x) for x in v]) for c, v in enumerate(cents)],
            "cell int, _cent array<double>",
        )
        enc_src = assigned.join(F.broadcast(cdf), "cell").select(
            id_col,
            "cell",
            F.zip_with(
                F.col(vec_col), F.col("_cent"), lambda x, c: x.cast("double") - c
            ).alias("_res"),
        ).localCheckpoint(eager=True)  # feeds train AND encode
        books = pq_train(enc_src, m, ksub, iters, id_col, "_res")
        codes = pq_encode(enc_src, books, id_col, "_res", carry_cols=("cell",))
    else:
        books = pq_train(embeddings, m, ksub, iters, id_col, vec_col)
        codes = pq_encode(assigned, books, id_col, vec_col, carry_cols=("cell",))
    # batch/cell layout: batch=<token> is the append unit (the dedup-index
    # crash-atomicity pattern — meta.json commits the token list LAST, so a
    # crashed build/append is invisible to serving), cell stays a partition
    # column (PartitionFilters prune on it at any depth). One task per
    # directory (the index-write small-files rule).
    import uuid

    token = uuid.uuid4().hex
    codes.select("*", F.lit(token).alias("batch")).repartition("cell").write.mode(
        "overwrite"
    ).partitionBy("batch", "cell").parquet(f"{path}/codes")
    if store_vectors:
        assigned.select(
            id_col, vec_col, "cell", F.lit(token).alias("batch")
        ).repartition("cell").write.mode("overwrite").partitionBy(
            "batch", "cell"
        ).parquet(f"{path}/vectors")
    spark.createDataFrame(
        [(c, [float(x) for x in v]) for c, v in enumerate(cents)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    spark.createDataFrame(
        [
            (s, c, [float(x) for x in books[s][c]])
            for s in range(m)
            for c in range(ksub)
        ],
        "sub int, code int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    write_meta(path, {
        "residual": bool(residual),
        "store_vectors": bool(store_vectors),
        "nlist": int(nlist), "m": int(m), "ksub": int(ksub),
        "batches": [token],
    })  # the commit fence: every table first, meta last
    return cents, books


def ivfpq_load_meta(spark, path: str):
    """Read back (centroids, codebooks) written by ivfpq_build_index —
    driver-side, quantizer-sized."""
    cents = [
        list(r["centroid"])
        for r in spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    ]
    rows = spark.read.parquet(f"{path}/codebooks").orderBy("sub", "code").collect()
    m = rows[-1]["sub"] + 1
    books = [[] for _ in range(m)]
    for r in rows:
        books[r["sub"]].append(list(r["centroid"]))
    return cents, books


#: the batch-partitioned tables (``vectors`` only when store_vectors)
_IVFPQ_TABLES = ("codes", "vectors")

ivfpq_read_meta = read_meta


def ivfpq_vacuum(path: str) -> list[str]:
    """Delete UNCOMMITTED batch directories (a crashed append's leftovers)
    from the codes and vectors tables; returns the removed tokens. Safe
    alongside serving: probes never read uncommitted batches."""
    return vacuum(path, _IVFPQ_TABLES)


def ivfpq_append(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch: str | None = None,
):
    """Fold a NEW batch of vectors into an existing IVF+PQ index with the
    index's OWN frozen quantizers (assign to the existing cells, encode
    with the existing codebooks) — the nightly-embedding-ingest form; the
    quantizers never drift between batches, so appended codes score
    exactly as if they had been in the original build (pinned by the
    append==single-build serve test). Re-training is a rebuild, by design
    (standard IVF practice; cell drift under a shifted distribution is a
    monitoring question — see ivf cell-occupancy queries).

    CRASH-ATOMIC + REPLAY-IDEMPOTENT (the dedup-index protocol): the batch
    lands under ``batch=<token>`` partitions in codes (and vectors, when
    the index stores them), the token commits into meta.json last; an
    explicit ``batch`` token makes retries converge (committed -> no-op,
    uncommitted -> vacuum the token's dirs, re-append). The fence is
    data/commit.append_batch; single writer per index, its contract."""
    from tmframe_spark.vec.similarity import _ivf_quantize

    def write(meta: dict, token: str) -> None:
        cents, books = ivfpq_load_meta(embeddings.sparkSession, path)
        spark = embeddings.sparkSession
        # frozen quantizer: only the assignment route applies (no training)
        _, assigned = _ivf_quantize(
            embeddings, len(cents[0]), len(cents), 0, id_col, vec_col, centroids=cents
        )
        assigned = assigned.localCheckpoint(eager=True)
        if meta.get("residual", False):
            cdf = spark.createDataFrame(
                [(c, [float(x) for x in v]) for c, v in enumerate(cents)],
                "cell int, _cent array<double>",
            )
            enc_src = assigned.join(F.broadcast(cdf), "cell").select(
                id_col,
                "cell",
                F.zip_with(
                    F.col(vec_col), F.col("_cent"), lambda x, c: x.cast("double") - c
                ).alias("_res"),
            )
            codes = pq_encode(enc_src, books, id_col, "_res", carry_cols=("cell",))
        else:
            codes = pq_encode(assigned, books, id_col, vec_col, carry_cols=("cell",))
        codes.select("*", F.lit(token).alias("batch")).repartition("cell").write.mode(
            "append"
        ).partitionBy("batch", "cell").parquet(f"{path}/codes")
        if meta.get("store_vectors", False):
            assigned.select(
                id_col, vec_col, "cell", F.lit(token).alias("batch")
            ).repartition("cell").write.mode("append").partitionBy(
                "batch", "cell"
            ).parquet(f"{path}/vectors")

    return append_batch(path, _IVFPQ_TABLES, batch, write)


def _pq_topk_residual(
    codes: DataFrame,
    books,
    cents,
    probe: list,
    query_vec,
    k: int,
    exclude_id: int | None,
    id_col: str,
) -> DataFrame:
    """ADC scoring for a RESIDUAL-encoded index: the stored code
    reconstructs ``centroid[cell] + book[s][code_s]``, so the score
    decomposes into a per-cell constant plus table-gathers —
    dot(q, recon) = Qq·Qc + Σ_s dot_lut[s][code_s] and
    |recon|² = Qc·Qc + Σ_s (2·Qc_s·Qb[s][code_s] + |Qb[s][code_s]|²) —
    all exact int64 in the repo's floor(x·2^20) space (the reconstruction
    is DEFINED as the sum of the quantized parts, so summation order and
    partitioning cannot matter). When every residual is zero the score is
    the exact fixed-point cosine of the centroid itself — pinned by the
    zero-residual bit-compare test."""
    import numpy as np

    spark = codes.sparkSession
    qv = np.asarray(query_vec, dtype=np.float32).astype(np.float64)
    B = _codebook_matrix(books)
    m, ksub, dsub = B.shape
    if qv.size != m * dsub:
        raise ValueError(f"query dim {qv.size} != codebook dim {m * dsub}")
    Qq = np.floor(qv * _Q).astype(np.int64)
    Qb = np.floor(B * _Q).astype(np.int64)
    qn2 = int((Qq * Qq).sum())
    # cell-independent tables
    dot_lut = np.empty((m, ksub), dtype=np.int64)
    rnorm_lut = np.empty((m, ksub), dtype=np.int64)
    for s in range(m):
        qs = Qq[s * dsub : (s + 1) * dsub]
        dot_lut[s] = (Qb[s] * qs[None, :]).sum(axis=1)
        rnorm_lut[s] = (Qb[s] * Qb[s]).sum(axis=1)
    # per-probed-cell constants + cross tables
    per_cell = {}
    for c in probe:
        Qc = np.floor(np.asarray(cents[c], dtype=np.float64) * _Q).astype(np.int64)
        cross = np.empty((m, ksub), dtype=np.int64)
        for s in range(m):
            cs = Qc[s * dsub : (s + 1) * dsub]
            cross[s] = 2 * (Qb[s] * cs[None, :]).sum(axis=1)
        per_cell[int(c)] = (int(Qq @ Qc), int(Qc @ Qc), cross)
    bc = spark.sparkContext.broadcast((dot_lut, rnorm_lut, per_cell))

    def score(batches):
        import numpy as _np
        import pandas as _pd

        dl, rl, pc = bc.value
        m_ = dl.shape[0]
        for pdf in batches:
            if not len(pdf):
                continue
            C = _np.frombuffer(b"".join(pdf["code"]), dtype=_np.uint8).reshape(-1, m_)
            cells = pdf["cell"].to_numpy()
            dot = _np.zeros(len(C), dtype=_np.int64)
            xn2 = _np.zeros(len(C), dtype=_np.int64)
            for c in _np.unique(cells):
                mask = cells == c
                cd, cn, cross = pc[int(c)]
                d = _np.full(mask.sum(), cd, dtype=_np.int64)
                x = _np.full(mask.sum(), cn, dtype=_np.int64)
                Cm = C[mask]
                for s in range(m_):
                    d += dl[s][Cm[:, s]]
                    x += cross[s][Cm[:, s]] + rl[s][Cm[:, s]]
                dot[mask] = d
                xn2[mask] = x
            yield _pd.DataFrame(
                {"_id": pdf[id_col].to_numpy(), "_dot": dot, "_xn2": xn2}
            )

    scored = codes.select(id_col, "cell", "code").mapInPandas(
        score, "_id long, _dot long, _xn2 long"
    )
    if exclude_id is not None:
        scored = scored.where(F.col("_id") != exclude_id)
    return (
        scored.select(
            F.col("_id").alias(id_col),
            (
                F.col("_dot")
                / F.sqrt(F.lit(float(qn2)) * F.col("_xn2").cast("double"))
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def ivfpq_topk_from_index(
    spark,
    path: str,
    query_vec,
    k: int = 10,
    nprobe: int = 4,
    refine: int | None = None,
    exclude_id: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectors: DataFrame | None = None,
) -> DataFrame:
    """Serve top-k from the written IVF+PQ index: driver-side argmin over
    the tiny centroid table picks the probe cells, ``cell IN (probe)``
    lands on the partition column (directory pruning, PartitionFilters
    asserted by tests), and the probed rows are scored by the identical
    ADC table-gathers as ``pq_topk`` — probe-all serving is bit-identical
    to the flat pq_topk over the same codes.

    ``refine``: ADC-shortlist k·refine candidates, then exact fixed-point
    re-rank against ``vectors`` (a vector table; defaults to the index's
    own ``path/vectors`` when store_vectors was used) — pq_topk_rerank's
    contract composed with cell pruning.

    A residual-built index (ivfpq_build_index(residual=True)) is detected
    from the persisted meta.json and scored by ``_pq_topk_residual``'s
    per-cell reconstruction tables; everything else (probing, pruning,
    refine) is identical."""
    import numpy as np

    cents, books = ivfpq_load_meta(spark, path)
    meta = ivfpq_read_meta(path)
    residual = bool(meta.get("residual", False))
    committed = meta.get("batches", [])
    qv = [float(x) for x in np.asarray(query_vec, dtype=np.float32)]
    dists = [
        (sum((a - b) ** 2 for a, b in zip(qv, c)), i) for i, c in enumerate(cents)
    ]
    probe = [i for _, i in sorted(dists)[: max(1, min(nprobe, len(cents)))]]
    # both predicates land on partition columns: an uncommitted (crashed)
    # batch is never listed into the scan, and only nprobe cells are read
    codes = (
        spark.read.parquet(f"{path}/codes")
        .where(F.col("batch").isin(committed))
        .where(F.col("cell").isin(*probe))
    )

    def adc(kk):
        if residual:
            return _pq_topk_residual(
                codes, books, cents, probe, qv, kk, exclude_id, id_col
            )
        return pq_topk(codes, books, qv, kk, exclude_id, id_col)

    if refine is None:
        return adc(k)
    if vectors is None:
        vectors = (
            spark.read.parquet(f"{path}/vectors")
            .where(F.col("batch").isin(committed))
            .where(F.col("cell").isin(*probe))
        )
    return pq_topk_rerank(
        codes, vectors, books, qv, k, refine, exclude_id, id_col, vec_col,
        shortlist=adc(k * refine).select(id_col),
    )


