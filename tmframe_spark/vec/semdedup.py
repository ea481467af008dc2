"""SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup: Data-
efficient learning at web-scale through semantic deduplication", 2023 —
public): cluster embeddings with the deterministic IVF k-means quantizer,
compare pairs ONLY within a cluster, link pairs above a cosine threshold
into connected components, and keep one canonical (lowest-id) member per
component.

This is the cluster-route to embedding near-dup detection; the hyperplane
route is vec/similarity.embedding_near_dup_lsh. Both end in the same
exact fixed-point cosine verification — they differ in HOW candidate
pairs are generated (Voronoi cells vs LSH buckets). SemDeDup's virtue is
that the cluster structure is reusable (the same quantizer serves IVF
ANN); its cost is the classic O(sum cell_i^2) in-cluster pair space,
which is why the cell-size cap below is a hard error, not advice.

Scale shape (100 TB posture): train once (driver-capped or distributed
trainer, routed by vec/similarity._ivf_quantize — the same rule the
persisted IVF+PQ index build uses); assignment is one codegen/matmul
pass; the pair self-join shuffles keyed by cell and never crosses cells;
component folding is the alternating-star algorithm (text/dedup.
dedup_clusters) whose shuffles are edge-sized. Skewed cells are refused
past ``cell_rows_cap`` with the honest remediations (raise nlist, or
switch to the LSH route whose buckets are balance-free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tmframe_spark.vec.similarity import _ivf_quantize, _qdot, _qnorm2

#: refuse the in-cell pairwise join past this many rows in ONE cell — the
#: O(cell^2) pair space is SemDeDup's designed cost and must stay visible;
#: a hot cell at corpus scale means nlist is too small for the corpus.
SEMDEDUP_CELL_ROWS_CAP = 100_000


def semantic_pairs(
    embeddings: DataFrame,
    centroids=None,
    nlist: int = 16,
    iters: int = 3,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_rows_cap: int = SEMDEDUP_CELL_ROWS_CAP,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, cosine >= threshold) generated
    within k-means cells only. ``centroids`` reuses an existing quantizer
    (e.g. the one backing an IVF index); otherwise one is trained here with
    the deterministic fixed-point rule (``_ivf_quantize``: distributed
    trainer past the driver cap). Cosines are the repo's exact fixed-point
    integers — one IEEE division per pair, partitioning-independent."""
    first = embeddings.select(vec_col).limit(1).collect()
    dim = len(first[0][0]) if first and first[0][0] is not None else 0
    if dim == 0:
        return embeddings.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    _, assigned = _ivf_quantize(
        embeddings, dim, nlist, iters, id_col, vec_col, centroids
    )
    hot = (
        assigned.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > cell_rows_cap)
        .orderBy(F.col("n").desc())
        .limit(1)
        .collect()
    )
    if hot:
        raise ValueError(
            f"semantic_pairs: cell {hot[0]['cell']} holds {hot[0]['n']} rows "
            f"> cell_rows_cap={cell_rows_cap}; the in-cell pair join is "
            f"O(cell^2) — raise nlist (finer cells) or use "
            f"embedding_near_dup_lsh"
        )
    side = assigned.select(
        "cell",
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        _qnorm2(F.col(vec_col)).alias("_n2"),
    )
    a, b = side.alias("a"), side.alias("b")
    return (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            (
                _qdot(F.col("a._v"), F.col("b._v"))
                / F.sqrt(F.col("a._n2").cast("double") * F.col("b._n2").cast("double"))
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    embeddings: DataFrame,
    centroids=None,
    nlist: int = 16,
    iters: int = 3,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_rows_cap: int = SEMDEDUP_CELL_ROWS_CAP,
) -> DataFrame:
    """Prune semantic near-duplicates: fold ``semantic_pairs`` into
    connected components (alternating large/small-star) and keep the
    lowest-id member of each — the SemDeDup keep-one policy. Returns the
    surviving embedding rows unchanged; anti-join by id, so the pruned
    output never reshuffles the vector payload."""
    from tmframe_spark.text.dedup import dedup_clusters

    pairs = semantic_pairs(
        embeddings, centroids, nlist, iters, threshold, id_col, vec_col, cell_rows_cap
    )
    clusters = dedup_clusters(pairs.select("id_a", "id_b"))
    drop = clusters.where(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return embeddings.join(drop, id_col, "left_anti")
