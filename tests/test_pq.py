"""Product quantization (vec/pq.py): exactness when reconstruction is
lossless, recall vs the exact cosine baseline on the driver embeddings,
persisted IVF+PQ index parity, determinism, and geometry validation."""

import numpy as np
import pytest
from tests.conftest import SF_DIR
from tmframe_spark.vec.pq import pq_encode, pq_topk, pq_train
from tmframe_spark.vec.similarity import cosine_topk


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").persist()


def _rows(df):
    return [(r["vec_id"], r["cosine"]) for r in df.collect()]


def _grid_corpus(spark, n=64, m=2, dsub=4, ksub=4):
    """Vectors whose subvectors come from a small value set on the 2^-20
    fixed-point grid (multiples of 1/16 — exact in float32, float64 AND the
    codec's floor(x*2^20) space), ordered so the first ksub rows give each
    subspace ksub distinct init points. k-means then converges to ZERO
    distortion: every vector equals its PQ reconstruction exactly."""
    def sub(val, base):
        return [(val + 1 + d) / 16.0 + base for d in range(dsub)]

    rows = []
    for i in range(n):
        # Latin-square cover: the first ksub rows hit ksub DISTINCT values
        # in BOTH subspaces, so the lowest-id init seeds every cell
        a, b = i % ksub, (i + i // ksub) % ksub
        rows.append((i, [float(np.float32(x)) for x in sub(a, 0.0) + sub(b, 1.0)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_exact_on_codebook_points(spark):
    """Zero-distortion corpus: the ADC score path must reproduce the exact
    fixed-point cosine BIT-FOR-BIT (the per-subspace lookup values
    partition the full-vector integer dot product)."""
    df = _grid_corpus(spark)
    books = pq_train(df, m=2, ksub=4, iters=3)
    # codebooks recovered the grid exactly -> reconstruction is lossless
    codes = pq_encode(df, books)
    qv = df.where("vec_id = 0").collect()[0]["embedding"]
    got = _rows(pq_topk(codes, books, qv, k=10, exclude_id=0))
    exact = _rows(cosine_topk(df, query_id=0, k=10))
    assert got == exact  # ids AND float-bit-identical cosines


def test_pq_recall_on_driver_corpus(emb):
    """Lossy regime: recall@10 vs exact cosine on the driver embeddings —
    m=16 one-byte codes over 64 float32 dims (16x compression). The driver
    corpus is near-random (the hard case for PQ: no cluster structure to
    absorb distortion); measured recall across geometries: m=8/ksub=16
    0.34, m=16/ksub=64 0.58, m=16/ksub=256 0.86 (5 queries, this corpus).
    The bound pins the chosen operating point with headroom."""
    books = pq_train(emb, m=16, ksub=256, iters=3)
    codes = pq_encode(emb, books).persist()
    recalls = []
    for qid in (0, 7, 42, 100, 250):
        qv = emb.where(f"vec_id = {qid}").collect()[0]["embedding"]
        exact = {r[0] for r in _rows(cosine_topk(emb, query_id=qid, k=10))}
        approx = {
            r[0] for r in _rows(pq_topk(codes, books, qv, k=10, exclude_id=qid))
        }
        recalls.append(len(exact & approx) / len(exact))
    codes.unpersist()
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_pq_codes_are_m_bytes_and_training_deterministic(emb):
    books1 = pq_train(emb, m=8, ksub=16, iters=2)
    books2 = pq_train(emb, m=8, ksub=16, iters=2)
    assert books1 == books2  # fixed-point means -> bit-stable retraining
    lens = (
        pq_encode(emb, books1)
        .select("code")
        .toPandas()["code"]
        .map(len)
        .unique()
        .tolist()
    )
    assert lens == [8]


def test_pq_geometry_validation(spark, emb):
    with pytest.raises(ValueError, match="equal subspaces"):
        pq_train(emb, m=7)
    with pytest.raises(ValueError, match="one byte"):
        pq_train(emb, m=8, ksub=300)
    with pytest.raises(ValueError, match="cap"):
        pq_train(emb, m=8, sample_cap=1 << 30)
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="non-null vector"):
        pq_train(empty, m=8)
    books = pq_train(emb, m=8, ksub=16, iters=1)
    assert pq_encode(empty, books).count() == 0
    assert pq_topk(pq_encode(empty, books), books, [0.0] * 64, k=5).count() == 0


# --- ADC shortlist + exact re-rank (round-6; Jégou et al. IV.RE-RANKING) ---


def test_pq_rerank_bit_equals_exact_scan(emb, spark):
    # refine wide enough that the true top-10 survive the ADC shortlist =>
    # the re-ranked result is BIT-identical to the exact cosine_topk scan
    # (same integer dot, same single IEEE division, same tiebreak)
    from tmframe_spark.vec.pq import pq_topk_rerank
    from tmframe_spark.vec.similarity import cosine_topk

    books = pq_train(emb, m=8, ksub=16, iters=2)
    codes = pq_encode(emb, books)
    qv = [float(x) for x in emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]]
    exact = [
        (r["vec_id"], r["cosine"])
        for r in cosine_topk(emb, query_id=0, k=10).collect()
    ]
    n = emb.count()
    wide = pq_topk_rerank(
        codes, emb, books, qv, k=10, refine=(n + 9) // 10, exclude_id=0
    )
    got = [(r["vec_id"], r["cosine"]) for r in wide.collect()]
    assert got == exact  # bit-identical scores, not approximately


def test_pq_rerank_recall_dominates_raw_adc(emb):
    # at practical refine the re-rank can only improve on raw ADC ranking:
    # recall@10 vs exact must be >= the raw pq_topk recall on every
    # geometry the raw-recall test measures (and the planted bound holds)
    from tmframe_spark.vec.pq import pq_topk_rerank
    from tmframe_spark.vec.similarity import cosine_topk

    qv = [float(x) for x in emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]]
    exact = {r["vec_id"] for r in cosine_topk(emb, query_id=0, k=10).collect()}
    for m, ksub in [(8, 16), (16, 64)]:
        books = pq_train(emb, m=m, ksub=ksub, iters=2)
        codes = pq_encode(emb, books)
        raw = {
            r["vec_id"]
            for r in pq_topk(codes, books, qv, k=10, exclude_id=0).collect()
        }
        rr = {
            r["vec_id"]
            for r in pq_topk_rerank(
                codes, emb, books, qv, k=10, refine=4, exclude_id=0
            ).collect()
        }
        r_raw = len(exact & raw) / 10
        r_rr = len(exact & rr) / 10
        assert r_rr >= r_raw, (m, ksub, r_rr, r_raw)
        # wider shortlist -> strictly better floor (measured at sf0.001:
        # raw 0.2/0.4 -> refine=4 0.5/1.0 -> refine=8 0.9/1.0)
        rr8 = {
            r["vec_id"]
            for r in pq_topk_rerank(
                codes, emb, books, qv, k=10, refine=8, exclude_id=0
            ).collect()
        }
        assert len(exact & rr8) / 10 >= 0.8, (m, ksub, len(exact & rr8) / 10)


def test_pq_rerank_validates_refine(emb):
    from tmframe_spark.vec.pq import pq_topk_rerank

    books = pq_train(emb, m=8, ksub=16, iters=1)
    codes = pq_encode(emb, books)
    with pytest.raises(ValueError, match="refine"):
        pq_topk_rerank(codes, emb, books, [0.0] * 64, refine=0)


# --- persisted IVF+PQ index (round-6; FAISS IVFADC layout) -----------------


def test_ivfpq_probe_all_bit_equals_flat_pq(emb, tmp_path, spark):
    # probing every cell reduces the two-level index to the flat PQ scan —
    # the composition must change NOTHING about scoring (bit-compare)
    from tmframe_spark.vec.pq import (
        ivfpq_build_index,
        ivfpq_load_meta,
        ivfpq_topk_from_index,
    )

    path = str(tmp_path / "ivfpq")
    cents, books = ivfpq_build_index(emb, path, nlist=8, m=8, ksub=16, iters=2)
    lc, lb = ivfpq_load_meta(spark, path)
    assert lc == [[float(x) for x in c] for c in cents] and lb == books
    qv = [float(x) for x in emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]]
    flat = _rows(pq_topk(pq_encode(emb, books), books, qv, k=10, exclude_id=0))
    served = _rows(
        ivfpq_topk_from_index(spark, path, qv, k=10, nprobe=8, exclude_id=0)
    )
    assert served == flat


def test_ivfpq_pruned_serving_hits_partition_filters(emb, tmp_path, spark):
    from tmframe_spark.vec.pq import ivfpq_build_index, ivfpq_topk_from_index

    path = str(tmp_path / "ivfpq")
    ivfpq_build_index(emb, path, nlist=8, m=8, ksub=16, iters=2)
    qv = [float(x) for x in emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]]
    served = ivfpq_topk_from_index(spark, path, qv, k=10, nprobe=2, exclude_id=0)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    seg = plan.split("PartitionFilters", 1)[1][:300]
    assert "cell" in seg, seg
    got = served.collect()
    assert len(got) == 10
    cs = [r["cosine"] for r in got]
    assert cs == sorted(cs, reverse=True)


def test_ivfpq_refine_probe_all_bit_equals_exact_scan(emb, tmp_path, spark):
    # probe-all + wide refine, re-ranking against the index's OWN stored
    # vectors (IVFADC-R): bit-identical to the exact cosine_topk scan
    from tmframe_spark.vec.pq import ivfpq_build_index, ivfpq_topk_from_index
    from tmframe_spark.vec.similarity import cosine_topk

    path = str(tmp_path / "ivfpq")
    ivfpq_build_index(
        emb, path, nlist=8, m=8, ksub=16, iters=2, store_vectors=True
    )
    qv = [float(x) for x in emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]]
    n = emb.count()
    exact = [
        (r["vec_id"], r["cosine"]) for r in cosine_topk(emb, 0, k=10).collect()
    ]
    served = ivfpq_topk_from_index(
        spark, path, qv, k=10, nprobe=8, refine=(n + 9) // 10, exclude_id=0
    )
    assert [(r["vec_id"], r["cosine"]) for r in served.collect()] == exact


# --- residual encoding (round-6; true IVFADC, Jégou et al. §IV.A) ----------


def test_ivfpq_residual_zero_residual_bit_equals_exact(spark, tmp_path):
    # every vector sits ON a grid point that becomes its own IVF centroid
    # exactly (on-grid fixed-point means), so residuals are all zero, the
    # residual codebooks are all zero, and the per-cell reconstruction
    # score reduces to the exact fixed-point cosine of the vector itself —
    # served results must be BIT-identical to cosine_topk
    from tests.test_pq import _grid_corpus
    from tmframe_spark.vec.pq import (
        ivfpq_build_index,
        ivfpq_read_meta,
        ivfpq_topk_from_index,
    )

    df = _grid_corpus(spark, n=64, m=2, dsub=4, ksub=4)
    path = str(tmp_path / "ivfpq_res")
    ivfpq_build_index(df, path, nlist=16, m=2, ksub=4, iters=3, residual=True)
    assert ivfpq_read_meta(path)["residual"] is True
    exact = _rows(cosine_topk(df, query_id=0, k=10))
    served = _rows(
        ivfpq_topk_from_index(spark, path, 
                              [float(x) for x in df.where("vec_id = 0").collect()[0]["embedding"]],
                              k=10, nprobe=16, exclude_id=0)
    )
    assert served == exact  # ids AND float-bit-identical cosines


def test_ivfpq_residual_refine_probe_all_equals_exact_scan(emb, tmp_path, spark):
    from tmframe_spark.vec.pq import ivfpq_build_index, ivfpq_topk_from_index
    from tmframe_spark.vec.similarity import cosine_topk as _ct

    path = str(tmp_path / "ivfpq_res")
    ivfpq_build_index(
        emb, path, nlist=8, m=8, ksub=16, iters=2, residual=True,
        store_vectors=True,
    )
    qv = [float(x) for x in emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]]
    n = emb.count()
    exact = [(r["vec_id"], r["cosine"]) for r in _ct(emb, 0, k=10).collect()]
    served = ivfpq_topk_from_index(
        spark, path, qv, k=10, nprobe=8, refine=(n + 9) // 10, exclude_id=0
    )
    assert [(r["vec_id"], r["cosine"]) for r in served.collect()] == exact


def test_ivfpq_residual_adc_recall_not_worse_than_plain(emb, tmp_path, spark):
    # same geometry, same probes: the residual codes spend their bits on
    # the within-cell detail, so raw-ADC recall must not degrade (measured
    # on this corpus: residual strictly better; assert no-worse to stay
    # robust across sf)
    from tmframe_spark.vec.pq import ivfpq_build_index, ivfpq_topk_from_index
    from tmframe_spark.vec.similarity import cosine_topk as _ct

    qv = [float(x) for x in emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]]
    exact = {r["vec_id"] for r in _ct(emb, 0, k=10).collect()}
    got = {}
    for name, res in (("plain", False), ("residual", True)):
        path = str(tmp_path / f"ivfpq_{name}")
        ivfpq_build_index(emb, path, nlist=8, m=8, ksub=16, iters=2, residual=res)
        ids = {
            r["vec_id"]
            for r in ivfpq_topk_from_index(
                spark, path, qv, k=10, nprobe=8, exclude_id=0
            ).collect()
        }
        got[name] = len(exact & ids) / 10
    assert got["residual"] >= got["plain"], got


# --- incremental append (round-6; the nightly-embedding-ingest form) -------


def test_ivfpq_append_serves_like_single_build(emb, tmp_path, spark):
    # base index on the low-id half, the rest appended with the FROZEN
    # quantizers: probe-all serving == the flat pq_topk over ALL vectors
    # encoded with the base books (append changes nothing about scoring)
    from tmframe_spark.vec.pq import (
        ivfpq_append,
        ivfpq_build_index,
        ivfpq_load_meta,
        ivfpq_topk_from_index,
    )

    base = emb.where("vec_id < 300")
    rest = emb.where("vec_id >= 300")
    path = str(tmp_path / "ivfpq")
    ivfpq_build_index(base, path, nlist=8, m=8, ksub=16, iters=2)
    meta = ivfpq_append(rest, path)
    assert len(meta["batches"]) == 2
    _, books = ivfpq_load_meta(spark, path)
    qv = [float(x) for x in emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]]
    flat = _rows(pq_topk(pq_encode(emb, books), books, qv, k=10, exclude_id=0))
    served = _rows(
        ivfpq_topk_from_index(spark, path, qv, k=10, nprobe=8, exclude_id=0)
    )
    assert served == flat
    # appended ids actually serve
    assert any(i >= 300 for i, _ in served) or all(i < 300 for i, _ in flat)


def test_ivfpq_append_crash_and_replay_semantics(emb, tmp_path, spark):
    import json
    import os

    from tmframe_spark.vec.pq import (
        ivfpq_append,
        ivfpq_build_index,
        ivfpq_read_meta,
        ivfpq_topk_from_index,
        ivfpq_vacuum,
    )

    base = emb.where("vec_id < 400")
    rest = emb.where("vec_id >= 400").localCheckpoint(eager=True)
    n_rest = rest.count()
    path = str(tmp_path / "ivfpq")
    ivfpq_build_index(emb.where("vec_id < 400"), path, nlist=4, m=8, ksub=16,
                      iters=1, residual=True, store_vectors=True)
    qv = [float(x) for x in emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]]
    before = _rows(ivfpq_topk_from_index(spark, path, qv, k=10, nprobe=4,
                                         exclude_id=0))

    ivfpq_append(rest, path, batch="tok1")
    # committed replay: exactly-once no-op
    meta1 = ivfpq_read_meta(path)
    assert ivfpq_append(rest, path, batch="tok1")["batches"] == meta1["batches"]

    # simulated crash: un-commit the token (tables written, fence "lost")
    crashed = dict(meta1, batches=[b for b in meta1["batches"] if b != "tok1"])
    tmp = os.path.join(path, "meta.json")
    json.dump(crashed, open(tmp, "w"))
    # serving must answer exactly as before the append (committed filter)
    assert _rows(ivfpq_topk_from_index(spark, path, qv, k=10, nprobe=4,
                                       exclude_id=0)) == before
    # retried append with the SAME token: vacuum + re-write, ONE copy
    ivfpq_append(rest, path, batch="tok1")
    codes = spark.read.parquet(os.path.join(path, "codes"))
    assert codes.where("batch = 'tok1'").count() == n_rest
    assert len(ivfpq_read_meta(path)["batches"]) == 2
    # vacuum with everything committed removes nothing
    assert ivfpq_vacuum(path) == []


# --- coarse-trainer routing (one rule for every IVF builder) ---------------


def test_ivfpq_past_driver_cap_build_serves_like_default(spark, tmp_path, monkeypatch):
    # past IVF_DRIVER_CELL_CAP the build trains with ivf_train_distributed
    # and assigns with the broadcast matrix; the literal trainer raises at
    # this cap (test_ivf_train_cap_raises), so a finished build proves the
    # route was taken. The two routes are pinned bit-identical, so the
    # served rows must match.
    from tmframe_spark.vec import similarity as sim
    from tmframe_spark.vec.pq import ivfpq_build_index, ivfpq_topk_from_index

    rng = np.random.default_rng(17)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qv = rows[0][1]
    geo = dict(nlist=4, m=4, ksub=8, iters=2)
    a, b = str(tmp_path / "default"), str(tmp_path / "past_cap")
    ca, ba = ivfpq_build_index(df, a, **geo)
    monkeypatch.setattr(sim, "IVF_DRIVER_CELL_CAP", 8)
    monkeypatch.setattr(sim, "_IVF_LITERAL_ASSIGN_CAP", 8)
    cb, bb = ivfpq_build_index(df, b, **geo)
    assert [[float(x) for x in c] for c in ca] == [[float(x) for x in c] for c in cb]
    assert ba == bb
    ra = _rows(ivfpq_topk_from_index(spark, a, qv, k=10, nprobe=2, exclude_id=0))
    rb = _rows(ivfpq_topk_from_index(spark, b, qv, k=10, nprobe=2, exclude_id=0))
    assert ra == rb and len(ra) == 10
