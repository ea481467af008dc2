"""Sharded-centroid assignment (the built successor past the IVF broadcast
cap — round-4 verdict #8's design note): probe-all equals the broadcast
assigner, smaller probes trade recall, shards stay bounded, and the layout
is the grp-partitioned directory the per-task loader expects."""

import numpy as np
import pytest

from tmframe_spark.vec import similarity as S
from tmframe_spark.vec.similarity import (
    ivf_assign_broadcast,
    ivf_assign_sharded,
    ivf_shard_centroids,
    ivf_train,
)


def _corpus(spark, n=300, dim=16, seed=11):
    rng = np.random.default_rng(seed)
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _cent_df(spark, cents):
    return spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, centroid array<double>",
    )


def _amap(df):
    return {r["vec_id"]: r["cell"] for r in df.select("vec_id", "cell").collect()}


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """One trained quantizer + sharded index shared by the read-only tests."""
    emb = _corpus(spark)
    cents = ivf_train(emb, nlist=24, iters=2)
    path = str(tmp_path_factory.mktemp("ivf_sharded") / "idx")
    coarse = ivf_shard_centroids(_cent_df(spark, cents), path, n_coarse=5)
    return emb, cents, path, coarse


def test_probe_all_equals_broadcast_assignment(built):
    # probing every coarse group must reproduce the broadcast argmin exactly
    # (random gaussian corpus: argmin margins are astronomically larger than
    # any summation-order ulp — the ivf_train_distributed twin argument)
    emb, cents, path, coarse = built
    ref = _amap(ivf_assign_broadcast(emb, cents))
    got = _amap(ivf_assign_sharded(emb, path, p_probe=len(coarse)))
    assert got == ref


def test_small_probe_trades_recall_not_coverage(built):
    emb, cents, path, _ = built
    ref = _amap(ivf_assign_broadcast(emb, cents))
    got = _amap(ivf_assign_sharded(emb, path, p_probe=2))
    # every vector is assigned exactly once, to a real cell
    assert set(got) == set(ref)
    assert set(got.values()) <= set(range(len(cents)))
    agree = sum(got[k] == ref[k] for k in ref) / len(ref)
    assert agree >= 0.8, f"p_probe=2 agreement {agree:.2f}"


def test_assignment_independent_of_input_partitioning(built):
    emb, _, path, _ = built
    a = _amap(ivf_assign_sharded(emb.repartition(3), path, p_probe=2))
    b = _amap(ivf_assign_sharded(emb.repartition(13), path, p_probe=2))
    assert a == b


def test_schema_preserved_plus_cell(built):
    emb, _, path, _ = built
    out = ivf_assign_sharded(emb, path, p_probe=1)
    assert [f.name for f in out.schema.fields] == ["vec_id", "embedding", "cell"]
    assert out.count() == emb.count()


def test_centroid_vectors_assign_to_their_own_cell(spark, built, tmp_path):
    # a vector EQUAL to a stored centroid has distance 0 to its own cell —
    # even a single-probe assignment must route it home (its coarse group IS
    # the group holding that centroid)
    _, cents, path, _ = built
    probe_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "vec_id long, embedding array<float>",
    )
    got = _amap(ivf_assign_sharded(probe_df, path, p_probe=1))
    assert got == {i: i for i in range(len(cents))}


def test_hot_shard_cap_raises(spark, tmp_path, monkeypatch):
    # cap between the coarse matrix (2 groups x 16 dim = 32 elements) and
    # the hottest shard (>= ceil(8/2) = 4 cells x 16 = 64): the tiny coarse
    # broadcast still fits, the shard bound trips
    emb = _corpus(spark, n=40)
    cents = ivf_train(emb, nlist=8, iters=1)
    monkeypatch.setattr(S, "IVF_BROADCAST_CELL_CAP", 40)
    with pytest.raises(ValueError, match="per-shard cap"):
        ivf_shard_centroids(_cent_df(spark, cents), str(tmp_path / "idx"), n_coarse=2)


def test_index_layout_and_loader_lru(built):
    import os

    _, _, path, coarse = built
    grp_dirs = sorted(
        d for d in os.listdir(f"{path}/cells") if d.startswith("grp=")
    )
    assert grp_dirs, "expected grp= partition directories"
    assert os.path.exists(f"{path}/coarse")
    # the per-worker loader: sorted cells (ties -> lowest id) and a bounded
    # cache no matter how many groups one task touches
    S._shard_cache.clear()
    for d in grp_dirs:
        cells, Cm = S._load_shard(path, int(d.split("=")[1]))
        assert list(cells) == sorted(cells)
        assert Cm.shape == (len(cells), 16) and Cm.dtype == np.float64
    assert len(S._shard_cache) <= S.IVF_SHARD_CACHE_SHARDS


def test_empty_input(spark, built):
    _, _, path, _ = built
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert ivf_assign_sharded(empty, path).count() == 0


# --- round-5 advice fixes --------------------------------------------------


def test_dead_coarse_groups_dropped_and_renumbered(spark, tmp_path):
    # duplicate 1-dim centroids make ivf_train's coarse quantizer carry a
    # never-winning init cell: init coarse = [0],[0],[10]; every fine row
    # ties to the LOWEST group, so group 1 owns zero fine centroids. Before
    # the fix the probe stage could argsort a vector into the dead group and
    # _load_shard crashed on the missing cells/grp=1 directory.
    cdf = spark.createDataFrame(
        [(0, [0.0]), (1, [0.0]), (2, [10.0]), (3, [10.0])],
        "cell int, centroid array<double>",
    )
    path = str(tmp_path / "idx")
    coarse = ivf_shard_centroids(cdf, path, n_coarse=3)
    # the written coarse matrix holds only LIVE groups, contiguously numbered
    assert len(coarse) == 2
    import os

    grp_dirs = sorted(d for d in os.listdir(f"{path}/cells") if d.startswith("grp="))
    assert grp_dirs == ["grp=0", "grp=1"]
    # a probe wider than the live groups (this would have crashed pre-fix)
    emb = spark.createDataFrame(
        [(100, [0.0]), (101, [10.0])], "vec_id long, embedding array<float>"
    )
    got = _amap(ivf_assign_sharded(emb, path, p_probe=3))
    assert got == {100: 0, 101: 2}  # argmin ties -> lowest fine cell


def test_rebuild_at_same_path_invalidates_worker_shard_cache(spark, tmp_path):
    # python workers are REUSED across Spark jobs: before the per-build
    # token, rebuilding an index at the same path served the FIRST build's
    # shards from the task-side LRU (the CLAUDE.md task-cache trap).
    path = str(tmp_path / "idx")
    emb = spark.createDataFrame(
        [(i, [0.0]) for i in range(40)], "vec_id long, embedding array<float>"
    )
    a = spark.createDataFrame(
        [(0, [0.0]), (1, [10.0])], "cell int, centroid array<double>"
    )
    ivf_shard_centroids(a, path, n_coarse=1)
    got_a = _amap(ivf_assign_sharded(emb, path, p_probe=1))
    assert set(got_a.values()) == {0}
    # rebuild at the SAME path with the cells' values swapped
    b = spark.createDataFrame(
        [(0, [10.0]), (1, [0.0])], "cell int, centroid array<double>"
    )
    ivf_shard_centroids(b, path, n_coarse=1)
    got_b = _amap(ivf_assign_sharded(emb, path, p_probe=1))
    assert set(got_b.values()) == {1}, "stale shard served after rebuild"
