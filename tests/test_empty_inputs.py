"""Empty-input robustness: every operator must degrade to empty output (or
InPast status) without errors — the behavior a partition-pruned or fully
filtered input produces at scale."""

from pyspark.sql import functions as F

from tmframe_spark.codec.udfs import pack_blocks, pack_rollup_blocks, unpack_blocks
from tmframe_spark.ops.asof import asof_join
from tmframe_spark.ops.dedup import count_window_dedup
from tmframe_spark.ops.merge import with_stable_pos
from tmframe_spark.ops.rollup import cascade_up, gap_fill, rollup, with_ts_ns


def test_empty_inputs_all_operators(spark):
    empty = spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp_ntz"
    )
    e = with_ts_ns(empty)
    m = rollup(e, "1m")
    assert m.count() == 0
    assert gap_fill(m, "1m").count() == 0
    assert cascade_up(m, "1h").count() == 0
    assert pack_rollup_blocks(m, "1m", "day").count() == 0
    pts = m.select(
        "conv_id", F.lit("x").alias("grp"), F.lit(0).cast("long").alias("ts_ns"),
        F.lit(0.0).alias("v0"), F.lit(0).cast("long").alias("v1"),
    )
    blk = pack_blocks(pts, ["conv_id", "grp"], v0="v0", v1="v1")
    assert blk.count() == 0
    assert unpack_blocks(blk, ["conv_id", "grp"], v0="v0", v1="v1").count() == 0
    assert count_window_dedup(e, 5, ["conv_id"], ["ts_ns", "turn_idx"], ["text"]).count() == 0

    probe = spark.createDataFrame([], "k long, ts long, pid long")
    build = spark.createDataFrame([], "k long, ts long, idx long")
    assert asof_join(probe, build, on="ts", by=["k"], seq="idx", value_cols=[]).count() == 0
    assert with_stable_pos(build, ["ts", "idx"]).count() == 0

    # probes against an EMPTY build side: all InPast, never an error
    p2 = spark.createDataFrame([(1, 20, 0)], "k long, ts long, pid long")
    out = asof_join(p2, build, on="ts", by=["k"], seq="idx", value_cols=[]).collect()
    assert len(out) == 1 and out[0]["status"] == "InPast"


def test_empty_inputs_round2_operators(spark):
    from tmframe_spark.codec.udfs import (
        decode_msgpack_frames,
        frame_mixed_fixture,
        frame_msgpack_turns,
    )
    from tmframe_spark.ops.display import display_frames
    from tmframe_spark.text.dedup import (
        jaccard_pairs_capped,
        minhash_lsh_pairs,
        simhash64,
    )
    from tmframe_spark.vec.multimodal import extract_features
    from tmframe_spark.vec.similarity import embedding_near_dup_lsh

    empty_t = with_ts_ns(
        spark.createDataFrame(
            [],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp_ntz",
        )
    )
    assert display_frames(frame_mixed_fixture(empty_t)).count() == 0
    assert decode_msgpack_frames(frame_msgpack_turns(empty_t)).count() == 0

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert simhash64(empty_docs, "doc_id").count() == 0
    assert minhash_lsh_pairs(empty_docs, "doc_id").count() == 0
    pairs, stats = jaccard_pairs_capped(empty_docs, "doc_id")
    assert pairs.count() == 0 and stats.collect()[0]["total_tokens"] == 0

    empty_media = spark.createDataFrame(
        [], "media_id long, kind string, payload binary"
    )
    assert extract_features(empty_media).count() == 0

    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert embedding_near_dup_lsh(empty_emb).count() == 0


def test_empty_inputs_round3_serving_operators(spark):
    """Round-3 serving/lifecycle ops on empty inputs: empty archives serve
    empty ranges, as-of probes report InPast, tiered reads return the
    empty union — never an error."""
    from tmframe_spark.ops.retention import read_tiered
    from tmframe_spark.ops.serve import blocks_overlapping, serve_asof, serve_range

    blocks = spark.createDataFrame(
        [],
        "conv_id string, day string, n_points long, ts_first long, "
        "ts_last long, raw_nbytes long, frame binary",
    )
    assert blocks_overlapping(blocks, 0, 10).count() == 0
    assert serve_range(blocks, ["conv_id", "day"], 0, 10).count() == 0

    probes = spark.createDataFrame([("c", 100)], "conv_id string, ts_ns long")
    out = serve_asof(blocks, ["conv_id", "day"], ["conv_id"], probes).collect()
    assert len(out) == 1 and out[0]["status"] == "InPast"
    assert out[0]["m_ts_ns"] is None

    tier = spark.createDataFrame([], "conv_id string, bucket timestamp, turns long")
    t = read_tiered(
        {"1m": tier, "1h": tier, "1d": tier},
        F.lit("2024-03-01"),
        policy={"1m": 7, "1h": 21, "1d": None},
    )
    assert t.count() == 0 and "tier" in t.columns


def test_empty_inputs_round5_operators(spark):
    from tmframe_spark.ops.rollup import (
        cascade_distinct_up,
        rollup_distinct_sketch,
    )
    from tmframe_spark.text.dedup import (
        dedup_clusters,
        dedup_keep_canonical,
        estimate_capped_tokens,
    )
    from tmframe_spark.vec.similarity import ivf_mstep

    empty_t = with_ts_ns(
        spark.createDataFrame(
            [],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp_ntz",
        )
    )
    # distinct-sketch tiers
    m = rollup_distinct_sketch(empty_t, "1m")
    assert m.count() == 0
    assert cascade_distinct_up(m, "1h").count() == 0
    # custom fixed-step tier through rollup + pack
    r5 = rollup(empty_t, "5m")
    assert r5.count() == 0
    assert gap_fill(r5, "5m").count() == 0
    assert pack_rollup_blocks(r5, "5m", "day").count() == 0
    # clustering + canonical keep + pre-check
    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup_clusters(empty_pairs).count() == 0
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert dedup_keep_canonical(empty_docs, empty_pairs, "doc_id").count() == 0
    est = estimate_capped_tokens(empty_docs, "doc_id").collect()[0]
    assert est["total_tokens"] == 0 and (est["capped_tokens"] or 0) == 0
    # M-step over an empty assignment: zero cells, never an error
    empty_vec = spark.createDataFrame(
        [], "vec_id long, cell int, embedding array<float>"
    )
    assert ivf_mstep(empty_vec).count() == 0


def test_empty_inputs_histogram_and_spans(spark):
    from tmframe_spark.ops.rollup import (
        cascade_histogram_up,
        histogram_quantile,
        rollup_histogram,
    )
    from tmframe_spark.text.dedup import duplicate_span_stats

    empty_t = with_ts_ns(
        spark.createDataFrame(
            [],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp_ntz",
        )
    )
    m = rollup_histogram(empty_t, "1m")
    assert m.count() == 0
    h = cascade_histogram_up(m, "1h")
    assert histogram_quantile(h, 95, 100).count() == 0

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert duplicate_span_stats(empty_docs, "doc_id").count() == 0


def test_empty_inputs_anomaly_topk_and_removal(spark):
    from tmframe_spark.ops.anomaly import level_shifts, robust_anomalies
    from tmframe_spark.ops.rollup import cascade_topk_up, rollup_topk_sketch
    from tmframe_spark.text.dedup import remove_duplicate_spans

    rolled = spark.createDataFrame([], "conv_id string, bucket timestamp, turns long")
    assert robust_anomalies(rolled).count() == 0
    assert level_shifts(rolled).count() == 0

    turns = spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    sk = rollup_topk_sketch(turns, "1h", "conv_id", k=4)
    assert sk.count() == 0
    assert cascade_topk_up(sk, "1d", k=4).count() == 0

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert remove_duplicate_spans(docs, "doc_id").count() == 0


def test_empty_inputs_round6_operators(spark):
    from tmframe_spark.text.analysis import chunk_documents
    from tmframe_spark.vec.embed import hash_embed

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert chunk_documents(docs, chunk_tokens=8, stride=4).count() == 0
    assert hash_embed(docs, dim=16).count() == 0
