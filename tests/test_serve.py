"""Zone-map range serving: prune-before-decode over packed block tables.

The serving contract: ``serve_range`` must return exactly the same points
as decode-everything-then-filter, while the zone-map predicate (a) actually
removes non-overlapping blocks before the decode UDF and (b) reaches the
parquet scan as a pushed filter when the block table is read from storage —
the property that makes a time-range probe on a 100 TB archive touch only
the overlapping blocks' row groups.
"""

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from tmframe_spark.codec.udfs import pack_blocks, unpack_blocks
from tmframe_spark.data.transcripts import load_transcripts
from tmframe_spark.ops.rollup import gap_fill, rollup, with_ts_ns
from tmframe_spark.ops.serve import blocks_overlapping, serve_range


def _blocks(spark):
    t = with_ts_ns(load_transcripts(spark, SF_DIR))
    m = gap_fill(rollup(t, "1h"), "1h")
    pts = m.select(
        "conv_id",
        F.date_trunc("day", "bucket").alias("day"),
        F.expr("(unix_micros(cast(bucket as timestamp)) * 1000) & -8").alias("ts_ns"),
        F.col("token_volume").cast("double").alias("v0"),
        F.col("turns").cast("long").alias("v1"),
    )
    return pack_blocks(pts, ["conv_id", "day"], v0="v0", v1="v1")


def test_serve_range_equals_decode_then_filter(spark):
    blocks = _blocks(spark).localCheckpoint()
    span = blocks.agg(
        F.min("ts_first").alias("lo"), F.max("ts_last").alias("hi")
    ).collect()[0]
    # a mid-archive window ~1/3 wide, deliberately NOT aligned to any block
    lo = int(span["lo"] + (span["hi"] - span["lo"]) // 3 + 12345)
    hi = int(span["hi"] - (span["hi"] - span["lo"]) // 3 + 67)

    got = (
        serve_range(blocks, ["conv_id", "day"], lo, hi, v0="v0", v1="v1")
        .orderBy("conv_id", "ts_ns")
        .toPandas()
    )
    want = (
        unpack_blocks(blocks, ["conv_id", "day"], v0="v0", v1="v1")
        .where((F.col("ts_ns") >= lo) & (F.col("ts_ns") <= hi))
        .orderBy("conv_id", "ts_ns")
        .toPandas()
    )
    assert len(got) > 0
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True)
    )

    # the zone map really pruned: the window excludes at least the first and
    # last day's blocks, so strictly fewer blocks enter the decode
    total = blocks.count()
    survived = blocks_overlapping(blocks, lo, hi).count()
    assert 0 < survived < total


def test_serve_range_boundaries_inclusive_and_empty(spark):
    blocks = _blocks(spark).localCheckpoint()
    row = blocks.orderBy("ts_first").limit(1).collect()[0]
    # probing exactly one stored bound returns that point (inclusive ends)
    one = serve_range(
        blocks, ["conv_id", "day"], int(row["ts_first"]), int(row["ts_first"])
    )
    assert one.where(F.col("conv_id") == row["conv_id"]).count() >= 1
    # a range strictly before the archive decodes nothing
    assert blocks_overlapping(blocks, 0, int(row["ts_first"]) - 1).where(
        F.col("conv_id") == row["conv_id"]
    ).count() == 0
    with pytest.raises(ValueError, match="empty range"):
        blocks_overlapping(blocks, 10, 9)


def test_serve_asof_equals_decode_all_asof(spark):
    """Two-level as-of (metadata seek -> decode one block per probe) must
    return exactly what decode-everything asof_join returns — matched
    timestamp, values, AND SearchStatus — for every strict/tie variant, at
    probe instants before the archive, on block boundaries, unaligned
    mid-archive, and past the end."""
    from tmframe_spark.ops.asof import asof_join
    from tmframe_spark.ops.serve import blocks_for_asof, serve_asof

    blocks = _blocks(spark).localCheckpoint()
    span = blocks.agg(
        F.min("ts_first").alias("lo"), F.max("ts_last").alias("hi")
    ).collect()[0]
    lo, hi = int(span["lo"]), int(span["hi"])
    convs = [r["conv_id"] for r in blocks.select("conv_id").distinct().collect()]
    instants = [
        lo - 1,                      # before every series -> InPast
        lo,                          # exactly the first stored instant
        lo + (hi - lo) // 3 + 12345, # unaligned mid-archive
        lo + 2 * (hi - lo) // 3,
        hi,                          # exactly the last stored instant
        hi + 10**15,                 # far future -> InFuture
    ]
    probes = spark.createDataFrame(
        [(c, t) for c in convs for t in instants], "conv_id string, ts_ns long"
    )
    pts_all = unpack_blocks(blocks, ["conv_id", "day"]).withColumn(
        "_pseq", F.col("ts_ns")
    )
    order = ["conv_id", "ts_ns"]
    for strict in (False, True):
        for tie in ("last", "first"):
            got = (
                serve_asof(
                    blocks, ["conv_id", "day"], ["conv_id"], probes,
                    tie=tie, strict=strict,
                ).orderBy(order).toPandas()
            )
            want = (
                asof_join(
                    probes, pts_all, on="ts_ns", by=["conv_id"], seq="_pseq",
                    value_cols=["v0", "v1"], tie=tie, strict=strict, prefix="m_",
                ).drop("m__pseq").orderBy(order).toPandas()
            )
            pd.testing.assert_frame_equal(
                got[sorted(got.columns)].reset_index(drop=True),
                want[sorted(want.columns)].reset_index(drop=True),
            )
    # the seek really pruned: far fewer blocks decoded than the archive holds
    selected = blocks_for_asof(blocks, ["conv_id"], probes, "ts_ns").count()
    total = blocks.count()
    assert 0 < selected < total
    assert selected <= len(convs) * len(instants)


_prop_cache: dict = {}


def _block_points(spark):
    """One Spark pass: per-block (ts_first, ts_last) spans and the decoded
    point timestamps of each block, keyed by (conv_id, day). Cached so the
    hypothesis examples below are pure Python."""
    if "m" not in _prop_cache:
        blocks = _blocks(spark).localCheckpoint()
        spans = {
            (r["conv_id"], r["day"]): (int(r["ts_first"]), int(r["ts_last"]))
            for r in blocks.select("conv_id", "day", "ts_first", "ts_last").collect()
        }
        pts: dict = {}
        for r in unpack_blocks(blocks, ["conv_id", "day"]).select(
            "conv_id", "day", "ts_ns"
        ).collect():
            pts.setdefault((r["conv_id"], r["day"]), []).append(int(r["ts_ns"]))
        _prop_cache["m"] = (spans, pts)
    return _prop_cache["m"]


@settings(max_examples=300, deadline=None)
@given(data=st.data())
def test_zone_map_predicate_property(spark, data):
    """For arbitrary probe ranges: (a) the zone-map predicate never prunes a
    block holding an in-range point (conservative — serving correctness
    depends on it), and (b) span bounds are exact: each block's stored
    [ts_first, ts_last] equals the min/max of its decoded points, so a
    pruned block provably holds no in-range point."""
    spans, pts = _block_points(spark)
    for k, p in pts.items():
        assert spans[k] == (min(p), max(p))
    all_ts = sorted(t for p in pts.values() for t in p)
    lo = data.draw(st.integers(all_ts[0] - 10**12, all_ts[-1] + 10**12))
    hi = data.draw(st.integers(lo, all_ts[-1] + 10**12))
    for k, (a, b) in spans.items():
        pruned = b < lo or a > hi
        if pruned:
            assert not any(lo <= t <= hi for t in pts[k])


def test_zone_filter_pushes_to_parquet_scan(spark, tmp_path):
    path = str(tmp_path / "blocks")
    _blocks(spark).write.parquet(path)
    stored = spark.read.parquet(path)
    plan = blocks_overlapping(stored, 1_000, 2_000)._jdf.queryExecution().executedPlan().toString()
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed, plan
    assert "ts_last" in pushed[0] and "ts_first" in pushed[0], pushed[0]


_ASOF_VARIANTS = [(strict, tie) for strict in (False, True) for tie in ("last", "first")]


def _sorted_frame(df, order):
    pdf = df.orderBy(order).toPandas()
    return pdf[sorted(pdf.columns)].reset_index(drop=True)


def test_serve_asof_duplicate_timestamps_follow_seq_order(spark):
    """Tied timestamps inside a block: tie='first'/'last' pick the first/last
    stored point of the run, i.e. the lowest/highest arrival seq — the same
    rows asof_join picks over the raw points with seq as the tiebreaker."""
    from tmframe_spark.ops.asof import asof_join
    from tmframe_spark.ops.serve import serve_asof

    pts = spark.createDataFrame(
        [
            ("a", "d1", 1000, 1.0, 1, 0),
            ("a", "d1", 2000, 2.0, 2, 1),
            ("a", "d1", 2000, 3.0, 3, 2),
            ("a", "d1", 2000, 4.0, 4, 3),
            ("a", "d1", 3000, 5.0, 5, 4),
            ("a", "d2", 5000, 6.0, 6, 5),
            ("a", "d2", 5000, 7.0, 7, 6),
        ],
        "conv_id string, day string, ts_ns long, v0 double, v1 long, seq long",
    )
    blocks = pack_blocks(
        pts, ["conv_id", "day"], v0="v0", v1="v1", seq="seq"
    ).localCheckpoint()
    probes = spark.createDataFrame(
        [("a", t) for t in (999, 2000, 2500, 3000, 5000, 6000)],
        "conv_id string, ts_ns long",
    )
    order = ["conv_id", "ts_ns"]
    for strict, tie in _ASOF_VARIANTS:
        got = serve_asof(
            blocks, ["conv_id", "day"], ["conv_id"], probes, tie=tie, strict=strict
        )
        want = asof_join(
            probes, pts, on="ts_ns", by=["conv_id"], seq="seq",
            value_cols=["v0", "v1"], tie=tie, strict=strict, prefix="m_",
        ).drop("m_seq")
        pd.testing.assert_frame_equal(
            _sorted_frame(got, order), _sorted_frame(want, order), obj=f"strict={strict} tie={tie}"
        )


def test_serve_asof_edge_cases_equal_decode_all_asof(spark):
    """A tiny archive whose 3-block series has gaps between its blocks:
    duplicate probe rows, a carried probe column, a probe in a gap, a probe
    on a block's ts_first under strict, probes before/after the series, a
    null series key, an ``on`` column not named ts_ns and ``v1=None`` all
    match decode-everything
    asof_join; and blocks_for_asof picks exactly the expected blocks."""
    from tmframe_spark.ops.asof import asof_join
    from tmframe_spark.ops.serve import blocks_for_asof, serve_asof

    keys = ["conv_id", "day"]
    pts = spark.createDataFrame(
        [
            ("a", "d1", 1000, 1.0), ("a", "d1", 2000, 2.0), ("a", "d1", 3000, 3.0),
            ("a", "d2", 5000, 4.0), ("a", "d2", 6000, 5.0),
            ("a", "d3", 9000, 6.0), ("a", "d3", 9500, 7.0),
            ("b", "d1", 1500, 8.0),
        ],
        "conv_id string, day string, ts_ns long, v0 double",
    )
    blocks = pack_blocks(pts, keys, v0="v0").localCheckpoint()
    probes = spark.createDataFrame(
        [
            ("a", 10, 0),      # before the series -> InPast
            ("a", 1500, 1),
            ("a", 1500, 1),    # duplicate probe row
            ("a", 4000, 2),    # gap between the d1 and d2 blocks
            ("a", 5000, 3),    # d2's ts_first: strict answers from d1
            ("a", 9500, 4),    # last stored instant
            ("a", 99999, 5),   # past the end -> InFuture
            ("b", 1500, 6),    # single-point series
            ("c", 1500, 7),    # series with no blocks -> InPast
            (None, 1500, 8),   # null series key -> InPast
        ],
        "conv_id string, t long, probe_hour long",
    )
    decoded = unpack_blocks(blocks, keys, v0="v0", v1=None).withColumnRenamed(
        "ts_ns", "t"
    )
    order = ["conv_id", "t", "probe_hour"]
    for strict, tie in _ASOF_VARIANTS:
        got = serve_asof(
            blocks, keys, ["conv_id"], probes, on="t", v1=None, tie=tie, strict=strict
        )
        assert got.columns == [
            "conv_id", "t", "probe_hour", "m_t", "m_v0", "status"
        ]
        want = asof_join(
            probes, decoded.withColumn("_seq", F.col("t")), on="t",
            by=["conv_id"], seq="_seq", value_cols=["v0"], tie=tie,
            strict=strict, prefix="m_",
        ).drop("m__seq")
        pd.testing.assert_frame_equal(
            _sorted_frame(got, order), _sorted_frame(want, order), obj=f"strict={strict} tie={tie}"
        )

    # a missing v1 stream reads as 0, like unpack_blocks
    filled = serve_asof(blocks, keys, ["conv_id"], probes, on="t").where(
        F.col("m_t").isNotNull()
    )
    assert filled.schema["m_v1"].dataType.simpleString() == "bigint"
    assert {r["m_v1"] for r in filled.collect()} == {0}

    def picked(strict):
        return sorted(
            (r["conv_id"], r["day"])
            for r in blocks_for_asof(
                blocks, ["conv_id"], probes, "t", strict=strict
            ).collect()
        )

    assert picked(False) == [("a", "d1"), ("a", "d2"), ("a", "d3"), ("b", "d1")]
    # strict: 5000 falls back to d1 and b's only point equals its probe
    assert picked(True) == [("a", "d1"), ("a", "d3")]


def _walk(plan, ancestors=()):
    """Every node under ``plan`` (a JVM SparkPlan), with its ancestors' names."""
    yield plan, ancestors
    kids = plan.children()
    for i in range(kids.size()):
        yield from _walk(kids.apply(i), ancestors + (plan.nodeName(),))


def test_serve_asof_plan_answers_inside_the_decode(spark):
    """One Python pass and nothing point-level above it: exactly one
    MapInPandas node, no Window, Exchange or aggregate among its ancestors,
    and the block-picking window below it."""
    from tmframe_spark.ops.serve import serve_asof

    blocks = _blocks(spark).localCheckpoint()
    probes = spark.createDataFrame([("c", 1)], "conv_id string, ts_ns long")
    out = serve_asof(blocks, ["conv_id", "day"], ["conv_id"], probes)
    plan = out._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()  # the whole plan, before any stage runs
    passes = [(n, anc) for n, anc in _walk(plan) if n.nodeName() == "MapInPandas"]
    assert len(passes) == 1, plan.toString()
    node, ancestors = passes[0]
    bad = [a for a in ancestors if any(w in a for w in ("Window", "Exchange", "Aggregate"))]
    assert not bad, plan.toString()
    assert "Window" in [n.nodeName() for n, _ in _walk(node)], plan.toString()


def test_serve_asof_reads_its_probes_once(spark):
    """The probe relation is scanned once: the hit and miss branches share
    one exchange of the picks window, and null-key probes leave through the
    misses instead of a second scan of the probes."""
    import re

    from tmframe_spark.ops.serve import serve_asof

    pts = spark.createDataFrame(
        [("a", "d1", 1000, 1.0), ("a", "d2", 5000, 4.0)],
        "conv_id string, day string, ts_ns long, v0 double",
    )
    blocks = pack_blocks(pts, ["conv_id", "day"], v0="v0").localCheckpoint()
    probes = spark.createDataFrame(
        [("a", 1500, 0), ("b", 10, 1), (None, 10, 2)],
        "conv_id string, ts_ns long, probe_tag long",
    )
    out = serve_asof(blocks, ["conv_id", "day"], ["conv_id"], probes)
    assert sorted((r["probe_tag"], r["status"]) for r in out.collect()) == [
        (0, "Avail"), (1, "InPast"), (2, "InPast")
    ]
    final = out._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    scans = [
        re.sub(r"#\d+L?", "", cols)
        for cols in re.findall(r"Scan ExistingRDD\[([^\]]*)\]", final)
    ]
    assert scans.count("conv_id,ts_ns,probe_tag") == 1, final


def test_blocks_for_asof_plan_has_no_aggregate(spark):
    """The block picker is the as-of union-merge with no reduce step: block
    starts are unique per series, so its optimized plan holds a Window and
    no Aggregate (a reduce would add an aggregate and an exchange)."""
    from tmframe_spark.ops.serve import blocks_for_asof

    blocks = spark.createDataFrame(
        [("a", "d1", 1000, 3000, b"x"), ("a", "d2", 5000, 6000, b"y")],
        "conv_id string, day string, ts_first long, ts_last long, frame binary",
    )
    probes = spark.createDataFrame([("a", 4000), ("b", 10)], "conv_id string, ts_ns long")
    for strict in (False, True):
        plan = blocks_for_asof(
            blocks, ["conv_id"], probes, "ts_ns", strict=strict
        )._jdf.queryExecution().optimizedPlan()
        names = [n.nodeName() for n, _ in _walk(plan)]
        assert "Window" in names, plan.toString()
        assert "Aggregate" not in names, plan.toString()
