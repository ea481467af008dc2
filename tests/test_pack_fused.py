"""pack_rollup_blocks (fused in-UDF gap-fill) must produce byte-identical
blocks to the compositional gap_fill() -> pack_blocks() path, for every tier
and group unit used by the flagship."""

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from tmframe_spark.codec.udfs import pack_blocks, pack_rollup_blocks
from tmframe_spark.data.transcripts import load_transcripts
from tmframe_spark.ops.rollup import AGG_COLS, cascade_up, gap_fill, rollup, with_ts_ns


def blocks_dict(df, grp_col):
    return {
        (r["conv_id"], r[grp_col]): (bytes(r["frame"]), r["n_points"])
        for r in df.collect()
    }


def compositional(tier_df, tier, unit):
    # gap_fill carries every aggregate column; the pack reads two of them
    missing = [c for c in AGG_COLS if c not in tier_df.columns]
    g = gap_fill(tier_df.select("*", *[F.lit(0).alias(c) for c in missing]), tier)
    pts = g.select(
        "conv_id",
        F.date_trunc(unit, "bucket").alias("grp"),
        F.expr("(unix_micros(cast(bucket as timestamp)) * 1000) & -8").alias("ts_ns"),
        F.col("token_volume").cast("double").alias("v0"),
        F.col("turns").cast("long").alias("v1"),
    )
    return pack_blocks(pts, ["conv_id", "grp"], v0="v0", v1="v1")


def test_fused_equals_compositional_all_tiers(spark):
    t = with_ts_ns(load_transcripts(spark, SF_DIR))
    m = rollup(t, "1m").persist()
    h = cascade_up(m, "1h")
    d = cascade_up(h, "1d")
    for tier_df, tier, unit in [(m, "1m", "day"), (h, "1h", "month"), (d, "1d", "year")]:
        fused = blocks_dict(pack_rollup_blocks(tier_df, tier, unit), "grp")
        comp = blocks_dict(compositional(tier_df, tier, unit), "grp")
        assert set(fused) == set(comp), f"{tier}: group keys differ"
        bad = [k for k in comp if fused[k] != comp[k]]
        assert not bad, f"{tier}: {len(bad)} blocks differ, e.g. {bad[:3]}"
    m.unpersist()


def test_ten_year_conversation_pack_carry_bound(spark):
    # verdict r2 #5 guard: the mapInPandas carry buffer is O(one
    # conversation's ROLLUP rows) — data-sized, bounded by calendar, never
    # the spine. A decade-long sparse conversation (one 1d rollup row per
    # month, 120 rows) must pack into per-year blocks whose gap-filled
    # spine (3653 days) exists only inside the encoder, and decode back
    # losslessly.
    import pandas as pd

    from tmframe_spark.codec.udfs import unpack_blocks

    months = pd.date_range("2015-01-01", "2024-12-01", freq="MS")  # 120
    rows = [
        ("conv-decade", ts.to_pydatetime(), 3, 1000 + i)
        for i, ts in enumerate(months)
    ]
    rolled = spark.createDataFrame(
        rows, "conv_id string, bucket timestamp, turns long, token_volume long"
    )
    blocks = pack_rollup_blocks(rolled, "1d", "year")
    got = blocks.select("grp", "n_points").orderBy("grp").collect()
    assert len(got) == 10  # one block per calendar year
    # spine = every day from 2015-01-01 to 2024-12-01 inclusive
    assert sum(r["n_points"] for r in got) == (
        pd.Timestamp("2024-12-01") - pd.Timestamp("2015-01-01")
    ).days + 1
    pts = unpack_blocks(blocks, ["conv_id", "grp"], v0="v0", v1="v1").toPandas()
    assert len(pts) == sum(r["n_points"] for r in got)
    nz = pts[pts["v1"] > 0].sort_values("ts_ns").reset_index(drop=True)
    assert len(nz) == 120 and (nz["v1"] == 3).all()
    assert nz["v0"].tolist() == [1000.0 + i for i in range(120)]


def test_dense_conversation_blocks_match_compositional(spark):
    """Fully dense day blocks (1440 data rows each) next to a sparse
    conversation must produce blocks byte-identical to the compositional
    gap_fill -> pack_blocks path, whose encode_block shares no code with
    the batch encoder pack_rollup_blocks runs."""
    import pandas as pd

    # 3 days fully dense at 1m (1440 rows/day) + 1 sparse
    # day, two convs (one crosses midnight with a gap)
    rows = []
    for conv, days, dense in [("conv-dense", 3, True), ("conv-mixed", 2, False)]:
        for d in range(days):
            minutes = range(1440) if dense or d == 0 else range(0, 1440, 97)
            for m in minutes:
                ts = pd.Timestamp("2024-03-01") + pd.Timedelta(days=d, minutes=m)
                rows.append((conv, ts.to_pydatetime(), 1 + (m % 5), m * 7 + d, 0, 0, 0))
    rolled = spark.createDataFrame(
        rows,
        "conv_id string, bucket timestamp, turns long, token_volume long, "
        "tool_calls long, user_turns long, assistant_turns long",
    )
    fused = blocks_dict(pack_rollup_blocks(rolled, "1m", "day"), "grp")
    comp = blocks_dict(compositional(rolled, "1m", "day"), "grp")
    assert set(fused) == set(comp)
    bad = [k for k in comp if fused[k] != comp[k]]
    assert not bad, f"{len(bad)} blocks differ, e.g. {bad[:3]}"
    # sanity: the dense conv packed its three dense day blocks
    assert sum(1 for (c, _) in fused if c == "conv-dense") == 3


def _rows_dict(df):
    return {
        (r["conv_id"], r["grp"]): (
            r["n_points"],
            r["ts_first"],
            r["ts_last"],
            r["raw_nbytes"],
            bytes(r["frame"]),
        )
        for r in df.collect()
    }


def _node_names(plan):
    """Node names of a JVM SparkPlan tree, the AQE wrapper unwrapped to the
    whole plan before any stage runs."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()
    kids = plan.children()
    return [plan.nodeName()] + [
        n for i in range(kids.size()) for n in _node_names(kids.apply(i))
    ]


def test_pack_bytes_match_compositional_with_empty_periods(spark):
    """The one-pass pack must be byte-identical to gap_fill -> pack_blocks
    — including the span-trimmed first/last blocks and the all-zero blocks
    of EMPTY calendar periods inside a dense conv's span, alone and in a
    run — in one Python stage, whatever ``split_dense_rows`` says."""
    import pandas as pd

    rows = []
    # hot conv: every other minute over Jan 1 (from 06:00), Jan 2, Jan 4
    # and Jan 7 (to 18:00) — Jan 3 is an empty interior day and Jan 5-6 an
    # empty run, each day still owing its all-zero block; odd minutes
    # exercise in-block gap-fill
    for day, lo, hi in [
        ("2024-01-01", 6 * 60, 24 * 60),
        ("2024-01-02", 0, 24 * 60),
        ("2024-01-04", 0, 24 * 60),
        ("2024-01-07", 0, 18 * 60),
    ]:
        base = pd.Timestamp(day)
        for m in range(lo, hi, 2):
            rows.append(("hot", (base + pd.Timedelta(minutes=m)).to_pydatetime(), 2, m))
    for m in range(5):
        ts = pd.Timestamp("2024-01-02") + pd.Timedelta(minutes=7 * m)
        rows.append(("cold", ts.to_pydatetime(), 1, m))
    rolled = spark.createDataFrame(
        rows, "conv_id string, bucket timestamp, turns long, token_volume long"
    )
    packs = [
        pack_rollup_blocks(rolled, "1m", "day"),
        pack_rollup_blocks(rolled, "1m", "day", split_dense_rows=1000),
    ]
    for df in packs:
        # one plan: one Python pack stage, no calendar-chunk re-keying
        plan = df._jdf.queryExecution().executedPlan()
        assert _node_names(plan).count("MapInPandas") == 1, plan.toString()
        assert "_chunk" not in plan.toString(), plan.toString()
    single, keyword = (_rows_dict(df) for df in packs)
    assert keyword == single
    assert _rows_dict(compositional(rolled, "1m", "day")) == single
    # the empty Jan 3 interior day exists in both as a full-spine block
    jan3 = [k for k in single if k[0] == "hot" and str(k[1]).startswith("2024-01-03")]
    assert len(jan3) == 1 and single[jan3[0]][0] == 1440
    run = [
        k for k in single
        if k[0] == "hot" and str(k[1])[:10] in ("2024-01-05", "2024-01-06")
    ]
    assert len(run) == 2 and all(single[k][0] == 1440 for k in run)


def test_pack_matches_compositional_at_month_unit(spark):
    # calendar-unit generality: hourly tier grouped by month, with an empty
    # interior month
    import pandas as pd

    hours = list(pd.date_range("2024-02-01", "2024-02-28 23:00", freq="h")) + list(
        pd.date_range("2024-04-01", "2024-04-30 23:00", freq="h")
    )
    rows = [("hot", ts.to_pydatetime(), 1, i) for i, ts in enumerate(hours)]
    rolled = spark.createDataFrame(
        rows, "conv_id string, bucket timestamp, turns long, token_volume long"
    )
    single = _rows_dict(pack_rollup_blocks(rolled, "1h", "month"))
    comp = _rows_dict(compositional(rolled, "1h", "month"))
    assert comp == single and len(single) == 3  # Feb, Mar (empty), Apr


def test_fused_equals_compositional_custom_5m_tier(spark):
    # arbitrary-step tier ('5m', epoch-floor time_bucket) must pass the
    # same fused-vs-compositional byte-identity gate as the named tiers
    from tmframe_spark.ops.rollup import rollup

    t = with_ts_ns(load_transcripts(spark, SF_DIR))
    r5 = rollup(t, "5m")
    fused = blocks_dict(pack_rollup_blocks(r5, "5m", "day"), "grp")
    comp = blocks_dict(compositional(r5, "5m", "day"), "grp")
    assert set(fused) == set(comp) and len(fused) > 0
    assert fused == comp


def test_pack_rejects_non_utc_session(spark):
    # review finding: the wire contract is UTC end to end — the pack must
    # fail loudly under a non-UTC session instead of silently skewing
    # epochs against its UTC calendar arithmetic
    import pandas as pd
    import pytest

    rolled = spark.createDataFrame(
        [("c", pd.Timestamp("2024-01-01").to_pydatetime(), 1, 1)],
        "conv_id string, bucket timestamp, turns long, token_volume long",
    )
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        with pytest.raises(ValueError, match="timeZone=UTC"):
            pack_rollup_blocks(rolled, "1m", "day")
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_pack_carry_spanning_many_arrow_batches_bytes_identical(spark):
    """A conversation that spans many Arrow batches is buffered piecewise
    and concatenated once when a batch closes it (or at end of stream) —
    the blocks must be byte-identical to the one-batch pack, on the fused
    and compositional paths alike."""
    import pandas as pd

    rows = []
    for conv, days, stride in [
        ("conv-a", 1, 97),
        ("conv-long", 3, 1),  # 4,320 rows: > 60 batches of 64 rows
        ("conv-m", 1, 211),
        ("conv-tail", 2, 1),  # the partition's last conv: end-of-stream path
    ]:
        for m in range(0, days * 1440, stride):
            ts = pd.Timestamp("2024-03-01") + pd.Timedelta(minutes=m)
            rows.append((conv, ts.to_pydatetime(), 1 + m % 5, m * 3 + 1, 0, 0, 0))
    rolled = spark.createDataFrame(
        rows,
        "conv_id string, bucket timestamp, turns long, token_volume long, "
        "tool_calls long, user_turns long, assistant_turns long",
    ).coalesce(1)
    ref = _rows_dict(pack_rollup_blocks(rolled, "1m", "day"))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "64")
        fused = _rows_dict(pack_rollup_blocks(rolled, "1m", "day"))
        comp = blocks_dict(compositional(rolled, "1m", "day"), "grp")
    finally:
        spark.conf.set(key, old)
    assert sum(1 for c, _ in ref if c == "conv-long") == 3
    assert fused == ref
    assert comp == {k: (v[4], v[0]) for k, v in ref.items()}
