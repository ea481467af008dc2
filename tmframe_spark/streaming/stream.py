"""Structured Streaming tier: incremental rollup + watermarked dedup.

The reference's streaming story is fsnotify file-tailing (tfcat -f,
cmd/tfcat/tfcat.go:119-162) and a NATS-fed archiver (archiver/filemgr.go);
out-of-order data is fixed offline by tfsort, not by watermarks. The Spark
analog is the file/parquet streaming source with event-time watermarks:

- stream_rollup: readStream -> window(ts, tier) aggregate with a watermark
  (late turns beyond the watermark are dropped, matching a bounded-lateness
  contract the reference never had).
- stream_dedup: dropDuplicatesWithinWatermark on the frame content hash —
  the streaming analog of the count-window dedup (state is bounded by the
  watermark horizon instead of a frame count).

Batch tests drive these with trigger(availableNow=True) against a temp
directory — the same code would run against a live landing zone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tmframe_spark.ops.rollup import tier_step_seconds


def tier_window(tier: str) -> str:
    """Tumbling-window duration for named AND custom fixed-step tiers.
    Spark's tumbling windows align to the epoch, which for day-dividing
    steps equals the batch side's epoch-µs floor (ops/rollup.tier_bucket)
    — streamed buckets match batch buckets exactly."""
    return f"{tier_step_seconds(tier)} seconds"


def read_transcript_stream(
    spark: SparkSession, path: str, schema, max_files: int = 64
) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def stream_rollup(
    stream: DataFrame, tier: str = "1m", watermark: str = "10 minutes"
) -> DataFrame:
    """Incremental per-conversation rollup with event-time watermark."""
    # watermarks require (ltz) TIMESTAMP event time; session TZ is UTC so
    # the cast from the storage-side TIMESTAMP_NTZ is exact
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.col("conv_id"), F.window("ts", tier_window(tier)).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("turns"),
            F.sum(F.length("text")).alias("token_volume"),
            F.count("tool").alias("tool_calls"),
        )
        .select(
            "conv_id", F.col("w.start").alias("bucket"), "turns", "token_volume", "tool_calls"
        )
    )


def _content_keys(cols) -> tuple:
    """Two independent 64-bit content hashes (different seed column mixed
    in) = a 128-bit effective key. A single xxhash64 would silently drop a
    distinct row on a 64-bit collision (~50% at 5B rows by birthday bound);
    at 128 bits the collision odds are negligible at any realistic corpus
    size, while state stays 16 bytes/row instead of the full text (the batch
    engine compares exact strings; the reference uses 512-bit BLAKE2b)."""
    base = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols]
    return (
        F.xxhash64(*base),
        F.xxhash64(F.lit("tmframe-k2"), *base),
    )


def stream_dedup(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked streaming dedup keyed by content (conv_id, role, text,
    tool) — state bounded by the watermark horizon, 128-bit content key."""
    k1, k2 = _content_keys(("conv_id", "role", "text", "tool"))
    keyed = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("content_key", k1)
        .withColumn("content_key2", k2)
    )
    return keyed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["content_key", "content_key2"]
    )


def stream_count_window_dedup(
    stream: DataFrame,
    window_size: int = 1000,
    hash_cols: tuple = ("role", "text", "tool"),
) -> DataFrame:
    """The reference's count-window ring dedup (dedup.go:40-111) as a
    *custom stateful streaming operator*: applyInPandasWithState keyed by
    conv_id, state = (next index, ring of content keys, refcount map as
    parallel arrays), carried across micro-batches.

    Semantics per conversation match ops.dedup.count_window_dedup exactly
    within the arrival order the stream delivers (event-time reordering
    across micro-batches is the watermark's contract, as in the batch
    engine's stable-sort requirement). Content identity is the 128-bit
    two-hash key (see _content_keys) — the 64-bit single hash of r1 could
    silently drop a colliding distinct row.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    k1, k2 = _content_keys(hash_cols)
    keyed = stream.withColumn("content_key", k1).withColumn("content_key2", k2)
    out_schema = StructType([f for f in keyed.schema.fields])
    state_schema = StructType(
        [
            StructField("i", LongType()),
            StructField("ring1", ArrayType(LongType())),
            StructField("ring2", ArrayType(LongType())),
            StructField("keys1", ArrayType(LongType())),
            StructField("keys2", ArrayType(LongType())),
            StructField("counts", ArrayType(IntegerType())),
        ]
    )

    def fn(key, pdfs, state):
        import pandas as pd

        if state.exists:
            i, ring1, ring2, keys1, keys2, counts = state.get
            ring = [
                (a, b) for a, b in zip(ring1, ring2)
            ] + [None] * (window_size - len(ring1))
            present = dict(zip(zip(keys1, keys2), counts))
        else:
            i, ring, present = 0, [None] * window_size, {}
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "turn_idx"], kind="mergesort")
            keep = []
            for h1, h2 in zip(pdf["content_key"], pdf["content_key2"]):
                h = (int(h1), int(h2))
                if present.get(h, 0) > 0:
                    present[h] += 1
                    keep.append(False)
                else:
                    present[h] = 1
                    keep.append(True)
                if i >= window_size:
                    old = ring[i % window_size]
                    present[old] -= 1
                    if present[old] == 0:
                        del present[old]
                ring[i % window_size] = h
                i += 1
            out = pdf[pd.Series(keep, index=pdf.index)]
            if len(out):
                yield out
        filled = ring[: min(i, window_size)]
        state.update(
            (
                i,
                [a for a, _ in filled],
                [b for _, b in filled],
                [a for a, _ in present.keys()],
                [b for _, b in present.keys()],
                list(present.values()),
            )
        )

    return keyed.groupBy("conv_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_topk_counts(
    stream: DataFrame,
    tier: str = "1h",
    key_col: str = "conv_id",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked per-(bucket, key) counts — the streaming feed of the
    Misra-Gries heavy-hitters tier (ops/rollup.rollup_topk_sketch). In
    append mode a window's counts emit exactly once, complete, after the
    watermark passes — so the downstream sink sees each bucket's full
    exact count table and can compress it deterministically."""
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        stream.where(F.col(key_col).isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", tier_window(tier)).alias("w"),
            F.col(key_col).cast("string").alias("key"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(F.col("w.start").alias("bucket"), "key", "cnt")
    )


def stream_ewma(
    stream: DataFrame,
    k: int = 3,
    value_col: str = None,
) -> DataFrame:
    """Streaming exponential smoothing per conversation — the stateful
    form of ops/stats.ewma's EXACT integer recurrence
    (S += (v<<k - S) >> k, arithmetic-shift floor), state = ONE int64 per
    conversation carried across micro-batches by applyInPandasWithState.

    ``value_col`` defaults to per-turn text length. Rows are smoothed in
    event order WITHIN the stream's delivery (ts, turn_idx sorted per
    micro-batch — the same arrival-order contract as
    stream_count_window_dedup); calendar gap-fill semantics belong to the
    batch op over materialized tiers, not here: a stream never observes
    an empty bucket. The emitted ``ewma_q`` values are bit-identical to
    the batch recurrence applied to the same value sequence (pinned in
    tests/test_streaming_stateful.py), and a value outside the batch op's
    declared domain |value| < 2^(62-k) fails the query with the batch op's
    ValueError.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    from tmframe_spark.ops.stats import check_ewma_domain

    if k < 1 or k > 30:
        raise ValueError(f"stream_ewma k must be in [1, 30], got {k}")
    src = stream.withColumn(
        "value",
        (F.length("text") if value_col is None else F.col(value_col)).cast("long"),
    )
    out_schema = StructType([f for f in src.schema.fields]).add("ewma_q", LongType())
    state_schema = StructType([StructField("s", LongType())])

    def fn(key, pdfs, state):
        import pandas as pd

        s = state.get[0] if state.exists else None
        for pdf in pdfs:
            if not len(pdf):
                continue
            check_ewma_domain(pdf["value"].to_numpy(), k, value_col or "length(text)")
            pdf = pdf.sort_values(["ts", "turn_idx"], kind="mergesort")
            out = []
            for v in pdf["value"]:
                vq = int(v) << k
                s = vq if s is None else s + ((vq - s) >> k)
                out.append(s)
            pdf = pdf.copy()
            pdf["ewma_q"] = pd.Series(out, index=pdf.index, dtype="int64")
            yield pdf
        if s is not None:
            state.update((s,))

    return src.groupBy("conv_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_anomalies(
    tiers: DataFrame,
    value_col: str = "turns",
    window: int = 60,
    min_n: int = 12,
    k: int = 3,
) -> DataFrame:
    """Streaming rolling-z-score outliers over a live tier feed — the
    stateful form of ops/anomaly.robust_anomalies (season=None), for the
    live-monitoring story: feed it stream_rollup's finalized buckets and
    flagged rows come out as they happen instead of on the next batch scan.

    State per conversation = the ring of the last ``window`` observed
    bucket values plus their running int64 sum / sum-of-squares — exactly
    the batch op's PRECEDING-rows frame, so each arriving bucket is decided
    by the identical cross-multiplied integer predicate
    ``n >= min_n AND n*(n*v - S)^2 > k^2*(n*SS - S^2)`` and the drained
    output is bit-identical to the batch operator applied to the same
    (conv, bucket)-ordered rows (pinned in tests/test_streaming_stateful).
    Rows are processed in bucket order within each micro-batch; buckets
    must arrive in order across batches (stream_rollup's append-mode
    emission — a window finalizes only after the watermark passes — gives
    exactly that). Same int64 overflow bounds as the batch op.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StructField,
        StructType,
    )

    src = tiers.select(
        "conv_id", "bucket", F.col(value_col).cast("long").alias("value")
    )
    out_schema = StructType([f for f in src.schema.fields]).add(
        "n", LongType()
    ).add("num", LongType()).add("den", LongType())
    state_schema = StructType(
        [
            StructField("i", LongType()),
            StructField("ring", ArrayType(LongType())),
            StructField("s", LongType()),
            StructField("ss", LongType()),
        ]
    )

    def fn(key, pdfs, state):
        import pandas as pd

        if state.exists:
            i, ring, s, ss = state.get
            ring = list(ring) + [0] * (window - len(ring))
        else:
            i, ring, s, ss = 0, [0] * window, 0, 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values("bucket", kind="mergesort")
            out = []
            for row_pos, v in zip(pdf.index, pdf["value"]):
                v = int(v)
                n = min(i, window)
                num = n * (n * v - s) * (n * v - s)
                den = n * ss - s * s
                if n >= min_n and num > k * k * den:
                    out.append((row_pos, n, num, den))
                # push v; evict the ring slot it replaces once full
                if i >= window:
                    old = ring[i % window]
                    s -= old
                    ss -= old * old
                ring[i % window] = v
                s += v
                ss += v * v
                i += 1
            if out:
                idx = [p for p, *_ in out]
                flagged = pdf.loc[idx].copy()
                flagged["n"] = pd.Series(
                    [n for _, n, _, _ in out], index=idx, dtype="int64"
                )
                flagged["num"] = pd.Series(
                    [x for _, _, x, _ in out], index=idx, dtype="int64"
                )
                flagged["den"] = pd.Series(
                    [d for _, _, _, d in out], index=idx, dtype="int64"
                )
                yield flagged
        state.update((i, ring[: min(i, window)], s, ss))

    return src.groupBy("conv_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_level_shifts(
    tiers: DataFrame,
    value_col: str = "turns",
    window: int = 30,
    min_n: int = 12,
    delta: int = 2,
) -> DataFrame:
    """Streaming level-shift candidates — the stateful form of
    ops/anomaly.level_shifts. A changepoint needs ``window`` buckets of
    AFTER-regime evidence, so the streaming form necessarily trails the
    feed: each arriving bucket opens a pending candidate (capturing the
    prev-frame sums at that moment) and joins the next-frames of earlier
    pending candidates; a candidate is decided — by the identical
    cross-multiplied integer predicate — the moment its next-frame fills to
    ``window`` rows. Drained output is bit-identical to the batch operator
    restricted to rows with a FULL next window (``n_next == window``); the
    still-pending tail rows are exactly the ones the batch op would
    re-decide when more data lands. State per conversation is bounded:
    one ``window``-slot ring + at most ``window`` pending candidates.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StructField,
        StructType,
    )

    src = tiers.select(
        "conv_id", "bucket", F.col(value_col).cast("long").alias("value")
    )
    out_schema = (
        StructType([f for f in src.schema.fields])
        .add("n_prev", LongType())
        .add("s_prev", LongType())
        .add("n_next", LongType())
        .add("s_next", LongType())
        .add("diff", LongType())
    )
    # pending candidates as parallel arrays; bucket kept as epoch-µs int64
    state_schema = StructType(
        [
            StructField("i", LongType()),
            StructField("ring", ArrayType(LongType())),
            StructField("s", LongType()),
            StructField("p_bucket", ArrayType(LongType())),
            StructField("p_value", ArrayType(LongType())),
            StructField("p_np", ArrayType(LongType())),
            StructField("p_sp", ArrayType(LongType())),
            StructField("p_nn", ArrayType(LongType())),
            StructField("p_sn", ArrayType(LongType())),
        ]
    )

    def fn(key, pdfs, state):
        import pandas as pd

        if state.exists:
            i, ring, s, pb, pv, pnp, psp, pnn, psn = state.get
            ring = list(ring) + [0] * (window - len(ring))
            pending = [list(t) for t in zip(pb, pv, pnp, psp, pnn, psn)]
        else:
            i, ring, s, pending = 0, [0] * window, 0, []
        conv = key[0]
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values("bucket", kind="mergesort")
            rows = []
            for bucket, v in zip(pdf["bucket"], pdf["value"]):
                v = int(v)
                # this bucket joins every open candidate's next-frame
                # (its own entry below starts the frame AT the row)
                decided = []
                for c in pending:
                    c[4] += 1
                    c[5] += v
                    if c[4] == window:
                        decided.append(c)
                n_prev = min(i, window)
                pending.append(
                    [int(pd.Timestamp(bucket).value // 1000), v, n_prev, s, 1, v]
                )
                if pending[-1][4] == window:  # window == 1 degenerate
                    decided.append(pending[-1])
                done = {id(c) for c in decided}
                pending = [c for c in pending if id(c) not in done]
                for c in decided:
                    cb, cv, np_, sp_, nn_, sn_ = c
                    diff = sn_ * np_ - sp_ * nn_
                    if (
                        np_ >= min_n
                        and nn_ >= min_n
                        and abs(diff) > delta * np_ * nn_
                    ):
                        rows.append((cb, cv, np_, sp_, nn_, sn_, diff))
                if i >= window:
                    s -= ring[i % window]
                ring[i % window] = v
                s += v
                i += 1
            if rows:
                yield pd.DataFrame(
                    {
                        "conv_id": [conv] * len(rows),
                        "bucket": pd.to_datetime(
                            [b for b, *_ in rows], unit="us"
                        ),
                        "value": pd.Series([r[1] for r in rows], dtype="int64"),
                        "n_prev": pd.Series([r[2] for r in rows], dtype="int64"),
                        "s_prev": pd.Series([r[3] for r in rows], dtype="int64"),
                        "n_next": pd.Series([r[4] for r in rows], dtype="int64"),
                        "s_next": pd.Series([r[5] for r in rows], dtype="int64"),
                        "diff": pd.Series([r[6] for r in rows], dtype="int64"),
                    }
                )
        state.update(
            (
                i,
                ring[: min(i, window)],
                s,
                [c[0] for c in pending],
                [c[1] for c in pending],
                [c[2] for c in pending],
                [c[3] for c in pending],
                [c[4] for c in pending],
                [c[5] for c in pending],
            )
        )

    return src.groupBy("conv_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
