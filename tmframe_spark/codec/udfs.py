"""Spark-side codec: Arrow-vectorized pandas UDFs around the numpy codec.

The distributed encode path packs each (key..., bucket) group of rolled-up
points into ONE compressed TMFRAME block framed as an EvUDE record with the
user evtnum EV_BLOCK, stored as a BinaryType cell — the columnar analog of
the reference's frame stream files (/root/reference/writer.go,
archiver/filemgr.go:94-104 date-partitioned layout).

Bit-exactness across partitioning: block contents are sorted by
(ts_ns, seq) *inside* the UDF, so the encoded bytes are a deterministic
function of the group's row set, never of Spark partitioning or arrival
order. Verified in tests by encoding after arbitrary repartition() and
comparing against the single-node numpy oracle byte-for-byte.

All UDFs are Arrow-batched mapInPandas stages; no per-row Python.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tmframe_spark.codec.blocks import (
    budget_slices,
    decode_block,
    encode_block,
    encode_blocks_gapfilled_batch,
    peek_block_n_points,
)
from tmframe_spark.codec.frames import (
    EV_BLOCK,
    get_evtnum,
    make_frames,
    marshal_each,
    unmarshal_frames,
)
from tmframe_spark.ops.rollup import tier_step_seconds


def _closed_groups(
    batches: Iterator[pd.DataFrame],
    group_starts: Callable[[pd.DataFrame], np.ndarray],
) -> Iterator[tuple[pd.DataFrame, np.ndarray, np.ndarray]]:
    """Re-cut a stream of Arrow batches, sorted by group key, at group
    boundaries: yields ``(pdf, starts, ends)`` row ranges of whole groups
    only (``pdf`` may hold a still-open group's rows past ``ends[-1]``);
    the last group is yielded on its own at end of stream.

    The open group is held back as a list of pieces and concatenated ONCE,
    by the batch that closes it, so a group spanning N batches costs
    O(rows) — re-concatenating the carry on every batch cost O(rows x N),
    quadratic for a decade-long dense conversation. ``group_starts(pdf)``
    returns the first-row offset of every group in ``pdf`` (0 included)."""
    pending: list[pd.DataFrame] = []
    for pdf in batches:
        if len(pdf) == 0:
            continue
        if pending:
            # key-sorted rows: a batch whose first and last rows both
            # continue the open group closes nothing
            edge = pd.concat(
                [pending[-1].iloc[-1:], pdf.iloc[[0, -1]]], ignore_index=True
            )
            if len(group_starts(edge)) == 1:
                pending.append(pdf)
                continue
            pdf = pd.concat([*pending, pdf], ignore_index=True)
        starts = group_starts(pdf)
        pending = [pdf.iloc[starts[-1] :].reset_index(drop=True)]
        if len(starts) > 1:
            yield pdf, starts[:-1], starts[1:]
    if pending:
        tail = pending[0] if len(pending) == 1 else pd.concat(pending, ignore_index=True)
        yield tail, np.array([0]), np.array([len(tail)])


def _key_fields(df: DataFrame, keys: list[str]) -> list[StructField]:
    by_name = {f.name: f for f in df.schema.fields}
    return [by_name[k] for k in keys]


def bucket_ts_ns(col: str = "bucket"):
    """The engine's ONE bucket->wire-timestamp projection: epoch ns of the
    bucket boundary, 8ns-truncated (the Tm contract, frame.go:88-114).
    Every path that packs or compares rollup buckets as block timestamps
    must use this expression — streamed blocks stay byte-identical to
    batch packs only while all writers agree on it bit-for-bit."""
    return F.expr(f"(unix_micros(cast({col} as timestamp)) * 1000) & -8")


def pack_blocks(
    df: DataFrame,
    keys: list[str],
    ts_ns: str = "ts_ns",
    v0: str | None = None,
    v1: str | None = None,
    seq: str | None = None,
) -> DataFrame:
    """Pack point rows into one framed, compressed block per key group.

    Returns one row per group: keys..., n_points, ts_first, ts_last,
    raw_nbytes (pre-compression TMFRAME wire cost floor), frame (binary:
    the marshalled EV_BLOCK UDE frame whose payload is the compressed
    block).

    Plan shape: repartition(keys) + sortWithinPartitions(keys, ts, seq) +
    a *streaming* mapInPandas group packer (pandas work per Arrow batch,
    not per group; groups spanning batches are buffered). This is ~10x
    faster than groupBy().applyInPandas() for small groups — the per-group
    pandas DataFrame construction dominates there — while keeping identical
    group semantics (hash partition on the full key co-locates groups) and
    identical bytes (rows sorted by (ts, seq) inside each group).
    """
    out_schema = StructType(
        _key_fields(df, keys)
        + [
            StructField("n_points", LongType()),
            StructField("ts_first", LongType()),
            StructField("ts_last", LongType()),
            StructField("raw_nbytes", LongType()),
            StructField("frame", BinaryType()),
        ]
    )
    has_v0, has_v1 = v0 is not None, v1 is not None
    # wire cost floor per point if stored as individual frames:
    # Two64=24B, OneFloat64/OneInt64=16B, Zero=8B (frame.go:185-212)
    per_point_raw = 8 + (8 if has_v0 else 0) + (8 if has_v1 else 0)
    sort_cols = list(keys) + [ts_ns] + ([seq] if seq else [])

    def emit(pdf: pd.DataFrame, starts: np.ndarray, ends: np.ndarray) -> pd.DataFrame:
        ts_all = pdf[ts_ns].to_numpy(np.int64)
        a0_all = pdf[v0].to_numpy(np.float64) if has_v0 else None
        a1_all = pdf[v1].to_numpy(np.int64) if has_v1 else None
        out = {k: pdf[k].to_numpy()[starts] for k in keys}
        blocks = [
            encode_block(
                ts_all[s:e],
                a0_all[s:e] if has_v0 else None,
                a1_all[s:e] if has_v1 else None,
            )
            for s, e in zip(starts.tolist(), ends.tolist())
        ]
        n_points = ends - starts
        out.update(
            n_points=n_points,
            ts_first=ts_all[starts],
            ts_last=ts_all[ends - 1],
            raw_nbytes=per_point_raw * n_points,
            frame=marshal_each(
                make_frames(ts_all[starts], [EV_BLOCK] * len(blocks), data=blocks)
            ),
        )
        return pd.DataFrame(out)

    def key_starts(pdf: pd.DataFrame) -> np.ndarray:
        kdf = pdf[list(keys)]
        # null-safe: NaN != NaN in pandas, so a plain ne() would split a
        # null-keyed group into one block per point
        prev = kdf.shift()
        change = (
            (~((kdf == prev) | (kdf.isna() & prev.isna()))).any(axis=1).to_numpy()
        )
        change[0] = True
        return np.flatnonzero(change)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # streaming group packer: rows arrive sorted by (keys..., ts, seq)
        # within the partition; groups spanning Arrow batches are buffered.
        for pdf, starts, ends in _closed_groups(batches, key_starts):
            yield emit(pdf, starts, ends)

    # explicit partition count: AQE would coalesce this exchange by BYTE
    # size, but the downstream cost is Python work per GROUP — a handful of
    # coalesced partitions would serialize the pack stage (measured: the 1d
    # tier anti-scaled 9s -> 16s going 4 -> 16 cores before this pin).
    # r7: the pin is scale-adaptive (ops.sizing) — a fixed 64 costs ~15 ms
    # of Python-worker round-trip per task, which dominates small inputs.
    from tmframe_spark.ops.sizing import cpu_stage_partitions

    part = df.repartition(
        cpu_stage_partitions(df), *[F.col(k) for k in keys]
    ).sortWithinPartitions(*sort_cols)
    return part.mapInPandas(fn, out_schema)


#: block group unit per tier -> numpy datetime64 trunc code
GROUP_UNIT_CODE = {"day": "D", "month": "M", "year": "Y"}


def tier_step_ns(tier: str) -> int:
    """Bucket step in ns for named AND custom fixed-step tiers ('5m',
    '30s', ... — ops/rollup._custom_tier enforces the divides-one-day rule,
    which is exactly what keeps day/month/year block group boundaries
    step-aligned here)."""
    return tier_step_seconds(tier) * 1_000_000_000


def pack_rollup_blocks(
    rolled: DataFrame,
    tier: str,
    group_unit: str = "day",
    v0: str = "token_volume",
    v1: str = "turns",
    split_dense_rows: int | None = None,
) -> DataFrame:
    """Fused gap-fill + block-pack: the flagship's scale path.

    Takes the *data-sized* rollup (one row per non-empty (conv, bucket)) and
    synthesizes each conversation's zero-filled bucket spine INSIDE the UDF
    (numpy arange + scatter), then encodes one block per (conv, group_unit)
    — including all-zero blocks for empty days within the conv's lifespan.

    Produces byte-identical blocks to gap_fill() -> pack_blocks() (asserted
    in tests), but the shuffle carries only data rows: at a sparse
    10^12-turn table the spine is easily 100x the data, so this is the
    difference between shuffling 100 TB and shuffling 1 TB. The spine only
    ever exists as a numpy array inside one executor task, bounded by the
    conv's retention window.

    Skew note: one conversation packs in one task (blocks need
    the conv's global [first, last] span), so the hot conversation is the
    stage's potential straggler — but its cost is CALENDAR-bounded, not
    data-bounded: a fully dense conv-year at 1m is 525k spine points,
    ≈0.3 s of encode + marshal on one core of a 4-vCPU box (3,650 dense
    day blocks measured at 3.2 s), so a decade-long always-active
    conversation costs a few seconds serial in one task (coarser tiers
    proportionally less); the encoder works through it in bounded-row
    slices, so the encoder's working memory does not grow with it.
    Packing that conversation's calendar chunks in parallel, behind a
    checkpoint, a span aggregate and a second shuffle, did not beat this
    one pass at local[4] (10-year dense 1m conversation + 31 small ones,
    pack stage only, medians one-pass vs split: 10.65 vs 13.56 s over 5
    runs, 17.54 vs 17.54 s over 7), so there is one plan.

    ``split_dense_rows`` is accepted and ignored: ``bench.py`` passes it.
    """
    # the wire contract is UTC end to end: bucket_ts_ns casts through the
    # SESSION timezone while the block/group arithmetic (numpy datetime64)
    # is UTC — a non-UTC session would silently skew epochs against
    # calendar boundaries, so fail loudly instead (round-5 review finding #2)
    tz = rolled.sparkSession.conf.get("spark.sql.session.timeZone")
    if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
        raise ValueError(
            f"pack_rollup_blocks requires spark.sql.session.timeZone=UTC "
            f"(the engine's wire contract; session has {tz!r})"
        )
    step = tier_step_ns(tier)
    unit = GROUP_UNIT_CODE[group_unit]
    out_schema = StructType(
        [
            rolled.schema["conv_id"],
            StructField("grp", rolled.schema["bucket"].dataType),
            StructField("n_points", LongType()),
            StructField("ts_first", LongType()),
            StructField("ts_last", LongType()),
            StructField("raw_nbytes", LongType()),
            StructField("frame", BinaryType()),
        ]
    )
    pts = rolled.select(
        "conv_id",
        bucket_ts_ns().alias("_ts"),
        F.col(v0).cast("double").alias("_v0"),
        F.col(v1).cast("long").alias("_v1"),
    )

    DAY_NS = 86_400_000_000_000

    def group_of(t: np.ndarray) -> np.ndarray:
        # calendar group index of epoch-ns timestamps
        if unit == "D":
            return t // DAY_NS
        return (
            t.astype("datetime64[ns]").astype(f"datetime64[{unit}]").astype(np.int64)
        )

    def group_start(g: np.ndarray) -> np.ndarray:
        # epoch ns at which calendar group index g starts
        if unit == "D":
            return g * DAY_NS
        return (
            g.astype(f"datetime64[{unit}]").astype("datetime64[ns]").astype(np.int64)
        )

    def pack_many(conv, ts, a0, a1, cstarts, cends) -> pd.DataFrame:
        """ALL closed groups of one Arrow batch under ONE block plan (r7):
        the per-group numpy ceremony WAS the pack stage at rehearsal scale
        (measured: 1,500 convs x ~1.8 ms/conv = 2.4 s serial).

        A group is one conversation, packed whole: its spine runs from its
        first data row ``t0`` to its last ``hi``, and its blocks are the
        calendar groups between them — the first starts at ``t0``, the last
        ends at ``hi``, and every empty calendar group between them packs
        its all-zero block. Block extents and each row's (block, block-local
        slot) are computed arithmetically for all groups at once, and ONE
        encode_blocks_gapfilled_batch call encodes every block, in
        whole-block slices of bounded data rows (blocks are independent:
        the only sequential piece, the Gorilla window scan, resets at every
        block boundary). Bytes are asserted identical to
        gap_fill->pack_blocks by tests/test_pack_fused.

        conv: per-row group conv ids (only rows < cstarts[-1] used);
        ts/a0/a1: CLOSED rows only; cstarts/cends: row ranges of the closed
        groups."""
        counts = cends - cstarts
        t0, hi = ts[cstarts], ts[cends - 1]
        g_first = group_of(t0)
        nb_c = group_of(hi) - g_first + 1
        C, B = len(counts), int(nb_c.sum())
        blk_cum = np.cumsum(nb_c)
        blk_first = blk_cum - nb_c
        blk_grp = np.repeat(np.arange(C), nb_c)
        grp_starts = group_start(g_first[blk_grp] + (np.arange(B) - blk_first[blk_grp]))
        t0_b = t0[blk_grp]
        starts_b = np.maximum((grp_starts - t0_b) // step, 0)
        ends_b = np.empty(B, dtype=np.int64)
        ends_b[:-1] = starts_b[1:]
        ends_b[blk_cum - 1] = (hi - t0) // step + 1
        ns_b = ends_b - starts_b
        block_t0s = t0_b + starts_b * step
        row_grp = np.repeat(np.arange(C), counts)
        row_blk = blk_first[row_grp] + (group_of(ts) - g_first[row_grp])
        local = (ts - t0[row_grp]) // step - starts_b[row_blk]

        blocks = encode_blocks_gapfilled_batch(
            block_t0s, step, ns_b, row_blk, local, a0, a1
        )
        return pd.DataFrame(
            {
                "conv_id": np.repeat(conv[cstarts], nb_c),
                "grp": pd.to_datetime((grp_starts // 1000).astype("datetime64[us]")),
                "n_points": ns_b,
                "ts_first": block_t0s,
                "ts_last": t0_b + (ends_b - 1) * step,
                "raw_nbytes": 24 * ns_b,
                "frame": marshal_each(
                    make_frames(block_t0s, [EV_BLOCK] * B, data=blocks)
                ),
            }
        )

    def group_starts(pdf: pd.DataFrame) -> np.ndarray:
        # a group is one conversation
        conv = pdf["conv_id"].to_numpy()
        change = np.empty(len(conv), dtype=bool)
        change[0] = True
        np.not_equal(conv[1:], conv[:-1], out=change[1:])
        return np.flatnonzero(change)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # the held-back open group is its ROLLUP rows — data-sized and
        # bounded by calendar (a Y-year conversation holds at most Y*525k
        # 1m rows, and proportionally fewer at coarser tiers), never the
        # gap-filled spine, which only exists as numpy arrays inside the
        # encoder one block at a time. Guarded by the decade-long and
        # many-batch conversation tests in tests/test_pack_fused.py.
        for pdf, starts, ends in _closed_groups(batches, group_starts):
            ncl = int(ends[-1])  # closed rows: the open group's rows follow
            yield pack_many(
                pdf["conv_id"].to_numpy(),
                pdf["_ts"].to_numpy(np.int64)[:ncl],
                pdf["_v0"].to_numpy(np.float64)[:ncl],
                pdf["_v1"].to_numpy(np.int64)[:ncl],
                starts,
                ends,
            )

    # explicit partition count — see pack_blocks: the pack cost is Python
    # work per conversation, not bytes; AQE byte-based coalescing must not
    # shrink this exchange. r7: scale-adaptive pin (ops.sizing) — measured
    # 1.3 s at a fixed 64 vs 0.5 s at the derived ~7 on the sf0.1 1m tier,
    # pure per-task Python-worker overhead.
    from tmframe_spark.ops.sizing import cpu_stage_partitions

    part = pts.repartition(
        cpu_stage_partitions(pts), F.col("conv_id")
    ).sortWithinPartitions("conv_id", "_ts")
    return part.mapInPandas(fn, out_schema)


def _block_payloads(frames: pd.Series, evtnum: int = EV_BLOCK) -> list:
    """Payloads of a column of marshalled UDE frames (EV_BLOCK blocks by
    default): one vectorized unmarshal over the column, failing closed on
    any frame whose evtnum is not ``evtnum``."""
    fr = unmarshal_frames(b"".join(bytes(x) for x in frames))
    evs = get_evtnum(fr.prim, fr.ude)
    if (evs != evtnum).any():
        bad = int(evs[(evs != evtnum).argmax()])
        raise ValueError(f"expected evtnum {evtnum} frame, got evtnum {bad}")
    return fr.data


def _value_fields(v0: str | None, v1: str | None) -> list[StructField]:
    """Output fields of the decoded value streams that are kept."""
    return [StructField(c, t) for c, t in ((v0, DoubleType()), (v1, LongType())) if c]


def _decoded_blocks(frames: pd.Series) -> Iterator[tuple]:
    """Per EV_BLOCK frame of ``frames``, its decoded ``(ts, v0, v1)``
    arrays; a block without a value stream reads NaN for v0 and 0 for v1
    at every point."""
    for payload in _block_payloads(frames):
        ts, a0, a1 = decode_block(payload)
        yield (
            ts,
            a0 if a0 is not None else np.full(len(ts), np.nan),
            a1 if a1 is not None else np.zeros(len(ts), np.int64),
        )


def unpack_blocks(
    blocks: DataFrame,
    keys: list[str],
    v0: str | None = "v0",
    v1: str | None = "v1",
) -> DataFrame:
    """Explode framed blocks back into point rows (keys..., ts_ns [, v0][, v1]).

    mapInPandas: decode parallelism = block count, no shuffle. Worker
    memory is BOUNDED: an Arrow input batch can carry up to
    maxRecordsPerBatch block rows, and a naive one-frame-per-batch yield
    would materialize batch-rows x points-per-block rows at once (measured:
    a whole-archive decode at 580k blocks x ~1.4k pts killed workers).
    The fn therefore splits each input batch on the cumulative point count
    read from each frame's block header (``peek_block_n_points``, no
    bitstream decode, whichever columns the caller kept) so every yielded
    frame holds at most ~2M decoded points, and assembles each slice with
    one ``np.concatenate`` per column instead of one pandas DataFrame per
    block.
    """
    fields = _key_fields(blocks, keys) + [StructField("ts_ns", LongType())]
    out_schema = StructType(fields + _value_fields(v0, v1))

    PTS_BUDGET = 2_000_000  # max decoded points per yielded frame

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pts = np.fromiter(
                (peek_block_n_points(x) for x in pdf["frame"]), np.int64, len(pdf)
            )
            for start, end in budget_slices(pts, PTS_BUDGET):
                sl = pdf.iloc[start:end]
                ts_l, v0_l, v1_l = zip(*_decoded_blocks(sl["frame"]))
                reps = [len(ts) for ts in ts_l]
                d = {k: np.repeat(sl[k].to_numpy(), reps) for k in keys}
                for c, parts in (("ts_ns", ts_l), (v0, v0_l), (v1, v1_l)):
                    if c:
                        d[c] = np.concatenate(parts)
                yield pd.DataFrame(d)

    return blocks.mapInPandas(fn, out_schema)


def asof_in_blocks(
    blocks: DataFrame,
    by: list[str],
    on: str,
    v0: str | None = "v0",
    v1: str | None = "v1",
    tie: str = "last",
    strict: bool = False,
) -> DataFrame:
    """Answer as-of probes inside the decode of the one block that holds them.

    Input: one row per block — ``by`` columns, ``frame``, ``_probes``
    (array of struct(``on``, probe columns...): the probes whose answer lies
    in this block) and ``_latest`` (the block starts its series' latest
    block). Output: one row per probe — ``by``, ``on``, the probe columns,
    ``m_<on>``, ``m_<v0>``, ``m_<v1>``, ``status``.

    Each block is decoded once and its probes are answered by
    ``np.searchsorted`` over the decoded timestamps (stored in (ts, seq)
    order): the last stored point ``<=`` the probe (``<`` when ``strict``);
    ``tie='first'`` moves to the first point of that equal-timestamp run —
    the reference's in-block binary search (series.go:58-244). Decoded
    points never leave the worker. Status is InFuture past the last point
    of a ``_latest`` block, else Avail. Missing value streams fill like
    ``unpack_blocks``: NaN for v0, 0 for v1.
    """
    from tmframe_spark.ops.asof import AVAIL, IN_FUTURE

    if tie not in ("first", "last"):
        raise ValueError("tie must be 'first' or 'last'")
    probe_type = blocks.schema["_probes"].dataType.elementType
    probe_cols = probe_type.fieldNames()
    out_schema = StructType(
        _key_fields(blocks, by)
        + list(probe_type.fields)
        + [StructField(f"m_{on}", LongType())]
        + _value_fields(v0 and f"m_{v0}", v1 and f"m_{v1}")
        + [StructField("status", StringType())]
    )
    side = "left" if strict else "right"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lists = pdf["_probes"].to_numpy()
            counts = np.fromiter((len(x) for x in lists), np.int64, len(lists))
            probes = pd.DataFrame.from_records(
                [p for x in lists for p in x], columns=probe_cols
            )
            q_all = probes[on].to_numpy(np.int64)
            ends = counts.cumsum().tolist()
            m_ts, m_a0, m_a1, status = [], [], [], []
            for (ts, a0, a1), latest, lo, hi in zip(
                _decoded_blocks(pdf["frame"]), pdf["_latest"], [0] + ends, ends
            ):
                q = q_all[lo:hi]
                j = np.searchsorted(ts, q, side) - 1
                if (j < 0).any():
                    # the pick guarantees ts_first precedes every probe here
                    raise ValueError("block payload starts after its ts_first")
                if tie == "first":
                    j = np.searchsorted(ts, ts[j], "left")
                m_ts.append(ts[j])
                m_a0.append(a0[j])
                m_a1.append(a1[j])
                status.append(
                    np.where(bool(latest) & (q > ts[-1]), IN_FUTURE, AVAIL)
                )
            out = {b: np.repeat(pdf[b].to_numpy(), counts) for b in by}
            out.update((c, probes[c]) for c in probe_cols)
            for c, parts in ((on, m_ts), (v0, m_a0), (v1, m_a1)):
                if c:
                    out[f"m_{c}"] = np.concatenate(parts)
            out["status"] = np.concatenate(status)
            yield pd.DataFrame(out)

    return blocks.mapInPandas(fn, out_schema)


def frame_mixed_fixture(transcripts: DataFrame) -> DataFrame:
    """Mixed-evtnum wire fixture for the display path: by turn_idx % 3,
    each turn becomes an EV_TURN UDE frame (payload role|US|tool|US|text),
    an EvOneInt64 frame (V1 = text length), or an EvZero frame. Exercises
    every Frame.String() branch (frame.go:490-511) with real wire bytes.
    """
    from tmframe_spark.codec.frames import EV_ONE_INT64, EV_TURN, EV_ZERO

    schema = StructType(
        transcripts.schema.fields + [StructField("frame", BinaryType())]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ts = pdf["ts_ns"].to_numpy(np.int64)
            kind = pdf["turn_idx"].to_numpy(np.int64) % 3
            evs = np.choose(kind, [EV_TURN, EV_ONE_INT64, EV_ZERO])
            cols = [
                pdf[c].astype(object).where(pd.notna(pdf[c]), "")
                for c in ("role", "tool", "text")
            ]
            text_len = pdf["text"].str.len().fillna(0).to_numpy(np.int64)
            data = [
                "\x1f".join((r, t, x)).encode("utf-8") if k == 0 else b""
                for k, r, t, x in zip(kind, *cols)
            ]
            out = pdf.copy()
            out["frame"] = marshal_each(make_frames(ts, evs, v1=text_len, data=data))
            yield out

    return transcripts.mapInPandas(fn, schema)


def frame_payloads(
    df: DataFrame, evtnum: int, payload_col: str, ts_ns_col: str = "ts_ns"
) -> DataFrame:
    """Encode each row's UTF-8 string payload as a UDE wire frame with the
    given evtnum (e.g. EvJson=14, EvUtf8=13). Adds a binary ``frame``
    column. Inverse-checked via ops.display render + the SQL oracle."""
    schema = StructType(df.schema.fields + [StructField("frame", BinaryType())])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ts = pdf[ts_ns_col].to_numpy(np.int64)
            payloads = [
                (x if isinstance(x, str) else "").encode("utf-8")
                for x in pdf[payload_col]
            ]
            out = pdf.copy()
            out["frame"] = marshal_each(make_frames(ts, [evtnum] * n, data=payloads))
            yield out

    return df.mapInPandas(fn, schema)


def frame_msgpack_turns(transcripts: DataFrame) -> DataFrame:
    """Encode each turn as an EvMsgpack UDE frame whose payload is the
    msgpack map {"conv_id", "turn_idx", "role", "n_chars"} — the reference's
    LogEntry-in-a-msgpack-family-frame pattern (testdata/logentry.go:9-13,
    util.go:364-404), with this engine's from-scratch msgpack codec.

    Output: one binary ``frame`` column only (the decode side must recover
    everything from the wire).

    Boundary shape (r7): ``n_chars`` (a CODE-POINT count, = Python
    ``len(str)``) is computed JVM-side so the exchange below ships ~40 B of
    metadata per row instead of the raw text (guide idiom: project before
    the exchange), and the exchange itself is an explicit
    repartition(shuffle.partitions) — the upstream window exchange is
    ENSURE_REQUIREMENTS, which AQE's byte-based coalescing collapses to ~1
    partition on heavy-CPU/tiny-byte inputs, serializing the per-row
    msgpack encode AND the decode stage that follows it (measured: 3 final
    partitions on 32 cores before the pin). The pin itself is
    scale-adaptive (ops.sizing.cpu_stage_partitions)."""
    from tmframe_spark.codec.frames import EV_MSGPACK
    from tmframe_spark.codec.payloads import mp_encode
    from tmframe_spark.ops.sizing import cpu_stage_partitions

    schema = StructType([StructField("frame", BinaryType())])
    src = transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        F.coalesce(F.length("text"), F.lit(0)).cast("long").alias("_n_chars"),
        "ts_ns",
    )
    src = src.repartition(
        cpu_stage_partitions(src), F.col("conv_id"), F.col("turn_idx")
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ts = pdf["ts_ns"].to_numpy(np.int64)
            payloads = [
                mp_encode(
                    {
                        "conv_id": c,
                        "turn_idx": int(i),
                        "role": r,
                        "n_chars": int(nc),
                    }
                )
                for c, i, r, nc in zip(
                    pdf["conv_id"], pdf["turn_idx"], pdf["role"], pdf["_n_chars"]
                )
            ]
            yield pd.DataFrame(
                {
                    "frame": marshal_each(
                        make_frames(ts, [EV_MSGPACK] * n, data=payloads)
                    )
                }
            )

    return src.mapInPandas(fn, schema)


def decode_msgpack_frames(frames: DataFrame) -> DataFrame:
    """Decode EvMsgpack wire frames back into typed columns via the payload
    codec registry (codec.payloads) — the inverse of frame_msgpack_turns."""
    from tmframe_spark.codec.frames import EV_MSGPACK
    from tmframe_spark.codec.payloads import mp_decode

    out_schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("n_chars", LongType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            recs = [
                mp_decode(d) for d in _block_payloads(pdf["frame"], EV_MSGPACK)
            ]
            yield pd.DataFrame.from_records(recs).astype(
                {"turn_idx": "int32", "n_chars": "int64"}
            )

    return frames.mapInPandas(fn, out_schema)


def frame_turns(
    transcripts: DataFrame,
    role_codes: dict[str, int] | None = None,
) -> DataFrame:
    """Encode each transcript turn as an individual TMFRAME wire frame.

    The reference's per-event framing (one frame per record): each turn
    becomes an EvUDE frame with the user evtnum EV_TURN, payload = UTF-8
    ``role\\x1f tool\\x1f text`` (unit-separator-joined), timestamp =
    8ns-truncated turn ts. Mirrors the LogEntry-in-EvZebraPack pattern
    (/root/reference/testdata/logentry.go, util.go:364-404).

    Adds columns: frame (binary), frame_nbytes (long).
    """
    from tmframe_spark.codec.frames import EV_TURN

    schema = StructType(
        transcripts.schema.fields
        + [StructField("frame", BinaryType()), StructField("frame_nbytes", LongType())]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ts = pdf["ts_ns"].to_numpy(np.int64)
            cols = [pdf[c].astype(object).where(pd.notna(pdf[c]), "") for c in ("role", "tool", "text")]
            payloads = [
                "\x1f".join((r, t, x)).encode("utf-8")
                for r, t, x in zip(*cols)
            ]
            wires = marshal_each(make_frames(ts, [EV_TURN] * n, data=payloads))
            out = pdf.copy()
            out["frame"] = wires
            out["frame_nbytes"] = [len(w) for w in wires]
            yield out

    return transcripts.mapInPandas(fn, schema)
