"""Range-serving reads over packed TMFRAME block tables (zone-map pruning).

Every block row carries zone-map columns ``ts_first``/``ts_last`` — the
8ns-truncated nanosecond bounds of every point inside the block, written by
``pack_blocks`` / ``pack_rollup_blocks`` (codec/udfs.py). A time-range read
must never decode a block whose [ts_first, ts_last] window cannot intersect
the probe range: the overlap test is a plain column predicate, so when the
block table is read from parquet/Iceberg it reaches the scan as a pushed
filter (row-group / file skipping on min-max statistics), and only the
surviving blocks cross into the Python decode. At a 100 TB archive holding
years of blocks per conversation this is the difference between decoding
the whole archive and decoding the handful of blocks that overlap the
window.

This is the engine's analog of the reference's tfindex use-case: tfindex
writes minute-boundary byte offsets so readers can seek instead of scanning
(/root/reference/cmd/tfindex/tfindex.go:44-98); here the block min/max
stats turn the seek into a Catalyst filter that storage prunes on.

As-of reads seek the same way, then search inside the one block they
land in: the as-of union-merge (``ops.asof._carry_forward``) over probe
rows and one metadata row per block picks, per probe, the block that can
hold its answer (``blocks_for_asof``), and
``serve_asof`` answers each probe by binary search in the Python pass that
decodes that block (``codec.udfs.asof_in_blocks``). Decoded points never
become Spark rows; the pass emits one row per probe.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tmframe_spark.ops.asof import IN_PAST, _carry_forward


def blocks_overlapping(
    blocks: DataFrame, lo_ns: int, hi_ns: int
) -> DataFrame:
    """Blocks whose point-span [ts_first, ts_last] intersects [lo_ns, hi_ns].

    Conservative (never drops a block that holds an in-range point) and
    exact on the truncated domain: every stored point timestamp is already
    8ns-truncated, so comparing raw probe bounds against the stored bounds
    needs no further truncation. Plain column predicate — pushes down to
    the scan when ``blocks`` comes straight from storage.
    """
    if hi_ns < lo_ns:
        raise ValueError(f"empty range: lo_ns={lo_ns} > hi_ns={hi_ns}")
    return blocks.where(
        (F.col("ts_last") >= F.lit(int(lo_ns)))
        & (F.col("ts_first") <= F.lit(int(hi_ns)))
    )


def _asof_picks(
    blocks: DataFrame,
    by: list[str],
    probes: DataFrame,
    on: str,
    strict: bool,
) -> DataFrame:
    """Every probe row, all of its columns kept, plus ``_pick`` — the
    greatest block ``ts_first`` of its series at or before the probe
    (strictly before when ``strict``), null when there is none — and
    ``_latest``, true when ``_pick`` is the series' latest block start.

    ``ops.asof._carry_forward`` over one ``(by, ts_first)`` row per block:
    P + B small rows move, never P x B pairs or a decoded point. Block
    starts are unique per series (``blocks_for_asof``), so no reduce runs.
    """
    meta = blocks.select(*by, F.col("ts_first").alias(on))
    pcols = [c for c in probes.columns if c not in by and c != on]
    return _carry_forward(probes, meta, on, by, [], strict).select(
        *by,
        on,
        *pcols,
        F.col(f"_b_{on}").alias("_pick"),
        (F.col(f"_b_{on}") == F.col("_max_bts")).alias("_latest"),
    )


def blocks_for_asof(
    blocks: DataFrame,
    by: list[str],
    probes: DataFrame,
    on: str,
    strict: bool = False,
) -> DataFrame:
    """Per probe, the single block that can hold the as-of answer.

    Within a ``by`` series the blocks' point spans are disjoint and
    time-ordered, so the latest point at-or-before (``strict=False``) or
    strictly before (``strict=True``) a probe instant lies in the block
    with the greatest ``ts_first`` at-or-before / before it: every later
    block starts after the probe and holds no eligible point, and every
    eligible point of an earlier block precedes this block's own
    ``ts_first`` (itself an eligible point). The selection is a window
    over the block METADATA — one row per block, not per point — and a
    left-semi join on the picks. Returns the distinct selected blocks (at
    most min(P, B) of them); a null series key matches no block.
    """
    picks = _asof_picks(blocks, by, probes.select(*by, on), on, strict)
    return blocks.join(
        picks.select(*by, F.col("_pick").alias("ts_first")),
        [*by, "ts_first"],
        "left_semi",
    )


def serve_asof(
    blocks: DataFrame,
    keys: list[str],
    by: list[str],
    probes: DataFrame,
    on: str = "ts_ns",
    v0: str | None = "v0",
    v1: str | None = "v1",
    tie: str = "last",
    strict: bool = False,
) -> DataFrame:
    """Two-level as-of over the packed archive — the tfindex seek, made
    distributed (/root/reference/cmd/tfindex/tfindex.go:44-98 +
    series.go:58-244): level 1 picks, per probe, the one block that can
    hold the answer with one window over probes + block metadata (the
    selection ``blocks_for_asof`` makes); level 2 decodes each picked block
    once and answers its probes inside that decode by binary search
    (``codec.udfs.asof_in_blocks``). Decoded points never become rows.

    Equivalent to ``asof_join(probes, unpack_blocks(blocks, ...), ...)``
    with the stored (ts, seq) order as the tiebreaker — same matched rows
    AND the same SearchStatus — while decoding at most one block per probe
    instead of the whole archive. InFuture needs only the series' latest
    block: a probe picks an earlier block only when a later block starts
    after it. A probe with no pick (before the series, or a null series
    key) is InPast without reaching Python.

    ``keys``: the block-table group keys (e.g. [conv, day]); ``by``: the
    series keys for the as-of (e.g. [conv]) — a prefix of ``keys``.
    ``probes`` carries ``by`` + ``on`` (same int-ns domain as the packed
    timestamps) and any other columns, which pass through. Output columns:
    ``by``, ``on``, the other probe columns, ``m_<on>``, ``m_<v0>``,
    ``m_<v1>``, ``status``.

    Archive shapes: ``jobs/rollup_job.py`` writes gap-filled day blocks, so
    a probe at a minute with no turns inside a conversation's first-to-last
    data minute answers with a zero point; ``jobs/archiver_job.py
    --consolidate`` writes data points only, so it answers with the last
    data point.
    """
    from tmframe_spark.codec.udfs import asof_in_blocks

    missing = [c for c in by if c not in keys]
    if missing:
        raise ValueError(f"series keys {missing} are not block keys {keys}")
    # a null series key matches no block: with null-key blocks dropped, a
    # null-key probe gets a null ``_pick`` and leaves through the misses.
    # The probes are read once, by the one picks exchange both branches
    # share; the hits join matches series keys null-safely, because an
    # equi-join would push an inferred not-null filter into the hits
    # branch's copy of that exchange alone, and the planner would then
    # shuffle the probes twice
    keyed = reduce(lambda a, b: a & b, [F.col(c).isNotNull() for c in by])
    picks = _asof_picks(blocks.where(keyed), by, probes, on, strict)
    pcols = [c for c in probes.columns if c not in by and c != on]
    m_cols = [f"m_{c}" for c in (on, v0, v1) if c]
    hits = (
        picks.where(F.col("_pick").isNotNull())
        .groupBy(*[F.col(c).alias(f"_h_{c}") for c in by], "_pick", "_latest")
        .agg(F.collect_list(F.struct(on, *pcols)).alias("_probes"))
    )
    match = reduce(
        lambda a, b: a & b,
        [F.col(c).eqNullSafe(F.col(f"_h_{c}")) for c in by],
        F.col("ts_first") == F.col("_pick"),
    )
    # the picked side is small: broadcast it so the decode runs in the
    # block scan's own partitions, with no exchange before the pass
    answered = asof_in_blocks(
        blocks.join(F.broadcast(hits), match).select(
            *by, "frame", "_latest", "_probes"
        ),
        by,
        on,
        v0=v0,
        v1=v1,
        tie=tie,
        strict=strict,
    )
    misses = (
        picks.where(F.col("_pick").isNull())
        .select(
            *by,
            on,
            *pcols,
            *[F.lit(None).cast(answered.schema[c].dataType).alias(c) for c in m_cols],
            F.lit(IN_PAST).alias("status"),
        )
    )
    return answered.unionByName(misses)


def serve_range(
    blocks: DataFrame,
    keys: list[str],
    lo_ns: int,
    hi_ns: int,
    v0: str | None = "v0",
    v1: str | None = "v1",
) -> DataFrame:
    """Decode only the blocks overlapping [lo_ns, hi_ns] (inclusive), then
    keep exactly the in-range points.

    Equivalent to ``unpack_blocks(blocks, ...)`` filtered to the range, but
    the zone-map filter runs BEFORE the decode UDF — out-of-range blocks
    never leave storage, let alone cross the Arrow boundary.
    """
    from tmframe_spark.codec.udfs import unpack_blocks

    pruned = blocks_overlapping(blocks, lo_ns, hi_ns)
    pts = unpack_blocks(pruned, keys, v0=v0, v1=v1)
    return pts.where(
        (F.col("ts_ns") >= F.lit(int(lo_ns))) & (F.col("ts_ns") <= F.lit(int(hi_ns)))
    )
