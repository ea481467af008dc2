"""As-of point lookups — the reference's defining query semantics.

Reimplements the four Series searches (/root/reference/series.go:58-244):

    LastInForceBefore  -> strict=True,  tie='last'
    FirstInForceBefore -> strict=True,  tie='first'
    FirstAtOrBefore    -> strict=False, tie='first'
    LastAtOrBefore     -> strict=False, tie='last'

with the reference's SearchStatus (InPast / Avail / InFuture,
series.go:37-43) and exact tie handling (exhaustively specified by
series_test.go:12-662; transliterated into tests/test_asof.py).

Spark has no native as-of join. The scalable implementation here is a
*union-merge*: reduce the build side to one row per (key, ts) according to
the tie rule, union probe+build rows with an ordering flag, and carry the
last in-force build row forward with a running ``last(..., ignorenulls)``
window. One shuffle (window over the series key), no range-join blowup —
this is the plan shape that survives 10^12 turns, unlike the
probe x build range join + rank dedup (O(probe*build) pairs per key),
which we keep only as a small-data validation oracle in tests. The union
and window are ``_carry_forward``, shared with ops/serve's block picker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

IN_PAST, AVAIL, IN_FUTURE = "InPast", "Avail", "InFuture"


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    by: list[str],
    seq: str,
    value_cols: list[str],
    tie: str = "last",
    strict: bool = False,
    prefix: str = "b_",
) -> DataFrame:
    """For each probe row, attach the in-force build row and its status.

    on: timestamp column name present in both sides (any orderable type).
    by: series key columns (both sides).
    seq: build-side arrival-order tiebreaker column (the reference's stable
         sort order, sort.go:7-18 + series tie rules).
    value_cols: build columns to carry (returned as ``{prefix}{col}``; the
         matched build timestamp is ``{prefix}{on}`` and the matched seq
         ``{prefix}{seq}``).
    tie: 'first' | 'last' — which of the ties at the matched timestamp wins.
    strict: True -> build.ts <  probe.ts ("InForceBefore" variants)
            False -> build.ts <= probe.ts ("AtOrBefore" variants)
    """
    if tie not in ("first", "last"):
        raise ValueError("tie must be 'first' or 'last'")
    carry = [seq] + [c for c in value_cols if c != seq]

    # 1. reduce build to one row per (by, ts) under the tie rule — the
    #    reference's binary-searched tie selection (series.go) becomes a
    #    hash aggregate with min_by/max_by on the arrival seq: unlike a
    #    row_number window (sort-based, full rows through the shuffle),
    #    the aggregate combines map-side, so the exchange carries one row
    #    per (key, ts) even when ties are hot.
    pick = F.min_by if tie == "first" else F.max_by
    reduced = build.groupBy(*by, on).agg(
        *[pick(F.col(c), F.col(seq)).alias(c) for c in carry]
    )

    # 2. carry the in-force build row forward, then SearchStatus: InFuture
    #    past the series' largest build ts.
    status = (
        F.when(F.col(f"_b_{on}").isNull(), F.lit(IN_PAST))
        .when(F.col(on) > F.col("_max_bts"), F.lit(IN_FUTURE))
        .otherwise(F.lit(AVAIL))
    )
    return (
        _carry_forward(probe, reduced, on, by, carry, strict)
        .withColumn("status", status)
        .drop("_max_bts")
        .withColumnsRenamed({f"_b_{c}": f"{prefix}{c}" for c in [on, *carry]})
    )


def _carry_forward(probe, build, on, by, carry, strict) -> DataFrame:
    """The union-merge: probe rows unioned with build rows unique per
    (``by``, ``on``), ordered so a probe sorts before build rows at its
    instant when ``strict`` (<) and after them otherwise (<=); one window
    per series carries the last in-force build row forward. Returns the
    probe rows, all columns kept, plus ``_b_<on>`` (matched build instant,
    null if none), ``_b_<c>`` per ``carry`` column and ``_max_bts`` (the
    series' largest build instant)."""
    probe_pos, build_pos = (0, 1) if strict else (1, 0)
    pcols = [c for c in probe.columns if c not in by and c != on]
    bcols = {f"_b_{c}": c for c in [on, *carry]}  # carried <- build column
    p = probe.select(
        *by,
        on,
        *pcols,
        F.lit(probe_pos).alias("_pos"),
        *[F.lit(None).cast(build.schema[c].dataType).alias(n) for n, c in bcols.items()],
    )
    b = build.select(
        *by,
        on,
        *[F.lit(None).cast(probe.schema[c].dataType).alias(c) for c in pcols],
        F.lit(build_pos).alias("_pos"),
        *[F.col(c).alias(n) for n, c in bcols.items()],
    )
    run = (
        Window.partitionBy(*by)
        .orderBy(F.col(on).asc(), F.col("_pos").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        p.unionByName(b)
        .select(
            *by,
            on,
            *pcols,
            "_pos",
            *[F.last(n, ignorenulls=True).over(run).alias(n) for n in bcols],
            F.max(f"_b_{on}").over(Window.partitionBy(*by)).alias("_max_bts"),
        )
        .where(F.col("_pos") == F.lit(probe_pos))
        .drop("_pos")
    )


def last_in_force_before(probe, build, **kw):
    """series.go:77-96 — strictly before, last of ties."""
    return asof_join(probe, build, tie="last", strict=True, **kw)


def first_in_force_before(probe, build, **kw):
    """series.go:101-152 — strictly before, first of ties."""
    return asof_join(probe, build, tie="first", strict=True, **kw)


def first_at_or_before(probe, build, **kw):
    """series.go:157-197 — at-or-before, first of ties."""
    return asof_join(probe, build, tie="first", strict=False, **kw)


def last_at_or_before(probe, build, **kw):
    """series.go:202-244 — at-or-before, last of ties (classic as-of join)."""
    return asof_join(probe, build, tie="last", strict=False, **kw)
