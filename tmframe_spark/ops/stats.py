"""Cross-series and cohort statistics over rolled tiers.

Same cross-engine determinism discipline as ops/anomaly.py: every
windowed moment is an EXACT int64 (counts, sums, sums of products of
integer tier values); the one float column (``corr``) is derived from
those integers by IEEE operations in a pinned order (int -> double casts
are exact below 2^53; multiply, sqrt and divide are correctly rounded),
so even the float bit-compares across engines — the lttb_downsample
precedent, extended to a sqrt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def rolling_corr(
    rolled: DataFrame,
    x_col: str = "turns",
    y_col: str = "token_volume",
    window: int = 24,
    min_n: int = 12,
) -> DataFrame:
    """Rolling Pearson correlation between two tier series of the same
    conversation: over the ``window`` most recent observed buckets
    (ROWS frame ending at the current row), emit the exact integer
    cross-moments (n, sx, sy, sxx, syy, sxy) and the correlation

        corr = (n*sxy - sx*sy) / sqrt((n*sxx - sx^2) * (n*syy - sy^2))

    computed int-exact up to the final three IEEE steps (multiply, sqrt,
    divide — correctly rounded, cross-engine identical). Degenerate
    windows (either variance 0) yield corr NULL rather than NaN/inf.

    One conv-keyed shuffle; the window is codegen. Overflow bound:
    |n*sxy| <= W^2 * Vx * Vy must stay under 2^63 — at W=24 that holds to
    Vx*Vy ~ 1.6e16 (e.g. turns * token_volume tiers comfortably).
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    w = (
        Window.partitionBy("conv_id")
        .orderBy("bucket")
        .rowsBetween(-(window - 1), 0)
    )
    n = F.count(F.lit(1)).over(w)
    scored = rolled.select(
        "conv_id",
        "bucket",
        n.cast("long").alias("n"),
        F.sum(x).over(w).cast("long").alias("sx"),
        F.sum(y).over(w).cast("long").alias("sy"),
        F.sum(x * x).over(w).cast("long").alias("sxx"),
        F.sum(y * y).over(w).cast("long").alias("syy"),
        F.sum(x * y).over(w).cast("long").alias("sxy"),
    ).where(F.col("n") >= min_n)
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return scored.withColumn(
        "corr",
        F.when(
            (vx > 0) & (vy > 0),
            cov.cast("double")
            / F.sqrt(vx.cast("double") * vy.cast("double")),
        ),
    )


def cohort_retention(
    transcripts: DataFrame,
    max_offset_days: int | None = None,
) -> DataFrame:
    """Cohort retention curve: conversations grouped by their FIRST active
    day; for each (cohort_day, offset_days) the number of cohort
    conversations active that many days later. All integers.

    Scale shape: one conv-keyed aggregate for cohorts, one distinct over
    (conv, day) — both map-side combinable — and a conv-keyed join; the
    output is |cohort| x |offset| sized, tiny at any corpus scale.
    """
    day = F.date_trunc("day", "ts").alias("day")
    cohorts = transcripts.groupBy("conv_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("cohort_day")
    )
    active = transcripts.select("conv_id", day).distinct()
    joined = active.join(cohorts, "conv_id").select(
        "cohort_day",
        F.datediff("day", "cohort_day").cast("long").alias("offset_days"),
        "conv_id",
    )
    if max_offset_days is not None:
        joined = joined.where(F.col("offset_days") <= max_offset_days)
    return joined.groupBy("cohort_day", "offset_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_convs")
    )


def seasonal_naive_backtest(
    rolled: DataFrame,
    value_col: str = "token_volume",
    season: int = 24,
) -> DataFrame:
    """Seasonal-naive forecast backtest with an exact-integer MASE
    (Hyndman & Koehler 2006) per conversation, over a GAP-FILLED tier —
    the dense spine makes ``lag(season)`` exactly "this bucket one season
    ago".

    Forecast f_t = v_{t-season}; scale = the in-sample one-step naive
    error. Everything up to the last step is exact int64:

        mase = (err_abs_sum * n_naive) / (n_forecasts * naive_abs_sum)

    — ONE IEEE division of two exact integer products, so the float
    bit-compares across engines (the rolling_corr / lttb discipline).
    NULL when no forecastable rows or the series is constant
    (naive_abs_sum = 0; mase undefined). mase < 1 means the seasonal
    forecast beats the naive one.

    Scale shape: one conv-keyed shuffle; both lags ride the same window
    sort; the output is one row per conversation. Overflow bound:
    err_abs_sum * n_naive <= n_buckets^2 * V must stay under 2^63 —
    ~3e9 hourly bucket-years at V=1e6 chars/hour.
    """
    w = Window.partitionBy("conv_id").orderBy("bucket")
    v = F.col(value_col).cast("long")
    f = F.lag(v, season).over(w)
    prev = F.lag(v, 1).over(w)
    per_row = rolled.select(
        "conv_id",
        F.when(f.isNotNull(), F.abs(v - f)).alias("_e"),
        F.when(prev.isNotNull(), F.abs(v - prev)).alias("_n"),
    )
    agg = per_row.groupBy("conv_id").agg(
        F.count("_e").alias("n_forecasts"),
        F.coalesce(F.sum("_e"), F.lit(0)).cast("long").alias("err_abs_sum"),
        F.count("_n").alias("n_naive"),
        F.coalesce(F.sum("_n"), F.lit(0)).cast("long").alias("naive_abs_sum"),
    )
    return agg.select(
        "conv_id",
        "n_forecasts",
        "err_abs_sum",
        "n_naive",
        "naive_abs_sum",
        F.when(
            (F.col("n_forecasts") > 0) & (F.col("naive_abs_sum") > 0),
            (F.col("err_abs_sum") * F.col("n_naive")).cast("double")
            / (F.col("n_forecasts") * F.col("naive_abs_sum")).cast("double"),
        ).alias("mase"),
    )


def rolling_median(
    rolled: DataFrame,
    value_col: str = "token_volume",
    window: int = 25,
) -> DataFrame:
    """Centered rolling-median trend (classic ``runmed``) over a tier
    series, plus the absolute deviation from it — the robust
    trend/residual split (a median ignores the spike a mean chases).

    ``window`` must be ODD; the frame is the (window-1)/2 buckets on each
    side and a row is emitted only when the frame is FULL, so the median
    is always the exact middle order statistic of ``window`` int64 values
    — no interpolation, no float, bit-stable across engines (DuckDB's
    quantile_disc picks the identical element).

    Scale shape: one conv-keyed shuffle; the window is codegen but
    materializes ``window`` values per row (collect_list + array_sort) —
    O(window) per-row cost, fine for trend windows (tens to low
    thousands), not a substitute for the histogram tier at huge windows
    (rollup_histogram re-aggregates; this does not).
    """
    if window % 2 == 0 or window < 1:
        raise ValueError(f"rolling_median window must be odd, got {window}")
    half = (window - 1) // 2
    w = Window.partitionBy("conv_id").orderBy("bucket").rowsBetween(-half, half)
    v = F.col(value_col).cast("long")
    mid = (window + 1) // 2
    med = F.element_at(F.array_sort(F.collect_list(v).over(w)), mid)
    n = F.count(F.lit(1)).over(w)
    return (
        rolled.select(
            "conv_id",
            "bucket",
            v.alias("value"),
            n.alias("_n"),
            med.alias("med"),
        )
        .where(F.col("_n") == window)
        .select(
            "conv_id",
            "bucket",
            "value",
            F.col("med").cast("long").alias("med"),
            F.abs(F.col("value") - F.col("med")).cast("long").alias("abs_dev"),
        )
    )


def check_ewma_domain(vals, k: int, what: str) -> None:
    """Fail closed outside ewma's declared domain |value| < 2^(62-k)."""
    lim = 1 << (62 - k)
    bad = (vals >= lim) | (vals <= -lim)
    if bad.any():
        raise ValueError(
            f"ewma: |{what}| must be < 2^{62 - k} at k={k} "
            f"(the Q_k state is int64); got {vals[bad][0]}"
        )


def ewma(
    rolled: DataFrame,
    value_col: str = "token_volume",
    k: int = 3,
) -> DataFrame:
    """Exponentially weighted moving average over a tier series with
    alpha = 1/2^k, as an EXACT integer recurrence:

        S_0 = v_0 << k
        S_i = S_{i-1} + ((v_i << k) - S_{i-1}) >> k     (arithmetic shift
                                                         = floor division)

    so the Q_k fixed-point state ``ewma_q`` is deterministic and
    engine-comparable (the float ``ewma`` is ewma_q / 2^k — ONE IEEE
    division of an exact int). Rounding floors each step, so ewma_q is
    within 1 of the real-valued EWMA times 2^k at every step.

    Scale shape: the recurrence is inherently sequential PER CONVERSATION,
    so this is a repartition-by-conv + sorted streaming mapInPandas whose
    carried state is ONE int64 per conversation. r7: the per-row Python
    step is gone on the common shape — groups are contiguous under the
    partition sort, so the batch is processed TRANSPOSED: iteration j
    applies one vectorized numpy step to row j of EVERY group at once
    (max-group-length iterations of whole-array ops instead of n Python
    steps). When one group dominates the batch (max group length > n/8,
    or > n/2 in a batch of 64+ groups), where the transpose would
    degenerate into per-row vector calls, the scalar loop runs instead —
    it doubles as the semantics twin.
    The recurrence itself is unchanged and exact: arithmetic >> on int64
    is the same floor shift in numpy and Python.

    Declared value domain: ``|value| < 2^(62-k)``, so ``v << k`` and every
    state difference fit int64. Each Arrow batch is checked BEFORE the
    route is chosen and an out-of-domain value raises the same ValueError
    on both routes — the numpy shift would otherwise wrap silently while
    the scalar twin's Python ints only failed later, making the outcome
    depend on batch composition.
    """
    import numpy as _np
    import pandas as _pd
    from pyspark.sql.types import LongType, StructType

    if k < 1 or k > 30:
        raise ValueError(f"ewma k must be in [1, 30], got {k}")
    shift = k

    src = rolled.select(
        "conv_id", "bucket", F.col(value_col).cast("long").alias("value")
    )
    out_schema = StructType(list(src.schema.fields)).add("ewma_q", LongType())

    def run(batches):
        state: dict = {}
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            vals = pdf["value"].to_numpy()
            check_ewma_domain(vals, shift, value_col)
            convs = pdf["conv_id"].to_numpy()
            change = _np.empty(n, dtype=bool)
            change[0] = True
            _np.not_equal(convs[1:], convs[:-1], out=change[1:])
            gstarts = _np.flatnonzero(change)
            lengths = _np.diff(_np.append(gstarts, n))
            max_len = int(lengths.max())
            if max_len <= n // 8 or (len(gstarts) >= 64 and max_len <= n // 2):
                # transposed vector scan (groups in parallel)
                G = len(gstarts)
                S = _np.zeros(G, dtype=_np.int64)
                has = _np.zeros(G, dtype=bool)
                for g, si in enumerate(gstarts.tolist()):
                    st = state.get(convs[si])
                    if st is not None:
                        S[g], has[g] = st, True
                out = _np.empty(n, dtype=_np.int64)
                vq = vals.astype(_np.int64) << shift
                for j in range(max_len):
                    act = lengths > j
                    rows = gstarts[act] + j
                    v = vq[rows]
                    sa = S[act]
                    stepped = sa + ((v - sa) >> shift)
                    if j == 0:
                        stepped = _np.where(has[act], stepped, v)
                    S[act] = stepped
                    out[rows] = stepped
                for g, si in enumerate(gstarts.tolist()):
                    state[convs[si]] = int(S[g])
            else:
                # scalar twin: one group dominates; also the reference
                # semantics in plain python
                out = [0] * n
                for i in range(n):
                    c = convs[i]
                    v = int(vals[i]) << shift
                    s = state.get(c)
                    s = v if s is None else s + ((v - s) >> shift)
                    state[c] = s
                    out[i] = s
            pdf = pdf.copy()
            pdf["ewma_q"] = _pd.Series(out, index=pdf.index, dtype="int64")
            yield pdf

    from tmframe_spark.ops.sizing import cpu_stage_partitions

    # explicit, scale-adaptive pin (r7): the old repartition("conv_id")
    # was REPARTITION_BY_COL, which AQE byte-coalesces — serializing the
    # scan onto one task for tiny-byte tier series
    smoothed = (
        src.repartition(cpu_stage_partitions(src), "conv_id")
        .sortWithinPartitions("conv_id", "bucket")
        .mapInPandas(run, out_schema)
    )
    return smoothed.select(
        "conv_id",
        "bucket",
        "value",
        "ewma_q",
        (F.col("ewma_q").cast("double") / F.lit(float(1 << shift))).alias("ewma"),
    )


def interarrival_stats(
    transcripts: DataFrame,
) -> DataFrame:
    """Per-conversation inter-arrival burstiness: exact integer moments of
    the MILLISECOND gaps between consecutive turns, plus the Fano factor
    (variance-to-mean ratio, in ms units — ~1 for Poisson-at-1/ms
    arrivals; what matters operationally is the ORDERING: regular cadence
    ~0, bursty agent traffic orders of magnitude higher):

        fano = (n * sum_gap_sq - sum_gap^2) / (n * sum_gap)

    — ONE IEEE division of exact int64 products (the rolling_corr
    discipline), so the float bit-compares across engines. NULL when
    fewer than two gaps or all gaps zero. One conv-keyed shuffle; the lag
    rides the window sort.

    Milliseconds, not microseconds, are the deliberate unit: a single
    month-long gap in us would overflow sum(g^2) past 2^63 (ANSI mode
    fails loudly, not silently — measured). In ms the STORED moments fit
    int64 to ~35-day single gaps / ~1e4 day-scale gaps per conversation;
    the final contrast n*sum_sq - sum^2 can still exceed 2^63 on real
    feeds (measured on the driver corpus), so it is computed in EXACT
    decimal(38,0) — the mixture_sample HUGEINT precedent — and the two
    decimal->double casts before the one division are correctly rounded
    on both engines.
    """
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    # transcripts carry TIMESTAMP_NTZ; the session runs UTC, so the cast
    # to (ltz) TIMESTAMP is epoch-exact and unix_millis accepts it
    ms = (F.unix_millis(F.col("ts").cast("timestamp"))).cast("long")
    gap = ms - F.lag(ms, 1).over(w)
    per = transcripts.select("conv_id", gap.alias("_g")).where(
        F.col("_g").isNotNull()
    )
    agg = per.groupBy("conv_id").agg(
        F.count("_g").alias("n_gaps"),
        F.sum("_g").cast("long").alias("sum_gap_ms"),
        F.sum(F.col("_g") * F.col("_g")).cast("long").alias("sum_gap_sq"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = dec("n_gaps") * dec("sum_gap_sq") - dec("sum_gap_ms") * dec("sum_gap_ms")
    den = dec("n_gaps") * dec("sum_gap_ms")
    return agg.select(
        "conv_id",
        "n_gaps",
        "sum_gap_ms",
        "sum_gap_sq",
        F.when(
            (F.col("n_gaps") >= 2) & (F.col("sum_gap_ms") > 0),
            num.cast("double") / den.cast("double"),
        ).alias("fano"),
    )


def role_transitions(transcripts: DataFrame) -> DataFrame:
    """Turn-taking transition matrix: counts of (role_from, role_to) over
    consecutive turns within each conversation, aggregated corpus-wide —
    the conversation-flow fingerprint (user->assistant vs assistant->tool
    chains etc.). All integers; one conv-keyed window + one
    map-side-combined aggregate over a |roles|^2-sized output."""
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    prev = F.lag("role", 1).over(w)
    return (
        transcripts.select(prev.alias("role_from"), F.col("role").alias("role_to"))
        .where(F.col("role_from").isNotNull())
        .groupBy("role_from", "role_to")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
