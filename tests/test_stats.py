"""Cross-series correlation + cohort retention (ops/stats.py) against
sequential references — exact integer moments bit-equal, the IEEE corr
reproduced by the same pinned operation order in numpy doubles."""

import datetime
import math

from tmframe_spark.ops.stats import cohort_retention, rolling_corr

T0 = datetime.datetime(2024, 5, 1)


def _two_series(spark, xs, ys, conv="c0"):
    rows = [
        (conv, T0 + datetime.timedelta(hours=i), int(x), int(y))
        for i, (x, y) in enumerate(zip(xs, ys))
    ]
    return spark.createDataFrame(
        rows, "conv_id string, bucket timestamp, turns long, token_volume long"
    )


def _ref_corr(xs, ys, window, min_n):
    out = {}
    for i in range(len(xs)):
        lo = max(0, i - window + 1)
        wx, wy = xs[lo : i + 1], ys[lo : i + 1]
        n = len(wx)
        if n < min_n:
            continue
        sx, sy = sum(wx), sum(wy)
        sxx = sum(v * v for v in wx)
        syy = sum(v * v for v in wy)
        sxy = sum(a * b for a, b in zip(wx, wy))
        vx, vy = n * sxx - sx * sx, n * syy - sy * sy
        corr = (
            float(n * sxy - sx * sy) / math.sqrt(float(vx) * float(vy))
            if vx > 0 and vy > 0
            else None
        )
        out[i] = (n, sx, sy, sxx, syy, sxy, corr)
    return out


def test_rolling_corr_matches_reference_bitwise(spark):
    xs = [(i * 7) % 5 + 1 for i in range(60)]
    ys = [3 * x + (i % 4) for i, x in enumerate(xs)]  # strongly correlated
    got = rolling_corr(_two_series(spark, xs, ys), window=12, min_n=6).collect()
    ref = _ref_corr(xs, ys, 12, 6)
    assert len(got) == len(ref)
    for r in got:
        i = (r["bucket"] - T0).days * 24 + (r["bucket"] - T0).seconds // 3600
        n, sx, sy, sxx, syy, sxy, corr = ref[i]
        assert (r["n"], r["sx"], r["sy"], r["sxx"], r["syy"], r["sxy"]) == (
            n, sx, sy, sxx, syy, sxy
        )
        if corr is None:
            assert r["corr"] is None
        else:
            # IEEE bit-equality: same exact ints, same operation order
            assert r["corr"] == corr
        assert corr is None or corr > 0.8  # planted strong correlation


def test_rolling_corr_degenerate_window_is_null(spark):
    xs = [5] * 30  # zero variance in x
    ys = list(range(30))
    got = rolling_corr(_two_series(spark, xs, ys), window=10, min_n=5).collect()
    assert len(got) > 0
    assert all(r["corr"] is None for r in got)


def test_cohort_retention_reference(spark):
    rows = []
    # cohort A (day 0): convs a0, a1 — a0 active days 0,1,3; a1 day 0 only
    for c, days in [("a0", [0, 1, 3]), ("a1", [0])]:
        for d in days:
            rows.append((c, 0, "user", "x", None, T0 + datetime.timedelta(days=d, hours=2)))
    # cohort B (day 2): b0 active days 2, 4
    for d in [2, 4]:
        rows.append(("b0", 0, "user", "x", None, T0 + datetime.timedelta(days=d)))
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    got = {
        (r["cohort_day"].day, r["offset_days"]): r["n_convs"]
        for r in cohort_retention(t).collect()
    }
    assert got == {(1, 0): 2, (1, 1): 1, (1, 3): 1, (3, 0): 1, (3, 2): 1}
    capped = cohort_retention(t, max_offset_days=1).collect()
    assert {(r["cohort_day"].day, r["offset_days"]) for r in capped} == {
        (1, 0), (1, 1), (3, 0)
    }


def test_stats_empty_inputs(spark):
    rolled = spark.createDataFrame(
        [], "conv_id string, bucket timestamp, turns long, token_volume long"
    )
    assert rolling_corr(rolled).count() == 0
    t = spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    assert cohort_retention(t).count() == 0


def _ref_mase(values, season):
    errs = [abs(values[i] - values[i - season]) for i in range(season, len(values))]
    naive = [abs(values[i] - values[i - 1]) for i in range(1, len(values))]
    nf, es = len(errs), sum(errs)
    nn, ns = len(naive), sum(naive)
    mase = float(es * nn) / float(nf * ns) if nf > 0 and ns > 0 else None
    return nf, es, nn, ns, mase


def _mase_row(spark, values, season=4, conv="c0"):
    from tmframe_spark.ops.stats import seasonal_naive_backtest

    rows = [
        (conv, T0 + datetime.timedelta(hours=i), int(v))
        for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(rows, "conv_id string, bucket timestamp, token_volume long")
    return seasonal_naive_backtest(df, "token_volume", season=season).collect()[0]


def test_mase_matches_reference_bitwise(spark):
    values = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7, 9, 3, 2, 3, 8, 4]
    r = _mase_row(spark, values, season=4)
    nf, es, nn, ns, mase = _ref_mase(values, 4)
    assert (
        r["n_forecasts"], r["err_abs_sum"], r["n_naive"], r["naive_abs_sum"]
    ) == (nf, es, nn, ns)
    assert r["mase"] == mase  # one division of exact ints: bit-equal


def test_mase_perfectly_seasonal_series_is_zero(spark):
    values = [10, 2, 7, 5] * 5  # exact period-4 repetition
    r = _mase_row(spark, values, season=4)
    assert r["err_abs_sum"] == 0 and r["mase"] == 0.0


def test_mase_constant_series_is_null(spark):
    r = _mase_row(spark, [7] * 12, season=4)
    assert r["naive_abs_sum"] == 0 and r["mase"] is None


def test_mase_short_series_no_forecasts(spark):
    r = _mase_row(spark, [1, 5, 2], season=4)
    assert r["n_forecasts"] == 0 and r["mase"] is None
    assert r["n_naive"] == 2


def test_mase_partition_isolated_per_conv(spark):
    from tmframe_spark.ops.stats import seasonal_naive_backtest

    a = [(f"c{j}", T0 + datetime.timedelta(hours=i), int(i * (j + 1)))
         for j in range(2) for i in range(10)]
    df = spark.createDataFrame(a, "conv_id string, bucket timestamp, token_volume long")
    out = {r["conv_id"]: r for r in
           seasonal_naive_backtest(df, "token_volume", season=4).collect()}
    for j in range(2):
        nf, es, nn, ns, mase = _ref_mase([i * (j + 1) for i in range(10)], 4)
        r = out[f"c{j}"]
        assert (r["n_forecasts"], r["err_abs_sum"], r["n_naive"],
                r["naive_abs_sum"], r["mase"]) == (nf, es, nn, ns, mase)


def test_rolling_median_matches_reference(spark):
    import statistics

    from tmframe_spark.ops.stats import rolling_median

    values = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7, 9, 3, 2, 3, 8, 4, 6]
    rows = [("c0", T0 + datetime.timedelta(hours=i), int(v))
            for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "conv_id string, bucket timestamp, token_volume long")
    out = {r["bucket"]: (r["value"], r["med"], r["abs_dev"])
           for r in rolling_median(df, "token_volume", window=5).collect()}
    # full centered frames exist for i in [2, len-3]
    assert len(out) == len(values) - 4
    for i in range(2, len(values) - 2):
        med = statistics.median(values[i - 2 : i + 3])
        got = out[T0 + datetime.timedelta(hours=i)]
        assert got == (values[i], med, abs(values[i] - med)), i


def test_rolling_median_spike_resistant(spark):
    from tmframe_spark.ops.stats import rolling_median

    values = [10] * 9
    values[4] = 10_000  # single spike
    rows = [("c0", T0 + datetime.timedelta(hours=i), int(v))
            for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "conv_id string, bucket timestamp, token_volume long")
    meds = [r["med"] for r in rolling_median(df, "token_volume", window=5).collect()]
    assert meds == [10] * 5  # the median never follows the spike


def test_rolling_median_even_window_rejected(spark):
    from tmframe_spark.ops.stats import rolling_median

    df = spark.createDataFrame([], "conv_id string, bucket timestamp, token_volume long")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="odd"):
        rolling_median(df, window=4)


def _ref_ewma(values, k=3):
    out = []
    s = None
    for v in values:
        vq = int(v) << k
        s = vq if s is None else s + ((vq - s) >> k)
        out.append(s)
    return out


def test_ewma_matches_reference(spark):
    from tmframe_spark.ops.stats import ewma

    values = [100, 0, 0, 50, 7, 7, 7, 9000, 0, 0, 0, 3]
    rows = [("c0", T0 + datetime.timedelta(hours=i), int(v))
            for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "conv_id string, bucket timestamp, token_volume long")
    got = [ (r["ewma_q"], r["ewma"])
            for r in ewma(df, "token_volume", k=3).orderBy("bucket").collect() ]
    ref = _ref_ewma(values, 3)
    assert [q for q, _ in got] == ref
    for (q, e), rq in zip(got, ref):
        assert e == rq / 8.0  # one IEEE division of the exact int


def test_ewma_partitioning_and_batch_carry(spark):
    # tiny Arrow batches force cross-batch state carry; different input
    # partitionings must not change a single state value
    from tmframe_spark.ops.stats import ewma

    rows = [(f"c{j}", T0 + datetime.timedelta(hours=i), (i * 7 + j) % 23)
            for j in range(3) for i in range(200)]
    df = spark.createDataFrame(rows, "conv_id string, bucket timestamp, token_volume long")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        a = {(r["conv_id"], r["bucket"]): r["ewma_q"]
             for r in ewma(df.repartition(11), "token_volume").collect()}
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    b = {(r["conv_id"], r["bucket"]): r["ewma_q"]
         for r in ewma(df.repartition(2), "token_volume").collect()}
    assert a == b
    for j in range(3):
        ref = _ref_ewma([(i * 7 + j) % 23 for i in range(200)], 3)
        got = [a[(f"c{j}", T0 + datetime.timedelta(hours=i))] for i in range(200)]
        assert got == ref


def test_ewma_value_domain_fails_closed_on_both_routes(spark):
    # declared domain |value| < 2^(62-k): the scalar route (one dominant
    # group) and the transposed route (>= 64 groups) must agree at the
    # edge and both raise the same ValueError just past it — never a
    # silent int64 wrap on one route only
    import pytest as _pytest

    from tmframe_spark.ops.stats import ewma

    k = 3
    edge = (1 << (62 - k)) - 1

    def run(c0_vals, n_other):
        rows = [("c0", T0 + datetime.timedelta(hours=i), v)
                for i, v in enumerate(c0_vals)]
        rows += [(f"o{j:03d}", T0 + datetime.timedelta(hours=i), 1)
                 for j in range(n_other) for i in range(len(c0_vals))]
        df = spark.createDataFrame(
            rows, "conv_id string, bucket timestamp, token_volume long"
        )
        out = ewma(df, "token_volume", k=k).where("conv_id = 'c0'")
        return [r["ewma_q"] for r in out.orderBy("bucket").collect()]

    series = [edge, -edge, edge, 0, edge, edge, -edge]
    scalar = run(series, 0)      # one group: the scalar route
    transposed = run(series, 70)  # 71 groups: the transposed route
    assert scalar == transposed == _ref_ewma(series, k)
    for bad in (edge + 1, -(edge + 1)):
        for n_other in (0, 70):
            with _pytest.raises(Exception, match=f"must be < 2\\^{62 - k}"):
                run(series[:3] + [bad], n_other)


def test_ewma_k_validation(spark):
    from tmframe_spark.ops.stats import ewma

    df = spark.createDataFrame([], "conv_id string, bucket timestamp, token_volume long")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="ewma k"):
        ewma(df, k=0)


def test_ewma_plan_shape_single_exchange_no_grouped_pandas(spark):
    # the scale contract: ONE conv-keyed exchange (the repartition), a
    # partition-local sort, and a streaming mapInPandas — never a
    # FlatMapGroupsInPandas (whole-group materialization)
    from tmframe_spark.ops.stats import ewma

    rows = [("c0", T0 + datetime.timedelta(hours=i), i) for i in range(50)]
    df = spark.createDataFrame(rows, "conv_id string, bucket timestamp, token_volume long")
    plan = ewma(df)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_interarrival_fano_matches_reference(spark):
    from tmframe_spark.ops.stats import interarrival_stats

    gaps = [10, 10, 10, 1, 1, 300, 10]  # seconds; bursty
    ts, acc = [T0], 0
    for g in gaps:
        acc += g
        ts.append(T0 + datetime.timedelta(seconds=acc))
    rows = [("c0", i, t) for i, t in enumerate(ts)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx long, ts timestamp")
    r = interarrival_stats(df).collect()[0]
    ms = [g * 1_000 for g in gaps]
    n, s, sq = len(ms), sum(ms), sum(g * g for g in ms)
    assert (r["n_gaps"], r["sum_gap_ms"], r["sum_gap_sq"]) == (n, s, sq)
    assert r["fano"] == float(n * sq - s * s) / float(n * s)


def test_interarrival_fano_poisson_vs_regular(spark):
    # regular cadence -> fano 0; bursty -> large
    from tmframe_spark.ops.stats import interarrival_stats

    reg = [("r", i, T0 + datetime.timedelta(seconds=10 * i)) for i in range(50)]
    burst = [("b", i, T0 + datetime.timedelta(seconds=(i % 10) + (i // 10) * 3600))
             for i in range(50)]
    df = spark.createDataFrame(reg + burst, "conv_id string, turn_idx long, ts timestamp")
    out = {r["conv_id"]: r["fano"] for r in interarrival_stats(df).collect()}
    assert out["r"] == 0.0
    assert out["b"] > 1_000  # hour-scale bursts vs second-scale mean (ms units)


def test_interarrival_single_turn_null(spark):
    from tmframe_spark.ops.stats import interarrival_stats

    df = spark.createDataFrame(
        [("c0", 0, T0), ("c1", 0, T0), ("c1", 1, T0 + datetime.timedelta(seconds=5))],
        "conv_id string, turn_idx long, ts timestamp",
    )
    out = {r["conv_id"]: r for r in interarrival_stats(df).collect()}
    assert "c0" not in out  # zero gaps -> no row (no gap ever observed)
    assert out["c1"]["n_gaps"] == 1 and out["c1"]["fano"] is None


def test_role_transitions_reference(spark):
    from tmframe_spark.ops.stats import role_transitions

    rows = [
        ("c0", 0, "user", T0),
        ("c0", 1, "assistant", T0 + datetime.timedelta(seconds=1)),
        ("c0", 2, "tool", T0 + datetime.timedelta(seconds=2)),
        ("c0", 3, "assistant", T0 + datetime.timedelta(seconds=3)),
        ("c1", 0, "user", T0),
        ("c1", 1, "assistant", T0 + datetime.timedelta(seconds=1)),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx long, role string, ts timestamp")
    got = {(r["role_from"], r["role_to"]): r["n"]
           for r in role_transitions(df).collect()}
    assert got == {
        ("user", "assistant"): 2,
        ("assistant", "tool"): 1,
        ("tool", "assistant"): 1,
    }
