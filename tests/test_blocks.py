"""Block codec (delta-of-delta + Gorilla XOR) round-trip and size tests."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from tmframe_spark.codec import blocks as bk


def roundtrip(ts, v0=None, v1=None):
    buf = bk.encode_block(ts, v0, v1)
    return buf, bk.decode_block(buf)


def test_single_point():
    buf, (ts, v0, v1) = roundtrip([123456789], [3.14], [42])
    assert ts.tolist() == [123456789]
    assert v0.tolist() == [3.14]
    assert v1.tolist() == [42]


def test_regular_cadence_compresses_hard():
    # perfectly regular 1-minute cadence, constant value: dod==0 / xor==0
    n = 10_000
    ts = np.arange(n, dtype=np.int64) * 60_000_000_000 + 1_700_000_000_000_000_000
    v0 = np.full(n, 7.5)
    v1 = np.arange(n, dtype=np.int64)  # constant delta => dod 0 after first
    buf, (ts2, v02, v12) = roundtrip(ts, v0, v1)
    np.testing.assert_array_equal(ts, ts2)
    np.testing.assert_array_equal(v0, v02)
    np.testing.assert_array_equal(v1, v12)
    # ~3 streams * (64 raw + ~1 bit/point) + header << raw 24B/point
    assert len(buf) < n  # under 1 byte per 24-byte-raw point
    raw = 24 * n
    assert len(buf) * 20 < raw  # >20x compression on the regular path


def test_irregular_jittered_points():
    rng = np.random.default_rng(42)
    n = 5000
    ts = np.cumsum(rng.integers(0, 10**10, n)).astype(np.int64)
    v0 = rng.normal(100, 25, n)
    v1 = rng.integers(-(2**40), 2**40, n).astype(np.int64)
    buf, (ts2, v02, v12) = roundtrip(ts, v0, v1)
    np.testing.assert_array_equal(ts, ts2)
    # bit-for-bit float equality, not approx
    np.testing.assert_array_equal(v0.view(np.uint64), v02.view(np.uint64))
    np.testing.assert_array_equal(v1, v12)


def test_ties_and_zero_deltas():
    ts = np.array([8, 8, 8, 16, 16, 24], dtype=np.int64)
    buf, (ts2, _, _) = roundtrip(ts)
    np.testing.assert_array_equal(ts, ts2)


def test_special_floats_bit_exact():
    v0 = np.array(
        [0.0, -0.0, np.nan, np.inf, -np.inf, np.finfo(np.float64).tiny, 1e308]
    )
    ts = np.arange(7, dtype=np.int64)
    _, (ts2, v02, _) = roundtrip(ts, v0)
    np.testing.assert_array_equal(v0.view(np.uint64), v02.view(np.uint64))


def test_optional_streams():
    ts = np.array([1, 2, 3], dtype=np.int64)
    _, (t, a, b) = roundtrip(ts)
    assert a is None and b is None
    _, (t, a, b) = roundtrip(ts, None, np.array([9, 9, 9], dtype=np.int64))
    assert a is None and b.tolist() == [9, 9, 9]


def test_empty_block_rejected():
    with pytest.raises(ValueError):
        bk.encode_block([])


def test_bad_magic_rejected():
    with pytest.raises(ValueError):
        bk.decode_block(b"XX" + b"\x00" * 16)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**61), min_size=1, max_size=200),
    st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64),
        min_size=1,
        max_size=200,
    ),
)
def test_property_roundtrip(ts_raw, v0_raw):
    n = min(len(ts_raw), len(v0_raw))
    ts = np.sort(np.asarray(ts_raw[:n], dtype=np.int64))
    v0 = np.asarray(v0_raw[:n], dtype=np.float64)
    v1 = (ts // 7 - 2**40).astype(np.int64)
    _, (ts2, v02, v12) = roundtrip(ts, v0, v1)
    np.testing.assert_array_equal(ts, ts2)
    np.testing.assert_array_equal(v0.view(np.uint64), v02.view(np.uint64))
    np.testing.assert_array_equal(v1, v12)


def test_unpack_projected_input_stays_bounded_and_equal(spark):
    """unpack_blocks without the n_points column: the header peek recovers
    per-block counts so the output-memory bound holds, and the decode is
    identical to the full-column path."""
    from pyspark.sql import functions as F

    from tmframe_spark.codec.blocks import peek_block_n_points
    from tmframe_spark.codec.udfs import pack_blocks, unpack_blocks

    pts = (
        spark.range(0, 5000)
        .selectExpr(
            "concat('c', id % 7) AS conv_id",
            "'g' AS grp",
            "cast(id * 8000 as long) AS ts_ns",
            "cast(id % 13 as double) AS v0",
            "cast(id % 5 as long) AS v1",
        )
    )
    blocks = pack_blocks(pts, ["conv_id", "grp"], v0="v0", v1="v1").localCheckpoint()
    # driver-side: the header peek equals the stored n_points stat
    for r in blocks.select("n_points", "frame").collect():
        assert peek_block_n_points(bytes(r["frame"])) == r["n_points"]
    full = (
        unpack_blocks(blocks, ["conv_id", "grp"])
        .orderBy("conv_id", "ts_ns").toPandas()
    )
    projected = (
        unpack_blocks(blocks.select("conv_id", "grp", "frame"), ["conv_id", "grp"])
        .orderBy("conv_id", "ts_ns").toPandas()
    )
    assert projected.equals(full) and len(full) == 5000


@settings(max_examples=60, deadline=None)
@given(st.data())
def test_vectorized_packer_matches_scalar_twin(data):
    """Both vectorized encoders — a one-block encode_blocks_gapfilled_batch
    and encode_block over the materialized spine — must stay byte-identical
    to the pure-Python scalar twin encode_block_gapfilled for the same
    (n, idx, vals): negative dods, the 64-bit payload class, inf floats,
    Gorilla window-reuse chains, and blocks holding 0 to 80 data points."""
    n = data.draw(st.integers(min_value=1, max_value=400))
    k = data.draw(st.integers(min_value=0, max_value=min(n, 80)))
    idx = np.sort(
        np.asarray(
            data.draw(
                st.lists(
                    st.integers(min_value=0, max_value=n - 1),
                    min_size=k,
                    max_size=k,
                    unique=True,
                )
            ),
            dtype=np.int64,
        )
    )
    k = len(idx)
    v0 = np.asarray(
        data.draw(
            st.lists(
                st.one_of(
                    st.floats(allow_nan=False, allow_infinity=True, width=64),
                    st.integers(min_value=-5, max_value=5).map(float),
                ),
                min_size=k,
                max_size=k,
            )
        ),
        dtype=np.float64,
    )
    v1 = np.asarray(
        data.draw(
            st.lists(
                st.one_of(
                    st.integers(min_value=-(2**62), max_value=2**62),
                    st.integers(min_value=-3, max_value=3),
                ),
                min_size=k,
                max_size=k,
            )
        ),
        dtype=np.int64,
    )
    t0, step = 1_704_067_200_000_000_000, 60_000_000_000

    oracle = bk.encode_block_gapfilled(t0, step, n, idx, v0, v1)
    batch = bk.encode_blocks_gapfilled_batch(
        [t0], step, [n], np.zeros(k, dtype=np.int64), idx, v0, v1
    )
    assert batch == [oracle]
    spine = t0 + np.arange(n, dtype=np.int64) * step
    dense_v0, dense_v1 = np.zeros(n), np.zeros(n, dtype=np.int64)
    dense_v0[idx], dense_v1[idx] = v0, v1
    assert bk.encode_block(spine, dense_v0, dense_v1) == oracle
    # a block without value streams: the timestamp stream alone
    assert bk.encode_block(spine) == bk.encode_block_gapfilled(t0, step, n, idx)


def test_xor_jump_scan_adversarial_window_churn_guard():
    """Worst-case alternating (lz, tz) xor patterns: EVERY record opens a
    new Gorilla window, which would make encode_block's vectorized jump
    scan O(K^2) whole-array work — the opener-density guard (25% of the
    scanned prefix) must switch to the O(K) scalar scan after a constant
    number of probes while staying byte-identical to the pure-Python scalar
    twin, and the bytes must decode round-trip (round-4 verdict #4 /
    advice #2)."""
    n = 4001
    xors = np.empty(n - 1, dtype=np.uint64)
    xors[0::2] = np.uint64(1) << np.uint64(63)  # window (lz=0, tz=63)
    xors[1::2] = np.uint64(1)  # window (lz=63, tz=0) — violates the previous
    bits = np.zeros(n, dtype=np.uint64)
    bits[0] = np.uint64(0x3FF0000000000000)
    bits[1:] = xors
    bits = np.bitwise_xor.accumulate(bits)
    v0 = bits.view(np.float64)
    t0, step = 1_704_067_200_000_000_000, 60_000_000_000
    idx = np.arange(n, dtype=np.int64)

    oracle = bk.encode_block_gapfilled(t0, step, n, idx, v0, None)
    got = bk.encode_block(t0 + idx * step, v0, None)
    assert got == oracle
    ts, dv0, dv1 = bk.decode_block(got)
    assert np.array_equal(ts, t0 + idx * step)
    assert np.array_equal(dv0.view(np.uint64), bits) and dv1 is None


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_batch_encode_matches_per_block(data):
    """encode_blocks_gapfilled_batch (the encoder pack_rollup_blocks runs)
    must be byte-identical to the per-block scalar twin
    encode_block_gapfilled — including empty blocks and single-point
    spines."""
    rng = np.random.default_rng(data.draw(st.integers(min_value=0, max_value=2**31)))
    nb = data.draw(st.integers(min_value=1, max_value=8))
    ns = rng.integers(1, 120, size=nb).astype(np.int64)
    t0s = (np.arange(nb) * 86_400_000_000_000 + 1_704_067_200_000_000_000).astype(
        np.int64
    )
    bids_l, idx_l = [], []
    for b in range(nb):
        k = int(rng.integers(0, min(int(ns[b]), 40) + 1))
        if k:
            bids_l.append(np.full(k, b, dtype=np.int64))
            idx_l.append(np.sort(rng.choice(int(ns[b]), size=k, replace=False)))
    if bids_l:
        bids = np.concatenate(bids_l)
        idx = np.concatenate(idx_l).astype(np.int64)
    else:
        bids = idx = np.empty(0, dtype=np.int64)
    v0 = rng.choice(
        [0.0, 1.5, -3.25, 1e300, 37.5, 2.0**-1000, -0.0], size=len(bids)
    ).astype(np.float64)
    v1 = rng.choice([0, 1, -1, 63, -64, 2**40, -(2**62)], size=len(bids)).astype(
        np.int64
    )
    step = 60_000_000_000
    got = bk.encode_blocks_gapfilled_batch(t0s, step, ns, bids, idx, v0, v1)
    assert len(got) == nb
    for b in range(nb):
        m = bids == b
        want = bk.encode_block_gapfilled(
            int(t0s[b]), step, int(ns[b]), idx[m], v0[m], v1[m]
        )
        assert got[b] == want


def test_batch_encode_slices_match_per_block():
    """The batch encoder cuts its blocks into whole-block passes of at most
    BATCH_ROW_BUDGET data rows; blocks on both sides of every cut, empty
    blocks between them, and a month-long 1m block holding more than the
    budget (a pass of its own) must all equal the per-block scalar twin."""
    rng = np.random.default_rng(7)
    day, step = 1440, 60_000_000_000
    ns = [day] * 33 + [31 * day, 1, day, 5]
    ks = [day] * 30 + [0, 17, 0] + [31 * day - 3000, 1, 0, 5]
    bids = np.repeat(np.arange(len(ns)), ks).astype(np.int64)
    idx = np.concatenate(
        [np.sort(rng.choice(n, size=k, replace=False)) for n, k in zip(ns, ks)]
    ).astype(np.int64)
    t0s = 1_704_067_200_000_000_000 + np.arange(len(ns), dtype=np.int64) * 86_400 * 10**9
    v0 = np.round(rng.gamma(2.0, 300.0, len(bids)), 1)
    v1 = rng.integers(0, 40, len(bids)).astype(np.int64)

    cuts = list(bk.budget_slices(np.bincount(bids, minlength=len(ns)), bk.BATCH_ROW_BUDGET))
    assert len(cuts) >= 3 and (33, 34) in cuts  # the oversize block rides alone
    got = bk.encode_blocks_gapfilled_batch(t0s, step, ns, bids, idx, v0, v1)
    assert len(got) == len(ns)
    for b in range(len(ns)):
        m = bids == b
        want = bk.encode_block_gapfilled(int(t0s[b]), step, ns[b], idx[m], v0[m], v1[m])
        assert got[b] == want, f"block {b} differs"


def test_malformed_blocks_fail_closed():
    """Corrupt or truncated blocks must raise ValueError — never a raw
    IndexError, a hang, or (the worst case) a count-sized allocation bomb
    inside an executor's Python worker."""
    import struct

    ts = np.arange(500, dtype=np.int64) * 60_000_000_000
    v0 = np.linspace(0, 1, 500)
    v1 = (ts // 13).astype(np.int64)
    good = bk.encode_block(ts, v0, v1)

    # corrupted count: u32 max would be ~34 GB of output per stream
    bomb = good[:4] + struct.pack("<I", 0xFFFFFFFF) + good[8:]
    with pytest.raises(ValueError, match="corrupt block header"):
        bk.decode_block(bomb)
    # count = 0
    zero = good[:4] + struct.pack("<I", 0) + good[8:]
    with pytest.raises(ValueError, match="corrupt block header"):
        bk.decode_block(zero)
    # plausible-but-too-large count for the payload
    plausible = good[:4] + struct.pack("<I", 500_000) + good[8:]
    with pytest.raises(ValueError, match="corrupt block header"):
        bk.decode_block(plausible)
    # truncation at every prefix length of the header region and a sweep
    # of payload prefixes
    for cut in list(range(0, 16)) + list(range(16, len(good), 97)):
        with pytest.raises(ValueError):
            bk.decode_block(good[:cut])
    # random single-byte corruptions: decode must either succeed (bits in
    # value payloads carry no checksum at this layer — the FRAME wrapper
    # has BLAKE2b for that) or raise ValueError; nothing else escapes
    rng = np.random.default_rng(99)
    for _ in range(200):
        pos = int(rng.integers(8, len(good)))
        b = bytearray(good)
        b[pos] ^= int(rng.integers(1, 256))
        try:
            out = bk.decode_block(bytes(b))
            assert len(out[0]) == 500
        except ValueError:
            pass
