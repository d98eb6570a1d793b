"""Unit tests for the HG64 sketch, replicating the reference harness's
strategy (`/root/reference/test.c:200-259`): merged-vs-direct equality,
cross-precision downsampling population preservation, golden quantile
accuracy vs the exact sorted oracle, and serde round-trips."""

import numpy as np
import pytest

from hg64spark import keymath as km
from hg64spark.hg64 import HG64, HG64SnapshotMatrix, fold_counts

U64 = np.uint64
RNG_SEED = 42


def uniform_stream(n=200_000, hi=1_000_000_000, seed=RNG_SEED):
    rng = np.random.default_rng(seed)
    return rng.integers(0, hi, size=n, dtype=np.uint64)


def test_basic_ingest_and_population():
    hg = HG64(5)
    hg.add_values(np.array([0, 1, 2, 1000, 10**12], dtype=U64))
    assert hg.population == 5
    keys, mins, maxs, counts = hg.to_buckets()
    assert counts.sum() == 5
    assert int(mins[0]) == 0  # value 0 lands in the exact zero bucket


def test_negative_values_rejected():
    hg = HG64(5)
    with pytest.raises(ValueError):
        hg.add_values(np.array([-1], dtype=np.int64))
    # a negative weight would wrap to 2^64-1 on the way to uint64
    with pytest.raises(ValueError):
        hg.add_values(np.array([3, 4]), weights=np.array([2, -1]))
    assert hg.population == 0


def test_negative_scalar_paths_rejected():
    """inc/put must match add_values' unsigned contract — without the guard
    np.array([-1], dtype=uint64) silently wraps to 2^64-1 and the update
    lands in the top decade instead of raising."""
    hg = HG64(5)
    with pytest.raises(ValueError):
        hg.inc(-1)
    with pytest.raises(ValueError):
        hg.inc(1, -2)
    with pytest.raises(ValueError):
        hg.put(-5, 10, 3)
    with pytest.raises(ValueError):
        hg.put(10, 5, 3)
    with pytest.raises(ValueError):
        hg.put(0, 10, -1)
    assert hg.population == 0
    hg.inc(0, 0)  # zero increment stays a no-op
    assert hg.population == 0


def test_fold_counts_exact_and_sums_duplicates():
    """The fold kernel adds in uint64, not float64: a count of 2^60 plus 1
    stays exact, and a repeated (group, key) pair is summed."""
    nk = km.nkeys(5)
    codes = np.array([1, 0, 1, 1, 0])
    keys = np.array([7, 7, 7, nk - 1, 0])
    counts = np.array([2**60, 3, 1, 5, 2], dtype=np.int64)
    out = fold_counts(codes, keys, counts, 3, 5)
    assert out.dtype == U64 and out.shape == (3, nk)
    assert int(out[1, 7]) == 2**60 + 1
    assert (int(out[0, 7]), int(out[0, 0]), int(out[1, nk - 1])) == (3, 2, 5)
    assert int(out.sum(dtype=object)) == 2**60 + 11 and not out[2].any()
    # the folded row is the sketch the values would build
    want = HG64(5).add_values(np.array([0, 0, 7, 7, 7], dtype=U64))
    assert np.array_equal(out[0], want.counters)
    with pytest.raises(ValueError):
        fold_counts(codes, keys, -counts, 3, 5)
    with pytest.raises(ValueError):
        fold_counts(codes, keys + 1, counts, 3, 5)


def test_negative_probes_rejected():
    """numpy would wrap a probe of -1 to 2^64-1 (rank ~ population); the
    per-sketch and matrix kernels reject it instead."""
    hg = HG64(5).add_values(np.arange(100))
    snap = HG64SnapshotMatrix(5, hg.counters[None, :])
    for probes in ([-1], np.array([5, -1]), [float("nan")], [2.0**64]):
        with pytest.raises(ValueError, match="probe"):
            hg.snapshot().rank_of_value(probes)
        with pytest.raises(ValueError, match="probe"):
            snap.quantile_of_value(probes)
    assert snap.rank_of_value([2**64 - 1, 0]).tolist() == [[100, 1]]


def test_merge_equals_direct_load():
    """`test.c:221-230`: N private sketches merged must be bucket-for-bucket
    identical to one sketch fed everything (same sigbits => lossless)."""
    data = uniform_stream()
    direct = HG64(5).add_values(data)
    for nsplits in (2, 8, 32):
        parts = np.array_split(data, nsplits)
        merged = HG64(5)
        for p in parts:
            merged.merge(HG64(5).add_values(p))
        assert merged == direct


def test_merge_associative_commutative():
    data = uniform_stream(30_000)
    a, b, c = (HG64(5).add_values(p) for p in np.array_split(data, 3))

    def clone(h):
        return HG64(h.sigbits, h.counters.copy())

    ab_c = clone(a).merge(b).merge(c)
    c_ba = clone(c).merge(b).merge(a)
    bc = clone(b).merge(c)
    a_bc = clone(a).merge(bc)
    assert ab_c == c_ba == a_bc


def test_downsample_preserves_population():
    """`test.c:234-237` + output: merging sigbits=5 into 1..10 preserves the
    total population exactly."""
    data = uniform_stream(100_000)
    src = HG64(5).add_values(data)
    for sb in range(1, 11):
        ds = src.downsample(sb)
        assert ds.population == src.population, f"sigbits={sb}"


def test_downsample_coarser_matches_direct_bucketing():
    """Coarsening is pure re-keying (finer buckets nest inside coarser), so
    sketch(8).downsample(4) must equal sketch(4) built directly."""
    data = uniform_stream(50_000)
    via_ds = HG64(8).add_values(data).downsample(4)
    direct = HG64(4).add_values(data)
    assert via_ds == direct


def test_weighted_add_matches_repeats():
    vals = np.array([7, 7, 123456, 999], dtype=U64)
    w = np.array([3, 2, 5, 1], dtype=U64)
    a = HG64(5)
    a.add_values(vals, weights=w)
    b = HG64(5)
    b.add_values(np.repeat(vals, w.astype(np.int64)))
    assert a == b


def test_put_preserves_total_and_span():
    hg = HG64(3)
    hg.put(100, 100_000, 12345)
    # the carried remainder preserves the total exactly (`hg64.c:260-269`);
    # leading buckets may legitimately get floor()=0 of the pro-rata share
    assert hg.population == 12345
    keys, mins, maxs, counts = hg.to_buckets()
    lo_bucket_min = int(km.key_to_minval(km.value_to_key(np.array([100], dtype=U64), 3), 3)[0])
    assert int(mins.min()) >= lo_bucket_min
    assert int(maxs.max()) >= 100_000


def test_golden_quantiles_vs_sorted_oracle():
    """`test.c:170-185,239-256`: sketch quantiles vs exact quantiles of the
    sorted data; relative value error must stay within the bucket bound
    2**-sigbits (observed max in the reference harness: 0.66% at sigbits=5)."""
    data = uniform_stream(1_000_000)
    data_sorted = np.sort(data)
    hs = HG64(5).add_values(data).snapshot()
    qs = [0.1, 0.2, 0.3, 0.5, 0.7, 0.9, 0.95, 0.99, 0.999, 0.9999, 0.99999]
    got = hs.value_at_quantile(np.array(qs))
    bound = 2.0**-5
    for q, est in zip(qs, got.tolist()):
        rank = int(q * len(data_sorted))
        exact = int(data_sorted[min(rank, len(data_sorted) - 1)])
        relerr = abs(est - exact) / max(exact, 1)
        assert relerr <= bound, f"q={q}: est={est} exact={exact} relerr={relerr:.4f}"


def test_rank_quantile_inverse_consistency():
    """north_star check: rank/quantile must be mutually consistent —
    quantile_of_value(value_at_quantile(q)) ~ q within one bucket's mass."""
    data = uniform_stream(500_000)
    hs = HG64(5).add_values(data).snapshot()
    qs = np.array([0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 0.999])
    vals = hs.value_at_quantile(qs)
    back = hs.quantile_of_value(vals)
    assert np.all(np.abs(back - qs) <= 2.0**-5 + 1e-6), (qs, back)


def test_value_at_rank_oob_returns_u64max():
    hs = HG64(5).add_values(np.array([1, 2, 3], dtype=U64)).snapshot()
    assert int(hs.value_at_rank(np.array([3], dtype=U64))[0]) == (1 << 64) - 1
    assert int(hs.value_at_quantile(np.array([1.0]))[0]) == (1 << 64) - 1


def test_mean_variance_reference_parity():
    """The faithful port must reproduce the C `hg64_mean_variance` exactly —
    including its ~3x variance overestimate (sigma uses min+max-mean,
    `hg64.c:325`).  Golden values below were produced by compiling and
    running the reference itself in this sandbox on the same stream."""
    i = np.arange(200_000, dtype=np.uint64)
    v = (i * np.uint64(2654435761)) % np.uint64(1_000_000_000)
    hs = HG64(5).add_values(v).snapshot()
    mean, var = hs.mean_variance()
    assert f"{mean:.6f}" == "500035985.900963"
    assert f"{var:.6g}" == "2.51802e+17"


def test_mean_variance_corrected_vs_exact():
    data = uniform_stream(200_000)
    hs = HG64(5).add_values(data).snapshot()
    mean, var = hs.mean_variance_corrected()
    exact_mean = data.mean()
    exact_var = data.astype(np.float64).var()
    assert abs(mean - exact_mean) / exact_mean < 2.0**-5
    assert abs(var - exact_var) / exact_var < 2 * 2.0**-5


def test_midpoint_stats_exact_consistency():
    data = uniform_stream(100_000)
    hs = HG64(5).add_values(data).snapshot()
    s1, s2, pop = hs.midpoint_stats_exact()
    mean = s1 / (2 * pop)
    wmean, _ = hs.mean_variance()
    assert abs(mean - wmean) / wmean < 1e-9


def test_serde_roundtrip():
    data = uniform_stream(50_000)
    for sb in (1, 5, 11):
        hg = HG64(sb).add_values(data)
        back = HG64.deserialize(hg.serialize())
        assert back == hg


def test_serde_empty_sketch():
    hg = HG64(5)
    back = HG64.deserialize(hg.serialize())
    assert back == hg and back.population == 0


def test_serialized_size_proportional_to_range():
    """`README.md:15-17`: size depends on data range, not stream length."""
    small_range = HG64(5).add_values(uniform_stream(100_000, hi=1000))
    big_range = HG64(5).add_values(uniform_stream(100_000, hi=10**15))
    assert len(small_range.serialize()) < len(big_range.serialize())
    more_data = HG64(5).add_values(uniform_stream(200_000, hi=1000, seed=7))
    assert len(more_data.serialize()) == len(small_range.serialize())


def test_distribution_menagerie_quantiles():
    """Stress with the reference generator shapes (`random.h:13-52`):
    exponential, lognormal, pareto-ish heavy tail."""
    rng = np.random.default_rng(RNG_SEED)
    streams = {
        "exponential": (rng.exponential(1.0, 200_000) * 1e6),
        "lognormal": (rng.lognormal(0.0, 1.0, 200_000) * 1e6),
        "pareto": (rng.pareto(1.0, 200_000) * 1e6),
    }
    for name, raw in streams.items():
        data = np.minimum(raw, 1e18).astype(np.uint64)
        hs = HG64(5).add_values(data).snapshot()
        data_sorted = np.sort(data)
        for q in (0.5, 0.9, 0.99):
            est = int(hs.value_at_quantile(np.array([q]))[0])
            exact = int(data_sorted[int(q * data.size)])
            assert abs(est - exact) / max(exact, 1) <= 2.0**-5, (name, q)


# --------------------------------------------------------- property tests

from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    st.lists(st.integers(min_value=0, max_value=(1 << 64) - 1), min_size=0, max_size=200),
    st.integers(min_value=1, max_value=11),
)
@settings(max_examples=60, deadline=None)
def test_property_serde_roundtrip(values, sigbits):
    hg = HG64(sigbits).add_values(np.array(values, dtype=U64))
    assert HG64.deserialize(hg.serialize()) == hg


@given(
    st.lists(st.integers(min_value=0, max_value=(1 << 63) - 1), min_size=3, max_size=300),
    st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=60, deadline=None)
def test_property_merge_split_invariance(values, seed):
    """Any random 3-way split, merged in any rotation, equals direct load."""
    arr = np.array(values, dtype=U64)
    rng = np.random.default_rng(seed)
    assign = rng.integers(0, 3, arr.size)
    parts = [arr[assign == i] for i in range(3)]
    order = rng.permutation(3)
    merged = HG64(5)
    for i in order:
        merged.merge(HG64(5).add_values(parts[i]))
    assert merged == HG64(5).add_values(arr)


@given(st.lists(st.integers(min_value=0, max_value=(1 << 62)), min_size=1, max_size=500))
@settings(max_examples=40, deadline=None)
def test_property_quantile_within_bucket_bound(values):
    """For any data, the q=0.5 estimate's bucket must contain a true sample
    within the relative bucket width bound."""
    arr = np.array(values, dtype=U64)
    hs = HG64(5).add_values(arr).snapshot()
    est = int(hs.value_at_quantile(np.array([0.5]))[0])
    exact = int(np.sort(arr)[int(0.5 * arr.size)])
    if exact > 0:
        assert abs(est - exact) / exact <= 2.0**-5 + 1e-12 or abs(est - exact) <= 1


def test_upsample_oracle_matches_put_fuzzed():
    """The recursive-CTE SQL oracle for the coarse->fine pro-rata merge
    (``sqloracle.upsample_buckets_sql``) must reproduce HG64.put's
    carried-remainder FLOAT allocation bit-for-bit on random inputs — across
    sigbits pairs and including linear-region values.  (tests/test_oracle.py
    covers one dataset; this fuzzes the FP-parity claim itself.)"""
    import duckdb
    import pandas as pd

    from hg64spark import sqloracle

    rng = np.random.default_rng(2024)
    for case in range(10):
        lo = 10 ** rng.integers(0, 12)
        vals = rng.integers(0, max(lo, 2), int(rng.integers(1, 2000)), dtype=np.uint64)
        if case % 4 == 0:
            vals = np.concatenate([vals, rng.integers(0, 16, 5, dtype=np.uint64)])
        fb, tb = (4, 8) if case % 3 else (3, 9)
        coarse = HG64(fb).add_values(vals)
        fine = coarse.downsample(tb)
        assert fine.population == coarse.population  # exact preservation
        keys, _, _, counts = fine.to_buckets()
        got = sorted(zip(keys.tolist(), counts.astype(np.int64).tolist()))

        con = duckdb.connect()
        con.register("vals_np", pd.DataFrame({"v": vals.astype("int64")}))
        con.execute("CREATE VIEW valsrc AS SELECT v FROM vals_np")
        sql = sqloracle.upsample_buckets_sql("SELECT v FROM valsrc", "v", fb, tb)
        want = sorted((int(r[0]), int(r[3])) for r in con.execute(sql).fetchall())
        assert got == want, (case, fb, tb)
