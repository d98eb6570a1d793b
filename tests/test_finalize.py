"""The columnar hg64 finalizers (``agg.hg64_quantiles`` and friends) against
the per-sketch reference: every output row must equal what
``HG64.deserialize(blob).snapshot()`` answers for that sketch, in the same
sketch-major order, across the edge cases the 2-D kernel handles at once."""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from hg64spark import agg, keymath as km, udfs
from hg64spark.hg64 import HG64, MATRIX_CELLS, decode_matrices
from hg64spark.sketches import KLL

QS = [-0.5, 0.0, 0.25, 0.5, 0.99, 1.0, 1.5]
PROBES = [0, 1, 1000, 2**40 + 7, 2**63 - 1]


def _sketches():
    """(g1, g2, sketch) rows: an empty sketch, a NULL group value, sigbits 3
    and 5 interleaved, and values at both ends of the uint64 domain."""
    rng = np.random.default_rng(11)
    rows = [("a", 1, HG64(5)), (None, 2, HG64(5).add_values(np.array([0, 0, 7])))]
    for i in range(12):
        sb = 3 if i % 3 == 0 else 5
        vals = rng.integers(0, 2 ** int(rng.integers(1, 64)), int(rng.integers(1, 300)), dtype=np.uint64)
        rows.append((f"g{i % 4}", i, HG64(sb).add_values(vals)))
    rows.append(("top", 99, HG64(5).add_values(np.array([2**63, 2**64 - 1], dtype=np.uint64))))
    return rows


def _frame(spark, rows, partitions=2):
    data = [(g1, g2, bytearray(sk.serialize())) for g1, g2, sk in rows]
    return spark.createDataFrame(data, "g1 string, g2 int, sketch binary").coalesce(partitions)


def _expected(rows, per_sketch):
    return [(g1, g2) + out for g1, g2, sk in rows for out in per_sketch(sk)]


def _got(df, *cols):
    return [tuple(r[c] for c in ("g1", "g2") + cols) for r in df.collect()]


def _same(got, want):
    """Row lists equal, NaN equal to NaN."""
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert len(g) == len(w)
        for a, b in zip(g, w):
            assert a == b or (a != a and b != b), (g, w)


def test_all_finalizers_match_per_sketch_snapshot(spark):
    rows = _sketches()
    df = _frame(spark, rows, partitions=1)
    g = ["g1", "g2"]
    qarr = np.asarray(QS)
    parr = np.asarray(PROBES, dtype=np.uint64)

    want = _expected(
        rows,
        lambda sk: zip(QS, sk.snapshot().value_at_quantile(qarr).astype(np.int64).tolist()),
    )
    assert _got(agg.hg64_quantiles(df, g, QS), "q", "value") == want

    def buckets(sk):
        keys, mins, maxs, counts = sk.to_buckets()
        cols = (keys, mins.astype(np.int64), maxs.astype(np.int64), counts.astype(np.int64))
        return zip(*(c.tolist() for c in cols))

    assert _got(agg.hg64_buckets(df, g), "key", "bucket_min", "bucket_max", "count") == _expected(
        rows, buckets
    )

    want = _expected(
        rows, lambda sk: zip(PROBES, sk.snapshot().rank_of_value(parr).astype(np.int64).tolist())
    )
    assert _got(agg.hg64_ranks(df, g, PROBES), "probe", "rank") == want

    want = _expected(rows, lambda sk: zip(PROBES, sk.snapshot().quantile_of_value(parr).tolist()))
    _same(_got(agg.hg64_qov(df, g, PROBES), "probe", "q"), want)

    def stats(sk):
        s1, s2, pop = sk.snapshot().midpoint_stats_exact()
        mean = float(s1) / (2.0 * float(pop)) if pop else 0.0
        var = float(s2) / (4.0 * float(pop)) - mean * mean if pop else 0.0
        return [(pop, mean, var)]

    assert _got(agg.hg64_stats(df, g), "population", "mean", "variance") == _expected(rows, stats)


def test_sql_udfs_match_per_sketch_snapshot(spark):
    """The scalar UDFs, each row with its own q (q < 0 and q > 1 included)
    and probe, answer what ``HG64.deserialize(blob).snapshot()`` does."""
    rows = _sketches()
    qs = [QS[i % len(QS)] for i in range(len(rows))]
    probes = [PROBES[i % len(PROBES)] for i in range(len(rows))]
    data = [
        (i, bytearray(sk.serialize()), q, p)
        for i, ((_, _, sk), q, p) in enumerate(zip(rows, qs, probes))
    ]
    df = spark.createDataFrame(data, "i int, sketch binary, q double, probe long").coalesce(2)
    got = df.select(
        "i",
        udfs.hg64_quantile("sketch", "q").alias("qv"),
        udfs.hg64_rank("sketch", "probe").alias("rk"),
        udfs.hg64_population("sketch").alias("pop"),
        udfs.hg64_mean("sketch").alias("mean"),
    ).collect()
    assert sorted(r["i"] for r in got) == list(range(len(rows)))
    for r in got:
        i = r["i"]
        snap = HG64.deserialize(bytes(data[i][1])).snapshot()
        assert r["qv"] == int(snap.value_at_quantile([qs[i]]).astype(np.int64)[0])
        assert r["rk"] == int(snap.rank_of_value([probes[i]])[0])
        assert r["pop"] == snap.population
        assert r["mean"] == snap.mean_variance_corrected()[0]


def test_negative_probes_fail(spark):
    """A negative probe is a ValueError on every rank surface, never a rank
    of a wrapped 2^64-1 probe."""
    df = _frame(spark, _sketches()[:3])
    with pytest.raises(ValueError, match="probe"):
        agg.hg64_ranks(df, ["g1"], [5, -1])
    with pytest.raises(ValueError, match="probe"):
        agg.hg64_qov(df, ["g1"], [-1])
    with pytest.raises(Exception, match="ValueError: hg64 probe"):
        df.select(udfs.hg64_rank("sketch", F.lit(-1).cast("long"))).collect()


def test_empty_sketch_edge_values(spark):
    df = _frame(spark, [("e", 0, HG64(5))])
    assert [r["value"] for r in agg.hg64_quantiles(df, ["g1"], [0.0, 0.5, 1.0]).collect()] == [-1] * 3
    assert agg.hg64_buckets(df, ["g1"]).count() == 0
    assert [r["rank"] for r in agg.hg64_ranks(df, [], PROBES).collect()] == [0] * len(PROBES)
    assert all(r["q"] != r["q"] for r in agg.hg64_qov(df, [], PROBES).collect())
    (st,) = agg.hg64_stats(df, ["g1"]).collect()
    assert (st["g1"], st["population"], st["mean"], st["variance"]) == ("e", 0, 0.0, 0.0)


def test_sigbits15_rows_span_several_chunks(spark):
    """A batch of sigbits=15 sketches is decoded a few rows at a time (one
    row is 1.6M cells); results still match row for row and in order."""
    rng = np.random.default_rng(5)
    rows = [
        (f"s{i}", i, HG64(15).add_values(rng.integers(10**6, 3 * 10**6, 200)))
        for i in range(5)
    ]
    per_chunk = MATRIX_CELLS // km.nkeys(15)
    assert 1 <= per_chunk < len(rows)
    chunks = [m.shape[0] for _, _, m in decode_matrices([sk.serialize() for _, _, sk in rows])]
    assert len(chunks) > 1 and max(chunks) == per_chunk and sum(chunks) == len(rows)
    df = _frame(spark, rows, partitions=1)
    qs = [0.01, 0.5, 0.99]
    want = _expected(
        rows, lambda sk: zip(qs, sk.snapshot().value_at_quantile(qs).astype(np.int64).tolist())
    )
    assert _got(agg.hg64_quantiles(df, ["g1", "g2"], qs), "q", "value") == want
    want = _expected(rows, lambda sk: [(sk.population,)])
    assert _got(agg.hg64_stats(df, ["g1", "g2"]), "population") == want


def _corrupt_blobs():
    good = HG64(5).add_values(np.arange(1, 500)).serialize()
    flipped = bytearray(good)
    flipped[9] ^= 0x01  # lowest binmap byte: bin 0 toggles, payload no longer fits
    return {
        "truncated": good[:-3],
        "bit-flipped binmap": bytes(flipped),
        "wrong type": KLL(32).add_values(np.arange(10)).serialize(),
    }


@pytest.mark.parametrize("case", sorted(_corrupt_blobs()))
def test_corrupt_blob_fails_job_with_decoder_error(spark, case):
    blob = _corrupt_blobs()[case]
    with pytest.raises(ValueError) as local:
        HG64.deserialize(blob)
    df = spark.createDataFrame([("x", bytearray(blob))], "g1 string, sketch binary")
    for finalize in (
        lambda: agg.hg64_quantiles(df, ["g1"], [0.5]),
        lambda: agg.hg64_buckets(df, ["g1"]),
        lambda: agg.hg64_stats(df, ["g1"]),
    ):
        with pytest.raises(Exception) as job:
            finalize().collect()
        assert f"ValueError: {local.value}" in str(job.value)


def test_binmap_past_key_space_is_rejected():
    """A binmap naming a bin past the key space (60 bins at sigbits=5), with
    a payload long enough for it, is a ValueError, not an IndexError."""
    from hg64spark import serde

    bs = km.binsize(5)
    payload = struct.pack("<Q", 1 << 62) + np.ones(bs, dtype="<u8").tobytes()
    blob = serde.pack(serde.TYPE_HG64, struct.pack("<B", 5), payload)
    with pytest.raises(ValueError, match="binmap"):
        HG64.deserialize(blob)


def test_finalizer_plans_are_arrow_not_pandas(spark):
    df = _frame(spark, _sketches())
    for out in (agg.hg64_quantiles(df, ["g1"], [0.5]), agg.hg64_buckets(df, ["g1", "g2"])):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan and "MapInPandas" not in plan, plan
