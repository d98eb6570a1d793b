"""End-to-end Spark pipeline tests: partition invariance (the distributed
analogue of the reference's parallel-vs-merged assert,
`/root/reference/test.c:221-230`), skew salting, and finalizer correctness
against exact Spark SQL."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hg64spark import agg, transcripts
from hg64spark.hg64 import HG64

SF_DIR = "/root/testdata/sf0.001"


def _events_values(spark, sf_dir=SF_DIR):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select("event_type", F.floor(F.col("value") * 1000).cast("long").alias("v"))


def _collect_sketch(df):
    rows = df.collect()
    assert len(rows) == 1
    return HG64.deserialize(rows[0]["sketch"])


def test_partition_invariance_identical_sketches(spark):
    """north_rule hard requirement: identical serialized sketches across
    arbitrary partition splits (1 / 4 / 13 partitions, plus a shuffled row
    order)."""
    base = _events_values(spark)
    reference = None
    for variant in (
        base.coalesce(1),
        base.repartition(4),
        base.repartition(13, "v"),
        base.orderBy(F.rand(seed=7)).repartition(5),
    ):
        sk = _collect_sketch(agg.hg64_agg(variant, "v", [], 5))
        if reference is None:
            reference = sk
        else:
            assert sk == reference


def test_sketch_agg_matches_local(spark):
    pdf = _events_values(spark).toPandas()
    local = HG64(5).add_values(pdf["v"].to_numpy().astype(np.uint64))
    dist = _collect_sketch(agg.hg64_agg(_events_values(spark), "v", [], 5))
    assert dist == local


def test_grouped_agg_matches_local_groups(spark):
    pdf = _events_values(spark).toPandas()
    dist = agg.hg64_agg(_events_values(spark), "v", ["event_type"], 5).collect()
    assert len(dist) == pdf["event_type"].nunique()
    for row in dist:
        vals = pdf.loc[pdf["event_type"] == row["event_type"], "v"].to_numpy()
        local = HG64(5).add_values(vals.astype(np.uint64))
        assert HG64.deserialize(row["sketch"]) == local, row["event_type"]


def test_relational_and_arrow_paths_byte_identical(spark):
    """The Catalyst keyed-count plan and the vectorized-UDF pipeline must
    produce byte-identical sketch blobs, grouped and global."""
    base = _events_values(spark)
    rel = _collect_sketch(agg.hg64_agg(base, "v", [], 5, method="relational"))
    arw = _collect_sketch(agg.hg64_agg(base, "v", [], 5, method="arrow"))
    assert rel == arw
    rel_g = {r["event_type"]: bytes(r["sketch"]) for r in agg.hg64_agg(base, "v", ["event_type"], 5).collect()}
    arw_g = {r["event_type"]: bytes(r["sketch"]) for r in agg.hg64_agg(base, "v", ["event_type"], 5, method="arrow").collect()}
    assert rel_g == arw_g


def test_relational_key_matches_numpy_on_boundaries(spark):
    from hg64spark import relational
    from hg64spark import keymath as km

    vals = [0, 1, 31, 32, 33, 2**20 - 1, 2**20, 2**40 + 7, 2**62 - 1, 2**62]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    for sb in (1, 5, 11):
        got = [r["hg64_key"] for r in relational.with_hg64_key(df, "v", sb).collect()]
        want = km.value_to_key(np.array(vals, dtype=np.uint64), sb).tolist()
        assert got == want, sb


def test_salted_repartition_preserves_result(spark):
    base = _events_values(spark)
    plain = _collect_sketch(agg.hg64_agg(base, "v", [], 5))
    salted = _collect_sketch(agg.hg64_agg(agg.repartition_salted(base, ["event_type"], 16), "v", [], 5))
    assert plain == salted


def test_salting_balances_a_hot_key(spark):
    """Adversarial skew: one conversation holds 95% of the rows and lives in
    one input partition.  Hash-partitioning by conv_id leaves one giant task;
    salted repartition must spread it while preserving the result exactly."""
    hot = spark.range(50_000).select(F.lit("conv_hot").alias("conv_id"), F.col("id").alias("v"))
    cold = spark.range(2_500).select(
        F.concat(F.lit("conv_"), (F.col("id") % 100).cast("string")).alias("conv_id"),
        F.col("id").alias("v"),
    )
    df = hot.unionAll(cold).coalesce(1)

    def partition_sizes(d):
        return [r["count"] for r in d.groupBy(F.spark_partition_id().alias("p")).count().collect()]

    plain = df.repartition(8, "conv_id")
    salted = agg.repartition_salted(df, ["conv_id"], 8)
    assert max(partition_sizes(plain)) >= 50_000  # the hot key is one task
    assert max(partition_sizes(salted)) < 15_000  # spread across buckets
    a = _collect_sketch(agg.hg64_agg(plain, "v", [], 5))
    b = _collect_sketch(agg.hg64_agg(salted, "v", [], 5))
    assert a == b


def test_relational_quantile_finalizer_bit_identical(spark):
    """The zero-Python quantile pipeline must reproduce the numpy finalizer
    exactly (same IEEE ops in the same order), grouped and global, including
    values past 2^32 (the shiftleft-width regression case)."""
    from hg64spark import relational

    base = _events_values(spark).withColumn("v", F.col("v") * 4096)  # push past 2^32
    qs = [0.1, 0.5, 0.9, 0.999]
    rel = {
        (r["event_type"], r["q"]): r["value"]
        for r in relational.hg64_quantiles_relational(base, "v", qs, ["event_type"], 5).collect()
    }
    sk = agg.hg64_agg(base, "v", ["event_type"], 5)
    py = {
        (r["event_type"], r["q"]): r["value"]
        for r in agg.hg64_quantiles(sk, ["event_type"], qs).collect()
    }
    assert rel == py
    plan = relational.hg64_quantiles_relational(base, "v", qs, ["event_type"], 5)
    s = plan._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in s


def test_bucketed_table_eliminates_window_shuffle(spark, tmp_path):
    """The flagship's only full-data shuffle is the conv_id window.  With the
    transcript table bucketed+sorted by conv_id (the standard Iceberg/warehouse
    layout for this workload), the window's required distribution is already
    satisfied by the scan, so the Exchange disappears — at 100TB that is the
    difference between shuffling every turn and shuffling nothing."""
    t = transcripts.transcripts_from_events(spark, SF_DIR).select(
        "conv_id", "turn_idx", "tool", "ts"
    )
    (
        t.write.bucketBy(8, "conv_id")
        .sortBy("conv_id", "turn_idx")
        .option("path", str(tmp_path / "tx_bucketed"))
        .mode("overwrite")
        .saveAsTable("tx_bucketed")
    )
    try:
        bucketed = spark.table("tx_bucketed")
        lat_b = transcripts.with_latency(bucketed)
        plan_b = lat_b._jdf.queryExecution().executedPlan().toString()
        lat_p = transcripts.with_latency(t)
        plan_p = lat_p._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan_p  # plain parquet must shuffle for the window
        assert "Exchange" not in plan_b  # bucketed layout: no shuffle at all
        # and results agree
        a = sorted(tuple(r) for r in lat_b.select("conv_id", "turn_idx", "latency_us").collect())
        b = sorted(tuple(r) for r in lat_p.select("conv_id", "turn_idx", "latency_us").collect())
        assert a == b
    finally:
        spark.sql("DROP TABLE IF EXISTS tx_bucketed")


def test_relational_plan_shape(spark):
    """The hot-path physical plan must: prune columns at the scan, push the
    null filter, partial-aggregate BEFORE the exchange, and contain no Python
    evaluation node."""
    from hg64spark import relational

    base = _events_values(spark)
    plan = relational.hg64_counts(base, "v", ["event_type"], 5)._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan and "Exchange" in plan
    assert plan.index("HashAggregate") < len(plan)  # exists
    # partial agg appears below (after, in printed tree) the exchange
    assert "partial_count" in plan.lower() or plan.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    scan = plan[plan.index("FileScan"):]
    assert "ReadSchema" in scan


def test_quantile_finalizer_within_bound_of_exact(spark):
    base = _events_values(spark)
    sk = agg.hg64_agg(base, "v", [], 5)
    got = {r["q"]: r["value"] for r in agg.hg64_quantiles(sk, [], [0.5, 0.9, 0.99]).collect()}
    exact = base.selectExpr(
        "percentile(v, 0.5) AS p50", "percentile(v, 0.9) AS p90", "percentile(v, 0.99) AS p99"
    ).collect()[0]
    for q, ex in ((0.5, exact["p50"]), (0.9, exact["p90"]), (0.99, exact["p99"])):
        assert abs(got[q] - ex) / ex <= 2.0**-5 + 1e-9


def test_nulls_dropped(spark):
    df = spark.createDataFrame(
        [(1, "a"), (None, "a"), (5, "a"), (None, "b"), (7, "b")], "v long, g string"
    )
    rows = agg.hg64_agg(df, "v", ["g"], 5).collect()
    pops = {r["g"]: HG64.deserialize(r["sketch"]).population for r in rows}
    assert pops == {"a": 2, "b": 1}


def test_partials_metrics_lineage(spark):
    base = _events_values(spark).repartition(4)
    partials = agg.sketch_partials(base, "v", [], HG64, with_metrics=True)
    rows = partials.collect()
    assert 1 <= len(rows) <= 4
    assert sum(r["m_rows"] for r in rows) == base.count()
    for r in rows:
        assert r["m_ns_per_row"] > 0
        assert r["m_sketch_bytes"] == len(r["sketch"])


def test_transcript_latency_non_negative(spark):
    t = transcripts.with_latency(transcripts.transcripts_from_events(spark, SF_DIR))
    bad = t.filter(F.col("latency_us") < 0).count()
    assert bad == 0


def test_relational_hll_accuracy_and_family_guard(spark):
    from hg64spark import relational
    from hg64spark.sketches import HLL

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("user_id")
    sk = HLL.deserialize(relational.hll_agg_relational(ev, "user_id", [], 14).collect()[0]["sketch"])
    exact = ev.distinct().count()
    assert abs(sk.estimate() - exact) / exact <= 3 * HLL.error_bound(14)
    # grouped variant: per event_type registers
    ev2 = spark.read.parquet(f"{SF_DIR}/events.parquet").select("event_type", "user_id")
    rows = relational.hll_agg_relational(ev2, "user_id", ["event_type"], 12).collect()
    assert len(rows) == ev2.select("event_type").distinct().count()
    # cross-family merges must be refused
    with pytest.raises(ValueError, match="hash famil"):
        sk.merge(HLL(14))


def test_relational_bloom_no_false_negatives_and_probe(spark):
    from hg64spark import relational
    from hg64spark.sketches import Bloom

    od = spark.read.parquet(f"{SF_DIR}/orders.parquet").select("o_custkey")
    n_bits, k = 1 << 17, 7
    blob = relational.bloom_agg_relational(od, "o_custkey", n_bits, k).collect()[0]["sketch"]
    bf = Bloom.deserialize(blob)
    assert bf.hash_family == 1

    # relational probe: every present key must test positive (no-FN)
    words = (
        spark.createDataFrame(
            [(i, int(w) - (1 << 64) if int(w) >= (1 << 63) else int(w))
             for i, w in enumerate(bf.words.tolist()) if int(w) != 0],
            "word_idx int, word long",
        )
    )
    present = od.distinct()
    checked = relational.bloom_contains_relational(present, "o_custkey", words, n_bits, k)
    assert checked.filter(~F.col("bloom_contains")).count() == 0
    # absent keys: false-positive rate within bound
    absent = spark.range(10**7, 10**7 + 20_000).select(F.col("id").alias("o_custkey"))
    fp = relational.bloom_contains_relational(absent, "o_custkey", words, n_bits, k)
    n_items = present.count()
    rate = fp.filter(F.col("bloom_contains")).count() / 20_000
    assert rate <= 3 * max(bf.fpp_bound(n_items), 0.001), rate


def test_relational_global_finalizers_empty_input(spark):
    """The driver-side global HLL/CMS finalizers must preserve the
    zero-group applyInPandas semantics: empty input -> EMPTY frame, not a
    row holding an empty sketch."""
    from hg64spark import relational

    empty = spark.createDataFrame([], "v long")
    assert relational.hll_agg_relational(empty, "v", [], 12).count() == 0
    assert relational.cms_agg_relational(empty, "v", 64, 3).count() == 0
    assert relational.bloom_agg_relational(empty, "v", 1 << 10, 3).count() == 0
    assert relational.mg_agg_relational(empty, "v", k=8).count() == 0


def test_bloom_global_over_driver_cap_stays_executor_side(spark, monkeypatch):
    """A global Bloom declared past _BLOOM_DRIVER_FOLD_MAX_BITS must keep
    the executor-side fold (no n_bits/64-row driver collect), and that
    fold must stay byte-identical to the driver fold at the same
    geometry."""
    from hg64spark import relational

    vals = spark.createDataFrame([(f"v{i}",) for i in range(50)], "v string")
    big = relational._BLOOM_DRIVER_FOLD_MAX_BITS * 2
    executor_df = relational.bloom_agg_relational(vals, "v", big, 3)
    plan = executor_df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan  # over the cap: no driver collect
    executor_blob = bytes(executor_df.collect()[0]["sketch"])
    monkeypatch.setattr(relational, "_BLOOM_DRIVER_FOLD_MAX_BITS", big)
    driver_df = relational.bloom_agg_relational(vals, "v", big, 3)
    # (at this size the hex literal overflows localrel's SQL cap, so the
    # result frame itself falls back to createDataFrame — the fold is
    # still the driver one, and byte-equality is the contract)
    assert "FlatMapGroupsInPandas" not in (
        driver_df._jdf.queryExecution().executedPlan().toString()
    )
    assert bytes(driver_df.collect()[0]["sketch"]) == executor_blob


def test_relational_cms_estimates(spark):
    from hg64spark import relational
    from hg64spark.sketches import CMS

    od = spark.read.parquet(f"{SF_DIR}/orders.parquet").select("o_custkey")
    blob = relational.cms_agg_relational(od, "o_custkey", 4096, 5).collect()[0]["sketch"]
    cms = CMS.deserialize(blob)
    assert cms.hash_family == 1 and cms.total == od.count()
    exact = od.groupBy("o_custkey").count().orderBy(F.desc("count"), "o_custkey").limit(10)
    counts_df = relational.cms_counts_df(spark, cms)
    est = relational.cms_estimate_relational(
        exact.select("o_custkey"), "o_custkey", counts_df, 4096, 5
    )
    joined = {r["o_custkey"]: r["cms_estimate"] for r in est.collect()}
    n = cms.total
    for r in exact.collect():
        e = joined[r["o_custkey"]]
        assert r["count"] <= e <= r["count"] + cms.epsilon() * n


def test_hll_cross_check_spark_builtin(spark):
    """north_star: our HLL validated against Spark's own approximate distinct
    aggregates on the same column."""
    from hg64spark.sketches import HLL

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("user_id")
    sk = agg.sketch_agg(ev, "user_id", [], lambda: HLL(14), HLL.deserialize)
    ours = HLL.deserialize(sk.collect()[0]["sketch"]).estimate()
    theirs = ev.agg(F.approx_count_distinct("user_id", 0.01).alias("d")).collect()[0]["d"]
    exact = ev.distinct().count()
    assert abs(ours - exact) / exact <= 3 * HLL.error_bound(14)
    assert abs(ours - theirs) / exact <= 0.05


def test_kll_cross_check_percentile_approx(spark):
    from hg64spark.sketches import KLL

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        F.floor(F.col("value") * 1000).cast("long").alias("v")
    )
    sk = agg.sketch_agg(ev, "v", [], lambda: KLL(200), KLL.deserialize)
    kll = KLL.deserialize(sk.collect()[0]["sketch"])
    import numpy as np

    ours = kll.value_at_quantile(np.array([0.5, 0.9]))
    theirs = ev.agg(F.percentile_approx("v", [0.5, 0.9], 10_000).alias("p")).collect()[0]["p"]
    for o, t in zip(ours.tolist(), theirs):
        assert abs(o - t) / t <= 0.05


def test_synthetic_transcripts_deterministic_and_skewed(spark):
    a = transcripts.synthetic_transcripts(spark, n_convs=200, seed=1)
    b = transcripts.synthetic_transcripts(spark, n_convs=200, seed=1).repartition(7)
    ca = a.groupBy("conv_id").count().orderBy("conv_id").collect()
    cb = b.groupBy("conv_id").count().orderBy("conv_id").collect()
    assert ca == cb
    sizes = np.array([r["count"] for r in ca])
    assert sizes.max() > 4 * np.median(sizes)  # Pareto skew present
    cols = dict(a.dtypes)
    assert cols == {
        "conv_id": "string",
        "turn_idx": "int",
        "role": "string",
        "text": "string",
        "tool": "string",
        "ts": "timestamp",
    } or cols.get("ts") == "timestamp_ntz"


def test_sql_udf_surface_over_sketch_columns(spark):
    """SELECT hg64_quantile(sketch, q) straight from SQL over a persisted
    sketch table must agree with the library finalizer."""
    from hg64spark import udfs
    from hg64spark.hg64 import HG64

    udfs.register(spark)
    base = _events_values(spark)
    sk = agg.hg64_agg(base, "v", ["event_type"], 5)
    sk.createOrReplaceTempView("ev_sketches")
    rows = spark.sql(
        "SELECT event_type, hg64_quantile(sketch, 0.9) AS p90, "
        "hg64_population(sketch) AS pop, hg64_mean(sketch) AS mean FROM ev_sketches"
    ).collect()
    want = {r["event_type"]: r["value"] for r in agg.hg64_quantiles(sk, ["event_type"], [0.9]).collect()}
    pdf = base.toPandas()
    for r in rows:
        assert r["p90"] == want[r["event_type"]]
        assert r["pop"] == int((pdf["event_type"] == r["event_type"]).sum())
    # rank UDF: SQL answer equals the library snapshot
    probe = 40_000
    ranks = spark.sql(
        f"SELECT event_type, hg64_rank(sketch, {probe}L) AS r FROM ev_sketches"
    ).collect()
    for r in ranks:
        blob = [x["sketch"] for x in sk.collect() if x["event_type"] == r["event_type"]][0]
        want_r = int(HG64.deserialize(bytes(blob)).snapshot().rank_of_value(
            __import__("numpy").array([probe], dtype="uint64"))[0])
        assert r["r"] == want_r
    # pairwise merge UDF == library merge
    two = spark.sql(
        "SELECT hg64_population(hg64_merge_pair(a.sketch, b.sketch)) AS pop "
        "FROM ev_sketches a JOIN ev_sketches b ON a.event_type = 'click' AND b.event_type = 'view'"
    ).collect()[0]["pop"]
    click = int((pdf["event_type"] == "click").sum())
    view = int((pdf["event_type"] == "view").sum())
    assert two == click + view


def test_sql_udfs_null_in_null_out(spark):
    """Every sketch UDF answers NULL for a NULL sketch, q or probe, and a NaN
    q is NULL too.  hg64_merge_pair passes a one-sided NULL through and
    gives NULL for two.  An empty sketch is not NULL: its quantile is
    UINT64_MAX (-1 as a long) and its mean 0.0."""
    from hg64spark import udfs

    udfs.register(spark)
    full = HG64(5).add_values(np.array([3, 70, 900])).serialize()
    empty = HG64(5).serialize()
    rows = [
        (0, None, 0.5, 10),
        (1, bytearray(full), None, None),
        (2, bytearray(full), float("nan"), 10),
        (3, bytearray(empty), 0.5, 10),
    ]
    spark.createDataFrame(rows, "id int, sketch binary, q double, probe long").createOrReplaceTempView(
        "udf_nulls"
    )
    got = {
        r["id"]: r
        for r in spark.sql(
            "SELECT id, hg64_quantile(sketch, q) AS qv, hg64_rank(sketch, probe) AS rk, "
            "hg64_population(sketch) AS pop, hg64_mean(sketch) AS mean, "
            "hg64_merge_pair(sketch, CAST(NULL AS BINARY)) AS m_left, "
            "hg64_merge_pair(CAST(NULL AS BINARY), sketch) AS m_right, "
            "hg64_merge_pair(CAST(NULL AS BINARY), CAST(NULL AS BINARY)) AS m_none "
            "FROM udf_nulls"
        ).collect()
    }
    cols = ("qv", "rk", "pop", "mean", "m_left", "m_right", "m_none")
    assert [got[0][c] for c in cols] == [None] * 7
    assert (got[1]["qv"], got[1]["rk"], got[1]["pop"]) == (None, None, 3)
    assert (got[2]["qv"], got[2]["rk"]) == (None, 1)
    assert (got[3]["qv"], got[3]["rk"], got[3]["pop"], got[3]["mean"]) == (-1, 0, 0, 0.0)
    for i, blob in ((1, full), (2, full), (3, empty)):
        assert bytes(got[i]["m_left"]) == bytes(got[i]["m_right"]) == blob
        assert got[i]["m_none"] is None


def test_relational_path_rejects_negative_values(spark):
    """Regression: arithmetic shiftright would silently mis-bucket negatives
    into the top buckets; the relational path must fail the job like the
    numpy path raises ValueError."""
    from hg64spark import relational

    df = spark.createDataFrame([(5,), (-3,)], "v long")
    with pytest.raises(Exception) as exc:
        relational.hg64_counts(df, "v", [], 5).collect()
    assert "unsigned" in str(exc.value)


def test_merge_order_is_canonical_for_order_sensitive_sketches(spark):
    """KLL/t-digest merges are order-sensitive; merge_sketches must produce
    the same merged sketch regardless of the partials' shuffle arrival
    order (it sorts blobs canonically), so distributed results are
    reproducible across cluster sizes (the scaling probe asserts this
    end-to-end via result_sha)."""
    import numpy as np

    from hg64spark import agg
    from hg64spark.sketches import KLL

    rng = np.random.default_rng(7)
    blobs = [
        KLL(32, seed=i + 1).add_values(rng.integers(0, 10**6, 4000)).serialize()
        for i in range(5)
    ]

    def merged(order):
        pdf = spark.createDataFrame(
            [(bytearray(blobs[i]),) for i in order], "sketch binary"
        )
        out = agg.merge_sketches(pdf, [], KLL.deserialize).collect()
        return bytes(out[0]["sketch"])

    assert merged([0, 1, 2, 3, 4]) == merged([4, 2, 0, 3, 1])


def test_merge_joins_nan_group_keys_of_any_payload(spark):
    """Arrow's dictionary encoding keeps NaNs with different payloads (and
    -0.0/0.0) apart; the merge still emits ONE NaN group and one 0.0 group,
    as Spark's groupBy does — on the driver (merge_table) and in
    merge_sketches."""
    import struct

    import pyarrow as pa

    nan2 = struct.unpack("<d", b"\x01\x00\x00\x00\x00\x00\xf8\x7f")[0]
    keys = [float("nan"), nan2, 1.0, nan2, -0.0, 0.0]
    blobs = [HG64().add_values(np.array([i * 100 + 1])).serialize() for i in range(len(keys))]
    table = pa.table({"g": pa.array(keys, pa.float64()), "sketch": pa.array(blobs, pa.binary())})
    assert len(table.column("g").combine_chunks().dictionary_encode().dictionary) == 5  # the split
    want = {
        "NaN": agg.merge_blobs([blobs[0], blobs[1], blobs[3]], HG64.deserialize),
        1.0: agg.merge_blobs([blobs[2]], HG64.deserialize),
        0.0: agg.merge_blobs([blobs[4], blobs[5]], HG64.deserialize),
    }

    def keyed(rows):
        out = {}
        for g, blob in rows:
            key = "NaN" if g != g else g
            assert key not in out, f"group {key} emitted twice"
            out[key] = bytes(blob)
        return out

    merged = agg.merge_table(table, 1, HG64.deserialize)
    assert keyed(zip(merged.column("g").to_pylist(), merged.column("sketch").to_pylist())) == want
    frame = spark.range(1).coalesce(1).mapInArrow(
        lambda it: (b for _ in it for b in table.to_batches()), "g double, sketch binary"
    )
    spark_rows = agg.merge_sketches(frame, ["g"], HG64.deserialize).collect()
    assert keyed((r["g"], r["sketch"]) for r in spark_rows) == want


@pytest.mark.parametrize("zeros", [(-0.0, 0.0), (0.0, -0.0)])
def test_merge_keys_signed_zero_inside_struct_as_spark_does(spark, zeros):
    """-0.0 and 0.0 in a struct field, at any depth, are one group keyed
    0.0, as in Spark's groupBy — on the driver (merge_table) and in
    merge_sketches, whichever row comes first."""
    import math

    import pyarrow as pa

    typ = pa.struct([("x", pa.float64()), ("s", pa.struct([("y", pa.float32())]))])
    keys = [{"x": z, "s": {"y": z}} for z in zeros] + [None, {"x": 1.0, "s": None}]
    blobs = [HG64().add_values(np.array([i * 100 + 1])).serialize() for i in range(len(keys))]
    table = pa.table({"g": pa.array(keys, typ), "sketch": pa.array(blobs, pa.binary())})
    zero = {"x": 0.0, "s": {"y": 0.0}}
    want = [
        (zero, agg.merge_blobs(blobs[:2], HG64.deserialize)),
        (None, blobs[2]),
        ({"x": 1.0, "s": None}, blobs[3]),
    ]

    def signed(g):
        # 0.0 == -0.0, so compare every key float together with its sign
        if isinstance(g, dict):
            return {k: signed(v) for k, v in g.items()}
        return None if g is None else (g, math.copysign(1.0, g))

    def keyed(rows):
        return sorted(((signed(g), bytes(b)) for g, b in rows), key=repr)

    merged = agg.merge_table(table, 1, HG64.deserialize)
    assert merged.schema == table.schema
    got = zip(merged.column("g").to_pylist(), merged.column("sketch").to_pylist())
    assert keyed(got) == keyed(want)
    frame = spark.range(1).coalesce(1).mapInArrow(
        lambda it: (b for _ in it for b in table.to_batches()),
        "g struct<x: double, s: struct<y: float>>, sketch binary",
    )
    spark_keys = [r["g"].asDict(recursive=True) for r in frame.groupBy("g").count().collect()
                  if r["g"] is not None]
    assert {"x": 0.0, "s": {"y": 0.0}} in spark_keys and len(spark_keys) == 2
    assert all(math.copysign(1.0, k["x"]) > 0 for k in spark_keys)
    rows = agg.merge_sketches(frame, ["g"], HG64.deserialize).collect()
    got = [(r["g"] and r["g"].asDict(recursive=True), r["sketch"]) for r in rows]
    assert keyed(got) == keyed(want)


def test_mg_relational_byte_equals_one_batch_fold(spark):
    """The relational Misra-Gries build must be BYTE-equal to the Python
    sketch folding the same data as a single batch (both are 'subtract the
    (k+1)-th largest count, drop non-positives' over exact counts) — with
    few enough items it is exact, with many the decrement fires; grouped
    and weighted variants included."""
    import numpy as np

    from hg64spark import relational
    from hg64spark.sketches import MG

    rng = np.random.default_rng(3)
    vals = rng.zipf(1.5, 4000).astype(str)
    df = spark.createDataFrame([(v,) for v in vals.tolist()], "item string").repartition(7)
    for k in (4, 64, 10_000):
        got = bytes(relational.mg_agg_relational(df, "item", k=k).collect()[0]["sketch"])
        want = MG(k).add_values(vals).serialize()
        assert got == want, k
    # grouped + weighted
    g = spark.createDataFrame(
        [("a", "x", 5), ("a", "y", 3), ("a", "x", 2), ("b", "z", 7)],
        "grp string, item string, w long",
    )
    rows = relational.mg_agg_relational(g, "item", k=8, group_cols=["grp"], weight_col="w").collect()
    by_grp = {r["grp"]: MG.deserialize(bytes(r["sketch"])) for r in rows}
    assert by_grp["a"].counters == {"x": 7, "y": 3} and by_grp["a"].n == 10
    assert by_grp["b"].counters == {"z": 7} and by_grp["b"].n == 7


def test_relational_weighted_paths_reject_negative_weights(spark):
    """A negative weight would silently break CMS's never-underestimate
    guarantee (and hg64's uint64 inc contract); the relational weighted
    paths must fail the job like the Python sketches raise ValueError."""
    from hg64spark import relational

    df = spark.createDataFrame([(5, 2), (7, -1)], "v long, w long")
    with pytest.raises(Exception, match="non-negative"):
        relational.hg64_counts(df, "v", [], 5, weight_col="w").collect()
    with pytest.raises(Exception, match="non-negative"):
        relational.cms_agg_relational(df, "v", 64, 3, weight_col="w").collect()
    # non-negative weights still work through the guard
    ok = relational.hg64_counts(
        spark.createDataFrame([(5, 2), (5, 3)], "v long, w long"), "v", [], 5, weight_col="w"
    ).collect()
    assert ok[0]["count"] == 5
    # the guard is built with the Column API, so a weight column whose name
    # needs backticks (hyphens/spaces) resolves instead of being parsed as
    # SQL fragments (dotted names stay out: F.col itself treats dots as
    # struct-field access, matching every other weight_col path here)
    odd = spark.createDataFrame([(5, 2), (5, 3)], "v long, `w col-x` long")
    ok2 = relational.hg64_counts(odd, "v", [], 5, weight_col="w col-x").collect()
    assert ok2[0]["count"] == 5
    with pytest.raises(Exception, match="non-negative"):
        relational.hg64_counts(
            spark.createDataFrame([(5, -2)], "v long, `w col-x` long"),
            "v", [], 5, weight_col="w col-x",
        ).collect()


def test_relational_quantiles_reject_q_ge_1(spark):
    from hg64spark import relational

    df = spark.createDataFrame([(5,)], "v long")
    with pytest.raises(ValueError, match="0 <= q < 1"):
        relational.hg64_quantiles_relational(df, "v", [1.0], [], 5)


def test_grouped_relational_fold_matches_arrow_agg(spark):
    """The relational tier's Arrow-segmented fold must produce blobs
    byte-identical to the vectorized-UDF tier (incl. a null group value)."""
    from hg64spark import relational

    df = spark.createDataFrame(
        [("a", 1), ("a", 100), ("b", 7), (None, 3), ("b", 2**40), (None, 9)],
        "g string, v long",
    ).repartition(3)
    a = {r["g"]: bytes(r["sketch"]) for r in relational.hg64_agg_relational(df, "v", ["g"], 5).collect()}
    u = {r["g"]: bytes(r["sketch"]) for r in agg.hg64_agg(df, "v", ["g"], 5, method="arrow").collect()}
    assert a == u and set(a) == {"a", "b", None}


def test_mg_binary_items_global_and_grouped_agree(spark):
    """A binary item must get the same MG key in the global driver fold
    (a collected Row: bytearray unless binaryAsBytes) and the grouped fold
    (pandas: bytes)."""
    from hg64spark import relational
    from hg64spark.sketches import MG

    items = [b"x", b"x", b"\x00y", b"\xff", b"x", b"\xff", b"q'"]
    df = spark.createDataFrame([("all", bytearray(v)) for v in items], "g string, item binary")
    want = {str(b"x"): 3, str(b"\xff"): 2, str(b"\x00y"): 1, str(b"q'"): 1}
    for as_bytes in ("true", "false"):
        spark.conf.set("spark.sql.execution.pyspark.binaryAsBytes", as_bytes)
        try:
            glob = bytes(relational.mg_agg_relational(df, "item", k=8).collect()[0]["sketch"])
            (grp,) = relational.mg_agg_relational(df, "item", k=8, group_cols=["g"]).collect()
        finally:
            spark.conf.unset("spark.sql.execution.pyspark.binaryAsBytes")
        assert bytes(grp["sketch"]) == glob, as_bytes
        assert MG.deserialize(glob).counters == want, as_bytes


def test_mg_binary_items_python_tier_matches_relational(spark):
    """The Python-tier MG (sketch_partials + merge_sketches) keys binary
    items as the relational tier does: a trailing NUL is kept, non-ASCII
    bytes do not raise, and bytes and bytearray key alike."""
    from hg64spark import relational
    from hg64spark.sketches import MG

    items = [b"a\x00", b"a", b"\xff", bytearray(b"a\x00"), b"\xff", bytearray(b"zz"), b"a\x00"]
    local = MG(8).add_values(np.array(items, dtype=object))
    assert local.counters == {
        str(b"a\x00"): 3, str(b"a"): 1, str(b"\xff"): 2, str(b"zz"): 1
    }
    assert local.estimate([b"a\x00", bytearray(b"\xff"), b"a"]).tolist() == [3, 2, 1]

    df = spark.createDataFrame(
        [(f"g{i % 2}", v) for i, v in enumerate(items * 3)], "g string, item binary"
    ).repartition(3)
    for groups in ([], ["g"]):
        python_tier = agg.merge_sketches(
            agg.sketch_partials(df, "item", groups, lambda: MG(8)), groups, MG.deserialize
        )
        rel = relational.mg_agg_relational(df, "item", k=8, group_cols=groups)
        got = {tuple(r[g] for g in groups): bytes(r["sketch"]) for r in python_tier.collect()}
        want = {tuple(r[g] for g in groups): bytes(r["sketch"]) for r in rel.collect()}
        assert got == want, groups


def test_scans_are_pruned_and_filters_pushed(spark):
    """The brief's 'push down and prune' criterion, mechanically asserted on
    both hg64 build tiers: the parquet scan reads ONLY the referenced
    columns (ReadSchema) and the filter reaches the scan (PushedFilters) —
    a scan reading all columns for a 2-column projection would be wrong at
    100 TB."""
    from hg64spark import relational

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    df = ev.filter(F.col("user_id") < 500).select(
        "event_type", F.floor(F.col("value") * 1000).cast("long").alias("v")
    )
    built = {
        "hg64_agg": agg.hg64_agg(df, "v", ["event_type"]),
        "hg64_agg_arrow": agg.hg64_agg(df, "v", ["event_type"], method="arrow"),
        "hg64_counts": relational.hg64_counts(df, "v", ["event_type"]),
    }
    for name, out in built.items():
        plan = out._jdf.queryExecution().executedPlan().toString()
        (scan,) = [l for l in plan.splitlines() if "FileScan parquet" in l]
        read = scan.split("ReadSchema: struct<", 1)[1].split(">", 1)[0]
        assert {f.split(":")[0] for f in read.split(",")} == {"user_id", "event_type", "value"}, name
        pushed = scan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        assert "LessThan(user_id,500)" in pushed, (name, pushed)


def test_segment_record_batch_lexsort_fallback_matches_fused_path():
    """The int64-radix-overflow fallback (np.lexsort over per-column codes)
    must segment identically to the fused fast path, including NULL and NaN
    group values and zero rows."""
    import numpy as np
    import pyarrow as pa

    from hg64spark.agg import segment_record_batch

    rng = np.random.default_rng(7)
    n = 5_000
    rb = pa.RecordBatch.from_arrays(
        [
            pa.array(rng.choice(["a", "b", None, "c"], n).tolist()),
            pa.array([None if x > 0.9 else float(int(x * 5)) for x in rng.random(n)]),
            pa.array(rng.integers(0, 7, n)),
        ],
        names=["g1", "g2", "g3"],
    )

    def norm(segs):
        out = {}
        for key, idx in segs:
            key = tuple("NaN" if isinstance(v, float) and v != v else v for v in key)
            out[key] = np.sort(idx).tolist()
        return out

    fast = norm(segment_record_batch(rb, 3))
    slow = norm(segment_record_batch(rb, 3, _force_lexsort=True))
    assert fast == slow and len(fast) > 10

    empty = pa.RecordBatch.from_arrays([pa.array([], type=pa.string())], names=["g1"])
    assert segment_record_batch(empty, 1, _force_lexsort=True) == []


def test_read_table_csv_json_branches_match_parquet(spark, tmp_path):
    """The text-format branches: same table written as csv and json must
    produce identical query results through read_table, with the schema
    pinned by conf (inference is an extra full pass — rejected loudly when
    the DDL is missing)."""
    import pytest as _pytest

    from hg64spark import io as hio, relational

    src = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    ).limit(500)
    base = str(tmp_path)
    src.coalesce(1).write.mode("overwrite").option("header", "true").csv(f"{base}/lineitem.csv")
    src.coalesce(1).write.mode("overwrite").json(f"{base}/lineitem.json")
    expected = sorted(
        (r["hg64_key"], r["count"])
        for r in relational.hg64_counts(src.selectExpr("CAST(l_quantity AS LONG) v"), "v", [], 5).collect()
    )
    ddl = "l_orderkey long, l_quantity double"
    for fmt in ("csv", "json"):
        spark.conf.set(hio.FORMAT_CONF, fmt)
        try:
            with _pytest.raises(ValueError, match="requires a schema"):
                hio.read_table(spark, base, "lineitem")
            spark.conf.set(f"{hio.SCHEMA_CONF_PREFIX}.lineitem", ddl)
            t = hio.read_table(spark, base, "lineitem")
            got = sorted(
                (r["hg64_key"], r["count"])
                for r in relational.hg64_counts(
                    t.selectExpr("CAST(l_quantity AS LONG) v"), "v", [], 5
                ).collect()
            )
            assert got == expected, fmt
        finally:
            spark.conf.set(hio.FORMAT_CONF, "parquet")
            spark.conf.unset(f"{hio.SCHEMA_CONF_PREFIX}.lineitem")


def test_read_table_catalog_branch_is_config_not_code(spark):
    """The io.read_table indirection: flipping the session conf to a catalog
    format reroutes EVERY query's reads through spark.table — verified here
    with a registered view standing in for an Iceberg catalog table (the
    jars-free mechanical check of 'table format is config, not code')."""
    from hg64spark import io as hio

    rows = [(1, "x"), (2, "y")]
    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView("documents")
    spark.conf.set(hio.FORMAT_CONF, "iceberg")
    try:
        got = hio.read_table(spark, "/nonexistent/ignored", "documents").collect()
        assert sorted((r["doc_id"], r["text"]) for r in got) == rows
        # and a library builder runs end to end through the catalog read
        spark.conf.set(hio.FORMAT_CONF, "parquet")
        want = transcripts.transcripts_from_events(spark, SF_DIR).collect()
        spark.read.parquet(f"{SF_DIR}/events.parquet").createOrReplaceTempView("events")
        spark.conf.set(hio.FORMAT_CONF, "iceberg")
        out = transcripts.transcripts_from_events(spark, "/nonexistent/ignored").collect()
        assert len(want) > 0 and sorted(out) == sorted(want)
    finally:
        spark.conf.set(hio.FORMAT_CONF, "parquet")
        spark.catalog.dropTempView("documents")
        spark.catalog.dropTempView("events")


def test_hg64_tv_drift_exact_bounds(spark):
    """TV drift sanity with exactly-known answers: two equal-size groups in
    disjoint bucket ranges each sit at TV 0.5 from the pooled global
    distribution (half their mass is elsewhere), and a single group IS the
    global distribution (TV exactly 0.0 — the integer numerator makes
    these equalities exact, not approximate)."""
    from hg64spark import relational

    a = spark.range(1000).selectExpr("'a' AS g", "CAST(id % 7 + 1 AS LONG) AS v")
    b = spark.range(1000).selectExpr("'b' AS g", "CAST((id % 7 + 1) * 1048576 AS LONG) AS v")
    out = {
        r["g"]: (r["tv_numerator"], r["tv"])
        for r in relational.hg64_tv_drift(a.unionAll(b), "v", "g", 5).collect()
    }
    assert out["a"][1] == 0.5 and out["b"][1] == 0.5, out
    single = relational.hg64_tv_drift(a, "v", "g", 5).collect()
    assert single[0]["tv"] == 0.0 and single[0]["tv_numerator"] == 0
    # NULL is a group like any other: a NULL-keyed group with the SAME
    # distribution as a named group must report the same drift — a
    # null-unsafe join would never match its counts back and report the
    # worst-possible tv=0.5 instead
    n = spark.range(1000).selectExpr("CAST(NULL AS STRING) AS g", "CAST(id % 7 + 1 AS LONG) AS v")
    out2 = {
        r["g"]: r["tv"]
        for r in relational.hg64_tv_drift(a.unionAll(n), "v", "g", 5).collect()
    }
    assert out2["a"] == 0.0 and out2[None] == 0.0, out2


def test_hg64_rank_features_bit_parity_and_plan(spark):
    """The per-row tagged rank must equal HG64Snapshot.rank_of_value
    bit-for-bit (same key math, same FP interpolation order), and the
    data side must reach the join WITHOUT an Exchange — the cumulative
    table broadcasts to the rows, never the reverse."""
    import numpy as np

    from hg64spark import relational
    from hg64spark.hg64 import HG64

    df = spark.range(20_000).selectExpr(
        "id AS rid", "CAST(pmod(id * 2654435761, 1000000) AS LONG) AS v"
    )
    out = relational.hg64_rank_features(df, "v", [], 5).collect()
    vals = np.array([r["v"] for r in out], dtype=np.uint64)
    sk = HG64(5)
    sk.add_values(vals)
    want = sk.snapshot().rank_of_value(vals)
    got = np.array([r["hg64_rank"] for r in out], dtype=np.uint64)
    assert np.array_equal(got, want)
    pops = {r["pct_rank"] * 0 + 1 for r in out if r["pct_rank"] is not None}
    assert pops == {1}
    plan = (
        relational.hg64_rank_features(df, "v", [], 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    # the row side flows scan -> project -> join with no shuffle: the only
    # Exchanges belong to the counts/window branch under BroadcastExchange
    row_side = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in row_side, plan


def test_weighted_drift_and_overlap(spark):
    """weight_col threads through both monitors: integer weights behave as
    row multiplicity (weight w == w copies of the row), verified by
    comparing the weighted build against an exploded unweighted one."""
    from hg64spark import relational

    w = spark.range(2000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS g",
        "CAST(id % 11 + 1 AS LONG) AS v",
        "CAST(id % 3 AS LONG) AS wt",  # includes zero weights
    )
    # array_repeat, NOT sequence(1, wt): sequence counts DOWN for wt=0,
    # producing [1, 0] — two phantom copies of a zero-weight row
    exploded = w.selectExpr(
        "g", "v", "explode(array_repeat(1, CAST(wt AS INT))) AS _i"
    ).select("g", "v")
    for fn in (
        lambda d, **kw: relational.hg64_tv_drift(d, "v", "g", 5, **kw),
        lambda d, **kw: relational.hg64_overlap(d, "v", "g", 5, **kw),
    ):
        a = sorted(tuple(r) for r in fn(w, weight_col="wt").collect())
        b = sorted(tuple(r) for r in fn(exploded).collect())
        assert a == b and a
    # double weights have no integer-exact numerator: rejected with intent
    # (plan-build time), not a downstream type error
    import pytest

    wd = w.selectExpr("g", "v", "CAST(wt AS DOUBLE) AS wt")
    for fn in (relational.hg64_tv_drift, relational.hg64_overlap):
        with pytest.raises(ValueError, match="integral counts"):
            fn(wd, "v", "g", 5, weight_col="wt")
    # a ZERO-MASS group (all weights 0) must yield NULL tv/overlap rows,
    # not an ANSI DIVIDE_BY_ZERO crash (Spark 4 default) — found by
    # code review after the weighted path made n_g = 0 reachable
    z = w.selectExpr("g", "v", "CASE WHEN g = 'b' THEN 0L ELSE wt END AS wt")
    tv = {r["g"]: r["tv"] for r in relational.hg64_tv_drift(z, "v", "g", 5, weight_col="wt").collect()}
    assert tv["b"] is None and tv["a"] is not None
    ov = relational.hg64_overlap(z, "v", "g", 5, weight_col="wt").collect()
    assert all(r["overlap"] is None for r in ov if r["g_b"] == "b")


def test_hg64_tv_drift_overflow_guard(spark):
    """The int64-exactness bound (n_g * n < 2^62) is enforced plan-side:
    counts frames past it must FAIL, not silently wrap the numerator.
    Driven through the counts entry point (the only way to reach the
    bound without 2^31 raw rows); a frame just UNDER the bound passes."""
    import pyspark.errors
    import pytest

    from hg64spark import relational

    over = spark.createDataFrame(
        [("a", 100, 1 << 31), ("b", 200, 1 << 31)],
        "g string, hg64_key int, count long",
    )
    with pytest.raises(pyspark.errors.PySparkException, match="2\\^62"):
        relational.hg64_tv_drift_from_counts(over, "g").collect()
    under = spark.createDataFrame(
        [("a", 100, 1 << 30), ("b", 200, 1 << 30)],
        "g string, hg64_key int, count long",
    )
    out = {r["g"]: r["tv"] for r in relational.hg64_tv_drift_from_counts(under, "g").collect()}
    # disjoint single-bucket groups of equal mass: each is half the pool
    assert out == {"a": 0.5, "b": 0.5}, out
    # the documented swap-in: numerator="decimal" agrees exactly with the
    # long path below the bound AND keeps working ABOVE it (where the long
    # path just raised) — the guard's advice is a real code path
    dl = {
        r["g"]: (int(r["tv_numerator"]), r["tv"])
        for r in relational.hg64_tv_drift_from_counts(under, "g", numerator="decimal").collect()
    }
    ll = {
        r["g"]: (int(r["tv_numerator"]), r["tv"])
        for r in relational.hg64_tv_drift_from_counts(under, "g").collect()
    }
    assert dl == ll
    big = {
        r["g"]: r["tv"]
        for r in relational.hg64_tv_drift_from_counts(over, "g", numerator="decimal").collect()
    }
    assert big == {"a": 0.5, "b": 0.5}, big
    with pytest.raises(ValueError, match="numerator"):
        relational.hg64_tv_drift_from_counts(under, "g", numerator="float")
    # the overlap twin: same guard, same decimal swap-in
    shared = spark.createDataFrame(
        [("a", 100, 1 << 31), ("b", 100, 1 << 31)],
        "g string, hg64_key int, count long",
    )
    with pytest.raises(pyspark.errors.PySparkException, match="2\\^62"):
        relational.hg64_overlap_from_counts(shared, "g").collect()
    ov = relational.hg64_overlap_from_counts(shared, "g", numerator="decimal").collect()
    assert len(ov) == 1 and ov[0]["overlap"] == 1.0


def test_hg64_overlap_exact_bounds(spark):
    """Histogram overlap sanity with exactly-known answers: a group
    compared against an identically-distributed twin scores exactly 1.0
    (integer numerator makes it equality, not approximation), disjoint
    supports emit NO row (documented corollary of the inner join), and a
    NULL-keyed group participates, deterministically ordered last."""
    from hg64spark import relational

    a = spark.range(1000).selectExpr("'a' AS g", "CAST(id % 7 + 1 AS LONG) AS v")
    b = spark.range(1000).selectExpr("'b' AS g", "CAST(id % 7 + 1 AS LONG) AS v")
    d = spark.range(500).selectExpr("'d' AS g", "CAST((id % 7 + 1) * 1048576 AS LONG) AS v")
    n = spark.range(1000).selectExpr("CAST(NULL AS STRING) AS g", "CAST(id % 7 + 1 AS LONG) AS v")
    out = {
        (r["g_a"], r["g_b"]): r["overlap"]
        for r in relational.hg64_overlap(a.unionAll(b).unionAll(d).unionAll(n), "v", "g", 5).collect()
    }
    assert out[("a", "b")] == 1.0
    assert ("a", "d") not in out and ("b", "d") not in out  # disjoint: no row
    # NULL group pairs exist, NULL always on the g_b side, overlap exact 1.0
    assert out[("a", None)] == 1.0 and out[("b", None)] == 1.0
    assert all(k[0] is not None for k in out)


def test_retraction_is_exact_inverse_of_merge(spark):
    """Sketch retraction: (A+B).subtract(B) == A locally, the relational
    counts subtraction equals a from-scratch build of the survivors
    byte-for-byte through the fold, and underflow / sigbits mismatch fail
    loudly (silent uint64 wraparound would corrupt every later query)."""
    from hg64spark import relational

    rng = np.random.default_rng(3)
    va = rng.integers(1, 10**9, 4000).astype(np.uint64)
    vb = rng.integers(1, 10**9, 2500).astype(np.uint64)
    a = HG64(5).add_values(va)
    ab = HG64(5).add_values(va).add_values(vb)
    b = HG64(5).add_values(vb)
    assert ab.subtract(b) == a
    with pytest.raises(ValueError, match="underflow|sub-sketch"):
        HG64(5).add_values(va[:10]).subtract(HG64(5).add_values(va))
    with pytest.raises(ValueError, match="sigbits"):
        HG64(5).subtract(HG64(4))
    # relational: totals minus expired == from-scratch survivors
    df = spark.createDataFrame(
        [(int(v), int(v) % 3 == 0) for v in va], "v long, expired boolean"
    )
    total = relational.hg64_counts(df, "v", [], 5)
    exp = relational.hg64_counts(df.filter("expired"), "v", [], 5)
    got = {
        (r["hg64_key"], r["count"])
        for r in relational.hg64_counts_subtract(total, exp).collect()
    }
    want = {
        (r["hg64_key"], r["count"])
        for r in relational.hg64_counts(df.filter("NOT expired"), "v", [], 5).collect()
    }
    assert got == want
    # plan-side underflow guard: expired counts exceeding the total fail
    bigger = relational.hg64_counts(df.unionAll(df), "v", [], 5)
    with pytest.raises(Exception, match="underflow"):
        relational.hg64_counts_subtract(total, bigger).collect()
    # GROUPED retraction with a NULL group: NULL is a group like any other
    # (null-safe join) — its retraction must succeed and match the
    # from-scratch survivors, not trip the underflow guard
    gdf = spark.createDataFrame(
        [(int(v), None if v % 2 else "g1", int(v) % 3 == 0) for v in va[:1000]],
        "v long, g string, expired boolean",
    )
    gt = relational.hg64_counts(gdf, "v", ["g"], 5)
    ge = relational.hg64_counts(gdf.filter("expired"), "v", ["g"], 5)
    got_g = {
        (r["g"], r["hg64_key"], r["count"])
        for r in relational.hg64_counts_subtract(gt, ge, ["g"]).collect()
    }
    want_g = {
        (r["g"], r["hg64_key"], r["count"])
        for r in relational.hg64_counts(gdf.filter("NOT expired"), "v", ["g"], 5).collect()
    }
    assert got_g == want_g and any(g is None for g, _, _ in got_g)


def test_hg64_ks_drift_exact_bounds_and_guard(spark):
    """KS drift sanity with exactly-known answers: two equal-size groups in
    disjoint bucket ranges each have their worst CDF gap at the range
    boundary (|1.0 - 0.5| = 0.5, exact); a single group IS the global
    distribution (ks exactly 0.0); a NULL-keyed group with the same
    distribution as a named one must report 0.0 (null-safe join); the
    2^62 plan-side guard fires on the counts entry point and the decimal
    numerator agrees below the bound and works above it."""
    import pyspark.errors
    import pytest

    from hg64spark import relational

    a = spark.range(1000).selectExpr("'a' AS g", "CAST(id % 7 + 1 AS LONG) AS v")
    b = spark.range(1000).selectExpr(
        "'b' AS g", "CAST((id % 7 + 1) * 1048576 AS LONG) AS v"
    )
    out = {
        r["g"]: (r["ks_numerator"], r["ks"])
        for r in relational.hg64_ks_drift(a.unionAll(b), "v", "g", 5).collect()
    }
    assert out["a"][1] == 0.5 and out["b"][1] == 0.5, out
    single = relational.hg64_ks_drift(a, "v", "g", 5).collect()
    assert single[0]["ks"] == 0.0 and single[0]["ks_numerator"] == 0
    n = spark.range(1000).selectExpr(
        "CAST(NULL AS STRING) AS g", "CAST(id % 7 + 1 AS LONG) AS v"
    )
    out2 = {
        r["g"]: r["ks"]
        for r in relational.hg64_ks_drift(a.unionAll(n), "v", "g", 5).collect()
    }
    assert out2["a"] == 0.0 and out2[None] == 0.0, out2

    over = spark.createDataFrame(
        [("a", 100, 1 << 31), ("b", 200, 1 << 31)],
        "g string, hg64_key int, count long",
    )
    with pytest.raises(pyspark.errors.PySparkException, match="2\\^62"):
        relational.hg64_ks_drift_from_counts(over, "g").collect()
    under = spark.createDataFrame(
        [("a", 100, 1 << 30), ("b", 200, 1 << 30)],
        "g string, hg64_key int, count long",
    )
    dl = {
        r["g"]: (int(r["ks_numerator"]), r["ks"])
        for r in relational.hg64_ks_drift_from_counts(
            under, "g", numerator="decimal"
        ).collect()
    }
    ll = {
        r["g"]: (int(r["ks_numerator"]), r["ks"])
        for r in relational.hg64_ks_drift_from_counts(under, "g").collect()
    }
    assert dl == ll and ll["a"][1] == 0.5
    big = {
        r["g"]: r["ks"]
        for r in relational.hg64_ks_drift_from_counts(over, "g", numerator="decimal").collect()
    }
    assert big == {"a": 0.5, "b": 0.5}, big


def _weighted_fixture(spark, vmod: int = 19):
    """The weighted-multiplicity fixture shared by every
    *_weighted_equals_exploded test: (z, exploded) where z carries integer
    weights 1..3 and exploded repeats each row weight times — ONE
    definition so a future fixture change (e.g. adding a NULL-weight row)
    cannot silently diverge between the four statistics' suites."""
    z = spark.range(500).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'x' ELSE 'y' END AS g",
        f"CAST(id % {vmod} + 1 AS LONG) AS v",
        "CAST(id % 3 + 1 AS LONG) AS wt",
    )
    exploded = z.selectExpr("g", "v", "explode(array_repeat(1, CAST(wt AS INT))) AS one")
    return z, exploded


def test_hg64_ks_weighted_equals_exploded(spark):
    """A weighted KS build must equal the unweighted build over the
    weight-exploded rows — weights are multiplicities, for the sup-norm
    statistic exactly as for TV."""
    from hg64spark import relational

    z, exploded = _weighted_fixture(spark)
    got_w = {
        r["g"]: (r["ks_numerator"], r["ks"])
        for r in relational.hg64_ks_drift(z, "v", "g", 5, weight_col="wt").collect()
    }
    got_e = {
        r["g"]: (r["ks_numerator"], r["ks"])
        for r in relational.hg64_ks_drift(exploded, "v", "g", 5).collect()
    }
    assert got_w == got_e and got_w


def test_hg64_w1_drift_exact_bounds_and_guard(spark):
    """W1 drift sanity with exactly-known answers: two equal-size point
    masses at keys d apart each sit at W1 = d/2 against the pooled
    distribution (the CDF gap is 0.5 across the d intervening key units);
    a single group IS the global distribution (w1 exactly 0.0); a
    NULL-keyed group with a named twin's distribution reports 0.0
    (null-safe join); the span-tightened 2^62 guard fires on the counts
    entry point, the per-gap key_span self-check fires on an understated
    span, and the decimal numerator agrees below the bound and works
    above it."""
    import numpy as np
    import pyspark.errors
    import pytest

    from hg64spark import keymath, relational

    ka, kb = keymath.value_to_key(np.array([1, 1048576], dtype=np.uint64), 5)
    d = int(kb - ka)
    a = spark.range(1000).selectExpr("'a' AS g", "CAST(1 AS LONG) AS v")
    b = spark.range(1000).selectExpr("'b' AS g", "CAST(1048576 AS LONG) AS v")
    out = {
        r["g"]: (r["w1_numerator"], r["w1"])
        for r in relational.hg64_w1_drift(a.unionAll(b), "v", "g", 5).collect()
    }
    assert out["a"] == (1000 * 1000 * d, d / 2) and out["b"] == out["a"], out
    single = relational.hg64_w1_drift(a, "v", "g", 5).collect()
    assert single[0]["w1"] == 0.0 and single[0]["w1_numerator"] == 0
    n = spark.range(1000).selectExpr(
        "CAST(NULL AS STRING) AS g", "CAST(1 AS LONG) AS v"
    )
    out2 = {
        r["g"]: r["w1"]
        for r in relational.hg64_w1_drift(a.unionAll(n), "v", "g", 5).collect()
    }
    assert out2["a"] == 0.0 and out2[None] == 0.0, out2

    over = spark.createDataFrame(
        [("a", 100, 1 << 31), ("b", 200, 1 << 31)],
        "g string, hg64_key int, count long",
    )
    with pytest.raises(pyspark.errors.PySparkException, match="2\\^62"):
        relational.hg64_w1_drift_from_counts(over, "g").collect()
    # the span-tightened guard fires ~3 decades EARLIER than TV/KS's:
    # terms=1920 * n_g * n_all over 2^62 at counts TV itself accepts
    mid = spark.createDataFrame(
        [("a", 100, 1 << 26), ("b", 200, 1 << 26)],
        "g string, hg64_key int, count long",
    )
    assert {r["g"] for r in relational.hg64_tv_drift_from_counts(mid, "g").collect()} == {"a", "b"}
    with pytest.raises(pyspark.errors.PySparkException, match="2\\^62"):
        relational.hg64_w1_drift_from_counts(mid, "g").collect()
    under = spark.createDataFrame(
        [("a", 100, 1 << 20), ("b", 200, 1 << 20)],
        "g string, hg64_key int, count long",
    )
    dl = {
        r["g"]: (int(r["w1_numerator"]), r["w1"])
        for r in relational.hg64_w1_drift_from_counts(
            under, "g", numerator="decimal"
        ).collect()
    }
    ll = {
        r["g"]: (int(r["w1_numerator"]), r["w1"])
        for r in relational.hg64_w1_drift_from_counts(under, "g").collect()
    }
    assert dl == ll and ll["a"][1] == 50.0, ll  # gap 100 keys * 0.5
    big = {
        r["g"]: r["w1"]
        for r in relational.hg64_w1_drift_from_counts(mid, "g", numerator="decimal").collect()
    }
    assert big == {"a": 50.0, "b": 50.0}, big
    with pytest.raises(pyspark.errors.PySparkException, match="key gap exceeds"):
        relational.hg64_w1_drift_from_counts(under, "g", key_span=10).collect()
    with pytest.raises(ValueError, match="key_span"):
        relational.hg64_w1_drift_from_counts(under, "g", key_span=0)


def test_hg64_w1_weighted_equals_exploded(spark):
    """A weighted W1 build must equal the unweighted build over the
    weight-exploded rows — weights are multiplicities for the gap-weighted
    statistic exactly as for TV and KS."""
    from hg64spark import relational

    z, exploded = _weighted_fixture(spark)
    got_w = {
        r["g"]: (r["w1_numerator"], r["w1"])
        for r in relational.hg64_w1_drift(z, "v", "g", 5, weight_col="wt").collect()
    }
    got_e = {
        r["g"]: (r["w1_numerator"], r["w1"])
        for r in relational.hg64_w1_drift(exploded, "v", "g", 5).collect()
    }
    assert got_w == got_e and got_w


def test_hg64_trimmed_stats_exact_and_unsigned(spark):
    """Trimmed stats with exactly-known answers: values 1..10 once each at
    [q10, q90] trim to buckets 2..10 (rank=floor(q*pop) clamp semantics,
    n=9, sum=54, mean=6.0); a NULL group with the same data reports the
    same stats (null-safe thresholds join); a top-decade bucket whose
    int64 minval wraps negative is restored unsigned in the decimal sum;
    invalid quantile bounds raise."""
    import pytest

    from hg64spark import relational

    rows = [("a", v) for v in range(1, 11)] + [(None, v) for v in range(1, 11)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {
        r["g"]: (r["lo_key"], r["hi_key"], r["trimmed_n"], int(r["trimmed_sum"]), r["trimmed_mean"])
        for r in relational.hg64_trimmed_stats(df, "v", ["g"], 5, qlo=0.1, qhi=0.9).collect()
    }
    assert out["a"] == (2, 10, 9, 54, 6.0), out
    assert out[None] == out["a"], out

    # key 1888 at sigbits=5 is the 2^63 bucket: minval wraps to -2^63 in
    # int64; the decimal sum must carry the true unsigned value
    top = spark.createDataFrame([("a", 1888, 3)], "g string, hg64_key int, count long")
    t = relational.hg64_trimmed_stats_from_counts(top, ["g"], 5, qlo=0.0, qhi=0.9).collect()
    assert int(t[0]["trimmed_sum"]) == 3 * (1 << 63), t
    assert t[0]["trimmed_mean"] == float(1 << 63)

    with pytest.raises(ValueError, match="qlo"):
        relational.hg64_trimmed_stats_from_counts(top, ["g"], 5, qlo=0.9, qhi=0.1)
    with pytest.raises(ValueError, match="qlo"):
        relational.hg64_trimmed_stats_from_counts(top, ["g"], 5, qlo=0.0, qhi=1.0)


def test_hg64_trimmed_weighted_equals_exploded(spark):
    """Trimmed stats over a weighted build must equal the unweighted build
    over the weight-exploded rows — the counts-frame entry point is
    build-agnostic, completing the TV/KS/W1 multiplicity pattern; a
    zero-mass group reports an all-NULL row (the drift-family inventory
    contract), not a silent drop."""
    from hg64spark import relational

    z, exploded = _weighted_fixture(spark, vmod=97)
    key = lambda r: (r["g"], r["lo_key"], r["hi_key"], r["trimmed_n"], int(r["trimmed_sum"]), r["trimmed_mean"])
    got_w = sorted(
        key(r)
        for r in relational.hg64_trimmed_stats_from_counts(
            relational.hg64_counts(z, "v", ["g"], 5, weight_col="wt"), ["g"], 5, 0.1, 0.9
        ).collect()
    )
    got_e = sorted(
        key(r)
        for r in relational.hg64_trimmed_stats(exploded, "v", ["g"], 5, qlo=0.1, qhi=0.9).collect()
    )
    assert got_w == got_e and got_w

    # zero-mass group: all-NULL row, present in the inventory
    zm = z.selectExpr("g", "v", "CASE WHEN g = 'y' THEN 0L ELSE wt END AS wt")
    rows = {
        r["g"]: (r["lo_key"], r["trimmed_n"], r["trimmed_mean"])
        for r in relational.hg64_trimmed_stats(
            zm, "v", ["g"], 5, qlo=0.1, qhi=0.9, weight_col="wt"
        ).collect()
    }
    assert rows["y"] == (None, None, None) and rows["x"][1] is not None, rows


def test_hg64_tv_adjacent_exact_bounds(spark):
    """Adjacent-window TV with exactly-known answers: an identical
    successor window sits at tv 0.0, a fully disjoint one at tv 1.0, and
    the first window (no predecessor) emits no row; decimal numerator
    agrees exactly."""
    from hg64spark import relational

    wc = spark.createDataFrame(
        [
            (0, 10, 100), (0, 20, 300),        # w0
            (1000, 10, 100), (1000, 20, 300),  # w1 == w0 -> tv 0
            (2000, 30, 50), (2000, 40, 50),    # w2 disjoint from w1 -> tv 1
        ],
        "wstart_us long, hg64_key int, count long",
    )
    out = {
        r["wstart_us"]: (r["tv_numerator"], r["tv"])
        for r in relational.hg64_tv_adjacent(wc, 1000).collect()
    }
    assert set(out) == {1000, 2000}, out
    assert out[1000][1] == 0.0 and out[1000][0] == 0
    assert out[2000][1] == 1.0
    dec = {
        r["wstart_us"]: (int(r["tv_numerator"]), r["tv"])
        for r in relational.hg64_tv_adjacent(wc, 1000, numerator="decimal").collect()
    }
    assert dec == {k: (int(a), b) for k, (a, b) in out.items()}


def test_drift_family_rejects_bad_numerator(spark):
    """Every drift-family entry point must reject a numerator typo up
    front (validation lives in the one helper that branches on it), not
    silently run the int64 path."""
    import pytest

    from hg64spark import relational

    wc = spark.createDataFrame(
        [("a", 10, 5)], "g string, hg64_key int, count long"
    )
    w2 = spark.createDataFrame(
        [(0, 10, 5), (1000, 10, 5)], "wstart_us long, hg64_key int, count long"
    )
    with pytest.raises(ValueError, match="numerator"):
        relational.hg64_tv_drift_from_counts(wc, "g", numerator="Decimal")
    with pytest.raises(ValueError, match="numerator"):
        relational.hg64_ks_drift_from_counts(wc, "g", numerator="dec")
    with pytest.raises(ValueError, match="numerator"):
        relational.hg64_tv_adjacent(w2, 1000, numerator="typo")


def test_hg64_calibrate_bit_parity_and_plan(spark):
    """Cross-corpus calibration must equal HG64Snapshot.rank_of_value
    bit-for-bit against the REFERENCE sketch — including query values in
    buckets the reference never saw (the densified-cumulative case, above
    and below the reference's range) — and the data side must reach the
    broadcast join without an Exchange."""
    import numpy as np

    from hg64spark import relational
    from hg64spark.hg64 import HG64

    ref = spark.range(5_000).selectExpr("CAST(id % 700 + 50 AS LONG) AS v")
    # query values: inside, below, above, and far above the ref range
    qv = [0, 1, 49, 50, 51, 300, 749, 750, 800, 10_000, 2**40]
    q = spark.createDataFrame([(i, v) for i, v in enumerate(qv)], "id long, v long")
    out = {
        r["id"]: (r["ref_rank"], r["ref_pct"])
        for r in relational.hg64_calibrate(q, "v", ref, "v", 5).collect()
    }
    sk = HG64(5).add_values((np.arange(5_000) % 700 + 50).astype(np.uint64))
    snap = sk.snapshot()
    ranks = snap.rank_of_value(np.array(qv, dtype=np.uint64))
    for i, v in enumerate(qv):
        assert out[i][0] == int(ranks[i]), (v, out[i], int(ranks[i]))
        assert out[i][1] == int(ranks[i]) / 5_000.0
    plan = (
        relational.hg64_calibrate(q, "v", ref, "v", 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    streamed = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in streamed, plan


def test_struct_group_codes_null_struct_is_its_own_group():
    """``agg.group_codes`` codes a struct column from its fields: a NULL
    struct, a struct of NULLs and a struct with a NaN field are three
    groups, every NaN field is one value, and a zoned timestamp field comes
    back relabelled UTC at the same instant."""
    import datetime as dt

    import pyarrow as pa

    ts = pa.timestamp("us", "America/Los_Angeles")
    t0 = dt.datetime(2024, 7, 1, 12, tzinfo=dt.timezone.utc)
    s = pa.array(
        [
            {"t": t0, "x": 1.0},
            None,
            {"t": None, "x": None},
            {"t": t0, "x": float("nan")},
            {"t": t0, "x": 1.0},
            None,
            {"t": t0, "x": float("nan")},
        ],
        pa.struct([("t", ts), ("x", pa.float64())]),
    )
    rb = pa.RecordBatch.from_arrays([s, pa.array([7] * len(s))], names=["s", "v"])
    keys, codes, _ = agg.group_codes(rb, 1)
    assert len(keys) == 4
    assert codes[0] == codes[4] and codes[1] == codes[5] and codes[3] == codes[6]
    assert len({codes[0], codes[1], codes[2], codes[3]}) == 4
    by_code = {int(codes[i]): keys[codes[i]][0] for i in range(len(s))}
    assert by_code[int(codes[0])] == (t0, 1.0) and by_code[int(codes[1])] is None
    assert by_code[int(codes[2])] == (None, None)
    nan_key = by_code[int(codes[3])]
    assert nan_key[0] == t0 and nan_key[1] != nan_key[1]
    assert by_code[int(codes[0])][0].utcoffset() == dt.timedelta(0)


def _window_frames(spark, files):
    """The fixture rows with a 1-hour ``F.window`` struct column ``w``, and
    the same groups as flat ``start`` / ``end`` columns."""
    df = spark.read.parquet(*files).withColumn("w", F.window("g_ts", "1 hour"))
    flat = df.select(F.col("w.start").alias("start"), F.col("w.end").alias("end"), "v")
    return df, flat


def test_window_group_column_through_every_python_fold(spark, timestamp_group_files):
    """A ``F.window`` struct group column, and a struct with NULL rows,
    goes through ``sketch_partials`` -> ``merge_sketches`` ->
    ``hg64_quantiles`` and both ``hg64_agg`` tiers under a non-UTC session
    time zone, with the blobs and answers of the same groups as flat
    columns."""
    df, flat = _window_frames(spark, timestamp_group_files)

    def by_window(rows):
        return {(r["w"]["start"], r["w"]["end"]): bytes(r["sketch"]) for r in rows}

    want = {
        (r["start"], r["end"]): bytes(r["sketch"])
        for r in agg.hg64_agg(flat, "v", ["start", "end"], method="arrow").collect()
    }
    assert len(want) == 3  # the NULL timestamps drop out of F.window
    merged = agg.merge_sketches(agg.sketch_partials(df, "v", ["w"], HG64), ["w"], HG64.deserialize)
    assert by_window(merged.collect()) == want
    assert by_window(agg.hg64_agg(df, "v", ["w"]).collect()) == want
    assert by_window(agg.hg64_agg(df, "v", ["w"], method="arrow").collect()) == want
    qs = [0.5, 0.9]
    got_q = {
        (r["w"]["start"], r["q"]): r["value"]
        for r in agg.hg64_quantiles(merged, ["w"], qs).collect()
    }
    flat_q = agg.hg64_quantiles(agg.hg64_agg(flat, "v", ["start", "end"]), ["start", "end"], qs)
    assert got_q == {(r["start"], r["q"]): r["value"] for r in flat_q.collect()}

    # a struct that is NULL on every third row; its fields can be NULL too
    df = spark.read.parquet(*timestamp_group_files).withColumn(
        "s",
        F.when(F.col("v") % 3 == 0, F.lit(None)).otherwise(
            F.struct(F.col("g_ts").alias("a"), F.col("g_ntz").alias("b"))
        ),
    )
    flat = df.select(
        F.col("s").isNull().alias("s_null"), F.col("s.a").alias("a"), F.col("s.b").alias("b"), "v"
    )
    want_s = {
        (None if r["s_null"] else (r["a"], r["b"])): bytes(r["sketch"])
        for r in agg.hg64_agg(flat, "v", ["s_null", "a", "b"], method="arrow").collect()
    }
    assert None in want_s and (None, None) in want_s and len(want_s) == 6
    for method in ("relational", "arrow"):
        got_s = {
            (None if r["s"] is None else (r["s"]["a"], r["s"]["b"])): bytes(r["sketch"])
            for r in agg.hg64_agg(df, "v", ["s"], method=method).collect()
        }
        assert got_s == want_s, method
