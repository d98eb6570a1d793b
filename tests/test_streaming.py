"""Structured Streaming sketch aggregation: file-source stream, availableNow
trigger, incremental appends, compaction — result must equal the batch
pipeline over the same rows at every point."""

import glob

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from hg64spark import agg
from hg64spark.hg64 import HG64
from hg64spark.streaming import StreamingSketch

SF_DIR = "/root/testdata/sf0.001"

SCHEMA = StructType(
    [StructField("event_type", StringType()), StructField("v", LongType())]
)


@pytest.fixture()
def source(spark, tmp_path):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_type", F.floor(F.col("value") * 1000).cast("long").alias("v")
    )
    src = tmp_path / "src"
    for i in range(3):
        ev.filter(F.col("v") % 3 == i).coalesce(1).write.parquet(str(src / f"chunk{i}"))
    files = []
    for i in range(3):
        files.append(glob.glob(str(src / f"chunk{i}" / "part-*.parquet"))[0])
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    return ev, files, stream_dir


def _run_stream(spark, stream_dir, state_dir, ckpt_dir):
    ss = StreamingSketch(str(state_dir), "v", ["event_type"])
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
    )
    q = ss.start(stream, str(ckpt_dir), available_now=True)
    q.awaitTermination(300)
    return ss


def test_stream_equals_batch_and_is_incremental(spark, tmp_path, source):
    ev, files, stream_dir = source
    import shutil

    # first two chunks arrive
    shutil.copy(files[0], stream_dir / "f0.parquet")
    shutil.copy(files[1], stream_dir / "f1.parquet")
    ss = _run_stream(spark, stream_dir, tmp_path / "state", tmp_path / "ckpt")

    seen = spark.read.parquet(str(stream_dir / "f0.parquet"), str(stream_dir / "f1.parquet"))
    want = {
        r["event_type"]: HG64.deserialize(r["sketch"])
        for r in agg.hg64_agg(seen, "v", ["event_type"], 5, method="arrow").collect()
    }
    got = {r["event_type"]: HG64.deserialize(r["sketch"]) for r in ss.result(spark).collect()}
    assert got == want

    # the third chunk arrives later; restart picks up only the new file
    shutil.copy(files[2], stream_dir / "f2.parquet")
    ss = _run_stream(spark, stream_dir, tmp_path / "state", tmp_path / "ckpt")
    all_rows = spark.read.parquet(*[str(stream_dir / f"f{i}.parquet") for i in range(3)])
    want_all = {
        r["event_type"]: HG64.deserialize(r["sketch"])
        for r in agg.hg64_agg(all_rows, "v", ["event_type"], 5, method="arrow").collect()
    }
    got_all = {r["event_type"]: HG64.deserialize(r["sketch"]) for r in ss.result(spark).collect()}
    assert got_all == want_all

    # compaction preserves the result and shrinks state to one batch dir
    ss.compact(spark)
    got_c = {r["event_type"]: HG64.deserialize(r["sketch"]) for r in ss.result(spark).collect()}
    assert got_c == want_all
    assert len(ss._batch_dirs()) == 1


def test_stateful_operator_accumulates_across_batches(spark, tmp_path, source):
    """applyInPandasWithState keeps per-group sketch state in the streaming
    state store: after both micro-batches, the latest emitted sketch per
    group equals the batch pipeline over all rows seen."""
    import shutil

    from hg64spark.streaming import sketch_stream_stateful

    ev, files, stream_dir = source
    shutil.copy(files[0], stream_dir / "f0.parquet")
    shutil.copy(files[1], stream_dir / "f1.parquet")

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
    )
    updated = sketch_stream_stateful(stream, "v", ["event_type"])
    q = (
        updated.writeStream.format("memory")
        .queryName("stateful_sketches")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "st_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    rows = spark.sql(
        "SELECT * FROM (SELECT event_type, sketch, row_number() OVER "
        "(PARTITION BY event_type ORDER BY monotonically_increasing_id() DESC) rn "
        "FROM stateful_sketches) WHERE rn = 1"
    ).collect()
    got = {r["event_type"]: HG64.deserialize(bytes(r["sketch"])) for r in rows}

    seen = spark.read.parquet(str(stream_dir / "f0.parquet"), str(stream_dir / "f1.parquet"))
    want = {
        r["event_type"]: HG64.deserialize(r["sketch"])
        for r in agg.hg64_agg(seen, "v", ["event_type"], 5, method="arrow").collect()
    }
    assert got == want


def test_compaction_crash_window_does_not_double_count(spark, tmp_path, source):
    """Regression: a compacted dir becoming visible before the originals are
    removed must not double-count.  Simulate the crash by restoring a consumed
    batch dir after compact() (as if rmtree never ran): the manifest's
    tombstones keep it invisible."""
    import shutil

    ev, files, stream_dir = source
    shutil.copy(files[0], stream_dir / "f0.parquet")
    shutil.copy(files[1], stream_dir / "f1.parquet")
    ss = _run_stream(spark, stream_dir, tmp_path / "state", tmp_path / "ckpt")
    want = {r["event_type"]: HG64.deserialize(r["sketch"]) for r in ss.result(spark).collect()}

    # snapshot a batch dir, compact, then "resurrect" it (crash-before-cleanup)
    batch_dirs = ss._batch_dirs()
    saved = tmp_path / "saved_batch"
    shutil.copytree(batch_dirs[0], saved)
    ss.compact(spark)
    shutil.copytree(saved, batch_dirs[0])

    got = {r["event_type"]: HG64.deserialize(r["sketch"]) for r in ss.result(spark).collect()}
    assert got == want  # resurrected dir is tombstoned, not double-counted


def test_windowed_watermark_drops_late_rows_and_emits_final_counts(spark, tmp_path):
    """Watermarked event-time windows: (a) a window's keyed counts are
    emitted exactly once (append mode) when the watermark passes its end and
    match the batch hg64 bucketing of the on-time rows; (b) a row arriving
    later than the watermark is DROPPED, not retro-added (the state-eviction
    semantics that bound state over an unbounded stream).  The watermark is
    recovered from the checkpoint across the two availableNow runs."""
    import datetime

    import numpy as np

    from hg64spark import keymath as km
    from hg64spark.streaming import windowed_hg64_counts

    src = tmp_path / "wsrc"
    src.mkdir()
    ckpt = str(tmp_path / "wckpt")
    schema = StructType(
        [StructField("ts", __import__("pyspark.sql.types", fromlist=["TimestampType"]).TimestampType()),
         StructField("v", LongType())]
    )

    def ts(sec):
        return datetime.datetime(2026, 1, 1, 0, 0, 0) + datetime.timedelta(seconds=sec)

    out_dir = str(tmp_path / "wout")

    def run(prev_rows):
        # file sink, not memory: only file-based sinks support resuming from
        # the checkpoint (which this test needs to carry the watermark across
        # the two availableNow runs); emissions accumulate, so each run's new
        # rows are all-rows minus the previous run's
        stream = spark.readStream.schema(schema).parquet(str(src))
        counts = windowed_hg64_counts(stream, "ts", "v", window_duration="10 seconds",
                                      watermark_delay="10 seconds", sigbits=5)
        flat = counts.select(F.col("window.start").alias("wstart"), "hg64_key", "count")
        q = (flat.writeStream.outputMode("append").format("parquet")
             .option("path", out_dir).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        rows = [(r["wstart"], r["hg64_key"], r["count"]) for r in spark.read.parquet(out_dir).collect()]
        new = list(rows)
        for r in prev_rows:
            new.remove(r)
        return rows, new

    # run 1: on-time rows in window [10,20) plus a far-future row that pushes
    # the watermark to 100-10=90s, closing (and emitting) the first window
    on_time = [11, 13, 13, 17, 19]
    spark.createDataFrame([(ts(s), s * 100) for s in on_time] + [(ts(100), 42)], schema) \
        .coalesce(1).write.mode("append").parquet(str(src))
    all1, rows1 = run([])
    got1 = {(w.second + w.minute * 60, k): c for w, k, c in rows1}
    keys = km.value_to_key(np.array([s * 100 for s in on_time], dtype=np.uint64), 5)
    want1 = {}
    for k in keys.tolist():
        want1[(10, int(k))] = want1.get((10, int(k)), 0) + 1
    assert got1 == want1, (got1, want1)

    # run 2: a late row for the closed window (12s < watermark 90s -> must be
    # dropped) plus a pusher that closes the [100,110) window
    spark.createDataFrame([(ts(12), 1200), (ts(300), 7)], schema) \
        .coalesce(1).write.mode("append").parquet(str(src))
    _, rows2 = run(all1)
    starts2 = {w.second + w.minute * 60 for w, _, _ in rows2}
    assert 10 not in starts2, f"late row retro-opened a closed window: {rows2}"
    # the [100,110) window (the run-1 pusher) is finalized in run 2 with count 1
    assert (100 in starts2) and sum(c for w, _, c in rows2 if w.second + w.minute * 60 == 100) == 1


def test_watermarked_dedup_bounds_state_and_drops_late_duplicates(spark, tmp_path):
    """Watermarked streaming dedup (withWatermark + dropDuplicates over
    [key, ts]): (a) in-batch duplicates are emitted once; (b) across a
    checkpoint restart the watermark is recovered and a LATE duplicate is
    dropped — load-bearing, because its state row was already evicted
    (ts < watermark), so without the late-drop it would re-emit as new;
    (c) an on-time new key still passes."""
    import datetime

    from pyspark.sql.types import StringType, TimestampType

    from hg64spark.streaming import dedup_stream_watermarked

    src = tmp_path / "ddsrc"
    src.mkdir()
    ckpt = str(tmp_path / "ddckpt")
    out_dir = str(tmp_path / "ddout")
    schema = StructType([StructField("ts", TimestampType()), StructField("k", StringType())])

    def ts(sec):
        return datetime.datetime(2026, 1, 1, 0, 0, 0) + datetime.timedelta(seconds=sec)

    def run(prev_rows):
        stream = spark.readStream.schema(schema).parquet(str(src))
        dd = dedup_stream_watermarked(stream, ["k"], "ts", watermark_delay="10 seconds")
        q = (dd.select("k", "ts").writeStream.outputMode("append").format("parquet")
             .option("path", out_dir).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        rows = [(r["k"], r["ts"].second + r["ts"].minute * 60)
                for r in spark.read.parquet(out_dir).collect()]
        new = list(rows)
        for r in prev_rows:
            new.remove(r)
        return rows, new

    # run 1: k1@11 twice (in-batch dup) + a pusher k2@100 -> watermark 90s
    spark.createDataFrame([(ts(11), "k1"), (ts(11), "k1"), (ts(100), "k2")], schema) \
        .coalesce(1).write.mode("append").parquet(str(src))
    all1, new1 = run([])
    assert sorted(new1) == [("k1", 11), ("k2", 100)], new1

    # run 2: k1@11 again — late (11 < 90) AND state-evicted: must NOT
    # re-emit; k2@100 duplicate with live state: dropped by dedup; k3@95
    # on-time new key: emitted
    spark.createDataFrame([(ts(11), "k1"), (ts(100), "k2"), (ts(95), "k3")], schema) \
        .coalesce(1).write.mode("append").parquet(str(src))
    _, new2 = run(all1)
    assert sorted(new2) == [("k3", 95)], new2


def test_stateful_operator_is_sketch_generic_mg_across_batches(spark, tmp_path):
    """sketch_stream_stateful's make_sketch/deserialize contract hosts a
    COMPANION sketch unchanged: MG heavy-hitter state accumulated across
    two micro-batches equals the one-shot batch MG fold (exact here since
    k exceeds the distinct items)."""
    import shutil

    from hg64spark.sketches import MG
    from hg64spark.streaming import sketch_stream_stateful
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [StructField("event_type", StringType()), StructField("uid", StringType())]
    )
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").filter(
        F.col("user_id").isNotNull()
    ).select("event_type", F.col("user_id").cast("string").alias("uid"))
    src = tmp_path / "mg_src"
    for i in range(2):
        ev.filter(F.crc32(F.col("uid")) % 2 == i).coalesce(1).write.parquet(
            str(src / f"chunk{i}")
        )
    stream_dir = tmp_path / "mg_stream"
    stream_dir.mkdir()
    for i in range(2):
        shutil.copy(
            glob.glob(str(src / f"chunk{i}" / "part-*.parquet"))[0],
            stream_dir / f"f{i}.parquet",
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
    )
    updated = sketch_stream_stateful(
        stream, "uid", ["event_type"],
        make_sketch=lambda: MG(1024), deserialize=MG.deserialize,
    )
    q = (
        updated.writeStream.format("memory")
        .queryName("mg_stateful")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "mg_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # pick the CUMULATIVE emission per group by max n (each batch's sketch
    # strictly grows), not by memory-table scan order — which is not a
    # guaranteed batch ordering (the production gate asserts single-batch
    # for the same reason)
    rows = spark.table("mg_stateful").select("event_type", "sketch").collect()
    spark.catalog.dropTempView("mg_stateful")
    got = {}
    for r in rows:
        mg = MG.deserialize(bytes(r["sketch"]))
        if r["event_type"] not in got or mg.n > got[r["event_type"]].n:
            got[r["event_type"]] = mg

    want = {}
    for et, pdf in (
        spark.read.parquet(str(stream_dir)).toPandas().groupby("event_type")
    ):
        mg = MG(1024)
        mg.add_values(pdf["uid"].to_numpy())
        want[et] = mg
    assert set(got) == set(want)
    for et in want:
        assert got[et].top() == want[et].top(), et


def _rows(df, group_cols=("event_type",)):
    return {tuple(r[c] for c in group_cols): bytes(r["sketch"]) for r in df.collect()}


def test_state_reads_launch_no_spark_job(spark, tmp_path, source, spark_jobs):
    """result() and compact() read and merge committed state on the driver."""
    import shutil

    ev, files, stream_dir = source
    for i in range(3):
        shutil.copy(files[i], stream_dir / f"f{i}.parquet")
    ss = _run_stream(spark, stream_dir, tmp_path / "state", tmp_path / "ckpt")
    with spark_jobs() as ids:
        before = _rows(ss.result(spark))
        ss.compact(spark)
        after = _rows(ss.result(spark))
    assert ids == []
    assert before == after and before
    assert len(ss._batch_dirs()) == 1


@pytest.mark.parametrize("family", ["hg64", "kll"])
def test_driver_merge_matches_spark_merge(spark, tmp_path, mixed_group_files, family):
    """result() is byte-identical to agg.merge_sketches over the same
    committed partials (Spark-written batches and a driver-written
    compaction), with the same schema, over NULL, NaN, -0.0 and long keys."""
    from pyspark.sql.types import BinaryType

    from hg64spark.sketches import KLL

    # an explicit KLL seed: a data-derived one mixes in the Spark partition
    # id of the task that merges, so it differs between executor and driver
    make, deser = (
        (HG64, HG64.deserialize) if family == "hg64" else (lambda: KLL(16, seed=7), KLL.deserialize)
    )
    groups = ("g_long", "g_dbl")
    ss = StreamingSketch(str(tmp_path / "state"), "v", groups, make, deser)
    parts = [spark.read.parquet(f) for f in mixed_group_files]
    ss.foreach_batch(parts[0], 0)
    ss.foreach_batch(parts[1], 1)
    ss.compact(spark)
    ss.foreach_batch(parts[2], 2)
    got = ss.result(spark)
    want = agg.merge_sketches(spark.read.parquet(*ss._batch_dirs()), list(groups), deser)
    assert got.schema == want.schema
    assert got.schema["sketch"].dataType == BinaryType() and not got.schema["sketch"].nullable

    def keyed(df):
        return {
            tuple("NaN" if isinstance(k, float) and k != k else k for k in key): blob
            for key, blob in _rows(df, groups).items()
        }

    got_rows = keyed(got)
    assert got_rows == keyed(want)
    assert len(got_rows) == got.count() == 7


def test_driver_merge_keeps_timestamp_groups(spark, tmp_path, timestamp_group_files):
    """TIMESTAMP and TIMESTAMP_NTZ group keys survive result() and a
    driver-written compaction with their exact values and types under a
    non-UTC session time zone; Spark reads the compacted file with the
    same types."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    groups = ("g_ts", "g_ntz")
    ss = StreamingSketch(str(tmp_path / "state"), "v", groups)
    parts = [spark.read.parquet(f) for f in timestamp_group_files]
    ss.foreach_batch(parts[0], 0)
    ss.foreach_batch(parts[1], 1)
    ss.compact(spark)
    ss.foreach_batch(parts[0], 2)
    got = ss.result(spark)
    types = [TimestampType(), TimestampNTZType()]
    assert [f.dataType for f in got.schema.fields[:2]] == types
    compacted = spark.read.parquet(ss._batch_dirs()[0])
    assert [f.dataType for f in compacted.schema.fields[:2]] == types
    want = agg.merge_sketches(spark.read.parquet(*ss._batch_dirs()), list(groups), HG64.deserialize)
    assert got.schema == want.schema
    got_rows = _rows(got, groups)
    assert got_rows == _rows(want, groups)
    source = spark.read.parquet(*timestamp_group_files).select(*groups).distinct().collect()
    assert set(got_rows) == {tuple(r) for r in source} and len(got_rows) == 5


class _Killed(Exception):
    pass


def test_compaction_crash_before_commit_keeps_result(spark, tmp_path, source, monkeypatch):
    """compact() killed after writing its data file — before the compacted
    dir's _SUCCESS, or after it but before the manifest replace — leaves
    result() unchanged, and a later compact() still succeeds."""
    import os
    import shutil

    import pyarrow.parquet as pq

    ev, files, stream_dir = source
    for i in range(3):
        shutil.copy(files[i], stream_dir / f"f{i}.parquet")
    ss = _run_stream(spark, stream_dir, tmp_path / "state", tmp_path / "ckpt")
    want = _rows(ss.result(spark))
    dirs = ss._batch_dirs()
    assert len(dirs) == 3

    real_write = pq.write_table

    def write_then_die(*a, **kw):
        real_write(*a, **kw)
        raise _Killed

    def die(*a, **kw):
        raise _Killed

    for patch in ((pq, "write_table", write_then_die), (os, "replace", die)):
        with monkeypatch.context() as m:
            m.setattr(*patch)
            with pytest.raises(_Killed):
                ss.compact(spark)
        assert ss._batch_dirs() == dirs
        assert _rows(ss.result(spark)) == want
    stray = sorted(d for d in os.listdir(tmp_path / "state") if d.startswith("compacted="))
    assert len(stray) == 2  # one without _SUCCESS, one committed but never in the manifest

    ss.compact(spark)
    assert len(ss._batch_dirs()) == 1
    assert _rows(ss.result(spark)) == want
