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


def test_window_group_column_result(spark, tmp_path, timestamp_group_files):
    """A ``F.window`` struct group column survives micro-batch partials, a
    driver-written compaction and result() under a non-UTC session time
    zone, with the blobs of the same groups as flat (start, end) columns."""
    parts = [
        spark.read.parquet(f).withColumn("w", F.window("g_ts", "1 hour"))
        for f in timestamp_group_files
    ]
    ss = StreamingSketch(str(tmp_path / "state"), "v", ["w"])
    ss.foreach_batch(parts[0], 0)
    ss.foreach_batch(parts[1], 1)
    ss.compact(spark)
    ss.foreach_batch(parts[0], 2)
    got = {(r["w"]["start"], r["w"]["end"]): bytes(r["sketch"]) for r in ss.result(spark).collect()}
    flat = parts[0].unionAll(parts[1]).unionAll(parts[0]).select("w.start", "w.end", "v")
    want = {
        (r["start"], r["end"]): bytes(r["sketch"])
        for r in agg.hg64_agg(flat, "v", ["start", "end"]).collect()
    }
    assert got == want and len(want) == 3


def _nan_keyed(df, group_cols):
    # NaN != NaN, so key NaN groups by a stand-in to compare two answers
    return {
        tuple("NaN" if isinstance(k, float) and k != k else k for k in key): blob
        for key, blob in _rows(df, group_cols).items()
    }


def test_redelivered_batch_replaces_its_partials(spark, tmp_path, mixed_group_files, monkeypatch):
    """foreach_batch re-delivered for a batch id with different content
    (after a crash mid-rewrite, or over a Spark-written batch of the older
    state format): only the last content counts, and a rewrite killed
    before its _SUCCESS leaves the batch invisible."""
    import os

    import pyarrow.parquet as pq

    groups = ["g_long", "g_dbl"]
    ss = StreamingSketch(str(tmp_path / "state"), "v", groups)
    parts = [spark.read.parquet(f) for f in mixed_group_files]
    ss.foreach_batch(parts[0], 0)
    agg.sketch_partials(parts[1], "v", groups, HG64).repartition(3).write.parquet(
        str(tmp_path / "state" / "batch=1")
    )
    assert len(ss._batch_dirs()) == 2

    def die(*a, **kw):
        raise _Killed

    with monkeypatch.context() as m:
        m.setattr(pq, "write_table", die)
        with pytest.raises(_Killed):
            ss.foreach_batch(parts[2], 1)
    assert [os.path.basename(d) for d in ss._batch_dirs()] == ["batch=0"]
    only_first = agg.hg64_agg(parts[0], "v", groups)
    assert _nan_keyed(ss.result(spark), groups) == _nan_keyed(only_first, groups)

    ss.foreach_batch(parts[2], 1)
    assert sorted(os.listdir(tmp_path / "state" / "batch=1")) == ["_SUCCESS", "part-00000.parquet"]
    want = agg.hg64_agg(parts[0].unionAll(parts[2]), "v", groups)
    assert _nan_keyed(ss.result(spark), groups) == _nan_keyed(want, groups)


@pytest.mark.parametrize(
    "fixture, groups",
    [("mixed_group_files", ["g_long", "g_dbl"]), ("timestamp_group_files", ["g_ts", "g_ntz"])],
)
def test_spark_written_batch_mixes_with_driver_written_batches(
    spark, tmp_path, request, fixture, groups
):
    """A batch Spark's parquet writer committed (the state format before
    foreach_batch wrote on the driver, with its footer schema) before and
    after driver-written batches and a compaction: result() is byte- and
    schema-equal to agg.merge_sketches over the same committed partials."""
    parts = [spark.read.parquet(f) for f in request.getfixturevalue(fixture)]
    ss = StreamingSketch(str(tmp_path / "state"), "v", groups)

    def spark_written(df, batch_id):
        agg.sketch_partials(df, "v", groups, HG64).repartition(1).write.parquet(
            str(tmp_path / "state" / f"batch={batch_id}")
        )

    spark_written(parts[0], 0)
    ss.foreach_batch(parts[1], 1)
    ss.compact(spark)
    ss.foreach_batch(parts[0], 2)
    spark_written(parts[1], 3)
    got = ss.result(spark)
    want = agg.merge_sketches(spark.read.parquet(*ss._batch_dirs()), groups, HG64.deserialize)
    assert got.schema == want.schema
    got_rows = _nan_keyed(got, groups)
    assert got_rows == _nan_keyed(want, groups)
    assert len(got_rows) == parts[0].unionAll(parts[1]).select(*groups).distinct().count()
