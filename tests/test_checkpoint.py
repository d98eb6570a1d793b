"""Checkpoint/resume: killed-job replay semantics — only unfinished files are
reprocessed, and the resumed result is identical to a single-shot job."""

import glob
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from hg64spark import agg
from hg64spark.checkpoint import CheckpointedSketchAgg
from hg64spark.hg64 import HG64

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def split_files(spark, tmp_path):
    """Split events into 4 separate single-file parquet 'partitions'."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_type", F.floor(F.col("value") * 1000).cast("long").alias("v")
    )
    files = []
    for i in range(4):
        d = str(tmp_path / f"chunk{i}")
        ev.filter(F.col("v") % 4 == i).coalesce(1).write.parquet(d)
        files.append(glob.glob(f"{d}/part-*.parquet")[0])
    return files


def test_resume_processes_only_unfinished(spark, tmp_path, split_files):
    ck = CheckpointedSketchAgg(str(tmp_path / "ckpt"), "v", ["event_type"])

    # first run "dies" after two files
    first = ck.process(spark, split_files[:2])
    assert len(first) == 2
    assert ck.done_files(spark) == {os.path.abspath(f) for f in split_files[:2]}

    # resume with the full file list -> only the missing two are processed
    second = ck.process(spark, split_files)
    assert sorted(second) == sorted(os.path.abspath(f) for f in split_files[2:])

    # idempotent: a third call does nothing
    assert ck.process(spark, split_files) == []

    # merged result identical to a single-shot aggregation over all files
    resumed = {
        r["event_type"]: HG64.deserialize(r["sketch"])
        for r in ck.result(spark).collect()
    }
    direct_df = spark.read.parquet(*split_files)
    direct = {
        r["event_type"]: HG64.deserialize(r["sketch"])
        for r in agg.hg64_agg(direct_df, "v", ["event_type"], 5).collect()
    }
    assert resumed == direct


def test_uncommitted_run_invisible(spark, tmp_path, split_files):
    ck = CheckpointedSketchAgg(str(tmp_path / "ckpt"), "v", [])
    ck.process(spark, split_files[:1])
    # simulate a killed job: a run directory without _SUCCESS
    dead = tmp_path / "ckpt" / "run=deadbeef"
    dead.mkdir()
    (dead / "part-00000.parquet").write_bytes(b"garbage")
    assert ck.done_files(spark) == {os.path.abspath(split_files[0])}


def test_metrics_lineage(spark, tmp_path, split_files):
    ck = CheckpointedSketchAgg(str(tmp_path / "ckpt"), "v", [])
    ck.process(spark, split_files)
    m = ck.metrics(spark).collect()
    from hg64spark.checkpoint import _norm_file

    files_seen = {_norm_file(r["lineage_file"]) for r in m}
    nonempty = {
        os.path.abspath(f)
        for f in split_files
        if spark.read.parquet(f).count() > 0
    }
    assert files_seen == nonempty  # metrics rows exist for every ingesting file
    total_rows = sum(r["m_rows"] for r in m)
    assert total_rows == spark.read.parquet(*split_files).count()
    assert all(r["m_ns_per_row"] > 0 and r["m_sketch_bytes"] > 0 for r in m)


def test_derive_hook(spark, tmp_path, split_files):
    ck = CheckpointedSketchAgg(str(tmp_path / "ckpt"), "v2", [])
    ck.process(spark, split_files, derive=lambda df: df.select((F.col("v") * 2).alias("v2")))
    sk = HG64.deserialize(ck.result(spark).collect()[0]["sketch"])
    direct = spark.read.parquet(*split_files).select((F.col("v") * 2).alias("v2")).toPandas()
    local = HG64(5).add_values(direct["v2"].to_numpy().astype(np.uint64))
    assert sk == local


def test_lineage_survives_shuffling_derive(spark, tmp_path, split_files):
    """Regression: input_file_name() returns '' after a derive's exchange;
    lineage must be attached per file BEFORE deriving.  Uses a groupBy derive
    (the turn-count shape)."""
    ck = CheckpointedSketchAgg(str(tmp_path / "ckpt"), "n", [])
    ck.process(
        spark,
        split_files,
        derive=lambda df: df.groupBy("event_type").agg(F.count("*").alias("n")),
    )
    m = ck.metrics(spark).collect()
    assert m, "no metrics rows"
    from hg64spark.checkpoint import _norm_file

    files_seen = {_norm_file(r["lineage_file"]) for r in m}
    assert "" not in files_seen
    nonempty = {os.path.abspath(f) for f in split_files if spark.read.parquet(f).count() > 0}
    assert files_seen == nonempty


def test_state_reads_launch_no_spark_job(spark, tmp_path, split_files, spark_jobs):
    """done_files, result() and metrics() read committed state on the
    driver; a committed run is one data file plus _SUCCESS, and process()
    infers its input schema once per call, not once per file."""
    ck = CheckpointedSketchAgg(str(tmp_path / "ckpt"), "v", ["event_type"])
    ck.process(spark, split_files[:2])
    ck.process(spark, split_files[2:])
    with spark_jobs() as ids:
        done = ck.done_files(spark)
        rows = ck.result(spark).collect()
        lineage = ck.metrics(spark)
        lineage_rows = lineage.collect()
    assert ids == []
    assert done == {os.path.abspath(f) for f in split_files} and rows and lineage_rows
    with spark_jobs() as control:  # the probe sees jobs when there are some
        spark.read.parquet(*split_files).count()
    assert control
    runs = ck._committed_runs()
    assert len(runs) == 2
    assert all(sorted(os.listdir(r)) == ["_SUCCESS", "part-00000.parquet"] for r in runs)
    spark_read = (
        spark.read.parquet(*runs)
        .filter(~F.col("is_marker"))
        .select("lineage_file", "event_type", "m_rows", "m_ns_per_row", "m_sketch_bytes")
    )
    assert lineage.schema == spark_read.schema
    assert sorted(lineage_rows) == sorted(spark_read.collect())

    jobs = []
    for name, files in (("one", split_files[:1]), ("four", split_files)):
        fresh = CheckpointedSketchAgg(str(tmp_path / name), "v", ["event_type"])
        with spark_jobs() as ids:
            fresh.process(spark, files)
        jobs.append(len(ids))
    assert jobs[0] == jobs[1] and jobs[0] > 0


class _Killed(Exception):
    pass


def test_process_killed_before_success_replays_its_files(spark, tmp_path, split_files, monkeypatch):
    """process() killed after its data file is written but before _SUCCESS:
    the run is invisible to done_files and result(), and the next process()
    replays exactly that run's files."""
    import pyarrow.parquet as pq

    ck = CheckpointedSketchAgg(str(tmp_path / "ckpt"), "v", ["event_type"])
    ck.process(spark, split_files[:2])
    want = {r["event_type"]: bytes(r["sketch"]) for r in ck.result(spark).collect()}
    real_write = pq.write_table

    def write_then_die(*a, **kw):
        real_write(*a, **kw)
        raise _Killed

    with monkeypatch.context() as m:
        m.setattr(pq, "write_table", write_then_die)
        with pytest.raises(_Killed):
            ck.process(spark, split_files)
    (killed,) = {d for d in os.listdir(tmp_path / "ckpt") if d.startswith("run=")} - {
        os.path.basename(r) for r in ck._committed_runs()
    }
    assert os.listdir(tmp_path / "ckpt" / killed) == ["part-00000.parquet"]
    assert ck.done_files(spark) == {os.path.abspath(f) for f in split_files[:2]}
    assert {r["event_type"]: bytes(r["sketch"]) for r in ck.result(spark).collect()} == want

    replayed = ck.process(spark, split_files)
    assert replayed == [os.path.abspath(f) for f in split_files[2:]]
    got = {r["event_type"]: bytes(r["sketch"]) for r in ck.result(spark).collect()}
    direct = agg.hg64_agg(spark.read.parquet(*split_files), "v", ["event_type"], 5)
    assert got == {r["event_type"]: bytes(r["sketch"]) for r in direct.collect()}


@pytest.mark.parametrize(
    "fixture, groups",
    [("mixed_group_files", ["g_long", "g_dbl"]), ("timestamp_group_files", ["g_ts", "g_ntz"])],
)
def test_spark_written_run_mixes_with_driver_written_runs(
    spark, tmp_path, request, fixture, groups
):
    """A run Spark's parquet writer committed (the state format before
    process() wrote on the driver: many part files, footer schema) and
    driver-written runs in one checkpoint: done_files counts the old run,
    and result() is byte- and schema-equal to agg.merge_sketches over all
    committed partials, under a non-UTC session time zone for timestamps."""
    files = request.getfixturevalue(fixture)
    ck = CheckpointedSketchAgg(str(tmp_path / "ckpt"), "v", groups)
    old = spark.read.parquet(files[0]).select(*groups, "v").withColumn(
        "lineage_file", F.lit(os.path.abspath(files[0]))
    )
    # "legacy" sorts after every hex run id, so a driver-written file's
    # schema is the one statefiles.read starts from
    agg.sketch_partials(old, "v", [*groups, "lineage_file"], HG64, with_metrics=True).withColumn(
        "is_marker", F.lit(False)
    ).repartition(3).write.parquet(str(tmp_path / "ckpt" / "run=legacy"))
    ck.process(spark, files[1:2])
    assert ck.process(spark, files) == [os.path.abspath(f) for f in files[2:]]
    assert ck.done_files(spark) == {os.path.abspath(f) for f in files}
    runs = ck._committed_runs()
    assert runs[-1].endswith("run=legacy") and len(runs) == len(files)
    got = ck.result(spark)
    partials = spark.read.parquet(*runs).filter(~F.col("is_marker")).select(*groups, "sketch")
    want = agg.merge_sketches(partials, groups, HG64.deserialize)
    assert got.schema == want.schema
    got_rows = _by_group(got.collect(), groups)
    assert got_rows == _by_group(want.collect(), groups)
    source = spark.read.parquet(*files).select(*groups).distinct().collect()
    assert len(got_rows) == len(source)


def test_result_ignores_uncommitted_run(spark, tmp_path, split_files):
    """A killed job's run= dir (no _SUCCESS, garbage contents) is invisible
    to result(), not only to done_files."""
    ck = CheckpointedSketchAgg(str(tmp_path / "ckpt"), "v", ["event_type"])
    ck.process(spark, split_files[:2])
    want = {r["event_type"]: bytes(r["sketch"]) for r in ck.result(spark).collect()}
    dead = tmp_path / "ckpt" / "run=deadbeef"
    dead.mkdir()
    (dead / "part-00000.parquet").write_bytes(b"garbage")
    got = {r["event_type"]: bytes(r["sketch"]) for r in ck.result(spark).collect()}
    assert got == want


def _by_group(rows, group_cols):
    # NaN != NaN, so key NaN groups by a stand-in to compare two answers
    def norm(v):
        return "NaN" if isinstance(v, float) and v != v else v

    out = {}
    for r in rows:
        key = tuple(norm(r[c]) for c in group_cols)
        assert key not in out, f"group {key} emitted twice"
        out[key] = bytes(r["sketch"])
    return out


@pytest.mark.parametrize("family", ["hg64", "kll"])
def test_driver_merge_matches_spark_merge(spark, tmp_path, mixed_group_files, family):
    """result() is byte-identical to agg.merge_sketches over the same
    committed partials, with the same schema — over NULL, NaN, -0.0 and
    long group keys, for hg64 and for order-sensitive KLL."""
    from pyspark.sql.types import BinaryType

    from hg64spark.sketches import KLL

    # an explicit KLL seed: a data-derived one mixes in the Spark partition
    # id of the task that merges, so it differs between executor and driver
    make, deser = (
        (HG64, HG64.deserialize) if family == "hg64" else (lambda: KLL(16, seed=7), KLL.deserialize)
    )
    groups = ["g_long", "g_dbl"]
    ck = CheckpointedSketchAgg(str(tmp_path / "ckpt"), "v", groups, make, deser)
    ck.process(spark, mixed_group_files[:2])
    ck.process(spark, mixed_group_files)
    got = ck.result(spark)
    partials = (
        spark.read.parquet(*ck._committed_runs())
        .filter(~F.col("is_marker"))
        .select(*groups, "sketch")
    )
    want = agg.merge_sketches(partials, groups, deser)
    assert got.schema == want.schema
    assert got.schema["sketch"].dataType == BinaryType() and not got.schema["sketch"].nullable
    got_rows, want_rows = _by_group(got.collect(), groups), _by_group(want.collect(), groups)
    assert got_rows == want_rows
    # NULL, NaN and the 0.0 that -0.0 joins are groups of their own
    assert {(None, "NaN"), (7, None), (None, None), (2**53 + 1, 0.0)} <= set(got_rows)
    assert len(got_rows) == 7


def test_driver_merge_keeps_timestamp_groups(spark, tmp_path, timestamp_group_files):
    """TIMESTAMP and TIMESTAMP_NTZ group keys come out of result() with
    their exact values and types under a non-UTC session time zone: byte-
    and schema-identical to agg.merge_sketches over the same partials."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    groups = ["g_ts", "g_ntz"]
    ck = CheckpointedSketchAgg(str(tmp_path / "ckpt"), "v", groups)
    ck.process(spark, timestamp_group_files[:1])
    ck.process(spark, timestamp_group_files)
    got = ck.result(spark)
    partials = (
        spark.read.parquet(*ck._committed_runs())
        .filter(~F.col("is_marker"))
        .select(*groups, "sketch")
    )
    want = agg.merge_sketches(partials, groups, HG64.deserialize)
    assert got.schema == want.schema
    assert [f.dataType for f in got.schema.fields[:2]] == [TimestampType(), TimestampNTZType()]
    got_rows = _by_group(got.collect(), groups)
    assert got_rows == _by_group(want.collect(), groups)
    source = spark.read.parquet(*timestamp_group_files).select(*groups).distinct().collect()
    assert set(got_rows) == {tuple(r) for r in source} and len(got_rows) == 5


def test_window_group_column_result(spark, tmp_path, timestamp_group_files):
    """A ``F.window`` struct group column added by ``derive`` survives the
    committed runs and result() under a non-UTC session time zone, with the
    blobs of the same groups as flat (start, end) columns."""
    ck = CheckpointedSketchAgg(str(tmp_path / "ckpt"), "v", ["w"])
    derive = lambda d: d.withColumn("w", F.window("g_ts", "1 hour"))  # noqa: E731
    ck.process(spark, timestamp_group_files[:1], derive=derive)
    ck.process(spark, timestamp_group_files, derive=derive)
    got = {(r["w"]["start"], r["w"]["end"]): bytes(r["sketch"]) for r in ck.result(spark).collect()}
    flat = derive(spark.read.parquet(*timestamp_group_files)).select("w.start", "w.end", "v")
    want = {
        (r["start"], r["end"]): bytes(r["sketch"])
        for r in agg.hg64_agg(flat, "v", ["start", "end"]).collect()
    }
    assert got == want and len(want) == 3
