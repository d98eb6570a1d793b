import contextlib
import datetime as dt
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("hg64spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def spark_jobs(spark):
    """``with spark_jobs() as ids:`` runs the block under a fresh Spark job
    group; on exit ``ids`` holds the ids of the jobs the block launched."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def probe():
        gid = f"probe-{uuid.uuid4().hex}"
        ids: list[int] = []
        sc.setJobGroup(gid, gid)
        try:
            yield ids
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            ids.extend(sc.statusTracker().getJobIdsForGroup(gid))

    return probe


@pytest.fixture()
def mixed_group_files(spark, tmp_path):
    """Three single-file parquet parts of (g_long long, g_dbl double, v long)
    whose group keys include NULL, NaN, -0.0/0.0 and longs past 2^53."""
    big = 2**53 + 1
    keys = [(big, 1.5), (big, float("nan")), (None, float("nan")), (7, None), (None, None),
            (big, -0.0), (big, 0.0), (-3, 1.5)]
    files = []
    for part in range(3):
        rows = [
            (g_long, g_dbl, (part * 1000 + i * 37 + j * 11) % 5000)
            for i, (g_long, g_dbl) in enumerate(keys)
            for j in range(20 + part * 5)
        ]
        d = str(tmp_path / f"mixed{part}")
        spark.createDataFrame(rows, "g_long long, g_dbl double, v long").coalesce(1).write.parquet(d)
        files.append(next(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")))
    return files


@pytest.fixture()
def timestamp_group_files(spark, tmp_path):
    """Two single-file parquet parts of (g_ts timestamp, g_ntz timestamp_ntz,
    v long) with NULL, sub-second and past-2262 keys, written (and read by
    the test) under a non-UTC session time zone, restored afterwards."""
    keys = [
        (dt.datetime(2024, 7, 1, 12, 34, 56, 789012), dt.datetime(2024, 7, 1, 12, 34, 56, 789012)),
        (None, dt.datetime(2000, 1, 1)),
        (dt.datetime(2500, 1, 1), None),
        (dt.datetime(1900, 1, 1, 0, 0, 1), dt.datetime(1900, 1, 1)),
        (None, None),
    ]
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        files = []
        for part in range(2):
            rows = [(ts, ntz, part * 100 + i * 7 + j) for i, (ts, ntz) in enumerate(keys) for j in range(5)]
            d = str(tmp_path / f"ts{part}")
            spark.createDataFrame(rows, "g_ts timestamp, g_ntz timestamp_ntz, v long").coalesce(
                1
            ).write.parquet(d)
            files.append(next(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")))
        yield files
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
