"""Smoke test of the spark-submit job ``jobs/transcript_quantiles.py``.

The job runs as a subprocess because its ``main()`` stops its Spark session.
Its output parquet must equal ``agg.hg64_quantiles`` over the same input,
and a checkpointed re-run over unchanged input must process no file."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from hg64spark import agg, transcripts

ROOT = Path(__file__).resolve().parent.parent
QS = [0.5, 0.9, 0.99]


def _run_job(*args: str) -> dict:
    # what spark-submit would pass: a small local master and shuffle width
    submit = "--master local[2] --conf spark.sql.shuffle.partitions=4 --conf spark.ui.enabled=false"
    env = {**os.environ, "PYTHONPATH": str(ROOT), "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell"}
    proc = subprocess.run(
        [sys.executable, str(ROOT / "jobs" / "transcript_quantiles.py"), *args],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _rows(df) -> list[tuple]:
    return sorted((r["tool"], r["q"], r["value"]) for r in df.collect())


def _expected(t) -> list[tuple]:
    lat = transcripts.with_latency(t.select("conv_id", "turn_idx", "tool", "ts"))
    return _rows(agg.hg64_quantiles(agg.hg64_agg(lat, "latency_us", ["tool"], 5), ["tool"], QS))


def test_synthetic_run_matches_library(spark, tmp_path):
    out = str(tmp_path / "out")
    report = _run_job("--synthetic-convs", "200", "--output", out)
    want = _expected(transcripts.synthetic_transcripts(spark, n_convs=200, seed=42))
    assert report["rows_out"] == len(want) > 0 and report["files_processed"] == -1
    assert _rows(spark.read.parquet(out)) == want


def test_checkpointed_rerun_processes_nothing(spark, tmp_path):
    src = str(tmp_path / "in")
    # each conversation lives in one file, as the job's --checkpoint requires
    t = transcripts.synthetic_transcripts(spark, n_convs=60, seed=7)
    t.repartition(2, "conv_id").write.parquet(src)
    want = _expected(spark.read.parquet(src))
    args = ["--input", src, "--checkpoint", str(tmp_path / "ckpt")]
    first = _run_job(*args, "--output", str(tmp_path / "out1"))
    second = _run_job(*args, "--output", str(tmp_path / "out2"))
    assert first["files_processed"] == 2 and second["files_processed"] == 0
    for out in ("out1", "out2"):
        assert _rows(spark.read.parquet(str(tmp_path / out))) == want
