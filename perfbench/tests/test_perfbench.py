"""Tests of the benchmark itself (not of the library it measures).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, layers, stats  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import env

    work = str(tmp_path_factory.mktemp("work"))
    env.prepare_process_env(work)
    session = env.make_session(work, cores=2)
    yield session
    session.stop()


# ------------------------------------------------------------------ names


def test_metric_names_match_pattern_and_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = [m["name"] for m in bench["end_to_end"]]
    per_layer = [m["name"] for m in bench["per_layer"]]
    for name in e2e + per_layer + [w["name"] for w in bench["workloads"]]:
        assert NAME.fullmatch(name), name
    assert len(set(e2e + per_layer)) == len(e2e) + len(per_layer)
    assert sorted(per_layer) == sorted(layers.per_layer_names())
    assert sorted(e2e) == ["job_s_p50", "job_s_tail", "rows_per_s", "setup_s"]
    # tool_rollup stays runnable by hand and is probed by every traced run
    assert {w["name"] for w in bench["workloads"]} == {"per_conversation", "incremental_ingest"}


# ------------------------------------------------------------------ tail


def test_tail_has_exactly_ten_samples_beyond():
    xs = list(range(1, 41))  # 40 samples
    t = stats.tail(xs)
    assert t["value"] == 30 and t["beyond"] == 10
    assert sum(1 for x in xs if x > t["value"]) == 10
    assert t["pct"] == pytest.approx(75.0)


def test_tail_is_highest_such_percentile():
    xs = [float(x) for x in np.random.default_rng(1).permutation(100)]
    t = stats.tail(xs)
    beyond = sum(1 for x in xs if x > t["value"])
    assert beyond == 10
    # any larger sample has fewer than ten beyond it
    assert all(sum(1 for x in xs if x > y) < 10 for y in xs if y > t["value"])


def test_tail_falls_back_to_median_below_twenty_samples():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    t = stats.tail(xs)
    assert t["value"] == 3.0 and t["pct"] == 50.0 and t["beyond"] == 2
    assert stats.tail([float(x) for x in range(20)])["beyond"] == 10


# ---------------------------------------------------------------- tracing


def test_self_time_subtracts_union_of_children():
    tr = Tracer(True)
    tr.spans = [
        {"id": 0, "name": "job", "parent": None, "job": 0, "start": 0.0, "end": 10.0, "counters": {}},
        {"id": 1, "name": "a", "parent": 0, "job": 0, "start": 1.0, "end": 4.0, "counters": {}},
        {"id": 2, "name": "b", "parent": 0, "job": 0, "start": 3.0, "end": 5.0, "counters": {}},
        {"id": 3, "name": "c", "parent": 0, "job": 0, "start": 7.0, "end": 8.0, "counters": {}},
    ]
    selfs = tr.self_times()
    assert selfs[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert selfs[1] == pytest.approx(3.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x") as c:
        c["k"] = 1
    assert tr.spans == []


def test_plan_walker_finds_map_in_arrow_python_bytes(spark):
    from pyspark.sql import functions as F

    from hg64spark import agg
    from hg64spark.hg64 import HG64
    from perfbench.tracing import plan_metrics

    df = spark.range(20_000, numPartitions=2).withColumn("g", F.col("id") % 3)
    partials = agg.sketch_partials(df, "id", ["g"], HG64)
    assert partials.collect()
    nodes = plan_metrics(partials)
    arrow = [vals for name, vals in nodes if name == "MapInArrow"]
    assert arrow, [name for name, _ in nodes]
    assert arrow[0]["pythonDataSent"] > 0


# ----------------------------------------------------------------- inputs


def test_turn_limits_hit_the_exact_total_in_balanced_files():
    rng = np.random.default_rng(7)
    for _ in range(20):
        u = rng.integers(0, 1_000_000, inputs.N_GEN_CONVS) / 1e6
        sizes = np.minimum(np.ceil(6.0 / np.power(1 - u + 1e-9, 1 / 1.16)), 100_000).astype(np.int64)
        keep = inputs.turn_limits(sizes)
        assert int(keep.sum()) == inputs.N_TURNS
        assert len(keep) >= inputs.N_CONVS
        assert (keep >= 1).all() and (keep <= sizes[: len(keep)]).all()
        loads = np.bincount(inputs.assign_files(keep), weights=keep, minlength=inputs.N_FILES)
        assert loads.sum() == inputs.N_TURNS
        assert loads.max() - loads.min() <= keep.max()


def _part_bytes(d: str) -> list[bytes]:
    out = []
    for f in sorted(glob.glob(os.path.join(d, "part-*.parquet"))):
        with open(f, "rb") as fh:
            out.append(fh.read())
    return out


def test_same_seed_gives_byte_identical_inputs(spark, tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    inputs.generate(spark, 5, a)
    inputs.generate(spark, 5, b)
    inputs.generate(spark, 6, c)
    assert _part_bytes(a) == _part_bytes(b)
    assert _part_bytes(a) != _part_bytes(c)
    rows = spark.read.parquet(a).count()
    assert rows == inputs.N_TURNS
