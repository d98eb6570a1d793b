"""The traced run: per-layer metrics from spans, executed-plan counters,
driver-side kernel timings and the pinned ``local[1]`` scaling pass.

Every per-layer metric is reported on every workload.  A traced run first
runs its own workload traced, then one traced rotation of each other
workload (a short one for incremental_ingest), so layers its own jobs never
call are still measured on this run's inputs.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench import env, inputs as inp, micro

#: per-layer metric -> (kind, span name or prefix, counter, unit)
#: kinds: "self" = median self time of the named spans;
#:        "sum" = per job, the counter summed over spans whose name starts
#:                with the prefix, then the median over jobs that have any;
#:        "max" = largest per-job state count
SPAN_METRICS = {
    "transcripts.with_latency.s": ("self", "transcripts.with_latency", None, "s"),
    "transcripts.shuffle_bytes": ("sum", "transcripts.", "shuffle_bytes", "B"),
    "relational.hg64_counts.s": ("self", "relational.hg64_counts", None, "s"),
    "relational.hg64_counts.rows_out": ("sum", "relational.hg64_counts", "rows_out", "count"),
    "relational.hll_agg.s": ("self", "relational.hll_agg", None, "s"),
    "relational.cms_agg.s": ("self", "relational.cms_agg", None, "s"),
    "relational.bloom_agg.s": ("self", "relational.bloom_agg", None, "s"),
    "relational.quantiles_relational.s": ("self", "relational.quantiles_relational", None, "s"),
    "relational.shuffle_bytes": ("sum", "relational.", "shuffle_bytes", "B"),
    "agg.sketch_partials.s": ("self", "agg.sketch_partials", None, "s"),
    "agg.merge_sketches.s": ("self", "agg.merge_sketches", None, "s"),
    "agg.hg64_quantiles.s": ("self", "agg.hg64_quantiles", None, "s"),
    "agg.python_bytes_sent": ("sum", "agg.", "python_bytes_sent", "B"),
    "agg.python_rows_received": ("sum", "agg.", "python_rows_received", "count"),
    "checkpoint.process.s": ("self", "checkpoint.process", None, "s"),
    "checkpoint.done_files.s": ("self", "checkpoint.done_files", None, "s"),
    "checkpoint.result.s": ("self", "checkpoint.result", None, "s"),
    "checkpoint.runs": ("max", None, "checkpoint_runs", "count"),
    "checkpoint.state_bytes": ("max", None, "checkpoint_state_bytes", "B"),
    "streaming.foreach_batch.s": ("self", "streaming.foreach_batch", None, "s"),
    "streaming.result.s": ("self", "streaming.result", None, "s"),
    "streaming.compact.s": ("self", "streaming.compact", None, "s"),
    "streaming.batch_dirs": ("max", None, "streaming_batch_dirs", "count"),
    "streaming.state_bytes": ("max", None, "streaming_state_bytes", "B"),
}

KERNEL_UNITS = {
    "hg64.add_values_ns": "ns",
    "hg64.merge_us": "us",
    "hg64.serialize_us": "us",
    "hg64.deserialize_us": "us",
    "hg64.snapshot_us": "us",
    "hg64.value_at_quantile_us": "us",
    "keymath.value_to_key_ns": "ns",
    "serde.sketch_bytes_p50": "B",
    "sketches.kll.add_values_ns": "ns",
    "sketches.kll.merge_us": "us",
}

#: per-layer metrics computed outside SPAN_METRICS and KERNEL_UNITS
OTHER_METRICS = (
    "agg.hg64_fold.s",
    "agg.python_time_s",
    "agg.finalize_groups",
    "hg64.quantile_relerr_max",
    "trace.overhead_frac",
    "scaling_eff_1to4",
    "peak_rss_mb",
)


def per_layer_names() -> list[str]:
    return [*SPAN_METRICS, *KERNEL_UNITS, *OTHER_METRICS]


#: rotation positions the pinned local[1] pass runs (each once)
SCALING_JOBS = 2

#: probe rotations run for workloads other than the run's own
PROBE_JOBS = {"tool_rollup": 1, "per_conversation": 1, "incremental_ingest": 2}


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def span_metrics(tracer, counts: list[dict]) -> dict[str, dict]:
    selfs = tracer.self_times()
    by_job: dict = defaultdict(list)
    for s in tracer.spans:
        by_job[s["job"]].append(s)
    out = {}
    for name, (kind, target, counter, unit) in SPAN_METRICS.items():
        if kind == "self":
            value = _median([selfs[s["id"]] for s in tracer.spans if s["name"] == target])
        elif kind == "sum":
            per_job = [
                sum(s["counters"].get(counter, 0) for s in spans if s["name"].startswith(target))
                for spans in by_job.values()
                if any(s["name"].startswith(target) for s in spans)
            ]
            value = _median(per_job)
        else:
            value = float(max((c[counter] for c in counts), default=0))
        out[name] = {"value": float(value), "unit": unit}

    # fold = the hg64_agg span minus its sibling hg64_counts span over the
    # same forced input, per job
    folds, python_s, groups = [], [], []
    for spans in by_job.values():
        agg_s = [selfs[s["id"]] for s in spans if s["name"] == "agg.hg64_agg"]
        cnt_s = [selfs[s["id"]] for s in spans if s["name"] == "relational.hg64_counts"]
        if agg_s and cnt_s:
            folds.append(sum(agg_s) - sum(cnt_s))
        aggs = [s for s in spans if s["name"].startswith("agg.")]
        if aggs:
            python_s.append(sum(s["counters"].get("python_time_ms", 0) for s in aggs) / 1e3)
        groups += [s["counters"]["groups"] for s in spans if s["counters"].get("groups")]
    out["agg.hg64_fold.s"] = {"value": _median(folds), "unit": "s"}
    out["agg.python_time_s"] = {"value": _median(python_s), "unit": "s"}
    out["agg.finalize_groups"] = {"value": _median(groups), "unit": "count"}
    return out


def run_probes(workload, loop_cls, log) -> list:
    """PROBE_JOBS traced jobs of every other workload on the same session
    and inputs; returns (workload, loop) pairs."""
    from perfbench.workloads import WORKLOADS

    out = []
    for name, cls in WORKLOADS.items():
        if name == workload.name:
            continue
        w = cls(workload.spark, workload.data, workload.work, workload.tracer)
        lp = loop_cls(w)
        for _ in range(PROBE_JOBS[name]):
            lp.run_one(record=False)
        out.append((w, lp))
        log(f"probe {name}: {lp.attempted} jobs, {lp.failed} raised")
    return out


def kernel_metrics(per_conv) -> dict[str, dict]:
    values = inp.latency_values(inp.shard_files(per_conv.data.files, 0))
    timings = micro.kernel_timings(per_conv.last_blobs, per_conv.last_kll, values)
    return {k: {"value": float(v), "unit": KERNEL_UNITS[k]} for k, v in timings.items()}


def scaling_pass(root: str, work: str, cls, data, loop_cls):
    """The first SCALING_JOBS rotation positions of the workload on a
    ``local[1]`` session with the whole process tree pinned to one CPU
    (``taskset`` semantics), after one untimed job.  Returns the loop."""
    from perfbench.tracing import Tracer

    env.pin_tree_to_cpu(0)
    spark, _ = env.set_up(root, work, cycle=99, cores=1)
    try:
        w = cls(spark, data, work, Tracer(False))
        lp = loop_cls(w)
        lp.warm_up()
        for _ in range(min(SCALING_JOBS, w.round_size)):
            lp.run_one()
        lp.check()
        w.close()
        return lp
    finally:
        spark.stop()
