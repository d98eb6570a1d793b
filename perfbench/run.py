"""Benchmark of the hg64spark sketch library.

    python3 perfbench/run.py --workload <tool_rollup|per_conversation|incremental_ingest>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Starts a single-process ``local[4]`` Spark
session (several times, to time set-up), builds the seed's inputs and
oracle (untimed, cached under ``.perfbench_work/``), runs the workload as a
closed loop with one client for ``--seconds`` of whole rotations, checks
every result, and prints one JSON line as the last line of stdout.
``BENCHMARK.json`` lists per_conversation and incremental_ingest;
tool_rollup runs by hand and as a probe of every traced run.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` spends half the
time untraced and half traced, writes the spans to
``.perfbench_work/trace-<workload>-s<seed>.jsonl`` and reports the per-layer
metrics (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: set-ups timed per run; setup_s is their median
SETUP_CYCLES = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("tool_rollup", "per_conversation", "incremental_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Loop:
    """Closed loop over whole rotations of a workload's jobs."""

    def __init__(self, workload):
        self.w = workload
        self.next_job = 0
        self.times: list[float] = []
        self.rows: list[int] = []
        #: job index of each recorded time
        self.jobs: list[int] = []
        self.results: list[tuple[int, object]] = []
        self.failed = 0
        self.attempted = 0

    def run_one(self, record: bool = True, check: bool = True) -> float | None:
        """Run the next job; returns its seconds, or None if it raised.
        ``record`` keeps the time for the end-to-end metrics, ``check``
        keeps the result for checking."""
        i = self.next_job
        self.next_job += 1
        self.attempted += 1
        self.w.tracer.job_id = f"{self.w.name}/{i}"
        t0 = time.perf_counter()
        try:
            with self.w.tracer.span("job", workload=self.w.name):
                result = self.w.job(i)
        except Exception:
            self.failed += 1
            log(f"{self.w.name} job {i} raised:\n{traceback.format_exc()}")
            return None
        dt = time.perf_counter() - t0
        if record:
            self.times.append(dt)
            self.rows.append(self.w.rows(i))
            self.jobs.append(i)
        if check:
            self.results.append((i, result))
        return dt

    def warm_up(self) -> None:
        """Untimed, unchecked first jobs on one input file (code generation,
        JIT, lazy per-query state), then skip to the start of the next
        rotation."""
        self.w.warming = True
        try:
            for _ in range(self.w.warmup_jobs):
                self.run_one(record=False, check=False)
        finally:
            self.w.warming = False
        self.next_job = -(-self.next_job // self.w.round_size) * self.w.round_size

    def run(self, seconds: float, record: bool = True) -> list[float]:
        """Run whole rotations until ``seconds`` have passed (at least one);
        returns the job times."""
        start, times = time.perf_counter(), []
        while True:
            for _ in range(self.w.round_size):
                dt = self.run_one(record)
                if dt is not None:
                    times.append(dt)
            if time.perf_counter() - start >= seconds:
                return times

    def check(self) -> None:
        for i, result in self.results:
            errs = self.w.check(i, result)
            if errs:
                self.failed += 1
                log(f"job {i} wrong: {errs}")
        self.results = []

    @property
    def rows_per_s(self) -> float:
        return sum(self.rows) / sum(self.times)

    def rows_per_s_of(self, positions: range) -> float:
        """rows_per_s over the recorded jobs at these rotation positions."""
        keep = [k for k, i in enumerate(self.jobs) if i % self.w.round_size in positions]
        return sum(self.rows[k] for k in keep) / sum(self.times[k] for k in keep)


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(setup_times, loop: Loop) -> dict:
    from perfbench import stats

    tail = stats.tail(loop.times)
    log(
        f"jobs={len(loop.times)} tail=p{tail['pct']:.1f} beyond={tail['beyond']} "
        f"setups={[round(s, 3) for s in setup_times]}"
    )
    return {
        "setup_s": _metric(stats.median(setup_times), "s"),
        "job_s_p50": _metric(stats.median(loop.times), "s"),
        "job_s_tail": _metric(tail["value"], "s"),
        "rows_per_s": _metric(loop.rows_per_s, "1/s"),
    }


def resumability(wl, loop: Loop) -> None:
    if wl.name != "incremental_ingest":
        return
    loop.attempted += 1
    try:
        errs = wl.resumability_check()
    except Exception:
        errs = [traceback.format_exc()]
    if errs:
        loop.failed += 1
        log(f"resumability check failed: {errs}")


def traced_run(args, work: str, spark, data, wl, loop: Loop) -> dict:
    """Second half of a --trace 1 run: traced jobs, probes of the other
    workloads, checks, kernel timings, then the pinned local[1] pass."""
    from perfbench import layers, stats

    untraced_p50 = stats.median(loop.times)
    wl.tracer.enabled = True
    traced = loop.run(args.seconds / 2, record=False)
    runs = [(wl, loop)] + layers.run_probes(wl, Loop, log)
    wl.tracer.enabled = False
    wl.tracer.write(os.path.join(work, f"trace-{args.workload}-s{args.seed}.jsonl"))
    for w, lp in runs:
        lp.check()
        if lp is not loop:
            loop.attempted += lp.attempted
            loop.failed += lp.failed
    resumability(wl, loop)
    per_conv = next(w for w, _ in runs if w.name == "per_conversation")
    metrics = layers.span_metrics(wl.tracer, [c for w, _ in runs for c in w.counts])
    metrics.update(layers.kernel_metrics(per_conv))
    metrics["trace.overhead_frac"] = _metric(stats.median(traced) / untraced_p50 - 1.0, "ratio")
    metrics["hg64.quantile_relerr_max"] = _metric(max(w.relerr_max for w, _ in runs), "ratio")
    for w, _ in runs:
        w.close()
    spark.stop()
    lp1 = layers.scaling_pass(ROOT, work, type(wl), data, Loop)
    loop.attempted += lp1.attempted
    loop.failed += lp1.failed
    positions = range(layers.SCALING_JOBS)
    metrics["scaling_eff_1to4"] = _metric(
        loop.rows_per_s_of(positions) / (4.0 * lp1.rows_per_s_of(positions)), "ratio"
    )
    return metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hg64spark", "__init__.py")):
        log(f"no hg64spark package next to {HERE}; run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import env

    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    env.prepare_process_env(work)

    from perfbench import inputs, workloads
    from perfbench.tracing import Tracer

    t_start = time.perf_counter()

    def phase(name: str) -> None:
        log(f"{name} at {time.perf_counter() - t_start:.1f}s")

    setup_times, spark = [], None
    for cycle in range(SETUP_CYCLES):
        if spark is not None:
            spark.stop()
        spark, dt = env.set_up(ROOT, work, cycle)
        setup_times.append(dt)
    phase("set-up done")
    try:
        data = inputs.load_or_build(spark, args.seed, work)
        phase("inputs ready")
        wl = workloads.WORKLOADS[args.workload](spark, data, work, Tracer(False))
        loop = Loop(wl)
        loop.warm_up()
        phase("warm-up done")
        if args.trace:
            sampler = env.RssSampler()
            sampler.start()
            try:
                loop.run(args.seconds / 2)
            finally:
                sampler.stop()
            metrics = traced_run(args, work, spark, data, wl, loop)
            metrics["peak_rss_mb"] = _metric(sampler.peak / 2**20, "MB")
            spark = None  # the scaling pass stopped it
        else:
            loop.run(args.seconds)
            phase("measured")
            loop.check()
            resumability(wl, loop)
            wl.close()
            metrics = end_to_end(setup_times, loop)
        phase("checked")
    finally:
        if spark is not None:
            spark.stop()
        env.shutdown_jvm()
    print(
        json.dumps(
            {
                "correct": loop.failed == 0,
                "attempted": loop.attempted,
                "failed": loop.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
