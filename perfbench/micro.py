"""Driver-side timings of the sketch kernels' public calls, run on a
workload's own result blobs and input values (traced runs only)."""

from __future__ import annotations

import statistics
import time

import numpy as np

from hg64spark import keymath
from hg64spark.hg64 import HG64
from hg64spark.sketches.kll import KLL

from perfbench import inputs as inp

#: each timing repeats its call batch until this much time has passed
MIN_TIME_S = 0.05


def _per_call(fn, calls: int) -> float:
    """Seconds per call: ``fn`` makes ``calls`` calls per invocation."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        elapsed = time.perf_counter() - t0
        if elapsed >= MIN_TIME_S:
            return elapsed / (reps * calls)


def kernel_timings(blobs: list[bytes], kll_blobs: list[bytes], values: np.ndarray) -> dict[str, float]:
    """hg64 / keymath / serde / KLL costs per call (``_us``) or per value
    (``_ns``) on the given per-group hg64 blobs, KLL blobs and raw values."""
    sketches = [HG64.deserialize(b) for b in blobs]
    snaps = [s.snapshot() for s in sketches]
    qs = np.asarray(inp.CONV_QS)
    u64 = values.astype(np.uint64)
    f64 = values.astype(np.float64)
    klls = [KLL.deserialize(b) for b in kll_blobs]

    def merge_all():
        acc = HG64(inp.SIGBITS)
        for s in sketches:
            acc.merge(s)

    def kll_merge_all():
        acc = KLL.deserialize(kll_blobs[0])
        for k in klls[1:]:
            acc.merge(k)

    n, nv = len(blobs), len(values)
    return {
        "hg64.add_values_ns": 1e9 * _per_call(lambda: HG64(inp.SIGBITS).add_values(values), nv),
        "hg64.merge_us": 1e6 * _per_call(merge_all, n),
        "hg64.serialize_us": 1e6 * _per_call(lambda: [s.serialize() for s in sketches], n),
        "hg64.deserialize_us": 1e6 * _per_call(lambda: [HG64.deserialize(b) for b in blobs], n),
        "hg64.snapshot_us": 1e6 * _per_call(lambda: [s.snapshot() for s in sketches], n),
        "hg64.value_at_quantile_us": 1e6 * _per_call(lambda: [s.value_at_quantile(qs) for s in snaps], n),
        "keymath.value_to_key_ns": 1e9 * _per_call(lambda: keymath.value_to_key(u64, inp.SIGBITS), nv),
        "serde.sketch_bytes_p50": float(statistics.median(len(b) for b in blobs)),
        "sketches.kll.add_values_ns": 1e9 * _per_call(lambda: KLL().add_values(f64), nv),
        "sketches.kll.merge_us": 1e6 * _per_call(kll_merge_all, max(len(klls) - 1, 1)),
    }
