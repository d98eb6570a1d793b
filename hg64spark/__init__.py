"""hg64spark — a PySpark-native mergeable sketch / approximate-aggregation library.

Built from scratch around the bucket scheme of fanf2/hg64 (a 64-bit log-linear
histogram: 6-bit exponent + configurable mantissa bits), re-expressed as
vectorized numpy kernels driven by Spark's DataFrame API:

    partial sketch per partition (mapInArrow)
      -> shuffle of tiny serialized sketches, grouped by key
      -> associative integer merge (applyInArrow)
      -> finalize a whole Arrow batch of sketches at once (mapInArrow)

Companion mergeable sketches (HLL, count-min, KLL, Bloom) share one serialized
envelope (`serde.py`) and the same merge contract.

Reference semantics: /root/reference/hg64.{c,h} (fanf2/hg64, MPL-2.0).  This is
not a port — no code is shared; file:line citations in docstrings point at the
behavior each piece reproduces.
"""

import os as _os


def _disable_dataframe_debugging() -> None:
    """Turn off PySpark's per-call call-site capture unless the caller asks
    for it (HG64SPARK_DF_DEBUG=1).

    Spark 4's ``spark.python.sql.dataFrameDebugging.enabled`` (default on)
    wraps every DataFrame/Column API call with a stack inspection plus two
    extra py4j round trips (a conf read and a PySparkCurrentOrigin.set) so
    error messages can cite user code lines.  For query *builders* that is
    pure overhead — building the plans of one per_conversation request
    (transcripts, latency window, per-conversation hg64 and its quantiles,
    per-tool KLL partials and merge) took 0.28 s with it and 0.24 s without
    (median of 30 builds, 4-vCPU box).  The conf is STATIC (settable only
    at session creation, so out of reach of library code and of harnesses
    that own the session); PySpark resolves it once into
    ``pyspark.errors.utils._enable_debugging_cache``, which is the
    documented-by-source single gate, so seeding that cache is exactly equivalent to launching the
    session with the conf off.  Scale-independent: this is driver-side
    plan-construction cost, identical on a laptop and a 1000-node cluster."""
    if _os.environ.get("HG64SPARK_DF_DEBUG") == "1":
        return
    try:
        from pyspark.errors import utils as _peu

        if getattr(_peu, "_enable_debugging_cache", None) is None:
            _peu._enable_debugging_cache = False
    except (ImportError, AttributeError):  # future pyspark: degrade to default
        pass


_disable_dataframe_debugging()


def _guard_zip_rereads() -> None:
    """In a PySpark worker, let a zipimporter re-read its archive's
    directory only when the archive changed.

    PySpark's ``worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` at the start of every task, and that
    calls ``invalidate_caches`` on every zipimporter in
    ``sys.path_importer_cache``.  On CPython 3.11 each such call re-reads
    the whole zip directory (``zipimport.py:329``); a reused worker holds
    one zipimporter per sub-package it imported from ``pyspark.zip``
    (1,328 entries), so every task paid 0.18-0.34 s of CPU on a 4-vCPU box
    before touching data.  What the re-read costs depends on the Python
    version: another version may read lazily and gain little here.

    The replacement stats the archive and re-reads only when
    ``(st_dev, st_ino, st_size, st_mtime_ns)`` differs from the value
    recorded at that importer's last re-read; if the ``stat`` fails or
    nothing is recorded yet, it re-reads as before.  So it only skips a
    re-read that would have found no change (short of a rewrite that keeps
    all four values).  The first tasks in each
    worker still pay: the one that imports this package (the guard is not
    installed yet when its caches are invalidated) and the next one, which
    records each archive's state.

    Runs at import and acts only inside a worker (``TaskContext.get()`` is
    set); every worker body of this package lives in a module under it, so
    importing it is what installs the guard.  Installing twice wraps once;
    the driver's ``zipimporter`` is left as it is."""
    try:
        from pyspark import TaskContext
    except ImportError:
        return
    if TaskContext.get() is None:
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_hg64spark_guard", False):
        return

    def invalidate_caches(self) -> None:
        try:
            st = _os.stat(self.archive)
            state = (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            state = None
        if state is None or getattr(self, "_hg64spark_archive_state", None) != state:
            reread(self)
            self._hg64spark_archive_state = state

    invalidate_caches._hg64spark_guard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_guard_zip_rereads()

from hg64spark.hg64 import HG64  # noqa: E402
from hg64spark import keymath, serde  # noqa: E402

__all__ = ["HG64", "keymath", "serde"]
__version__ = "0.1.0"
