"""Spark session set-up, library shipping, memory sampling and CPU pinning.

Everything the benchmark writes (Spark local dirs, temp files, the shipped
library zip, inputs, sketch state) stays under one work directory inside the
checkout.
"""

from __future__ import annotations

import os
import sys
import threading
import time
import zipfile

CORES = 4


def prepare_process_env(work: str) -> None:
    """Point temp files of this process, the JVM and the Python workers into
    the work directory.  Must run before the first session starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # takes precedence over spark.local.dir, including a value set outside
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable


def make_session(work: str, cores: int = CORES):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"perfbench-local{cores}")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def zip_library(root: str, dest: str) -> str:
    """Zip the ``hg64spark`` package for ``SparkContext.addPyFile``, the way
    ``spark-submit --py-files`` ships it to executors."""
    pkg = os.path.join(root, "hg64spark")
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        for d, _, files in os.walk(pkg):
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    zf.write(p, os.path.relpath(p, root))
    return dest


def warm_up(spark) -> None:
    """First use: boot the Python workers and import the library there
    through one Arrow UDF stage and one grouped-pandas stage."""
    from pyspark.sql import functions as F

    from hg64spark import agg

    df = spark.range(4096, numPartitions=CORES).withColumn("g", F.col("id") % 4)
    rows = agg.hg64_agg(df, "id", ["g"], method="arrow").collect()
    if len(rows) != 4:
        raise RuntimeError(f"warm-up returned {len(rows)} groups, expected 4")


def set_up(root: str, work: str, cycle: int, cores: int = CORES):
    """One set-up: session start, library shipped, first-use warm-up.
    Returns (session, seconds)."""
    t0 = time.perf_counter()
    spark = make_session(work, cores)
    zpath = zip_library(root, os.path.join(work, f"hg64spark-{cycle}.zip"))
    spark.sparkContext.addPyFile(zpath)
    warm_up(spark)
    return spark, time.perf_counter() - t0


def shutdown_jvm(timeout_s: float = 60.0) -> None:
    """Stop the JVM the first session launched and wait until it and every
    process it started (Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    children = _descendants(os.getpid())[1:]
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin pipe closes
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    for pid in children:
        while time.monotonic() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)


# ------------------------------------------------------------------ memory


def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_rss_bytes() -> int:
    """Summed resident set of this process and all its descendants (the
    driver JVM and every Python worker), read from ``/proc``."""
    total = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's RSS on a background thread; ``peak`` is
    the largest sum seen between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


# ---------------------------------------------------------------- pinning


def pin_tree_to_cpu(cpu: int = 0) -> None:
    """Pin every thread of this process and its descendants (the JVM, any
    Python workers) to one CPU, as ``taskset -a -p`` does.  Threads and
    processes started later inherit the mask from their pinned creator."""
    for pid in _descendants(os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), {cpu})
            except OSError:
                continue
